package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tables.ManagedTable

/** The managed-table streaming sink (`format("graft")`): micro-batches
  * append through the idempotent-txn path (exactly-once under replay),
  * a missing table is created on the first batch, and the sink composes
  * with the graft-cdf source into an end-to-end incremental pipeline.
  */
class GraftSinkSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches land as txn appends; a replayed batch is a no-op") {
    implicit val sql = spark.sqlContext
    val loc = tmpDir("gsink1")
    val src = MemoryStream[Long]
    val q = src.toDF().select(col("value").as("k"), (col("value") * 2).as("v"))
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gsink1ckpt"))
      .option("txnAppId", "gsink1")
      .start(loc)
    try {
      src.addData(0L until 10L: _*)
      q.processAllAvailable()
      src.addData(10L until 15L: _*)
      q.processAllAvailable()
      val t = ManagedTable.forPath(spark, loc)
      assert(t.toDF.count() == 15)
      assert(t.history.filter(col("operation") === "STREAMING APPEND")
        .count() >= 1)

      // crash-replay: re-delivering an already-committed batch through a
      // fresh sink instance with the same appId must not duplicate rows
      val sink = new GraftSink(spark, loc, Nil, Some("gsink1"),
        mergeSchema = false)
      val replay = spark.range(5).select(col("id").as("k"), lit(0L).as("v"))
      sink.addBatch(0L, replay)
      assert(t.toDF.count() == 15, "replayed batch 0 must be an O(1) no-op")
    } finally q.stop()
  }

  test("restart from the checkpoint does not re-append") {
    implicit val sql = spark.sqlContext
    val loc = tmpDir("gsink2")
    val ckpt = tmpDir("gsink2ckpt")
    val src = MemoryStream[Long]
    def start() = src.toDF().select(col("value").as("k"))
      .writeStream.format("graft").option("checkpointLocation", ckpt)
      .start(loc)
    val q1 = start()
    try { src.addData(1L, 2L, 3L); q1.processAllAvailable() } finally q1.stop()
    assert(ManagedTable.forPath(spark, loc).toDF.count() == 3)
    val q2 = start()
    try {
      src.addData(4L, 5L)
      q2.processAllAvailable()
      assert(ManagedTable.forPath(spark, loc).toDF.as[Long].collect().sorted
        .toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    } finally q2.stop()
  }

  test("a stream column missing from the target schema fails loud " +
       "(no silent drop); mergeSchema widens instead") {
    val loc = tmpDir("gsink4")
    ManagedTable.create(
      spark.range(5).select(col("id").as("k")), loc)
    val sink = new GraftSink(spark, loc, Nil, Some("gsink4"),
      mergeSchema = false)
    val batch = spark.range(5).select(col("id").as("k"), lit(1L).as("v"))
    val e = intercept[IllegalStateException](sink.addBatch(0L, batch))
    assert(e.getMessage.contains("v") && e.getMessage.contains("mergeSchema"))
    val widening = new GraftSink(spark, loc, Nil, Some("gsink4"),
      mergeSchema = true)
    widening.addBatch(0L, batch)
    val t = ManagedTable.forPath(spark, loc)
    assert(t.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(t.toDF.count() == 10)
  }

  test("a stream column differing only in case lands in the table column") {
    val loc = tmpDir("gsink5")
    ManagedTable.create(
      spark.range(3).select(col("id").as("k"), lit(0L).as("v")), loc)
    val sink = new GraftSink(spark, loc, Nil, Some("gsink5"),
      mergeSchema = false)
    // guard admits K/V case-insensitively; append must resolve the same
    // way, not silently null-fill
    sink.addBatch(0L, spark.range(3)
      .select((col("id") + 10).as("K"), lit(7L).as("V")))
    val t = ManagedTable.forPath(spark, loc)
    assert(t.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(t.toDF.filter("k >= 10").count() == 3)
    assert(t.toDF.filter("v = 7").count() == 3,
      "case-flipped stream values must land, not null-fill")
    assert(t.toDF.filter("v IS NULL").count() == 0)
  }

  test("mid-stream addColumns: restart surfaces the new column end-to-end") {
    val srcLoc = tmpDir("gsink6src")
    val dstLoc = tmpDir("gsink6dst")
    val ckpt = tmpDir("gsink6ckpt")
    val t = ManagedTable.create(
      spark.range(5).select(col("id").as("k"), (col("id") * 2).as("v")),
      srcLoc, properties = Map(ManagedTable.cdfPropKey -> "true"))
    def start() = spark.readStream.format("graft-cdf").load(srcLoc)
      .filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version", "_commit_timestamp")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("mergeSchema", "true")
      .start(dstLoc)
    val q1 = start()
    try {
      t.append(Seq((100L, 1L)).toDF("k", "v"))
      q1.processAllAvailable()
    } finally q1.stop()

    // evolve the SOURCE table mid-stream, then append with the new column
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("tag",
      org.apache.spark.sql.types.StringType)))
    t.append(Seq((101L, 2L, "x")).toDF("k", "v", "tag"), mergeSchema = true)

    // the running-query contract pins the old shape; a RESTART surfaces
    // the evolved column (CdfStream getBatch projection) and the sink's
    // mergeSchema widens the mirror to carry it
    val q2 = start()
    try {
      t.append(Seq((102L, 3L, "y")).toDF("k", "v", "tag"), mergeSchema = true)
      q2.processAllAvailable()
    } finally q2.stop()

    val mirror = ManagedTable.forPath(spark, dstLoc)
    assert(mirror.schema.fieldNames.toSeq == Seq("k", "v", "tag"),
      "restart must widen the mirror with the evolved column")
    // rows mirrored BEFORE the restart predate the column -> null tag;
    // post-restart rows carry it
    val rows = mirror.toDF.orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    assert(rows.contains((100L, None)))
    assert(rows.contains((102L, Some("y"))))
  }

  test("graft-cdf source into graft sink: an incremental table mirror") {
    val srcLoc = tmpDir("gsink3src")
    val dstLoc = tmpDir("gsink3dst")
    val t = ManagedTable.create(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")),
      srcLoc, properties = Map(ManagedTable.cdfPropKey -> "true"))
    // mirror INSERTED rows with k >= 100 (appends-only downstream stage)
    val q = spark.readStream.format("graft-cdf").load(srcLoc)
      .filter(col("_change_type") === "insert" && col("k") >= 100)
      .drop("_change_type", "_commit_version", "_commit_timestamp")
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gsink3ckpt"))
      .start(dstLoc)
    try {
      t.append(Seq((100L, 0L), (101L, 1L)).toDF("k", "v"))
      t.append(Seq((102L, 2L), (3L, 3L)).toDF("k", "v")) // 3 filtered out
      q.processAllAvailable()
      val mirror = ManagedTable.forPath(spark, dstLoc)
      assert(mirror.toDF.select("k").as[Long].collect().sorted.toSeq ==
        Seq(100L, 101L, 102L))
    } finally q.stop()
  }

  test("mergeKeys: micro-batches UPSERT by key; a replayed batch is a no-op") {
    implicit val sql = spark.sqlContext
    val loc = tmpDir("gsinkm1")
    val src = MemoryStream[(Long, Long)]
    val q = src.toDF().select(col("_1").as("k"), col("_2").as("v"))
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gsinkm1ckpt"))
      .option("txnAppId", "gsinkm1")
      .option("mergeKeys", "k")
      .start(loc)
    try {
      src.addData((0L, 0L), (1L, 10L), (2L, 20L))
      q.processAllAvailable()
      src.addData((1L, 11L), (3L, 30L)) // update k=1, insert k=3
      q.processAllAvailable()
      val t = ManagedTable.forPath(spark, loc)
      val got = t.toDF.as[(Long, Long)].collect().sorted.toSeq
      assert(got == Seq((0L, 0L), (1L, 11L), (2L, 20L), (3L, 30L)),
        s"second batch upserts, not appends: $got")
      // crash-replay of a committed batch: the merge's txn marker makes
      // the whole merge an O(1) no-op
      val before = t.latestVersion
      val sink = new GraftSink(spark, loc, Nil, Some("gsinkm1"),
        mergeSchema = false, mergeKeys = Seq("k"))
      sink.addBatch(1L,
        spark.range(1).select(lit(1L).as("k"), lit(999L).as("v")))
      val t2 = ManagedTable.forPath(spark, loc)
      assert(t2.latestVersion == before, "replayed merge must not commit")
      assert(t2.toDF.filter(col("k") === 1).select("v").as[Long].head() == 11L)
    } finally q.stop()
  }

  test("mergeKeys: duplicate keys in one batch refuse loud without a " +
       "sequenceColumn, and resolve to the latest with one") {
    implicit val sql = spark.sqlContext
    val loc = tmpDir("gsinkm2")
    val sink = new GraftSink(spark, loc, Nil, Some("gsinkm2"),
      mergeSchema = false, mergeKeys = Seq("k"))
    val dup = Seq((1L, 1L, 5L), (1L, 2L, 9L), (2L, 1L, 7L))
      .toDF("k", "seq", "v")
    // the guard is fused into the merge pass (assert_true over a window
    // count), so it surfaces as Spark's user-raised runtime error
    val e = intercept[Exception](sink.addBatch(0L, dup))
    assert(e.getMessage.contains("sequenceColumn"), e.getMessage)
    assert(e.getMessage.contains("multiple rows"), e.getMessage)
    // a refused batch must not half-commit
    assert(!ManagedTable.exists(loc) ||
      ManagedTable.forPath(spark, loc).toDF.count() == 0)
    val seqSink = new GraftSink(spark, loc, Nil, Some("gsinkm2"),
      mergeSchema = false, mergeKeys = Seq("k"),
      sequenceColumn = Some("seq"))
    seqSink.addBatch(0L, dup)
    val got = ManagedTable.forPath(spark, loc).toDF
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 9L), (2L, 7L)), s"latest seq wins per key: $got")
  }

  test("the duplicate-key guard is fused into the merge pass: a merge " +
       "batch without a sequenceColumn costs no more Spark jobs than " +
       "one with it") {
    val locA = tmpDir("gsinkjobsA")
    val locB = tmpDir("gsinkjobsB")
    def seed(loc: String) = ManagedTable.create(
      Seq((1L, 0L, 10L)).toDF("k", "seq", "v"), loc)
    seed(locA); seed(locB)
    val batch = Seq((1L, 1L, 11L), (2L, 1L, 12L)).toDF("k", "seq", "v")
    val plain = new GraftSink(spark, locA, Nil, Some("gsinkjobsA"),
      mergeSchema = false, mergeKeys = Seq("k"))
    val seqed = new GraftSink(spark, locB, Nil, Some("gsinkjobsB"),
      mergeSchema = false, mergeKeys = Seq("k"),
      sequenceColumn = Some("seq"))
    val jobsPlain = countJobs(plain.addBatch(0L, batch))
    val jobsSeqed = countJobs(seqed.addBatch(0L, batch))
    assert(jobsPlain <= jobsSeqed,
      s"no-sequenceColumn guard must not cost a separate probe job: " +
        s"plain=$jobsPlain vs seq=$jobsSeqed")
    // both merged correctly
    Seq(locA, locB).foreach { loc =>
      val got = ManagedTable.forPath(spark, loc).toDF
        .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
      assert(got == Seq((1L, 11L), (2L, 12L)), s"$loc: $got")
    }
  }

  test("applyCdf property: a seeded random DML sequence replicates " +
       "exactly through capped micro-batches") {
    val rnd = new scala.util.Random(12345L)
    val srcLoc = tmpDir("gsinkprop-src")
    val mirror = tmpDir("gsinkprop-dst")
    val t = ManagedTable.create(
      spark.range(200).select(col("id").as("k"), (col("id") % 7).as("v")),
      srcLoc, properties = Map(ManagedTable.cdfPropKey -> "true"))
    var nextId = 1000L
    def randomOp(): Unit = rnd.nextInt(3) match {
      case 0 =>
        val n = 1 + rnd.nextInt(20)
        t.append(spark.range(nextId, nextId + n)
          .select(col("id").as("k"), (col("id") % 7).as("v")))
        nextId += n
      case 1 => t.delete(s"k % ${2 + rnd.nextInt(8)} = ${rnd.nextInt(2)}")
      case 2 => t.update(Map("v" -> s"v + ${1 + rnd.nextInt(5)}"),
        Some(s"k % ${2 + rnd.nextInt(6)} = 1"))
    }
    val q = spark.readStream.format("graft-cdf")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "2") // capped: multi-batch applies
      .load(srcLoc)
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gsinkprop-ckpt"))
      .option("txnAppId", "gsinkprop")
      .option("mergeKeys", "k").option("applyCdf", "true")
      .start(mirror)
    try {
      (1 to 4).foreach { round =>
        (1 to 3).foreach(_ => randomOp())
        q.processAllAvailable()
        val src = t.toDF.as[(Long, Long)].collect().sorted.toSeq
        val got = ManagedTable.forPath(spark, mirror).toDF
          .as[(Long, Long)].collect().sorted.toSeq
        assert(got == src,
          s"round $round: mirror diverged (${got.size} vs ${src.size} rows)")
      }
    } finally q.stop()
  }

  test("applyCdf: graft-cdf source into a merge sink REPLICATES the " +
       "table through DML, exactly-once across restart") {
    val srcLoc = tmpDir("gsinkcdc-src")
    val mirror = tmpDir("gsinkcdc-dst")
    val ckpt = tmpDir("gsinkcdc-ckpt")
    val t = ManagedTable.create(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")),
      srcLoc, properties = Map(ManagedTable.cdfPropKey -> "true"))
    def start() = spark.readStream.format("graft-cdf")
      .option("startingVersion", "0").load(srcLoc)
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("txnAppId", "gsinkcdc")
      .option("mergeKeys", "k")
      .option("applyCdf", "true")
      .start(mirror)
    t.delete("k < 10")                                     // v1
    t.update(Map("v" -> "v + 1"), Some("k BETWEEN 50 AND 52")) // v2
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    def snap(tab: ManagedTable) = tab.toDF
      .as[(Long, Long)].collect().sorted.toSeq
    assert(snap(ManagedTable.forPath(spark, mirror)) == snap(t),
      "mirror must equal the source table after create+delete+update")
    // more DML while the stream is down, then restart from the checkpoint
    t.append(spark.range(200, 203).select(col("id").as("k"),
      lit(0L).as("v")))                                    // v3
    t.delete("k = 50")                                     // v4
    t.update(Map("v" -> "v * 10"), Some("k = 202"))        // v5
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(ManagedTable.forPath(spark, mirror)) == snap(t),
      "restart applies only the new commits — replication stays exact")
    // delete-then-reinsert of one key across commits in ONE batch: the
    // latest change must win
    t.delete("k = 60")                                     // v6
    t.append(spark.range(60, 61).select(col("id").as("k"),
      lit(606L).as("v")))                                  // v7
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(snap(ManagedTable.forPath(spark, mirror)) == snap(t),
      "delete+reinsert in one batch resolves to the reinserted row")
  }

  test("applyCdf: an OVERWRITE's derived delete+insert pair at ONE " +
       "version nets to the insert — surviving keys are never dropped") {
    val srcLoc = tmpDir("gsinkow-src")
    val mirror = tmpDir("gsinkow-dst")
    val t = ManagedTable.create(
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")),
      srcLoc, properties = Map(ManagedTable.cdfPropKey -> "true"))
    // an overwrite carries no cdc sidecar: its change feed DERIVES from
    // the file diff, emitting delete (old files) AND insert (new files)
    // for every key live on both sides, all at the same _commit_version.
    // Keys 0..79 survive with new values, 80..99 drop, 100..109 are new.
    t.overwrite(spark.range(110).filter("id < 80 OR id >= 100")
      .select(col("id").as("k"), (col("id") * 3 + 1).as("v")))
    val q = spark.readStream.format("graft-cdf")
      .option("startingVersion", "0").load(srcLoc)
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gsinkow-ckpt"))
      .option("txnAppId", "gsinkow")
      .option("mergeKeys", "k").option("applyCdf", "true")
      .start(mirror)
    try q.processAllAvailable() finally q.stop()
    def snap(tab: ManagedTable) = tab.toDF
      .as[(Long, Long)].collect().sorted.toSeq
    val got = snap(ManagedTable.forPath(spark, mirror))
    assert(got == snap(t),
      s"with 80 surviving keys a delete-wins tie is ~certain to show: " +
        s"mirror has ${got.size} rows vs source ${t.toDF.count()}")
  }
}
