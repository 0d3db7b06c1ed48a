package graft.tables

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** File-level data skipping: per-file min/max stats in the log, filtered
  * scans that skip files, file-granular MERGE rewrite pruning, and
  * file-granular vacuum — the engine's version of Delta's `add.stats` /
  * find-touched-files machinery.
  */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pk", IntegerType),
    StructField("name", StringType),
    StructField("v", LongType)))

  /** Three disjoint pk ranges, one commit (→ at least one file) each. */
  private def rangedTable(loc: String): ManagedTable = {
    def rows(lo: Int, hi: Int) =
      (lo to hi).map(i => Row(i, s"n$i", i.toLong * 10))
    val t = ManagedTable.create(
      df(schema, rows(1, 100)).coalesce(1), loc)
    t.append(df(schema, rows(101, 200)).coalesce(1))
    t.append(df(schema, rows(201, 300)).coalesce(1))
    t
  }

  test("log entries carry per-file row counts and min/max bounds") {
    val t = rangedTable(tmpDir("fs"))
    val files = t.fileStats
    assert(files.size == 3)
    assert(files.map(_.rows).sum == 300)
    assert(files.forall(_.bytes > 0))
    val pkBounds = files.map(f => (f.min("pk").toLong, f.max("pk").toLong)).sorted
    assert(pkBounds == Seq((1L, 100L), (101L, 200L), (201L, 300L)))
    // string bounds too
    assert(files.forall(f => f.min.contains("name") && f.max.contains("name")))
  }

  test("toDFWhere skips files whose bounds cannot match; result is unchanged") {
    val t = rangedTable(tmpDir("fs2"))
    val full = t.toDF.filter(col("pk") >= 250).collect().toSet
    val pruned = t.toDFWhere("pk >= 250")
    assert(pruned.inputFiles.length == 1,
      s"expected 1 of 3 files read, got ${pruned.inputFiles.length}")
    assert(pruned.collect().toSet == full)
    // equality + IN prune too; a non-skippable predicate keeps all files
    assert(t.toDFWhere("pk = 150").inputFiles.length == 1)
    assert(t.toDFWhere("pk IN (50, 250)").inputFiles.length == 2)
    assert(t.toDFWhere("name = 'n150'").count() == 1)
    assert(t.toDFWhere("v % 2 = 0").inputFiles.length == 3)
  }

  test("MERGE on an unpartitioned table rewrites only stats-touched files") {
    val t = rangedTable(tmpDir("fs3"))
    val before = t.fileStats.map(_.path).toSet
    val updates = df(schema, Seq(Row(150, "updated", 0L), Row(999, "new", 1L)))
    Merge.into(t.toDF, "base")
      .using(updates, "src", expr("base.pk = src.pk"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute(t)
    assert(t.latestEntry.operation == "MERGE")
    val after = t.fileStats.map(_.path).toSet
    val survivors = before.intersect(after)
    assert(survivors.size == 2,
      s"the two untouched range files must be kept verbatim, got $survivors")
    // the touched file (101-200) was replaced
    val touched = before.diff(after)
    assert(touched.size == 1)
    // contents: update applied, insert landed, everything else untouched
    assert(t.toDF.count() == 301)
    assert(t.toDF.filter(col("pk") === 150).select("name").as[String].head() == "updated")
    assert(t.toDF.filter(col("pk") === 999).count() == 1)
    assert(t.toDF.filter(col("pk") === 42).select("name").as[String].head() == "n42")
  }

  test("MERGE on a partitioned table w/o partition bindings rewrites only stats-touched files") {
    // merge key (pk) is NOT a partition column: before file granularity
    // this was a FULL-TABLE overwrite; now only the files whose pk
    // bounds overlap the source keys rewrite, in every partition
    def rows(lo: Int, hi: Int) =
      (lo to hi).map(i => Row(i, s"n$i", (i % 2).toLong))
    val t = ManagedTable.create(
      df(schema, rows(1, 100)).repartition(1), tmpDir("fsp"),
      partitionBy = Seq("v"))
    t.append(df(schema, rows(101, 200)).repartition(1))
    t.append(df(schema, rows(201, 300)).repartition(1))
    val before = t.fileStats.map(_.path).toSet
    assert(before.size == 6, s"3 commits x 2 partitions, got ${before.size}")
    val updates = df(schema, Seq(Row(150, "updated", 0L), Row(999, "new", 1L)))
    Merge.into(t.toDF, "base")
      .using(updates, "src", expr("base.pk = src.pk"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute(t)
    assert(t.latestEntry.operation == "MERGE")
    val after = t.fileStats.map(_.path).toSet
    val survivors = before.intersect(after)
    assert(survivors.size == 4,
      s"the four pk-disjoint files must be kept verbatim, got ${survivors.size}")
    assert(t.toDF.count() == 301)
    assert(t.toDF.filter(col("pk") === 150).select("name").as[String].head() == "updated")
    assert(t.toDF.filter(col("pk") === 999).select("v").as[Long].head() == 1L)
    assert(t.toDF.filter(col("pk") === 42).select("name").as[String].head() == "n42")
    assert(t.partitionColumns == Seq("v"))
    // partition pruning still works over the rewritten snapshot
    assert(t.toDFWhere("v = 0").count() == t.toDF.filter(col("v") === 0).count())
  }

  test("file-granular vacuum reclaims merge-replaced files inside live dirs") {
    val t = rangedTable(tmpDir("fs4"))
    val updates = df(schema, Seq(Row(150, "updated", 0L)))
    Merge.into(t.toDF, "base")
      .using(updates, "src", expr("base.pk = src.pk"))
      .whenMatchedUpdateAll()
      .execute(t)
    val liveFiles = t.fileStats.map(_.path).toSet
    val (n, bytes) = t.vacuum(retainVersions = 1, minAgeMillis = 0)
    assert(n >= 1 && bytes > 0, s"replaced file must be reclaimed, got $n")
    // live snapshot unaffected; replaced file gone from disk
    assert(t.fileStats.map(_.path).toSet == liveFiles)
    assert(t.toDF.count() == 300)
    assert(t.toDF.filter(col("pk") === 150).select("name").as[String].head() == "updated")
  }

  test("merge with keys spanning every file falls back to a full rewrite") {
    val t = rangedTable(tmpDir("fs5"))
    val updates = df(schema,
      Seq(Row(1, "a", 0L), Row(150, "b", 0L), Row(300, "c", 0L)))
    Merge.into(t.toDF, "base")
      .using(updates, "src", expr("base.pk = src.pk"))
      .whenMatchedUpdateAll()
      .execute(t)
    assert(t.toDF.count() == 300)
    assert(t.toDF.filter(col("pk").isin(1, 150, 300))
      .select("name").as[String].collect().toSet == Set("a", "b", "c"))
  }

  test("SCD2 upsert on a multi-file table rewrites only pk-touched files") {
    val scdSchema = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr", StringType),
      StructField("is_current", BooleanType),
      StructField("effective_time", TimestampType),
      StructField("end_time", TimestampType)))
    def rows(lo: Int, hi: Int) = (lo to hi).map(i =>
      Row(i, s"a$i", true, ts("2020-01-01 00:00:00"), null))
    val t = ManagedTable.create(df(scdSchema, rows(1, 100)).coalesce(1), tmpDir("scdf"))
    t.append(df(scdSchema, rows(101, 200)).coalesce(1))
    t.append(df(scdSchema, rows(201, 300)).coalesce(1))
    val before = t.fileStats.map(_.path).toSet
    val updates = df(
      StructType(Seq(
        StructField("pkey", IntegerType), StructField("attr", StringType),
        StructField("effective_time", TimestampType))),
      Seq(Row(150, "CHANGED", ts("2021-01-01 00:00:00"))))
    graft.operators.Scd2.upsert(t, updates, "pkey", Seq("attr"))
    val after = t.fileStats.map(_.path).toSet
    assert(before.intersect(after).size == 2,
      "the two pk-ranges the update cannot touch must keep their files")
    // SCD2 semantics intact: old version closed, new version current
    val v = t.toDF.filter(col("pkey") === 150)
      .select("attr", "is_current").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(v == Set(("a150", false), ("CHANGED", true)))
    assert(t.toDF.count() == 301)
  }

  test("log entries predating per-file stats or DV row counts are refused") {
    val mapper = new ObjectMapper()
    // commit `e` as the next version, its JSON edited by `edit`
    def commitEdited(loc: String, e: ManagedTable.LogEntry)(
        edit: ObjectNode => Unit): Long = {
      val n = mapper.readTree(e.copy(version = e.version + 1).toJson)
        .asInstanceOf[ObjectNode]
      edit(n)
      Files.writeString(Paths.get(loc, "_graft_log", s"v${e.version + 1}.json"),
        mapper.writeValueAsString(n))
      e.version + 1
    }
    def refusal(loc: String): String = intercept[IllegalStateException](
      ManagedTable.forPath(spark, loc).toDF).getMessage
    // (a) data dirs but no file list: the key missing, or an empty list
    Seq[ObjectNode => Unit](
      n => { n.remove("files"); () },
      n => { n.putArray("files"); () }
    ).zipWithIndex.foreach { case (edit, i) =>
      val loc = tmpDir(s"fs6$i")
      val v = commitEdited(loc, rangedTable(loc).latestEntry)(edit)
      val msg = refusal(loc)
      assert(msg.contains(s"v$v") && msg.contains("predates per-file stats"), msg)
    }
    // (b) a deletion-vector file without its dvRows count
    val loc = tmpDir("fs6dv")
    val t = rangedTable(loc)
    t.setProperties(Map(ManagedTable.dvPropKey -> "true"))
    assert(t.delete("pk <= 10") == 10)
    val v = commitEdited(loc, t.latestEntry) { n =>
      n.get("files").elements().forEachRemaining(f =>
        f.asInstanceOf[ObjectNode].remove("dvRows"))
    }
    val msg = refusal(loc)
    assert(msg.contains(s"v$v") && msg.contains("predates deletion-vector row counts"), msg)
  }

  test("timestamp bounds prune filtered scans with TIMESTAMP literals") {
    val tsSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("at", TimestampType)))
    val t = ManagedTable.create(
      df(tsSchema, (0 until 50).map(i =>
        Row(i, ts(f"2024-01-01 ${i % 24}%02d:00:00")))).coalesce(1),
      tmpDir("fs7"))
    t.append(df(tsSchema, (0 until 50).map(i =>
      Row(100 + i, ts(f"2024-06-01 ${i % 24}%02d:00:00")))).coalesce(1))
    val pruned = t.toDFWhere("at >= TIMESTAMP '2024-05-01 00:00:00'")
    // INT96-written timestamps carry no footer stats; prune only if present
    val statsPresent = t.fileStats.forall(_.min.contains("at"))
    if (statsPresent)
      assert(pruned.inputFiles.length == 1, "June file only")
    assert(pruned.count() == 50)
  }

  test("TIMESTAMP_MILLIS footers normalize to micros — pruning never drops matches") {
    // With outputTimestampType=TIMESTAMP_MILLIS the footer min/max longs are
    // in MILLIS while prune literals encode MICROS; un-normalized bounds
    // compare ~1000x too small and wrongly skip the matching file.
    val tsSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("at", TimestampType)))
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try {
      val t = ManagedTable.create(
        df(tsSchema, (0 until 50).map(i =>
          Row(i, ts(f"2024-01-01 ${i % 24}%02d:00:00")))).coalesce(1),
        tmpDir("fs8"))
      t.append(df(tsSchema, (0 until 50).map(i =>
        Row(100 + i, ts(f"2024-06-01 ${i % 24}%02d:00:00")))).coalesce(1))
      val pruned = t.toDFWhere("at >= TIMESTAMP '2024-05-01 00:00:00'")
      assert(pruned.count() == 50, "millis-unit bounds must not skip the June file")
      // and the normalized bounds still PRUNE (not merely avoid corruption)
      if (t.fileStats.forall(_.min.contains("at")))
        assert(pruned.inputFiles.length == 1, "June file only")
      // file-granular MERGE-style range overlap is unit-correct too
      val janOnly = t.toDFWhere("at < TIMESTAMP '2024-02-01 00:00:00'")
      assert(janOnly.count() == 50)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** The linear (file × key) scan `FileStats.overlapping` used before its
    * sorted-keys binary search, kept as the reference: every key encoded
    * into the column's domain, every file's bounds compared with every
    * key. An un-encodable key disables pruning; a file without bounds is
    * kept.
    */
  private def overlappingReference(files: Seq[FileStat], schema: StructType,
                                   colName: String, values: Seq[Any]): Seq[FileStat] = {
    val dt = schema(colName).dataType
    val encoded: Seq[Option[String]] = values.map {
      case s: String if dt == StringType => Some(s)
      case d: java.sql.Date if dt == DateType => Some(d.toLocalDate.toEpochDay.toString)
      case d: java.time.LocalDate if dt == DateType => Some(d.toEpochDay.toString)
      case n: Number if dt != StringType => Some(n.longValue.toString)
      case _ => None
    }
    def cmp(a: String, b: String): Int =
      if (dt == StringType)
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      else java.lang.Long.compare(a.toLong, b.toLong)
    if (encoded.exists(_.isEmpty)) files
    else files.filter { f =>
      (for { lo <- f.min.get(colName); hi <- f.max.get(colName) }
        yield encoded.flatten.exists(v => cmp(lo, v) <= 0 && cmp(hi, v) >= 0))
        .getOrElse(true)
    }
  }

  test("overlapping (sorted keys, binary search) equals the linear scan over " +
       "random bounds: long, string and date columns, boundless files, " +
       "un-encodable keys") {
    val sch = StructType(Seq(
      StructField("l", LongType), StructField("s", StringType),
      StructField("d", DateType)))
    val rnd = new scala.util.Random(20261017L)
    // multi-byte and supplementary characters: UTF-8 byte order differs
    // from String.compareTo's UTF-16 order there
    val alphabet = Seq("a", "b", "z", "A", "\u00e9", "\uFB00", "\uD83D\uDE00")
    def str(): String = Seq.fill(rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.size))).mkString
    def dom(c: String): (String, String) = c match {
      case "s" =>
        val a = str(); val b = str()
        if (org.apache.spark.unsafe.types.UTF8String.fromString(a)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0) (a, b)
        else (b, a)
      case _ =>
        val a = rnd.nextInt(61) - 30L; val b = a + rnd.nextInt(12)
        (a.toString, b.toString)
    }
    def key(c: String): Any = c match {
      case "l" => if (rnd.nextBoolean()) Long.box(rnd.nextInt(81) - 40L)
                  else Int.box(rnd.nextInt(81) - 40)
      case "s" => str()
      case "d" =>
        val day = rnd.nextInt(81) - 40L
        if (rnd.nextBoolean()) java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))
        else java.time.LocalDate.ofEpochDay(day)
    }
    def unencodable(c: String): Any = c match {
      case "s" => Int.box(7)
      case _ => "not-a-number"
    }
    var pruning = 0
    for (round <- 0 until 600) {
      val c = Seq("l", "s", "d")(round % 3)
      val files = (0 until rnd.nextInt(25)).map { i =>
        rnd.nextInt(10) match {
          case 0 => FileStat(s"f$i", 1, 1, Map.empty, Map.empty)
          case 1 => FileStat(s"f$i", 1, 1, Map(c -> dom(c)._1), Map.empty)
          case _ =>
            val (lo, hi) = dom(c)
            FileStat(s"f$i", 1, 1, Map(c -> lo), Map(c -> hi))
        }
      }
      val keys = Seq.fill(rnd.nextInt(30))(key(c)) ++
        (if (rnd.nextInt(10) == 0) Seq(unencodable(c)) else Nil)
      val got = FileStats.overlapping(files, sch, c, keys).map(_.path)
      val want = overlappingReference(files, sch, c, keys).map(_.path)
      assert(got == want, s"round $round on $c: keys $keys")
      if (want.size < files.size) pruning += 1
    }
    assert(pruning > 100, s"only $pruning rounds pruned anything")
  }
}
