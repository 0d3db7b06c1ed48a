package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tables.ManagedTable

case class Doc(doc_id: Long, text: String)

/** Streaming near-dedup against the accumulating signature index:
  * cross-batch duplicates must be dropped, novel docs kept, retries
  * idempotent — including a crash BETWEEN the batch's three table
  * commits — and the per-batch index probe must be partition-pruned.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps by the warm fire"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog while the cat sleeps by the warm stove"
  private val other =
    "completely unrelated text about spark partitions shuffles and catalyst optimizer rules"
  private val third =
    "yet another document mentioning streaming state watermarks and incremental processing"

  test("incremental batches dedup against everything seen before (pure core)") {
    val spark0 = spark
    val index = StreamingDedup.openIndex(spark0, tmpDir("sdidx"), "doc_id",
      org.apache.spark.sql.types.LongType)
    val out = ManagedTable.create(
      Seq.empty[Doc].toDF("doc_id", "text"), tmpDir("sdout"))

    // batch 1: base + other (+ an in-batch near-dup of base that must lose)
    val n1 = StreamingDedup.incremental(
      Seq((1L, base), (2L, other), (3L, base + "!")).toDF("doc_id", "text"),
      "doc_id", "text", index, out, txn = ("core", 0L), threshold = 0.5)
    assert(n1 == 2, "in-batch near-dup must be dropped before indexing")
    assert(out.toDF.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))

    // batch 2: near-dup of batch 1's base (cross-batch drop) + novel third
    val n2 = StreamingDedup.incremental(
      Seq((10L, nearDup), (11L, third)).toDF("doc_id", "text"),
      "doc_id", "text", index, out, txn = ("core", 1L), threshold = 0.5)
    assert(n2 == 1, "cross-batch near-dup must be dropped against the index")
    assert(out.toDF.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))

    // batch 2 REPLAYED (crash-retry): nothing is double-appended
    val n3 = StreamingDedup.incremental(
      Seq((10L, nearDup), (11L, third)).toDF("doc_id", "text"),
      "doc_id", "text", index, out, txn = ("core", 1L), threshold = 0.5)
    assert(n3 == 0, "a replayed batch must be idempotent")
    assert(out.toDF.count() == 3)
    assert(index.sigs.toDF.count() == 3, "index holds one signature per novel doc")
    assert(index.buckets.toDF.select("doc_id").distinct().count() == 3)
  }

  test("a crash between the batch's three commits replays without duplicates") {
    val index = StreamingDedup.openIndex(spark, tmpDir("sdidx3"), "doc_id",
      org.apache.spark.sql.types.LongType)
    val out = ManagedTable.create(
      Seq.empty[Doc].toDF("doc_id", "text"), tmpDir("sdout3"))
    val batch = Seq((1L, base), (2L, other)).toDF("doc_id", "text")

    // window A — crashed after out.append, before buckets/sigs: simulate
    // by pre-committing the docs to out WITH the batch's txn marker (a
    // real crash-after-out leaves exactly that state); the replayed
    // incremental's out append must then no-op on the marker
    out.append(batch, txn = Some(("crash", 0L)))
    val nA = StreamingDedup.incremental(batch, "doc_id", "text", index, out,
      txn = ("crash", 0L), threshold = 0.5)
    assert(nA == 2, "replay still reports the batch's novel docs")
    assert(out.toDF.count() == 2, "out must not double-append on replay")
    assert(index.sigs.toDF.count() == 2)
    val bucketRows = index.buckets.toDF.count()
    assert(index.buckets.toDF.groupBy("doc_id", "__band").count()
      .filter(col("count") > 1).isEmpty, "one bucket row per (doc, band)")

    // window B — crashed after out+buckets, before sigs: rewind ONLY the
    // sigs table to its pre-batch (empty) version. RESTORE keeps the
    // txn marker (documented Delta-parity caveat), which a true
    // pre-sigs-commit crash would never have written — reset it so the
    // simulated state matches the real crash window
    index.sigs.restore(0L)
    index.sigs.setProperties(Map("graft.txn.crash" -> "-1"))
    assert(index.sigs.toDF.count() == 0)
    val nB = StreamingDedup.incremental(batch, "doc_id", "text", index, out,
      txn = ("crash", 0L), threshold = 0.5)
    assert(nB == 2)
    assert(out.toDF.count() == 2, "out stays deduped on a half-committed replay")
    assert(index.buckets.toDF.count() == bucketRows,
      "bucket rows must not duplicate when only sigs was lost")
    assert(index.sigs.toDF.count() == 2, "sigs catches back up")

    // fully-committed replay is still a no-op
    val nC = StreamingDedup.incremental(batch, "doc_id", "text", index, out,
      txn = ("crash", 0L), threshold = 0.5)
    assert(nC == 0)
    assert(out.toDF.count() == 2 && index.buckets.toDF.count() == bucketRows)
  }

  test("txn batches: a fully-replayed batch is an O(1) no-op, a half-committed " +
       "one re-lands exactly once") {
    val index = StreamingDedup.openIndex(spark, tmpDir("sdidx5"), "doc_id",
      org.apache.spark.sql.types.LongType)
    val out = ManagedTable.create(
      Seq.empty[Doc].toDF("doc_id", "text"), tmpDir("sdout5"))
    val app = "t-stream"
    val b1 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    assert(StreamingDedup.incremental(b1, "doc_id", "text", index, out,
      txn = (app, 0L), threshold = 0.5) == 2)
    val outV = out.latestVersion
    val sigsV = index.sigs.latestVersion
    // full replay: sigs already recorded batch 0 → nothing recomputes,
    // nothing commits
    assert(StreamingDedup.incremental(b1, "doc_id", "text", index, out,
      txn = (app, 0L), threshold = 0.5) == 0)
    assert(out.latestVersion == outV && index.sigs.latestVersion == sigsV,
      "a fully-replayed txn batch must not commit to any table")

    // crash window: out committed batch 1, buckets/sigs did not — the
    // replayed out append must no-op on its recorded txn version while
    // the index appends catch up
    val b2 = Seq((10L, nearDup), (11L, third)).toDF("doc_id", "text")
    out.append(b2.join(Seq(11L).toDF("doc_id"), Seq("doc_id"), "left_semi"),
      txn = Some((app, 1L)))
    assert(StreamingDedup.incremental(b2, "doc_id", "text", index, out,
      txn = (app, 1L), threshold = 0.5) == 1)
    assert(out.toDF.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L),
      "the half-committed batch's rows must appear exactly once")
    assert(index.sigs.toDF.count() == 3)
    assert(index.buckets.toDF.groupBy("doc_id", "__band").count()
      .filter(col("count") > 1).isEmpty, "one bucket row per (doc, band)")

    // next batch proceeds normally under the same writer id
    assert(StreamingDedup.incremental(
      Seq((20L, base + "?!")).toDF("doc_id", "text"), "doc_id", "text",
      index, out, txn = (app, 2L), threshold = 0.5) == 0)
    assert(out.toDF.count() == 3)
  }

  test("the candidate probe reads a strict subset of the bucket partitions") {
    val index = StreamingDedup.openIndex(spark, tmpDir("sdidx4"), "doc_id",
      org.apache.spark.sql.types.LongType, parts = 64)
    val out = ManagedTable.create(
      Seq.empty[Doc].toDF("doc_id", "text"), tmpDir("sdout4"))
    // 40 distinct docs spread band hashes across ~all 64 partitions.
    // Distinctness must live in LETTERS: the tokenizer treats digits as
    // delimiters, so number-only variation yields identical shingles.
    def alpha(i: Int): String =
      (0 to 2).map(k => ('a' + (i / math.pow(26, k).toInt) % 26).toChar).mkString
    val corpus = (1 to 40).map(i =>
      (i.toLong, s"document ${alpha(i)} talks about topic ${alpha(i * 7)} and " +
        s"subject ${alpha(i * 13)} in considerable detail with words ${alpha(i * 31)}"))
      .toDF("doc_id", "text")
    StreamingDedup.incremental(corpus, "doc_id", "text", index, out,
      txn = ("probe", 0L), threshold = 0.5)
    val full = index.buckets.toDF
    val occupied = full.select("__bp").distinct().count()
    assert(occupied > 20, s"setup: bands should spread, got $occupied partitions")

    // one probe doc collides with at most 16 residues (one per band), so
    // the pruned read must open strictly fewer files than the full index
    val probeBp = full.filter(col("doc_id") === 1L)
      .select("__bp").distinct().as[Long].collect().toSeq
    assert(probeBp.size <= 16)
    val pruned = StreamingDedup.prunedRead(index.buckets, "__bp", probeBp)
    assert(pruned.inputFiles.length > 0)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"pruned probe read ${pruned.inputFiles.length}/${full.inputFiles.length} files")
    // pruning removes work, never rows
    assert(pruned.count() ==
      full.filter(col("__bp").isin(probeBp: _*)).count())
  }

  test("streaming shell wires foreachBatch end-to-end over MemoryStream") {
    implicit val sql = spark.sqlContext
    val indexPath = tmpDir("sdidx2")
    val outPath = tmpDir("sdout2")
    val src = MemoryStream[Doc]
    val q = StreamingDedup.start(src.toDF(), "doc_id", "text",
      indexPath, outPath, tmpDir("sdckpt"), threshold = 0.5)
    try {
      src.addData(Doc(1, base), Doc(2, other))
      q.processAllAvailable()
      src.addData(Doc(10, nearDup), Doc(11, third))
      q.processAllAvailable()
    } finally q.stop()
    val out = ManagedTable.forPath(spark, outPath)
    assert(out.toDF.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))
    val index = ManagedTable.forPath(spark, indexPath + "/sigs")
    assert(index.toDF.count() == 3)
  }

  /** Seeded alphabetic prose: the tokenizer treats digits as delimiters,
    * so all variation must live in letters.
    */
  private def words(rnd: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(Vector.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)

  /** `ws` with the words at `at` replaced by fresh ones. */
  private def edit(ws: Vector[String], at: Seq[Int], rnd: scala.util.Random): Vector[String] =
    at.foldLeft(ws)((w, i) => w.updated(i, "zq" + words(rnd, 1).head))

  test("per-batch novel ids equal keep-first-within, index-wins-across " +
       "over nearDupPairs of batch + earlier novel docs") {
    val rnd = new scala.util.Random(20261017L)
    val uniq = Vector.fill(24)(words(rnd, 60))
    def near(ws: Vector[String]) = edit(ws, Seq(10 + rnd.nextInt(15), 35 + rnd.nextInt(15)), rnd)
    // chain: a~b and b~c verify at 0.8, a~c does not (4 + 4 edited words)
    val chainA = words(rnd, 200)
    val chainB = edit(chainA, Seq(20, 60, 100, 140), rnd)
    val chainC = edit(chainB, Seq(40, 80, 120, 160), rnd)
    def doc(id: Long, ws: Vector[String]) = (id, ws.mkString(" "))
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(doc(1, uniq(0)), doc(2, uniq(1)), doc(3, uniq(2)), doc(4, uniq(3)),
        doc(5, uniq(0)), doc(6, near(uniq(1))), doc(7, uniq(4)), doc(8, near(uniq(4))),
        doc(9, uniq(5)), doc(10, chainA), doc(11, chainB), doc(12, chainC),
        doc(13, uniq(6)), doc(14, uniq(2))),
      Seq(doc(20, uniq(7)), doc(21, uniq(0)), doc(22, near(uniq(3))), doc(23, uniq(8)),
        doc(24, near(uniq(8))), doc(25, uniq(9)), doc(26, uniq(9)),
        doc(2, uniq(10)), // an indexed id re-arrives with new text
        doc(5, uniq(11)), // a batch-1 loser's id: never indexed, so novel
        doc(27, chainC), doc(28, uniq(12))),
      Seq(doc(30, near(uniq(7))), doc(31, uniq(13)), doc(32, uniq(13)), doc(33, uniq(14)),
        doc(34, near(uniq(11))), doc(35, uniq(15)), doc(9, uniq(16)), doc(36, chainB),
        doc(37, uniq(17)), doc(38, near(uniq(17)))))

    val index = StreamingDedup.openIndex(spark, tmpDir("sdeq"), "doc_id",
      org.apache.spark.sql.types.LongType, parts = 8)
    val out = ManagedTable.create(
      Seq.empty[Doc].toDF("doc_id", "text"), tmpDir("sdeqout"))
    var indexed = Seq.empty[(Long, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      // reference: pairs over (batch ∪ indexed) keyed so that batch and
      // index copies of one id stay distinct (k = 2·id + isBatch)
      val u = (b.map { case (id, t) => (2 * id + 1, t) } ++
        indexed.map { case (id, t) => (2 * id, t) }).toDF("k", "text")
      val pairs = graft.text.MinHashDedup.nearDupPairs(u, "k", "text",
          threshold = 0.8, numHashes = 64, bands = 16)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      val indexedIds = indexed.map(_._1).toSet
      val removed = pairs.flatMap { case (ka, kb) =>
        (ka % 2, kb % 2) match {
          case (1L, 1L) => Seq(kb / 2)          // keep-first within the batch
          case (1L, 0L) => Seq(ka / 2)          // the index wins
          case (0L, 1L) => Seq(kb / 2)
          case _ => Nil
        }
      }.toSet ++ b.map(_._1).filter(indexedIds)
      val want = b.map(_._1).toSet -- removed
      if (i == 0) {
        assert(pairs.contains((21L, 23L)) && pairs.contains((23L, 25L)) &&
          !pairs.contains((21L, 25L)), s"setup: chain 10~11~12 not as planted: $pairs")
        assert(want == Set(1L, 2L, 3L, 4L, 7L, 9L, 10L, 13L), s"setup: $want")
      }
      val n = StreamingDedup.incremental(b.toDF("doc_id", "text"), "doc_id", "text",
        index, out, txn = ("equiv", i.toLong))
      val got = out.toDF.select("doc_id").as[Long].collect().toSet -- indexedIds
      assert(got == want, s"batch $i novel ids")
      assert(n == want.size)
      indexed ++= b.filter { case (id, _) => want(id) }
    }
    assert(out.toDF.count() == indexed.size, "each novel doc lands exactly once")
  }

  test("maxBucketSize caps within-batch buckets only; index candidates are uncapped") {
    val index = StreamingDedup.openIndex(spark, tmpDir("sdcap"), "doc_id",
      org.apache.spark.sql.types.LongType, parts = 8)
    val out = ManagedTable.create(
      Seq.empty[Doc].toDF("doc_id", "text"), tmpDir("sdcapout"))
    // an exact pair shares every bucket, and each holds 2 > 1 batch docs
    val n1 = StreamingDedup.incremental(
      Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text"),
      "doc_id", "text", index, out, txn = ("cap", 0L), maxBucketSize = 1)
    assert(n1 == 3, "the capped in-batch pair is never compared, so both survive")
    // next batch: two more copies, so each bucket again holds 2 > 1 batch
    // docs — yet both drop against the index
    val n2 = StreamingDedup.incremental(
      Seq((4L, base), (5L, third), (6L, base)).toDF("doc_id", "text"),
      "doc_id", "text", index, out, txn = ("cap", 1L), maxBucketSize = 1)
    assert(n2 == 1, "the same text next batch drops against the index")
    assert(out.toDF.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 5L))
  }

  test("a non-first batch runs a bounded number of Spark jobs") {
    val index = StreamingDedup.openIndex(spark, tmpDir("sdjobs"), "doc_id",
      org.apache.spark.sql.types.LongType, parts = 4)
    val out = ManagedTable.create(
      Seq.empty[Doc].toDF("doc_id", "text"), tmpDir("sdjobsout"))
    StreamingDedup.incremental(
      Seq((1L, base), (2L, other), (3L, base + "!")).toDF("doc_id", "text"),
      "doc_id", "text", index, out, txn = ("jobs", 0L), threshold = 0.5)
    val b2 = Seq((10L, nearDup), (11L, third), (12L, third)).toDF("doc_id", "text")
    b2.count() // materialize the local relation outside the counted region
    var n = -1L
    // every thread's jobs: the commit tail appends on pool threads
    val jobs = countJobs({
      n = StreamingDedup.incremental(b2, "doc_id", "text", index, out,
        txn = ("jobs", 1L), threshold = 0.5)
    }, allThreads = true)
    assert(n == 1)
    assert(jobs <= MaxJobsPerBatch, s"$jobs Spark jobs for one batch")
  }

  /** 1.25 × the 19 jobs the filter-and-verify plan runs for the batch
    * above (the plan it replaced ran 38).
    */
  private val MaxJobsPerBatch = 23

  test("autoOptimize compacts only past the file threshold") {
    val t = ManagedTable.create(Seq((1L, "a")).toDF("id", "v"), tmpDir("ao"))
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val before = t.detail.numFiles
    assert(!graft.operators.TableOps.autoOptimize(t, maxFiles = 100),
      "below threshold: no compaction")
    assert(t.detail.numFiles == before)
    assert(graft.operators.TableOps.autoOptimize(t, maxFiles = 2))
    assert(t.detail.numFiles < before)
    assert(t.toDF.count() == 6)
  }
}
