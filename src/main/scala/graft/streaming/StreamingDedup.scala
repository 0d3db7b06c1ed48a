package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.tables.ManagedTable
import graft.text.MinHashDedup

/** Streaming near-duplicate dedup: documents stream in, each micro-batch
  * is near-dedup'd against EVERYTHING seen so far, and only novel
  * documents flow to the output table — the incremental form of the
  * batch MinHash pipeline (continuous training-data ingestion, where the
  * corpus index outlives any one job).
  *
  * Shape: `foreachBatch` + a persistent [[SigIndex]] of two ManagedTables:
  *
  *  - `buckets` — one row per (doc, band): `(id, band, bandHash)`,
  *    hive-partitioned by `__bp = pmod(bandHash, parts)`. The per-batch
  *    LSH candidate join probes ONLY the partitions holding the batch's
  *    own band-hash residues (a partition-pruned `toDFWhere` read), so a
  *    batch touches a bounded slice of the index instead of re-scanning
  *    all of it — the fix for the per-batch full-index scan.
  *  - `sigs` — one row per doc: `(id, shingle hashes)`, partitioned by
  *    `__sp = pmod(xxhash64(id), parts)`. The already-indexed probe and
  *    the exact-Jaccard verification read only the partitions of the ids
  *    they actually probe, pruned the same way.
  *
  * Per batch, one filter-and-verify plan:
  *
  *  1. stage once: `(id, shingle hashes, id residue, band hashes)` for the
  *     batch, persisted and materialized by the residue collect;
  *  2. one candidate join on `(band, bandHash)`: the batch's band rows
  *     against the batch's band rows ∪ the pruned bucket rows. An index
  *     doc is a candidate in any shared bucket (uncapped); a batch doc
  *     only if its id is smaller (keep-first, the batch pipeline's rule)
  *     and the bucket holds ≤ `maxBucketSize` batch docs;
  *  3. one verification join: exact Jaccard over the batch hashes ∪ the
  *     pruned `sigs` rows (same predicate as the batch path, so a batch
  *     replay equals the batch dedup). The same `sigs` read yields the
  *     batch ids the index already holds;
  *  4. one anti-join: novel = staged − (verified losers ∪ indexed ids);
  *  5. novel docs append to `out`, their bucket rows to `buckets`, their
  *     signatures to `sigs` — with `sigs` committing last: every append
  *     records the batch's `txn` version and no-ops on replay, and a
  *     recorded `sigs` version proves the whole batch landed, so a batch
  *     that crashes between ANY two of the three commits replays without
  *     duplicating rows anywhere (each ManagedTable commit is individually
  *     atomic). The index then auto-compacts once it fragments past
  *     `maxIndexFiles`.
  *
  * Driver involvement per batch is at most two bounded collects (the
  * distinct partition residues to probe — at most `parts` longs per
  * table; the second, the bucket rows' id residues, is skipped once the
  * batch's own ids cover every `sigs` partition) plus the novel count;
  * everything row-scale stays distributed. An empty index (the first
  * batch, and every replay of it) skips both collects and both index
  * reads: steps 2–4 then run over the batch alone. `parts` trades read
  * amplification against directory count: at a 10⁹-doc index,
  * parts=4096 makes a small batch read tens of partitions instead of
  * terabytes.
  */
object StreamingDedup {

  /** Index schema columns (alongside the id column). */
  private val HH = "__hh"
  private val BANDS = "__bands"

  /** Wall-clock phase tracing for the per-batch pipeline, enabled by
    * GRAFT_TRACE_STREAMING=1 (stderr; off in normal runs — the bench and
    * the driver never set it). Kept because the per-batch cost here is
    * commit/jobs overhead, not compute, and regressions need attribution.
    */
  private val trace = sys.env.get("GRAFT_TRACE_STREAMING").contains("1")
  private def timed[T](name: String)(f: => T): T =
    if (!trace) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[stream-dedup] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** The persistent signature index: `sigs` (id → shingle hashes,
    * partitioned by id-hash residue) + `buckets` (id × band → band hash,
    * partitioned by band-hash residue).
    */
  final case class SigIndex(sigs: ManagedTable, buckets: ManagedTable,
                            parts: Int)

  private val PARTS_PROP = "graft.lsh.parts"

  /** Create (or open) the signature index for an id column of `idType`.
    * `parts` is pinned in table properties at creation; reopening ignores
    * the argument in favor of the stored value (the physical layout is
    * already committed to it).
    */
  def openIndex(spark: SparkSession, path: String,
                idCol: String, idType: org.apache.spark.sql.types.DataType,
                parts: Int = 64): SigIndex = {
    import org.apache.spark.sql.types._
    require(parts >= 1, "parts must be >= 1")
    val sigsPath = path + "/sigs"
    val bucketsPath = path + "/buckets"
    if (ManagedTable.exists(sigsPath)) {
      val sigs = ManagedTable.forPath(spark, sigsPath)
      val p = sigs.properties.getOrElse(PARTS_PROP, parts.toString).toInt
      SigIndex(sigs, ManagedTable.forPath(spark, bucketsPath), p)
    } else {
      def empty(schema: StructType) = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // containsNull = true: the hash array builds from nullable
      // expressions, and Spark refuses nullable→non-nullable array casts
      val sigs = ManagedTable.create(
        empty(StructType(Seq(
          StructField(idCol, idType),
          StructField(HH, ArrayType(LongType, containsNull = true)),
          StructField("__sp", LongType)))),
        sigsPath, partitionBy = Seq("__sp"),
        properties = Map(PARTS_PROP -> parts.toString))
      val buckets = ManagedTable.create(
        empty(StructType(Seq(
          StructField(idCol, idType),
          StructField("__band", IntegerType),
          StructField("__bh", LongType),
          StructField("__bp", LongType)))),
        bucketsPath, partitionBy = Seq("__bp"),
        properties = Map(PARTS_PROP -> parts.toString))
      SigIndex(sigs, buckets, parts)
    }
  }

  /** Partition-pruned read: only the partitions of `t` whose `partCol`
    * residue appears in `values` are scanned (file skipping via the
    * partition-value bounds in the table's file stats — check
    * `.inputFiles` to see it).
    */
  private[streaming] def prunedRead(t: ManagedTable, partCol: String,
                                    values: Seq[Long]): DataFrame =
    timed(s"prunedRead-$partCol") {
      if (values.isEmpty)
        t.toDF.limit(0)
      else t.toDFWhere(s"$partCol IN (${values.mkString(",")})")
    }

  private def spOf(idCol: String, parts: Int) =
    pmod(xxhash64(col(idCol)), lit(parts.toLong))

  /** The distinct values of each `array<bigint>` column of `df` (one job,
    * no shuffle): every partition reduces its rows to one value set per
    * column before the collect, so at most partitions × distinct values
    * per column ever reach the driver — for partition residues, at most
    * `parts` longs per partition.
    */
  private def distinctLongs(df: DataFrame): Seq[Seq[Long]] = {
    val n = df.schema.size
    val perPartition = df.rdd.mapPartitions { rows =>
      val sets = Array.fill(n)(scala.collection.mutable.HashSet.empty[Long])
      rows.foreach(r => (0 until n).foreach(i => sets(i) ++= r.getSeq[Long](i)))
      Iterator(sets.map(_.toArray))
    }.collect()
    (0 until n).map(i => perPartition.flatMap(_(i)).distinct.toSeq)
  }

  /** Pure per-batch core (callable from batch jobs too): near-dedup
    * `batch` against `index`, append novel docs to `out` and their
    * signatures/buckets to `index`. Returns the number of novel documents.
    *
    * `txn = (appId, batchVersion)` — REQUIRED — is the replay
    * protection: O(1) idempotent commits (Delta's `txnAppId`/`txnVersion`
    * pattern). Each of the three appends records the batch version in its
    * table's snapshot properties and no-ops if that version already
    * committed, so a checkpoint-replayed batch — including one that
    * crashed BETWEEN the out/buckets/sigs commits — re-lands exactly once
    * with zero table-scan guards. (An earlier optional form fell back to
    * an id-level anti-join against the out table's full id column —
    * O(corpus) per batch, not viable at 10⁹ docs, so the fallback is
    * gone: batch callers pass a writer id and a monotone batch number.)
    *
    * Caveat shared with Delta: [[ManagedTable.restore]] keeps table
    * properties, so rolling a table back past a recorded `txn` version
    * does NOT forget it — a replay after a restore must use a fresh
    * `appId` (or higher version) to re-land.
    */
  def incremental(batch: DataFrame, idCol: String, textCol: String,
                  index: SigIndex, out: ManagedTable,
                  txn: (String, Long),
                  threshold: Double = 0.8, numHashes: Int = 64,
                  bands: Int = 16, shingleWidth: Int = 3,
                  maxBucketSize: Int = 1000,
                  maxIndexFiles: Int = 64): Long = {
    val parts = index.parts
    // sigs commits LAST, so its recorded version proves the whole batch
    // (out, buckets, sigs) landed: a fully-replayed batch is one property
    // read, not a re-run of the dedup plan
    val fullyApplied = timed("txn-probe")(
      index.sigs.txnVersion(txn._1).exists(_ >= txn._2))
    if (fullyApplied) return 0L
    // WIDTH-SCOPED CHILD SESSION for the per-batch pipeline (the
    // PageRank/mkn small-regime idiom): the dedup plan is a handful of
    // small joins and exchanges per batch, and at session width every
    // one of them shuffles a toy-sized frame across the full partition count
    // — measured (tools/StreamProfile, sf0.1 probe): the same two
    // batches cost 11.6 s at width 32 and 6.5 s at width 4, all of it
    // task-scheduling and tiny-exchange overhead. The width derives
    // from the index's OWN scale knob: `parts` is pinned at creation
    // to the corpus (10⁹ docs → 4096 per the scaladoc), so at
    // production scale min(parts, sessionP) = sessionP and nothing
    // changes; only the small-index/small-batch regime narrows. AQE
    // off below session width per the established policy (its
    // per-exchange stage materialization is pure latency on
    // explicitly-sized tiny exchanges). The child session shares the
    // SparkContext and cache; the caller's conf is never mutated.
    // Frames cross via global temp views (resolved eagerly, dropped
    // in the finally); the appends receive child-session frames and
    // execute their writes at pipeline width — their file layout is
    // unaffected (each append repartitions/coalesces explicitly).
    val sp = batch.sparkSession
    val sessionP = sp.conf.get("spark.sql.shuffle.partitions").toInt
    val pipeP = math.max(1, math.min(parts, sessionP))
    val sp2 = sp.newSession()
    sp2.conf.set("spark.sql.shuffle.partitions", pipeP.toString)
    if (pipeP < sessionP) sp2.conf.set("spark.sql.adaptive.enabled", "false")
    val viewTag = "graft_sdd_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val views = scala.collection.mutable.Buffer[String]()
    def bridge(df: DataFrame): DataFrame = {
      val t = viewTag + "_" + views.size
      df.createOrReplaceGlobalTempView(t)
      views += t
      sp2.table(s"global_temp.$t")
    }
    try {
    val batchB = bridge(batch)
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // 1. stage ONCE: tokenize + hash + sign the batch into one persisted
    // frame feeding the candidate join, both verification sides, the
    // already-indexed probe and all three appends (tokenization dominates
    // the pipeline's compute)
    val hashed = batchB.select(col(idCol),
        graft.plans.expressions.shingle_hashes(col(textCol), shingleWidth).as(HH))
      .withColumn("__sig",
        MinHashDedup.minHashFromHashes(col(HH), numHashes))
      .select(col(idCol), col(HH), spOf(idCol, parts).as("__sp"),
        MinHashDedup.bandHashes(col("__sig"), numHashes, bands).as(BANDS))
      .persist(mad)
    val batchBands = hashed.select(
        col(idCol), posexplode(col(BANDS)).as(Seq("__band", "__bh")))
      .withColumn("__bp", pmod(col("__bh"), lit(parts.toLong)))

    // EMPTY-INDEX FAST PATH: until the first novel commit lands (always
    // batch 1, and every replay of it), the index has zero live files —
    // both residue collects and both index reads are provable no-ops, and
    // each collect is a full job barrier. The probe is log-metadata only
    // (live file count of the latest snapshot), so it costs nothing at
    // any scale.
    val indexEmpty = timed("empty-probe")(
      index.buckets.detail.numFiles == 0L &&
      index.sigs.detail.numFiles == 0L)

    // BOTH partition-residue sets in ONE driver round-trip, which also
    // materializes `hashed`: the id residues (every batch id is probed
    // against sigs) and the band residues pruning the bucket read.
    val Seq(batchSp, batchBp) =
      if (indexEmpty) Seq(Nil, Nil)
      else timed("residues-collect")(distinctLongs(hashed.select(
        array(col("__sp")), transform(col(BANDS), pmod(_, lit(parts.toLong))))))

    // the pruned index slices: bucket rows sharing the batch's band
    // residues, and sigs rows of every id that can matter — the batch's
    // own ids (already-indexed probe) and every pruned bucket row's id (a
    // superset of the index candidates). When the batch's ids already
    // cover every partition the bucket ids cannot widen the read, so the
    // second collect is skipped.
    val (idxBuckets, idxSigs) = if (indexEmpty) (None, None) else {
      val buckets = bridge(prunedRead(index.buckets, "__bp", batchBp))
      val sigsSp =
        if (batchSp.size >= parts) batchSp
        else (batchSp ++ timed("candidate-residues-collect")(distinctLongs(
          buckets.select(array(spOf(idCol, parts)))).head)).distinct
      (Some(buckets), Some(bridge(prunedRead(index.sigs, "__sp", sigsSp))))
    }

    // 2. ONE candidate join on (band, bandHash): every batch band row
    // against the batch's band rows ∪ the pruned bucket rows. A batch
    // doc is a candidate loser to an index doc in any shared bucket
    // (uncapped), and to a smaller-id batch doc in a shared bucket that
    // holds ≤ `maxBucketSize` batch docs (the within-batch cap, counted
    // over batch docs only — one pathological key can't go quadratic).
    val probe = batchBands.select(col(idCol).as("__id"), col("__band"), col("__bh"),
      count(lit(1)).over(Window.partitionBy("__band", "__bh")).as("__n"))
    def others(rows: DataFrame, inBatch: Boolean) = rows.select(
      col(idCol).as("__other"), col("__band"), col("__bh"), lit(inBatch).as("__in_batch"))
    val batchOthers = others(batchBands, inBatch = true)
    val pairs = probe
      .join(idxBuckets.fold(batchOthers)(b => batchOthers.union(others(b, inBatch = false))),
        Seq("__band", "__bh"))
      .filter(!col("__in_batch") ||
        (col("__other") < col("__id") && col("__n") <= maxBucketSize))
      .select("__id", "__other", "__in_batch")

    // 3. ONE verification join: candidates against the batch hashes ∪
    // the pruned sigs rows (exact Jaccard over the stored shingle hash
    // sets — the batch path's predicate, so a batch replay equals the
    // batch dedup). The same sigs read answers "id already indexed": a
    // self pair (id, id, index) survives the inner join exactly when the
    // index holds the id (an id re-arriving in a later batch; replayed
    // batches are handled by `txn`).
    def sides(rows: DataFrame, inBatch: Boolean) = rows.select(
      col(idCol).as("__other"), lit(inBatch).as("__in_batch"), col(HH).as("__hh_o"))
    val batchSides = sides(hashed, inBatch = true)
    val cands = idxSigs.fold(pairs)(_ => pairs.union(hashed.select(
      col(idCol).as("__id"), col(idCol).as("__other"), lit(false).as("__in_batch"))))
    val removed = cands
      .join(idxSigs.fold(batchSides)(s => batchSides.union(sides(s, inBatch = false))),
        Seq("__other", "__in_batch"))
      .join(hashed.select(col(idCol).as("__id"), col(HH).as("__hh")), Seq("__id"))
      .filter(col("__id") === col("__other") || // batch pairs have other < id
        graft.plans.expressions.hash_jaccard(col("__hh"), col("__hh_o")) >= threshold)
      .select(col("__id").as(idCol))

    // 4. ONE anti-join: a within-batch loser that also matches the index
    // lands in `removed` either way, so the novel set is exactly the
    // keep-first-within, index-wins-across result.
    val novel = hashed.join(removed, Seq(idCol), "left_anti").persist(mad)

    // 5. novel docs → out, bucket rows → buckets, signatures → sigs.
    // sigs LAST: it is the verification's and the already-indexed probe's
    // source of truth, so a crash between any two commits re-runs the
    // batch with the same novel set (bucket rows the crashed run left
    // behind have no sigs row, so they verify nothing), and the
    // out/buckets appends below no-op on their txn markers.
    //
    // Why NOT one multi-table commit: each ManagedTable owns its own
    // log — there is no cross-table transaction coordinator (same
    // limitation as Delta), and adding one buys nothing here: the three
    // WRITE jobs already overlap (two futures + the main-thread sigs
    // staging share the executor pool — the measured tail is
    // max(write) ≈ 0.5 s, not the sum), the ordered COMMIT tail costs
    // ~20 ms per table, and exactly-once already holds through the
    // idempotent txn markers + sigs-last ordering. Fusing the logs
    // would save ~40 ms of metadata writes at the price of a
    // coordinating-log protocol.
    val novelCount = timed("novel-count")(novel.count())
    if (novelCount > 0) {
      // size the append's file count by rows — a small batch written at
      // the session's full shuffle parallelism produces dozens of tiny
      // files per commit, and every later batch re-opens all of them
      val parts1 = math.max(1L, novelCount / 100000L).toInt
      val novelIds = novel.select(col(idCol))
      // replay protection is the idempotent txn commit alone (O(1) — no
      // guard read of any table)
      val outRows = batchB.join(novelIds, Seq(idCol), "left_semi")
      // out and buckets are independent commits (different tables, both
      // individually replay-idempotent; only sigs' LAST position matters),
      // so their write jobs overlap on the driver — two threads sharing
      // the same executor pool, not a semantic reorder.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val outF = Future(timed("out-append")(out.append(
        outRows.coalesce(parts1), txn = Some(txn))))
      // HIVE-PARTITIONED appends must repartition BY the partition column
      // first: written as-is, every one of the T shuffle tasks opens a
      // writer in each of the ≤`parts` partition dirs it sees — T×parts
      // tiny files per commit, each billed a footer-stats read and
      // re-opened by every later batch. Clustered, each partition dir is
      // owned by exactly one task → ≤`parts` files per commit REGARDLESS
      // of task count, so write with `parts` tasks: same files, but the
      // dozens of per-dir file opens run in parallel instead of inside
      // one task (measured 3× on the per-batch commit tail).
      val partsB = parts
      val bucketRows = batchBands.join(novelIds, Seq(idCol), "left_semi")
      val bucketsF = Future(timed("buckets-append")(index.buckets.append(
        bucketRows
          .select(col(idCol), col("__band"), col("__bh"), col("__bp"))
          .repartition(partsB, col("__bp")),
        txn = Some(txn))))
      // sigs' COMMIT must come last (it asserts the whole batch landed),
      // but its WRITE job need not wait: stage the data files on this
      // thread while the out/buckets futures run — three write jobs
      // sharing the executor pool, one ordered commit tail. A staged
      // write orphaned by a crash (or by a concurrent schema change,
      // which appendStaged re-writes against) is vacuum-reclaimable,
      // the same exposure append itself has between write and commit.
      val sigRows = novel
        .select(col(idCol), col(HH), col("__sp"))
        .repartition(parts, col("__sp"))
      // the staging write can throw (it is a real Spark job) — capture
      // it, NEVER rethrow before the barrier below, or the in-flight
      // out/buckets appends would race a retried batch on the same
      // table/txn
      val sigsStagedT = scala.util.Try(
        timed("sigs-stage")(index.sigs.stageAppend(sigRows)))
      // barrier BEFORE the sigs commit. Await BOTH futures even when one
      // fails — a rethrow that leaves the sibling append in flight would
      // let a retried batch race the orphan on the same table/txn — then
      // propagate the first failure.
      val outR = scala.util.Try(Await.result(outF, Duration.Inf))
      val bucketsR = scala.util.Try(Await.result(bucketsF, Duration.Inf))
      outR.get; bucketsR.get
      timed("sigs-commit")(index.sigs.appendStaged(sigRows, sigsStagedT.get,
        txn = Some(txn)))
      // 6. bound index fragmentation (one commit dir per batch otherwise).
      // The floor scales with the partition count: a `parts`-way
      // partitioned table can never compact below one file per partition,
      // so a threshold under ~2·parts would trigger a useless full
      // rewrite on every single batch.
      val maxFiles = math.max(maxIndexFiles, 2 * parts)
      timed("autoOptimize-sigs")(graft.operators.TableOps.autoOptimize(index.sigs, maxFiles = maxFiles))
      timed("autoOptimize-buckets")(graft.operators.TableOps.autoOptimize(index.buckets, maxFiles = maxFiles))
    }
    timed("unpersist") {
      hashed.unpersist()
      novel.unpersist()
    }
    novelCount
    } finally {
      // bridge views resolve eagerly at Dataset creation, so dropping
      // them here (success or failure) is always safe
      views.foreach(t => sp.catalog.dropGlobalTempView(t))
    }
  }

  /** Streaming shell: wire a streaming `docs` frame through
    * [[incremental]] with `foreachBatch`. `checkpointDir` gives
    * exactly-once batch replay; combined with the per-table id-level
    * anti-joins the pipeline is idempotent under retries, including a
    * crash BETWEEN the out/buckets/sigs commits of one batch.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
            indexPath: String, outPath: String, checkpointDir: String,
            threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
            shingleWidth: Int = 3, parts: Int = 64): StreamingQuery = {
    val spark = docs.sparkSession
    val idType = docs.schema(idCol).dataType
    val index = openIndex(spark, indexPath, idCol, idType, parts)
    val out =
      if (ManagedTable.exists(outPath)) ManagedTable.forPath(spark, outPath)
      else ManagedTable.create(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          docs.schema), outPath)
    // stable per-query writer id: survives restarts (derived from the
    // checkpoint dir, the same durability domain as the batch ids it
    // versions), so a recovered query keeps its idempotent-commit history
    val appId = "stream-dedup-" +
      java.util.UUID.nameUUIDFromBytes(
        checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incremental(batch, idCol, textCol, index, out,
          txn = (appId, batchId),
          threshold = threshold, numHashes = numHashes, bands = bands,
          shingleWidth = shingleWidth)
        ()
      }
      .start()
  }
}
