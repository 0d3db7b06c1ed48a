package graft.tables

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import scala.jdk.CollectionConverters._

/** The concurrency/commute machinery of the file- and partition-granular
  * MERGE paths — the logic a user hits the moment two writers touch one
  * table, and the one class of behavior the single-writer DuckDB oracle
  * can never observe (the reference rides delta-spark's version of these
  * rules: ConcurrentAppendException / find-touched-files,
  * mack/__init__.py:125-139 via `DeltaTable.merge`).
  *
  * Covers, per the file-pruned MERGE contract:
  *  - [[Merge.Builder.filePrunePlan]] classification: NoOp on an empty
  *    source, Fallback when pruning can't help, Pruned with the correct
  *    touched-file set and reusable key-bounds filters;
  *  - the over-cap NULL-key probe under a null-safe (`<=>`) binding —
  *    a file holding only NULL-key rows must NOT be pruned, and the probe
  *    must cost no extra Spark job (fused into the range aggregation);
  *  - [[ManagedTable.replaceFiles]] rebase-vs-raise: a concurrent blind
  *    append with key-bounds-disjoint files commutes (both commits land),
  *    an overlapping one raises, a concurrent rewrite of the same file
  *    raises;
  *  - concurrent [[ManagedTable.overwritePartitions]] on disjoint
  *    partitions commute, on overlapping partitions raise;
  *  - a replayed txn is checked before any data is written, on every
  *    commit path that carries one.
  */
class ConflictSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  /** One-partition frame → exactly one parquet file per commit, so each
    * append is one FileStat with known [min, max] id bounds.
    */
  private def df1(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def rows(ids: Range, v: String): Seq[Row] =
    ids.map(i => Row(i.toLong, v))

  /** A 3-file unpartitioned table: ids 1-10 / 11-20 / 21-30. */
  private def threeFileTable(prefix: String): ManagedTable = {
    val t = ManagedTable.create(df1(rows(1 to 10, "a")), tmpDir(prefix))
    t.append(df1(rows(11 to 20, "b")))
    t.append(df1(rows(21 to 30, "c")))
    assert(t.fileStats.size == 3, "setup: one file per commit")
    t
  }

  private def builder(t: ManagedTable, source: DataFrame,
                      condition: String = "base.id = src.id"): Merge.Builder =
    Merge.into(t.toDF, "base").using(source, "src", expr(condition))
      .whenMatchedUpdate(Map("v" -> "src.v"))

  private def srcDf(ids: Seq[java.lang.Long], v: String = "new"): DataFrame =
    df1(ids.map(i => Row(if (i == null) null else i.longValue(), v)))

  // ---- filePrunePlan classification ------------------------------------

  test("filePrunePlan: empty source is a NoOp (nothing to commit)") {
    val t = threeFileTable("fpp_noop")
    val plan = builder(t, srcDf(Nil)).filePrunePlan(t.latestEntry)
    assert(plan == Merge.FilePrune.NoOp)
  }

  test("filePrunePlan: single-file table falls back (nothing to skip)") {
    val t = ManagedTable.create(df1(rows(1 to 10, "a")), tmpDir("fpp_one"))
    val plan = builder(t, srcDf(Seq(5L))).filePrunePlan(t.latestEntry)
    assert(plan == Merge.FilePrune.Fallback)
  }

  test("filePrunePlan: no equi-binding on a skippable column falls back") {
    val t = threeFileTable("fpp_nobind")
    // inequality join: no conjunct equi-binds a target column
    val plan = Merge.into(t.toDF, "base")
      .using(srcDf(Seq(5L)), "src", expr("base.id < src.id"))
      .whenMatchedUpdate(Map("v" -> "src.v"))
      .filePrunePlan(t.latestEntry)
    assert(plan == Merge.FilePrune.Fallback)
  }

  test("filePrunePlan: keys spanning every file fall back (pruning removed nothing)") {
    val t = threeFileTable("fpp_span")
    val plan = builder(t, srcDf(Seq(5L, 15L, 25L))).filePrunePlan(t.latestEntry)
    assert(plan == Merge.FilePrune.Fallback)
  }

  test("filePrunePlan: Pruned selects exactly the bounds-overlapping files, " +
       "and its keyFilters classify concurrently-added files") {
    val t = threeFileTable("fpp_pruned")
    val middle = t.fileStats.find(_.min("id").toLong == 11L).get
    builder(t, srcDf(Seq(15L))).filePrunePlan(t.latestEntry) match {
      case Merge.FilePrune.Pruned(touched, keyFilters) =>
        assert(touched.map(_.path) == Seq(middle.path),
          "only the 11-20 file can hold key 15")
        // the same filters decide the commute rule for concurrent appends:
        // a file with disjoint key bounds is filtered out (commutes), an
        // overlapping one survives (conflicts)
        val disjoint = FileStat("x/disjoint.parquet", 10, 100,
          Map("id" -> "100"), Map("id" -> "200"))
        val overlapping = FileStat("x/overlap.parquet", 10, 100,
          Map("id" -> "12"), Map("id" -> "18"))
        val boundless = FileStat("x/nostats.parquet", 10, 100, Map.empty, Map.empty)
        def survives(f: FileStat): Boolean =
          keyFilters.foldLeft(Seq(f))((fs, flt) => flt(fs)).nonEmpty
        assert(!survives(disjoint), "bounds-disjoint append must commute")
        assert(survives(overlapping), "overlapping append must conflict")
        assert(survives(boundless), "a file without bounds can never be proven safe")
      case other => fail(s"expected Pruned, got $other")
    }
  }

  test("filePrunePlan: a pruned merge leaves bounds-disjoint files' bytes untouched") {
    val t = threeFileTable("fpp_e2e")
    val untouchedPaths = t.fileStats.filter(_.min("id").toLong != 11L).map(_.path).toSet
    builder(t, srcDf(Seq(15L))).execute(t)
    // the two untouched files survive verbatim in the new snapshot
    assert(untouchedPaths.subsetOf(t.fileStats.map(_.path).toSet),
      "bounds-disjoint files must be kept, not rewritten")
    val got = t.toDF.filter(col("id").isin(15L, 5L, 25L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(15L -> "new", 5L -> "a", 25L -> "c"))
  }

  // ---- the over-cap NULL-key probe (null-safe bindings) -----------------

  /** > maxPrunedMergeKeys distinct non-null keys, plus optionally a
    * NULL-key row — the regime where the distinct() sample can miss the
    * NULL and only the fused probe can see it.
    */
  private def overCapSource(withNull: Boolean): DataFrame = {
    val wide = spark.range(1000, 1000 + Merge.maxPrunedMergeKeys + 1)
      .select(col("id"), lit("new").as("v"))
    if (withNull)
      wide.unionByName(df1(Seq(Row(null, "new"))))
    else wide
  }

  /** A table whose LAST file holds ONLY NULL-key rows — prunable by any
    * range filter that forgets NULL keys exist.
    */
  private def nullFileTable(prefix: String): ManagedTable = {
    val t = ManagedTable.create(df1(rows(1 to 10, "a")), tmpDir(prefix))
    t.append(df1(Seq(Row(null, "oldnull"), Row(null, "oldnull"))))
    assert(t.fileStats.size == 2)
    t
  }

  test("over-cap <=> merge with a NULL source key must not prune the NULL-key file") {
    val t = nullFileTable("fpp_null")
    val plan = builder(t, overCapSource(withNull = true), "base.id <=> src.id")
      .filePrunePlan(t.latestEntry)
    // the only binding is null-safe with a NULL key → it can't prune
    assert(plan == Merge.FilePrune.Fallback)
    // end-to-end: the matched update applies to the NULL-key rows
    builder(t, overCapSource(withNull = true), "base.id <=> src.id").execute(t)
    val nullRows = t.toDF.filter(col("id").isNull).select("v")
      .collect().map(_.getString(0)).toSeq
    assert(nullRows == Seq("new", "new"),
      "NULL-key matched rows must be updated, not silently skipped")
    // sanity: the update-only merge inserts nothing (source key 1005 has
    // no target match), and untouched in-table keys keep their value
    assert(t.toDF.filter(col("id") === 1005L).isEmpty,
      "an update-only merge must not insert unmatched source keys")
    assert(t.toDF.filter(col("id") === 5L).head().getString(1) == "a")
  }

  test("over-cap <=> merge without NULL keys still prunes by range") {
    val t = nullFileTable("fpp_nonull")
    // no NULL in the source: the range [1000, 11000] excludes BOTH files
    // on bounds — but the NULL-key file has no id bounds at all, so it is
    // kept ("may contain anything"); only the 1-10 file is pruned
    val plan = builder(t, overCapSource(withNull = false), "base.id <=> src.id")
      .filePrunePlan(t.latestEntry)
    plan match {
      case Merge.FilePrune.Pruned(touched, _) =>
        assert(touched.map(_.min.get("id")) == Seq(None),
          "only the boundless NULL-key file survives the range filter")
      case other => fail(s"expected Pruned, got $other")
    }
  }

  test("the NULL probe is fused into the range aggregation: a null-safe " +
       "over-cap plan costs no extra Spark job over a plain-equality one") {
    val t = nullFileTable("fpp_jobs")
    val entry = t.latestEntry
    val src = overCapSource(withNull = false)
    src.count() // materialize lazy setup outside the counted region
    val plainJobs = countJobs {
      builder(t, src, "base.id = src.id").filePrunePlan(entry); ()
    }
    val nullSafeJobs = countJobs {
      builder(t, src, "base.id <=> src.id").filePrunePlan(entry); ()
    }
    assert(nullSafeJobs == plainJobs,
      s"null-safe over-cap pruning ran $nullSafeJobs jobs vs $plainJobs — " +
        "the NULL probe must ride the min/max aggregation, not its own job")
  }

  test("an under-cap plan runs only the key-enumeration job (no range agg)") {
    val t = threeFileTable("fpp_jobs2")
    val entry = t.latestEntry
    val src = srcDf(Seq(15L))
    src.count()
    val overCap = overCapSource(withNull = false)
    overCap.count()
    val underCapJobs = countJobs {
      builder(t, src, "base.id <=> src.id").filePrunePlan(entry); ()
    }
    val overCapJobs = countJobs {
      builder(t, overCap, "base.id <=> src.id").filePrunePlan(entry); ()
    }
    assert(underCapJobs < overCapJobs,
      s"under-cap pruning ($underCapJobs jobs) must skip the over-cap " +
        s"range-aggregation job (over-cap ran $overCapJobs)")
  }

  // ---- replaceFiles: rebase vs raise ------------------------------------

  /** The commute predicate a file-pruned MERGE with source keys `keys`
    * hands to replaceFiles (same shape as Merge.executeFilePruned).
    */
  private def mayMatch(t: ManagedTable, keys: Seq[Long])
      (added: Seq[FileStat]): Boolean =
    FileStats.overlapping(added, t.latestEntry.schema, "id", keys).nonEmpty

  test("replaceFiles rebases over a concurrent bounds-disjoint append " +
       "(both commits land)") {
    val t = threeFileTable("rf_commute")
    val base = t.latestEntry
    val middle = base.files.find(_.min("id").toLong == 11L).get
    // concurrent blind append lands AFTER the merge planned against base:
    // its keys (100-110) are provably outside the merge's key set {15}
    t.append(df1(rows(100 to 110, "z")))
    t.replaceFiles(Set(middle.path), df1(rows(11 to 20, "updated")),
      operation = "MERGE", base = base, addedMayMatch = mayMatch(t, Seq(15L)))
    // both writers' effects are present
    assert(t.toDF.filter(col("v") === "updated").count() == 10)
    assert(t.toDF.filter(col("id") >= 100L).count() == 11)
    assert(t.toDF.count() == 41)
  }

  test("replaceFiles raises on a concurrent append whose bounds overlap " +
       "the merge's keys") {
    val t = threeFileTable("rf_conflict")
    val base = t.latestEntry
    val middle = base.files.find(_.min("id").toLong == 11L).get
    // the appended file's bounds [12, 18] contain key 15: had the merge
    // run second it would have read this file — Delta's
    // ConcurrentAppendException rule
    t.append(df1(rows(12 to 18, "z")))
    val e = intercept[ConcurrentCommitException] {
      t.replaceFiles(Set(middle.path), df1(rows(11 to 20, "updated")),
        operation = "MERGE", base = base, addedMayMatch = mayMatch(t, Seq(15L)))
    }
    assert(e.getMessage.contains("may contain this merge's keys"))
  }

  test("replaceFiles raises when a concurrent commit rewrote the same file") {
    val t = threeFileTable("rf_samefile")
    val base = t.latestEntry
    val middle = base.files.find(_.min("id").toLong == 11L).get
    // writer 1 rewrites the middle file first (e.g. another merge)
    t.replaceFiles(Set(middle.path), df1(rows(11 to 20, "w1")),
      operation = "MERGE", base = base)
    // writer 2, planned against the same base, touches the same file
    val e = intercept[ConcurrentCommitException] {
      t.replaceFiles(Set(middle.path), df1(rows(11 to 20, "w2")),
        operation = "MERGE", base = base, addedMayMatch = _ => false)
    }
    assert(e.getMessage.contains("both rewrite"))
    // writer 1's update survives; writer 2 left no trace
    assert(t.toDF.filter(col("v") === "w1").count() == 10)
    assert(t.toDF.filter(col("v") === "w2").count() == 0)
  }

  test("end-to-end: two sequential file-pruned merges on different files " +
       "each rewrite only their own file") {
    val t = threeFileTable("rf_seq")
    val first = t.fileStats.find(_.min("id").toLong == 1L).get.path
    builder(t, srcDf(Seq(15L))).execute(t)
    builder(t, srcDf(Seq(25L))).execute(t)
    assert(t.fileStats.map(_.path).contains(first),
      "the 1-10 file must survive both merges verbatim")
    val got = t.toDF.filter(col("id").isin(5L, 15L, 25L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(5L -> "a", 15L -> "new", 25L -> "new"))
  }

  // ---- overwritePartitions: disjoint commute, overlap raises ------------

  private val pSchema = StructType(Seq(
    StructField("p", IntegerType),
    StructField("v", StringType)))

  test("concurrent overwritePartitions on DISJOINT partitions both commit") {
    val loc = tmpDir("owp_commute")
    val t = ManagedTable.create(
      df(pSchema, Seq(Row(1, "a"), Row(2, "b"), Row(3, "c"))),
      loc, partitionBy = Seq("p"))
    val baseV = t.latestVersion
    // writer 1 replaces p=1; writer 2, planned against the SAME base,
    // replaces p=2 — disjoint, so it rebases over writer 1
    t.overwritePartitions(df(pSchema, Seq(Row(1, "w1"))),
      Seq(Map("p" -> 1)), baseVersion = baseV)
    t.overwritePartitions(df(pSchema, Seq(Row(2, "w2"))),
      Seq(Map("p" -> 2)), baseVersion = baseV)
    assertDfEquality(t.toDF.select("p", "v"),
      df(pSchema, Seq(Row(1, "w1"), Row(2, "w2"), Row(3, "c"))))
  }

  test("concurrent overwritePartitions on the SAME partition raises") {
    val loc = tmpDir("owp_conflict")
    val t = ManagedTable.create(
      df(pSchema, Seq(Row(1, "a"), Row(2, "b"))), loc, partitionBy = Seq("p"))
    val baseV = t.latestVersion
    t.overwritePartitions(df(pSchema, Seq(Row(1, "w1"))),
      Seq(Map("p" -> 1)), baseVersion = baseV)
    val e = intercept[ConcurrentCommitException] {
      t.overwritePartitions(df(pSchema, Seq(Row(1, "w2"))),
        Seq(Map("p" -> 1)), baseVersion = baseV)
    }
    assert(e.getMessage.contains("conflicts"))
    // writer 1 wins cleanly; no half-applied state
    assert(t.toDF.filter(col("p") === 1).head().getString(1) == "w1")
  }

  test("a replayed txn commits nothing and writes no data on every " +
       "txn-carrying commit path, even against a stale base") {
    val loc = tmpDir("txn_replay")
    val t = ManagedTable.create(
      df(pSchema, Seq(Row(1, "a"), Row(2, "b"))), loc, partitionBy = Seq("p"))
    val stale = t.latestEntry
    val txn = Some(("app", 7L))
    t.append(df(pSchema, Seq(Row(3, "c"))), txn = txn) // records app -> 7
    val replayed = df(pSchema, Seq(Row(1, "replayed")))
    val paths: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => t.append(replayed, txn = txn)),
      "replaceFiles" -> (() => t.replaceFiles(Set(stale.files.head.path),
        replayed, "MERGE", base = stale, txn = txn)),
      "overwritePartitions" -> (() => t.overwritePartitions(replayed,
        Seq(Map("p" -> 1)), "MERGE", baseVersion = stale.version, txn = txn)),
      "overwriteFrom" -> (() =>
        t.overwriteFrom(stale.version, replayed, "MERGE", txn = txn)))
    def dataDirs: Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(loc, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    paths.foreach { case (name, replay) =>
      val version = t.latestVersion
      val dirs = dataDirs
      replay()
      assert(t.latestVersion == version, s"$name: a replayed txn added a version")
      assert(dataDirs == dirs, s"$name: a replayed txn wrote data")
    }
    assert(t.toDF.filter(col("v") === "replayed").count() == 0)
  }

  test("concurrent partition-bound MERGEs into different partitions both land") {
    val loc = tmpDir("owp_merge")
    val t = ManagedTable.create(
      df(pSchema, Seq(Row(1, "a"), Row(2, "b"), Row(3, "c"))),
      loc, partitionBy = Seq("p"))
    // two merges planned against the same snapshot, touching p=1 and p=2:
    // Merge.execute captures its base at entry, so running them
    // back-to-back exercises the same rebase path a true race would
    // (the second merge's base is v1, behind the first's commit? no —
    // sequential here, but the overwritePartitions tests above pin the
    // racing case; this pins the MERGE wiring end-to-end)
    def m(p: Int): Unit =
      Merge.into(t.toDF, "base")
        .using(df(pSchema, Seq(Row(p, s"m$p"))), "src",
          expr("base.p = src.p AND base.v = src.v"))
        .whenMatchedUpdate(Map("v" -> "src.v"))
        .whenNotMatchedInsertAll()
        .execute(t)
    m(1); m(2)
    assert(t.toDF.count() == 5, "each merge inserts its non-matching row")
    assert(t.toDF.filter(col("v").startsWith("m")).count() == 2)
  }

  test("stress: racing appends from real threads all land (rebase under contention)") {
    // 4 writer threads x 3 appends each against ONE table, truly
    // concurrent: every append must survive the put-if-absent races via
    // rebase-retry, no commit lost, versions contiguous. This is the
    // blind-append commute rule under actual thread interleaving rather
    // than the staged two-writer scenarios above.
    val loc = tmpDir("stress")
    val t = ManagedTable.create(df1(Seq(Row(0L, "base"))), loc)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { w =>
      new Thread(() => {
        try {
          (1 to 3).foreach { i =>
            t.append(df1(Seq(Row(w * 100L + i, s"w$w-$i"))))
          }
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(t.toDF.count() == 13, "all 12 concurrent appends + base must land")
    assert(t.latestVersion == 12L, "versions must be contiguous, one per append")
    val ids = t.toDF.select("id").collect().map(_.getLong(0)).toSet
    val expected = (for (w <- 1 to 4; i <- 1 to 3) yield w * 100L + i).toSet + 0L
    assert(ids == expected)
  }

  test("race: DELETE vs UPDATE on bounds-disjoint files both commit") {
    // A deletes inside file 1 (ids 1-10), B updates inside file 3
    // (ids 21-30): the conditions prune to different files, so whichever
    // thread loses the put-if-absent race must REBASE (the intervening
    // commit removed a file this DML did not touch, and its added
    // rewrite's bounds are disjoint from this DML's predicate) — a raise
    // here is a bug, not a legal outcome.
    val t = threeFileTable("race_dml_disj")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val deleter = new Thread(() => {
      try { gate.await(); assert(t.delete("id <= 5") == 5L) }
      catch { case e: Throwable => errs.add(e); () }
    })
    val updater = new Thread(() => {
      try { gate.await(); assert(t.update(Map("v" -> "'upd'"), Some("id >= 25")) == 6L) }
      catch { case e: Throwable => errs.add(e); () }
    })
    deleter.start(); updater.start(); gate.countDown()
    deleter.join(120000); updater.join(120000)
    assert(errs.isEmpty,
      s"bounds-disjoint DML must commute: ${Option(errs.peek()).map(_.toString)}")
    val got = t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val want = ((6 to 10).map(i => (i.toLong, "a")) ++
      (11 to 20).map(i => (i.toLong, "b")) ++
      (21 to 24).map(i => (i.toLong, "c")) ++
      (25 to 30).map(i => (i.toLong, "upd"))).sorted
    assert(got == want, "both DMLs must land exactly once")
  }

  test("race: DELETE vs UPDATE rewriting the SAME file serialize or raise — " +
       "never lose a write") {
    // Both conditions prune to file 2 (ids 11-20). Depending on the
    // interleaving, either the second DML planned AFTER the first's
    // commit (both land — serial semantics), or it planned against the
    // old snapshot and must raise ConcurrentCommitException (its rewrite
    // would clobber the first's). Any other outcome — a silently lost
    // delete/update, a different exception — is a bug. Three rounds to
    // sample different interleavings.
    (1 to 3).foreach { round =>
      val t = threeFileTable(s"race_dml_same$round")
      val raised = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      @volatile var delOk = false
      @volatile var updOk = false
      val deleter = new Thread(() => {
        try { gate.await(); t.delete("id >= 11 AND id <= 13"); delOk = true }
        catch { case e: Throwable => raised.add(e); () }
      })
      val updater = new Thread(() => {
        try { gate.await()
          t.update(Map("v" -> "'upd'"), Some("id BETWEEN 14 AND 18")); updOk = true }
        catch { case e: Throwable => raised.add(e); () }
      })
      deleter.start(); updater.start(); gate.countDown()
      deleter.join(120000); updater.join(120000)
      raised.forEach { e =>
        assert(e.isInstanceOf[ConcurrentCommitException],
          s"round $round: only a clean conflict raise is legal, got $e")
      }
      assert(delOk || updOk, s"round $round: at least one DML must commit")
      val got = t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val base = (1 to 10).map(i => (i.toLong, "a")) ++
        (21 to 30).map(i => (i.toLong, "c"))
      val f2 = (11 to 20).map { i =>
        (i.toLong, if (i <= 13) "b" else if (i <= 18 && updOk) "upd" else "b")
      }
      val want = (base ++ (if (delOk) f2.filterNot(_._1 <= 13) else f2)).sorted
      assert(got == want,
        s"round $round (delOk=$delOk updOk=$updOk): contents must equal " +
          s"the serial application of exactly the committed DMLs")
    }
  }

  test("stress: optimize racing concurrent appends either commutes or fails clean") {
    val loc = tmpDir("stressopt")
    val t = ManagedTable.create(df1(Seq(Row(0L, "base"))), loc)
    (1 to 5).foreach(i => t.append(df1(Seq(Row(i.toLong, s"r$i")))))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try (6 to 10).foreach(i => t.append(df1(Seq(Row(i.toLong, s"r$i")))))
      catch { case e: Throwable => errs.add(e); () }
    })
    val optimizer = new Thread(() => {
      try t.optimize(targetFileSizeBytes = 128L * 1024 * 1024)
      catch {
        case _: ConcurrentCommitException => () // clean refusal is legal
        case e: Throwable => errs.add(e); ()
      }
    })
    appender.start(); optimizer.start()
    appender.join(120000); optimizer.join(120000)
    assert(errs.isEmpty, s"unexpected failure: ${Option(errs.peek()).map(_.toString)}")
    // whatever interleaving happened, no row may be lost or duplicated
    val ids = t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L to 10L).toSeq,
      s"rows lost/duplicated under optimize-vs-append race: $ids")
  }
}
