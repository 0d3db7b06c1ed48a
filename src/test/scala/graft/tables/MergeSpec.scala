package graft.tables

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Calls of the nondeterministic UDF below (one JVM in local mode). */
object MergeSpecUdfCalls {
  val n = new java.util.concurrent.atomic.AtomicLong()
}

class MergeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("pkey", IntegerType),
    StructField("attr", StringType)))

  private def target = df(schema, Seq(Row(1, "A"), Row(2, "B"), Row(3, "C")))

  test("whenMatchedUpdate rewrites matching rows, 3VL condition") {
    val src = df(schema, Seq(Row(2, "B2"), Row(3, null), Row(4, "D")))
    val out = Merge.into(target, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenMatchedUpdate(
        condition = "src.attr <> base.attr", // NULL for pkey=3 → no-op
        set = Map("attr" -> "src.attr"))
      .result()
    assertDfEquality(out, df(schema,
      Seq(Row(1, "A"), Row(2, "B2"), Row(3, "C"))))
  }

  test("whenMatchedDelete removes matches; others untouched") {
    val src = df(schema, Seq(Row(1, "x"), Row(3, "y")))
    val out = Merge.into(target, "old")
      .using(src, "new", "old.pkey = new.pkey")
      .whenMatchedDelete()
      .result()
    assertDfEquality(out, df(schema, Seq(Row(2, "B"))))
  }

  test("whenNotMatchedInsert with value map; non-matching source rows only") {
    val src = df(schema, Seq(Row(2, "B2"), Row(5, "E")))
    val out = Merge.into(target, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenNotMatchedInsert(Map("pkey" -> "src.pkey", "attr" -> "upper(src.attr)"))
      .result()
    assertDfEquality(out, df(schema,
      Seq(Row(1, "A"), Row(2, "B"), Row(3, "C"), Row(5, "E"))))
  }

  test("whenNotMatchedInsertAll copies source row") {
    val src = df(schema, Seq(Row(5, "E"), Row(1, "dup")))
    val out = Merge.into(target, "old")
      .using(src, "new", "old.pkey = new.pkey")
      .whenNotMatchedInsertAll()
      .result()
    assert(out.count() == 4)
  }

  test("NULL-mergeKey staging rows never match and fall to insert") {
    // the SCD2 staging pattern: source has mergeKey column, NULL rows insert
    val srcSchema = StructType(Seq(
      StructField("mergeKey", IntegerType),
      StructField("pkey", IntegerType),
      StructField("attr", StringType)))
    val src = df(srcSchema, Seq(Row(null, 2, "B2"), Row(2, 2, "B2")))
    val out = Merge.into(target, "base")
      .using(src, "staged", "base.pkey = mergeKey")
      .whenMatchedUpdate(condition = "staged.attr <> base.attr",
        set = Map("attr" -> "staged.attr"))
      .whenNotMatchedInsert(Map("pkey" -> "staged.pkey", "attr" -> "staged.attr"))
      .result()
    // matched row 2 updated to B2; NULL-mergeKey row inserts a second (2,B2)
    assertDfEquality(out, df(schema,
      Seq(Row(1, "A"), Row(2, "B2"), Row(2, "B2"), Row(3, "C"))))
  }

  test("multiple source rows matching one target row errors") {
    val src = df(schema, Seq(Row(2, "x"), Row(2, "y")))
    val b = Merge.into(target, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
    val e = intercept[Exception](b.result().collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("matched by multiple source rows")),
      s"unexpected error: $e")
  }

  test("clause order: first matching clause wins") {
    val src = df(schema, Seq(Row(1, "del"), Row(2, "upd")))
    val out = Merge.into(target, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenMatchedDelete(condition = "src.attr = 'del'")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
      .result()
    assertDfEquality(out, df(schema, Seq(Row(2, "upd"), Row(3, "C"))))
  }

  test("execute() overwrites a ManagedTable") {
    val loc = tmpDir("merge")
    val t = ManagedTable.create(target, loc)
    val src = df(schema, Seq(Row(1, "zz")))
    Merge.into(t.toDF, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
      .execute(t)
    assertDfEquality(t.toDF, df(schema,
      Seq(Row(1, "zz"), Row(2, "B"), Row(3, "C"))))
  }

  private val srcEvoSchema = StructType(Seq(
    StructField("pkey", IntegerType),
    StructField("attr", StringType),
    StructField("tag", StringType)))

  test("a clause column the target lacks raises without withSchemaEvolution") {
    val src = df(srcEvoSchema, Seq(Row(5, "E", "t5")))
    val b = Merge.into(target, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenNotMatchedInsert(Map(
        "pkey" -> "src.pkey", "attr" -> "src.attr", "tag" -> "src.tag"))
    val e = intercept[graft.GraftTypeError](b.result().collect())
    assert(e.getMessage.contains("tag"))
  }

  test("withSchemaEvolution: insert/update clauses evolve one new column " +
       "end-to-end through execute()") {
    val t = ManagedTable.create(target, tmpDir("mergevo"))
    val src = df(srcEvoSchema, Seq(Row(2, "B2", "t2"), Row(5, "E", "t5")))
    Merge.into(t.toDF, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr", "tag" -> "src.tag"))
      .whenNotMatchedInsert(Map(
        "pkey" -> "src.pkey", "attr" -> "src.attr", "tag" -> "src.tag"))
      .withSchemaEvolution()
      .execute(t)
    // schema is the union, new column nullable; untouched rows read NULL
    assert(t.schema.fieldNames.toSeq == Seq("pkey", "attr", "tag"))
    assert(t.schema("tag").nullable)
    assertDfEquality(t.toDF, df(
      StructType(srcEvoSchema.map(_.copy(nullable = true))),
      Seq(Row(1, "A", null), Row(2, "B2", "t2"), Row(3, "C", null),
        Row(5, "E", "t5"))))
    // the widening is its own auditable commit
    val ops = t.history.select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.contains("ADD COLUMNS"))
    // time travel to the pre-merge version still works (null-filled read)
    assert(t.toDF(0L).count() == 3)
  }

  test("withSchemaEvolution: insertAll widens by every extra source column, " +
       "typed from the source") {
    val wide = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr", StringType),
      StructField("score", DoubleType)))
    val t = ManagedTable.create(target, tmpDir("mergevoall"))
    val src = df(wide, Seq(Row(6, "F", 0.5)))
    Merge.into(t.toDF, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenNotMatchedInsertAll()
      .withSchemaEvolution()
      .execute(t)
    assert(t.schema("score").dataType == DoubleType)
    assert(t.toDF.count() == 4)
    assert(t.toDF.filter("pkey = 6").head().getDouble(2) == 0.5)
    assert(t.toDF.filter("pkey = 1").head().isNullAt(2))
  }

  test("withSchemaEvolution is a no-op when no new columns appear") {
    val t = ManagedTable.create(target, tmpDir("mergevonone"))
    val v0 = t.latestVersion
    Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(1, "zz"))), "src", "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
      .withSchemaEvolution()
      .execute(t)
    val ops = t.history.select("operation").collect().map(_.getString(0)).toSeq
    assert(!ops.contains("ADD COLUMNS"), "no widening commit without new columns")
    assert(t.latestVersion == v0 + 1)
    assertDfEquality(t.toDF, df(schema,
      Seq(Row(1, "zz"), Row(2, "B"), Row(3, "C"))))
  }

  test("whenNotMatchedBySourceDelete syncs deletions (full replication)") {
    val src = df(schema, Seq(Row(2, "B2"), Row(5, "E")))
    val out = Merge.into(target, "t")
      .using(src, "s", "t.pkey = s.pkey")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceDelete()
      .result()
    // target becomes exactly the source: 1/3 deleted, 2 updated, 5 inserted
    assertDfEquality(out, df(schema, Seq(Row(2, "B2"), Row(5, "E"))))
  }

  test("whenNotMatchedBySourceUpdate rewrites only unmatched target rows; " +
       "condition gates per row; first clause wins") {
    val src = df(schema, Seq(Row(2, "B2")))
    val out = Merge.into(target, "t")
      .using(src, "s", "t.pkey = s.pkey")
      .whenNotMatchedBySourceUpdate("t.pkey = 1",
        Map("attr" -> "'AGED'"))
      .whenNotMatchedBySourceUpdate(Map("attr" -> "'STALE'"))
      .result()
    assertDfEquality(out, df(schema,
      Seq(Row(1, "AGED"), Row(2, "B"), Row(3, "STALE"))))
  }

  test("whenNotMatchedBySource executes against a table and captures CDC") {
    import org.apache.spark.sql.functions.col
    val loc = tmpDir("mergebysource")
    val t = ManagedTable.create(target, loc,
      properties = Map(ManagedTable.cdfPropKey -> "true"))
    val src = df(schema, Seq(Row(2, "B2"), Row(5, "E")))
    val v0 = t.latestVersion
    Merge.into(t.toDF, "t")
      .using(src, "s", "t.pkey = s.pkey")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceDelete("t.pkey = 1")
      .execute(t)
    assertDfEquality(t.toDF, df(schema,
      Seq(Row(2, "B2"), Row(3, "C"), Row(5, "E"))))
    val ch = t.changes(v0).select("pkey", "_change_type")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(ch == Set((1, "delete"), (2, "update_preimage"),
      (2, "update_postimage"), (5, "insert")),
      s"bySource delete must surface in the change feed: $ch")
  }

  test("SQL MERGE supports WHEN NOT MATCHED BY SOURCE") {
    import org.apache.spark.sql.functions.col
    val loc = tmpDir("mergebysourcesql")
    ManagedTable.create(target, loc)
    val src = df(schema, Seq(Row(2, "B2"), Row(5, "E")))
    src.createOrReplaceTempView("bysource_src")
    spark.sql(
      s"""MERGE INTO graft.`$loc` AS t
         |USING bysource_src AS s ON t.pkey = s.pkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.pkey = 3 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET attr = 'STALE'
         |""".stripMargin).collect()
    assertDfEquality(ManagedTable.forPath(spark, loc).toDF, df(schema,
      Seq(Row(1, "STALE"), Row(2, "B2"), Row(5, "E"))))
  }

  // ---- the file-pruned path --------------------------------------------

  /** A stats-bearing table of three files, pkeys 1-10 / 11-20 / 21-30 (one
    * single-partition commit each), so a merge whose keys lie in 11-20
    * rewrites only the middle file.
    */
  private def threeFiles(prefix: String): ManagedTable =
    filesOver(prefix, 1 to 10, 11 to 20, 21 to 30)

  /** One single-file commit per range of `pkeys`. */
  private def filesOver(prefix: String, pkeys: Range*): ManagedTable = {
    def rows(r: Range) = df(schema, r.map(i => Row(i, s"v$i"))).coalesce(1)
    val t = ManagedTable.create(rows(pkeys.head), tmpDir(prefix))
    pkeys.tail.foreach(r => t.append(rows(r)))
    assert(t.fileStats.size == pkeys.size, "setup: one file per commit")
    t
  }

  private def edgeFiles(t: ManagedTable): Set[String] =
    t.fileStats.filter(f => f.min("pkey").toInt != 11).map(_.path).toSet

  private def assertPruned(b: Merge.Builder, t: ManagedTable): Unit =
    b.filePrunePlan(t.latestEntry) match {
      case Merge.FilePrune.Pruned(touched, _) =>
        assert(touched.map(_.min("pkey").toInt) == Seq(11),
          "only the 11-20 file may be touched")
      case other => fail(s"expected the file-pruned path, got $other")
    }

  private def contents(t: ManagedTable): Map[Int, Seq[String]] =
    t.toDF.collect().toSeq.groupBy(_.getInt(0))
      .map { case (k, rs) => k -> rs.map(_.getString(1)).sorted }

  private def causeMessages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ causeMessages(t.getCause)

  test("file-pruned path: a target row matched by two source rows raises " +
       "and commits nothing") {
    val t = threeFiles("prunedmulti")
    val v0 = t.latestVersion
    val b = Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(15, "x"), Row(15, "y"))), "src",
        "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
    assertPruned(b, t)
    val e = intercept[Exception](b.execute(t))
    assert(causeMessages(e).exists(_.contains("matched by multiple source rows")),
      s"unexpected error: $e")
    assert(t.latestVersion == v0)
  }

  test("file-pruned path: an insert-only merge passes a target row matched " +
       "by two source rows through exactly once") {
    val t = threeFiles("prunedinsonly")
    val kept = edgeFiles(t)
    val b = Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(15, "x"), Row(15, "y"), Row(40, "new"))), "src",
        "base.pkey = src.pkey")
      .whenNotMatchedInsertAll()
    assertPruned(b, t)
    b.execute(t)
    val expected = (1 to 30).map(i => i -> Seq(s"v$i")).toMap + (40 -> Seq("new"))
    assert(contents(t) == expected)
    assert(kept.subsetOf(t.fileStats.map(_.path).toSet))
  }

  test("file-pruned path: matched delete + matched update + insert in one " +
       "merge equal the hand-computed result") {
    val t = threeFiles("prunedmixed")
    val kept = edgeFiles(t)
    val b = Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(12, "del"), Row(15, "u15"), Row(18, "u18"),
        Row(35, "new35"))), "src", "base.pkey = src.pkey")
      .whenMatchedDelete("src.attr = 'del'")
      .whenMatchedUpdate("src.pkey <> 18", Map("attr" -> "src.attr"))
      .whenNotMatchedInsertAll()
    assertPruned(b, t)
    b.execute(t)
    // 12 deleted, 15 updated, 18 matched by no clause (passes through),
    // 35 inserted, every other row untouched
    val expected = ((1 to 30).filter(_ != 12).map(i => i -> Seq(s"v$i")).toMap
      + (15 -> Seq("u15")) + (35 -> Seq("new35")))
    assert(contents(t) == expected)
    assert(kept.subsetOf(t.fileStats.map(_.path).toSet))
  }

  test("matched update + bySource delete + insert in one merge on a " +
       "multi-file table equal the hand-computed result") {
    val t = threeFiles("mixedbysource")
    Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(15, "u15"), Row(27, "u27"), Row(35, "new35"))),
        "src", "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
      .whenNotMatchedInsertAll()
      .whenNotMatchedBySourceDelete("base.pkey > 25")
      .execute(t)
    // 26, 28-30 deleted (unmatched, > 25); 27 matched, so updated not
    // deleted; 15 updated; 35 inserted
    val expected = ((1 to 25).map(i => i -> Seq(s"v$i")).toMap
      + (15 -> Seq("u15")) + (27 -> Seq("u27")) + (35 -> Seq("new35")))
    assert(contents(t) == expected)
  }

  test("file-pruned path: a source holding only NULL keys touches no file " +
       "and still inserts") {
    val t = threeFiles("prunednull")
    val before = t.fileStats.map(_.path).toSet
    val b = Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(null, "n1"), Row(null, "n2"))), "src",
        "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
      .whenNotMatchedInsertAll()
    b.filePrunePlan(t.latestEntry) match {
      case Merge.FilePrune.Pruned(touched, _) => assert(touched.isEmpty)
      case other => fail(s"expected Pruned(Nil), got $other")
    }
    b.execute(t)
    assert(before.subsetOf(t.fileStats.map(_.path).toSet),
      "no file can hold a match for a NULL key")
    assert(t.toDF.count() == 32)
    assert(t.toDF.filter("pkey IS NULL").collect().map(_.getString(1)).toSet ==
      Set("n1", "n2"))
  }

  test("a nondeterministic source is evaluated once per row per execute") {
    import org.apache.spark.sql.functions.{col, lit, udf}
    val t = threeFiles("nondet")
    val tagged = udf { (i: Long) =>
      MergeSpecUdfCalls.n.incrementAndGet()
      i.toInt
    }.asNondeterministic()
    val src = spark.range(14, 17, 1, 2)
      .select(tagged(col("id")).as("pkey"), lit("nd").as("attr"))
    val b = Merge.into(t.toDF, "base")
      .using(src, "src", "base.pkey = src.pkey")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
      .whenNotMatchedInsertAll()
    MergeSpecUdfCalls.n.set(0)
    b.execute(t)
    // the key collect and the write share ONE evaluation of the source
    assert(MergeSpecUdfCalls.n.get() == 3,
      s"source rows evaluated ${MergeSpecUdfCalls.n.get()} times, expected 3")
    assert(src.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the materialized source is released after the merge")
    val expected = (1 to 30).map(i =>
      i -> Seq(if (i >= 14 && i <= 16) "nd" else s"v$i")).toMap
    assert(contents(t) == expected)
  }

  // ---- a condition beyond pure equi-bindings ---------------------------

  test("file-pruned path, non-equi conjunct: a target row matched by two " +
       "source rows raises and commits nothing") {
    val t = threeFiles("prunedmultine")
    val v0 = t.latestVersion
    val b = Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(15, "x"), Row(15, "y"))), "src",
        "base.pkey = src.pkey AND src.attr <> base.attr")
      .whenMatchedUpdate(Map("attr" -> "src.attr"))
    assertPruned(b, t)
    val e = intercept[Exception](b.execute(t))
    assert(causeMessages(e).exists(_.contains("matched by multiple source rows")),
      s"unexpected error: $e")
    assert(t.latestVersion == v0)
  }

  test("file-pruned path, non-equi conjunct: an insert-only merge passes a " +
       "target row matched by two source rows through exactly once") {
    val t = threeFiles("prunedinsonlyne")
    val kept = edgeFiles(t)
    // (15, x) and (15, y) both match base row 15; (16, v16) matches no
    // row (equal attr), so it is inserted beside the base row 16
    val b = Merge.into(t.toDF, "base")
      .using(df(schema, Seq(Row(15, "x"), Row(15, "y"), Row(16, "v16"),
        Row(40, "new"))), "src", "base.pkey = src.pkey AND src.attr <> base.attr")
      .whenNotMatchedInsertAll()
    assertPruned(b, t)
    b.execute(t)
    val expected = (1 to 30).map(i => i -> Seq(s"v$i")).toMap +
      (16 -> Seq("v16", "v16")) + (40 -> Seq("new"))
    assert(contents(t) == expected)
    assert(kept.subsetOf(t.fileStats.map(_.path).toSet))
  }

  // ---- the written layout ----------------------------------------------

  private def pkBounds(t: ManagedTable): Seq[(Int, Int)] =
    t.fileStats.map(f => (f.min("pkey").toInt, f.max("pkey").toInt)).sortBy(_._1)

  private def assertDisjoint(bounds: Seq[(Int, Int)]): Unit =
    assert(bounds.zip(bounds.tail).forall { case ((_, hi), (lo, _)) => hi < lo },
      s"files overlap on pkey: $bounds")

  private def upsert(t: ManagedTable, keys: Seq[Int]): Unit =
    Merge.into(t.toDF, "base")
      .using(df(schema, keys.map(i => Row(i, s"u$i"))), "src", "base.pkey = src.pkey")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute(t)

  private def upserted(t: ManagedTable, ranges: Seq[Range], keys: Seq[Int]): Unit = {
    val old = ranges.flatten.map(i => i -> Seq(s"v$i")).toMap
    assert(contents(t) == old ++ keys.map(i => i -> Seq(s"u$i")))
  }

  test("a full-rewrite merge of a pk-sorted table writes files whose pk " +
       "bounds stay disjoint") {
    val ranges = Seq(1 to 25, 26 to 50, 51 to 75, 76 to 100)
    val t = filesOver("rewritelayout", ranges: _*)
    // one key in every file: pruning removes nothing, the merge rewrites
    // the whole snapshot through the outer join
    val keys = Seq(10, 30, 60, 90, 101, 102)
    val b = Merge.into(t.toDF, "base")
      .using(df(schema, keys.map(i => Row(i, s"u$i"))), "src", "base.pkey = src.pkey")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
    assert(b.filePrunePlan(t.latestEntry) == Merge.FilePrune.Fallback)
    b.execute(t)
    assert(pkBounds(t) == Seq((1, 25), (26, 50), (51, 75), (76, 102)))
    upserted(t, ranges, keys)
  }

  test("a pruned merge over k disjoint touched files writes exactly k " +
       "files, each over its replaced file's range or extending it") {
    val ranges = Seq(1 to 10, 21 to 30, 41 to 50, 61 to 70, 81 to 90)
    val t = filesOver("layoutk", ranges: _*)
    val kept = t.fileStats.filter(f => Set(1, 41, 81)(f.min("pkey").toInt))
      .map(_.path).toSet
    // 25 and 65 touch two files; the inserts 35 and 75 extend them
    // upwards, and 58 extends 61-70 downwards: 21-30 would have to
    // stretch over the kept 41-50 to take it
    val keys = Seq(25, 35, 58, 65, 75)
    upsert(t, keys)
    assert(kept.subsetOf(t.fileStats.map(_.path).toSet))
    assert(pkBounds(t) == Seq((1, 10), (21, 35), (41, 50), (58, 75), (81, 90)))
    upserted(t, ranges, keys)
  }

  test("a pruned merge gives an inserted key that no touched file can take " +
       "without crossing a kept file a file of its own") {
    val ranges = Seq(1 to 10, 21 to 30, 41 to 50)
    val t = filesOver("layoutorphan", ranges: _*)
    // 15 extends the touched 21-30 downwards; 95 lies beyond the kept 41-50
    val keys = Seq(15, 25, 95)
    upsert(t, keys)
    assert(pkBounds(t) == Seq((1, 10), (15, 30), (41, 50), (95, 95)))
    upserted(t, ranges, keys)
  }

  test("overlapping touched files keep the range layout, which costs the " +
       "sample job the layout-keeping write does not run") {
    val disjoint = filesOver("jobsdisjoint", 1 to 20, 21 to 40, 41 to 60)
    val overlapping = filesOver("jobsoverlap", 1 to 20, 15 to 40, 41 to 60)
    // keys 5 and 25 touch the first two files of either table
    val layoutJobs = countJobs(upsert(disjoint, Seq(5, 25)))
    val rangeJobs = countJobs(upsert(overlapping, Seq(5, 25)))
    info(s"pruned merge: $layoutJobs jobs keeping the layout, $rangeJobs " +
      "range-partitioning")
    assert(layoutJobs == rangeJobs - 1)
    assertDisjoint(pkBounds(disjoint))
    assertDisjoint(pkBounds(overlapping))
    upserted(disjoint, Seq(1 to 60), Seq(5, 25))
    assert(contents(overlapping) == (1 to 60).map(i =>
      i -> (if (i == 5) Seq("u5") else if (i == 25) Seq("u25")
            else if (i >= 15 && i <= 20) Seq(s"v$i", s"v$i") else Seq(s"v$i"))).toMap)
  }

  test("executeStaged refuses a transaction marker, schema evolution or a " +
       "notMatchedBySource clause") {
    val t = threeFiles("stagedguard")
    val v0 = t.latestVersion
    val src = df(schema, Seq(Row(15, "x")))
    val unsupported = Seq[Merge.Builder => Merge.Builder](
      _.withTxn("app", 1), _.withSchemaEvolution(), _.whenNotMatchedBySourceDelete())
    unsupported.foreach { f =>
      intercept[IllegalArgumentException](
        Merge.executeStaged(t, "pkey", src.select("pkey"))(base =>
          f(Merge.into(base, "base").using(src, "src", "base.pkey = src.pkey")
            .whenMatchedUpdateAll())))
    }
    assert(t.latestVersion == v0)
  }
}
