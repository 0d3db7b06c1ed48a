package graft.tables

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The incremental sortBy OPTIMIZE of an unpartitioned table: only the
  * files out of place on the leading sort column are rewritten.
  */
class OptimizeSpec extends SparkSpec {

  /** Rows `ks` over (k, payload): the hex payload does not compress, so
    * a file's bytes grow with its rows.
    */
  private def rows(ks: Range) =
    spark.range(ks.head.toLong, ks.last.toLong + 1, 1, 1)
      .select(col("id").as("k"), sha2(col("id").cast("string"), 256).as("payload"))

  /** One single-file commit per range of `ks`. */
  private def filesOver(prefix: String, ks: Range*): ManagedTable = {
    val t = ManagedTable.create(rows(ks.head), tmpDir(prefix))
    ks.tail.foreach(r => t.append(rows(r)))
    assert(t.fileStats.size == ks.size, "setup: one file per commit")
    t
  }

  private def fileOf(t: ManagedTable, lo: Long): FileStat =
    t.fileStats.find(_.min("k").toLong == lo).get

  private def contents(t: ManagedTable): Seq[(Long, String)] =
    t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  /** Files in key order, checked for the layout sortBy OPTIMIZE leaves:
    * pairwise disjoint bounds, none above 2·target, and no two adjacent
    * files both below target/2.
    */
  private def assertLaidOut(t: ManagedTable, target: Long): Unit = {
    val fs = t.fileStats.sortBy(_.min("k").toLong)
    val desc = fs.map(f => s"[${f.min("k")}, ${f.max("k")}] ${f.bytes} B").mkString("; ")
    assert(fs.zip(fs.tail).forall { case (a, b) => a.max("k").toLong < b.min("k").toLong },
      s"files overlap: $desc")
    assert(fs.forall(_.bytes <= 2 * target), s"a file above 2·target: $desc")
    assert(!fs.zip(fs.tail).exists { case (a, b) => a.bytes < target / 2 && b.bytes < target / 2 },
      s"two adjacent small files: $desc")
  }

  test("sortBy OPTIMIZE rewrites only the files out of place, keeps the " +
       "rest by path and commits nothing when run again") {
    // the target: the size of a 1000-row file
    val target = filesOver("optsize", 0 until 1000).fileStats.head.bytes
    val t = filesOver("optruns",
      0 until 1000, 1000 until 2000,       // in place
      2000 until 2100, 2100 until 2200,    // two small neighbours: a run
      3000 until 4000,                     // in place
      4000 until 4100,                     // one small file: left alone
      5000 until 6000,                     // in place
      6000 until 9000,                     // above 2·target
      9000 until 10000, 9900 until 10900)  // overlapping
    val before = contents(t)
    val rowsBefore = t.numRows
    val kept = Seq(0L, 1000L, 3000L, 4000L, 5000L).map(fileOf(t, _).path)
    t.optimize(targetFileSizeBytes = target, sortBy = Seq("k"))
    assert(contents(t) == before)
    assert(t.numRows == rowsBefore)
    val paths = t.fileStats.map(_.path).toSet
    assert(kept.forall(paths), "an in-place or lone small file was rewritten")
    assert(fileOf(t, 2000L).max("k") == "2199", "the small pair became one file")
    assertLaidOut(t, target)
    val v = t.latestVersion
    t.optimize(targetFileSizeBytes = target, sortBy = Seq("k"))
    assert(t.latestVersion == v, "a second OPTIMIZE burned a version")
  }

  test("sortBy OPTIMIZE of a table already laid out commits nothing") {
    val t = filesOver("optnoop", 0 until 1000, 1000 until 2000, 2000 until 3000)
    val v = t.latestVersion
    t.optimize(targetFileSizeBytes = t.fileStats.head.bytes, sortBy = Seq("k"))
    assert(t.latestVersion == v)
  }

  test("sortBy OPTIMIZE rewrites a file carrying a deletion vector, alone") {
    val t = ManagedTable.create(rows(0 until 1000), tmpDir("optdv"),
      properties = Map(ManagedTable.dvPropKey -> "true"))
    Seq(1000 until 2000, 2000 until 3000).foreach(r => t.append(rows(r)))
    val target = t.fileStats.map(_.bytes).max
    assert(t.delete("k >= 1100 AND k < 1110") == 10)
    val dvFile = t.fileStats.find(_.dv.isDefined).get
    val others = t.fileStats.filter(_.dv.isEmpty).map(_.path)
    val before = contents(t)
    t.optimize(targetFileSizeBytes = target, sortBy = Seq("k"))
    val paths = t.fileStats.map(_.path).toSet
    assert(!paths(dvFile.path) && others.forall(paths))
    assert(t.fileStats.forall(_.dv.isEmpty), "the deletion vector was not materialized")
    assert(contents(t) == before)
    assert(t.numRows == 2990)
    assertLaidOut(t, target)
  }

  test("OPTIMIZE of an empty table commits nothing, in every form") {
    Seq(Seq("p"), Nil).foreach { parts =>
      val t = ManagedTable.create(
        spark.range(0).select(col("id").as("k"), (col("id") % 2).as("p")),
        tmpDir("optempty"), partitionBy = parts)
      val v = t.latestVersion
      t.optimize()
      t.optimize(sortBy = Seq("k"))
      t.optimize(zorderBy = Seq("k"))
      assert(t.latestVersion == v, s"partitionBy $parts: OPTIMIZE burned a version")
      assert(t.numRows == 0 && t.toDF.isEmpty)
    }
  }
}
