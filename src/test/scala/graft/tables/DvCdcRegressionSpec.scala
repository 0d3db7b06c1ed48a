package graft.tables

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Regressions at the deletion-vector / change-feed boundary:
  *  - a DV-only commit (paths unchanged, vectors swapped) must be VISIBLE
  *    to stale-base rebase conflict checks — a file-pruned rewrite that
  *    planned before the vector landed would otherwise resurrect the
  *    deleted rows;
  *  - metadata and repair commits (RESTORE, ADD COLUMNS, property,
  *    column and NOT NULL changes, FSCK) must not inherit the previous
  *    commit's CDC sidecar or metrics — the feed would re-emit those rows
  *    under the new version, and history would report another
  *    operation's counts;
  *  - raw-mode (`net = false`) changes() must surface DV deletes/updates
  *    through the sidecar — the snapshot file-diff cannot see them.
  */
class DvCdcRegressionSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): ManagedTable = {
    val t = ManagedTable.create(
      spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v")),
      tmpDir(name),
      properties = Map(
        ManagedTable.dvPropKey -> "true",
        ManagedTable.cdfPropKey -> "true"))
    t.optimize(targetFileSizeBytes = 2 * 1024, sortBy = Seq("k"))
    t
  }

  test("a stale-base file rewrite conflicts with a concurrent DV-only commit") {
    val t = fixture("dvc1")
    val base = t.latestEntry
    // the file holding the low keys, pre-vector
    val f0 = base.files.minBy(_.min.get("k").map(_.toLong).getOrElse(Long.MaxValue))
    // concurrent merge-on-read DELETE: swaps f0's vector, no path changes
    assert(t.delete("k < 5") == 5)
    assert(t.fileStats.map(_.path).sorted == base.files.map(_.path).sorted,
      "setup: the delete must be DV-only (no file added or removed)")
    // a rewrite of f0 planned against the stale base must RAISE, not
    // rebase — its replacement rows were computed before the delete
    val replacement = spark.range(5).select(col("id").as("k"), lit(0L).as("v"))
    val e = intercept[ConcurrentCommitException] {
      t.replaceFiles(Set(f0.path), replacement, "MERGE", base)
    }
    assert(e.getMessage.contains("conflict"))
    // the deleted keys stay deleted
    assert(t.toDF.filter("k < 5").count() == 0)
  }

  test("metadata commits do not re-emit the previous commit's change rows") {
    val t = fixture("dvc2")
    val v0 = t.latestVersion
    assert(t.delete("k < 10") == 10) // writes a CDC sidecar
    t.setProperties(Map("graft.note" -> "x"))
    t.addColumns(Seq(org.apache.spark.sql.types.StructField(
      "extra", org.apache.spark.sql.types.LongType)))
    t.restore(t.latestVersion - 1) // restore to post-addColumns state
    val feed = t.changes(v0).select("_change_type", "k").collect()
    assert(feed.length == 10,
      s"each deleted row must appear exactly once, got ${feed.length}")
    assert(feed.forall(_.getString(0) == "delete"))
    assert(feed.map(_.getLong(1)).sorted.toSeq == (0L until 10L))
    // and per-commit: only the DELETE version carries rows
    val byVersion = t.changes(v0).groupBy("_commit_version").count().collect()
    assert(byVersion.length == 1)
  }

  test("metadata and repair commits carry only their own metrics and no " +
       "change rows") {
    val t = ManagedTable.create(
      spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"),
        lit("x").as("w")),
      tmpDir("dvc6"),
      properties = Map(
        ManagedTable.dvPropKey -> "true",
        ManagedTable.cdfPropKey -> "true",
        "graft.note" -> "x"))
    t.optimize(targetFileSizeBytes = 2 * 1024, sortBy = Seq("k"))
    val v0 = t.latestVersion
    assert(t.delete("k < 10") == 10) // writes a CDC sidecar
    assert(t.latestEntry.cdc.nonEmpty, "setup: the DELETE must write a sidecar")
    val deleteVersion = t.latestVersion
    // FSCK repairs a file the DELETE did not touch, lost out of band
    val lost = t.fileStats.maxBy(_.max("k").toLong)
    val ops: Seq[(String, () => Unit)] = Seq(
      "UNSET TBLPROPERTIES" -> (() => t.unsetProperties(Seq("graft.note"))),
      "DROP COLUMN" -> (() => t.dropColumn("w")),
      "DROP NOT NULL" -> (() => t.dropNotNull("k")),
      "SET NOT NULL" -> (() => t.setNotNull("k")),
      "FSCK" -> { () =>
        java.nio.file.Files.delete(t.dataFilePath(lost.path))
        assert(t.fsck(repair = true) == Seq(lost.path))
      })
    ops.foreach { case (op, run) =>
      val before = t.latestVersion
      run()
      assert(t.latestVersion == before + 1, s"$op must commit")
      assert(t.latestEntry.operation == op)
      assert(t.latestEntry.cdc.isEmpty, s"$op inherited a CDC sidecar")
    }
    val metrics = t.history.collect()
      .map(r => r.getLong(0) -> r.getMap[String, String](3).toMap).toMap
    assert(metrics(deleteVersion)("numDeletedRows") == "10")
    ((deleteVersion + 1) until t.latestVersion).foreach { v =>
      assert(metrics(v).isEmpty, s"v$v carries metrics it did not produce: ${metrics(v)}")
    }
    assert(metrics(t.latestVersion) == Map("numRemovedFiles" -> "1"))
    // the feed up to the repair (which dropped an unreadable file) holds
    // exactly the DELETE's rows, once, under the DELETE's version
    val feed = t.changes(v0, t.latestVersion - 1)
      .select("_change_type", "k", "_commit_version").collect()
    assert(feed.map(_.getLong(1)).sorted.toSeq == (0L until 10L))
    assert(feed.forall(r => r.getString(0) == "delete" &&
      r.getLong(2) == deleteVersion))
  }

  test("RESTORE across a DV commit feeds changes() — re-exposed rows are " +
       "inserts; restore to a vacuumed version refuses loud") {
    val t = fixture("dvc4")
    val vPre = t.latestVersion
    assert(t.delete("k < 30") == 30) // DV commit (sidecar'd)
    t.restore(vPre) // sidecar-LESS vector change: the 30 rows come back
    assert(t.toDF.count() == 1000)
    val feed = t.changes(vPre).groupBy("_change_type", "_commit_version")
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(feed((("delete", vPre + 1))) == 30L, s"got $feed")
    assert(feed((("insert", vPre + 2))) == 30L,
      s"the restore must emit the re-exposed rows as inserts, got $feed")
    // net across the whole range: delete+insert cancel commit-by-commit,
    // never across commits — both legs stay visible
    assert(t.changes(vPre).count() == 60)

    // restore to a reclaimed version refuses instead of committing a
    // snapshot whose every read would throw
    val t2 = fixture("dvc5")
    t2.delete("k < 10")
    t2.optimize(targetFileSizeBytes = 128L * 1024 * 1024)
    t2.vacuum(retainVersions = 1, minAgeMillis = 0)
    val e = intercept[IllegalStateException](t2.restore(0))
    assert(e.getMessage.contains("vacuumed"))
    assert(t2.toDF.count() == 990, "the failed restore must not commit")
  }

  test("raw-mode changes() surfaces DV deletes and updates via the sidecar") {
    val t = fixture("dvc3")
    val v0 = t.latestVersion
    assert(t.delete("k BETWEEN 0 AND 9") == 10)
    assert(t.update(Map("v" -> "v + 1000"), Some("k BETWEEN 20 AND 24")) == 5)
    val raw = t.changes(v0, net = false)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(raw == Map(
      "delete" -> 10L, "update_preimage" -> 5L, "update_postimage" -> 5L),
      s"raw feed must carry the DV commits' rows, got $raw")
  }
}
