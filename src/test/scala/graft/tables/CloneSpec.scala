package graft.tables

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[ManagedTable.cloneTo]]: O(metadata) zero-copy clone — contents
  * equal at clone time, the two tables evolve independently, the clone
  * SURVIVES a source vacuum (hard links), deletion vectors travel, and
  * `graft.txn.*` stream markers do not.
  */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  test("clone equals the source snapshot; both evolve independently") {
    val t = ManagedTable.create(
      spark.range(500).select(col("id").as("k"), (col("id") * 2).as("v")),
      tmpDir("cl1"))
    t.optimize(targetFileSizeBytes = 4 * 1024, sortBy = Seq("k"))
    t.delete("k < 50")
    val c = t.cloneTo(tmpDir("cl1_clone"))
    assert(c.toDF.exceptAll(t.toDF).isEmpty && t.toDF.exceptAll(c.toDF).isEmpty)
    assert(c.latestVersion == 0, "clone history starts fresh")
    // divergence: source delete does not touch the clone, clone append
    // does not touch the source
    t.delete("k >= 400")
    c.append(Seq((9000L, 0L)).toDF("k", "v"))
    assert(t.toDF.count() == 350)
    assert(c.toDF.count() == 451)
    assert(c.history.filter(col("operation") === "CLONE").count() == 1)
  }

  test("an empty partitioned table clones; the clone evolves on its own") {
    val t = ManagedTable.create(
      spark.range(0).select(col("id").as("k"), (col("id") % 2).as("p")),
      tmpDir("cl0"), partitionBy = Seq("p"))
    val c = t.cloneTo(tmpDir("cl0_clone"))
    assert(c.toDF.isEmpty && c.partitionColumns == Seq("p"))
    c.append(Seq((7L, 1L)).toDF("k", "p"))
    assert(c.toDF.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 1L)))
    assert(t.latestVersion == 0 && t.toDF.isEmpty && t.numRows == 0,
      "appending to the clone changed the source")
  }

  test("vacuuming the source does not break the clone (hard links)") {
    val t = ManagedTable.create(
      spark.range(300).select(col("id").as("k"), col("id").as("v")),
      tmpDir("cl2"))
    t.optimize(targetFileSizeBytes = 2 * 1024, sortBy = Seq("k"))
    val c = t.cloneTo(tmpDir("cl2_clone"))
    // source rewrites everything, then reclaims the cloned-from files
    t.delete("k < 150")
    t.optimize(targetFileSizeBytes = 128L * 1024 * 1024)
    t.vacuum(retainVersions = 1, minAgeMillis = 0)
    assert(t.toDF.count() == 150)
    assert(c.toDF.count() == 300,
      "the clone must keep reading every original row after source vacuum")
  }

  test("deletion vectors travel with the clone") {
    val t = ManagedTable.create(
      spark.range(200).select(col("id").as("k"), col("id").as("v")),
      tmpDir("cl3"), properties = Map(ManagedTable.dvPropKey -> "true"))
    t.optimize(targetFileSizeBytes = 2 * 1024, sortBy = Seq("k"))
    assert(t.delete("k < 20") == 20)
    val c = t.cloneTo(tmpDir("cl3_clone"))
    assert(c.toDF.count() == 180)
    assert(c.toDF.filter("k < 20").count() == 0,
      "cloned vectors must keep masking the deleted rows")
    // and the clone's own DV DML works against the linked vectors
    assert(c.delete("k < 40") == 20)
    assert(c.toDF.count() == 160)
    assert(t.toDF.count() == 180, "source unaffected by clone DML")
  }

  test("txn markers are dropped; other properties survive; target refuses " +
       "when occupied") {
    val t = ManagedTable.create(
      spark.range(10).select(col("id").as("k")), tmpDir("cl4"),
      properties = Map("custom.key" -> "yes"))
    t.append(spark.range(10, 20).select(col("id").as("k")),
      txn = Some(("stream-a", 7L)))
    val c = t.cloneTo(tmpDir("cl4_clone"))
    assert(c.properties.get("custom.key").contains("yes"))
    assert(!c.properties.keys.exists(_.startsWith("graft.txn.")),
      "a stream's idempotency watermark must not follow the clone")
    // the same stream batch APPLIES to the clone (would be skipped on t)
    c.append(spark.range(100, 105).select(col("id").as("k")),
      txn = Some(("stream-a", 7L)))
    assert(c.toDF.count() == 25)
    val e = intercept[IllegalArgumentException](t.cloneTo(c.location))
    assert(e.getMessage.contains("exists"))
  }
}
