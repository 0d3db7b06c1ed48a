package graft.tables

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Property-style invariants for the DML + CDF machinery over seeded
  * random commit sequences (append / delete / update / optimize) against
  * a driver-side multiset model:
  *   1. the table's contents equal the model after every sequence;
  *   2. the change feed replayed over the starting snapshot reproduces
  *      the final snapshot (inserts added, deletes removed, in commit
  *      order) — at whatever file layout the sequence produced;
  *   3. versions advance only for effective commits (no-op DML burns
  *      nothing);
  *   4. after every step, every log version's on-disk `dirs` are exactly
  *      its files' leaf dirs (the log's file list is the whole snapshot)
  *      and the metadata row count equals the model's size — including
  *      after a final step that deletes every row.
  */
class DmlPropertySpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", LongType)))

  /** Invariant 4 over the raw log JSON of every version of `t`. */
  private def checkLog(t: ManagedTable, loc: String, modelRows: Int, what: String): Unit = {
    val mapper = new ObjectMapper()
    (0L to t.latestVersion).foreach { v =>
      val n = mapper.readTree(Files.readString(Paths.get(loc, "_graft_log", s"v$v.json")))
      val dirs = n.get("dirs").elements().asScala.map(_.asText()).toSet
      val leaves = n.get("files").elements().asScala
        .map { f => val p = f.get("path").asText(); p.substring(0, p.lastIndexOf('/')) }.toSet
      assert(dirs == leaves, s"$what: v$v dirs $dirs != its files' leaf dirs $leaves")
    }
    assert(t.numRows == modelRows, s"$what: numRows ${t.numRows} != model $modelRows")
  }

  /** Invariant 2: the snapshot at `from` with every later version's change
    * feed applied in commit order, as sorted (k, v) pairs. */
  private def replay(t: ManagedTable, from: Long): Seq[(Long, Long)] = {
    val to = t.latestVersion
    val ch = t.changes(from, to).persist()
    var state = t.toDF(from)
    ((from + 1) to to).foreach { v =>
      val c = ch.filter(col("_commit_version") === v)
      state = state
        .exceptAll(c.filter(col("_change_type")
          .isin("delete", "update_preimage")).select("k", "v"))
        .unionAll(c.filter(col("_change_type")
          .isin("insert", "update_postimage")).select("k", "v"))
    }
    val replayed = state.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    ch.unpersist()
    replayed
  }

  test("DML + CDF invariants hold for 8 random commit sequences") {
    val rnd = new scala.util.Random(77)
    (1 to 8).foreach { i =>
      // alternate CDF sidecar capture on/off so the replay invariant
      // property-tests BOTH feed paths (sidecar read vs derivation)
      val loc = tmpDir(s"dmlp$i")
      val t = ManagedTable.create(
        df(schema, (0L until 60L).map(k => Row(k, k * 2))), loc,
        properties =
          if (i % 2 == 0) Map(ManagedTable.cdfPropKey -> "true") else Map.empty)
      t.optimize(targetFileSizeBytes = 1024, sortBy = Seq("k"))
      var model: Vector[(Long, Long)] =
        (0L until 60L).map(k => (k, k * 2)).toVector
      val v0 = t.latestVersion
      var nextK = 1000L * i
      checkLog(t, loc, model.size, s"case $i setup")

      (1 to 6).foreach { step =>
        rnd.nextInt(4) match {
          case 0 => // append a small batch (possibly duplicate keys)
            val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
              val k = if (rnd.nextBoolean()) { nextK += 1; nextK }
                      else rnd.nextInt(60).toLong
              (k, k + 7)
            }
            t.append(df(schema, rows.map { case (k, v) => Row(k, v) }))
            model = model ++ rows
          case 1 => // range delete
            val lo = rnd.nextInt(80).toLong
            val hi = lo + rnd.nextInt(20)
            val before = t.latestVersion
            val n = t.delete(s"k >= $lo AND k <= $hi")
            val (dropped, kept) = model.partition(r => r._1 >= lo && r._1 <= hi)
            assert(n == dropped.size, s"case $i delete [$lo,$hi]")
            model = kept
            if (n == 0) assert(t.latestVersion == before, "no-op delete burned a version")
          case 2 => // conditional update
            val lo = rnd.nextInt(80).toLong
            val hi = lo + rnd.nextInt(25)
            val before = t.latestVersion
            val n = t.update(Map("v" -> "v + 1"), Some(s"k >= $lo AND k <= $hi"))
            assert(n == model.count(r => r._1 >= lo && r._1 <= hi))
            model = model.map(r =>
              if (r._1 >= lo && r._1 <= hi) (r._1, r._2 + 1) else r)
            if (n == 0) assert(t.latestVersion == before, "no-op update burned a version")
          case 3 => // compaction: contents unchanged, CDF silent
            t.optimize(targetFileSizeBytes = 4 * 1024, sortBy = Seq("k"))
            // the files are then disjoint on k, and laid out for good
            val bounds = t.fileStats.map(f => (f.min("k").toLong, f.max("k").toLong)).sorted
            assert(bounds.zip(bounds.tail).forall { case ((_, hi), (lo, _)) => hi < lo },
              s"case $i: files overlap on k after OPTIMIZE: $bounds")
            val v = t.latestVersion
            val laidOut = t.fileStats.map(f => (f.min("k"), f.max("k"), f.rows, f.bytes, f.dv))
            t.optimize(targetFileSizeBytes = 4 * 1024, sortBy = Seq("k"))
            assert(t.latestVersion == v,
              s"case $i: a second OPTIMIZE burned a version over $laidOut")
        }
        checkLog(t, loc, model.size, s"case $i step $step")
      }

      // 1. contents == model (multiset)
      val got = t.toDF.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == model.sorted.toSeq, s"case $i contents diverged from model")

      // 2. CDF replay: from-snapshot + feed == final snapshot
      assert(replay(t, v0) == got, s"case $i CDF replay diverged")

      // delete every row: the empty table reads, counts, replays and
      // no-ops like any other
      assert(t.delete("true") == model.size, s"case $i delete-all")
      model = Vector.empty
      checkLog(t, loc, 0, s"case $i delete-all")
      val emptyAt = t.latestVersion
      assert(t.delete("true") == 0 && t.update(Map("v" -> "v + 1")) == 0)
      t.optimize(targetFileSizeBytes = 4 * 1024, sortBy = Seq("k"))
      assert(t.latestVersion == emptyAt, s"case $i: an empty-table no-op burned a version")
      checkLog(t, loc, 0, s"case $i empty")
      assert(t.toDF.isEmpty, s"case $i: rows left after delete-all")
      assert(replay(t, v0).isEmpty, s"case $i CDF replay to the empty table diverged")
      ()
    }
  }
}
