package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Appends, Scd2}
import graft.tables.ManagedTable

final case class Scd2Row(pk: Long, attr_a: Long, attr_b: String,
                         is_current: Boolean, effective_time: Long,
                         end_time: Option[Long])
final case class Scd2Update(pk: Long, attr_a: Long, attr_b: String,
                            effective_time: Long)

/** Seeded inputs of `scd2_merge`: the initial SCD2 table and every batch.
  * Attribute values are a pure function of (seed, key, version), so the
  * model needs only each key's current version.
  */
final class Scd2Gen(val seed: Long, val initialKeys: Int, val batchRows: Int)
    extends Serializable {
  def attrA(pk: Long, ver: Int): Long = Mix.below(seed, 1, pk, ver, 1000)
  def attrB(pk: Long, ver: Int): String = "b" + Mix.below(seed, 2, pk, ver, 5000)
  /** A quarter of the initial keys also carry a closed version 0. */
  def hasHistory(pk: Long): Boolean = Mix.below(seed, 3, pk, 0, 4) == 0

  def initialRows(pk: Long): Seq[Scd2Row] = {
    val cur = Scd2Row(pk, attrA(pk, 1), attrB(pk, 1), is_current = true, 1L, None)
    if (!hasHistory(pk)) Seq(cur)
    else Seq(Scd2Row(pk, attrA(pk, 0), attrB(pk, 0), is_current = false, 0L,
      Some(1L)), cur)
  }

  /** The expected table: each key's current version and the row count. */
  final class Model {
    val ver = mutable.ArrayBuffer.fill(initialKeys)(1)
    var rows: Long = (0L until initialKeys).count(hasHistory).toLong + initialKeys
    def nextPk: Long = ver.size.toLong
  }

  /** An upsert batch on op `b`: 90% existing keys (a tenth of them
    * unchanged, which SCD2 must treat as a no-op) and 10% new keys.
    * Clustered batches draw existing keys from the newest 4x batchRows
    * keys; uniform ones from all keys. Returns each row with the version
    * its attributes belong to.
    */
  def upsert(b: Long, clustered: Boolean, m: Model): Seq[(Scd2Update, Int)] = {
    val rnd = Mix.rng(seed, 10, b)
    val hi = m.nextPk
    val existing = batchRows * 9 / 10
    val lo = if (clustered) math.max(0L, hi - 4L * batchRows) else 0L
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < existing) keys += lo + rnd.nextLong(hi - lo)
    val eff = 10L + b
    val upd = keys.toSeq.map { pk =>
      val cur = m.ver(pk.toInt)
      val v = if (rnd.nextInt(10) == 0) cur else cur + 1
      (Scd2Update(pk, attrA(pk, v), attrB(pk, v), eff), v)
    }
    val fresh = (hi until hi + (batchRows - existing)).map { pk =>
      (Scd2Update(pk, attrA(pk, 1), attrB(pk, 1), eff), 1)
    }
    upd ++ fresh
  }

  /** Applies a successful upsert to the model (SCD2 semantics: a changed
    * key closes its current row and adds one; a new key adds one).
    */
  def applyUpsert(m: Model, batch: Seq[(Scd2Update, Int)]): Long = {
    var changed = 0L
    batch.foreach { case (u, v) =>
      if (u.pk >= m.nextPk) {
        require(u.pk == m.nextPk, "new keys are contiguous")
        m.ver += v; m.rows += 1; changed += 1
      } else {
        val cur = m.ver(u.pk.toInt)
        if (attrA(u.pk, cur) != u.attr_a || attrB(u.pk, cur) != u.attr_b) {
          m.ver(u.pk.toInt) = v; m.rows += 1; changed += 1
        }
      }
    }
    changed
  }

  /** An append batch on op `b`: batchRows/2 new keys (a tenth of them sent
    * twice, identically) and batchRows/2 existing keys with foreign
    * attributes that appendWithoutDuplicates must drop.
    */
  def append(b: Long, m: Model): (Seq[Scd2Row], Int) = {
    val rnd = Mix.rng(seed, 11, b)
    val hi = m.nextPk
    val half = batchRows / 2
    val eff = 10L + b
    val fresh = (hi until hi + half).map(pk =>
      Scd2Row(pk, attrA(pk, 1), attrB(pk, 1), is_current = true, eff, None))
    val again = fresh.filter(_ => rnd.nextInt(10) == 0)
    val clash = (0 until half).map { _ =>
      val pk = rnd.nextLong(hi)
      Scd2Row(pk, 1000L + rnd.nextInt(1000), "x", is_current = true, eff, None)
    }
    val rows = (fresh ++ again ++ clash).toArray
    for (j <- rows.indices.reverse) {
      val k = rnd.nextInt(j + 1); val t = rows(j); rows(j) = rows(k); rows(k) = t
    }
    (rows.toSeq, half)
  }

  def applyAppend(m: Model, newKeys: Int): Unit = {
    m.ver ++= Seq.fill(newKeys)(1); m.rows += newKeys
  }

  /** Fingerprint of the initial table and the batches of `ops` operations
    * of `schedule`.
    */
  def fingerprint(schedule: Long => Scd2Merge.Kind, ops: Int): String = {
    val fp = new Fingerprint
    (0L until initialKeys).foreach { pk =>
      initialRows(pk).foreach { r =>
        fp.add(r.pk); fp.add(r.attr_a); fp.add(r.attr_b)
        fp.add(r.effective_time)
      }
    }
    val m = new Model
    (0L until ops).foreach { b =>
      schedule(b) match {
        case Scd2Merge.Clustered | Scd2Merge.Uniform =>
          val batch = upsert(b, schedule(b) == Scd2Merge.Clustered, m)
          batch.foreach { case (u, v) => fp.add(u.pk); fp.add(v.toLong) }
          applyUpsert(m, batch)
        case Scd2Merge.Append =>
          val (rows, n) = append(b, m)
          rows.foreach(r => { fp.add(r.pk); fp.add(r.attr_a) })
          applyAppend(m, n)
        case Scd2Merge.Optimize => fp.add(-1L)
      }
    }
    fp.hex
  }
}

object Scd2Merge {
  sealed trait Kind
  case object Clustered extends Kind
  case object Uniform extends Kind
  case object Append extends Kind
  case object Optimize extends Kind

  val InitialKeys = 200000
  val BatchRows = 5000
  /** Target file size at set-up and at each OPTIMIZE: ~1M rows land in
    * about 30 pk-sorted files, so a clustered batch touches one or two.
    */
  val FileBytes = 128L * 1024

  /** The fixed operation mix. The four clustered upserts follow an
    * OPTIMIZE, while the files are pk-sorted (Merge's file-pruned path);
    * the uniform upsert touches every file (the full-rewrite path), then
    * an append, and the next OPTIMIZE re-sorts the table. The warm-up runs
    * the first three operations, so a measured cycle reads OPTIMIZE, C, C,
    * C, C, U, A and the median batch falls among the clustered upserts.
    */
  val Cycle: IndexedSeq[Kind] =
    IndexedSeq(Clustered, Uniform, Append, Optimize, Clustered, Clustered, Clustered)
  def kindOf(i: Long): Kind = Cycle((i % Cycle.size).toInt)
}

/** `scd2_merge`: SCD2 upserts, appends without duplicates and a periodic
  * OPTIMIZE on a ~1M-row SCD2 table (graft.operators over graft.tables).
  */
final class Scd2Merge(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import Scd2Merge._
  import spark.implicits._

  private val gen = new Scd2Gen(seed, InitialKeys, BatchRows)
  private var table: ManagedTable = _
  private var model: gen.Model = _
  private val attrs = Seq("attr_a", "attr_b")

  // measured samples
  private case class WriteOp(kind: Kind, seconds: Double, inputRows: Long,
                             changedRows: Long, version: Long,
                             filesBefore: Long)
  private val writes = mutable.ArrayBuffer[WriteOp]()

  def cycle: Int = Cycle.size
  def warmupOps: Int = 3
  lazy val fingerprint: String = gen.fingerprint(kindOf, 2 * Cycle.size)

  def setup(dir: Path): Unit = {
    val g = gen // the closure ships the generator, not the workload
    val rows = spark.range(0L, InitialKeys.toLong, 1L, 8).as[Long]
      .flatMap(pk => g.initialRows(pk))
    table = tr.span("tables.create") {
      ManagedTable.create(rows.toDF(), dir.resolve("scd2").toString)
    }
    tr.span("tables.optimize") {
      table.optimize(targetFileSizeBytes = FileBytes, sortBy = Seq("pk"))
    }
    model = new gen.Model
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def op(i: Long): Unit = {
    val kind = kindOf(i)
    val filesBefore = table.detail.numFiles
    val (inputRows, changed, secs) = kind match {
      case Clustered | Uniform =>
        val batch = gen.upsert(i, kind == Clustered, model)
        val df = batch.map(_._1).toDF()
        val name = if (kind == Clustered) "operators.scd2_upsert_clustered"
          else "operators.scd2_upsert_uniform"
        val (_, s) = timed(tr.span(name) {
          Scd2.upsert(table, df, "pk", attrs)
        })
        (batch.size.toLong, gen.applyUpsert(model, batch), s)
      case Append =>
        val (rows, newKeys) = gen.append(i, model)
        val df = rows.toDF()
        val (_, s) = timed(tr.span("operators.append_without_dups") {
          Appends.appendWithoutDuplicates(table, df, Seq("pk"))
        })
        gen.applyAppend(model, newKeys)
        (rows.size.toLong, newKeys.toLong, s)
      case Optimize =>
        val (_, s) = timed(tr.span("tables.optimize") {
          table.optimize(targetFileSizeBytes = FileBytes, sortBy = Seq("pk"))
        })
        (0L, 0L, s)
    }
    val rowsNow = table.numRows
    Check(rowsNow == model.rows,
      s"op $i ($kind): table has $rowsNow rows, model expects ${model.rows}")
    if (tr.phase == "measure")
      writes += WriteOp(kind, secs, inputRows, changed, table.latestVersion,
        filesBefore)
  }

  def finalCheck(): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val df = table.toDF
    val total = df.count()
    if (total != model.rows) errs += s"table has $total rows, model ${model.rows}"
    val perKey = df.groupBy("pk")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("c"))
    val keys = perKey.count()
    if (keys != model.nextPk) errs += s"table has $keys keys, model ${model.nextPk}"
    val bad = perKey.filter(col("c") =!= 1).count()
    if (bad != 0) errs += s"$bad keys do not have exactly one current row"
    val rnd = Mix.rng(seed, 12, 0)
    val sample = Seq.fill(500)(rnd.nextLong(model.nextPk)).distinct
    val got = df.filter(col("is_current") && col("pk").isin(sample: _*))
      .select("pk", "attr_a", "attr_b").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    sample.foreach { pk =>
      val v = model.ver(pk.toInt)
      val want = (gen.attrA(pk, v), gen.attrB(pk, v))
      if (!got.get(pk).contains(want))
        errs += s"key $pk: current attributes ${got.get(pk)}, model $want"
    }
    errs.take(20).toSeq
  }

  def resetSamples(): Unit = writes.clear()

  private def merges = writes.filter(w => w.kind != Optimize)

  /** Bytes written and files removed by each commit, from the table
    * history (the full-rewrite path records no numRemovedFiles).
    */
  private def commits(): Map[Long, (Long, Option[Long])] =
    table.history.select(col("version"),
        col("operationMetrics")("numOutputBytes"),
        col("operationMetrics")("numRemovedFiles"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)).map(_.toLong).getOrElse(0L),
          Option(r.getString(2)).map(_.toLong)))
      .toMap
  def endToEnd: Seq[Metric] = {
    val bytesOf = commits().view.mapValues(_._1).toMap.withDefaultValue(0L)
    val ms = merges.map(_.seconds).toSeq
    val rows = merges.map(_.inputRows).sum
    val secs = writes.map(_.seconds).sum
    val bytes = writes.map(w => bytesOf(w.version)).sum
    val changed = merges.map(_.changedRows).sum
    Seq(
      Metric("throughput_per_s", rows / secs, "1/s",
        "upsert_rows_per_s", "rows/s",
        s"$rows batch rows over ${"%.3f".format(secs)} s of writes incl. OPTIMIZE"),
      Metric("op_p50_s", Stats.median(ms), "s", "merge_batch_p50_s", "s",
        s"n=${ms.size} upsert and append batches: " +
          writes.map(w => f"${w.kind.toString.take(1)} ${w.seconds}%.2f").mkString(", ")),
      Metric("write_bytes_per_row", bytes.toDouble / changed, "bytes",
        "write_bytes_per_row", "bytes",
        s"$bytes bytes over $changed changed or inserted rows, ${writes.size} commits"),
    )
  }

  def perLayer(t: Tracer): Seq[Metric] = {
    val commits = this.commits()
    def med(name: String) = {
      val xs = t.named(name).map(_.seconds)
      Metric(name + "_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s",
        note = s"median, n=${xs.size}")
    }
    val rewritten = merges.filter(_.kind != Append).map { w =>
      // the full-rewrite path records no numRemovedFiles: it removes all
      commits.get(w.version).flatMap(_._2).getOrElse(w.filesBefore)
        .toDouble / w.filesBefore
    }
    val mergeBytes = merges.map(w => commits.get(w.version).map(_._1).getOrElse(0L).toDouble)
    val d = table.detail
    val upserts = (t.named("operators.scd2_upsert_clustered") ++
      t.named("operators.scd2_upsert_uniform")).toSeq
    Seq(
      med("operators.scd2_upsert_clustered"),
      med("operators.scd2_upsert_uniform"),
      med("operators.append_without_dups"),
      Metric("tables.merge_files_rewritten_frac", Stats.mean(rewritten.toSeq), "frac",
        note = s"mean over ${rewritten.size} upserts: " +
          rewritten.map(x => "%.2f".format(x)).mkString(" ")),
      Metric("tables.commit_bytes_written",
        if (mergeBytes.isEmpty) 0.0 else Stats.median(mergeBytes.toSeq), "bytes",
        note = s"median per upsert/append commit, n=${mergeBytes.size}"),
      med("tables.optimize"),
      Metric("tables.bytes_per_live_row", d.sizeInBytes.toDouble / model.rows,
        "bytes", note = s"${d.sizeInBytes} bytes, ${model.rows} rows"),
      Metric("tables.num_files_end", d.numFiles.toDouble, "count"),
    ) ++ t.perOp(upserts, "scd2 upsert")
  }
}
