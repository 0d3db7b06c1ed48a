package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.tables.{BloomSkip, ManagedTable}

final case class ReadRow(pk: Long, tag: String, amount: Long, category: Int,
                         note: String)

/** Seeded inputs of `snapshot_reads`. Row `i` is a pure function of
  * (seed, i); keys are `3i + offset`, so range counts are analytic.
  */
final class ReadsGen(val seed: Long, val initialRows: Int) extends Serializable {
  val offset: Long = Mix.below(seed, 30, 0, 0, 3)
  def pkOf(i: Long): Long = 3 * i + offset
  def row(i: Long): ReadRow = ReadRow(pkOf(i),
    "t" + java.lang.Long.toHexString(Mix.h(seed, 31, i)),
    Mix.below(seed, 32, i, 0, 1000000), Mix.below(seed, 33, i, 0, 50).toInt,
    "note " + Mix.below(seed, 34, i, 0, 100000) + " of row " + i)

  /** Rows with index in [0, n) whose key lies in [lo, hi]. */
  def rangeCount(lo: Long, hi: Long, n: Long): Long = {
    val first = math.max(0L, Math.floorDiv(lo - offset + 2, 3))
    val last = math.min(n - 1, Math.floorDiv(hi - offset, 3))
    math.max(0L, last - first + 1)
  }

  def fingerprint(ops: Int, schedule: Long => SnapshotReads.Kind): String = {
    val fp = new Fingerprint
    (0L until initialRows).foreach { i =>
      val r = row(i); fp.add(r.pk); fp.add(r.tag); fp.add(r.amount); fp.add(r.note)
    }
    var n = initialRows.toLong
    var versions = 1
    (0L until ops).foreach { i =>
      val a = SnapshotReads.args(this, i, n, versions)
      fp.add(a._1); fp.add(a._2)
      if (schedule(i) == SnapshotReads.Append) {
        n += SnapshotReads.AppendRows; versions += 1
      }
    }
    fp.hex
  }
}

object SnapshotReads {
  sealed trait Kind
  case object Point extends Kind
  case object Bloom extends Kind
  case object Range extends Kind
  case object TimeTravel extends Kind
  case object Detail extends Kind
  case object Append extends Kind

  val InitialRows = 1000000
  val AppendRows = 50
  val RangeRows = 20000L
  /** Data files at set-up; bloom filters are sized to one file's rows. */
  val Files = 64

  /** The fixed read mix: 20 reads, then a small append. */
  val Cycle: IndexedSeq[Kind] = IndexedSeq(
    Point, Bloom, Point, Range, Point, TimeTravel, Point, Detail, Point, Range,
    Point, Bloom, Point, TimeTravel, Point, Range, Point, Detail, Point, Bloom,
    Append)
  def kindOf(i: Long): Kind = Cycle((i % Cycle.size).toInt)

  /** The seeded arguments of read `i` over `n` rows and `versions` log
    * versions: (row index or range start, version).
    */
  def args(g: ReadsGen, i: Long, n: Long, versions: Int): (Long, Long) = {
    val rnd = Mix.rng(g.seed, 40, i)
    (rnd.nextLong(n), rnd.nextLong(math.max(1, versions)))
  }
}

/** `snapshot_reads`: point, bloom and range lookups, time travel and
  * detail calls on a 1M-row table of 64 pk-sorted files with a bloom column, beside a
  * trickle of appends (graft.tables read path: log and snapshot
  * resolution, FileStats and BloomSkip pruning).
  */
final class SnapshotReads(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import SnapshotReads._
  import spark.implicits._

  private val gen = new ReadsGen(seed, InitialRows)
  private var table: ManagedTable = _
  private var rows: Long = 0L
  /** Rows in each log version, for time-travel checks. */
  private val rowsAt = mutable.ArrayBuffer[Long]()

  private val samples = mutable.Map[Kind, mutable.ArrayBuffer[Double]]()
  private val filesPoint = mutable.ArrayBuffer[Int]()
  private val filesRange = mutable.ArrayBuffer[Int]()

  def cycle: Int = Cycle.size
  def warmupOps: Int = Cycle.size
  lazy val fingerprint: String = gen.fingerprint(2 * Cycle.size, kindOf)

  /** Writes the table already sorted: each of [[Files]] range partitions
    * holds a contiguous run of keys, so every file has tight pk bounds.
    */
  def setup(dir: Path): Unit = {
    val g = gen // the closure ships the generator, not the workload
    val df = spark.range(0L, InitialRows.toLong, 1L, Files).as[Long]
      .map(i => g.row(i)).toDF()
    table = tr.span("tables.create") {
      ManagedTable.create(df, dir.resolve("reads").toString,
        properties = Map(BloomSkip.columnsPropKey -> "tag",
          BloomSkip.ndvPropKey -> (InitialRows / Files).toString))
    }
    rows = InitialRows
    rowsAt.clear()
    rowsAt += rows
    Check(table.detail.numFiles == Files, s"setup wrote ${table.detail.numFiles} files")
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def expectRow(got: Array[Row], i: Long, what: String): Unit = {
    val want = gen.row(i)
    Check(got.length == 1, s"$what for row $i returned ${got.length} rows")
    val r = got.head
    Check(r.getAs[Long]("pk") == want.pk && r.getAs[String]("tag") == want.tag &&
      r.getAs[Long]("amount") == want.amount &&
      r.getAs[Int]("category") == want.category &&
      r.getAs[String]("note") == want.note, s"$what for row $i returned $r, want $want")
  }

  def op(i: Long): Unit = {
    val kind = kindOf(i)
    val (a, v) = args(gen, i, rows, rowsAt.size)
    val secs = kind match {
      case Point =>
        val ((got, files), s) = timed {
          val df = tr.span("tables.to_df_where")(table.toDFWhere(s"pk = ${gen.pkOf(a)}"))
          tr.span("tables.scan")((df.collect(), df.inputFiles.length))
        }
        expectRow(got, a, "point lookup")
        if (tr.phase == "measure") filesPoint += files
        s
      case Bloom =>
        val (got, s) = timed(tr.span("tables.bloom_lookup") {
          table.toDFWhere(s"tag = '${gen.row(a).tag}'").collect()
        })
        expectRow(got, a, "bloom lookup")
        s
      case Range =>
        val lo = gen.pkOf(a)
        val hi = lo + 3 * RangeRows - 1
        val ((n, files), s) = timed {
          val df = tr.span("tables.to_df_where")(
            table.toDFWhere(s"pk BETWEEN $lo AND $hi"))
          tr.span("tables.scan")((df.count(), df.inputFiles.length))
        }
        val want = gen.rangeCount(lo, hi, rows)
        Check(n == want, s"range [$lo, $hi] counted $n rows, want $want")
        if (tr.phase == "measure") filesRange += files
        s
      case TimeTravel =>
        val (n, s) = timed(tr.span("tables.time_travel")(table.toDF(v).count()))
        Check(n == rowsAt(v.toInt), s"version $v has $n rows, want ${rowsAt(v.toInt)}")
        s
      case Detail =>
        val (d, s) = timed(tr.span("tables.detail")(table.detail))
        val files = table.toDF.inputFiles.length
        Check(d.numFiles == files && d.sizeInBytes > 0,
          s"detail reports ${d.numFiles} files / ${d.sizeInBytes} bytes, snapshot has $files")
        s
      case Append =>
        val df = (rows until rows + AppendRows).map(gen.row).toDF()
        val (_, s) = timed(tr.span("tables.append")(table.append(df)))
        rows += AppendRows
        rowsAt += rows
        Check(table.latestVersion == rowsAt.size - 1,
          s"append left version ${table.latestVersion}, want ${rowsAt.size - 1}")
        s
    }
    if (tr.phase == "measure") samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += secs
  }

  def finalCheck(): Seq[String] = {
    val n = table.toDF.count()
    val meta = table.numRows
    Seq(
      if (n != rows) Some(s"table has $n rows, want $rows") else None,
      if (meta != rows) Some(s"metadata row count $meta, want $rows") else None,
    ).flatten
  }

  def resetSamples(): Unit = {
    samples.clear(); filesPoint.clear(); filesRange.clear()
  }

  private def of(k: Kind): Seq[Double] = samples.get(k).map(_.toSeq).getOrElse(Nil)

  def endToEnd: Seq[Metric] = {
    val reads = samples.iterator.filter(_._1 != Append).flatMap(_._2).toSeq
    val all = samples.values.flatten.sum
    val point = of(Point)
    val tail = Stats.tail(point)
    val appended = appendBytes
    val appendedRows = of(Append).size * AppendRows
    Seq(
      Metric("throughput_per_s", reads.size / all, "1/s", "read_ops_per_s", "ops/s",
        s"${reads.size} reads over ${"%.3f".format(all)} s incl. ${of(Append).size} appends"),
      Metric("op_p50_s", Stats.median(point), "s", "point_p50_s", "s",
        s"n=${point.size} point lookups"),
      Metric("write_bytes_per_row", appended.toDouble / appendedRows,
        "bytes", "write_bytes_per_row", "bytes",
        s"$appended bytes over $appendedRows appended rows"),
      Metric("range_p50_s", Stats.median(of(Range)), "s",
        note = s"n=${of(Range).size} range scans of $RangeRows rows"),
    ) ++ tail.map { case (p, v, beyond) =>
      Metric("point_tail_s", v, "s",
        note = s"p$p of n=${point.size} point lookups, $beyond beyond it")
    }
  }

  /** Bytes the measured appends wrote, from the table history. */
  private def appendBytes: Long = {
    import org.apache.spark.sql.functions.col
    val first = rowsAt.size - of(Append).size
    table.history.filter(col("version") >= first && col("operation") === "APPEND")
      .select(col("operationMetrics")("numOutputBytes")).collect()
      .map(r => r.getString(0).toLong).sum
  }

  def perLayer(t: Tracer): Seq[Metric] = {
    def med(name: String, spans: Seq[SpanRec]) = {
      val xs = spans.map(_.seconds)
      Metric(name, if (xs.isEmpty) 0.0 else Stats.median(xs), "s",
        note = s"median, n=${xs.size}")
    }
    val byOp = t.spans.filter(_.phase == "measure").groupBy(s => kindOf(s.op))
    def spansOf(k: Kind, name: String) =
      byOp.getOrElse(k, Nil).filter(_.name == name)
    val pointOps = byOp.getOrElse(Point, Nil).groupBy(_.op).values.map { ss =>
      val wall = ss.map(_.seconds).sum
      val c = ss.map(_.counts).reduce((a, b) => Counts(a.jobs + b.jobs,
        a.tasks + b.tasks, a.shuffleBytes + b.shuffleBytes, a.taskMs + b.taskMs,
        a.gcMs + b.gcMs))
      SpanRec(-1, -1, ss.head.op, "measure", "point", 0L, (wall * 1e9).toLong, c)
    }.toSeq
    Seq(
      med("tables.to_df_where_s", spansOf(Point, "tables.to_df_where")),
      med("tables.scan_s", spansOf(Point, "tables.scan") ++ spansOf(Range, "tables.scan")),
      Metric("tables.files_read_per_point", Stats.mean(filesPoint.map(_.toDouble).toSeq),
        "count", note = s"mean, n=${filesPoint.size}"),
      Metric("tables.files_read_per_range", Stats.mean(filesRange.map(_.toDouble).toSeq),
        "count", note = s"mean, n=${filesRange.size}"),
      med("tables.bloom_lookup_s", spansOf(Bloom, "tables.bloom_lookup")),
      med("tables.time_travel_s", spansOf(TimeTravel, "tables.time_travel")),
      med("tables.detail_s", spansOf(Detail, "tables.detail")),
      med("tables.append_s", spansOf(Append, "tables.append")),
      Metric("tables.log_versions_end", (table.latestVersion + 1).toDouble, "count"),
    ) ++ endToEnd.filter(m => m.name == "point_tail_s" || m.name == "range_p50_s") ++
      t.perOp(pointOps, "point lookup")
  }
}
