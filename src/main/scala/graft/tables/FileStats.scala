package graft.tables

import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  And => CatAnd, EqualNullSafe => CatEqualNullSafe, EqualTo => CatEqualTo,
  Expression => CatExpr, GreaterThan => CatGT, GreaterThanOrEqual => CatGTE,
  In => CatIn, LessThan => CatLT, LessThanOrEqual => CatLTE, Literal => CatLit}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Per-file statistics for data skipping: row count, size, and min/max
  * bounds per column — the engine's version of the stats Delta records in
  * its transaction log (`add.stats`), which is what lets Delta's MERGE
  * "rewrite only matched files" and lets filtered reads skip files
  * entirely (reference operators get this for free from delta-spark;
  * mack/__init__.py:190-192 merge-delete relies on it).
  *
  * Bounds are harvested from the parquet FOOTERS of just-written files —
  * metadata-only reads, no data scan. Collection runs at commit time over
  * the files of ONE commit (not the whole table), so the cost is
  * proportional to the write, as in Delta. On a real cluster the footer
  * loop would be a tiny Spark job over the written paths; at local scale
  * a driver loop is identical.
  *
  * min/max are stored as canonical strings keyed by column name, with the
  * column's Spark type (from the table schema) defining the domain:
  * integral/date/timestamp/boolean → Long decimal string, float/double →
  * Double string, string → the value itself (compared byte-wise via
  * UTF8String, matching parquet's unsigned-byte stats order). A column
  * absent from the maps has no usable bounds in that file, and every
  * pruning decision treats it as "may contain anything" — skipping is
  * only ever proven, never guessed.
  */
final case class FileStat(path: String, rows: Long, bytes: Long,
                          min: Map[String, String], max: Map[String, String],
                          dv: Option[String] = None,
                          /** rows of `dv` masking THIS file (recorded at
                            * DML/adoption time) — `rows - dvRows` is the
                            * file's live count, summing to a
                            * metadata-only `numRows`. None on entries
                            * predating the field: live counts then need
                            * one sidecar read.
                            */
                          dvRows: Option[Long] = None) {
  /** The leaf directory (snapshot-dir entry) this file lives in. */
  def leafDir: String = path.substring(0, path.lastIndexOf('/'))
}

object FileStats {

  /** How many leading schema fields get min/max bounds (Delta's
    * dataSkippingNumIndexedCols default).
    */
  val maxStatsColumns = 32

  // ---- domains ---------------------------------------------------------

  /** Comparison domain of a column: Long-encoded, Double-encoded, or
    * byte-compared String. None = type not skippable (arrays, structs,
    * decimals, …).
    */
  private sealed trait Domain
  private case object LongDom extends Domain
  private case object DoubleDom extends Domain
  private case object StringDom extends Domain

  private def domainOf(dt: DataType): Option[Domain] = dt match {
    case IntegerType | LongType | ShortType | ByteType | BooleanType |
         DateType | TimestampType => Some(LongDom)
    case FloatType | DoubleType => Some(DoubleDom)
    case StringType => Some(StringDom)
    case _ => None
  }

  /** Columns of `schema` that get stats: leading primitive-skippable
    * fields, capped at [[maxStatsColumns]].
    */
  def statsColumns(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.take(maxStatsColumns)
      .filter(f => domainOf(f.dataType).isDefined)

  /** Can min/max bounds skip files on this column type? */
  def skippable(dt: DataType): Boolean = domainOf(dt).isDefined

  // ---- collection (parquet footers) ------------------------------------

  /** Stats for every parquet file under `leaves` (relative to `dataRoot`),
    * bounds for [[statsColumns]] harvested from footers. Partition columns
    * never appear inside the data files, so their bounds come from the
    * `k=v` path segments of the leaf dir instead (min = max = the
    * partition value) — which is what lets [[prune]]/`toDFWhere` skip
    * whole partitions with the same machinery as data-column skipping.
    */
  def collect(conf: org.apache.hadoop.conf.Configuration, dataRoot: Path,
              leaves: Seq[String], schema: StructType): Seq[FileStat] = {
    val cols = statsColumns(schema)
    val files: Seq[(String, Map[String, String], Path)] = leaves.flatMap { leaf =>
      val dir = dataRoot.resolve(leaf)
      if (!Files.isDirectory(dir)) Nil
      else {
        val pb = partitionBounds(leaf, cols)
        val s = Files.list(dir)
        try s.iterator().asScala.toSeq
          .filter(f => Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet"))
          .map(f => (leaf, pb, f))
        finally s.close()
      }
    }
    // Footer reads are independent metadata fetches; a hive-partitioned
    // commit easily holds dozens of small files, and reading their footers
    // one-by-one serializes the commit's tail. Parallel across the common
    // pool (order restored by .seq — caller sees a deterministic listing).
    // Hadoop Configuration lazily loads its property map on first access
    // and is not formally thread-safe there — force the load BEFORE the
    // tasks share it.
    conf.size()
    import scala.collection.parallel.CollectionConverters._
    files.par.map { case (leaf, pb, f) =>
      val (rows, mins, maxs) = footerBounds(conf, f, cols)
      FileStat(leaf + "/" + f.getFileName.toString, rows, Files.size(f),
        mins ++ pb, maxs ++ pb)
    }.seq
  }

  /** Exact bounds for partition columns, parsed from the leaf path's
    * hive-style `k=v` segments. A segment that doesn't parse cleanly (null
    * partition, unknown column, unsupported type) contributes nothing —
    * the column simply isn't skippable for that file.
    */
  private def partitionBounds(leaf: String,
                              cols: Seq[StructField]): Map[String, String] =
    leaf.split('/').iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) Iterator.empty
      else {
        val raw = unescapePath(seg.substring(i + 1))
        if (raw == "__HIVE_DEFAULT_PARTITION__") Iterator.empty
        else for {
          f <- cols.find(_.name == seg.substring(0, i)).iterator
          enc <- encodePartitionValue(f.dataType, raw).iterator
        } yield f.name -> enc
      }
    }.toMap

  /** Inverse of Spark's `escapePathName` (%XX per escaped char; non-ASCII
    * is written raw, so single-char decode is exact).
    */
  private[tables] def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Partition dir value string → canonical domain string (same encoding
    * as [[decode]]/[[encodeValue]]). Timestamp partition values are
    * declined: their dir format is writer-zone-dependent, and a wrong
    * parse would corrupt pruning rather than merely disable it.
    */
  private def encodePartitionValue(dt: DataType, raw: String): Option[String] =
    try dt match {
      case IntegerType | LongType | ShortType | ByteType => Some(raw.toLong.toString)
      case BooleanType => Some(if (raw.toBoolean) "1" else "0")
      case DateType => Some(java.time.LocalDate.parse(raw).toEpochDay.toString)
      case FloatType | DoubleType =>
        val d = raw.toDouble
        if (d.isNaN) None else Some(d.toString)
      case StringType => Some(raw)
      case _ => None
    } catch { case _: IllegalArgumentException | _: java.time.DateTimeException => None }

  /** (rowCount, min, max) of one file from its footer. A column whose
    * stats are missing/invalid in ANY row group is dropped from the maps.
    */
  private def footerBounds(conf: org.apache.hadoop.conf.Configuration,
                           file: Path, cols: Seq[StructField]):
      (Long, Map[String, String], Map[String, String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      var mins = Map.empty[String, String]
      var maxs = Map.empty[String, String]
      cols.foreach { f =>
        val dom = domainOf(f.dataType).get
        // one chunk per block for a top-level column
        val chunks = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == f.name))
        val bounds: Seq[Option[(String, String)]] = chunks.map { c =>
          val st = c.getStatistics
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else {
            val ann = c.getPrimitiveType.getLogicalTypeAnnotation
            for {
              lo <- decode(st.genericGetMin.asInstanceOf[AnyRef], f.dataType, ann)
              hi <- decode(st.genericGetMax.asInstanceOf[AnyRef], f.dataType, ann)
            } yield (lo, hi)
          }
        }
        // every row group must contribute valid bounds, and a file with
        // zero chunks for the column (schema evolution) has no bounds —
        // unless the file is EMPTY, where ("", ..) vacuous bounds are fine
        if (bounds.nonEmpty && bounds.forall(_.isDefined)) {
          val los = bounds.map(_.get._1)
          val his = bounds.map(_.get._2)
          mins += f.name -> los.reduce((a, b) => if (cmp(dom, a, b) <= 0) a else b)
          maxs += f.name -> his.reduce((a, b) => if (cmp(dom, a, b) >= 0) a else b)
        }
      }
      (rows, mins, maxs)
    } finally reader.close()
  }

  /** Canonical string for a parquet footer stats value under the Spark
    * type's domain; None when the physical value doesn't line up with the
    * expected representation (INT96 timestamps, NaN floats, …).
    *
    * Timestamps are the trap: the footer long is in whatever unit the
    * writer's logical type annotation declares (MILLIS under
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MILLIS`, MICROS by
    * default), while the pruning side (`literalValue`/`encodeValue`)
    * always encodes MICROS — comparing raw MILLIS against MICROS bounds
    * would skip files that DO contain matching rows. So the annotation is
    * consulted and everything is normalized to micros; any unit we can't
    * normalize (NANOS, missing annotation) yields no bounds for the
    * column, which disables pruning on it rather than corrupting it.
    */
  private def decode(v: AnyRef, dt: DataType,
      ann: org.apache.parquet.schema.LogicalTypeAnnotation): Option[String] =
    (dt, v) match {
    case (IntegerType | ShortType | ByteType | DateType, i: java.lang.Integer) =>
      Some(i.longValue.toString)
    case (TimestampType, l: java.lang.Long) =>
      import org.apache.parquet.schema.LogicalTypeAnnotation.{
        TimeUnit, TimestampLogicalTypeAnnotation}
      ann match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          case TimeUnit.MICROS => Some(l.toString)
          case TimeUnit.MILLIS =>
            try Some(Math.multiplyExact(l.longValue, 1000L).toString)
            catch { case _: ArithmeticException => None }
          case _ => None // NANOS: Spark never maps these to TimestampType
        }
        case _ => None // no/unknown annotation: unit unprovable, no bounds
      }
    case (LongType, l: java.lang.Long) => Some(l.toString)
    case (BooleanType, b: java.lang.Boolean) => Some(if (b) "1" else "0")
    case (FloatType, f: java.lang.Float) =>
      if (f.isNaN) None else Some(f.doubleValue.toString)
    case (DoubleType, d: java.lang.Double) =>
      if (d.isNaN) None else Some(d.toString)
    case (StringType, b: org.apache.parquet.io.api.Binary) =>
      Some(b.toStringUsingUTF8)
    case _ => None
  }

  private def cmp(dom: Domain, a: String, b: String): Int = dom match {
    case LongDom   => java.lang.Long.compare(a.toLong, b.toLong)
    case DoubleDom => java.lang.Double.compare(a.toDouble, b.toDouble)
    case StringDom => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  // ---- pruning ---------------------------------------------------------

  /** A predicate literal lowered into a column's domain. None = type
    * mismatch (e.g. a bare string literal against a date column) → that
    * conjunct can't prune.
    */
  private def literalValue(dom: Domain, lit: CatLit): Option[String] =
    (dom, lit.dataType, lit.value) match {
      case (_, _, null) => None
      case (LongDom, IntegerType | ShortType | ByteType | DateType, i) =>
        Some(i.asInstanceOf[Number].longValue.toString)
      case (LongDom, LongType | TimestampType, l) =>
        Some(l.asInstanceOf[Number].longValue.toString)
      case (LongDom, BooleanType, b: java.lang.Boolean) =>
        Some(if (b) "1" else "0")
      case (DoubleDom, FloatType | DoubleType, d) =>
        Some(d.asInstanceOf[Number].doubleValue.toString)
      case (DoubleDom, IntegerType | LongType | ShortType | ByteType, n) =>
        Some(n.asInstanceOf[Number].doubleValue.toString)
      case (StringDom, StringType, s: UTF8String) => Some(s.toString)
      case _ => None
    }

  private def attrName(e: CatExpr): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.length == 1 =>
      Some(a.nameParts.head)
    case _ => None
  }

  def conjuncts(e: CatExpr): Seq[CatExpr] = e match {
    case CatAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    // BETWEEN survives parsing as an unresolved `between` function (and
    // analysis as the RuntimeReplaceable Between node); desugar both here
    // or range predicates written with BETWEEN would silently prune nothing
    case b: org.apache.spark.sql.catalyst.expressions.Between =>
      Seq(CatGTE(b.input, b.lower), CatLTE(b.input, b.upper))
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.map(_.toLowerCase) == Seq("between") &&
          f.arguments.length == 3 =>
      Seq(CatGTE(f.arguments(0), f.arguments(1)),
        CatLTE(f.arguments(0), f.arguments(2)))
    case other => Seq(other)
  }

  /** Could rows satisfying `conjunct` exist in a file with these bounds?
    * `true` is always safe (keep the file); `false` requires PROOF of
    * disjointness from the bounds. Comparison predicates are false on
    * NULL inputs, so bounds over non-null values suffice — no null counts
    * needed.
    */
  private def mayMatch(f: FileStat, schema: StructType,
                       conjunct: CatExpr): Boolean = {
    def bounds(name: String): Option[(Domain, String, String)] = for {
      field <- schema.fields.find(_.name == name)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(name)))
      dom <- domainOf(field.dataType)
      lo <- f.min.get(field.name)
      hi <- f.max.get(field.name)
    } yield (dom, lo, hi)

    def cmpLit(name: String, l: CatLit)(keep: (Int, Int) => Boolean): Boolean =
      (for {
        (dom, lo, hi) <- bounds(name)
        v <- literalValue(dom, l)
      } yield keep(cmp(dom, lo, v), cmp(dom, hi, v))).getOrElse(true)

    conjunct match {
      case CatEqualTo(a, l: CatLit) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((loC, hiC) => loC <= 0 && hiC >= 0)
      case CatEqualTo(l: CatLit, a) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((loC, hiC) => loC <= 0 && hiC >= 0)
      // <=> with a non-null literal equals =; bounds can't disprove nulls,
      // so a null literal keeps the file
      case CatEqualNullSafe(a, l: CatLit) if attrName(a).isDefined =>
        if (l.value == null) true
        else cmpLit(attrName(a).get, l)((loC, hiC) => loC <= 0 && hiC >= 0)
      case CatEqualNullSafe(l: CatLit, a) if attrName(a).isDefined =>
        if (l.value == null) true
        else cmpLit(attrName(a).get, l)((loC, hiC) => loC <= 0 && hiC >= 0)
      case CatLT(a, l: CatLit) if attrName(a).isDefined =>   // col < v
        cmpLit(attrName(a).get, l)((loC, _) => loC < 0)
      case CatLT(l: CatLit, a) if attrName(a).isDefined =>   // v < col
        cmpLit(attrName(a).get, l)((_, hiC) => hiC > 0)
      case CatLTE(a, l: CatLit) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((loC, _) => loC <= 0)
      case CatLTE(l: CatLit, a) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((_, hiC) => hiC >= 0)
      case CatGT(a, l: CatLit) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((_, hiC) => hiC > 0)
      case CatGT(l: CatLit, a) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((loC, _) => loC < 0)
      case CatGTE(a, l: CatLit) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((_, hiC) => hiC >= 0)
      case CatGTE(l: CatLit, a) if attrName(a).isDefined =>
        cmpLit(attrName(a).get, l)((loC, _) => loC <= 0)
      case CatIn(a, vs) if attrName(a).isDefined &&
          vs.forall(_.isInstanceOf[CatLit]) =>
        vs.exists(v => cmpLit(attrName(a).get, v.asInstanceOf[CatLit])(
          (loC, hiC) => loC <= 0 && hiC >= 0))
      case _ => true // not a bounds-checkable shape
    }
  }

  /** Files that may contain rows satisfying `predicate` (an unresolved
    * Catalyst expression over the table's columns). Every file is kept
    * unless SOME conjunct proves its bounds disjoint.
    */
  def prune(files: Seq[FileStat], schema: StructType,
            predicate: CatExpr): Seq[FileStat] = {
    val cs = conjuncts(predicate)
    files.filter(f => cs.forall(c => mayMatch(f, schema, c)))
  }

  /** Files whose bounds on `colName` may contain ANY of `values` (used by
    * file-granular MERGE pruning; null values must be removed by the
    * caller per its own join semantics). A file without bounds for the
    * column is always kept.
    */
  def overlapping(files: Seq[FileStat], schema: StructType, colName: String,
                  values: Seq[Any]): Seq[FileStat] =
    overlappingFilter(schema, colName, values)(files)

  /** [[overlapping]] as a reusable filter: the values are encoded into the
    * column's domain and sorted ONCE, and each file's [min, max] is then
    * answered by one binary search — O((files + keys) · log keys) with
    * each bound parsed once, instead of re-parsing both bounds for every
    * (file, key) pair. A file-pruned MERGE reuses the filter for every
    * conflict re-check of concurrently added files. A value that cannot
    * be encoded (or a column that is not skippable) disables pruning.
    */
  private[tables] def overlappingFilter(schema: StructType, colName: String,
                                        values: Seq[Any]): Seq[FileStat] => Seq[FileStat] = {
    val field = schema.fields.find(_.name == colName)
      .orElse(schema.fields.find(_.name.equalsIgnoreCase(colName)))
    val keep: Seq[FileStat] => Seq[FileStat] = identity
    (for {
      f <- field
      d <- domainOf(f.dataType)
      encoded = values.flatMap(v => encodeValue(d, f.dataType, v))
      if encoded.size == values.size
    } yield d match {
      case LongDom =>
        boundsFilter(f.name, encoded.map(_.toLong).sorted.toIndexedSeq)(_.toLong)
      case DoubleDom =>
        boundsFilter(f.name, encoded.map(_.toDouble)
          .sorted(Ordering.Double.TotalOrdering).toIndexedSeq)(_.toDouble)(
          Ordering.Double.TotalOrdering)
      case StringDom =>
        boundsFilter(f.name, encoded.map(UTF8String.fromString)
          .sorted(Utf8Order).toIndexedSeq)(UTF8String.fromString)(Utf8Order)
    }).getOrElse(keep)
  }

  // parquet's unsigned-byte order, the one [[cmp]] uses for strings
  private object Utf8Order extends Ordering[UTF8String] {
    def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
  }

  /** Keep a file iff some key of the sorted `keys` lies in its [min, max]
    * on `name` (a file without bounds is kept): the first key >= min is
    * found by binary search and checked against max.
    */
  private def boundsFilter[T](name: String, keys: IndexedSeq[T])(parse: String => T)(
      implicit ord: Ordering[T]): Seq[FileStat] => Seq[FileStat] =
    files => files.filter { f =>
      (for { lo <- f.min.get(name); hi <- f.max.get(name) } yield {
        val l = parse(lo)
        var a = 0
        var b = keys.length
        while (a < b) {
          val m = (a + b) >>> 1
          if (ord.lt(keys(m), l)) a = m + 1 else b = m
        }
        a < keys.length && ord.lteq(keys(a), parse(hi))
      }).getOrElse(true)
    }

  /** Files whose bounds on `colName` may intersect [lo, hi] (inclusive).
    * Used when the source key set is too large to enumerate.
    */
  def overlappingRange(files: Seq[FileStat], schema: StructType,
                       colName: String, lo: Any, hi: Any): Seq[FileStat] = {
    val field = schema.fields.find(_.name == colName)
      .orElse(schema.fields.find(_.name.equalsIgnoreCase(colName)))
    val dom = field.flatMap(f => domainOf(f.dataType))
    (for {
      f <- field; d <- dom
      l <- encodeValue(d, f.dataType, lo)
      h <- encodeValue(d, f.dataType, hi)
    } yield files.filter { fs =>
      (for { fLo <- fs.min.get(f.name); fHi <- fs.max.get(f.name) }
        yield cmp(d, fLo, h) <= 0 && cmp(d, fHi, l) >= 0).getOrElse(true)
    }).getOrElse(files)
  }

  /** External (Row-collected) value → canonical domain string. */
  private def encodeValue(dom: Domain, dt: DataType, v: Any): Option[String] =
    (dom, dt, v) match {
      case (_, _, null) => None
      case (LongDom, DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay.toString)
      case (LongDom, DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toString)
      case (LongDom, TimestampType, t: java.sql.Timestamp) =>
        Some((Math.floorDiv(t.getTime, 1000L) * 1000000L +
          t.getNanos / 1000).toString)
      case (LongDom, TimestampType, t: java.time.Instant) =>
        Some((t.getEpochSecond * 1000000L + t.getNano / 1000).toString)
      case (LongDom, BooleanType, b: java.lang.Boolean) => Some(if (b) "1" else "0")
      case (LongDom, _, n: Number) => Some(n.longValue.toString)
      case (DoubleDom, _, n: Number) => Some(n.doubleValue.toString)
      case (StringDom, _, s: String) => Some(s)
      case _ => None
    }
}
