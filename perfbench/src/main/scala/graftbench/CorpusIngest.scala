package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.streaming.StreamingDedup
import graft.tables.ManagedTable
import graft.text.{Bpe, MinHashDedup, QualityFilters}

/** A planted document: `base` is the unique document it copies (its own
  * slot for a unique document, -1 for low-quality ones).
  */
final case class Doc(id: Long, text: String, kind: CorpusGen.Kind, base: Long)

object CorpusGen {
  sealed trait Kind
  /** Passes the quality rules, shares no shingles with other uniques. */
  case object Unique extends Kind
  case object ExactDup extends Kind
  /** Two words of a unique document replaced (Jaccard >= 0.9). */
  case object NearDup extends Kind
  /** One sentence repeated on every line (fails the repetition rules). */
  case object Repetitive extends Kind
  /** Too short, or mostly digits and symbols (fails the Gopher rules). */
  case object LowQuality extends Kind

  val Stop: IndexedSeq[String] = IndexedSeq("the", "be", "to", "of", "and",
    "that", "have", "with", "a", "in", "is", "it", "for", "on", "as", "was")
  private val Syllables: IndexedSeq[String] =
    for (c <- "bcdfghklmnprstvwz"; v <- "aeiouy") yield s"$c$v"
  val VocabSize = 5000
}

/** Seeded synthetic corpus arriving in batches of `batchDocs`. Prose
  * is built to pass Gopher's rules: a third of the words are stop words,
  * the rest 2-9 letters, all alphabetic, several sentences per line.
  * Documents are generated in arrival order; ids increase with arrival,
  * so the unique original of every duplicate cluster arrives first and is
  * the member keep-first dedup must keep.
  */
final class CorpusGen(val seed: Long, val batchDocs: Int) {
  import CorpusGen._

  def vocabWord(k: Int): String = {
    val h = Mix.h(seed, 50, k)
    val n = 1 + java.lang.Math.floorMod(h, 3L).toInt
    val sb = new StringBuilder
    (0 until n).foreach { j =>
      sb ++= Syllables(java.lang.Math.floorMod(h >>> (8 + 8 * j), Syllables.size.toLong).toInt)
    }
    if (((h >>> 40) & 3) == 0) sb += "nrst"(((h >>> 44) & 3).toInt)
    sb.toString
  }

  private def word(rnd: java.util.SplittableRandom): String =
    if (rnd.nextInt(100) < 33) Stop(rnd.nextInt(Stop.size))
    else vocabWord(rnd.nextInt(VocabSize))

  /** Unique document `u` as lines of words (120-220 words). */
  def uniqueWords(u: Long): Array[Array[String]] = {
    val rnd = Mix.rng(seed, 51, u)
    val total = 120 + rnd.nextInt(100)
    val lines = mutable.ArrayBuffer[Array[String]]()
    var n = 0
    while (n < total) {
      val line = mutable.ArrayBuffer[String]()
      (0 until 2 + rnd.nextInt(3)).foreach { _ =>
        val len = 8 + rnd.nextInt(9)
        (0 until len).foreach { j =>
          val w = word(rnd)
          line += (if (j == len - 1) w + "." else w)
        }
      }
      n += line.size
      lines += line.toArray
    }
    lines.toArray
  }

  private def render(lines: Array[Array[String]]): String =
    lines.map(_.mkString(" ")).mkString("\n")

  def uniqueText(u: Long): String = render(uniqueWords(u))

  def nearText(u: Long, rnd: java.util.SplittableRandom): String = {
    val lines = uniqueWords(u).map(_.clone())
    (0 until 2).foreach { _ =>
      val l = rnd.nextInt(lines.length)
      val j = rnd.nextInt(lines(l).length)
      val dot = lines(l)(j).endsWith(".")
      lines(l)(j) = vocabWord(rnd.nextInt(VocabSize)) + "zq" + (if (dot) "." else "")
    }
    render(lines)
  }

  def repetitiveText(rnd: java.util.SplittableRandom): String = {
    val line = (0 until 10).map(_ => word(rnd)).mkString(" ") + "."
    Seq.fill(12 + rnd.nextInt(8))(line).mkString("\n")
  }

  def lowQualityText(rnd: java.util.SplittableRandom): String =
    if (rnd.nextBoolean())
      (0 until 10 + rnd.nextInt(25)).map(_ => word(rnd)).mkString(" ") + "."
    else
      (0 until 80 + rnd.nextInt(60)).map { _ =>
        if (rnd.nextInt(4) == 0) "#" + rnd.nextInt(100) else rnd.nextInt(100000).toString
      }.mkString(" ")

  /** Documents and originals generated so far. */
  private var slots = 0L
  private var uniques = 0L
  private val uniqueSlot = mutable.ArrayBuffer[Long]()

  /** The next `n` documents, in arrival order. */
  def nextBatch(n: Int = batchDocs): Seq[Doc] = {
    (0 until n).map { _ =>
      val s = slots
      slots += 1
      val rnd = Mix.rng(seed, 52, s)
      val r = rnd.nextInt(100)
      def original(): Long = uniques - 1 - rnd.nextInt(math.min(uniques, 3000L).toInt)
      if (r < 58 || uniques == 0) {
        val u = uniques
        uniques += 1
        uniqueSlot += s
        Doc(s, uniqueText(u), Unique, s)
      } else if (r < 66) {
        val u = original()
        Doc(s, uniqueText(u), ExactDup, uniqueSlot(u.toInt))
      } else if (r < 80) {
        val u = original()
        Doc(s, nearText(u, rnd), NearDup, uniqueSlot(u.toInt))
      } else if (r < 90) Doc(s, repetitiveText(rnd), Repetitive, -1L)
      else Doc(s, lowQualityText(rnd), LowQuality, -1L)
    }
  }
}

object CorpusIngest {
  val BatchDocs = 1000
  /** The warm-up batch runs every code path of a full batch. */
  val WarmupDocs = 100
  /** Documents the BPE model is fit on at set-up. */
  val FitDocs = 500
  val BpeMerges = 200
  /** LSH index partitions, sized to the corpus a run ingests. */
  val IndexParts = 4

  def fingerprint(seed: Long, batches: Int): String = {
    val g = new CorpusGen(seed, BatchDocs)
    val fp = new Fingerprint
    (0 until batches).foreach(_ => g.nextBatch().foreach { d =>
      fp.add(d.id); fp.add(d.text); fp.add(d.base)
    })
    fp.hex
  }
}

/** `corpus_ingest`: micro-batches of a synthetic corpus through the Gopher
  * quality and repetition filters, BPE token counts, and streaming
  * near-duplicate dedup into an index and an output table (graft.text,
  * graft.plans and graft.streaming).
  */
final class CorpusIngest(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import CorpusIngest._
  import CorpusGen._
  import spark.implicits._

  private var gen: CorpusGen = _
  private var model: Bpe.Model = _
  private var index: StreamingDedup.SigIndex = _
  private var out: ManagedTable = _
  private var firstOutVersion = 0L
  private var firstIndexVersions = (0L, 0L)

  /** Ids that must end in the output table (every unique document). */
  private val expected = mutable.Set[Long]()
  private case class Batch(seconds: Double, docs: Int, kept: Long, novel: Long,
                           indexFiles: Long)
  private val batches = mutable.ArrayBuffer[Batch]()

  /** Two batches, so the median has two samples. */
  def cycle: Int = 2
  def warmupOps: Int = 1
  lazy val fingerprint: String = CorpusIngest.fingerprint(seed, 3)

  def setup(dir: Path): Unit = {
    gen = new CorpusGen(seed, BatchDocs)
    val fitDocs = (0L until FitDocs).map(gen.uniqueText).toDF("text")
    model = tr.span("text.bpe_fit") {
      Bpe.fit(fitDocs, "text", numMerges = BpeMerges, sampleSize = FitDocs, seed = seed)
    }
    index = tr.span("streaming.open_index") {
      StreamingDedup.openIndex(spark, dir.resolve("index").toString, "id",
        org.apache.spark.sql.types.LongType, parts = IndexParts)
    }
    out = tr.span("tables.create") {
      ManagedTable.create(Seq.empty[(Long, String, Long)].toDF("id", "text", "n_tokens"),
        dir.resolve("out").toString)
    }
    expected.clear()
  }

  private def indexFiles: Long =
    index.sigs.detail.numFiles + index.buckets.detail.numFiles

  def op(i: Long): Unit = {
    if (tr.phase == "measure" && batches.isEmpty) {
      firstOutVersion = out.latestVersion + 1
      firstIndexVersions = (index.sigs.latestVersion + 1, index.buckets.latestVersion + 1)
    }
    val docs = gen.nextBatch(if (tr.phase == "warmup") WarmupDocs else BatchDocs)
    val batch = docs.map(d => (d.id, d.text)).toDF("id", "text")
    val t0 = System.nanoTime()
    val kept = tr.span("text.quality_filter") {
      val k = QualityFilters.filterRepetitive(
        QualityFilters.filterGopherQuality(batch, "text"), "text")
        .persist(StorageLevel.MEMORY_ONLY)
      k.count()
      k
    }
    val tokens = tr.span("text.bpe_token_count") {
      val t = kept.withColumn("n_tokens", Bpe.tokenCount(col("text"), model))
        .persist(StorageLevel.MEMORY_ONLY)
      t.count()
      t
    }
    val novel = tr.span("streaming.incremental") {
      StreamingDedup.incremental(tokens, "id", "text", index, out, ("graftbench", i))
    }
    val secs = (System.nanoTime() - t0) / 1e9

    val got = tokens.select("id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    kept.unpersist(); tokens.unpersist()
    val pass = docs.filter(d => d.kind != Repetitive && d.kind != LowQuality)
    val leaked = got.keySet -- pass.map(_.id)
    Check(leaked.isEmpty, s"batch $i: low-quality docs kept: ${leaked.take(5)}")
    val lost = pass.map(_.id).filterNot(got.contains)
    Check(lost.isEmpty, s"batch $i: quality filters dropped good docs ${lost.take(5)}")
    val byId = docs.map(d => d.id -> d).toMap
    got.foreach { case (id, n) =>
      val words = byId(id).text.split("\\s+").count(_.nonEmpty)
      Check(n >= words, s"doc $id: $n BPE tokens < $words words")
    }
    val uniques = docs.filter(_.kind == Unique).map(_.id)
    expected ++= uniques
    Check(novel == uniques.size,
      s"batch $i: $novel novel docs, want ${uniques.size} (one per cluster)")
    if (tr.phase == "measure")
      batches += Batch(secs, docs.size, got.size.toLong, novel, indexFiles)
  }

  def resetSamples(): Unit = batches.clear()

  def finalCheck(): Seq[String] = {
    val ids = out.toDF.select("id").as[Long].collect()
    val errs = mutable.ArrayBuffer[String]()
    if (ids.length != ids.distinct.length) errs += "output table holds duplicate ids"
    val extra = ids.toSet -- expected
    val missing = expected -- ids.toSet
    if (extra.nonEmpty) errs += s"output keeps ${extra.size} non-original docs, e.g. ${extra.take(5)}"
    if (missing.nonEmpty) errs += s"output misses ${missing.size} unique docs, e.g. ${missing.take(5)}"
    errs.toSeq
  }

  /** Bytes written to the output table and both index tables by the
    * measured batches, from their histories.
    */
  private def writtenBytes: Long = {
    def sum(t: ManagedTable, from: Long) =
      t.history.filter(col("version") >= from)
        .select(col("operationMetrics")("numOutputBytes")).collect()
        .flatMap(r => Option(r.getString(0))).map(_.toLong).sum
    sum(out, firstOutVersion) + sum(index.sigs, firstIndexVersions._1) +
      sum(index.buckets, firstIndexVersions._2)
  }

  def endToEnd: Seq[Metric] = {
    val secs = batches.map(_.seconds).toSeq
    val docs = batches.map(_.docs).sum
    val novel = batches.map(_.novel).sum
    val written = writtenBytes
    Seq(
      Metric("throughput_per_s", docs / secs.sum, "1/s", "docs_per_s", "docs/s",
        s"$docs input docs over ${"%.3f".format(secs.sum)} s"),
      Metric("op_p50_s", Stats.median(secs), "s", "ingest_batch_p50_s", "s",
        s"n=${secs.size} batches of $BatchDocs docs"),
      Metric("write_bytes_per_row", written.toDouble / novel, "bytes",
        "write_bytes_per_row", "bytes",
        s"$written bytes to out+index over $novel novel docs"),
    )
  }

  def perLayer(t: Tracer): Seq[Metric] = {
    def med(name: String, phase: String = "measure") = {
      val xs = t.named(name, phase).map(_.seconds)
      Metric(name + "_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s",
        note = s"median, n=${xs.size}")
    }
    val docs = batches.map(_.docs).sum.toDouble
    val kept = batches.map(_.kept).sum.toDouble
    Seq(
      med("text.quality_filter"),
      med("text.bpe_token_count"),
      Metric("text.quality_kept_frac", kept / docs, "frac", note = s"$kept of $docs docs"),
      med("text.bpe_fit", "setup"),
      Metric("plans.kernel_rows_per_s", kernelRowsPerS, "rows/s",
        note = s"median of 3 passes over $KernelDocs docs"),
      med("streaming.incremental"),
      Metric("streaming.novel_frac", batches.map(_.novel).sum / kept, "frac"),
      Metric("streaming.index_files", batches.lastOption.map(_.indexFiles.toDouble)
        .getOrElse(0.0), "count",
        note = "after each batch: " + batches.map(_.indexFiles).mkString(" ")),
    ) ++ t.perOp(t.named("streaming.incremental"), "incremental")
  }

  private val KernelDocs = 10000
  private var kernelRowsPerS = 0.0

  /** The codegen'd kernels behind the text functions (repetition stats,
    * BPE count, shingle hashes and MinHash signature), projected into a
    * hash sink with no shuffle.
    */
  override def tracedExtras(t: Tracer): Unit = {
    val g = new CorpusGen(seed + 1, KernelDocs)
    val df = g.nextBatch().map(_.text).toDF("text").repartition(4)
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    val sink = df.select(xxhash64(
      QualityFilters.repetitionStats(col("text")),
      Bpe.tokenCount(col("text"), model),
      MinHashDedup.minHashFromHashes(
        graft.plans.expressions.shingle_hashes(col("text"), 3), 64)).as("h"))
      .as[Long]
    val rates = (0 until 3).map { _ =>
      val s = t.span("plans.kernels")(timedS(sink.reduce(_ ^ _)))
      KernelDocs / s
    }
    kernelRowsPerS = Stats.median(rates)
    df.unpersist()
  }

  private def timedS(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
