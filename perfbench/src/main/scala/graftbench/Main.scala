package graftbench

import java.nio.file.{Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * {{{
  *   graftbench.Main --workload scd2_merge --seed 1 --seconds 20 \
  *     --trace 0 --work <scratch dir>
  * }}}
  *
  * Sets up the workload's starting state [[Setups]] times, warms up, then
  * measures whole cycles of the workload's operation mix for at least
  * `--seconds` with tracing off. With `--trace 1` a second window of the
  * same length runs traced and yields the per-layer metrics and the
  * tracing overhead. Prints one line per metric and, as its last line,
  * the result object: the end-to-end metrics with `--trace 0`, the
  * per-layer ones with `--trace 1`. Exits 1 when an operation failed or
  * an output check did not hold.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val traced = arg("--trace") == "1"
    val work = Paths.get(arg("--work")).toAbsolutePath
    val spansOut = opts.get("--spans").map(Paths.get(_))

    // sizing rule: one process, local[N] with N = min(4, cores), shuffle
    // partitions = N
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, workload, seed, seconds, traced, work, spansOut, cores)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, workload: String, seed: Long,
                  seconds: Double, traced: Boolean, work: Path,
                  spansOut: Option[Path], cores: Int): Int = {
    val tr = new Tracer(spark.sparkContext, listen = traced)
    val wl: Workload = workload match {
      case "scd2_merge" => new Scd2Merge(spark, seed, tr)
      case "snapshot_reads" => new SnapshotReads(spark, seed, tr)
      case "corpus_ingest" => new CorpusIngest(spark, seed, tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(s"# workload $workload seed $seed local[$cores] " +
      s"inputs fingerprint ${wl.fingerprint}")
    val heap = new Jvm.OldGenPeak

    tr.enabled = traced
    val setupTimes = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      wl.setup(work.resolve(s"setup-$k"))
      val t = (System.nanoTime() - t0) / 1e9
      if (k > 1) Io.deleteTree(work.resolve(s"setup-${k - 1}"))
      t
    }

    var attempted = 0L
    var failed = 0L
    var ok = true
    var i = 0L
    def step(): Unit = {
      tr.setOp(i)
      try wl.op(i)
      catch {
        case NonFatal(e) =>
          failed += 1
          ok = false
          System.err.println(s"op $i failed: $e")
          e.printStackTrace()
      } finally i += 1
    }
    /** Runs whole cycles for at least `seconds`; returns the window length. */
    def window(): Double = {
      val t0 = System.nanoTime()
      val mark = i
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (ok && (elapsed < seconds || (i - mark) % wl.cycle != 0)) {
        attempted += 1
        step()
      }
      println(f"# window: ${i - mark} ops in $elapsed%.2f s, " +
        s"${(i - mark) / wl.cycle} cycles of ${wl.cycle}, tracing ${tr.enabled}")
      elapsed
    }

    // end-to-end numbers come from an untraced window
    tr.enabled = false
    tr.phase = "warmup"
    (0 until wl.warmupOps).foreach(_ => if (ok) step())
    tr.phase = "measure"
    heap.reset()
    window()
    val heapMb = heap.peakBytes() / (1024.0 * 1024.0)
    val e2e = Metric("setup_s", Stats.median(setupTimes), "s",
      note = s"median of $Setups set-ups: " +
        setupTimes.map(t => f"$t%.3f").mkString(", ")) +: wl.endToEnd :+
      Metric("heap_peak_mb", heapMb, "MB",
        note = "peak old-gen occupancy after GC in the window")
    e2e.foreach(print)

    // per-layer numbers from a second, traced window on the same state
    val layer =
      if (!traced || !ok) Nil
      else {
        wl.resetSamples()
        tr.enabled = true
        window()
        val traced = wl.endToEnd
        val overhead = Metric("trace.overhead_frac",
          value("op_p50_s", traced) / value("op_p50_s", e2e) - 1, "frac",
          note = "traced over untraced op_p50_s, minus one")
        traced.filter(m => e2e.exists(_.name == m.name)).foreach { m =>
          println(f"tracing overhead ${m.name}: traced ${m.value} vs untraced " +
            f"${value(m.name, e2e)} (${(m.value / value(m.name, e2e) - 1) * 100}%+.1f %%)")
        }
        tr.phase = "extras"
        wl.tracedExtras(tr)
        wl.perLayer(tr) :+ overhead
      }

    val checkErrors =
      if (!ok) Seq("stopped after a failed operation")
      else try wl.finalCheck()
      catch { case NonFatal(e) => Seq(s"final check threw: $e") }
    checkErrors.foreach(m => System.err.println(s"CHECK FAILED: $m"))
    val correct = ok && checkErrors.isEmpty && attempted > 0
    println(f"# attempted $attempted ops, failed $failed, " +
      f"ops_failed_frac ${failed.toDouble / math.max(1L, attempted)}%.4f, " +
      s"final checks ${if (checkErrors.isEmpty) "passed" else "FAILED"}")

    if (traced) {
      layer.foreach { m =>
        val moves = Catalog.perLayer.find(_.name == m.name).map(_.moves).getOrElse("")
        print(if (moves.isEmpty) m
          else m.copy(note = Seq(m.note, s"moves $moves").filter(_.nonEmpty).mkString("; ")))
      }
      tr.selfSeconds().toSeq.sortBy(_._1).foreach { case (l, s) =>
        println(f"self_s.$l = $s%.4f s   (layer self time in the traced window)")
      }
      spansOut.foreach { p =>
        tr.writeJson(p)
        println(s"# spans written to $p")
      }
    }
    val result =
      if (!traced) Catalog.endToEnd.map(e => e2e.find(_.name == e.name).get)
      else Catalog.gatedPerLayer.map(e => layer.find(_.name == e.name)
        .getOrElse(Metric(e.name, 0.0, e.unit)))
    println(json(correct, attempted, failed, result))
    if (correct) 0 else 1
  }

  private def value(name: String, ms: Seq[Metric]): Double =
    ms.find(_.name == name).get.value

  private def print(m: Metric): Unit = {
    val head =
      if (m.alias.isEmpty) s"${m.name} = ${m.value} ${m.unit}"
      else s"${m.alias} = ${m.value} ${m.aliasUnit}   [${m.name}]"
    println(if (m.note.isEmpty) head else s"$head   (${m.note})")
  }

  private def json(correct: Boolean, attempted: Long, failed: Long,
                   ms: Seq[Metric]): String = {
    val body = ms.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
