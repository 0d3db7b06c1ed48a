package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark engine work as running totals: jobs started, tasks ended, shuffle
  * bytes written and task run time. Spans read the totals at their start
  * and end, so each span is charged what ran while it was open.
  */
final class EngineCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val taskMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskMs.addAndGet(m.executorRunTime)
    }
  }

  def snapshot: Counts =
    Counts(jobs.get, tasks.get, shuffleBytes.get, taskMs.get, Jvm.gcMs)
}

final case class Counts(jobs: Long, tasks: Long, shuffleBytes: Long,
                        taskMs: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    shuffleBytes - o.shuffleBytes, taskMs - o.taskMs, gcMs - o.gcMs)
}

object Jvm {
  /** Accumulated collection time of every garbage collector, ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def oldGenPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Peak old-generation occupancy right after a collection, from the
    * collectors' notifications (the occupancy that survives GC, so it
    * measures live data rather than garbage awaiting collection).
    */
  final class OldGenPeak extends NotificationListener {
    private val poolName = oldGenPool.map(_.getName).getOrElse("")
    private val peak = new AtomicLong(0L)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData]
        val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
        val after = gcInfo.get("memoryUsageAfterGc")
          .asInstanceOf[javax.management.openmbean.TabularData]
        after.values().asScala.foreach { row =>
          val r = row.asInstanceOf[CompositeData]
          if (r.get("key") == poolName) {
            val used = r.get("value").asInstanceOf[CompositeData]
              .get("used").asInstanceOf[Long]
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }
      }

    def reset(): Unit = peak.set(0L)

    /** Forces a collection so the window ends with a fresh reading. */
    def peakBytes(): Long = {
      System.gc()
      val now = oldGenPool.map(_.getCollectionUsage.getUsed).getOrElse(0L)
      math.max(peak.get, now)
    }
  }
}

/** One recorded span: a call from the benchmark into one layer. `op` ties
  * the spans of one benchmark operation together; `phase` is setup,
  * warmup or measure.
  */
final case class SpanRec(id: Int, parent: Int, op: Long, phase: String,
                         name: String, startNs: Long, endNs: Long,
                         counts: Counts) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each graft layer. Disabled, a
  * span is just the call. Enabled, it waits for Spark's listener bus to
  * drain at both ends, so the engine counters charged to the span are
  * complete. Spans stay in memory until [[writeJson]]. `listen` registers
  * the engine counters' listener; only a traced run does.
  */
final class Tracer(sc: SparkContext, listen: Boolean) {
  private val counters = new EngineCounters
  if (listen) sc.addSparkListener(counters)
  var enabled = false
  private val done = ArrayBuffer[SpanRec]()
  private case class Open(id: Int, parent: Int, op: Long, phase: String,
                          name: String, startNs: Long, start: Counts)
  private var stack: List[Open] = Nil
  private var nextId = 0
  private var curOp = -1L
  var phase = "setup"

  def setOp(op: Long): Unit = curOp = op

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      org.apache.spark.BenchListenerBus.drain(sc)
      val o = Open(nextId, stack.headOption.map(_.id).getOrElse(-1), curOp,
        phase, name, System.nanoTime(), counters.snapshot)
      nextId += 1
      stack = o :: stack
      try f
      finally {
        val end = System.nanoTime()
        org.apache.spark.BenchListenerBus.drain(sc)
        stack = stack.tail
        done += SpanRec(o.id, o.parent, o.op, o.phase, o.name, o.startNs,
          end, counters.snapshot - o.start)
      }
    }

  def spans: Seq[SpanRec] = done.toSeq

  def named(name: String, phase: String = "measure"): Seq[SpanRec] =
    done.iterator.filter(s => s.name == name && s.phase == phase).toSeq

  /** Seconds per layer spent in the layer's own spans, minus the time
    * covered by their child spans (children run sequentially inside their
    * parent, so their durations add up without overlap).
    */
  def selfSeconds(phase: String = "measure"): Map[String, Double] = {
    val inPhase = done.filter(_.phase == phase)
    val childNs = inPhase.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    inPhase.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s =>
        (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  /** Engine counters per operation over `ops` (spans of one main
    * operation type, inclusive of their children).
    */
  def perOp(ops: Seq[SpanRec], what: String): Seq[Metric] = {
    val n = math.max(1, ops.size).toDouble
    val wallMs = ops.map(s => (s.endNs - s.startNs) / 1e6).sum
    val note = s"mean per $what, n=${ops.size}"
    Seq(
      Metric("spark.jobs_per_op", ops.map(_.counts.jobs).sum / n, "count", note = note),
      Metric("spark.tasks_per_op", ops.map(_.counts.tasks).sum / n, "count", note = note),
      Metric("spark.shuffle_bytes_per_op", ops.map(_.counts.shuffleBytes).sum / n,
        "bytes", note = note),
      Metric("spark.task_busy_frac",
        if (wallMs == 0) 0.0
        else ops.map(_.counts.taskMs).sum / (wallMs * sc.defaultParallelism),
        "frac", note = s"task time / (wall x ${sc.defaultParallelism} cores), $what"),
      Metric("jvm.gc_s", ops.map(_.counts.gcMs).sum / 1000.0 / n, "s", note = note),
    )
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    done.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""phase":"${s.phase}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${s.counts.jobs},"tasks":${s.counts.tasks},""" +
        s""""shuffle_bytes":${s.counts.shuffleBytes},""" +
        s""""task_ms":${s.counts.taskMs},"gc_ms":${s.counts.gcMs}}"""
      sb ++= (if (i + 1 < done.size) ",\n" else "\n")
    }
    sb ++= "]\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
