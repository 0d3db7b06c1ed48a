package graftbench

/** A measured value. `alias` is the workload's own name for a generic
  * end-to-end metric (for example `upsert_rows_per_s` is `scd2_merge`'s
  * `throughput_per_s`); `note` carries sample counts and percentiles.
  */
final case class Metric(name: String, value: Double, unit: String,
                        alias: String = "", aliasUnit: String = "",
                        note: String = "")

/** A check of the program's output that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}

/** One closed-loop workload: a single client whose next operation starts
  * when the previous one has finished. Inputs come from the seed only.
  */
trait Workload {
  /** Operations per cycle of the fixed operation mix. The measured window
    * ends on a cycle boundary, so every run sees the same mix.
    */
  def cycle: Int

  /** Operations run after set-up and before measuring (JIT, codegen and
    * reader caches warm up on them).
    */
  def warmupOps: Int

  /** Fingerprint of the generated inputs: the set-up state and the
    * batches of the first cycles.
    */
  def fingerprint: String

  /** Builds the starting state under the empty directory `dir`. Runs
    * several times; the last state built is the one the loop uses.
    */
  def setup(dir: java.nio.file.Path): Unit

  /** Runs operation `i` of the seeded schedule, times the call itself and
    * checks its output. Throws on an error or a failed check.
    */
  def op(i: Long): Unit

  /** Forgets the samples of the window measured so far. */
  def resetSamples(): Unit

  /** Checks of the whole final state; each failure as a message. */
  def finalCheck(): Seq[String]

  /** The generic end-to-end metrics (`throughput_per_s`, `op_p50_s`,
    * `write_bytes_per_row`) under the workload's own names, plus
    * workload-only figures that are printed but not gated.
    */
  def endToEnd: Seq[Metric]

  /** Per-layer metrics from the traced window's spans and the workload's
    * own counts. Metrics of layers this workload never calls are left out
    * and reported as zero.
    */
  def perLayer(tr: Tracer): Seq[Metric]

  /** Extra work that only the traced run does, after the measured window
    * (a kernel-only projection, for example).
    */
  def tracedExtras(tr: Tracer): Unit = ()
}
