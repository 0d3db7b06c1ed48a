package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Shared local session + chispa-style DataFrame equality for all suites
  * (mirrors the reference's test setup,
  * tests/test_public_interface.py:17-27 and its
  * `chispa.assert_df_equality(..., ignore_row_order=True)` comparisons).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def tmpDir(prefix: String): String = {
    val base = java.nio.file.Paths.get("/root/repo/target/tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).resolve("t").toString
  }

  def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Row-order-insensitive equality; nullability ignored by default. */
  def assertDfEquality(actual: DataFrame, expected: DataFrame,
                       ignoreNullable: Boolean = true): Unit = {
    def norm(t: StructType): Seq[(String, DataType)] =
      t.fields.toSeq.map(f => (f.name, f.dataType))
    if (ignoreNullable)
      assert(norm(actual.schema) == norm(expected.schema),
        s"schema mismatch:\n  actual:   ${actual.schema.sql}\n  expected: ${expected.schema.sql}")
    else
      assert(actual.schema == expected.schema)
    val a = actual.collect().map(_.toString).sorted.toSeq
    val e = expected.collect().map(_.toString).sorted.toSeq
    assert(a == e, s"rows mismatch:\n  actual:   ${a.mkString("; ")}\n  expected: ${e.mkString("; ")}")
  }

  /** Spark jobs started while `body` runs. By default counted by a job
    * group tag, so concurrent suite activity on the shared SparkContext
    * cannot inflate the count; `allThreads` counts every job instead, for
    * bodies that run jobs on pool threads, which do not inherit the
    * caller's local properties (suites in the forked test JVM run one at
    * a time). `body` runs synchronously, so every job it triggers has
    * STARTED before it returns; the settle loop only waits out the async
    * listener-bus delivery of those already-started events.
    */
  def countJobs(body: => Unit, allThreads: Boolean = false): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"countjobs-${java.util.UUID.randomUUID()}"
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        val g = Option(jobStart.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (allThreads || g == group) { counter.incrementAndGet(); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    if (!allThreads) spark.sparkContext.setJobGroup(group, "SparkSpec.countJobs")
    try {
      body
      var last = -1
      var settled = 0
      val deadline = System.nanoTime() + 10_000_000_000L
      while (settled < 3 && System.nanoTime() < deadline) {
        val cur = counter.get()
        if (cur == last) settled += 1 else { settled = 0; last = cur }
        Thread.sleep(50)
      }
    } finally {
      if (!allThreads) spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    counter.get()
  }

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  def dt(s: String): java.sql.Date = java.sql.Date.valueOf(s)
}
