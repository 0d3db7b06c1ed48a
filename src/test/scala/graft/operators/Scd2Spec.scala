package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.{GraftTypeError, SparkSpec}
import graft.tables.ManagedTable

/** Vectors transcribed from the reference suite
  * (tests/test_public_interface.py:31-368).
  */
class Scd2Spec extends SparkSpec {

  private val baseSchema = StructType(Seq(
    StructField("pkey", IntegerType),
    StructField("attr", StringType),
    StructField("is_current", BooleanType),
    StructField("effective_time", TimestampType),
    StructField("end_time", TimestampType)))

  private val updSchema = StructType(Seq(
    StructField("pkey", IntegerType),
    StructField("attr", StringType),
    StructField("effective_time", TimestampType)))

  test("canonical upsert: close changed, insert changed+new (tests:31-79)") {
    val base = df(baseSchema, Seq(
      Row(1, "A", true, ts("2019-01-01 00:00:00"), null),
      Row(2, "B", true, ts("2019-01-01 00:00:00"), null),
      Row(4, "D", true, ts("2019-01-01 00:00:00"), null)))
    val updates = df(updSchema, Seq(
      Row(2, "Z", ts("2020-01-01 00:00:00")), // value to upsert
      Row(3, "C", ts("2020-09-15 00:00:00")))) // new value
    val out = Scd2(base, updates, "pkey", Seq("attr"))
    val expected = df(baseSchema, Seq(
      Row(2, "B", false, ts("2019-01-01 00:00:00"), ts("2020-01-01 00:00:00")),
      Row(3, "C", true, ts("2020-09-15 00:00:00"), null),
      Row(2, "Z", true, ts("2020-01-01 00:00:00"), null),
      Row(4, "D", true, ts("2019-01-01 00:00:00"), null),
      Row(1, "A", true, ts("2019-01-01 00:00:00"), null)))
    assertDfEquality(out.select(baseSchema.fieldNames.map(org.apache.spark.sql.functions.col): _*), expected)
  }

  test("upsert shell against ManagedTable") {
    val loc = tmpDir("scd2")
    val t = ManagedTable.create(df(baseSchema, Seq(
      Row(1, "A", true, ts("2019-01-01 00:00:00"), null))), loc)
    Scd2.upsert(t, df(updSchema, Seq(Row(1, "B", ts("2020-01-01 00:00:00")))),
      "pkey", Seq("attr"))
    val expected = df(baseSchema, Seq(
      Row(1, "A", false, ts("2019-01-01 00:00:00"), ts("2020-01-01 00:00:00")),
      Row(1, "B", true, ts("2020-01-01 00:00:00"), null)))
    assertDfEquality(t.toDF, expected)
  }

  test("multi-attr + NULL attr 3VL (tests:156-206)") {
    val schema = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr1", StringType),
      StructField("attr2", IntegerType),
      StructField("is_current", BooleanType),
      StructField("effective_time", TimestampType),
      StructField("end_time", TimestampType)))
    val base = df(schema, Seq(
      Row(1, "A", 1, true, ts("2019-01-01 00:00:00"), null),
      Row(2, "B", 2, true, ts("2019-01-01 00:00:00"), null),
      Row(4, "D", 4, true, ts("2019-01-01 00:00:00"), null)))
    val upd = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr1", StringType),
      StructField("attr2", IntegerType),
      StructField("effective_time", TimestampType)))
    val updates = df(upd, Seq(
      Row(2, "Z", null, ts("2020-01-01 00:00:00")), // attr1 changed, attr2 → NULL
      Row(3, "C", 3, ts("2020-09-15 00:00:00"))))
    val out = Scd2(base, updates, "pkey", Seq("attr1", "attr2"))
    val expected = df(schema, Seq(
      Row(2, "B", 2, false, ts("2019-01-01 00:00:00"), ts("2020-01-01 00:00:00")),
      Row(2, "Z", null, true, ts("2020-01-01 00:00:00"), null),
      Row(3, "C", 3, true, ts("2020-09-15 00:00:00"), null),
      Row(4, "D", 4, true, ts("2019-01-01 00:00:00"), null),
      Row(1, "A", 1, true, ts("2019-01-01 00:00:00"), null)))
    assertDfEquality(
      out.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*),
      expected)
  }

  test("date-flavored generic upsert (tests:211-260)") {
    val schema = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr", StringType),
      StructField("cur", BooleanType),
      StructField("effective_date", DateType),
      StructField("end_date", DateType)))
    val base = df(schema, Seq(
      Row(1, "A", true, dt("2019-01-01"), null),
      Row(2, "B", true, dt("2019-01-01"), null)))
    val upd = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr", StringType),
      StructField("effective_date", DateType)))
    val updates = df(upd, Seq(Row(2, "Z", dt("2020-01-01"))))
    val out = Scd2(base, updates, "pkey", Seq("attr"),
      "cur", "effective_date", "end_date")
    val expected = df(schema, Seq(
      Row(1, "A", true, dt("2019-01-01"), null),
      Row(2, "B", false, dt("2019-01-01"), dt("2020-01-01")),
      Row(2, "Z", true, dt("2020-01-01"), null)))
    assertDfEquality(
      out.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*),
      expected)
  }

  test("integer-version flavor (tests:263-319)") {
    val schema = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr", StringType),
      StructField("is_current", BooleanType),
      StructField("effective_ver", IntegerType),
      StructField("end_ver", IntegerType)))
    val base = df(schema, Seq(
      Row(1, "A", true, 1, null),
      Row(2, "B", true, 1, null)))
    val upd = StructType(Seq(
      StructField("pkey", IntegerType),
      StructField("attr", StringType),
      StructField("effective_ver", IntegerType)))
    val updates = df(upd, Seq(Row(2, "Z", 2), Row(3, "C", 3)))
    val out = Scd2(base, updates, "pkey", Seq("attr"),
      "is_current", "effective_ver", "end_ver")
    val expected = df(schema, Seq(
      Row(1, "A", true, 1, null),
      Row(2, "B", false, 1, 2),
      Row(2, "Z", true, 2, null),
      Row(3, "C", true, 3, null)))
    assertDfEquality(
      out.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*),
      expected)
  }

  test("exact-duplicate update is a no-op (tests:322-368)") {
    val base = df(baseSchema, Seq(
      Row(1, "A", true, ts("2019-01-01 00:00:00"), null),
      Row(2, "B", true, ts("2019-01-01 00:00:00"), null)))
    val updates = df(updSchema, Seq(
      Row(1, "A", ts("2019-01-01 00:00:00")))) // identical attr → no-op
    val out = Scd2(base, updates, "pkey", Seq("attr"))
    assertDfEquality(
      out.select(baseSchema.fieldNames.map(org.apache.spark.sql.functions.col): _*),
      base)
  }

  test("validation errors (tests:82-153)") {
    val base = df(baseSchema, Seq(Row(1, "A", true, ts("2019-01-01 00:00:00"), null)))
    val updates = df(updSchema, Seq(Row(1, "B", ts("2020-01-01 00:00:00"))))
    // base missing a required column
    assertThrows[GraftTypeError](
      Scd2(base.drop("end_time"), updates, "pkey", Seq("attr")))
    // updates with an extra column
    assertThrows[GraftTypeError](
      Scd2(base, updates.withColumn("extra", org.apache.spark.sql.functions.lit(1)),
        "pkey", Seq("attr")))
  }

  test("a file-pruned upsert on a pk-sorted table stays within its Spark " +
       "job budget (one key collect, one staging read of the touched file)") {
    def rows(r: Range) = df(baseSchema,
      r.map(i => Row(i, s"a$i", true, ts("2019-01-01 00:00:00"), null))).coalesce(1)
    val t = ManagedTable.create(rows(1 to 100), tmpDir("scd2jobs"))
    t.append(rows(101 to 200))
    t.append(rows(201 to 300))
    def edgeFiles = (t.toDFWhere("pkey <= 100").inputFiles ++
      t.toDFWhere("pkey > 200 AND pkey <= 300").inputFiles).toSet
    val edge = edgeFiles
    assert(edge.size == 2, s"setup: one file per pk range, got $edge")
    val updates = df(updSchema, Seq(
      Row(150, "CHANGED", ts("2020-01-01 00:00:00")), // closes a version
      Row(160, "a160", ts("2020-01-01 00:00:00")),    // unchanged: no-op
      Row(1000, "NEW", ts("2020-01-01 00:00:00"))))   // new key, no file
    val jobs = countJobs { Scd2.upsert(t, updates, "pkey", Seq("attr")) }
    assert(edge.subsetOf(t.toDF.inputFiles.toSet),
      "the files the batch's keys cannot touch are kept")
    val cur = t.toDF.filter("is_current").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(cur.size == 301 && cur(150) == "CHANGED" && cur(160) == "a160" &&
      cur(1000) == "NEW")
    assert(t.toDF.count() == 302)
    // 8 jobs: the key collect (distinct over a non-local frame: 2) and the
    // write (6: one outer join over the touched file, staged against that
    // file only: 4, the match-count window's shuffle: 1, and the shuffle
    // that keeps the touched file's layout: 1, with no sample job).
    info(s"pruned SCD2 upsert ran $jobs Spark jobs")
    assert(jobs <= 8, s"pruned SCD2 upsert ran $jobs Spark jobs (budget 8)")
  }
}
