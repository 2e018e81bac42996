package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.TimestampType

/** `Tables` reads a single-file table's schema from its parquet footer
  * on the driver instead of letting Spark infer it with a job. The
  * schema must be the one Spark infers — types, nullability and field
  * metadata — and building the frame must start no job. */
class TablesSpec extends SparkSpec {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def tableNames(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  private def inferred(dir: String, t: String) =
    spark.read.parquet(s"$dir/$t.parquet").schema

  test("footer schema ≡ Spark's inferred schema for every testdata table") {
    for (dir <- dirs; t <- tableNames(dir)) {
      assert(Tables(spark, dir, t).schema.json == inferred(dir, t).json,
        s"$dir/$t")
    }
  }

  test("Tables.events: footer schema under nanosAsLong, ts normalized") {
    for (dir <- dirs)
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
        val raw = inferred(dir, "events")
        assert(Tables(spark, dir, "events").schema.json == raw.json, dir)
        val ev = Tables.events(spark, dir).schema
        assert(ev.fieldNames.toSeq == raw.fieldNames.toSeq, dir)
        assert(ev.filter(_.name != "ts") == raw.filter(_.name != "ts"), dir)
        assert(ev("ts").dataType == TimestampType, dir)
      }
  }

  test("a Spark-written single file keeps nullability and field metadata") {
    val dir = tmpDir("graft_tables")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "kept in the footer").build()
    val df = spark.range(4).selectExpr("id", "cast(id as string) AS s")
      .withMetadata("s", meta).coalesce(1)
    df.write.parquet(s"$dir/w")
    val part = new java.io.File(s"$dir/w").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/one.parquet"))
    val schema = Tables(spark, dir, "one").schema
    assert(schema.json == inferred(dir, "one").json)
    assert(schema("s").metadata == meta)
  }

  test("a table written as a directory falls back to Spark's inference") {
    val dir = tmpDir("graft_tables")
    spark.range(5).selectExpr("id", "cast(id as string) AS s")
      .write.parquet(s"$dir/t.parquet")
    val (df, jobs) = jobsStarted(Tables(spark, dir, "t"))
    assert(df.schema.json == inferred(dir, "t").json)
    assert(jobs > 0, "a directory read should infer its schema with a " +
      "Spark job (listener harness broken otherwise)")
  }

  test("a missing table fails as spark.read.parquet does") {
    val dir = tmpDir("graft_tables")
    val viaTables = intercept[AnalysisException](Tables(spark, dir, "nope"))
    val viaSpark = intercept[AnalysisException](
      spark.read.parquet(s"$dir/nope.parquet"))
    assert(viaTables.getMessage == viaSpark.getMessage)
  }

  test("building single-file table frames starts no Spark job") {
    val dir = dirs.head
    // puts back the nanosAsLong that Tables.events sets on the session
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val (_, jobs) = jobsStarted {
        tableNames(dir).foreach(t => Tables(spark, dir, t))
        Tables.events(spark, dir)
      }
      assert(jobs == 0, s"building the table frames ran $jobs Spark job(s)")
    }
  }
}
