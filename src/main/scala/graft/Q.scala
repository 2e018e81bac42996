package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark implementation plus (when
  * SQL-expressible) a DuckDB-runnable ANSI-SQL oracle over the same
  * parquet tables. Column names MUST match between the two — the
  * driver sorts columns by name before hashing values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryPack {
  def all: Seq[Q]
}

/** Testdata table reader. Tables are single parquet files named
  * `<table>.parquet` under the scale-factor directory the driver
  * passes in (see TESTDATA.md). Column pruning + predicate pushdown
  * happen in Catalyst because every query selects/filters on the
  * scan directly.
  *
  * Schema: for a single file, [[apply]] reads the parquet footer on the
  * driver and hands the schema to the reader, because Spark's own
  * schema inference runs a one-task Spark job per read — about 30 ms
  * plus its driver-side set-up, paid by every query before its action.
  * The footer goes through the converter that job uses
  * (`ParquetFileFormat.readSchemaFromFooter`) built from the session's
  * SQL confs, so types, nullability and the field metadata Spark keeps
  * in the footer come out the same. A directory or a path that does not
  * exist falls back to `spark.read.parquet`, so Spark's file choice and
  * its error messages stay as they are.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The Spark schema of the single parquet file at `path`, read from
    * its footer; None when `path` is a directory or does not exist. */
  private def footerSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      // only the schema and key-value metadata are used: skip the row
      // groups' metadata, as Spark's inference does
      val options = HadoopReadOptions.builder(conf, st.getPath)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .build()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        options)
      val footer =
        try new org.apache.parquet.hadoop.Footer(st.getPath, reader.getFooter)
        finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (readable only as a raw long via
    * `nanosAsLong`, truncated here to µs with integer `DIV` — epoch
    * nanos ≈ 1.7e18 overflows double's 2^53 mantissa) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read natively as
    * TIMESTAMP_NTZ). Both normalize to the SAME TimestampType micros
    * column — the NTZ wall time reinterprets in the UTC session, so
    * the micro values are identical either way, and the DuckDB oracles
    * (`epoch_us(ts)`) see the same instants unchanged. Branching on
    * the READ type (not the testdata generation) also keeps raw-long
    * spec fixtures working.
    *
    * `nanosAsLong` is set on the session and left set: the footer
    * schema is converted under it here, but the scan that must read
    * the NANOS column as a long runs later, at the caller's action,
    * and reads the conf again then. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
