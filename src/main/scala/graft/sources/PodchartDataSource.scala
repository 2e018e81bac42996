package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for the chart ingest boundary (SURVEY.md §2.1
  * S1): `spark.read.format("podchart").load(dir)`.
  *
  * The reference fetches one JSON chart payload per (region, date) from
  * a REST API (`spotify_eps.py:37-49`). This connector models exactly
  * that boundary: each file `chart_<region>_<date>.json` (A1-shaped JSON
  * array) becomes ONE raw payload row `(date, region, payload)`, read in
  * its own input partition (22 regions → 22 parallel "fetches"). Parsing
  * stays in the engine — compose with `ChartOps.parsePayloads`, which
  * turns array order into rank via posexplode.
  *
  * ONLINE MODE (`http.url` option): the same plan shape with the file
  * read swapped for the reference's HTTP GET — one partition per
  * region, fetched executor-side:
  * {{{
  * spark.read.format("podchart")
  *   .option("http.url", "https://chart.example.com/api/charts")
  *   .option("http.chart", "top_episodes")   // default top_episodes
  *   .option("http.regions", "us,gb,de")     // one partition per region
  *   .option("http.date", "2026-08-13")      // the run's logical date
  *   .option("http.referer", "https://chart.example.com/") // optional
  *   .load()
  * }}}
  * matching `spotify_eps.py:37-49`: GET `{url}/{chart}?region={r}` with
  * a Referer header; a non-2xx response throws (`raise_for_status`), so
  * the task fails and Spark's task retry replays the fetch — the same
  * retry seam the reference delegates to Airflow. The default (no
  * `http.url`) stays the offline fixture-directory scan, which is what
  * every gate query uses — the sandbox has no egress.
  */
class PodchartDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "podchart"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PodchartDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PodchartTable(properties.get("path"))
}

object PodchartDataSource {
  /** Raw ingest rows: payload is the unparsed chart JSON array. */
  val schema: StructType = StructType(Seq(
    StructField("date", StringType),
    StructField("region", StringType),
    StructField("payload", StringType)))

  private[sources] val FilePattern = """chart_([a-zA-Z]+)_(\d{4}-\d{2}-\d{2})\.json""".r

  /** (url, chart, region, date, referer) per http-mode partition. */
  private[sources] def httpPartitions(
      opts: CaseInsensitiveStringMap): Array[InputPartition] = {
    val url = opts.get("http.url").stripSuffix("/")
    val chart = Option(opts.get("http.chart")).getOrElse("top_episodes")
    // the chart name lands RAW in the URL path — validate at planning
    // time so a reserved character fails the query once, loudly, not
    // identically on every executor task retry
    require(chart.matches("[A-Za-z0-9_-]+"),
      s"http.chart must be a bare chart slug ([A-Za-z0-9_-]+), got '$chart'")
    val referer = Option(opts.get("http.referer"))
    val regions = Option(opts.get("http.regions"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "podchart http mode needs http.regions (comma-separated), e.g. " +
          "option(\"http.regions\", \"us,gb\")"))
    // http.date is REQUIRED, like http.regions: defaulting to
    // wall-clock "today" at planning time would stamp a different date
    // if the same DataFrame is re-planned/re-read across a UTC midnight
    // — nondeterministic plan literals for one logical read. The run's
    // logical date is the orchestrator's to pass (the reference gets it
    // from Airflow's `ds`), not this source's to invent.
    val date = Option(opts.get("http.date")).getOrElse(
      throw new IllegalArgumentException(
        "podchart http mode needs http.date (the run's logical date, " +
          "e.g. option(\"http.date\", \"2026-08-13\")) — it is not " +
          "defaulted to now() because a replan across midnight would " +
          "change the plan"))
    // LocalDate.parse, not a shape regex: '2026-99-99' would otherwise
    // be embedded in every fetch URL and fail only server-side — an
    // impossible date should fail HERE, at planning time, once
    require(date.matches("""\d{4}-\d{2}-\d{2}""") &&
        scala.util.Try(java.time.LocalDate.parse(date)).isSuccess,
      s"http.date must be a real YYYY-MM-DD calendar date, got '$date'")
    regions.distinct.sorted
      .map(r => HttpChartPartition(url, chart, r, date, referer): InputPartition)
      .toArray
  }
}

class PodchartTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"podchart($path)"
  override def schema(): StructType = PodchartDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PodchartScanBuilder(
      Option(options.get("path")).getOrElse(path), options)
}

class PodchartScanBuilder(path: String, opts: CaseInsensitiveStringMap)
  extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = PodchartDataSource.schema
  override def toBatch: Batch = this

  /** One partition per chart file = one "fetch" per (region, date),
    * exactly the reference's per-region request parallelism; in http
    * mode, one partition per region straight from the options. Listing
    * goes through Hadoop's FileSystem so non-local URIs (hdfs://,
    * s3a://) resolve like any other Spark source, and a missing or
    * non-directory path FAILS FAST instead of silently planning zero
    * partitions (an empty DataFrame would read as "no charts today"). */
  override def planInputPartitions(): Array[InputPartition] = {
    if (opts.containsKey("http.url"))
      return PodchartDataSource.httpPartitions(opts)
    val hadoopConf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"podchart path does not exist: $path")
    if (!fs.getFileStatus(p).isDirectory)
      throw new IllegalArgumentException(s"podchart path is not a directory: $path")
    fs.listStatus(p)
      .filter(s => PodchartDataSource.FilePattern.matches(s.getPath.getName))
      .sortBy(_.getPath.getName)
      .map(s => PodchartPartition(s.getPath.toString): InputPartition)
  }

  /** The session's Hadoop conf is broadcast once per scan (the way
    * Spark's own `FileSourceScanExec` does) so spark.hadoop.* settings —
    * s3a credentials/endpoints, custom FS impls — reach the
    * executor-side read; an empty executor-side `new Configuration()`
    * would resolve only schemes that need zero config. The factory
    * carries only the broadcast handle: a conf held as a field would be
    * in every task's closure and deserialized by every task, including
    * tasks that read a cache built on top of this scan. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    new PodchartReaderFactory(spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf())))
  }
}

case class PodchartPartition(file: String) extends InputPartition

/** One (region, date) fetch in http mode — the unit the reference
  * retries. */
case class HttpChartPartition(url: String, chart: String, region: String,
    date: String, referer: Option[String]) extends InputPartition

class PodchartReaderFactory(
    conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case h: HttpChartPartition => new PodchartHttpReader(h)
      case f: PodchartPartition => new PodchartReader(f.file, conf)
    }
}

/** Executor-side single-fetch reader: GET `{url}/{chart}?region={r}`
  * with an optional Referer — `spotify_eps.py:37-49` — yielding one
  * (date, region, payload) row. A non-2xx response or connect failure
  * throws out of `get()`, failing the task; Spark's task retry
  * (`spark.task.maxFailures`) replays JUST this region's fetch, which
  * is the engine-native form of the reference's raise_for_status →
  * Airflow-task-retry loop. */
class PodchartHttpReader(p: HttpChartPartition)
  extends PartitionReader[InternalRow] {
  private var consumed = false

  override def next(): Boolean = !consumed

  override def get(): InternalRow = {
    consumed = true
    val url = s"${p.url}/${p.chart}?region=" +
      java.net.URLEncoder.encode(p.region, "UTF-8")
    val payload = HttpFetch.get(url, p.referer.map("Referer" -> _).toMap)
    InternalRow(
      UTF8String.fromString(p.date),
      UTF8String.fromString(p.region),
      UTF8String.fromString(payload))
  }

  override def close(): Unit = ()
}

class PodchartReader(file: String,
    conf: Broadcast[SerializableConfiguration])
  extends PartitionReader[InternalRow] {
  private var consumed = false

  override def next(): Boolean = !consumed

  override def get(): InternalRow = {
    consumed = true
    val p = new org.apache.hadoop.fs.Path(file)
    val name = p.getName
    val (region, date) = name match {
      case PodchartDataSource.FilePattern(r, d) => (r, d)
      case _ => ("unknown", "1970-01-01")
    }
    // executor-side read with the DRIVER'S Hadoop conf, so the same
    // credentials/FS settings the planner listed with apply here
    val fs = p.getFileSystem(conf.value.value)
    val len = fs.getFileStatus(p).getLen
    // one row holds the whole payload as a String; a >2GB chart file
    // cannot be represented and must fail loudly, not truncate
    if (len > Int.MaxValue - 8)
      throw new IllegalArgumentException(
        s"podchart payload $file is $len bytes — exceeds the single-row " +
          "String limit; split the feed or switch to a binary/streamed sink")
    val out = new java.io.ByteArrayOutputStream(len.toInt)
    val in = fs.open(p)
    try {
      val chunk = new Array[Byte](1 << 16)
      var n = in.read(chunk)
      while (n >= 0) { out.write(chunk, 0, n); n = in.read(chunk) }
    } finally in.close()
    val payload = out.toString(java.nio.charset.StandardCharsets.UTF_8)
    InternalRow(
      UTF8String.fromString(date),
      UTF8String.fromString(region),
      UTF8String.fromString(payload))
  }

  override def close(): Unit = ()
}
