package benchmark

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ops.{BatchedLookup, ChartOps, EnrichOps, EpisodeOps, UnionOps}
import graft.run.Pipeline
import graft.streaming.StreamingOps

/** One timed operation: a logical date (pipeline workloads) or one
  * query execution (query_mix), with the wall time of its parts. */
final case class Op(trace: String, seconds: Double, ok: Boolean,
    traced: Boolean, parts: Seq[(String, Double)] = Nil, rows: Long = -1L,
    query: String = "", pack: String = "", error: String = "")

/** The benchmark's JVM side. Runs one workload against the repository's
  * public modules and writes the raw record that `run.py` turns into
  * metrics:
  * {{{
  * Harness --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *         --work <dir> --tables <dir>
  * }}}
  * One client thread drives the program in a closed loop: the next
  * operation starts when the previous one has finished. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, tables: String)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("work")).toAbsolutePath, m.getOrElse("tables", ""))
    val spark = session(a.work)
    progress("session ready")
    val tracer = new Tracer
    val probe = if (a.trace) Some(new Probe(spark)) else None
    val run: Workload = a.workload match {
      case "pipeline_daily" => new PipelineWorkload(spark, a, tracer, rebuild = false)
      case "pipeline_rebuild" => new PipelineWorkload(spark, a, tracer, rebuild = true)
      case "query_mix" => new QueryMixWorkload(spark, a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.execute()
    progress("workload done")
    probe.foreach(_.close(tracer))
    val layers = probe.map(p => run.layers(p)).getOrElse(Map.empty)
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "setup_s" -> Json.num(run.setupS),
      "heap_live_end_mb" -> Json.num(run.heapEndMb),
      "ops" -> run.ops.map(opJson).mkString("[\n", ",\n", "\n]"),
      "checks" -> Json.obj(run.checks.map { case (k, v) => k -> Json.str(v) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(a.work.resolve("record.json"), record)
    if (a.trace) Files.writeString(a.work.resolve("spans.json"), tracer.toJson)
    progress("record written")
    spark.stop()
  }

  /** Progress line on stderr, stamped with the JVM's uptime. */
  def progress(msg: String): Unit = System.err.println(
    f"[benchmark +${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.3fs] $msg")

  private def opJson(o: Op): String = Json.obj(Seq(
    "trace" -> Json.str(o.trace), "seconds" -> Json.num(o.seconds),
    "ok" -> o.ok.toString, "traced" -> o.traced.toString, "rows" -> o.rows.toString,
    "query" -> Json.str(o.query), "pack" -> Json.str(o.pack),
    "parts" -> Json.obj(o.parts.map { case (k, v) => k -> Json.num(v) }),
    "error" -> Json.str(o.error.take(300))))

  private def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** What each workload provides to the harness. */
abstract class Workload(spark: SparkSession, a: Harness.Args) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.LinkedHashMap.empty[String, String]
  var setupS = 0.0
  private var timedStart = 0L

  def execute(): Unit

  def layers(p: Probe): Map[String, Double]

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  protected def record(o: Op): Unit = {
    Harness.progress(f"op ${o.trace} ${o.seconds}%.3f s ok=${o.ok} ${o.error}")
    ops += o
  }

  /** Marks the end of set-up: everything since the JVM started. */
  protected def startTimed(): Unit = {
    setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    timedStart = System.nanoTime()
  }
  protected def timeLeft: Boolean = secs(timedStart) < a.seconds

  /** Heap in use after full collections, once the timed operations and
    * the output checks are over: no collection is forced inside or
    * between operations. Spark's cleaner frees broadcast and shuffle
    * state only after a collection has cleared its weak references, so
    * this collects until the heap stops shrinking (at most five times). */
  def heapEndMb: Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var prev = Double.MaxValue
    var cur = used
    var rounds = 0
    while (rounds < 5 && prev - cur > 1.0) {
      System.gc(); Thread.sleep(300)
      prev = cur; cur = used; rounds += 1
    }
    Harness.progress(f"live heap $cur%.1f MB after $rounds collections")
    cur
  }

  /** Per-operation means of the Spark counters over the given labels,
    * plus the job-covered / driver-gap split of each operation's wall. */
  protected def sparkLayers(p: Probe, opTraces: Seq[(String, Double)]): Map[String, Double] = {
    val n = math.max(opTraces.size, 1).toDouble
    val per = opTraces.map { case (t, wall) =>
      val st = p.phases(t).map(_._2)
      val covered = Probe.covered(st.flatMap(_.jobSpans)) / 1e6
      (st, covered, wall)
    }
    def sum(f: PhaseStats => Long): Double = per.map(_._1.map(f).sum).sum.toDouble
    Map(
      "spark.plan_ms" -> sum(_.planMs) / n,
      "spark.jobs" -> sum(_.jobs) / n,
      "spark.stages" -> sum(_.stages) / n,
      "spark.tasks" -> sum(_.tasks) / n,
      "spark.job_covered_s" -> per.map(_._2).sum / n,
      "spark.driver_gap_s" -> per.map(x => x._3 - x._2).sum / n,
      "spark.task_busy_s" -> sum(_.taskBusyMs) / 1e3 / n,
      "spark.gc_s" -> sum(_.gcMs) / 1e3 / n,
      "spark.shuffle_write_bytes" -> sum(_.shuffleBytes) / n,
      "spark.shuffle_records" -> sum(_.shuffleRecords) / n,
      "spark.spill_bytes" -> sum(_.spillBytes) / n,
      "spark.input_bytes" -> sum(_.inputBytes) / n,
      "spark.output_bytes" -> sum(_.outputBytes) / n)
  }
}

/** pipeline_daily / pipeline_rebuild: consecutive logical dates of the
  * reference job. Each date lands 22 chart files, then (timed) reads
  * them through `format("podchart")`, looks episodes up 50 ids per call,
  * runs `Pipeline.runDailyResilient`, and refreshes gold — incrementally
  * (`StreamingOps.incrementalGold`) or by `Pipeline.rebuildGold` over a
  * silver history seeded at set-up whose older partitions lack
  * [[PipelineWorkload.LateColumn]]. */
final class PipelineWorkload(spark: SparkSession, a: Harness.Args, tracer: Tracer,
    rebuild: Boolean) extends Workload(spark, a) {
  import PipelineWorkload._

  private val inputs = new Inputs(a.seed)
  private val layout = Pipeline.Layout(a.work.resolve("bronze").toString,
    a.work.resolve("silver").toString, a.work.resolve("gold").toString)
  private val checkpoint = a.work.resolve("gold_checkpoint").toString
  private val first = LocalDate.of(2024, 1, 1)
  private var goldSchema: org.apache.spark.sql.types.StructType = _
  private var retries = 0L
  private var rowsAdded = 0L
  private val distinctIds = mutable.ArrayBuffer.empty[Long]
  private val silverFilesAtRebuild = mutable.ArrayBuffer.empty[Long]
  private val batches = new java.util.concurrent.atomic.AtomicLong()

  private def landing(date: LocalDate): Path = a.work.resolve("landing").resolve(date.toString)

  /** One logical date, from its landed chart files to gold refreshed;
    * returns the wall time of its run and gold parts. */
  private def day(date: LocalDate): Seq[(String, Double)] = {
    val trace = date.toString
    val t0 = System.nanoTime()
    var t1 = t0
    tracer.span("day", trace) {
      tracer.phase(spark, trace, "run") {
        tracer.span("run.daily", trace) {
          val charts = spark.read.format("podchart").load(landing(date).toString)
          val ids = ChartOps.parsePayloads(charts).select("episodeUri").distinct()
          val episodes = BatchedLookup.fetchPayloads(ids, "episodeUri", 50,
            (batch: Seq[String]) => EpisodeService.lookup(batch))
          Pipeline.runDailyResilient(spark, charts, episodes, layout,
            delayMillis = 0L, sleeper = _ => retries += 1)
        }
      }
      // the gold stream needs silver's schema; the first (untimed) date gives it
      if (!rebuild && goldSchema == null)
        goldSchema = spark.read.parquet(layout.silverDir).schema
      t1 = System.nanoTime()
      tracer.phase(spark, trace, "gold") {
        if (rebuild) tracer.span("gold.rebuild", trace) { Pipeline.rebuildGold(spark, layout) }
        else tracer.span("streaming.drain", trace) {
          rowsAdded += StreamingOps.incrementalGold(spark, layout.silverDir,
            layout.goldDir, checkpoint, goldSchema)
        }
      }
    }
    Seq("run_s" -> (t1 - t0) / 1e9, "gold_s" -> secs(t1))
  }

  /** Older silver partitions, written in one pass by the program's own
    * parse/enrich/sink functions, minus the late-added column. */
  private def seedHistory(days: Seq[LocalDate]): Unit = {
    import spark.implicits._
    val payloads = (for (d <- days; r <- Inputs.Regions.indices)
      yield (d.toString, Inputs.Regions(r), inputs.chartPayload(d, r)))
      .toDF("date", "region", "payload")
    val episodes = EpisodeOps.flatten(EpisodeOps.parsePayloads(
      BatchedLookup.fetchPayloads(inputs.pool.map(_.id).toDF("id"), "id", 50,
        (batch: Seq[String]) => EpisodeService.lookup(batch))))
    val enriched = EnrichOps.enrichValidated(ChartOps.parsePayloads(payloads), episodes)
    UnionOps.writeDailySnapshot(enriched.drop(LateColumn), layout.silverDir)
  }

  def execute(): Unit = {
    inputs.install()
    if (rebuild) {
      val t0 = System.nanoTime()
      seedHistory((HistoryDays to 1 by -1).map(first.minusDays(_)))
      Harness.progress(f"history ${secs(t0)}%.3f s")
    }
    (0 until WarmDays).foreach { i =>
      val t = System.nanoTime()
      inputs.land(landing(first.plusDays(i)), first.plusDays(i))
      day(first.plusDays(i))
      Harness.progress(f"warm day $i ${secs(t)}%.3f s")
    }
    EpisodeService.reset()
    retries = 0; rowsAdded = 0
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) { batches.incrementAndGet(); () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    startTimed()
    var d = first.plusDays(WarmDays)
    // a traced run traces dates in the order T U U T, which cancels a
    // linear drift (history growth) out of the traced/untraced split
    while (timeLeft || ops.size < MinDays) {
      tracer.active = a.trace && Set(0, 3)(ops.size % 4)
      inputs.land(landing(d), d)
      val t0 = System.nanoTime()
      val res = scala.util.Try(day(d))
      record(Op(d.toString, secs(t0), res.isSuccess, tracer.active, res.getOrElse(Nil),
        error = res.failed.map(_.toString).getOrElse("")))
      distinctIds += inputs.distinctIds(d)
      if (rebuild) silverFilesAtRebuild += parquetFiles(layout.silverDir).size
      d = d.plusDays(1)
    }
    tracer.active = false
    org.apache.spark.sql.BenchAccess.drainListeners(spark.sparkContext)
    spark.streams.removeListener(listener)
    check()
  }

  private def parquetFiles(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  private def bytes(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  /** Order-insensitive content digest per date: row count and the sum of
    * a 64-bit hash of each row's `cols`. */
  private def digest(df: DataFrame, cols: Seq[String]): Map[String, (Long, BigDecimal)] =
    df.groupBy(col("date").cast("string").as("d"))
      .agg(count(lit(1)).as("n"),
        sum(xxhash64(cols.map(c => col(s"`$c`").cast("string")): _*)
          .cast("decimal(38,0)")).as("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap

  /** Output checks, outside the timed region: every date's silver rows
    * equal its chart rows and are all enriched, and gold holds exactly
    * the union of silver. A date that fails any of them is a failed op. */
  private def check(): Unit = {
    val silver = UnionOps.readSnapshots(spark, layout.silverDir)
    val perDate = silver.groupBy(col("date").cast("string"))
      .agg(count(lit(1)), sum(when(col("duration_ms").isNull, 1L).otherwise(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (gold, cols) =
      if (rebuild) (spark.read.option("header", "true").csv(layout.goldDir), ChartCols)
      else (spark.read.parquet(layout.goldDir),
        silver.columns.filterNot(_ == "date").sorted.toSeq)
    val silverDigest = digest(silver, cols)
    val goldDigest = digest(gold, cols)
    val goldMatches = silverDigest == goldDigest
    checks("gold_equals_silver_union") = goldMatches.toString
    checks("silver_dates") = perDate.size.toString
    var badDates = 0
    ops.indices.foreach { i =>
      val o = ops(i)
      val (n, unenriched) = perDate.getOrElse(o.trace, (0L, 0L))
      val goldOk = if (rebuild) goldMatches
        else silverDigest.get(o.trace) == goldDigest.get(o.trace)
      val problem = Seq(
        Option.when(n != Inputs.RowsPerDate)(s"silver rows $n != ${Inputs.RowsPerDate}"),
        Option.when(unenriched > 0)(s"$unenriched silver rows not enriched"),
        Option.when(!goldOk)("gold differs from the union of silver")).flatten
      if (o.ok && problem.nonEmpty) {
        badDates += 1
        ops(i) = o.copy(ok = false, error = problem.mkString("; "))
      }
    }
    checks("dates_failing_output_checks") = badDates.toString
    checks("store_bytes_per_row") = (storeBytes / perDate.values.map(_._1).sum).toString
  }

  private def storeBytes: Double = (bytes(layout.silverDir) + bytes(layout.goldDir)).toDouble

  def layers(p: Probe): Map[String, Double] = {
    val traced = ops.filter(_.traced).toSeq
    val n = math.max(traced.size, 1).toDouble
    val all = math.max(ops.size, 1).toDouble
    val traces = traced.map(_.trace)
    def phase(name: String) = traces.flatMap(t => p.phases(t).filter(_._1 == name).map(_._2))
    def spanS(name: String) =
      tracer.spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum / n
    val runActions = phase("run").flatMap(_.actions)
    def actionS(f: ((String, String, Long)) => Boolean) = runActions.filter(f).map(_._3).sum / 1e9 / n
    val silverFiles = parquetFiles(layout.silverDir).size.toDouble
    val dates = math.max(UnionOps.readSnapshots(spark, layout.silverDir)
      .select("date").distinct().count(), 1L).toDouble
    val sent = EpisodeService.ids.get.toDouble
    sparkLayers(p, traced.map(o => o.trace -> o.seconds)) ++ Map(
      "run.daily_s" -> spanS("run.daily"),
      "run.retries" -> retries / all,
      "ops.bronze_write_s" -> actionS(_._2.contains("/bronze")),
      "ops.validate_s" -> actionS(_._1 == "count"),
      "ops.silver_write_s" -> actionS(_._2.contains("/silver")),
      "ops.lookup_calls" -> EpisodeService.calls.get / all,
      "ops.lookup_ids" -> sent / all,
      "ops.lookup_s" -> EpisodeService.nanos.get / 1e9 / all,
      "ops.lookup_useful_ratio" -> (if (sent > 0) distinctIds.sum / sent else 0.0),
      "ops.silver_files" -> silverFiles / dates,
      "ops.silver_bytes" -> bytes(layout.silverDir) / dates,
      "store.bytes_per_row" -> storeBytes / (dates * Inputs.RowsPerDate),
      "gold.rebuild_s" -> spanS("gold.rebuild"),
      "gold.rows_read" -> (if (rebuild) phase("gold").map(_.inputRecords).sum / n else 0.0),
      "gold.files_read" -> (if (rebuild) silverFilesAtRebuild.sum / all else 0.0),
      "gold.csv_bytes" -> (if (rebuild) bytes(layout.goldDir).toDouble else 0.0),
      "streaming.drain_s" -> spanS("streaming.drain"),
      "streaming.batches" -> batches.get / all,
      "streaming.rows_added" -> rowsAdded / all)
  }
}

object PipelineWorkload {
  /** Silver history seeded at set-up for pipeline_rebuild, in days. */
  val HistoryDays = 30
  /** Untimed dates that warm the JVM, codegen and the gold sink. */
  val WarmDays = 2
  /** A run always measures at least this many dates (a traced run needs
    * one T U U T cycle). */
  val MinDays = 4
  /** Present in every new silver partition, absent from seeded history:
    * the rebuild's mergeSchema read has to reconcile the two. */
  val LateColumn = "is_playable"
  /** The columns a CSV gold renders the same way silver holds them. */
  val ChartCols = Seq("chartRankMove", "episodeName", "episodeUri", "rank", "region", "showUri")
}
