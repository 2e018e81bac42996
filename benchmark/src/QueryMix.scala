package benchmark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

import graft.{QueryPack, SparkEntry}
import graft.util.CacheScope

/** query_mix: a fixed list of registered `SparkEntry.queries` over the
  * repository's sf0.1 test tables, in whole passes (at least
  * [[QueryMixWorkload.MinPasses]]) for the run's seconds after one untimed
  * warm pass. The warm pass writes every result (as `graft.Verify` does)
  * so `run.py` can compare it with DuckDB running the query's
  * `SparkEntry.oracleSql`; every timed execution is the bench's build +
  * `count()`, checked against the oracle's row count. The seed sets the
  * order the queries run in. */
final class QueryMixWorkload(spark: SparkSession, a: Harness.Args, tracer: Tracer)
    extends Workload(spark, a) {
  import QueryMixWorkload._

  private val fns = SparkEntry.queries
  /** The seed's input: the order the queries run in, every pass. */
  private val order = new scala.util.Random(a.seed).shuffle(Names)
  private val packOf: Map[String, String] =
    Packs.flatMap { case (pack, p) => p.all.map(_.name -> pack) }.toMap

  /** One query run under `graft.Bench`'s isolation: its caches are
    * scoped to the run, and catalog state it leaves is dropped. */
  private def isolated[A](body: => A): A = {
    val before = Bridge.tempViewNames(spark).toSet
    try CacheScope.withScope(body)
    finally {
      spark.catalog.clearCache()
      Bridge.tempViewNames(spark).filterNot(before)
        .foreach { v => spark.catalog.dropTempView(v); () }
    }
  }

  def execute(): Unit = {
    val results = Files.createDirectories(a.work.resolve("results"))
    order.foreach { q =>
      val t0 = System.nanoTime()
      val err = scala.util.Try(isolated {
        fns(q)(spark, a.tables).coalesce(1).write.mode("overwrite")
          .parquet(results.resolve(q).toString)
      }).failed.toOption
      err.foreach(e => checks(s"warm_failed.$q") = e.toString.take(300))
      Harness.progress(f"warm $q ${secs(t0)}%.3f s ${err.fold("ok")(_.toString)}")
    }
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => Names.contains(q) }
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    startTimed()
    var pass = 0
    var i = 0
    // whole passes until the seconds are spent, so every query has the
    // same number of samples; the first timed pass is the first count()
    // of each query and the colder one, so a traced run traces each query
    // in exactly one of passes 1 and 2
    while (i != 0 || pass < MinPasses || timeLeft) {
      val q = order(i)
      tracer.active = a.trace && pass >= 1 && (i + pass) % 2 == 0
      val trace = s"$q@$pass"
      val t0 = System.nanoTime()
      var built = t0
      val res = scala.util.Try(tracer.span("query", trace) {
        isolated {
          val df = tracer.phase(spark, trace, "build") {
            tracer.span("queries.build", trace)(fns(q)(spark, a.tables))
          }
          built = System.nanoTime()
          tracer.phase(spark, trace, "count") {
            tracer.span("queries.count", trace)(df.count())
          }
        }
      })
      val done = System.nanoTime()
      record(Op(trace, (done - t0) / 1e9, res.isSuccess, tracer.active,
        Seq("build_s" -> (built - t0) / 1e9, "count_s" -> (done - built) / 1e9),
        res.getOrElse(-1L), q, packOf.getOrElse(q, ""), res.failed.map(_.toString).getOrElse("")))
      i += 1
      if (i == order.size) { i = 0; pass += 1 }
    }
    tracer.active = false
  }

  def layers(p: Probe): Map[String, Double] = {
    val traced = ops.filter(_.traced).toSeq
    val n = math.max(traced.size, 1).toDouble
    def phase(name: String) = traced.flatMap(o => p.phases(o.trace).filter(_._1 == name).map(_._2))
    val count = phase("count")
    val perQuery = traced.groupBy(_.query).view.mapValues(os => median(os.map(_.seconds))).toMap
    val packs = Packs.map { case (pack, _) =>
      s"queries.${pack}_s" -> perQuery.filter { case (q, _) => packOf(q) == pack }.values.sum
    }
    sparkLayers(p, traced.map(o => o.trace -> o.seconds)) ++ packs ++ Map(
      "queries.build_s" -> traced.map(_.parts.head._2).sum / n,
      "queries.count_s" -> traced.map(_.parts(1)._2).sum / n,
      "queries.eager_jobs" -> phase("build").map(_.jobs).sum / n,
      "plan.nodes" -> count.map(_.planNodes).sum / n,
      "plan.exchanges" -> count.map(_.planExchanges).sum / n,
      "plan.broadcasts" -> count.map(_.planBroadcasts).sum / n)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object QueryMixWorkload {
  /** Timed passes a run always makes; a query's figure is its fastest. */
  val MinPasses = 3

  /** Metric-name slug of each of the 14 packs `SparkEntry` registers. */
  val Packs: Seq[(String, QueryPack)] = Seq(
    "core" -> graft.queries.CoreQueries,
    "podcast" -> graft.queries.PodcastQueries,
    "dedup" -> graft.queries.DedupQueries,
    "similarity" -> graft.queries.SimilarityQueries,
    "text" -> graft.queries.TextQueries,
    "multimodal" -> graft.queries.MultimodalQueries,
    "streaming" -> graft.queries.StreamingQueries,
    "sink" -> graft.queries.SinkQueries,
    "pipeline" -> graft.queries.PipelineQueries,
    "curation" -> graft.queries.CurationQueries,
    "temporal" -> graft.queries.TemporalQueries,
    "sketch" -> graft.queries.SketchQueries,
    "search" -> graft.queries.SearchQueries,
    "graph" -> graft.queries.GraphQueries)

  /** The mix, in run order. Every pack appears. PageRank (q95, a
    * ROADMAP heavy item) dominates the pass total; the rest are light,
    * overhead-bound queries, so the median query is a light one. */
  val Names: IndexedSeq[String] = IndexedSeq(
    "q01_pricing_summary", "q95_pagerank", "q15_chart_parse", "q16_dedup_exact",
    "q20_ann_bruteforce", "q23_lang_id", "q27_multimodal_meta", "q29_sessionize",
    "q55_date_gaps", "q58_global_topk", "q63_mixture_weights", "q72_decontaminate",
    "q77_range_join", "q82_kmv_distinct", "q147_incremental_inverted_index")
}
