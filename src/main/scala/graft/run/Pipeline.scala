package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops.{ChartOps, EnrichOps, EpisodeOps, UnionOps}
import graft.util.CacheScope

/** End-to-end daily pipeline (SURVEY.md §3.1 restated Spark-first).
  *
  * bronze (raw per-date chart snapshots) → silver (enriched daily) →
  * gold (consolidated). The logical date is always injected — never
  * `current_date()` — matching the reference's own backfill design
  * (`spotify_eps_backfill_dag.py:19`): any date reprocesses idempotently
  * via dynamic partition overwrite.
  *
  * Each stage of a date is evaluated once: the parsed chart is
  * persisted (filled by the bronze write) and the enrich join is
  * persisted (filled by the eager validation `count()`), so the silver
  * write only scans the cache. Both caches live in one
  * [[graft.util.CacheScope]] per call and are released on return.
  */
object Pipeline {

  final case class Layout(bronzeDir: String, silverDir: String, goldDir: String)

  /** Ingest → validate → silver snapshot for one logical date.
    * `chartPayloads`/`episodePayloads`: (date, region, payload) /
    * (payload) rows from the ingest boundary (driver fetch or fixture).
    *
    * The parsed chart is repartitioned by `date` — a date holds at most
    * 22 regions × 200 rows, so one task and one bronze and one silver
    * file per date is safe; the region fetches upstream stay parallel.
    * Returns the enriched frame. Its caches are released on return, so
    * an action on it recomputes the date from the payloads.
    */
  def runDaily(
      spark: SparkSession,
      chartPayloads: DataFrame,
      episodePayloads: DataFrame,
      layout: Layout): DataFrame = CacheScope.withScope {
    val chart = CacheScope.persist(
      ChartOps.parsePayloads(chartPayloads).repartition(col("date")))
    UnionOps.writeDailySnapshot(chart, layout.bronzeDir)

    val episodes = EpisodeOps.flatten(EpisodeOps.parsePayloads(episodePayloads))
    // Enrich the JUST-PARSED dates only — never the whole bronze
    // directory (historical dates would re-join against today's episode
    // dim: O(history) work, and any retired episode id would fail
    // validation and overwrite good history). Re-enriching old dates is
    // Backfill's job, one pruned partition at a time.
    // Validation is EAGER and must precede the write: the reference
    // raises before uploading (spotify_eps.py:189); validate-on-write
    // would first replace the silver partition with null-enriched rows.
    val enriched = EnrichOps.enrichValidated(chart, episodes)
    UnionOps.writeDailySnapshot(enriched, layout.silverDir)
    enriched
  }

  /** Gold rebuild: union every silver snapshot (drift-tolerant) →
    * consolidated CSV. Kept for parity with the reference's daily full
    * re-read (`spotify_eps_dag.py:45-60`); incremental append to a
    * date-partitioned gold table is the at-scale path.
    */
  def rebuildGold(spark: SparkSession, layout: Layout): DataFrame = {
    val all = UnionOps.readSnapshots(spark, layout.silverDir)
    UnionOps.writeGoldCsv(all, layout.goldDir)
    all
  }

  /** [[runDaily]] under the reference DAG's execution guarantees
    * (Runner: retries ×2, single-writer lock, ALL_DONE cleanup). Safe
    * to retry because both sinks are idempotent dynamic-partition
    * overwrites — a failure mid-write is repaired by the next attempt
    * rewriting the same logical date. */
  def runDailyResilient(
      spark: SparkSession,
      chartPayloads: DataFrame,
      episodePayloads: DataFrame,
      layout: Layout,
      retries: Int = 2,
      delayMillis: Long = 60000L,
      sleeper: Long => Unit = Thread.sleep): DataFrame =
    Runner.resilient(s"${layout.silverDir}.lock", retries, delayMillis,
        sleeper) {
      runDaily(spark, chartPayloads, episodePayloads, layout)
    } {
      // ALL_DONE: drop Spark's staging leftovers from a died write so a
      // mergeSchema scan of silver never trips on partial temp dirs
      val silver = new java.io.File(layout.silverDir)
      Option(silver.listFiles()).foreach(_.filter(f =>
          f.getName.startsWith("_temporary") || f.getName.startsWith(".spark-staging"))
        .foreach { f =>
          def rm(x: java.io.File): Unit = {
            Option(x.listFiles()).foreach(_.foreach(rm))
            x.delete(): Unit
          }
          rm(f)
        })
    }
}
