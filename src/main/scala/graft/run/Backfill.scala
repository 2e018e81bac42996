package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{EnrichOps, UnionOps}
import graft.util.CacheScope

/** Date-parameterized reprocessing (SURVEY.md §3.2 — the backfill DAG):
  * charts are the durable raw layer, episode metadata is re-fetchable,
  * so any logical date can be re-enriched idempotently.
  *
  * Scale notes:
  *  - the bronze read is PARTITION-PRUNED: `date` is the partition
  *    column, so a one-date backfill touches one partition directory, not
  *    the table scan (`spotify_eps_backfill_dag.py` re-downloads one file
  *    — same idea, engine-enforced);
  *  - the silver write is a dynamic partition overwrite: re-running a
  *    date replaces exactly that partition (`replace=True` semantics,
  *    never blind append).
  */
object Backfill {

  /** Re-enrich one logical date from the persisted bronze chart
    * snapshot against a (re-fetched) episode dim. The bronze partition
    * and the episode dim are read once: the validation fills the
    * enrich cache and the silver write scans it. The cache is released
    * on return, so an action on the result recomputes it. */
  def reprocessDate(spark: SparkSession, date: String,
      episodes: DataFrame, layout: Pipeline.Layout): DataFrame = CacheScope.withScope {
    val chart = spark.read.parquet(layout.bronzeDir)
      .filter(col("date") === lit(date)) // partition pruning
    // validate BEFORE overwriting the partition — a failed check must
    // leave the existing silver data intact (reference raises before
    // upload, spotify_eps.py:189)
    val enriched = EnrichOps.enrichValidated(chart, episodes)
    UnionOps.writeDailySnapshot(enriched, layout.silverDir)
    enriched
  }

  /** Inclusive date-range backfill, one idempotent partition overwrite
    * per date (the reference's `start_date`/`end_date` Params,
    * `spotify_eps_backfill_dag.py:24-31`). */
  def reprocessRange(spark: SparkSession, startDate: String, endDate: String,
      episodes: DataFrame, layout: Pipeline.Layout): Seq[String] = {
    var d = java.time.LocalDate.parse(startDate)
    val end = java.time.LocalDate.parse(endDate)
    val done = Seq.newBuilder[String]
    while (!d.isAfter(end)) {
      reprocessDate(spark, d.toString, episodes, layout)
      done += d.toString
      d = d.plusDays(1)
    }
    done.result()
  }
}
