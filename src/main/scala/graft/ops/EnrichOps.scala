package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.util.CacheScope

/** The flagship enrich join + validation (SURVEY.md §2: J1, J2/P5, P3).
  *
  * Reference: `pd.merge(chart, eps, left_on='episodeUri', right_on='id',
  * how='left')` then raise if any `episodeName != name`
  * (`spotify_eps.py:185-189`), then drop `id`,`name` (`:193`).
  *
  * Null semantics (the #1 correctness trap, SURVEY §7.4.1): pandas
  * `NaN != x` is True for EVERY x — including x = NaN. So a violation is
  * any row where either name is null OR the non-null names differ. Spark's
  * `=!=` returns null on null input (row silently passes), and even
  * `!(a <=> b)` treats null==null as a match — both diverge from pandas.
  * [[nameViolation]] encodes the exact pandas predicate.
  */
object EnrichOps {

  /** Exact pandas `episodeName != name` semantics (see class doc). */
  def nameViolation: org.apache.spark.sql.Column =
    col("episodeName").isNull || col("name").isNull ||
      col("episodeName") =!= col("name")

  final class JoinValidationException(n: Long)
    extends IllegalStateException(
      s"join validation failed: $n chart row(s) unmatched or name-mismatched " +
        "(reference raises ValueError, spotify_eps.py:172,189)")

  /** J1: left equi-join chart→episodes. The episode dim is the small
    * side (≤50 ids per chart batch; bounded by distinct charted episodes
    * even at 100 TB of chart history) → broadcast hash join, so the fact
    * side never shuffles. */
  def enrich(chart: DataFrame, episodes: DataFrame): DataFrame =
    chart.join(broadcast(episodes),
      chart("episodeUri") === episodes("id"), "left")

  /** J2 eagerly: join, assert totality + name equality, drop join
    * duplicates. The join is persisted through [[CacheScope.persist]]
    * and the violation `count()` fills that cache, so the whole upstream
    * (chart side, episode fetch, broadcast) runs once and the caller's
    * action on the result only scans the cache. Call it inside
    * [[CacheScope.withScope]], with the consuming action in the same
    * scope: outside one the cache outlives the call and the caller owns
    * its release. Use [[enrichObserved]] when the action is
    * side-effect-free and the validation may follow it. */
  def enrichValidated(chart: DataFrame, episodes: DataFrame): DataFrame = {
    val joined = CacheScope.persist(enrich(chart, episodes))
    val n = joined.filter(nameViolation).count()
    if (n > 0) throw new JoinValidationException(n)
    joined.drop("id", "name")
  }

  /** J2 zero-extra-scan variant: piggybacks the violation count on the
    * caller's own action via `Dataset.observe` (SURVEY §2.3 J2). Call
    * [[assertNoViolations]] after the first action on the result.
    * CAUTION: if that action is a WRITE, the bad rows are already
    * persisted when the assert fires — use [[enrichValidated]] when the
    * sink must stay clean (the pipeline does), and this variant when the
    * action is side-effect-free or the sink is disposable. */
  def enrichObserved(chart: DataFrame, episodes: DataFrame): (DataFrame, Observation) = {
    val obs = Observation("join_check")
    val joined = enrich(chart, episodes)
      .observe(obs, sum(when(nameViolation, 1L).otherwise(0L)).as("violations"))
      .drop("id", "name")
    (joined, obs)
  }

  def assertNoViolations(obs: Observation): Unit = {
    val n = obs.get("violations").asInstanceOf[Long]
    if (n > 0) throw new JoinValidationException(n)
  }
}
