package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** Scoped lifetime for operator-internal caches.
  *
  * Several operators persist an intermediate frame because it feeds both
  * sides of a self-join (attribute renames defeat ReuseExchange, so
  * without the cache the whole upstream pipeline runs once per side).
  * Those frames are consumed lazily — the operator returns an unexecuted
  * plan — so the operator itself can never know when it is safe to
  * unpersist. Left alone, the caches accumulate for the life of the
  * session: across a 58-query gate run that is unbounded growth, and at
  * 100 TB a leaked MEMORY_AND_DISK cache of a corpus-wide frame is a
  * cluster-killer.
  *
  * Contract:
  *  - operators call [[persist]] instead of `Dataset.persist`;
  *  - a caller that runs plan-build + action wraps both in [[withScope]],
  *    which unpersists every frame persisted inside it on exit
  *    (non-blocking — blocks are dropped asynchronously);
  *  - outside any scope, [[persist]] behaves exactly like
  *    `Dataset.persist(MEMORY_AND_DISK)` and the CALLER owns cleanup
  *    (`spark.catalog.clearCache()` is the blunt instrument).
  *
  * Scopes nest: an inner scope releases only its own frames.
  */
object CacheScope {

  private val active = new ThreadLocal[ArrayBuffer[() => Unit]]

  /** Persist at MEMORY_AND_DISK and register with the innermost active
    * scope (no-op registration when no scope is active). A frame whose
    * plan the session already caches is not registered: that entry was
    * made by someone else (outside the scope, or by an earlier persist
    * inside it), and its owner releases it. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val owned = !org.apache.spark.sql.graft.Bridge.isCached(ds)
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    if (owned) Option(active.get()).foreach(_ += (() => {
      ds.unpersist(blocking = false); ()
    }))
    ds
  }

  /** Register an eagerly-localCheckpoint'ed frame for scope cleanup —
    * `Dataset.unpersist` does NOT release checkpoint RDD blocks (only
    * [[org.apache.spark.sql.graft.Bridge.unpersistCheckpoint]] does),
    * so a checkpointed corpus-sized frame would otherwise survive
    * until the ContextCleaner GCs the Dataset. Outside a scope the
    * caller owns the release, as with [[persist]]. */
  def registerCheckpointed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    Option(active.get()).foreach(_ += (() =>
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(df)))
    df
  }

  /** EAGER localCheckpoint registered for scope cleanup — [[persist]]
    * for reused frames whose LINEAGE is itself the cost: a persisted
    * frame's InMemoryRelation still carries the full logical subtree
    * into every consumer's analysis/optimization pass (and every AQE
    * per-stage re-optimization re-walks it), while a checkpoint is an
    * RDD-scan leaf. Use for frames that are (a) reused, (b) always
    * fully consumed, and (c) carry a deep build chain — the
    * materialization cost is the same as persist's first use; what's
    * bought is every downstream plan shrinking to the leaf. */
  def checkpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    registerCheckpointed(df.localCheckpoint())

  /** Run `body`, then release every frame registered (persisted or
    * checkpointed) during it. The action consuming the frames must
    * happen INSIDE the body — after the scope closes the plans still
    * compute correctly but lose cache reuse. */
  def withScope[T](body: => T): T = {
    val prev = active.get()
    val buf = ArrayBuffer.empty[() => Unit]
    active.set(buf)
    try body
    finally {
      if (prev == null) active.remove() else active.set(prev)
      buf.foreach(_.apply())
    }
  }
}
