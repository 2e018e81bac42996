package graft.util

import org.apache.spark.sql.graft.Bridge

/** A scope releases only the cache entries it created. */
class CacheScopeSpec extends graft.SparkSpec {

  test("a scope leaves an equal-plan entry cached outside it in place") {
    def frame(k: Int) = spark.range(100).selectExpr(s"id * $k AS x")
    val outside = CacheScope.persist(frame(7)) // unscoped: caller owns it
    outside.count()
    val before = cacheState
    CacheScope.withScope {
      CacheScope.persist(frame(7)).count() // same plan: already cached
      CacheScope.persist(frame(11)).count() // created by this scope
    }
    assert(Bridge.isCached(outside),
      "closing the scope released an entry it did not create")
    assert(!Bridge.isCached(frame(11)), "the scope's own entry outlived it")
    assertCacheAsFound(before)
    outside.unpersist(blocking = true)
  }
}
