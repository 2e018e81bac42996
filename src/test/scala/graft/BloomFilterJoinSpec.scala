package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning: when one join side carries a
  * selective filter, Catalyst can inject a bloom filter built from that
  * side into the OTHER side's scan, dropping non-joining rows BEFORE
  * the shuffle — at 100 TB this is the difference between shuffling the
  * full fact table and shuffling the few percent that can match. The
  * engine doesn't need code for this, it needs the right shape (a plain
  * shuffle equi-join) and the conf; this spec pins that the feature
  * actually engages on our join shape and that results are unchanged.
  */
class BloomFilterJoinSpec extends SparkSpec {

  test("runtime bloom filter injects into the probe-side scan") {
    val dir = "/root/testdata/sf0.001"
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "8GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // force a shuffle join: broadcast would bypass the bloom path
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val orders = Tables(spark, dir, "orders")
      val customer = Tables(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val joined = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      // Spark 4.1 renders the injected filter as might_contain(<bloom
      // subquery>) over the probe side, fed by a bloom_filter_agg
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        "runtime bloom filter did not inject — join shape or conf regressed")
      // semantics unchanged vs the broadcast plan
      val n = joined.count()
      val m = withConf(
          "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        orders.join(broadcast(customer),
          orders("o_custkey") === customer("c_custkey")).count()
      }
      assert(n == m, s"bloom-pruned join returned $n rows vs $m")
    }
  }
}
