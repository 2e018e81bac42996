package graft

import org.apache.spark.sql.functions._

/** AQE runtime re-planning: the engine leans on adaptive execution at
  * scale (runtime SMJ→broadcast conversion when a filter collapses a
  * side, shuffle-partition coalescing for small exchanges) — this spec
  * pins that those mechanisms actually engage for this session config,
  * rather than assuming defaults. */
class AdaptiveSpec extends SparkSpec {

  test("AQE converts a sort-merge join to broadcast when a filter collapses one side") {
    withConf(
      // static planning must NOT broadcast (estimate = full file size);
      // the ADAPTIVE threshold then sees the filtered runtime size
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10m") {
      val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      val customer = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
        .filter(col("c_custkey") % 100 === 0) // runtime-tiny side
      val joined = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      val initial = joined.queryExecution.executedPlan.toString
      assert(initial.contains("SortMergeJoin"), initial)
      // execute THIS queryExecution (count() would build a fresh one
      // and leave this plan isFinalPlan=false)
      joined.collect()
      // the adaptive plan prints Final + Initial sections; judge the final
      val fin = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(fin.contains("isFinalPlan=true"), fin)
      assert(fin.contains("BroadcastHashJoin"), fin)
      assert(!fin.contains("SortMergeJoin"), fin)
    }
  }

  test("AQE coalesces small shuffle partitions") {
    withConf("spark.sql.shuffle.partitions" -> "32") {
      val agg = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .groupBy(col("o_orderstatus")).count()
      agg.collect()
      val fin = agg.queryExecution.executedPlan.toString
      assert(fin.contains("AQEShuffleRead") && fin.contains("coalesced"), fin)
    }
  }
}
