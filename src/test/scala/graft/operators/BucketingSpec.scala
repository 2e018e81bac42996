package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BucketingSpec extends SparkSpec {

  test("co-bucketed join plans with zero shuffle exchanges") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    Bucketing.writeBucketed(orders, "b_orders", "o_custkey", 8)
    Bucketing.writeBucketed(customer, "b_customer", "c_custkey", 8)

    // disable auto-broadcast so the join genuinely exercises the
    // co-located sort-merge path (the 100TB fact-to-fact shape)
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val bucketed = Bucketing.joinBucketed(spark, "b_orders", "b_customer",
        "o_custkey", "c_custkey")
      bucketed.collect()
      assert(!Bucketing.hasShuffle(bucketed),
        "bucketed join must not shuffle:\n" +
          bucketed.queryExecution.executedPlan.toString.take(800))

      // control: the same join on plain parquet DOES shuffle
      val plain = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      plain.collect()
      assert(Bucketing.hasShuffle(plain))

      // and results agree
      assert(bucketed.count() == plain.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}
