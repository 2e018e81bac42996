package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved A/B of RUNTIME SQL confs on selected queries — box
  * drift hits both arms equally because runs alternate A,B,A,B,...
  * Usage: runMain graft.tools.ConfAB <sfDir> <confA;confB...> <q...>
  * where each conf set is `k=v,k=v` ("-" = defaults). Reports
  * min-of-3 per arm. Dev tool. */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val arms: Seq[Seq[(String, String)]] = args(1).split(';').toSeq
      .map(_.trim).map {
        case "-" => Seq.empty[(String, String)]
        case s => s.split(',').toSeq.map { kv =>
          val Array(k, v) = kv.split("=", 2); (k, v)
        }
      }
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val queries = graft.SparkEntry.queries
    val selected = queries.keys.toSeq.sorted
      .filter(k => names.exists(k.startsWith))
    // remember defaults so arms can restore
    val allKeys = arms.flatten.map(_._1).distinct
    val defaults = allKeys.map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption).toMap
    def setArm(arm: Seq[(String, String)]): Unit = {
      allKeys.foreach { k =>
        defaults(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
      arm.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    selected.foreach { qn =>
      val fn = queries(qn)
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.util.CacheScope.withScope { fn(spark, sfDir).count() }
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      setArm(Seq.empty) // warm under the defaults, not the last arm
      once() // fixtures + warm
      val times = Array.fill(arms.size)(
        scala.collection.mutable.ListBuffer.empty[Double])
      for (rep <- 1 to 3; (arm, i) <- arms.zipWithIndex) {
        setArm(arm)
        times(i) += once()
      }
      val report = arms.indices.map { i =>
        f"arm$i=${times(i).min}%.2f (${times(i).map(x => f"$x%.2f").mkString(",")})"
      }.mkString("  ")
      println(s"AB $qn  $report")
    }
    spark.stop()
  }
}
