package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-query time attribution — which jobs/stages (and how much
  * driver-only gap) make up one registered query's wall-clock? Runs
  * the query once un-profiled (fixture builds + codegen warm), then
  * profiles a second run: per-job wall time, per-stage duration /
  * task-time sum, and the driver gap (wall minus job spans — planning,
  * analysis, collect-side work). Dev tool, not part of the engine
  * surface. Usage: runMain graft.tools.ProfileQuery <sfDir> <q...> */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    sys.env.get("PROFILE_EXTRA_CONF").foreach { s =>
      s.split(';').filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b = b.config(k, v)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("documents", "embeddings").foreach { t =>
      scala.util.Try(spark.read.parquet(s"$sfDir/$t.parquet").count())
    }

    final case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = 0L)
    final case class StageRec(id: Int, name: String, wallMs: Long,
      taskTimeMs: Long, tasks: Int)

    val queries = graft.SparkEntry.queries
    val selected =
      if (names.isEmpty) Seq.empty
      else queries.keys.toSeq.sorted
        .filter(k => names.exists(k.startsWith))
    selected.foreach { qn =>
      val fn = queries(qn)
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.util.CacheScope.withScope { fn(spark, sfDir).count() }
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = once() // fixtures + codegen
      val jobs = mutable.ArrayBuffer.empty[JobRec]
      val stages = mutable.ArrayBuffer.empty[StageRec]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.synchronized {
            jobs += JobRec(e.jobId,
              Option(e.properties)
                .flatMap(p => Option(p.getProperty(
                  "spark.job.description"))).getOrElse(""),
              e.time)
          }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          jobs.synchronized {
            jobs.find(_.id == e.jobId).foreach(_.end = e.time)
          }
        override def onStageCompleted(
            e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val wall = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(0L)
          stages.synchronized {
            stages += StageRec(si.stageId, si.name, wall,
              si.taskMetrics.executorRunTime, si.numTasks)
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
      // poor-man's driver profiler: sample the query thread's stack
      // every 10 ms, bucket by the deepest "interesting" frame
      val qThread = Thread.currentThread()
      val hist = mutable.Map.empty[String, Int].withDefaultValue(0)
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = qThread.getStackTrace
          val bucket = st.collectFirst {
            case f if f.getClassName.contains("janino") ||
              f.getClassName.contains("CodeGenerator") => "codegen"
            case f if f.getClassName.contains("catalyst.analysis") =>
              "analysis"
            case f if f.getClassName.contains("catalyst.optimizer") =>
              "optimizer"
            case f if f.getClassName.contains("adaptive") => "aqe"
            case f if f.getClassName.contains("catalyst.plans") ||
              f.getClassName.contains("catalyst.trees") => "plan-tree"
            case f if f.getClassName.contains("execution.exchange") ||
              f.getClassName.contains("ThreadUtils") ||
              f.getClassName.contains("awaitResult") => "await-jobs"
            case f if f.getClassName.startsWith("org.apache.spark") =>
              f.getClassName.split('.').takeRight(2).mkString(".")
          }.getOrElse(st.headOption.map(_.getClassName).getOrElse("?"))
          hist.synchronized { hist(bucket) += 1 }
          Thread.sleep(10)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      val t = once()
      sampling = false
      sampler.join(500)
      val ruleTime = org.apache.spark.sql.catalyst.rules.RuleExecutor
        .dumpTimeSpent()
      // listener bus is async; give it a moment to drain
      Thread.sleep(1500)
      spark.sparkContext.removeSparkListener(listener)

      val jobSpans = jobs.filter(_.end > 0).map(j => (j.start, j.end))
        .sortBy(_._1)
      // merge overlapping job intervals, then covered = sum
      val covered = jobSpans.foldLeft(
        List.empty[(Long, Long)]) { case (acc, (s, e)) =>
        acc match {
          case (ps, pe) :: tail if s <= pe =>
            (ps, math.max(pe, e)) :: tail
          case _ => (s, e) :: acc
        }
      }.map { case (s, e) => e - s }.sum
      println(f"\n===== $qn  warm=$warm%.2f s  profiled=$t%.2f s  " +
        f"jobs=${jobs.size}  job-covered=${covered / 1e3}%.2f s  " +
        f"driver-gap=${t - covered / 1e3}%.2f s =====")
      jobs.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%6.2f s  " +
          j.desc.take(90))
      }
      val totalRuleNs = "(?m)^Total time: (\\d+)".r
        .findFirstMatchIn(ruleTime).map(_.group(1).toLong).getOrElse(0L)
      println(f"  catalyst-rule-time=${totalRuleNs / 1e9}%.2f s")
      println("  -- driver-thread sample buckets (10ms each) --")
      hist.toSeq.sortBy(-_._2).take(12).foreach { case (b, n) =>
        println(f"  ${n * 0.01}%6.2f s  $b")
      }
      println("  -- top rules --")
      ruleTime.linesIterator.drop(3).take(10).foreach(l =>
        println("  " + l.take(110)))
      println("  -- top stages by wall --")
      stages.sortBy(-_.wallMs).take(15).foreach { s =>
        println(f"  stage ${s.id}%5d ${s.wallMs / 1e3}%6.2f s " +
          f"(task-sum ${s.taskTimeMs / 1e3}%7.2f s, ${s.tasks}%4d t)  " +
          s.name.take(80))
      }
    }
    spark.stop()
  }
}
