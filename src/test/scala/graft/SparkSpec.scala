package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (SURVEY §5.2). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", SparkSpec.warehouseDir)
    .getOrCreate()

  def resource(name: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(
      getClass.getClassLoader.getResource(name).toURI))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** What the session holds cached: CacheManager entries and the ids
    * of persisted RDDs. */
  def cacheState: (Int, Set[Int]) = (
    org.apache.spark.sql.graft.Bridge.cachedEntries(spark),
    spark.sparkContext.getPersistentRDDs.keySet.toSet)

  /** No cache entry or persisted RDD added since `before` (RDDs the
    * cleaner drops meanwhile are fine). */
  def assertCacheAsFound(before: (Int, Set[Int])): Unit = {
    val (entries, rdds) = cacheState
    assert(entries == before._1, "cache manager entries left behind")
    assert((rdds -- before._2).isEmpty, s"persistent RDDs left behind: ${rdds -- before._2}")
  }

  /** Run `body` with `pairs` set on the session, then put each key
    * back as it was (unset if it had no value). The session is shared
    * by every suite in the JVM, so a conf one test sets must not
    * outlive it. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** `body`'s result and the number of Spark jobs started while it ran.
    * The listener bus is asynchronous, so the count is read once three
    * 100 ms polls in a row see no change, and jobs still queued from
    * before `body` are drained the same way before counting starts. */
  def jobsStarted[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def quiet(): Unit = {
      var prev = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = jobs.get
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      quiet()
      jobs.set(0)
      val out = body
      quiet()
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Payload frame for ChartOps/EpisodeOps parsers. */
  def payloadDf(rows: Seq[(String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("date", "region", "payload")
  }
}

object SparkSpec {
  /** One warehouse per JVM: the builder conf only takes effect for the
    * suite that creates the session first — per-suite temp dirs would
    * leak and mislead (getOrCreate ignores configs on a live session). */
  lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft_wh").toString
}
