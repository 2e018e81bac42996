package graft.run

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.{BatchedLookup, ChartOps, EpisodeOps}

class BackfillSpec extends SparkSpec {

  test("one-date backfill overwrites exactly that silver partition") {
    val s = spark
    import s.implicits._
    val base = tmpDir("backfill")
    val layout = Pipeline.Layout(s"$base/bronze", s"$base/silver", s"$base/gold")

    // two bronze dates from the same fixture
    val bronze = ChartOps.parsePayloads(payloadDf(Seq(
      ("2024-10-21", "us", resource("chart_us.json")),
      ("2024-10-22", "us", resource("chart_us.json")))))
    graft.ops.UnionOps.writeDailySnapshot(bronze, layout.bronzeDir)

    val eps = Seq(
      ("ep001aaaaaaaaaaaaaaaaa", "Morning News Daily", "v1"),
      ("ep002bbbbbbbbbbbbbbbbb", "True Crime Hour", "v1"),
      ("ep003ccccccccccccccccc", "Tech Talk Weekly", "v1"))
      .toDF("id", "name", "meta")
    Backfill.reprocessRange(spark, "2024-10-21", "2024-10-22", eps, layout)
    val silver = spark.read.parquet(layout.silverDir)
    assert(silver.count() == 6)

    // re-enrich ONLY the 22nd with updated metadata
    val epsV2 = eps.withColumn("meta", lit("v2"))
    Backfill.reprocessDate(spark, "2024-10-22", epsV2, layout)
    val after = spark.read.parquet(layout.silverDir)
    assert(after.count() == 6) // overwrite, not append
    assert(after.filter(col("date") === "2024-10-22" && col("meta") === "v2").count() == 3)
    assert(after.filter(col("date") === "2024-10-21" && col("meta") === "v1").count() == 3)
  }

  test("one-date backfill looks each id up once and leaves no cache behind") {
    val base = tmpDir("backfill_once")
    val layout = Pipeline.Layout(s"$base/bronze", s"$base/silver", s"$base/gold")
    val entries = (1 to 60).map(i => s"""{"episodeUri":"spotify:episode:${100 + i % 45}",
        |"showUri":"spotify:show:s$i","episodeName":"ep-${100 + i % 45}",
        |"chartRankMove":"NEW"}""".stripMargin).mkString("[", ",", "]")
    val bronze = ChartOps.parsePayloads(payloadDf(Seq(
      ("2024-10-22", "us", entries), ("2024-10-22", "de", entries))))
    graft.ops.UnionOps.writeDailySnapshot(bronze, layout.bronzeDir)

    val sent = spark.sparkContext.longAccumulator("sent")
    val eps = EpisodeOps.flatten(EpisodeOps.parsePayloads(BatchedLookup.fetchPayloads(
      bronze.select("episodeUri").distinct(), "episodeUri", 50, (batch: Seq[String]) => {
        sent.add(batch.size.toLong)
        BatchedLookup.fixtureEpisodeService(batch)
      })))
    val before = cacheState
    Backfill.reprocessDate(spark, "2024-10-22", eps, layout)
    assert(sent.sum == 45L) // validation and silver write share one fetch
    assertCacheAsFound(before)
    assert(spark.read.parquet(layout.silverDir).count() == 120)
  }

  private val goldSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.StringType)))

  // the monitored dir holds FLAT snapshot files (one per day, like the
  // reference's top_podcasts_YYYY-MM-DD.parquet layout)
  private def addSnapshot(base: String, rows: Seq[(Long, String)],
      name: String): Unit = {
    val s = spark
    import s.implicits._
    val scratch = tmpDir("snap")
    rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(s"$scratch/out")
    val part = new java.io.File(s"$scratch/out").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/silver"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$base/silver/$name"))
  }

  private def drain(base: String): Long =
    graft.streaming.StreamingOps.incrementalGold(spark, s"$base/silver",
      s"$base/gold", s"$base/ckpt", goldSchema)

  private def goldCount(base: String): Long =
    spark.read.parquet(s"$base/gold").count()

  test("incremental gold processes only new silver files per run") {
    val base = tmpDir("incgold")
    addSnapshot(base, Seq((1L, "a"), (2L, "b")), "day1.parquet")
    val run1 = drain(base)
    assert(run1 == 2L)

    addSnapshot(base, Seq((3L, "c")), "day2.parquet")
    val run2 = drain(base)
    assert(run2 == 1L) // only the new file — not the O(history) re-read

    assert(goldCount(base) == 3)
  }

  test("incremental gold: a drain with no new silver file appends 0") {
    val base = tmpDir("incgold_idle")
    addSnapshot(base, Seq((1L, "a"), (2L, "b")), "day1.parquet")
    assert(drain(base) == 2L)
    assert(drain(base) == 0L)
    assert(goldCount(base) == 2)
  }

  test("incremental gold: a batch replayed after a lost commit counts 0") {
    val base = tmpDir("incgold_replay")
    addSnapshot(base, Seq((1L, "a"), (2L, "b")), "day1.parquet")
    assert(drain(base) == 2L)
    addSnapshot(base, Seq((3L, "c")), "day2.parquet")
    assert(drain(base) == 1L)
    // lose the newest commit: the restarted query re-runs that batch,
    // which the sink already holds and skips
    val commits = new java.io.File(s"$base/ckpt/commits")
    val newest = commits.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    new java.io.File(commits, newest).delete()
    new java.io.File(commits, s".$newest.crc").delete()
    assert(drain(base) == 0L)
    assert(goldCount(base) == 3)
    // the next new file is counted again
    addSnapshot(base, Seq((4L, "d"), (5L, "e")), "day3.parquet")
    assert(drain(base) == 2L)
    assert(goldCount(base) == 5)
  }

  test("incremental gold: a gold dir with no committed parquet still drains") {
    val base = tmpDir("incgold_empty")
    // a prior run died between creating the sink dir and its first commit
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/gold/_spark_metadata"))
    addSnapshot(base, Seq((1L, "a"), (2L, "b")), "day1.parquet")
    assert(drain(base) == 2L)
    assert(goldCount(base) == 2)
  }

  test("gold upsert stream replaces a restated partition, appends new ones") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    val base = tmpDir("upsert")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/silver"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("date",
        org.apache.spark.sql.types.StringType)))

    def addFlat(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tmpDir("upsnap")
      df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/out")
      val part = new java.io.File(s"$scratch/out").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$base/silver/$name"))
    }

    addFlat(Seq((1L, "d1"), (2L, "d1")).toDF("k", "date"), "a.parquet")
    val n1 = StreamingOps.goldUpsertStream(spark, s"$base/silver",
      s"$base/gold", s"$base/ckpt", schema, "date")
    assert(n1 == 2L)

    // restate d1 (different rows, same partition) + add d2
    addFlat(Seq((9L, "d1")).toDF("k", "date"), "b.parquet")
    addFlat(Seq((3L, "d2")).toDF("k", "date"), "c.parquet")
    val n2 = StreamingOps.goldUpsertStream(spark, s"$base/silver",
      s"$base/gold", s"$base/ckpt", schema, "date")
    assert(n2 == 2L) // d1 REPLACED (1 row), d2 appended (1 row)
    val gold = spark.read.parquet(s"$base/gold")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gold == Set((9L, "d1"), (3L, "d2")))
  }
}
