package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Schemas
import graft.util.CacheScope

class ChartOpsSpec extends SparkSpec {

  private def parsed = ChartOps.parsePayloads(payloadDf(Seq(
    ("2024-10-22", "us", resource("chart_us.json")),
    ("2024-10-22", "de", resource("chart_us.json")))))

  test("rank is the 1-based array position, per region (W1)") {
    val got = parsed.filter(col("region") === "us")
      .select("rank", "episodeName").collect().sortBy(_.getInt(0))
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(got.head.getString(1) == "Morning News Daily")
    assert(got.last.getString(1) == "Tech Talk Weekly")
    assert(parsed.count() == 6) // set-at-once over both regions
  }

  test("URI prefixes stripped; malformed URI passes through (F1/F2)") {
    val uris = parsed.filter(col("region") === "us")
      .orderBy("rank").select("episodeUri", "showUri")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(uris(0) == ("ep001aaaaaaaaaaaaaaaaa", "sh001aaaaaaaaaaaaaaaaa"))
    assert(uris(2)._1 == "ep003ccccccccccccccccc") // had no prefix
  }

  test("schema matches the 7-column bronze contract") {
    assert(parsed.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Schemas.chartTable.fields.map(f => (f.name, f.dataType)).toSeq)
  }
}

class EpisodeOpsSpec extends SparkSpec {

  private def eps = EpisodeOps.parsePayloads(payloadDf(Seq(
    ("2024-10-22", "us", resource("episodes_us.json")))))

  test("null and id-less episode objects are skipped (P6)") {
    assert(eps.count() == 3) // 5 entries: 1 null, 1 without id
  }

  test("flatten emits the 24 literal dotted columns (P2)") {
    val flat = EpisodeOps.flatten(eps)
    assert(flat.columns.toSeq == Schemas.episodeFlatColumns)
    val row = flat.filter(col("id") === "ep001aaaaaaaaaaaaaaaaa")
      .select(col("`show.name`"), col("`show.total_episodes`"),
        col("`show.copyrights`")).head()
    assert(row.getString(0) == "Morning News")
    assert(row.getInt(1) == 347)
    assert(row.getSeq[Row](2).head.getString(0) == "(C) 2024 NewsCorp")
  }
}

class EnrichOpsSpec extends SparkSpec {

  private def chart = ChartOps.parsePayloads(payloadDf(Seq(
    ("2024-10-22", "us", resource("chart_us.json")))))
  private def episodes = EpisodeOps.flatten(EpisodeOps.parsePayloads(
    payloadDf(Seq(("2024-10-22", "us", resource("episodes_us.json"))))))

  // enrichValidated persists its join: every caller runs in a scope so
  // nothing stays cached in the shared session
  test("happy path: row count preserved, join keys dropped (J1, P3)") {
    CacheScope.withScope {
      val out = EnrichOps.enrichValidated(chart, episodes)
      assert(out.count() == 3)
      assert(!out.columns.contains("id") && !out.columns.contains("name"))
      assert(out.columns.contains("show.name"))
      val row = out.filter(col("rank") === 2).select(col("`show.publisher`")).head()
      assert(row.getString(0) == "PodCo")
    }
  }

  test("unmatched chart row fails validation (P5 pandas NaN semantics)") {
    val missingOne = episodes.filter(col("id") =!= "ep002bbbbbbbbbbbbbbbbb")
    val e = intercept[EnrichOps.JoinValidationException] {
      CacheScope.withScope(EnrichOps.enrichValidated(chart, missingOne))
    }
    assert(e.getMessage.contains("1 chart row"))
  }

  test("name mismatch fails validation (J2)") {
    val renamed = episodes.withColumn("name",
      when(col("id") === "ep001aaaaaaaaaaaaaaaaa", "Wrong Name")
        .otherwise(col("name")))
    intercept[EnrichOps.JoinValidationException] {
      CacheScope.withScope(EnrichOps.enrichValidated(chart, renamed))
    }
  }

  test("both names null is a violation — pandas NaN != NaN is True") {
    val nulled = episodes.withColumn("name",
      when(col("id") === "ep001aaaaaaaaaaaaaaaaa", lit(null: String))
        .otherwise(col("name")))
    val nulledChart = chart.withColumn("episodeName",
      when(col("episodeUri") === "ep001aaaaaaaaaaaaaaaaa", lit(null: String))
        .otherwise(col("episodeName")))
    intercept[EnrichOps.JoinValidationException] {
      CacheScope.withScope(EnrichOps.enrichValidated(nulledChart, nulled))
    }
  }

  test("observed variant validates on the action with zero extra scans") {
    val (out, obs) = EnrichOps.enrichObserved(chart, episodes)
    out.write.mode("overwrite").parquet(tmpDir("silver") + "/t")
    EnrichOps.assertNoViolations(obs) // must not throw
  }
}

class UnionOpsSpec extends SparkSpec {

  test("unionByNameAll null-fills drifted columns (U2)") {
    val s = spark
    import s.implicits._
    val day1 = Seq((1, "a")).toDF("k", "v1")
    val day2 = Seq((2, "b")).toDF("k", "v2") // v1 missing, v2 added
    val all = UnionOps.unionByNameAll(Seq(day1, day2)).orderBy("k")
    assert(all.columns.sorted.toSeq == Seq("k", "v1", "v2"))
    val rows = all.collect()
    assert(rows(0).getString(1) == "a" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "b")
  }

  test("readSnapshots merges drifted footers and prunes non-parquet (S5/P7/U2)") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("snapshots")
    Seq((1, "a")).toDF("k", "v1").write.parquet(s"$dir/d=1")
    Seq((2, "b")).toDF("k", "v2").write.parquet(s"$dir/d=2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/d=1/junk.txt"), "not parquet")
    val all = UnionOps.readSnapshots(spark, dir)
    assert(all.count() == 2)
    assert(all.columns.toSet.intersect(Set("v1", "v2")).size == 2)
  }

  test("writeSized bounds file size and keeps files internally sorted") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("sized")
    val df = (1L to 10000L).map(i => (i, s"v$i")).toDF("k", "v")
    UnionOps.writeSized(df, s"$dir/out", "k",
      maxRecordsPerFile = 2000L, numRanges = 2)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 5) // 10k rows / 2k cap
    files.foreach { f =>
      val rows = spark.read.parquet(f.getPath).select("k")
        .collect().map(_.getLong(0))
      assert(rows.length <= 2000, s"${f.getName}: ${rows.length} rows")
      assert(rows.toSeq == rows.sorted.toSeq) // min/max-prunable
    }
    assert(spark.read.parquet(s"$dir/out").count() == 10000)
  }
}

class PipelineSpec extends SparkSpec {
  import graft.run.Pipeline

  test("bronze → silver → gold end-to-end with injected date") {
    val base = tmpDir("pipe")
    val layout = Pipeline.Layout(s"$base/bronze", s"$base/silver", s"$base/gold")
    val enriched = Pipeline.runDaily(spark,
      payloadDf(Seq(("2024-10-22", "us", resource("chart_us.json")))),
      payloadDf(Seq(("2024-10-22", "us", resource("episodes_us.json")))),
      layout)
    assert(enriched.count() == 3)
    val gold = Pipeline.rebuildGold(spark, layout)
    assert(gold.count() == 3)
    // idempotent reprocess of the same date (dynamic partition overwrite)
    Pipeline.runDaily(spark,
      payloadDf(Seq(("2024-10-22", "us", resource("chart_us.json")))),
      payloadDf(Seq(("2024-10-22", "us", resource("episodes_us.json")))),
      layout)
    assert(Pipeline.rebuildGold(spark, layout).count() == 3)
  }

  // Two dates × three regions of numeric episode ids drawn with overlap
  // from one pool; chart names match BatchedLookup.fixtureEpisodeService.
  private val dates = Seq("2024-10-21", "2024-10-22")
  private val regions = Seq("us", "de", "br")
  private val perRegion = 40
  private def chartIds(d: Int, r: Int): Seq[Int] =
    (0 until perRegion).map(i => 1000 + (i * (r + 2) + d * 7) % 90)
  private def charts = payloadDf(
    for ((d, di) <- dates.zipWithIndex; (r, ri) <- regions.zipWithIndex)
      yield (d, r, chartIds(di, ri).map(id =>
        s"""{"episodeUri":"spotify:episode:$id","showUri":"spotify:show:s$id",
           |"episodeName":"ep-$id","chartRankMove":"NEW"}""".stripMargin)
        .mkString("[", ",", "]")))
  private val distinctIds =
    (for (d <- dates.indices; r <- regions.indices) yield chartIds(d, r)).flatten.toSet

  /** Episode payloads fetched 50 ids per call; `sent` counts every id
    * sent, so a re-evaluation of the fetch counts its ids again.
    * `drop` ids are left out of the answers (validation then fails). */
  private def fetchedEpisodes(sent: org.apache.spark.util.LongAccumulator,
      drop: Set[String] = Set.empty) = {
    val ids = ChartOps.parsePayloads(charts).select("episodeUri").distinct()
    BatchedLookup.fetchPayloads(ids, "episodeUri", 50, (batch: Seq[String]) => {
      sent.add(batch.size.toLong)
      BatchedLookup.fixtureEpisodeService(batch.filterNot(drop))
    })
  }

  private def layoutAt(prefix: String) = {
    val base = tmpDir(prefix)
    Pipeline.Layout(s"$base/bronze", s"$base/silver", s"$base/gold")
  }

  private def partitionFiles(tableDir: String, date: String): Seq[(String, Long)] =
    Option(new java.io.File(s"$tableDir/date=$date").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length)).sortBy(_._1)

  test("a date whose episodes fail validation throws and leaves its silver partition as it was") {
    val layout = layoutAt("validate_first")
    Pipeline.runDaily(spark, charts,
      fetchedEpisodes(spark.sparkContext.longAccumulator("sent")), layout)
    def silverRows = spark.read.parquet(layout.silverDir)
      .filter(col("date") === dates.last).collect().map(_.toString).sorted.toSeq
    val rowsBefore = silverRows
    val filesBefore = dates.map(partitionFiles(layout.silverDir, _))
    assert(rowsBefore.size == regions.size * perRegion)

    val e = intercept[EnrichOps.JoinValidationException] {
      Pipeline.runDaily(spark, charts,
        fetchedEpisodes(spark.sparkContext.longAccumulator("sent"), drop = Set("1000")), layout)
    }
    assert(e.getMessage.contains("unmatched or name-mismatched"))
    assert(dates.map(partitionFiles(layout.silverDir, _)) == filesBefore)
    assert(silverRows == rowsBefore)
  }

  test("each distinct id is looked up once, one file per date partition, no cache left behind") {
    val layout = layoutAt("one_pass")
    val before = cacheState
    val sent = spark.sparkContext.longAccumulator("sent")
    val enriched = Pipeline.runDaily(spark, charts, fetchedEpisodes(sent), layout)
    assert(sent.sum == distinctIds.size.toLong)
    for (table <- Seq(layout.bronzeDir, layout.silverDir); d <- dates)
      assert(partitionFiles(table, d).size == 1, s"$table date=$d")
    assertCacheAsFound(before)
    // the returned frame is released: acting on it recomputes, correctly
    assert(enriched.filter(col("duration_ms").isNull).isEmpty)
    assert(enriched.count() == dates.size * regions.size * perRegion)

    val failing = spark.sparkContext.longAccumulator("sent")
    intercept[EnrichOps.JoinValidationException] {
      Pipeline.runDaily(spark, charts, fetchedEpisodes(failing, drop = Set("1000")), layout)
    }
    assert(failing.sum == distinctIds.size.toLong)
    assertCacheAsFound(before)
  }
}

class BatchedLookupSpec extends SparkSpec {

  /** Lookup that records how many ids each call received, inside the
    * payload itself — lets assertions run distributed, no accumulators. */
  private val countingService: Seq[String] => String = ids =>
    ids.map(id => s"""{"id":"$id","name":"n${ids.size}","duration_ms":0}""")
      .mkString("""{"episodes":[""", ",", "]}")

  test("chunks of <= batchSize; every id exactly once (S2)") {
    val s = spark
    import s.implicits._
    val ids = (1L to 120L).toDF("id").repartition(1)
    val out = EpisodeOps.parsePayloads(
        BatchedLookup.fetchPayloads(ids, "id", 50, countingService))
      .select(col("id"), col("name")).collect()
    // 120 ids in one partition -> calls of 50, 50, 20
    assert(out.length == 120)
    assert(out.map(_.getString(0)).toSet == (1L to 120L).map(_.toString).toSet)
    val sizes = out.map(_.getString(1).drop(1).toInt)
    assert(sizes.max <= 50)
    assert(sizes.count(_ == 50) == 100 && sizes.count(_ == 20) == 20)
  }

  test("multi-partition: chunking is per-partition, ids still total") {
    val s = spark
    import s.implicits._
    val ids = (1L to 101L).toDF("id").repartition(4)
    val out = EpisodeOps.parsePayloads(
        BatchedLookup.fetchPayloads(ids, "id", 50, countingService))
      .collect()
    assert(out.length == 101)
    assert(out.map(_.getString(0)).toSet == (1L to 101L).map(_.toString).toSet)
  }
}

class ReleaseDateSpec extends SparkSpec {
  test("precision-aware parse: day/month/year anchor, garbage -> null") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("2024-03-15", "day"),
      ("2024-03", "month"),
      ("2024", "year"),
      ("not-a-date", "day"),
      ("2024-03-15", "minute")) // unknown precision
      .toDF("release_date", "release_date_precision")
    val out = EpisodeOps.withReleaseDate(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.getDate(2)).map(_.toString)).toMap
    assert(out(("2024-03-15", "day")) == Some("2024-03-15"))
    assert(out(("2024-03", "month")) == Some("2024-03-01"))
    assert(out(("2024", "year")) == Some("2024-01-01"))
    assert(out(("not-a-date", "day")) == None)   // ANSI-safe: null, not throw
    assert(out(("2024-03-15", "minute")) == None) // undocumented precision
  }
}
