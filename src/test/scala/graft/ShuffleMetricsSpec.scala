package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Runtime shuffle-volume guards: the scale claims in SURVEY §8 are
  * properties of how much data MOVES, not of the plan string (a cached
  * pipeline prints its subtree once per consumer, so static Exchange
  * counts overstate composed queries). A listener sums shuffle-write
  * RECORDS across stages; the assertions are semantic bounds — e.g. the
  * propose stage must shuffle orders of magnitude fewer rows than the
  * corpus shingle count, which is exactly the regression that
  * resurfaces if map-side signatures or candidate-restricted
  * verification break.
  */
class ShuffleMetricsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Sum a shuffle-write metric across every stage completed while
    * `body` runs (polls until the async listener bus goes quiet). */
  private def shuffleMetric(
      extract: org.apache.spark.executor.ShuffleWriteMetrics => Long)(
      body: => Unit): Long = {
    val acc = new AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        acc.addAndGet(extract(s.stageInfo.taskMetrics.shuffleWriteMetrics))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var prev = -1L
      var stable = 0
      while (stable < 3) { // three quiet 100ms polls = bus drained
        Thread.sleep(100)
        val now = acc.get
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    acc.get
  }

  private def shuffleRecords(body: => Unit): Long =
    shuffleMetric(_.recordsWritten)(body)

  private def shuffleBytes(body: => Unit): Long =
    shuffleMetric(_.bytesWritten)(body)

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  test("global top-k and running-total plans shuffle ZERO records") {
    val topk = shuffleRecords {
      SparkEntry.queries("q58_global_topk")(spark, dir).count(); ()
    }
    assert(topk == 0L, s"q58 TakeOrderedAndProject must not shuffle: $topk")
  }

  test("exact dedup shuffles digests, bounded by the doc count") {
    val n = docs.count()
    val recs = shuffleRecords {
      operators.Dedup.exact(docs, "doc_id", "text").count(); ()
    }
    // map-side partial agg: each partition emits at most its distinct
    // fingerprints; the AQE result-collection row is noise
    assert(recs <= n + 16,
      s"exact dedup shuffled $recs records for $n docs — partial agg lost?")
  }

  test("native minhash propose shuffles bands, not shingles") {
    val shingleCount = operators.Dedup
      .explodedShingles(docs, "doc_id", "text", 3).count()
    val recs = shuffleRecords {
      operators.Dedup.minhashLsh(docs, "doc_id", "text").count(); ()
    }
    // 3 band rows per doc + candidate pairs; the broken form shuffles
    // every (doc, shingle) pair into a groupBy-min
    assert(recs < shingleCount / 2,
      s"propose shuffled $recs records vs $shingleCount corpus shingles — " +
        "map-side signatures regressed?")
  }

  test("propose/verify shuffles candidate shingles, not corpus shingles") {
    val shingleCount = operators.Dedup
      .explodedShingles(docs, "doc_id", "text", 3).count()
    val recs = shuffleRecords {
      graft.util.CacheScope.withScope {
        operators.Dedup.proposeVerify(docs, "doc_id", "text").count()
      }; ()
    }
    // verify explodes shingles ONLY for docs in a candidate pair (a
    // few % of the corpus); corpus-wide explode would exceed this many
    // times over
    assert(recs < 2 * shingleCount,
      s"propose/verify shuffled $recs records vs $shingleCount corpus " +
        "shingles — candidate restriction regressed?")
  }

  test("repetition flags shuffle only the output rows (in-row stats)") {
    val n = docs.count()
    val recs = shuffleRecords {
      SparkEntry.queries("q61_repetition_flags")(spark, dir).count(); ()
    }
    // one ordering shuffle of the per-doc rows; the exploded form moves
    // every (doc, word) pair
    assert(recs <= n + 16,
      s"q61 shuffled $recs records for $n docs — in-row fold regressed?")
  }

  test("decontamination shuffles matched pairs + report rows, not corpus shingles") {
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    val bench = docs.filter(col("doc_id") % 25 === 0)
    val shingleCount = operators.Dedup
      .explodedShingles(corpus, "doc_id", "text", 3, dedup = false).count()
    val hits = operators.Decontam
      .contaminationReport(corpus, bench, "doc_id", "text", 3)
      .agg(sum(col("hit_ngrams"))).collect().head.getLong(0)
    val n = corpus.count()
    val recs = shuffleRecords {
      operators.Decontam
        .contaminationReport(corpus, bench, "doc_id", "text", 3).count(); ()
    }
    // distinct matched pairs (≈2× for the two-stage distinct+count) +
    // the per-doc report join; the pre-fix form shuffled EVERY corpus
    // shingle through a corpus-wide distinct
    val bound = 3 * hits + 4 * n + 64
    assert(recs <= bound && recs < shingleCount,
      s"decontam shuffled $recs records (bound $bound, " +
        s"$shingleCount corpus shingles) — broadcast-filter-first regressed?")
  }

  test("posting lists ship bounded partial states, not full doc-id sets") {
    // the r5 scale-killer: collect_set+slice caps only the OUTPUT row —
    // its partial states still carry every distinct doc id per token
    // across the exchange. BoundedMinSetAgg's partials are O(k). Same
    // grouping, same input, k far below the docs-per-token, so the
    // byte gap on the wire IS the buffer-bound property, measured.
    import org.apache.spark.sql.graft.Bridge
    // sf0.01 deliberately: ~500 docs over ~31 tokens means hundreds of
    // ids per (task, token) partial — at sf0.001 the sets are so small
    // that codec framing hides the gap
    val toks = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"),
        explode(operators.Dedup.words(col("text"))).as("token"))
      .transform(graft.util.CacheScope.persist)
    toks.count() // materialize once so both measurements shuffle alike
    // consume the postings column (sum of sizes) — a bare count() lets
    // Catalyst prune the aggregate away and both plans shuffle only keys
    val viaSet = shuffleBytes {
      toks.groupBy("token")
        .agg(slice(sort_array(collect_set(col("doc_id"))), 1, 5).as("p"))
        .agg(sum(size(col("p")))).collect(); ()
    }
    val bounded = shuffleBytes {
      val agg = Bridge.column(functions.BoundedMinSetAgg(
        Bridge.expression(col("doc_id")), 5).toAggregateExpression())
      toks.groupBy("token").agg(agg.as("p"))
        .agg(sum(size(col("p")))).collect(); ()
    }
    spark.catalog.clearCache()
    assert(bounded * 4 < viaSet,
      s"bounded postings shuffled $bounded bytes vs collect_set's $viaSet " +
        "— partial states are no longer capped?")
  }

  test("bloom incremental dedup never exchanges history fingerprints") {
    // emulate the 100 TB situation: HISTORY >> daily batch and nothing
    // auto-broadcasts. The plain path must then shuffle the history
    // fingerprint table for its left join, while the bloom path moves
    // only partial-combined sketches + the broadcast candidate set —
    // its shuffle volume must come in below plain's by ~the history
    // size (this asymmetry is invisible when history < batch, which is
    // why the fixture is 25:1, not a 1:2 split)
    val history = docs
    val newBatch = docs.filter(col("doc_id") % 25 === 0)
    val knownFps = history
      .select(operators.Dedup.fingerprint(col("text")).as("fp"))
    val nKnown = knownFps.distinct().count()
    val thresholdKeys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold") // AQE's own knob
    withConf(thresholdKeys.map(_ -> "-1"): _*) {
      // aggregate over the OUTPUT columns: a bare count() lets the
      // optimizer drop the row-preserving left joins (known is
      // distinct on fp) and measure a gutted plan
      def force(df: org.apache.spark.sql.DataFrame): Unit = {
        df.agg(sum(when(col("dup_of_history"), 1L).otherwise(0L)),
          sum(when(col("intra_keep"), 1L).otherwise(0L))).collect()
        ()
      }
      val plain = shuffleRecords {
        force(operators.Dedup.incrementalExact(
          newBatch, knownFps, "doc_id", "text", "fp"))
      }
      val bloom = shuffleRecords {
        force(operators.Dedup.incrementalExactBloom(
          newBatch, knownFps, "doc_id", "text", "fp",
          expectedItems = 1024, fpp = 0.03))
      }
      assert(bloom <= plain - nKnown / 2,
        s"bloom path shuffled $bloom records vs plain $plain " +
          s"($nKnown history fps) — history is crossing an exchange again?")
    }
  }

  test("KMV sketch shuffles distinct members, pruned toward k per group") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val totalRows = orders.count()
    val distinctPairs = orders
      .select(col("o_orderpriority"), col("o_custkey")).distinct().count()
    val recs = shuffleRecords {
      operators.Sketch
        .kmvDistinct(orders, "o_orderpriority", "o_custkey", 64).count(); ()
    }
    // distinct (group, hash) pairs (+ the exact-count twin's distinct
    // pass + small aggregates) — never the raw row stream twice over
    assert(recs <= 3 * distinctPairs + 64 && recs < 2 * totalRows,
      s"KMV shuffled $recs records ($distinctPairs distinct pairs, " +
        s"$totalRows rows) — distinct-before-rank regressed?")
  }

  test("KMV source overlap shuffles sketches, never the corpus shingle stream") {
    val shingleCount = operators.Dedup
      .explodedShingles(docs, "doc_id", "text", 3, dedup = false).count()
    val nSources = docs.select(col("source")).distinct().count()
    val recs = shuffleRecords {
      operators.Sketch
        .kmvSourceOverlap(docs, "source", "text", 3, 64).count(); ()
    }
    // the native agg partial-combines map-side: per task·source at most
    // one sketch row reaches the per-source exchange, then |S| sketch
    // rows reach the 1-row collect — tasks × |S| rows total, orders of
    // magnitude under the shingle stream q128's exact form must move
    val parallelism = spark.sparkContext.defaultParallelism
    assert(recs <= 2L * parallelism * nSources + 64,
      s"KMV overlap shuffled $recs records for $nSources sources — " +
        "sketch partial-combine lost?")
    assert(recs < shingleCount / 4,
      s"KMV overlap shuffled $recs vs $shingleCount corpus shingles")
  }

  test("split leakage shuffles fingerprint rows, never document text") {
    val n = docs.count()
    val textBytes = docs
      .agg(sum(length(col("text")))).collect()(0).getLong(0)
    val (recs, bytes) = {
      var r = 0L
      val b = shuffleBytes {
        r = shuffleRecords {
          operators.Sampling.splitLeakage(docs, "doc_id", "text", 5, 5)
            .count(); ()
        }
      }
      (r, b)
    }
    // per-fp partial agg: ≤ one row per doc into the fp exchange, plus
    // the 1-row global reduce partials; each carried row is a 16-byte
    // digest + three presence ints — if the TEXT ever started traveling
    // the byte volume would jump past the corpus text mass
    assert(recs <= n + 64,
      s"split leakage shuffled $recs records for $n docs")
    assert(bytes < textBytes,
      s"split leakage shuffled $bytes bytes ≥ corpus text $textBytes — " +
        "text is crossing the exchange")
  }

  test("incremental winnow pairs shuffle less than the full recompute") {
    // the O(new) contract, measured: the stored winnowed index is
    // semi-filtered by the broadcast batch fp set before anything
    // exchanges, so the incremental run must move strictly fewer
    // records than the full pair recompute over history ∪ batch
    // (which shuffles every doc's distinct fps plus every pair row).
    // Batch = 1/3 of the corpus — the daily-ingest shape the O(new)
    // path exists for (a "batch" that is most of the corpus should
    // just run the batch form).
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val index = operators.Dedup.winnowFingerprints(history, "doc_id",
      "text", 3, 4)
    val full = shuffleRecords {
      operators.Dedup.winnowCandidatePairs(docs, "doc_id", "text",
        3, 4, 2).count(); ()
    }
    val inc = shuffleRecords {
      operators.Dedup.incrementalWinnowPairs(index, batch, "doc_id",
        "text", 3, 4, 2).count(); ()
    }
    assert(inc < full,
      s"incremental winnow shuffled $inc ≥ full recompute's $full")
  }

  test("incremental hot spans shuffle less than the full recompute") {
    // history = 2/3 of the corpus; the daily path may only exchange
    // the batch census, the newly-hot-touched slices, and the run
    // ledger — never the stored index whole
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    // materialize the STORED tables before measuring — in production
    // they are parquet on disk; recomputing them inside the window
    // would charge the daily path for state it never rebuilds
    val index = operators.Dedup.positionedShingleFps(history, "doc_id",
      "text", 5).persist()
    val census = index.select(col("fp"), col("doc_id")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("df")).persist()
    val ledger = operators.Dedup.hotSpanLedger(history, "doc_id",
      "text", k = 5, minSpan = 12, minDf = 3).persist()
    try {
      index.count(); census.count(); ledger.count()
      val full = shuffleRecords {
        operators.Dedup.hotSpanClusters(docs, "doc_id", "text",
          k = 5, minSpan = 12, minDf = 3).count(); ()
      }
      val inc = shuffleRecords {
        operators.Dedup.incrementalHotSpanClusters(index, census, ledger,
          batch, "doc_id", "text", k = 5, minSpan = 12, minDf = 3)
          .count(); ()
      }
      assert(inc < full,
        s"incremental hot spans shuffled $inc ≥ full recompute's $full")
    } finally {
      index.unpersist(); census.unpersist(); ledger.unpersist(); ()
    }
  }

  test("PQ index append shuffles less than the full encode recompute") {
    // the q194 daily contract: stored codebooks + codes are
    // materialized state; the daily path may only move the batch's
    // subvector assignments — no Lloyd rounds, no history re-encode
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val cbs = operators.Pq.codebooks(history, "vec_id", "embedding",
      m = 4, k = 8, iterations = 2).persist()
    val stored = operators.Pq.encode(history, "vec_id", "embedding",
      4, cbs).persist()
    try {
      cbs.count(); stored.count()
      val full = shuffleRecords {
        operators.Pq.encode(emb, "vec_id", "embedding", 4,
          operators.Pq.codebooks(emb, "vec_id", "embedding",
            m = 4, k = 8, iterations = 2)).count(); ()
      }
      val daily = shuffleRecords {
        operators.Pq.appendCodes(stored, cbs, batch, "vec_id",
          "embedding", 4).count(); ()
      }
      assert(daily < full,
        s"PQ daily append shuffled $daily ≥ full recompute's $full")
    } finally { cbs.unpersist(); stored.unpersist(); () }
  }

  test("index-health exchanges are CELL-bounded, never corpus-sized") {
    // cellHealth's scale claim is not "daily shuffles less": the argmin
    // is in-row against the broadcast codebook row, so BOTH paths
    // exchange only per-(task, cell) partials whatever the input size
    // (that is the point); the daily savings are in scan and compute,
    // which the PqSpec inc ≡ full lane plus the batch-only lineage
    // prove. What the listener CAN pin is the payload discipline: with
    // a 500-vector corpus and 8 cells, the full exchange must stay two
    // orders below the corpus row count — a regression that ships
    // vectors (or vec_id-grained rows) through the exchange blows
    // straight past this bound.
    //
    // The action must READ the health columns: a bare count() lets the
    // optimizer drop whatever only those columns need. When the spine
    // was a left join onto per-cell sums unique on cid, a count()
    // dropped the join and the whole health aggregation with it, and
    // the lane measured only the codebook scan (and, daily, the ledger
    // join).
    //
    // Daily = cellHealth(batch) + the Ledger.merge full-outer join.
    // The batch is a subset of emb read through the same splits and a
    // fixed codebook assigns each vector the same way, so its per-task
    // cell partials are a subset of the full path's; the merge
    // exchanges at most the prior and the delta ledger, k rows each.
    // Hence daily <= full + 2k.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val coarse = operators.Ivf.centroids(history, "vec_id", "embedding",
      k = 8, iterations = 2).persist()
    val stored = operators.Ivf.cellHealth(coarse, history, "vec_id",
      "embedding").persist()
    def health(df: org.apache.spark.sql.DataFrame): Unit = {
      df.agg(sum(col("n_vectors")), sum(col("residual_energy"))).collect()
      ()
    }
    try {
      coarse.count(); stored.count()
      val n = emb.count()
      val k = coarse.count()
      val full = shuffleRecords {
        health(operators.Ivf.cellHealth(coarse, emb, "vec_id", "embedding"))
      }
      val daily = shuffleRecords {
        health(operators.Ivf.incrementalCellHealth(coarse, stored, batch,
          "vec_id", "embedding"))
      }
      assert(full < n / 5,
        s"full health shuffled $full of $n rows — exchange not cell-bounded")
      assert(daily <= full + 2 * k,
        s"ledger merge shuffled $daily > full recompute's $full + 2·$k")
    } finally { coarse.unpersist(); stored.unpersist(); () }
  }

  test("occupancy census exchanges per-(task, cell) counts, never per-vector rows") {
    // occupancy assigns through the in-row nearest fold, so the only
    // exchange over the vectors carries per-(task, cell) partial
    // counts: with 500 vectors and 8 cells, far below n / 5. Any
    // per-vector exchange (an id-keyed argmin, or vectors shipped to
    // the codebook) moves about one record per vector and fails.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val coarse = operators.Ivf.centroids(emb, "vec_id", "embedding",
      k = 8, iterations = 2).persist()
    try {
      coarse.count()
      val n = emb.count()
      val occ = shuffleRecords {
        operators.Ivf.occupancy(coarse, emb, "vec_id", "embedding", "n")
          .agg(sum(col("n"))).collect(); ()
      }
      info(s"occupancy: shuffled = $occ, n = $n")
      assert(occ < n / 5,
        s"occupancy shuffled $occ records for $n vectors — the " +
          "assignment exchanges per vector")
    } finally { coarse.unpersist(); () }
  }

  test("pruned-graph maintenance: upsert shuffles less than the full re-prune; sweep alphas are near-free") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val coarse = operators.Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    // STORED-table shape (the verbs' contract): parquet round-trip so
    // a re-read is a scan, not an in-plan index rebuild whose window
    // re-shuffles per consumer
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_shuffle_pruned").toString
    try {
    operators.Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
      .write.parquet(s"$sdir/idx")
    val idx = spark.read.parquet(s"$sdir/idx")
    operators.Similarity.knnGraphSeed(coarse, emb, "vec_id",
      "embedding", 5).write.parquet(s"$sdir/g")
    val g = spark.read.parquet(s"$sdir/g")
    operators.Similarity.pruneGraphRng(g, emb, "vec_id", "embedding", 5)
      .write.parquet(s"$sdir/pruned")
    val pruned = spark.read.parquet(s"$sdir/pruned")
    val batch = operators.Ivf.flatIndex(coarse,
      emb.filter(col("vec_id") === 7)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", Nil)
    // the O(changed) contract, measured: a single-id restatement must
    // move strictly fewer records than re-pruning the whole upserted
    // graph (which shuffles every edge into the pair table + fold)
    val full = shuffleRecords {
      operators.Similarity.pruneGraphRng(
        operators.Similarity.upsertKnnSeed(g, idx, batch, 5),
        emb.select(col("vec_id"),
          when(col("vec_id") === 7, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding")),
        "vec_id", "embedding", 5).count(); ()
    }
    val inc = shuffleRecords {
      operators.Similarity.upsertPrunedKnnSeed(g, pruned, idx, batch,
        5).count(); ()
    }
    assert(inc < full,
      s"incremental pruned upsert shuffled $inc ≥ full re-prune's $full")
    // the sweep's marginal α is map-only over the shared fold input
    // plus a census aggregate: three αs must cost well under three
    // independent prunes' movement (< 2× one sweep point)
    val one = shuffleRecords {
      operators.Similarity.pruneSweep(g, emb, "vec_id", "embedding", 5,
        Seq((1L, 1L))).count(); ()
    }
    val three = shuffleRecords {
      operators.Similarity.pruneSweep(g, emb, "vec_id", "embedding", 5,
        Seq((1L, 1L), (2L, 3L), (3L, 2L))).count(); ()
    }
    assert(three < 2 * one,
      s"3-α sweep shuffled $three ≥ 2× the single-α sweep's $one — " +
        "the fold input is not being reused")
    } finally {
      // the sibling tests' hygiene: release every frame the operators'
      // CacheScope pinned during the four measured runs, and remove
      // the stored-table temp dir
      spark.catalog.clearCache()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(sdir))
    }
  }

  test("fold-cache refresh: O(changed) moves less than the full cache rebuild") {
    // BOTH broadcast knobs off for BOTH measured runs: at spec scale
    // AQE broadcasts the full rebuild's corpus-sized pair joins away
    // (zero shuffle records), hiding exactly the volume the
    // O(changed) claim is about, while the incremental path's real
    // exchanges (changed-set distincts, checkpoint) still count — the
    // measured-both-ways recipe. The verbs' own broadcast() hints
    // (batch-proportional sides) still apply, which is the contract.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val autoK = "spark.sql.autoBroadcastJoinThreshold"
    val adaptK = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_shuffle_cache").toString
    try withConf(autoK -> "-1", adaptK -> "-1") {
      val coarse = operators.Ivf.centroids(emb, "vec_id", "embedding",
        8, 2)
      operators.Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
        .write.parquet(s"$sdir/idx")
      val idx = spark.read.parquet(s"$sdir/idx")
      operators.Similarity.knnGraphSeed(coarse, emb, "vec_id",
        "embedding", 5).write.parquet(s"$sdir/g")
      val g = spark.read.parquet(s"$sdir/g")
      operators.Similarity.pruneFoldCache(g, emb, "vec_id",
        "embedding", 5).write.parquet(s"$sdir/cache")
      val cache = spark.read.parquet(s"$sdir/cache")
      val batch = operators.Ivf.flatIndex(coarse,
        emb.filter(col("vec_id") === 7)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", Nil)
      // aggregate over the nested column so the optimizer cannot
      // elide the fold content (the count()-guts-the-join gotcha)
      def drain(df: org.apache.spark.sql.DataFrame): Unit = {
        df.agg(sum(expr("size(__es)"))).collect(); ()
      }
      val full = shuffleRecords {
        drain(operators.Similarity.pruneFoldCache(
          operators.Similarity.upsertKnnSeed(g, idx, batch, 5),
          emb.select(col("vec_id"),
            when(col("vec_id") === 7, reverse(col("embedding")))
              .otherwise(col("embedding")).as("embedding")),
          "vec_id", "embedding", 5))
      }
      val inc = shuffleRecords {
        drain(operators.Similarity.upsertPruneFoldCache(g, cache, idx,
          batch, 5))
      }
      assert(inc < full,
        s"incremental cache refresh shuffled $inc ≥ full rebuild's $full")
    } finally {
      spark.catalog.clearCache()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(sdir))
    }
  }

  test("layer fan: the layered build shuffles the geometric series, not layers × base") {
    // the layeredIndexFan claim measured RELATIVELY: the one fanned
    // pass must not move more than the three per-layer chains it
    // replaced (both measured here, so AQE's run-to-run broadcast
    // decisions cancel). This is the regression that resurfaces if
    // the fan gets pinned — a cached fan forces a sort-merge join
    // with the FULL pair table through the rank exchange (measured
    // 12× the chains at this scale when the fan was persisted).
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val coarse = operators.Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
      .persist()
    try {
      coarse.count()
      val chains = shuffleRecords {
        (0 to 2).map { l =>
          operators.Similarity.knnGraphSeed(coarse,
            emb.filter(col("vec_id") % (1L << l) === 0), "vec_id",
            "embedding", 5)
        }.reduce(_.unionByName(_)).count(); ()
      }
      val fanned = shuffleRecords {
        operators.Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
          "embedding", 5, maxLayer = 2).count(); ()
      }
      info(s"layer fan: chains = $chains, fanned = $fanned")
      assert(fanned <= chains * 3 / 2,
        s"fanned layered build shuffled $fanned > 1.5× the per-layer " +
          s"chains' $chains — the fan regressed (pinned fan / lost " +
          "WindowGroupLimit pushdown)")
    } finally { coarse.unpersist(); spark.catalog.clearCache() }
  }

  test("frame dedup election shuffles digests, never payloads") {
    // the q210 scale claim: the keep-first window keys on the frame
    // DIGEST and the payload is projected away BEFORE the exchange —
    // at 100 TB of media the shuffle moves 16-byte digests, not
    // frames. A/B in ONE session against the un-projected form (the
    // regression this lane guards: computing frame_bytes after the
    // window drags the BINARY column through the digest exchange).
    def frames = operators.Multimodal.sampleFrames(
      operators.Multimodal.withPayload(docs, "doc_id", "text"),
      "doc_id", frameSize = 64, stride = 1)
    val disciplined = shuffleBytes {
      operators.Multimodal.frameDupCensus(
          operators.Multimodal.dedupFrames(frames, "doc_id"), "doc_id")
        .agg(sum(col("n_dup_frames")), sum(col("dup_bytes")))
        .collect(); ()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("frame")))
      .orderBy(col("doc_id").asc, col("frame_idx").asc)
    val naive = shuffleBytes {
      frames.select(col("doc_id"), col("frame_idx"), col("frame"))
        .withColumn("keep", row_number().over(w) === 1)
        .groupBy(col("doc_id"))
        .agg(sum(when(col("keep"), 0L)
          .otherwise(octet_length(col("frame")))).as("dup_bytes"))
        .agg(sum(col("dup_bytes")))
        .collect(); ()
    }
    assert(disciplined < naive,
      s"digest-projected election shuffled $disciplined B, " +
        s"payload-through-exchange $naive B — projection discipline lost")
    // and the plan proof: no BINARY column below the election window
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = operators.Multimodal.dedupFrames(frames, "doc_id")
      .queryExecution.optimizedPlan.collect { case win: LWindow => win }
    assert(wins.nonEmpty)
    wins.foreach { win =>
      val bin = win.child.output.filter(
        _.dataType == org.apache.spark.sql.types.BinaryType).map(_.name)
      assert(bin.isEmpty, s"election window carries payloads: $bin")
    }
  }

  test("frame ledger family: no BINARY column survives to any aggregate") {
    // the q213/q214/q224 scale claim, plan-proven across the whole
    // family: ledger build, min-merge, the against-ledger election,
    // and the purge re-election all project the payload away before
    // their aggregation/window operators — at 100 TB of media every
    // exchange in the lifecycle carries digests and scalars
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.types.BinaryType
    def frames = operators.Multimodal.sampleFrames(
      operators.Multimodal.withPayload(docs, "doc_id", "text"),
      "doc_id", frameSize = 64, stride = 1)
    def assertNoBinary(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val plan = df.queryExecution.optimizedPlan
      val offenders = plan.collect {
        case a: Aggregate =>
          a.child.output.filter(_.dataType == BinaryType).map(_.name)
        case w: LWindow =>
          w.child.output.filter(_.dataType == BinaryType).map(_.name)
      }.flatten
      assert(offenders.isEmpty, s"$what carries payloads: $offenders")
    }
    val ledger = operators.Multimodal.frameLedger(frames, "doc_id")
    assertNoBinary(ledger, "ledger build")
    assertNoBinary(operators.Multimodal.mergeFrameLedger(ledger,
      operators.Multimodal.frameLedger(frames, "doc_id")), "ledger merge")
    assertNoBinary(operators.Multimodal.dedupFramesAgainstLedger(
      ledger, frames, "doc_id"), "against-ledger election")
    val s = spark
    import s.implicits._
    assertNoBinary(operators.Multimodal.purgeFrameLedger(ledger,
      operators.Multimodal.frameOccurrences(frames, "doc_id"),
      Seq(0L).toDF("doc_id"), "doc_id"), "purge re-election")
  }

  test("flatIndex: attributes ride the argmin exchange — one corpus pass") {
    // the q235 scale claim: the filterable attribute lives IN the
    // index row. The assignment is the in-row nearest fold over the
    // broadcast codebook row, so the attribute never leaves its own row
    // and building the index exchanges no corpus-sized frame at all:
    // only the codebook gather and the per-(task) partials of the sum
    // below. A regression that fetches attributes through an id-keyed
    // join-back (or brings back a per-vector argmin exchange) ships at
    // least n rows and fails the bound
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val coarse = operators.Ivf.centroids(emb, "vec_id", "embedding",
      k = 4, iterations = 2).persist()
    try {
      coarse.count()
      val n = emb.count()
      val flat = shuffleRecords {
        // consume the attribute so column pruning can't fake the win
        operators.Ivf.flatIndex(coarse, emb, "vec_id", "embedding",
            Seq("label"))
          .agg(sum(col("label"))).collect(); ()
      }
      info(s"flatIndex: flat = $flat, n = $n")
      assert(flat < n / 5,
        s"flatIndex shuffled $flat rows for an $n-row corpus — " +
          "the vector or its attributes left their row")
    } finally { coarse.unpersist(); () }
  }

  test("MaxSim: the exchange carries per-(query-vec, doc) maxima, never the dot fan") {
    // the q260 scale claim: the per-(query-vector, doc) max
    // partial-combines map-side BEFORE its exchange, so the shuffle
    // carries ≤ |Q|·m_q·docs + |Q|·docs rows (first and second
    // aggregate), never the |Q|·m_q·m_d·docs dot fan a naive
    // explode-then-window plan would move (4× more at m_d = 4)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
          explode(sequence(lit(0), lit(3))).as("vec_idx"),
          col("embedding"))
        .select(col("vec_id"), col("vec_idx"),
          expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
    val n = emb.count()
    val nq = 5L
    val moved = shuffleRecords {
      operators.Similarity.maxSimTopK(bag(emb),
          bag(emb.filter(col("vec_id") < nq)), "vec_id", "vec_idx",
          "vec", topK = 5)
        .collect(); ()
    }
    val bound = nq * 4 * n + nq * n + 4096 // both agg exchanges + top-k slack
    assert(moved <= bound,
      s"MaxSim shuffled $moved rows (bound $bound) — the dot fan is " +
        "crossing the exchange instead of partial-combining")
  }

  test("graph purge shuffles less than the full seed rebuild") {
    // the q268 maintenance contract: a small delete may only re-score
    // the AFFECTED vertices' cells — dead/affected sets ride broadcast
    // anti/semi joins and untouched rows pass through without a rank
    // exchange, so the purge's shuffle must stay under the full
    // Σ cell² rebuild's
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val coarse = operators.Ivf.centroids(emb, "vec_id", "embedding",
      k = 8, iterations = 2).persist()
    val storedIndex = operators.Ivf.flatIndex(coarse, emb, "vec_id",
      "embedding", Nil).persist()
    val storedGraph = operators.Similarity.knnGraphSeed(coarse, emb,
      "vec_id", "embedding", k = 5).persist()
    val tombs = emb.orderBy(col("vec_id")).limit(2).select("vec_id")
    try {
      coarse.count(); storedIndex.count(); storedGraph.count()
      val full = shuffleRecords {
        util.CacheScope.withScope {
          operators.Similarity.knnGraphSeed(coarse,
            emb.join(broadcast(tombs), Seq("vec_id"), "left_anti"),
            "vec_id", "embedding", k = 5).count()
        }; ()
      }
      val daily = shuffleRecords {
        util.CacheScope.withScope {
          operators.Similarity.purgeKnnGraph(storedGraph, storedIndex,
            tombs, k = 5).count()
        }; ()
      }
      assert(daily < full,
        s"graph purge shuffled $daily ≥ full rebuild's $full")
    } finally {
      coarse.unpersist(); storedIndex.unpersist()
      storedGraph.unpersist(); ()
    }
  }
}
