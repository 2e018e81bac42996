package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{ChartOps, EnrichOps}
import graft.operators.{Dedup, Salting}
import graft.util.CacheScope

/** Property-based invariants (SURVEY §5.2): rank density, validation
  * totality, union monotonicity, salted-agg equivalence, Jaccard bounds.
  * Small generated inputs (Spark jobs per case are expensive) with fixed
  * minSuccessful to keep the suite fast but meaningful.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic sampling from a ScalaCheck Gen (scalatestplus is not
    * in the offline dependency cache, so we drive Gen directly). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(12), Seed(42L + i)))

  private def forAllSampled[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit = {
    val cases = samples(g, n)
    assert(cases.nonEmpty)
    cases.foreach(body)
  }

  private val word: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val entryGen: Gen[(String, String)] = for {
    id <- Gen.listOfN(10, Gen.alphaNumChar).map(_.mkString)
    name <- word
  } yield (id, name)

  private def payloadJson(entries: Seq[(String, String)]): String =
    entries.map { case (id, name) =>
      s"""{"episodeUri": "spotify:episode:$id", "showUri": "spotify:show:$id",
          "episodeName": "$name", "chartRankMove": "NEW"}"""
    }.mkString("[", ",", "]")

  test("rank is always a dense 1..n per region, prefixes always stripped") {
    forAllSampled(Gen.nonEmptyListOf(entryGen)) { entries =>
      val chart = ChartOps.parsePayloads(
        payloadDf(Seq(("2024-10-22", "us", payloadJson(entries)))))
      val ranks = chart.select("rank").collect().map(_.getInt(0)).sorted
      assert(ranks.toSeq == (1 to entries.length))
      assert(chart.filter(col("episodeUri").startsWith("spotify:")).isEmpty)
    }
  }

  test("enrich validation: complete dim passes with exact row count; any missing id throws") {
    forAllSampled(Gen.nonEmptyListOf(entryGen).map(_.distinctBy(_._1))) { entries =>
      val chart = ChartOps.parsePayloads(
        payloadDf(Seq(("2024-10-22", "us", payloadJson(entries)))))
      val s = spark
      import s.implicits._
      val dim = entries.toDF("id", "name")
      // enrichValidated persists its join: scoped, so no cache outlives the case
      CacheScope.withScope {
        val out = EnrichOps.enrichValidated(chart, dim)
        assert(out.count() == entries.length)
      }
      if (entries.length > 1) {
        val missing = dim.filter(col("id") =!= entries.head._1)
        intercept[EnrichOps.JoinValidationException] {
          CacheScope.withScope(EnrichOps.enrichValidated(chart, missing))
        }
      }
    }
  }

  test("salted aggregation ≡ plain aggregation for any salt count") {
    forAllSampled(Gen.choose(1, 16), n = 3) { numSalts =>
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .withColumn("qty_dec", col("l_quantity").cast("decimal(18,2)"))
      val salted = Salting.saltedAgg(li, Seq("l_returnflag"),
          col("l_orderkey"), numSalts,
          ("sum", "qty_dec", "s"), ("count", "", "n"))
        .orderBy("l_returnflag").collect()
      val plain = li.groupBy("l_returnflag")
        .agg(sum(col("qty_dec")).as("s"), count(lit(1)).as("n"))
        .orderBy("l_returnflag").collect()
      assert(salted.map(r => (r.getString(0), r.getDecimal(1).toString, r.getLong(2))).toSeq ==
        plain.map(r => (r.getString(0), r.getDecimal(1).toString, r.getLong(2))).toSeq)
    }
  }

  test("salted join ≡ plain join for any salt count (left + inner)") {
    forAllSampled(Gen.choose(1, 12), n = 3) { numSalts =>
      val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      Seq("left", "inner").foreach { jt =>
        val salted = Salting.saltedJoin(orders, customer, "o_custkey",
            "c_custkey", col("o_orderkey"), numSalts, jt)
          .select("o_orderkey", "c_name")
          .collect().map(r => (r.getLong(0), Option(r.getString(1)))).sorted
        val plain = orders.join(customer,
            orders("o_custkey") === customer("c_custkey"), jt)
          .select("o_orderkey", "c_name")
          .collect().map(r => (r.getLong(0), Option(r.getString(1)))).sorted
        assert(salted.toSeq == plain.toSeq, s"joinType=$jt salts=$numSalts")
      }
    }
  }

  test("split membership is total, stable, and respects percentages") {
    forAllSampled(Gen.choose(1, 30), n = 3) { valPct =>
      val s = spark
      import s.implicits._
      val ids = (1L to 500L).toDF("id")
      val out = graft.operators.Sampling.withSplit(ids, "id", valPct, 10)
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(out.length == 500) // total: every row labeled
      assert(out.forall { case (_, sp) => Set("train", "val", "test")(sp) })
      // membership depends only on the id, never on which subset ran
      val half = graft.operators.Sampling
        .withSplit(ids.filter(col("id") <= 250), "id", valPct, 10)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      out.filter(_._1 <= 250).foreach { case (id, sp) =>
        assert(half(id) == sp)
      }
    }
  }

  test("context packing tiles any token sequence without gaps") {
    forAllSampled(Gen.listOfN(20, Gen.choose(0L, 700L)), n = 3) { tokens =>
      val s = spark
      import s.implicits._
      val docs = tokens.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "n_tokens")
      val out = graft.operators.Sampling
        .packContexts(docs, "doc_id", "n_tokens", 256)
        .orderBy("doc_id").collect()
      var expectStart = 0L
      out.foreach { r =>
        assert(r.getAs[Long]("tok_start") == expectStart) // gap-free tiling
        expectStart = r.getAs[Long]("tok_end")
        val (cf, cl) = (r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last"))
        assert(cf <= cl)
        // a doc straddles exactly the chunks its span overlaps
        assert(cf == r.getAs[Long]("tok_start") / 256)
      }
      assert(expectStart == tokens.sum)
    }
  }

  test("jaccard on any doc pair is within (0, 1] and symmetric in construction") {
    forAllSampled(Gen.listOfN(6, Gen.nonEmptyListOf(word).map(_.mkString(" "))), n = 3) { texts =>
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val ids = texts.indices.map(_.toLong)
      val pairs = (for (a <- ids; b <- ids if a < b) yield (a, b))
        .toDF("doc_a", "doc_b")
      val j = Dedup.ngramJaccardForPairs(docs, pairs, "doc_id", "text", 2)
        .collect()
      j.foreach { r =>
        val v = r.getDouble(3)
        assert(v > 0.0 && v <= 1.0)
        assert(r.getLong(0) < r.getLong(1))
      }
    }
  }

  test("decontamination ≡ brute-force shingle intersection on random corpora") {
    val textGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    forAllSampled(Gen.listOfN(10, textGen), n = 3) { texts =>
      val s = spark
      import s.implicits._
      def shingles(t: String): Set[String] =
        t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val (bench, corpus) = docs.partition(_._1 % 3 == 0)
      val benchSh = bench.flatMap(d => shingles(d._2)).toSet
      val expected = corpus.map { case (id, t) =>
        id -> (shingles(t) intersect benchSh).size.toLong
      }.toMap
      val got = graft.operators.Decontam.contaminationReport(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          "doc_id", "text", k = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
      got.foreach { case (id, hits) =>
        assert((hits > 0) === (expected(id) > 0))
      }
    }
  }

  test("bounded_min_set ≡ slice(sort_array(collect_set)) for any longs/strings/k") {
    import org.apache.spark.sql.graft.Bridge
    val rowsGen: Gen[(List[Long], Int)] = for {
      // duplicates and negatives on purpose; sizes straddle k
      vs <- Gen.nonEmptyListOf(Gen.choose(-50L, 50L))
      k <- Gen.choose(1, 12)
    } yield (vs, k)
    forAllSampled(rowsGen, n = 8) { case (vs, k) =>
      val s = spark
      import s.implicits._
      // two groups with interleaved members, odd partitioning to force
      // partial-state merges
      val df = vs.zipWithIndex
        .map { case (v, i) => (i % 2, v, s"s$v") }
        .toDF("g", "v", "sv").repartition(5)
      def bounded(c: String) = Bridge.column(
        graft.functions.BoundedMinSetAgg(
          Bridge.expression(col(c)), k).toAggregateExpression())
      val got = df.groupBy("g").agg(
        bounded("v").as("bl"), bounded("sv").as("bs"),
        slice(sort_array(collect_set(col("v"))), 1, k).as("el"),
        slice(sort_array(collect_set(col("sv"))), 1, k).as("es"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](3),
          s"long mismatch for k=$k vs=$vs")
        assert(r.getSeq[String](2) == r.getSeq[String](4),
          s"string mismatch for k=$k vs=$vs")
      }
    }
  }

  test("bpe merge census ≡ brute-force pair counting on random corpora") {
    import graft.functions.BpeTokenizer
    val textGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n,
        Gen.oneOf("banana", "data", "start", "xq", "the", "anna"))
        .map(_.mkString(" ")))
    forAllSampled(Gen.listOfN(8, textGen), n = 3) { texts =>
      val s = spark
      import s.implicits._
      val expected = texts
        .flatMap(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
        .flatMap(w => BpeTokenizer.encodeWord(w).toSeq.sliding(2)
          .filter(_.length == 2).map(p => (p(0), p(1))))
        .groupBy(identity).map { case (p, occ) => p -> occ.length.toLong }
      val got = graft.operators.TextAnalysis.bpeMergeCensus(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("doc_id", "text"),
          "text", n = 1000) // n above every distinct pair: full census
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got === expected)
    }
  }

  test("oov stats ≡ brute-force counting under the deterministic vocab cut") {
    val textGen = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
        .map(_.mkString(" ")))
    forAllSampled(Gen.listOfN(10, textGen), n = 3) { texts =>
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def toks(t: String): Seq[String] =
        t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").toSeq
          .filter(_.nonEmpty)
      val n = 3
      val vocab = docs.flatMap(d => toks(d._2))
        .groupBy(identity).map { case (w, o) => (w, o.length) }.toSeq
        .sortBy { case (w, c) => (-c, w) }.take(n).map(_._1).toSet
      val expected = docs.map { case (id, t) =>
        val ts = toks(t)
        id -> (ts.length.toLong, ts.count(!vocab(_)).toLong)
      }.toMap
      val df = docs.toDF("doc_id", "text")
      val got = graft.operators.TextAnalysis.oovStats(df, "doc_id", "text",
          graft.operators.TextAnalysis.vocabTopN(df, "text", n))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === expected)
    }
  }

  test("canonical election: total ledger, one max-token canon per cluster, for any labeling") {
    val caseGen: Gen[(List[Int], List[(Int, Int)])] = for {
      nDocs <- Gen.choose(1, 12)
      lens <- Gen.listOfN(nDocs, Gen.choose(0, 6)) // token counts
      labeled <- Gen.someOf(0 until nDocs)
      lbls <- Gen.listOfN(labeled.size, Gen.choose(0, 3))
    } yield (lens, labeled.toList.zip(lbls))
    forAllSampled(caseGen, n = 5) { case (lens, labeling) =>
      val s = spark
      import s.implicits._
      val docs = lens.zipWithIndex
        .map { case (l, i) => (i.toLong, Seq.fill(l)("w").mkString(" ")) }
      // labels must honor the dupClusters contract: a cluster's id is
      // the MIN MEMBER id (so a label can never collide with an
      // unlabeled doc's singleton id) — normalize the random grouping
      val labels = labeling.groupBy(_._2).values.toList.flatMap { grp =>
        val ids = grp.map(_._1.toLong)
        ids.map(i => (i, ids.min))
      }
      val out = graft.operators.Dedup.electCanonical(
          docs.toDF("doc_id", "text"),
          labels.toDF("doc_id", "cluster_id"), "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3), r.getLong(4)))
      // total ledger: every doc exactly once
      assert(out.map(_._1).sorted.toSeq == docs.map(_._1).sorted)
      val byCluster = out.groupBy(_._2)
      byCluster.foreach { case (c, members) =>
        val canons = members.filter(_._4)
        assert(canons.length == 1, s"cluster $c canon count")
        val canon = canons.head
        // keep-longest then smallest id, against the members' own data
        val best = members.minBy(m => (-m._5, m._1))
        assert(canon._1 == best._1, s"cluster $c elected ${canon._1}")
        assert(members.forall(_._3 == canon._1))
      }
      // unlabeled docs are singleton self-canons
      val labeledIds = labeling.map(_._1.toLong).toSet
      out.filter(r => !labeledIds(r._1)).foreach { r =>
        assert(r._2 == r._1 && r._3 == r._1 && r._4)
      }
    }
  }

  test("split repair: post-repair groups are single-split, ledger ⊆ mixed groups, idempotent") {
    val caseGen: Gen[List[(Long, String)]] = for {
      nTexts <- Gen.choose(1, 5)
      texts <- Gen.listOfN(nTexts, word)
      assigns <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 400L),
        Gen.oneOf(texts)))
    } yield assigns.distinctBy(_._1)
    forAllSampled(caseGen, n = 5) { docsList =>
      val s = spark
      import s.implicits._
      val docs = docsList.toDF("doc_id", "text")
      val ledger = graft.operators.Sampling
        .repairSplitLeakage(docs, "doc_id", "text", 20, 20)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val splitOf = docs
        .withColumn("split",
          graft.operators.Sampling.splitOf(col("doc_id"), 20, 20))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      val moves = ledger.map(m => m._1 -> m._3).toMap
      // every ledger row records the doc's true old split and changes it
      ledger.foreach { case (id, old, nw) =>
        assert(splitOf(id) == old && old != nw)
      }
      // post-repair: each text group sits on exactly one split, and the
      // group's min-id member was never moved (the leader anchors)
      docsList.groupBy(_._2).foreach { case (_, grp) =>
        val post = grp.map { case (id, _) => moves.getOrElse(id, splitOf(id)) }
        assert(post.distinct.length == 1)
        assert(!moves.contains(grp.map(_._1).min))
      }
      // docs in single-split groups never appear in the ledger
      val mixed = docsList.groupBy(_._2).values
        .filter(g => g.map(x => splitOf(x._1)).distinct.length > 1)
        .flatMap(_.map(_._1)).toSet
      assert(ledger.forall(m => mixed(m._1)))
    }
  }

  test("weighted sample: size = min(n, eligible), members maximize the A-ES key") {
    val caseGen: Gen[List[(Long, Long)]] = Gen
      .nonEmptyListOf(Gen.zip(Gen.choose(1L, 500L), Gen.choose(0L, 9L)))
      .map(_.distinctBy(_._1))
    forAllSampled(caseGen, n = 5) { rows =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("doc_id", "w")
      val n = 4
      val got = graft.operators.Sampling.weightedSample(df, "doc_id", "w", n)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val eligible = rows.filter(_._2 > 0)
      assert(got.length == math.min(n, eligible.length))
      assert(got.map(_._1).toSeq == (1 to got.length), "ranks dense from 1")
      // selected set = brute-force top-n by the exact same key
      val md = java.security.MessageDigest.getInstance("MD5")
      def key(id: Long, w: Long): Double = {
        val h = java.lang.Long.parseLong(md.digest(
          id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16)
        math.log((h + 1L).toDouble / 1152921504606846976L.toDouble) / w
      }
      val expect = eligible.map { case (id, w) => (key(id, w), id, w) }
        .sortBy { case (k, id, _) => (-k, id) }.take(n)
        .map(x => (x._2, x._3)).toSet
      assert(got.map(x => (x._2, x._3)).toSet == expect)
    }
  }

  test("hot-span cluster invariants hold on random duplicated corpora") {
    // random corpora where a shared phrase is stamped into a random
    // subset of docs, surrounded by per-doc filler — the planted span
    // must surface as one cluster whenever its df clears minDf, and
    // the structural invariants must hold regardless
    val caseGen: Gen[(Seq[String], Int)] = for {
      phraseLen <- Gen.choose(6, 12)
      phrase <- Gen.listOfN(phraseLen, word).map(_.mkString(" "))
      nDocs <- Gen.choose(4, 8)
      carriers <- Gen.choose(3, nDocs)
    } yield {
      val docs = (0 until nDocs).map { i =>
        val filler = (1 to 3).map(j => s"f${i}x$j").mkString(" ")
        if (i < carriers) s"$filler $phrase end$i" else s"$filler only$i"
      }
      (docs, carriers)
    }
    forAllSampled(caseGen, n = 5) { case (texts, carriers) =>
      val s = spark
      import s.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val k = 3
      val minSpan = 5
      val out = Dedup.hotSpanClusters(df, "doc_id", "text",
          k = k, minSpan = minSpan, minDf = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5)))
      // (1) exactly one keeper per cluster, and n_copies is the
      //     cluster's true row count
      out.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.count(_._6) == 1, "keeper count != 1")
        assert(rows.forall(_._5 == rows.length), "n_copies wrong")
        val keeper = rows.filter(_._6).head
        val minRow = rows.map(r => (r._2, r._3)).min
        assert((keeper._2, keeper._3) == minRow, "keeper not smallest")
      }
      // (2) runs never overlap within a doc and fit inside it
      out.groupBy(_._2).foreach { case (id, rows) =>
        val spans = rows.map(r => (r._3, r._3 + r._4 - 1)).sortBy(_._1).toSeq
        spans.sliding(2).foreach { w =>
          if (w.length == 2) assert(w(1)._1 > w(0)._2, "overlap")
        }
        val nWords = texts(id.toInt).split("\\s+").length
        assert(spans.forall(_._2 <= nWords), "span past doc end")
      }
      // (3) the planted phrase (interior >= minSpan words, df =
      //     carriers >= 3) produces a cluster spanning all carriers
      val clustersBySize = out.groupBy(_._1).values.map(_.length)
      assert(clustersBySize.exists(_ == carriers),
        s"no cluster covers all $carriers carriers: $out")
    }
  }

  test("phrase search ≡ brute-force position scan on random corpora") {
    // the anchor trick's subtle case is a phrase with REPEATED terms
    // (each hit token fans to several offsets); a tiny alphabet makes
    // repeats and overlapping occurrences common, and the reference
    // is the definition itself: count the start positions whose
    // window equals the phrase
    val s = spark
    import s.implicits._
    val docGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c"))
      .map(_.mkString(" "))
    val phraseGen = Gen.choose(2, 3)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    forAllSampled(Gen.zip(Gen.nonEmptyListOf(docGen), phraseGen)) {
      case (texts, phrase) =>
        val df = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val got = graft.operators.Search.phraseSearch(df, "doc_id",
            "text", phrase, topN = 1000)
          .collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occurrences"))
          .toMap
        val want = texts.zipWithIndex.flatMap { case (t, i) =>
          val w = t.split(" ").toSeq
          val n = w.indices.count(p =>
            p + phrase.size <= w.size && w.slice(p, p + phrase.size) == phrase)
          if (n > 0) Some(i.toLong -> n.toLong) else None
        }.toMap
        assert(got == want, s"phrase=$phrase: $got vs $want on $texts")
    }
  }

  test("calibrated roundtrip: dequant stays in-window, error bounded by step") {
    // for any corpus and any permille pair: dq ∈ [lo, hi] always, and
    // for UNCLIPPED values |x − dq| < step where step = the affine
    // cell width ceil((hi−lo)/255) — the quantization-error contract
    // a 256-level scheme must honor
    val s = spark
    import s.implicits._
    val vecGen = Gen.listOfN(2, Gen.choose(-100, 100))
      .map(_.map(_.toFloat).toArray)
    forAllSampled(Gen.nonEmptyListOf(vecGen), n = 3) { vecs =>
      val e = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val bounds = graft.operators.Quantize.calibrationBounds(e,
        "vec_id", "embedding", 100, 900)
      val b = bounds.orderBy("d").collect()
        .map(r => (r.getAs[Long]("p_lo"), r.getAs[Long]("p_hi")))
      val codes = graft.operators.Quantize.calibratedCodes(e, "vec_id",
          "embedding", bounds)
        .orderBy("vec_id").collect()
        .map(_.getSeq[Long](1))
      vecs.zip(codes).foreach { case (v, cs) =>
        v.zip(cs).zip(b).foreach { case ((x, c), (lo, hi)) =>
          assert(c >= 0 && c <= 255, s"code $c out of 8-bit range")
          val dq = if (hi > lo) lo + c * (hi - lo) / 255 else lo
          assert(dq >= lo && dq <= hi, s"dequant $dq outside [$lo, $hi]")
          val xg = math.floor(x * 1e6).toLong
          if (xg >= lo && xg <= hi && hi > lo) {
            val step = (hi - lo + 254) / 255
            assert(math.abs(xg - dq) <= step,
              s"|$xg - $dq| > step $step in [$lo, $hi]")
          }
        }
      }
    }
  }

  test("ledger algebra: retract inverts merge; merge is cut-invariant") {
    // the sufficient-statistics group law the whole O(new)/purge
    // family leans on, on RANDOM ledgers: merging a delta then
    // retracting it restores the prior's sums on every key (keys the
    // delta introduced survive as explicit zeros — the full-outer
    // spine never drops a key), and any 2-cut of a row set merges to
    // the full aggregation
    val s = spark
    import s.implicits._
    val rowGen: Gen[(Long, Long, Long)] = for {
      k <- Gen.choose(0L, 6L)
      a <- Gen.choose(-50L, 50L)
      b <- Gen.choose(0L, 100L)
    } yield (k, a, b)
    forAllSampled(Gen.zip(Gen.nonEmptyListOf(rowGen),
        Gen.nonEmptyListOf(rowGen))) { case (p, d) =>
      def ledger(rows: Seq[(Long, Long, Long)]) =
        rows.toDF("k", "s1", "s2").groupBy("k")
          .agg(sum("s1").as("s1"), sum("s2").as("s2"))
      val prior = ledger(p)
      val delta = ledger(d)
      val back = graft.operators.Ledger.retract(
          graft.operators.Ledger.merge(prior, delta, "k", Seq("s1", "s2")),
          delta, "k", Seq("s1", "s2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = prior.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ++
        (d.map(_._1).toSet -- p.map(_._1).toSet).map(k => (k, 0L, 0L))
      assert(back == want, s"retract∘merge ≠ prior: $back vs $want")

      val cut = p.zipWithIndex
      val merged = graft.operators.Ledger.merge(
          ledger(cut.filter(_._2 % 2 == 0).map(_._1)),
          ledger(cut.filter(_._2 % 2 == 1).map(_._1)),
          "k", Seq("s1", "s2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val full = prior.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // an all-even or all-odd cut leaves one side empty → keys only
      // on the populated side; zero-fill the absent-side keys
      val fullKeys = p.map(_._1).toSet
      val evenKeys = cut.filter(_._2 % 2 == 0).map(_._1._1).toSet
      val oddKeys = cut.filter(_._2 % 2 == 1).map(_._1._1).toSet
      assert(evenKeys ++ oddKeys == fullKeys)
      assert(merged == full, s"cut merge ≠ full: $merged vs $full")
    }
  }

  test("compactLatest ≡ driver-side max-segment election on random restatement tables") {
    // random (id, seg) tables with unique pairs: the compacted table
    // must hold exactly each id's max-seg row, whatever the segment
    // layout — the q237 election as an algebraic property
    val s = spark
    import s.implicits._
    val tableGen: Gen[Seq[(Long, Int)]] = for {
      nIds <- Gen.choose(1, 20)
      rows <- Gen.sequence[Seq[(Long, Int)], (Long, Int)](
        (1 to nIds).map(id => Gen.choose(0, 4).flatMap(top =>
          Gen.const((id.toLong, top)))))
    } yield rows.flatMap { case (id, top) =>
      (0 to top).map(seg => (id, seg))
    }
    forAllSampled(tableGen, n = 4) { rows =>
      val df = rows.map { case (id, seg) => (id, seg, id % 3, s"p$id-$seg") }
        .toDF("id", "seg", "cell", "payload")
      val got = graft.operators.Layout
        .compactLatest(df, "id", "seg", "cell", 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
        .toSeq.sorted
      val want = rows.groupBy(_._1).map { case (id, rs) =>
        val top = rs.map(_._2).max
        (id, top, s"p$id-$top")
      }.toSeq.sorted
      assert(got == want, s"election diverged: $got vs $want")
    }
  }

  test("rrfFuse is input-order invariant and monotone in list membership") {
    val s = spark
    import s.implicits._
    val rankingGen: Gen[Seq[(Long, Int)]] = Gen.choose(1, 8).flatMap(n =>
      Gen.pick(n, 1L to 20L).map(ids =>
        ids.toSeq.zipWithIndex.map { case (id, i) => (id, i + 1) }))
    forAllSampled(Gen.zip(rankingGen, rankingGen), n = 4) { case (ra, rb) =>
      val a = ra.toDF("id", "rnk")
      val b = rb.toDF("id", "rnk")
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSeq
      val ab = rows(graft.operators.Search.rrfFuse(Seq(a, b), "id", 60, 50))
      val ba = rows(graft.operators.Search.rrfFuse(Seq(b, a), "id", 60, 50))
      assert(ab == ba, "fusion depends on input list order")
      // membership monotonicity: every two-list doc scores strictly
      // above what either of its single-list contributions alone gives
      val inBoth = ra.map(_._1).toSet.intersect(rb.map(_._1).toSet)
      val aOnly = rows(graft.operators.Search.rrfFuse(Seq(a), "id", 60, 50))
        .map(t => t._1 -> t._2).toMap
      ab.filter(t => inBoth(t._1)).foreach { t =>
        assert(t._3 == 2L, s"doc ${t._1} in both lists reported n_lists=${t._3}")
        assert(t._2 > aOnly.getOrElse(t._1, 0L),
          s"fused score not monotone for doc ${t._1}")
      }
    }
  }
}
