package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("inverted index: df/cf consistent, postings sorted and capped") {
    val idx = Search.invertedIndex(docs, "doc_id", "text", maxPostings = 10)
      .collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val (df, cf) = (r.getAs[Long]("df"), r.getAs[Long]("cf"))
      val postings = r.getSeq[Long](r.fieldIndex("postings"))
      assert(cf >= df, s"cf < df for ${r.getString(0)}")
      assert(postings.length == math.min(10L, df))
      assert(postings == postings.sorted)
      assert(postings.distinct == postings)
    }
  }

  test("incremental index ≡ full recompute, for any split; stored side never shuffles") {
    val full = Search.invertedIndex(docs, "doc_id", "text", maxPostings = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toMap
    Seq(2L, 3L, 7L).foreach { mod =>
      val history = docs.filter(col("doc_id") % mod > 0)
      val batch = docs.filter(col("doc_id") % mod === 0)
      val inc = Search.incrementalIndex(
        Search.invertedIndex(history, "doc_id", "text", maxPostings = 5),
        batch, "doc_id", "text", maxPostings = 5)
      // the stored index must reach the merge through broadcast joins
      // only — no SortMergeJoin, no exchange keyed on the stored side
      val plan = inc.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"mod=$mod stored-side shuffle crept in:\n$plan")
      val got = inc.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toMap
      assert(got == full, s"mod=$mod incremental index diverged")
    }
  }

  test("incremental index: disjoint batch vocab appends, empty batch passes through") {
    val s = spark
    import s.implicits._
    val stored = Search.invertedIndex(
      Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text"),
      "doc_id", "text", maxPostings = 5)
    val out = Search.incrementalIndex(stored,
        Seq((9L, "gamma delta")).toDF("doc_id", "text"),
        "doc_id", "text", maxPostings = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("alpha" -> 2L, "beta" -> 1L, "gamma" -> 1L,
      "delta" -> 1L))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val pass = Search.incrementalIndex(stored, empty, "doc_id", "text", 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pass == Map("alpha" -> 2L, "beta" -> 1L))
  }

  test("inverted index: non-BIGINT ids keep working via the fallback path") {
    // INT ids take the collect_set+slice fallback (documented:
    // unbounded buffer — cast to BIGINT/STRING for the bounded path);
    // results must match the native-path index modulo the id type
    val intDocs = docs.withColumn("doc_id", col("doc_id").cast("int"))
    val viaInt = Search.invertedIndex(intDocs, "doc_id", "text", maxPostings = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("df"), r.getAs[Long]("cf"),
          r.getSeq[Int](r.fieldIndex("postings")).map(_.toLong)))).toMap
    val viaLong = Search.invertedIndex(docs, "doc_id", "text", maxPostings = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("df"), r.getAs[Long]("cf"),
          r.getSeq[Long](r.fieldIndex("postings"))))).toMap
    assert(viaInt == viaLong)
  }

  test("conjunctive search: every hit contains all terms") {
    val terms = Seq("spark", "vector")
    val hits = Search.conjunctiveSearch(docs, "doc_id", "text", terms, 1000)
      .collect()
    assert(hits.nonEmpty)
    val hitIds = hits.map(_.getAs[Long]("doc_id")).toSet
    val all = docs.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet)
      .toMap
    all.foreach { case (id, words) =>
      val shouldHit = terms.forall(words.contains)
      assert(hitIds.contains(id) == shouldHit,
        s"doc $id: expected hit=$shouldHit")
    }
  }

  test("conjunctive search: tf_total equals the summed term occurrences") {
    val hits = Search.conjunctiveSearch(docs, "doc_id", "text",
      Seq("spark", "vector"), 5).collect()
    val byId = docs.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1))
      .toMap
    hits.foreach { r =>
      val words = byId(r.getAs[Long]("doc_id"))
      val expect = words.count(_ == "spark") + words.count(_ == "vector")
      assert(r.getAs[Long]("tf_total") == expect)
    }
  }

  test("conjunctive search filters the token stream below the exchange") {
    // the Filter on the query terms must sit under the first shuffle:
    // look for isin on the generated side of the plan, and the plan's
    // exchanges must come AFTER generation+filter (no filter above a
    // shuffle of raw tokens)
    val plan = Search.conjunctiveSearch(docs, "doc_id", "text",
      Seq("spark", "vector"), 5).queryExecution.executedPlan.toString
    val filterIdx = plan.indexOf("spark")
    assert(filterIdx >= 0, plan)
    assert(plan.contains("Generate explode"), plan)
  }

  test("phrase search: overlapping + repeated-term occurrences, order sensitivity") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b a b a"),      // "a b a" at pos 0 AND 2 (overlap counts)
      (2L, "a b c a b a"),    // one occurrence at pos 3
      (3L, "b a a b"),        // terms present, order wrong — no hit
      (4L, "a b")             // too short for the trigram
    ).toDF("doc_id", "text")
    val got = Search.phraseSearch(df, "doc_id", "text",
        Seq("a", "b", "a"), topN = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_occurrences"))).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L),
      s"phrase hits wrong: $got")
  }

  test("phrase search filters the token stream below the exchange") {
    // the q93 discipline carried over: the isin filter on the phrase
    // terms must appear in the plan on the generated token side, and
    // the offset fan is an in-row literal map lookup (element_at),
    // not a join
    val plan = Search.phraseSearch(docs, "doc_id", "text",
      Seq("order", "big", "order"), 25).queryExecution.executedPlan.toString
    assert(plan.contains("order"), plan)
    assert(plan.contains("Generate posexplode"), plan)
    assert(!plan.contains("SortMergeJoin"),
      "the offset fan must not plan a join")
  }

  test("inverted-index purge: passthrough, vanish, re-election ≡ rebuild") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc dd"))
      .toDF("doc_id", "text")
    val postings = Search.positionalIndex(df, "doc_id", "text")
    val stored = Search.indexFromPostings(postings, "doc_id", 20)
    val purged = Search.purgeInvertedIndex(stored, postings,
      Seq(3L).toDF("doc_id"), "doc_id", 20)
    // full equality with a rebuild over the survivors
    val rebuilt = Search.invertedIndex(
      df.filter(col("doc_id") =!= 3L), "doc_id", "text", 20)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("token"), col("df"), col("cf"),
        to_json(col("postings"))).orderBy("token").collect().toSeq
    assert(rows(purged) == rows(rebuilt),
      "purged index diverged from survivor rebuild")
    val byTok = rows(purged).map(r => r.getString(0) -> r).toMap
    // untouched token: bit-identical to the STORED row (no re-election)
    assert(byTok("aa") == rows(stored).find(_.getString(0) == "aa").get,
      "untouched token did not pass through bit-identical")
    // affected token: doc 3 left cc's postings, df/cf shrank
    assert(byTok("cc").getLong(1) == 1L &&
      byTok("cc").getString(3) == "[2]", s"cc re-election: ${byTok("cc")}")
    // a token living only in the deleted doc vanishes
    assert(!byTok.contains("dd"), "dead token survived the purge")
  }

  test("bm25: hand-checked score, rare-term match outranks common-term match") {
    val s = spark
    import s.implicits._
    // 4 docs, equal length 4: "rare" appears in 1 doc, "common" in 3.
    // Doc 1 matches the rare term, docs 2-4 the common one — BM25 must
    // rank doc 1 first on idf alone (tf and dl identical).
    val docs = Seq(
      (1L, "rare aaa bbb ccc"),
      (2L, "common aaa bbb ccc"),
      (3L, "common ddd eee fff"),
      (4L, "common ggg hhh iii")).toDF("doc_id", "text")
    val out = Search.bm25Search(docs, "doc_id", "text",
      Seq("rare", "common"), topN = 10).orderBy("rnk").collect()
    assert(out.length == 4)
    assert(out.head.getLong(0) == 1L, out.mkString("\n"))
    // exact value: idf = ln(1 + (4 - 1 + 0.5)/1.5), tf = 1, dl = avgdl
    // -> part = idf * 2.2 / (1 + 1.2)
    val expect = BigDecimal(math.log(1.0 + 3.5 / 1.5) * 2.2 / 2.2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out.head.getDouble(1) - expect) < 1e-9, out.head)
    // every score positive, ranks contiguous
    assert(out.forall(_.getDouble(1) > 0))
    assert(out.map(_.getInt(3)).toSeq == (1 to 4))
  }

  test("rrfFuse: hand-checked micro contributions; both-list docs outrank") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rnk")
    val b = Seq((2L, 1), (4L, 2)).toDF("id", "rnk")
    val got = Search.rrfFuse(Seq(a, b), "id", kRrf = 60, topN = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    // 10⁶ DIV 61 = 16393, DIV 62 = 16129, DIV 63 = 15873; doc 2 sits
    // in both lists (61 + 62) and must fuse above every single-list doc
    assert(got == Seq(
      (2L, 32522L, 2L, 1), (1L, 16393L, 1L, 2),
      (4L, 16129L, 1L, 3), (3L, 15873L, 1L, 4)), got.mkString(", "))
    // topN truncates the fused list, not the inputs
    val top2 = Search.rrfFuse(Seq(a, b), "id", 60, 2).collect()
    assert(top2.length == 2 && top2.map(_.getLong(0)).toSeq == Seq(2L, 1L))
  }

  test("rrfFuseBy: one keyed pass ≡ rrfFuse per group; absent-group lists contribute nothing") {
    val s = spark
    import s.implicits._
    // two query groups with different winners: text list fans across
    // both, vector list differs per group (the q328 shape)
    val text = Seq((10L, 1L, 1), (10L, 2L, 2), (11L, 1L, 1),
      (11L, 2L, 2)).toDF("q_id", "id", "rnk")
    val vec = Seq((10L, 2L, 1), (10L, 4L, 2), (11L, 5L, 1))
      .toDF("q_id", "id", "rnk")
    val fused = Search.rrfFuseBy(Seq(text, vec), Seq("q_id"), "id",
        kRrf = 60, topN = 10)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSeq
    // ≡ the single-group verb run per q_id on the sliced lists
    val perGroup = Seq(10L, 11L).flatMap { q =>
      Search.rrfFuse(
          Seq(text.filter(col("q_id") === q).drop("q_id"),
            vec.filter(col("q_id") === q).drop("q_id")),
          "id", kRrf = 60, topN = 10)
        .collect()
        .map(r => (q, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3)))
    }
    assert(fused == perGroup,
      s"keyed fusion diverged from per-group rrfFuse:\n$fused\nvs\n$perGroup")
    // group 11 has no vector rows for id 2 — it stays single-list
    assert(fused.exists { case (q, id, _, n, _) =>
      q == 11L && id == 2L && n == 1L })
    // group 10's both-list doc outranks every single-list doc
    assert(fused.collect {
      case (10L, id, _, _, rnk) if rnk == 1 => id }.head == 2L)
  }

  test("bestSnippet: hit-anchored window, earliest tie wins, tail clamps") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "x spark y z spark vector q q"),
      (2L, "vector a b c d e f g h spark")
    ).toDF("doc_id", "text")
    val out = Search.bestSnippet(docs, "doc_id", "text",
        Seq("spark", "vector"), windowTokens = 8, topN = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getInt(4)))
      .sortBy(_._1)
    // doc 1: anchors at 1 (3 hits in [1,8]) and 4/5 (2/1) — window
    // from 1 wins and clamps at the text tail (7 tokens, not 8)
    assert(out(0) == (1L, 1L, 3L, "spark y z spark vector q q", 1),
      out(0).toString)
    // doc 2: anchors at 0 and 9 tie at 1 hit — earliest start wins;
    // the window is exactly 8 tokens (indices 0..7)
    assert(out(1) == (2L, 0L, 1L, "vector a b c d e f g", 2),
      out(1).toString)
  }

  test("moreLikeThis: query doc excluded; terms derive from its tf-idf") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple apple banana"),
      (3L, "cherry zebra cherry"),
      (4L, "banana plum")
    ).toDF("doc_id", "text")
    val out = Search.moreLikeThis(docs, "doc_id", "text", queryId = 1L,
        nTerms = 2, topN = 10)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSeq
    // the query doc itself must never be served
    assert(!out.exists(_._1 == 1L), out.mkString(", "))
    // doc 2 carries BOTH derived terms (apple, banana) and must lead;
    // doc 3 carries neither and must be absent
    assert(out.head._1 == 2L, out.mkString(", "))
    assert(!out.exists(_._1 == 3L), out.mkString(", "))
    assert(out.exists(_._1 == 4L), out.mkString(", "))
  }

  test("tombstone-masked bm25 ≡ index rebuilt without the dead docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
        (1L, "stream stream window filler filler"),
        (2L, "stream merge"),
        (3L, "window window stream merge merge"),
        (4L, "nothing relevant at all"),
        (5L, "merge window stream")).toDF("doc_id", "text")
    val postings = Search.positionalIndex(docs, "doc_id", "text")
    val tf = Search.termFrequencies(postings, "doc_id")
    val dl = Search.docLengths(docs, "doc_id", "text")
    val stats = Search.corpusStats(dl)
    val tombs = Seq(3L, 4L).toDF("doc_id")
    val masked = Search.bm25SearchMasked(tf, dl, stats, tombs,
        "doc_id", Seq("stream", "window", "merge"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getInt(3))).toSeq
    // dead docs never surface, and every surviving score/rank equals
    // the search over an index that never contained them (globals,
    // df, everything) — bit-for-bit
    assert(!masked.exists(r => r._1 == 3L || r._1 == 4L),
      s"a tombstoned doc was served: $masked")
    val live = docs.filter(!col("doc_id").isin(3L, 4L))
    val rebuilt = Search.bm25Search(live, "doc_id", "text",
        Seq("stream", "window", "merge"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getInt(3))).toSeq
    assert(masked == rebuilt,
      s"masked serving diverged from the purged rebuild: $masked vs $rebuilt")
    // phrase masking is pure composition: the same anti-join on the
    // stored postings hides the dead doc's occurrences
    val phraseMasked = Search.phraseSearchIndexed(
        postings.join(broadcast(tombs), Seq("doc_id"), "left_anti"),
        "doc_id", Seq("stream", "merge"), topN = 10)
      .collect().map(_.getLong(0)).toSet
    // docs 2 and 3 contain adjacent "stream merge"; 3 is tombstoned
    // (doc 5's terms are non-adjacent — never a phrase hit)
    assert(phraseMasked == Set(2L), s"phrase mask wrong: $phraseMasked")
  }

  test("masked bm25: all docs tombstoned is empty; a stale stats ledger fails loudly, not null scores") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "stream merge"), (2L, "stream window"))
      .toDF("doc_id", "text")
    val postings = Search.positionalIndex(docs, "doc_id", "text")
    val tf = Search.termFrequencies(postings, "doc_id")
    val dl = Search.docLengths(docs, "doc_id", "text")
    val stats = Search.corpusStats(dl)
    // every doc tombstoned: every surviving posting is dead, so the
    // result is structurally EMPTY — never a null-scored row
    val all = Seq(1L, 2L).toDF("doc_id")
    assert(Search.bm25SearchMasked(tf, dl, stats, all, "doc_id",
      Seq("stream"), topN = 10).isEmpty)
    // the guard's real target: a STALE stored ledger under-counting
    // the corpus (n_docs = 1 while dl holds 2) makes the corrected
    // count hit zero WHILE live rows still flow — 0/0 avgdl would
    // propagate null scores; it must raise instead
    val stale = Seq((1L, 4L)).toDF("n_docs", "sum_dl")
    val e = intercept[IllegalStateException] {
      Search.bm25SearchMasked(tf, dl, stale, Seq(1L).toDF("doc_id"),
        "doc_id", Seq("stream"), topN = 10)
    }
    assert(e.getMessage.contains("stale stats ledger"),
      s"wrong failure: ${e.getMessage}")
    // and the guard is PLAN-INDEPENDENT: with AQE off (no
    // empty-relation propagation to hide the stats branch) the
    // all-tombstoned serve is still structurally empty, not a raise
    withConf("spark.sql.adaptive.enabled" -> "false") {
      assert(Search.bm25SearchMasked(tf, dl, stats, all, "doc_id",
        Seq("stream"), topN = 10).isEmpty)
    }
  }
}
