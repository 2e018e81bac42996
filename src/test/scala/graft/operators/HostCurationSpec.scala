package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Host-level curation (q114): URL host extraction edge cases, the
  * blocklist anti-join's no-amplification property, the per-host quota
  * bound, and the plan shape (WindowGroupLimit prune, broadcast
  * anti-join, no corpus-wide sort).
  */
class HostCurationSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def hostOf(url: String): String = {
    import spark.implicits._
    Seq(url).toDF("u").select(Curation.extractHost(col("u"))).head().getString(0)
  }

  test("extractHost strips scheme, userinfo, port, path, query, case") {
    assert(hostOf("https://example.com/path?q=1") == "example.com")
    assert(hostOf("http://user:pw@Example.COM:8080/x#f") == "example.com")
    assert(hostOf("ftp://archive.EXAMPLE.org") == "archive.example.org")
    assert(hostOf("https://192.168.0.1:443/admin") == "192.168.0.1")
    assert(hostOf("x+y-z://host.tld") == "host.tld")
    // scheme-less / malformed -> empty-string bucket, not a silent drop
    assert(hostOf("example.com/no-scheme") == "")
    assert(hostOf("not a url") == "")
  }

  private def corpus: DataFrame = {
    import spark.implicits._
    (0L until 200L).map { i =>
      // skewed: host h0 gets 101 docs, the rest spread over 9 hosts
      val h = if (i < 101) "h0" else s"h${(i % 9) + 1}"
      (i, s"https://$h.example.org:443/d/$i")
    }.toDF("doc_id", "url")
      .withColumn("host", Curation.extractHost(col("url")))
  }

  test("canonicalizeUrl collapses aliases, keeps real params, is idempotent") {
    val s = spark
    import s.implicits._
    val aliases = Seq(
      "HTTPS://Crawl.Example.ORG:443/docs/7/",
      "https://bot@crawl.example.org/docs/7?utm_source=feed",
      "https://crawl.example.org/docs/7#frag",
      "https://crawl.example.org/docs/7?gclid=x&utm_b=2",
      "https://crawl.example.org/docs/7")
    val canon = aliases.toDF("u")
      .select(Curation.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSet
    assert(canon == Set("https://crawl.example.org/docs/7"),
      s"aliases must collapse to one form, got $canon")
    // non-tracking params survive; tracking strips from any position
    val kept = Seq(
      "http://a.example.com:80/p?ref=1&utm_x=2",
      "http://a.example.com/p?utm_x=2&ref=1",
      "http://a.example.com/p?ref=1")
      .toDF("u")
      .select(Curation.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("http://a.example.com/p?ref=1"), kept.toString)
    // idempotent: canonicalizing a canonical form changes nothing
    val once = aliases.toDF("u")
      .select(Curation.canonicalizeUrl(col("u")).as("c"))
    val twice = once
      .select(col("c"), Curation.canonicalizeUrl(col("c")).as("c2"))
      .filter(col("c") =!= col("c2")).count()
    assert(twice == 0L, "canonicalization must be idempotent")
  }

  test("canonicalizeUrl authority-scoping and schemeless passthrough") {
    val s = spark
    import s.implicits._
    def canonOf(url: String): String =
      Seq(url).toDF("u")
        .select(Curation.canonicalizeUrl(col("u"))).head().getString(0)
    // schemeless / relative URLs keep their own identity (no collapse
    // into one empty-string canon) and still get Post hygiene
    assert(canonOf("Example.com/Page/") == "Example.com/Page")
    assert(canonOf("/rel/path?utm_x=1") == "/rel/path")
    assert(canonOf("not a url") == "not a url")
    // userinfo strip is authority-scoped: a query VALUE keeps its @
    assert(canonOf("https://h.example.org/p?next=http://u@h2") ==
      "https://h.example.org/p?next=http://u@h2")
    // default-port strip is scheme-matched: :443 under http (and :80
    // under https) is NOT the default and survives; matched defaults go
    assert(canonOf("http://h.example.org:443/p") == "http://h.example.org:443/p")
    assert(canonOf("https://h.example.org:80/p") == "https://h.example.org:80/p")
    assert(canonOf("http://H.example.org:80/p") == "http://h.example.org/p")
    assert(canonOf("https://h.example.org:443") == "https://h.example.org")
    // a literal ":80/" inside the PATH is page identity, not a port
    assert(canonOf("https://h.example.org/odd:80/x") ==
      "https://h.example.org/odd:80/x")
    // idempotence over the tricky forms too
    val tricky = Seq("Example.com/Page/", "/rel/path?utm_x=1",
      "https://h.example.org/p?next=http://u@h2", "http://h.example.org:443/p",
      "https://h.example.org/odd:80/x").toDF("u")
      .select(Curation.canonicalizeUrl(col("u")).as("c"))
    assert(tricky.select(col("c"), Curation.canonicalizeUrl(col("c")).as("c2"))
      .filter(col("c") =!= col("c2")).count() == 0L)
  }

  test("blocklist anti-join drops exactly the listed hosts, dups harmless") {
    import spark.implicits._
    // duplicate blocklist entries must not over-drop (anti-join, not inner)
    val bl = Seq("h1.example.org", "h1.example.org", "absent.example.org")
      .toDF("blocked_host")
    val kept = Curation.hostBlocklistFilter(corpus, "host", bl, "blocked_host")
    assert(kept.filter(col("host") === "h1.example.org").count() == 0)
    val droppedExpected = corpus.filter(col("host") === "h1.example.org").count()
    assert(kept.count() == corpus.count() - droppedExpected)
  }

  test("quota caps every host at k, keeps small hosts whole, deterministic") {
    val capped = Curation.hostQuota(corpus, "host", "doc_id", perHost = 10)
    val perHost = capped.groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perHost("h0.example.org") == 10, "the 101-doc host must be capped at 10")
    // hosts under quota keep all docs
    val smallSizes = corpus.filter(col("host") =!= "h0.example.org")
      .groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    smallSizes.foreach { case (h, n) =>
      assert(perHost(h) == math.min(n, 10L), s"host $h: ${perHost(h)} vs $n")
    }
    // deterministic across runs
    val again = Curation.hostQuota(corpus, "host", "doc_id", perHost = 10)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val first = capped.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(first == again)
  }

  test("plan: WindowGroupLimit prune, broadcast anti-join, no global sort") {
    import spark.implicits._
    val bl = Seq("h1.example.org").toDF("blocked_host")
    val plan = Curation.hostQuota(
        Curation.hostBlocklistFilter(corpus, "host", bl, "blocked_host"),
        "host", "doc_id", perHost = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-host cap must prune below the window sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"blocklist must be a broadcast anti-join:\n$plan")
    // the only Sort allowed is the PARTIAL one under the window (printed
    // "Sort [...], false, 0") — a global Sort ("..., true, 0") would be
    // a corpus-wide ordering
    assert(!plan.matches("(?s).*Sort \\[[^\\]]*\\], true,.*"),
      s"unexpected global sort:\n$plan")
  }

  test("domain quality: host mean is exact floor division, kept splits hosts") {
    import spark.implicits._
    val docs = Seq(
      // host a: (700000 + 600001) DIV 2 = 650000 → dropped at 660000
      (1L, "a.org", 700000L), (2L, "a.org", 600001L),
      // host b: (660000 + 660000) DIV 2 = 660000 → kept (inclusive)
      (3L, "b.org", 660000L), (4L, "b.org", 660000L),
      // host c: single doc, 999999 → kept
      (5L, "c.org", 999999L)
    ).toDF("doc_id", "host", "q_micro")
    val r = Curation.domainQualityReport(docs, "host", "q_micro", 660000L)
      .select("doc_id", "host_q_micro", "kept")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
      .sortBy(_._1)
    assert(r.toSeq == Seq(
      (1L, 650000L, false), (2L, 650000L, false),
      (3L, 660000L, true), (4L, 660000L, true),
      (5L, 999999L, true)))
  }

  test("incremental domain quality ≡ batch recompute; verdicts flip on the merged mean") {
    import spark.implicits._
    val all = Seq(
      // host a: history pulls the mean up, batch drags it under
      (1L, "a.org", 700000L), (2L, "a.org", 700000L),
      (3L, "a.org", 500000L), (4L, "a.org", 500000L),
      // host b: history-only — must survive the merge untouched
      (5L, "b.org", 800000L),
      // host c: batch-only — a brand-new host enters the ledger
      (6L, "c.org", 655555L)
    ).toDF("doc_id", "host", "q_micro")
    val history = all.filter(col("doc_id") <= 2 || col("doc_id") === 5L)
    val batch = all.filter(col("doc_id") === 3L || col("doc_id") === 4L ||
      col("doc_id") === 6L)
    val inc = Curation.domainQualityIncremental(
        Curation.domainQualityLedger(history, "host", "q_micro"),
        batch, "host", "q_micro", 660000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).sortBy(_._1)
    val full = Curation.domainQualityLedger(all, "host", "q_micro")
      .withColumn("host_q_micro", expr("q_sum DIV n_docs"))
      .withColumn("kept", col("host_q_micro") >= 660000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).sortBy(_._1)
    assert(inc.toSeq == full.toSeq, "merge must equal the full recompute")
    val byHost = inc.map(x => x._1 -> x).toMap
    assert(!byHost("a.org")._5, "host a must flip to dropped on the merged mean")
    assert(byHost("a.org")._4 == 600000L)
    assert(byHost("b.org")._5 && byHost("b.org")._3 == 1L)
    assert(!byHost("c.org")._5 && byHost("c.org")._4 == 655555L)
  }

  test("hostTokenBudget admits in quality order until the token cap") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // host a: quality order is 3, 1, 2 (id breaks the 1-2 tie);
      // budget 100 admits 3 (60) then 1 (cum 100 == cap, kept), 2 over
      (1L, "a.org", 40L, 500000L), (2L, "a.org", 40L, 500000L),
      (3L, "a.org", 60L, 900000L),
      // host b: a single doc larger than the cap is rejected outright
      (4L, "b.org", 150L, 990000L),
      // host c: fits entirely
      (5L, "c.org", 30L, 100000L), (6L, "c.org", 30L, 200000L)
    ).toDF("doc_id", "host", "n_tokens", "q_micro")
    val out = Curation.hostTokenBudget(docs, "host", "doc_id",
        "n_tokens", "q_micro", budgetTokens = 100L)
      .select(col("doc_id"), col("cum_tokens"), col("kept"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(3L) == (60L, true) && out(1L) == (100L, true),
      s"quality-first admission violated: $out")
    assert(out(2L) == (140L, false), s"over-budget doc kept: $out")
    assert(out(4L) == (150L, false), "single over-cap doc must reject")
    assert(out(5L)._2 && out(6L)._2, "under-budget host must keep all")
    // every input row is emitted with its verdict (audit property)
    assert(out.size == 6)
  }

  test("hostTokenBudget: Long.MaxValue bound skips the census probe") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a.org", 40L, 500000L), (2L, "a.org", 40L, 500000L),
      (3L, "a.org", 60L, 900000L), (4L, "b.org", 150L, 990000L),
      (5L, "c.org", 30L, 100000L), (6L, "c.org", 30L, 200000L)
    ).toDF("doc_id", "host", "n_tokens", "q_micro")
    // the opt-out contract: building the plan runs ZERO eager jobs
    // (no slice-census action), and the common-lane numbers are
    // bit-identical to the probing default
    def planned(bound: Long) = jobsStarted(
      Curation.hostTokenBudget(docs, "host", "doc_id",
        "n_tokens", "q_micro", budgetTokens = 100L,
        sliceRowBound = bound))
    val (optOut, optOutJobs) = planned(Long.MaxValue)
    assert(optOutJobs == 0,
      s"opt-out still ran $optOutJobs eager probe job(s) at plan time")
    val (probing, probingJobs) = planned(4000000L)
    assert(probingJobs > 0, "default bound should probe eagerly " +
      "(listener harness broken otherwise)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cum_tokens", "kept").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
    assert(rows(optOut) == rows(probing),
      "opt-out lane diverged from the probing common lane")
  }

  test("hostTokenBudget: mega-host slices match the single-window form") {
    val s = spark
    import s.implicits._
    // one mega-host (10k rows over 40 distinct quality values — the
    // web-scale skew case), one small host, plus null-host and
    // null-quality rows to pin the struct-slice null semantics
    val rows =
      (1L to 10000L).map(i =>
        (i, "mega.org", 3L + i % 4, Some(1000L * (i % 40)))) ++
      Seq((10001L, "tiny.org", 5L, Some(7000L)),
        (10002L, "tiny.org", 9L, Some(2000L)),
        (10003L, null.asInstanceOf[String], 5L, Some(1000L)),
        (10004L, null.asInstanceOf[String], 5L, Some(1000L)),
        (10005L, "mega.org", 5L, None: Option[Long]),
        (10006L, "mega.org", 6L, None: Option[Long]))
    val docs = rows.toDF("doc_id", "host", "n_tokens", "q_micro")
    val out = Curation.hostTokenBudget(docs, "host", "doc_id",
      "n_tokens", "q_micro", budgetTokens = 9000L)
    // reference: the naive single host-partitioned window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("q_micro").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val expect = docs.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", col("cum_tokens") <= 9000L)
      .select("doc_id", "cum_tokens", "kept")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val got = out.select("doc_id", "cum_tokens", "kept")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got.size == rows.size, "every row must be emitted")
    assert(got == expect, "sliced two-pass diverged from single window")
    // plan: the corpus-sized window partitions by the (host, quality)
    // SLICE, not by host alone — the mega-host spreads across its
    // quality values instead of serializing on one task. The only
    // host-partitioned window runs over the per-slice SUBTOTAL frame.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case st: QueryStageExec => Seq(st.plan)
        case other => other.children
      }
      (p +: kids.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    }
    val windows = nodes(out.queryExecution.executedPlan)
      .collect { case win: WindowExec => win }
    assert(windows.nonEmpty)
    windows.foreach { win =>
      val overAggregate = nodes(win.child).exists {
        case _: BaseAggregateExec => true
        case _ => false
      }
      if (!overAggregate) {
        assert(win.partitionSpec.exists(
            _.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]),
          s"corpus-sized window not slice-partitioned: $win")
      }
    }
  }

  test("hostTokenBudget: constant-quality mega-host takes the ranged lane") {
    val s = spark
    import s.implicits._
    // the adversarial case the slice salt can't touch: one spam
    // domain whose score is degenerate-constant — every row lands in
    // ONE (host, quality) slice. With sliceRowBound forced low the
    // ranged lane must engage, split the slice across id-range
    // chunks, and still reproduce the single-window numbers exactly.
    val rows =
      (1L to 500L).map(i => (i, "spam.example", 10L, Some(700000L))) ++
      Seq((1001L, "tiny.org", 5L, Some(800000L)),
        (1002L, "tiny.org", 9L, Some(100000L)),
        (1003L, null.asInstanceOf[String], 5L, Some(700000L)),
        (1004L, "spam.example", 5L, None: Option[Long]))
    val docs = rows.toDF("doc_id", "host", "n_tokens", "q_micro")
    val out = Curation.hostTokenBudget(docs, "host", "doc_id",
      "n_tokens", "q_micro", budgetTokens = 2000L, sliceRowBound = 50L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("q_micro").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val expect = docs.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", col("cum_tokens") <= 2000L)
      .select("doc_id", "cum_tokens", "kept")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val got = out.select("doc_id", "cum_tokens", "kept")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got.size == rows.size, "every row must be emitted")
    assert(got == expect, "ranged lane diverged from single window")
    // no single window partition carries the mega slice whole: the
    // corpus window keys on (slice, chunk), and the mega host's rows
    // must span > 1 range chunk under the forced layout
    // mirror the operator's data-derived explicit chunk count (an
    // unspecified count would let AQE coalesce this tiny shuffle to
    // one partition and the census below would measure nothing)
    val numChunks = math.max(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      (2L * rows.size / 50L + 1L).toInt)
    val chunks = docs
      .withColumn("__slice",
        struct(col("host").as("h"), col("q_micro").as("q")))
      .repartitionByRange(numChunks, col("__slice"), col("doc_id"))
      .withColumn("__chunk", spark_partition_id())
      .filter(col("host") === "spam.example" && col("q_micro") === 700000L)
      .select("__chunk").distinct().count()
    assert(chunks > 1L,
      s"mega slice landed in $chunks chunk(s) — still serialized")
    // and the executed plan's corpus window really keys on TWO exprs
    // (slice struct + chunk ordinal), not the slice alone
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case st: QueryStageExec => Seq(st.plan)
        case other => other.children
      }
      (p +: kids.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    }
    val twoKey = nodes(out.queryExecution.executedPlan).exists {
      case win: WindowExec =>
        win.partitionSpec.size == 2 && win.partitionSpec.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
      case _ => false
    }
    assert(twoKey, "ranged lane's (slice, chunk) window not in the plan")
  }

  test("templateHeaders: stamped prefix flagged, unique openers not, short docs excluded") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // source A: 3 of 4 prefixed docs open with the stamped template
      (1L, "subscribe to our newsletter article one body", "A"),
      (2L, "subscribe to our newsletter article two body", "A"),
      (3L, "Subscribe TO   our newsletter, er, three", "A"),
      (4L, "a unique opener for this one", "A"),
      // source B: every opener unique; one doc too short for a prefix
      (5L, "first distinct opening here", "B"),
      (6L, "second distinct opening here", "B"),
      (7L, "hi there", "B"))
      .toDF("doc_id", "text", "source")
    val out = Curation.templateHeaders(docs, "source", "text",
        k = 3, shareDen = 5L, minDocs = 2L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    // normalization folds case/whitespace: doc 3 joins the template
    // (note "newsletter," differs — doc 3's 3-word prefix is still
    // "subscribe to our")
    assert(out(("A", "subscribe to our")) == (3L, 4L, true), out.toString)
    assert(out(("A", "a unique opener")) == (1L, 4L, false))
    // B: no repeated opener; the 2-word doc contributes no prefix
    assert(out.keys.count(_._1 == "B") == 2)
    assert(out.filter(_._1._1 == "B").values.forall(v =>
      v._2 == 2L && !v._3), out.toString)
  }

  test("incremental template headers ≡ full recompute; late-crossing template flips") {
    val s = spark
    import s.implicits._
    // the "promo intro" header has 1 hit in history (below minDocs)
    // and crosses the template threshold only after the batch adds 2
    // more — the O(new) path must flip it, proving verdicts re-derive
    // from merged state rather than carrying over
    val history = Seq(
      (1L, "promo intro line article one", "A"),
      (2L, "something else entirely here", "A"),
      (3L, "unique opener for this doc", "A"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (4L, "promo intro line article two", "A"),
      (5L, "promo intro line article three", "A"),
      (6L, "fresh source first doc", "B"))
      .toDF("doc_id", "text", "source")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    val inc = rows(Curation.incrementalTemplateHeaders(
      Curation.templateHeaderLedger(history, "source", "text", 3),
      batch, "source", "text", 3, shareDen = 2L, minDocs = 2L))
    val full = rows(Curation.templateHeaders(
      history.unionByName(batch), "source", "text", 3,
      shareDen = 2L, minDocs = 2L))
    assert(inc == full, s"incremental ≠ full:\n inc=$inc\n full=$full")
    assert(inc.contains(("A", "promo intro line", 3L, 5L, true)),
      s"late-crossing template must flip: $inc")
    assert(inc.contains(("B", "fresh source first", 1L, 1L, false)))
  }

  test("modelScore: table-driven dot product, missing weights are 0, no shuffle") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, 10L, 2L), (2L, 0L, 0L), (3L, 100L, 50L))
      .toDF("doc_id", "f_len", "f_bad")
    // model uses f_len, penalizes f_bad, carries a bias; an extra
    // weight for a feature the frame lacks is simply never looked up
    val weights = Seq(("f_len", 3L), ("f_bad", -5L), ("bias", 7L),
      ("f_unused", 999L)).toDF("feature", "w_micro")
    val out = Curation.modelScore(docs, "doc_id", weights,
        Seq("f_len", "f_bad"), threshold = 10L)
      .select(col("doc_id"), col("score_micro"), col("kept"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(1L) == (10L * 3 - 2 * 5 + 7, true))
    assert(out(2L) == (7L, false))
    assert(out(3L) == (100L * 3 - 50 * 5 + 7, true))
    // a model that doesn't weight a feature contributes 0 for it
    val sparse = Curation.modelScore(docs, "doc_id",
        Seq(("f_len", 2L)).toDF("feature", "w_micro"),
        Seq("f_len", "f_bad"), threshold = 0L)
      .select(col("score_micro")).collect().map(_.getLong(0)).sorted
    assert(sparse.toSeq == Seq(0L, 20L, 200L))
    // plan shape: scoring is map-side — no Exchange above the scan on
    // the scoring branch (the subquery's fold is the only aggregate)
    val plan = Curation.modelScore(docs, "doc_id", weights,
      Seq("f_len", "f_bad"), 10L).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // duplicate feature rows are additive terms of one linear model —
    // they SUM instead of detonating map_from_arrays' dedup policy
    val dup = Curation.modelScore(docs, "doc_id",
        Seq(("f_len", 2L), ("f_len", 1L)).toDF("feature", "w_micro"),
        Seq("f_len"), threshold = 0L)
      .select(col("score_micro")).collect().map(_.getLong(0)).sorted
    assert(dup.toSeq == Seq(0L, 30L, 300L))
    // an empty feature list is a caller bug, rejected loudly
    intercept[IllegalArgumentException] {
      Curation.modelScore(docs, "doc_id", weights, Seq.empty, 0L)
    }
  }
}
