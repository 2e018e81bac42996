package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorFunctions

/** Product quantization (Pq): codebook shape, encoding determinism,
  * ADC semantics, and an exactness fixture where the corpus is
  * code-representable (every vector IS a centroid), so the ADC
  * ranking must equal the exact L2 ranking. Recall on the testdata
  * embeddings is NOT pinned high on purpose: they are near-random —
  * PQ's adversarial case — and the measured ~0.2–0.4 recall@5 is a
  * property of the data, not the operator (the q184 oracle pins the
  * computation bit-for-bit instead). */
class PqSpec extends SparkSpec {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("codes: one row per vector, m entries, drawn from seed cids") {
    val m = 4
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val codes = Pq.encode(emb, "vec_id", "embedding", m, cbs)
    val n = emb.count()
    assert(codes.count() == n)
    assert(codes.filter(size(col("codes")) =!= m).isEmpty)
    // every code cites a centroid that exists in its subspace
    val cids = cbs.select("cid").distinct()
      .collect().map(_.getLong(0)).toSet
    val used = codes.select(explode(col("codes")).as("c"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(used.subsetOf(cids), s"codes cite unknown centroids: $used")
    // deterministic: a rerun encodes identically
    val again = Pq.encode(emb, "vec_id", "embedding", m,
      Pq.codebooks(emb, "vec_id", "embedding", m, k = 8, iterations = 2))
    assert(codes.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
  }

  test("ADC ≡ exact L2 when every vector is code-representable") {
    val s = spark
    import s.implicits._
    // 6 prototype vectors (ids 0..5), then echoes of them: k-means
    // with seeds = the 6 smallest ids converges onto the prototypes,
    // so encoding is lossless and ADC must reproduce the exact
    // quantized-L2 ranking
    val protos = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f),
      Array(5f, 5f, 0f, 0f), Array(0f, 0f, 5f, 5f))
    val rows = protos.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      protos.zipWithIndex.map { case (v, i) => (i.toLong + 6, v) }
    val e = rows.toDF("vec_id", "embedding")
    val got = Pq.adcTopK(e, e.filter(col("vec_id") < 2), "vec_id",
        "embedding", m = 2, numCentroids = 6, iterations = 2, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    // exact quantized-L2 reference, id tie-break
    def q(v: Array[Float]) = v.map(x => math.floor(x * 1e6))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val all = rows.map { case (i, v) => (i, q(v)) }
    val expect = (0L until 2L).flatMap { qi =>
      val qv = all.find(_._1 == qi).get._2
      all.filter(_._1 != qi)
        .map { case (i, v) => (i, d2(qv, v)) }
        .sortBy { case (i, d) => (d, i) }
        .take(3).zipWithIndex
        .map { case ((i, d), r) => (qi, i, d, r + 1) }
    }
    assert(got.sortBy(x => (x._1, x._4)) == expect,
      s"ADC diverged from exact on a representable corpus:\n$got\nvs\n$expect")
  }

  test("IVF-PQ probing every cell ≡ plain ADC; narrow probes restrict") {
    val q = emb.filter(col("vec_id") < 5)
    // nprobe = numCoarse → every cell probed → candidate set is the
    // whole base minus self, so the ranking must equal plain ADC
    val allProbe = Pq.ivfPqTopK(emb, q, "vec_id", "embedding",
        numCoarse = 8, coarseIterations = 2, m = 4, numCentroids = 8,
        pqIterations = 2, nprobe = 8, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val plain = Pq.adcTopK(emb, q, "vec_id", "embedding", m = 4,
        numCentroids = 8, iterations = 2, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(allProbe == plain, "full-probe IVF-PQ diverged from ADC")
    // nprobe = 1 returns a SUBSET of the base per query (cell-bounded)
    // and never a self-match
    val narrow = Pq.ivfPqTopK(emb, q, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, m = 4, numCentroids = 8,
      pqIterations = 2, nprobe = 1, topK = 5)
    assert(narrow.filter(col("q_id") === col("n_id")).isEmpty)
    assert(narrow.groupBy("q_id").count()
      .filter(col("count") > 5).isEmpty)
  }

  test("residual IVF-PQ: neighbors come from probed cells, rerun-stable") {
    val q = emb.filter(col("vec_id") < 5)
    def run() = Pq.residualIvfPqTopK(emb, q, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, m = 4, numCentroids = 8,
      pqIterations = 2, nprobe = 2, topK = 5)
    val out = run().orderBy("q_id", "rnk").collect().toSeq
    assert(out.nonEmpty)
    assert(out == run().orderBy("q_id", "rnk").collect().toSeq,
      "residual IVF-PQ must be rerun-deterministic")
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      assert(rows.length <= 5)
      assert(rows.forall(_.getLong(1) != qid), "self-match leaked")
    }
    // every returned neighbor's cell is among its query's probes
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val cellOf = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)
    // recompute nprobe=2 probes directly
    val p2 = Ivf.quantized(q, "vec_id", "embedding")
      .crossJoin(broadcast(coarse))
      .withColumn("d2", graft.functions.VectorFunctions.dot(col("qvec"), col("qvec"))
        - lit(2.0) * graft.functions.VectorFunctions.dot(col("qvec"), col("cent"))
        + graft.functions.VectorFunctions.dot(col("cent"), col("cent")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= 2)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out.foreach { r =>
      assert(p2.contains((r.getLong(0), cellOf(r.getLong(1)))),
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s probes")
    }
  }

  test("ADC top-k excludes self and emits exactly topK rows per query") {
    val out = Pq.adcTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", m = 4, numCentroids = 8, iterations = 2, topK = 5)
    assert(out.filter(col("q_id") === col("n_id")).isEmpty)
    val perQ = out.groupBy("q_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perQ == Set(5L), s"per-query row counts: $perQ")
  }

  test("quantizationError: zero on a representable corpus, positive otherwise") {
    val s = spark
    import s.implicits._
    val protos = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f),
      Array(5f, 5f, 0f, 0f), Array(0f, 0f, 5f, 5f))
    val rows = protos.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      protos.zipWithIndex.map { case (v, i) => (i.toLong + 6, v) }
    val e = rows.toDF("vec_id", "embedding")
    // every vector IS a centroid → lossless encoding → zero error
    val clean = Pq.quantizationError(e, "vec_id", "embedding", m = 2,
        numCentroids = 6, iterations = 2)
      .orderBy("sub").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(clean.map(_._1).toSeq == Seq(0, 1))
    assert(clean.forall(_._2 == rows.size.toLong))
    assert(clean.forall(c => c._3 == 0L && c._4 == 0L),
      s"representable corpus reported error: ${clean.toSeq}")
    // the near-random testdata must report strictly positive error
    val noisy = Pq.quantizationError(emb, "vec_id", "embedding", m = 4,
        numCentroids = 8, iterations = 2)
      .collect().map(r => r.getLong(2))
    assert(noisy.length == 4 && noisy.forall(_ > 0L))
  }

  test("balancedPermutation: bijection, snake balance, rerun-stable") {
    val m = 4
    val p = Pq.balancedPermutation(emb, "vec_id", "embedding", m)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getInt(3)))
    // a true permutation of 1..64, every rank used once
    assert(p.map(_._1).sorted.toSeq == (1 to 64))
    assert(p.map(_._3).sorted.toSeq == (1 to 64))
    // snake deal → every subspace holds exactly dims/m dimensions
    val bySub = p.groupBy(_._4).view.mapValues(_.length).toMap
    assert(bySub == (0 until m).map(_ -> 64 / m).toMap, bySub.toString)
    // energy order respected: ranks ascend as energy descends
    val byRank = p.sortBy(_._3)
    assert(byRank.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
    // deterministic
    assert(Pq.balancedPermutation(emb, "vec_id", "embedding", m)
      .collect().map(r => (r.getInt(0), r.getInt(3))).toSeq ==
      p.map(t => (t._1, t._4)).toSeq)
  }

  test("incrementalQuantizationError ≡ full recompute against fixed codebooks") {
    val m = 4
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val cbs = Pq.codebooks(history, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("sub").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val stored = Pq.quantizationErrorAgainst(cbs, history, "vec_id",
      "embedding", m)
    val inc = rows(Pq.incrementalQuantizationError(cbs, stored, batch,
      "vec_id", "embedding", m))
    val full = rows(Pq.quantizationErrorAgainst(cbs, emb, "vec_id",
      "embedding", m))
    assert(inc == full, "error ledger merge diverged from recompute")
    assert(inc.map(_._2).distinct == Seq(emb.count()))
    // BOOTSTRAP: day 0 has an empty stored ledger — the full-outer
    // merge must accumulate the batch instead of dropping every
    // group the prior has never seen (the left-join failure mode)
    val empty = Pq.quantizationErrorAgainst(cbs,
      emb.filter(col("vec_id") < 0), "vec_id", "embedding", m)
    assert(empty.isEmpty)
    val boot = rows(Pq.incrementalQuantizationError(cbs, empty, batch,
      "vec_id", "embedding", m))
    assert(boot == rows(Pq.quantizationErrorAgainst(cbs, batch,
      "vec_id", "embedding", m)),
      "bootstrap merge from an empty ledger lost the batch")
  }

  test("cellHealth: zero energy when centroids are the vectors; spine totality") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(10f, 0f, 0f, 0f)), (1L, Array(0f, 10f, 0f, 0f)),
      (2L, Array(0f, 0f, 10f, 0f)))
      .toDF("vec_id", "embedding")
    // codebook = the vectors themselves → every residual is zero
    val selfCb = Ivf.quantized(vecs, "vec_id", "embedding")
      .select(col("vec_id").as("cid"), col("qvec").as("cent"))
    val self = Ivf.cellHealth(selfCb, vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(self.values.map(_._1).sum == 3L, "occupancy must total corpus")
    assert(self.values.forall(v => v._2 == 0L && v._3 == 0L))
    // a codebook with an unreachable centroid still reports its row
    val farCb = selfCb.unionByName(
      Seq((99L, Array.fill(4)(1e9))).toDF("cid", "cent"))
    val far = Ivf.cellHealth(farCb, vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(far(99L) == 0L, "empty cell must report, zero-filled")
    assert(far.values.sum == 3L)
    // trained codebook over the testdata: totality + positive energy
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val health = Ivf.cellHealth(coarse, emb, "vec_id", "embedding")
      .collect()
    assert(health.map(_.getLong(1)).sum == emb.count())
    assert(health.map(_.getLong(2)).sum > 0L)
  }

  test("incrementalCellHealth ≡ full recompute; batch only adds") {
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val coarse = Ivf.centroids(history, "vec_id", "embedding", 8, 2)
    val stored = Ivf.cellHealth(coarse, history, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val inc = rows(Ivf.incrementalCellHealth(coarse, stored, batch,
      "vec_id", "embedding"))
    val full = rows(Ivf.cellHealth(coarse, emb, "vec_id", "embedding"))
    assert(inc == full, "health ledger merge diverged from recompute")
    // monotone under append-only input: no cell loses mass
    val prior = rows(stored).map(r => r._1 -> (r._2, r._3)).toMap
    assert(inc.forall { case (cid, n, e, _) =>
      val (pn, pe) = prior(cid); n >= pn && e >= pe })
  }

  test("cellHealth: an equidistant vector goes to the lower cid, as the argmin aggregate; no vec_id exchange") {
    val s = spark
    import s.implicits._
    // the origin is 10¹² (quantized units²) from both centroids; both
    // codebook orders, so the order the fold visits them cannot decide
    val vecs = Seq((0L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val a = (7L, Array(1e6, 0.0, 0.0, 0.0))
    val b = (3L, Array(0.0, 1e6, 0.0, 0.0))
    for (cb <- Seq(Seq(a, b), Seq(b, a)).map(_.toDF("cid", "cent"))) {
      val health = Ivf.cellHealth(cb, vecs, "vec_id", "embedding")
      val got = health.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map(3L -> (1L, 1000000000000L), 7L -> (0L, 0L)),
        s"tie not broken to the lower cid: $got")
      // assignIds runs the same fold, without a vec_id exchange
      val ids = Ivf.assignIds(Ivf.quantized(vecs, "vec_id", "embedding"),
        cb)
      assert(ids.collect().map(_.getLong(1)).toSeq == Seq(3L))
      val idsPlan = ids.queryExecution.executedPlan.toString
      assert(!idsPlan.contains("hashpartitioning(vec_id"),
        s"assignIds exchanged on vec_id:\n$idsPlan")
      val plan = health.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(vec_id"),
        s"cellHealth exchanged on vec_id:\n$plan")
    }
  }

  test("cellHealth: a wrong-length or null vector raises instead of landing in a cell") {
    val s = spark
    import s.implicits._
    val cb = Seq((0L, Array(0.0, 0.0, 0.0, 0.0)), (1L, Array(1e6, 0.0, 0.0, 0.0)))
      .toDF("cid", "cent")
    val short = Seq((0L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ivf.cellHealth(cb, short, "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("vector length 3 != centroid dim 4"),
      s"wrong failure: ${e.getMessage}")
    val nul = Seq((0L, null: Array[Float])).toDF("vec_id", "embedding")
    val en = intercept[Exception] {
      Ivf.cellHealth(cb, nul, "vec_id", "embedding").collect()
    }
    assert(en.getMessage.contains("vector length NULL"),
      s"wrong failure: ${en.getMessage}")
  }

  test("assignment output schemas are pinned: names and types") {
    // every IVF/PQ assignment folds in-row through Ivf.nearest; the
    // outputs keep the codebook's own cid type (BIGINT here, from the
    // vec_id seeds), never a widened or renamed column
    val m = 4
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 4, 1)
    val q = Ivf.quantized(emb, "vec_id", "embedding")
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 4,
      iterations = 1)
    val got = Seq(
      "assign" -> Ivf.assign(q, coarse),
      "assignIds" -> Ivf.assignIds(q, coarse),
      "flatIndex" -> Ivf.flatIndex(coarse, emb, "vec_id", "embedding",
        Seq("label")),
      "occupancy" -> Ivf.occupancy(coarse, emb, "vec_id", "embedding", "n"),
      "centroids" -> coarse,
      "codebooks" -> cbs,
      "encode" -> Pq.encode(emb, "vec_id", "embedding", m, cbs),
      "encodeIndexed" -> Pq.encodeIndexed(emb, "vec_id", "embedding", m,
        cbs, Seq("label")),
      "residualEncode" -> Pq.residualEncode(emb, "vec_id", "embedding",
        coarse, cbs, m, Seq("label")),
      "quantizationError" -> Pq.quantizationError(emb, "vec_id",
        "embedding", m, numCentroids = 4, iterations = 1)
    ).map { case (n, df) => n -> df.schema.simpleString }
    val want = Seq(
      "assign" -> "struct<vec_id:bigint,qvec:array<bigint>,cid:bigint,d2:double>",
      "assignIds" -> "struct<vec_id:bigint,cid:bigint,d2:double>",
      "flatIndex" -> "struct<vec_id:bigint,cid:bigint,qvec:array<bigint>,label:int>",
      "occupancy" -> "struct<cid:bigint,n:bigint>",
      "centroids" -> "struct<cid:bigint,cent:array<double>>",
      "codebooks" -> "struct<sub:int,cid:bigint,cent:array<double>>",
      "encode" -> "struct<vec_id:bigint,codes:array<bigint>>",
      "encodeIndexed" -> "struct<vec_id:bigint,codes:array<bigint>,label:int>",
      "residualEncode" -> "struct<vec_id:bigint,cid:bigint,codes:array<bigint>,label:int>",
      "quantizationError" -> "struct<sub:int,n_vectors:bigint,err_sum:bigint,avg_err:bigint>")
    assert(got == want)
  }

  test("assignIds and encode: a wrong-length or null vector raises") {
    val s = spark
    import s.implicits._
    val coarse = Seq((0L, Array(0.0, 0.0, 0.0, 0.0)),
      (1L, Array(1e6, 0.0, 0.0, 0.0))).toDF("cid", "cent")
    // m = 2 subspaces of 2 dims: a 6-dim vector splits evenly, so it is
    // the nearest fold, not the divisibility guard, that must refuse
    // its 3-dim subvectors
    val cbs = Seq((0, 0L, Array(0.0, 0.0)), (0, 1L, Array(1e6, 0.0)),
      (1, 0L, Array(0.0, 0.0)), (1, 1L, Array(0.0, 1e6)))
      .toDF("sub", "cid", "cent")
    val wrong = Seq((0L, Array.fill(6)(1f))).toDF("vec_id", "embedding")
    val nul = Seq((0L, null: Array[Float])).toDF("vec_id", "embedding")
    def failure(body: => Unit): String =
      intercept[Exception](body).getMessage
    val cases = Seq(
      failure(Ivf.assignIds(Ivf.quantized(wrong, "vec_id", "embedding"),
        coarse).collect()) -> "vector length 6 != centroid dim 4",
      failure(Ivf.assignIds(Ivf.quantized(nul, "vec_id", "embedding"),
        coarse).collect()) -> "vector length NULL",
      failure(Pq.encode(wrong, "vec_id", "embedding", 2, cbs).collect())
        -> "vector length 3 != centroid dim 2",
      failure(Pq.encode(nul, "vec_id", "embedding", 2, cbs).collect())
        -> "vector length NULL",
      // a codebook row with a null cid has no cell to name
      failure(Ivf.assignIds(Ivf.quantized(wrong, "vec_id", "embedding"),
        Seq((null: java.lang.Long, Array.fill(6)(0.0)))
          .toDF("cid", "cent")).collect()) -> "IVF: centroid id")
    for ((msg, want) <- cases)
      assert(msg != null && msg.contains(want), s"wrong failure: $msg")
  }

  test("search with a stale codebook raises on the codebook/codes mismatch") {
    // codes cite the seed cids of the codebook they were encoded with;
    // a codebook retrained from other seeds has no ADC entry for them.
    // A missing entry must raise, not score NULL (which ranks first).
    val m = 4
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 4,
      iterations = 1)
    val stale = Pq.codebooks(emb.filter(col("vec_id") >= 100), "vec_id",
      "embedding", m, k = 4, iterations = 1)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 2, 1)
    val q = emb.filter(col("vec_id") < 3)
    val codes = Pq.encode(emb, "vec_id", "embedding", m, cbs)
    val assigned = Ivf.assignIds(Ivf.quantized(emb, "vec_id", "embedding"),
      coarse)
    val stored = Pq.residualEncode(emb, "vec_id", "embedding", coarse,
      cbs, m)
    val searches = Seq(
      () => Pq.adcSearch(stale, codes, q, "vec_id", "embedding", m, 5),
      () => Pq.ivfPqSearch(coarse, stale, assigned, codes, q, "vec_id",
        "embedding", m, nprobe = 2, topK = 5),
      () => Pq.residualSearch(coarse, stale, stored, q, "vec_id",
        "embedding", m, nprobe = 2, topK = 5))
    for (search <- searches) {
      val e = intercept[Exception](search().collect())
      assert(e.getMessage.contains("codes and codebook mismatch"),
        s"wrong failure: ${e.getMessage}")
    }
  }

  test("encodeCodesExpr ≡ encode: literal-codebook in-row codes match") {
    // the stateless streaming encoder must reproduce the batch encode
    // bit-for-bit — the same Ivf.nearest fold and tie-break, the same
    // left-to-right dot folds over driver-round-tripped doubles
    val m = 4
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val inRow = Ivf.quantized(emb, "vec_id", "embedding")
      .select(col("vec_id"),
        Pq.encodeCodesExpr(col("qvec"), Pq.localCodebook(cbs, m))
          .as("codes"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    val agg = Pq.encode(emb, "vec_id", "embedding", m, cbs)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    assert(inRow == agg, "in-row literal encoder diverged from encode")
    // the streaming path must refuse a dimension-drifted vector LOUDLY
    // (the subvectorsOf guard, mirrored): a d=60 vector against d=64
    // codebooks would otherwise truncate the last subspace's dot and
    // append a silently-wrong code to the stored index
    val s2 = spark
    import s2.implicits._
    val ragged = Seq((0L, Array.fill(60)(0.1f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ivf.quantized(ragged, "vec_id", "embedding")
        .select(Pq.encodeCodesExpr(col("qvec"), Pq.localCodebook(cbs, m)))
        .collect()
    }
    assert(e.getMessage.contains("m*dsub"), s"wrong failure: ${e.getMessage}")
  }

  test("encodeCodesExpr: fold form ≡ chain form bit-for-bit") {
    // the reference is the least(struct(d2, cid)) literal chain — the
    // lexicographic (d2, cid) minimum written out, one expression node
    // per centroid — on the same k=8 codebook: the Ivf.nearest fold
    // must pick the same code on every row
    val m = 4
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val local = Pq.localCodebook(cbs, m)
    val dsub = local.head.head._2.size
    val q = Ivf.quantized(emb, "vec_id", "embedding")
    def dist2(a: Column, b: Column): Column =
      VectorFunctions.dot(a, a) - lit(2.0) * VectorFunctions.dot(a, b) +
        VectorFunctions.dot(b, b)
    val chain = array(local.indices.map { s =>
      val svec = slice(col("qvec"), s * dsub + 1, dsub)
      local(s).map { case (cid, cent) =>
        struct(dist2(svec, typedLit(cent)).as("d2"), lit(cid).as("cid"))
      }.reduce((a, b) => least(a, b)).getField("cid")
    }: _*)
    def codes(c: Column) = q.select(col("vec_id"), c.as("codes"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    assert(codes(Pq.encodeCodesExpr(col("qvec"), local)) == codes(chain),
      "the nearest-fold argmin diverged from the least-chain argmin")
  }

  test("encodeCodesExpr at k = 64 (fold form) ≡ batch encode") {
    // production-shape codebook: k=64 exceeds the chain ceiling, so
    // the O(1)-tree fold form carries the encode — and must match the
    // batch broadcast-codebook path bit-for-bit (the scale contract:
    // a k=256×m=16 deployment compiles because tree size no longer
    // grows with k)
    val m = 4
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 64,
      iterations = 2)
    val inRow = Ivf.quantized(emb, "vec_id", "embedding")
      .select(col("vec_id"),
        Pq.encodeCodesExpr(col("qvec"), Pq.localCodebook(cbs, m))
          .as("codes"))
    val got = inRow.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    val batch = Pq.encode(emb, "vec_id", "embedding", m, cbs)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    assert(got == batch, "k=64 fold encoder diverged from batch encode")
    // codes actually use the wider codebook (not stuck on 8 seeds)
    assert(got.flatMap(_._2).distinct.size > 8,
      "k=64 encode collapsed to a handful of centroids")
    // the fold is a DOCUMENTED interpreted fallback (higher-order
    // functions are CodegenFallback, so the projection leaves
    // whole-stage codegen) — what must hold is the plan SHAPE: a
    // map-only Project over the scan, no exchange, no aggregate exec,
    // so the stream/encode stays stateless and shuffle-free at any k
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val exec = inRow.queryExecution.executedPlan
    assert(exec.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"fold encoder plan grew an exchange:\n$exec")
    assert(exec.collect { case a: BaseAggregateExec => a }.isEmpty,
      s"fold encoder plan grew an aggregate:\n$exec")
  }

  test("encodeCodesExpr at PRODUCTION size k = 256 × m = 16 ≡ batch encode") {
    // the exact deployment shape round 11 flagged as the ceiling:
    // 4096 centroids total. The codebook is CRAFTED (training 256
    // centroids needs a bigger corpus than the spec fixture), which
    // is all this lane needs — the claims are (a) the expression
    // COMPILES at this size (tree is O(m), not O(k·m)) and (b) it
    // matches the batch broadcast-codebook assign bit-for-bit on the
    // same codebook
    val s = spark
    import s.implicits._
    val m = 16
    val dsub = 4
    val k = 256
    val local: IndexedSeq[Seq[(Long, Seq[Double])]] =
      (0 until m).map { sub =>
        (0 until k).map { c =>
          (c.toLong, (0 until dsub).map(j =>
            (((c * 7 + sub * 13 + j * 29) % 512) - 256) * 1e6))
        }
      }
    val cbs = local.zipWithIndex.flatMap { case (cents, sub) =>
      cents.map { case (cid, cent) => (sub, cid, cent) }
    }.toDF("sub", "cid", "cent")
    val inRow = Ivf.quantized(emb, "vec_id", "embedding")
      .select(col("vec_id"),
        Pq.encodeCodesExpr(col("qvec"), local).as("codes"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    val batch = Pq.encode(emb, "vec_id", "embedding", m, cbs)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    assert(inRow == batch,
      "k=256×m=16 fold encoder diverged from batch encode")
    assert(inRow.forall(_._2.size == m))
  }

  test("appendCodes ≡ encode(history ∪ batch) against the fixed codebooks") {
    val m = 4
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val cbs = Pq.codebooks(history, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val stored = Pq.encode(history, "vec_id", "embedding", m, cbs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    val merged = rows(Pq.appendCodes(stored, cbs, batch, "vec_id",
      "embedding", m))
    // per-row encoding against a FIXED codebook makes append the
    // exact merge — the full-recompute encode must match bit-for-bit
    val full = rows(Pq.encode(emb, "vec_id", "embedding", m, cbs))
    assert(merged == full, "daily append diverged from full encode")
    assert(merged.size == emb.count())
  }

  test("adcSearch over the daily-merged index ≡ search over the full encode") {
    // the q194 deployment loop closed: stored codebooks + appendCodes-
    // maintained codes table, searched WITHOUT retraining — results
    // must equal searching a from-scratch encode of the full corpus
    // against the same codebooks
    val m = 4
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val cbs = Pq.codebooks(history, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val merged = Pq.appendCodes(
      Pq.encode(history, "vec_id", "embedding", m, cbs),
      cbs, batch, "vec_id", "embedding", m)
    val q = emb.filter(col("vec_id") < 5)
    def run(codes: org.apache.spark.sql.DataFrame) =
      Pq.adcSearch(cbs, codes, q, "vec_id", "embedding", m, topK = 5)
        .orderBy("q_id", "rnk").collect().toSeq
    val daily = run(merged)
    assert(daily == run(Pq.encode(emb, "vec_id", "embedding", m, cbs)),
      "search over the merged index diverged from the full encode")
    assert(daily.groupBy(_.getLong(0)).values.forall(_.size == 5))
  }

  test("appendResidualCodes ≡ residualEncode(all) with fixed coarse + cbs") {
    val m = 4
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val coarse = Ivf.centroids(history, "vec_id", "embedding", 8, 2)
    val cbs = Pq.residualCodebooks(history, "vec_id", "embedding",
      coarse, m, numCentroids = 8, pqIterations = 2)
    val stored = Pq.residualEncode(history, "vec_id", "embedding",
      coarse, cbs, m)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](2).toList)).toSeq
    val merged = rows(Pq.appendResidualCodes(stored, coarse, cbs, batch,
      "vec_id", "embedding", m))
    val full = rows(Pq.residualEncode(emb, "vec_id", "embedding",
      coarse, cbs, m))
    assert(merged == full,
      "residual daily append diverged from full encode")
    assert(merged.size == emb.count())
  }

  test("ivfPqSearch over the daily-merged index ≡ full-encode search") {
    // the routed-search sibling of the adcSearch lane: stored coarse +
    // PQ codebooks, daily-appended (assigned, codes) tables, searched
    // without retraining — equal to searching a from-scratch encode
    val m = 4
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val coarse = Ivf.centroids(history, "vec_id", "embedding", 8, 2)
    val cbs = Pq.codebooks(history, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    def assignOf(df: org.apache.spark.sql.DataFrame) =
      Ivf.assignIds(Ivf.quantized(df, "vec_id", "embedding"), coarse)
        .select(col("vec_id"), col("cid"))
    val q = emb.filter(col("vec_id") < 5)
    def run(a: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) =
      Pq.ivfPqSearch(coarse, cbs, a, c, q, "vec_id", "embedding", m,
          nprobe = 2, topK = 5)
        .orderBy("q_id", "rnk").collect().toSeq
    val daily = run(
      assignOf(history).unionByName(assignOf(batch)),
      Pq.appendCodes(Pq.encode(history, "vec_id", "embedding", m, cbs),
        cbs, batch, "vec_id", "embedding", m))
    val full = run(assignOf(emb),
      Pq.encode(emb, "vec_id", "embedding", m, cbs))
    assert(daily == full,
      "routed search over the merged index diverged from full encode")
    assert(daily.nonEmpty)
  }

  test("rerank funnel: all probes + full shortlist ≡ exact integral L2 top-k") {
    val q = emb.filter(col("vec_id") < 10)
    val out = Pq.ivfPqRerankTopK(emb, q, "vec_id", "embedding",
        numCoarse = 8, coarseIterations = 2, m = 4, numCentroids = 8,
        pqIterations = 2, nprobe = 8, shortlistK = 2000, topK = 5)
      .orderBy("q_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSeq
    // local reference on the same integral grid: floor(x·10⁶), L2 via
    // the same dot(a,a) − 2·dot(a,b) + dot(b,b) left-to-right folds
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000.0))
          .toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val expected = vecs.keys.filter(_ < 10).toSeq.sorted.flatMap { qid =>
      val qv = vecs(qid)
      vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (dot(qv, qv) - 2.0 * dot(qv, nv) + dot(nv, nv), nid) }
        .sortBy(identity).take(5).zipWithIndex
        .map { case ((_, nid), i) => (qid, i + 1, nid) }
    }
    assert(out == expected, "funnel with exhaustive probes+shortlist " +
      "diverged from the exact integral L2 top-k")
  }

  test("rerank funnel: shortlist subsetting, 5 rows/query, no vector shuffles") {
    val q = emb.filter(col("vec_id") < 10)
    val funnel = Pq.ivfPqRerankTopK(emb, q, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, m = 4, numCentroids = 8,
      pqIterations = 2, nprobe = 2, shortlistK = 20, topK = 5)
    val fr = funnel.collect()
    val fPairs = fr.map(r => (r.getLong(0), r.getLong(1))).toSet
    val short20 = Pq.ivfPqTopK(emb, q, "vec_id", "embedding",
        numCoarse = 8, coarseIterations = 2, m = 4, numCentroids = 8,
        pqIterations = 2, nprobe = 2, topK = 20)
      .select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fPairs.subsetOf(short20), "rerank invented candidates " +
      "outside its ADC shortlist")
    assert(fr.groupBy(_.getLong(0)).values.forall(_.length == 5))
    // no window exchange may carry a full (double/float array) vector:
    // the funnel exists so vectors never shuffle — codes (array<long>)
    // and the broadcast maps are the only wide payloads allowed
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val wins = funnel.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val carried = w.child.output.filter(_.dataType match {
        case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
        case _ => false
      }).map(_.name)
      assert(carried.isEmpty, s"window carries full vectors: $carried")
    }
  }

  test("incrementalDimEnergy ≡ full recompute; permutation view re-derives") {
    val history = emb.filter(col("vec_id") % 3 > 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("d").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val merged = Pq.incrementalDimEnergy(
      Pq.dimEnergy(history, "vec_id", "embedding"),
      batch, "vec_id", "embedding")
    // energies are exact long sums — the ledger merge must equal the
    // full-corpus recompute bit-for-bit, and the permutation VIEW over
    // the merged ledger must equal the direct full-corpus permutation
    assert(rows(merged) == rows(Pq.dimEnergy(emb, "vec_id", "embedding")),
      "energy ledger merge diverged from recompute")
    def perm(df: org.apache.spark.sql.DataFrame) =
      df.select("d", "rnk", "sub").orderBy("d").collect().toSeq
    assert(perm(Pq.permutationFromEnergy(merged, 4)) ==
      perm(Pq.balancedPermutation(emb, "vec_id", "embedding", 4)),
      "permutation view over the ledger diverged from the direct form")
  }

  test("stored rerank funnel ≡ in-fixture funnel; no Lloyd in the search plan") {
    // the q194 no-retrain discipline for the funnel: persist the
    // whole index (coarse, codebooks, assignment, codes) to parquet,
    // read it back, and run ivfPqRerankSearch over the STORED tables —
    // results must equal the in-fixture ivfPqRerankTopK (build + this
    // is the whole definition), and the search plan must carry no
    // training stage (VecSumAgg is the Lloyd recompute's fingerprint)
    val m = 4
    val q = emb.filter(col("vec_id") < 10)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val assigned = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val codes = Pq.encode(emb, "vec_id", "embedding", m, cbs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stored_funnel").toString
    coarse.write.parquet(s"$dir/coarse")
    cbs.write.parquet(s"$dir/cbs")
    assigned.write.parquet(s"$dir/assigned")
    codes.write.parquet(s"$dir/codes")
    val stored = Pq.ivfPqRerankSearch(
      spark.read.parquet(s"$dir/coarse"),
      spark.read.parquet(s"$dir/cbs"),
      spark.read.parquet(s"$dir/assigned"),
      spark.read.parquet(s"$dir/codes"),
      emb, q, "vec_id", "embedding", m, nprobe = 2, shortlistK = 20,
      topK = 5)
    val fixture = Pq.ivfPqRerankTopK(emb, q, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, m = m, numCentroids = 8,
      pqIterations = 2, nprobe = 2, shortlistK = 20, topK = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rnk").collect().toSeq
    assert(rows(stored) == rows(fixture),
      "stored-index funnel diverged from the in-fixture funnel")
    val plan = stored.queryExecution.executedPlan.toString
    assert(!plan.contains("VecSumAgg") && !plan.contains("vec_sum"),
      s"Lloyd recompute leaked into the stored-index search plan:\n$plan")
  }

  test("permuted stored index: probing-all full-shortlist funnel ≡ plain") {
    // the q185 probing-all discipline for the q207 lifecycle: with
    // every cell probed and the shortlist covering the corpus, the
    // exact rescore decides everything — and exact integral-grid
    // distances are PERMUTATION-INVARIANT (grid dot products are sums
    // of integer products, 64·1e12 < 2^53, so they are exact integers
    // regardless of addend order), so the permuted index must
    // reproduce the plain funnel bit-for-bit, exact_d2 included
    val m = 4
    val order = Pq.permutationOrder(
      Pq.balancedPermutation(emb, "vec_id", "embedding", m))
    assert(order.sorted == (1 to 64), "order is not a 64-permutation")
    def permute(df: org.apache.spark.sql.DataFrame) =
      Pq.applyPermutation(df, "vec_id", "embedding", order)
    val pe = permute(emb)
    val coarse = Ivf.centroids(pe, "vec_id", "embedding", 8, 2)
    val cbs = Pq.codebooks(pe, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val assigned = Ivf.assignIds(
        Ivf.quantized(pe, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val codes = Pq.encode(pe, "vec_id", "embedding", m, cbs)
    val q = emb.filter(col("vec_id") < 5)
    val permuted = Pq.ivfPqRerankSearch(coarse, cbs, assigned, codes,
        pe, permute(q), "vec_id", "embedding", m, nprobe = 8,
        shortlistK = 2000, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val plain = Pq.ivfPqRerankTopK(emb, q, "vec_id", "embedding",
        numCoarse = 8, coarseIterations = 2, m = m, numCentroids = 8,
        pqIterations = 2, nprobe = 8, shortlistK = 2000, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(permuted == plain,
      "permuted index broke exact-distance invariance")
  }

  test("applyPermutation rejects a non-permutation order") {
    val e = intercept[IllegalArgumentException] {
      Pq.applyPermutation(emb, "vec_id", "embedding",
        IndexedSeq(1, 2, 2, 4))
    }
    assert(e.getMessage.contains("permutation"),
      s"wrong failure: ${e.getMessage}")
  }

  test("ragged dimension raises instead of silently dropping dims") {
    // d=6 with m=4: slice arithmetic would score only 4 of 6 dims —
    // the guard must turn that into a loud failure, not wrong ranks
    val s = spark
    import s.implicits._
    val ragged = Seq(
      (0L, Array(0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f)),
      (1L, Array(0.6f, 0.5f, 0.4f, 0.3f, 0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pq.codebooks(ragged, "vec_id", "embedding", m = 4, k = 2,
        iterations = 1).collect()
    }
    assert(e.getMessage.contains("not divisible"),
      s"wrong failure: ${e.getMessage}")
    // and a divisible m on the same frame trains fine
    assert(Pq.codebooks(ragged, "vec_id", "embedding", m = 3, k = 2,
      iterations = 1).count() == 6L)
  }

  test("seed id outside [0, 2^32) raises before ADC keys can collide") {
    val s = spark
    import s.implicits._
    val big = Seq(
      ((1L << 40), Array(0.1f, 0.2f, 0.3f, 0.4f)),
      ((1L << 40) + 1, Array(0.4f, 0.3f, 0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pq.codebooks(big, "vec_id", "embedding", m = 2, k = 2,
        iterations = 1).collect()
    }
    assert(e.getMessage.contains("2^32"), s"wrong failure: ${e.getMessage}")
  }

  test("high-rounds training rotates checkpoints and stays deterministic") {
    // 9 rounds crosses two rotation points (i=4, i=8); values must be
    // unaffected (a checkpoint is value-preserving) and a rerun
    // reproduces the codebook bit-for-bit
    val m = 4
    def cb() = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
        iterations = 9)
      .orderBy("sub", "cid").collect().toSeq
    val a = cb()
    assert(a.nonEmpty && a.size <= 8 * m)
    assert(cb() == a, "high-rounds codebook not rerun-stable")
  }

  test("purge: both ledgers retract ≡ full recompute over the survivors") {
    // the q211/q212 contract at spec scale: scoring ONLY the doomed
    // rows and subtracting through the Ledger spine must land
    // bit-identical to recomputing the report over what remains —
    // integer sums make the retraction exact, fixed codebooks make
    // the doomed rows' contribution recomputable from them alone
    val history = emb.filter(col("vec_id") % 3 > 0)
    val doomed = history.filter(col("vec_id") % 5 === 0)
    val survivors = history.filter(col("vec_id") % 5 =!= 0)
    assert(doomed.count() > 0, "vacuous purge fixture")
    val coarse = Ivf.centroids(history, "vec_id", "embedding", 8, 2)
    val stored = Ivf.cellHealth(coarse, history, "vec_id", "embedding")
    val purged = Ivf.purgeCellHealth(coarse, stored, doomed,
      "vec_id", "embedding").orderBy("cid").collect().toSeq
    val full = Ivf.cellHealth(coarse, survivors, "vec_id", "embedding")
      .orderBy("cid").collect().toSeq
    assert(purged == full, "health retraction diverged from recompute")

    val cbs = Pq.codebooks(history, "vec_id", "embedding", m = 4,
      k = 8, iterations = 2)
    val storedE = Pq.quantizationErrorAgainst(cbs, history, "vec_id",
      "embedding", 4)
    val purgedE = Pq.purgeQuantizationError(cbs, storedE, doomed,
      "vec_id", "embedding", 4).orderBy("sub").collect().toSeq
    val fullE = Pq.quantizationErrorAgainst(cbs, survivors, "vec_id",
      "embedding", 4).orderBy("sub").collect().toSeq
    assert(purgedE == fullE, "error retraction diverged from recompute")
  }

  test("assignEnergyExpr ≡ batch assignment; per-cell sums ≡ cellHealth") {
    // the in-row (plan-literal) assignment is what lets a stream score
    // arriving vectors statelessly — it must be bit-equivalent to the
    // cross-fan + argmin-aggregate batch path, cid AND energy
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val cents = Ivf.localCentroids(coarse)
    assert(cents.nonEmpty && cents.size <= 8)
    val inRow = Ivf.quantized(emb, "vec_id", "embedding")
      .select(col("vec_id"),
        Ivf.assignEnergyExpr(col("qvec"), cents).as("a"))
      .select(col("vec_id"), col("a.cid").as("cid"),
        col("a.energy").as("energy"))
    val batch = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    assert(inRow.select("vec_id", "cid").orderBy("vec_id").collect().toSeq ==
      batch.orderBy("vec_id").collect().toSeq,
      "in-row cid diverged from the batch argmin")
    val perCell = inRow.groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("energy")).as("residual_energy"))
      .orderBy("cid").collect().toSeq
    val health = Ivf.cellHealth(coarse, emb, "vec_id", "embedding")
      .filter(col("n_vectors") > 0)
      .select(col("cid"), col("n_vectors"), col("residual_energy"))
      .orderBy("cid").collect().toSeq
    assert(perCell == health, "in-row energies diverged from cellHealth")
  }

  test("calibrationBounds: exact rank picks on a known census") {
    val s = spark
    import s.implicits._
    // raw values 1,1,2,2,2,3,4,6,7,8,9 (n = 11; whole floats → exact
    // grid v·10⁶): rank (n−1)·10 DIV 1000 = 0 → p_lo = value at sorted
    // index 0 = 1; rank (n−1)·990 DIV 1000 = 9 → p_hi = 8
    val xs = Seq(3, 1, 1, 2, 2, 2, 7, 9, 4, 6, 8)
    val e = xs.zipWithIndex
      .map { case (v, i) => (i.toLong, Array(v.toFloat)) }
      .toDF("vec_id", "embedding")
    val r = Quantize.calibrationBounds(e, "vec_id", "embedding",
      loPermille = 10, hiPermille = 990).collect()
    assert(r.length == 1)
    val row = r.head
    val M = 1000000L
    assert(row.getAs[Long]("n") == 11L)
    assert(row.getAs[Long]("vmin") == 1L * M &&
      row.getAs[Long]("vmax") == 9L * M)
    assert(row.getAs[Long]("p_lo") == 1L * M,
      s"p_lo = ${row.getAs[Long]("p_lo")}")
    assert(row.getAs[Long]("p_hi") == 8L * M,
      s"p_hi = ${row.getAs[Long]("p_hi")}")
  }

  test("value census: merge over an arbitrary cut ≡ full calibration") {
    // the q221 exactness claim on a DIFFERENT cut than the gated one:
    // the census is an exact distribution whose counts add, so bounds
    // over any merged cut equal the full-corpus calibration
    val merged = Quantize.boundsFromCensus(
      Quantize.mergeValueCensus(
        Quantize.valueCensus(emb.filter(col("vec_id") % 7 < 2),
          "vec_id", "embedding"),
        Quantize.valueCensus(emb.filter(col("vec_id") % 7 >= 2),
          "vec_id", "embedding")),
      10, 990).orderBy("d").collect().toSeq
    val full = Quantize.calibrationBounds(emb, "vec_id", "embedding",
      10, 990).orderBy("d").collect().toSeq
    assert(merged == full, "cut-merged census diverged from full")
  }

  test("calibrated audit: degenerate dim codes to zero, clip edges count") {
    val s = spark
    import s.implicits._
    // dim 1 constant (hi = lo — the degenerate lane: code 0, dequant
    // lo, zero error); dim 2 spans 0..10 with permille bounds at
    // 0/1000 → lo = min, hi = max, nothing clips and the affine
    // round-trip error is bounded by the step size
    val e = (0 to 10).map(i => (i.toLong, Array(5f, i.toFloat)))
      .toDF("vec_id", "embedding")
    val bounds = Quantize.calibrationBounds(e, "vec_id", "embedding",
      0, 1000)
    val audit = Quantize.calibratedErrorAudit(e, "vec_id", "embedding",
        bounds)
      .orderBy("d").collect()
    assert(audit.length == 2)
    val d1 = audit(0)
    assert(d1.getAs[Long]("err_sum") == 0L &&
      d1.getAs[Long]("n_clip_lo") == 0L &&
      d1.getAs[Long]("n_clip_hi") == 0L,
      s"degenerate dim not clean: $d1")
    val d2 = audit(1)
    assert(d2.getAs[Long]("n_clip_lo") == 0L &&
      d2.getAs[Long]("n_clip_hi") == 0L, s"full-range bounds clipped: $d2")
    // tight bounds MUST clip: permille 100/900 on 0..10 → lo = 1e6,
    // hi = 9e6, exactly one value under and one over
    val tight = Quantize.calibratedErrorAudit(e, "vec_id", "embedding",
        Quantize.calibrationBounds(e, "vec_id", "embedding", 100, 900))
      .orderBy("d").collect()(1)
    assert(tight.getAs[Long]("n_clip_lo") == 1L &&
      tight.getAs[Long]("n_clip_hi") == 1L, s"clip census wrong: $tight")
  }

  test("calibrated IVF search probing all cells ≡ brute-force calibrated search") {
    // the q185 discipline on the calibrated axis: routing must cost
    // recall only through nprobe — probing every cell reproduces the
    // exact brute force bit-for-bit
    val k = 4
    val bounds = Quantize.calibrationBounds(emb, "vec_id", "embedding",
      10, 990)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    val assigned = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val codes = Quantize.calibratedCodes(emb, "vec_id", "embedding",
      bounds)
    val q = emb.filter(col("vec_id") < 5)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("q_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
    val routed = rows(Quantize.calibratedIvfSearch(coarse, assigned,
      codes, q, "vec_id", "embedding", bounds, nprobe = k, topK = 5))
    val brute = rows(Quantize.calibratedSearch(codes, q, "vec_id",
      "embedding", bounds, topK = 5))
    assert(routed == brute, "probing-all routed search diverged from brute")
  }

  test("upsert ≡ recompute over the restated corpus; delete∘append composes") {
    // the q231 contract at spec scale, with a different restatement
    // cut and transform than the gated query: retract-old + merge-new
    // must equal a from-scratch health pass over the modified corpus
    val history = emb.filter(col("vec_id") % 3 > 0)
    val oldRows = history.filter(col("vec_id") % 4 === 1)
    val newRows = oldRows.select(col("vec_id"),
      reverse(col("embedding")).as("embedding"))
    val coarse = Ivf.centroids(history, "vec_id", "embedding", 8, 2)
    val stored = Ivf.cellHealth(coarse, history, "vec_id", "embedding")
    val up = Ivf.upsertCellHealth(coarse, stored, oldRows, newRows,
      "vec_id", "embedding").orderBy("cid").collect().toSeq
    val modified = history.filter(col("vec_id") % 4 =!= 1)
      .select(col("vec_id"), col("embedding"))
      .unionByName(newRows)
    val full = Ivf.cellHealth(coarse, modified, "vec_id", "embedding")
      .orderBy("cid").collect().toSeq
    assert(up == full, "upsert diverged from restated-corpus recompute")
  }

  test("calibrated search is lossless on the code lattice ≡ exact L2") {
    val s = spark
    import s.implicits._
    // every dim spans exactly [0, 255] in whole floats, so the 256
    // code levels hit the grid values exactly: encode→dequant is the
    // identity and the calibrated distances must equal exact
    // integral-grid L2 — the quantization-error-free base case
    val vecs = Seq(
      0L -> Array(0f, 0f, 0f, 0f), 1L -> Array(255f, 255f, 255f, 255f),
      2L -> Array(10f, 20f, 30f, 40f), 3L -> Array(200f, 5f, 100f, 50f),
      4L -> Array(1f, 254f, 7f, 99f))
    val e = vecs.toDF("vec_id", "embedding")
    val bounds = Quantize.calibrationBounds(e, "vec_id", "embedding",
      0, 1000)
    val got = Quantize.calibratedSearchTopK(e, e.filter(col("vec_id") < 2),
        "vec_id", "embedding", bounds, topK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    def g(v: Array[Float]) = v.map(x => math.floor(x * 1e6).toLong)
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = (for {
      (qi, qv) <- vecs.take(2)
      (ni, nv) <- vecs if ni != qi
    } yield (qi, ni, d2(g(qv), g(nv)))).toSet
    assert(got == want, s"lossless lattice diverged: $got vs $want")
  }

  test("purge: total delete zeros the ledger on the full spine; purgeCodes drops exactly the tombstones") {
    val history = emb.filter(col("vec_id") % 3 > 0)
    val coarse = Ivf.centroids(history, "vec_id", "embedding", 8, 2)
    val stored = Ivf.cellHealth(coarse, history, "vec_id", "embedding")
    // deleting the whole indexed population: every cell must report
    // (0, 0, 0) and STAY PRESENT (the spine survives the purge — an
    // empty index is an index, not an empty report)
    val wiped = Ivf.purgeCellHealth(coarse, stored, history,
      "vec_id", "embedding").collect()
    assert(wiped.length == stored.count(),
      s"spine shrank: ${wiped.length} of ${stored.count()} cells")
    assert(wiped.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L &&
      r.getLong(3) == 0L), "total delete left nonzero ledger mass")

    val doomed = history.filter(col("vec_id") % 5 === 0)
    val assigned = Ivf.assignIds(
        Ivf.quantized(history, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val kept = Pq.purgeCodes(assigned, doomed, "vec_id")
    assert(kept.count() == assigned.count() - doomed.count(),
      "purgeCodes row accounting off")
    assert(kept.join(doomed.select("vec_id"), Seq("vec_id"),
      "left_semi").isEmpty, "a tombstoned id survived the purge")
  }

  test("filtered search probing all cells ≡ brute force over the filtered corpus") {
    // the q185 discipline on the filtered axis (q235): the predicate
    // restricts WHICH vectors can be neighbors, the routing restricts
    // only recall — probing every cell must reproduce the brute-force
    // top-k over the predicate-filtered corpus bit-for-bit
    val k = 4
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    val index = Ivf.flatIndex(coarse, emb, "vec_id", "embedding",
      Seq("label"))
    val q = emb.filter(col("vec_id") < 5)
    val routed = Ivf.filteredSearch(coarse, index, q, "vec_id",
        "embedding", col("label") === 3, nprobe = k, topK = 5)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    val qv = Ivf.quantized(q, "vec_id", "embedding")
      .select(col("vec_id").as("q_id"), col("qvec").as("qv"))
    val nv = Ivf.quantized(emb.filter(col("label") === 3), "vec_id",
        "embedding")
      .select(col("vec_id").as("n_id"), col("qvec").as("nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2").asc, col("n_id").asc)
    val brute = nv.crossJoin(broadcast(qv))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("d2", aggregate(zip_with(col("qv"), col("nv"),
        (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, v) => acc + v)
        .cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Long]("d2"), r.getAs[Int]("rnk")))
      .toSeq
    assert(routed == brute, "probing-all filtered search diverged from brute")
    // and every returned neighbor satisfies the predicate
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(routed.forall(t => labels(t._2) == 3),
      "a neighbor escaped the predicate")
  }

  test("flatIndex: assignment matches assignIds; attributes ride unchanged") {
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 4, 2)
    val index = Ivf.flatIndex(coarse, emb, "vec_id", "embedding",
      Seq("label"))
    val viaIds = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid").as("cid2"))
    assert(index.join(viaIds, Seq("vec_id"))
      .filter(col("cid") =!= col("cid2")).isEmpty,
      "flatIndex assignment diverged from assignIds")
    val attrs = emb.select(col("vec_id"), col("label").as("label2"))
    assert(index.join(attrs, Seq("vec_id"))
      .filter(col("label") =!= col("label2")).isEmpty,
      "an attribute was corrupted by the argmin ride-along")
    assert(index.count() == emb.count(), "index row count off")
  }

  test("tombstone mask: deleted ids never served; probing-all ≡ brute over live set") {
    // the q236 contract: masking the assignment table hides exactly
    // the tombstoned ids from search, and the routed masked search
    // probing every cell equals the brute calibrated search over the
    // purged corpus
    val k = 4
    val bounds = Quantize.calibrationBounds(emb, "vec_id", "embedding",
      10, 990)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    val assigned = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val codes = Quantize.calibratedCodes(emb, "vec_id", "embedding",
      bounds)
    val tomb = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    val live = Pq.purgeCodes(assigned, tomb, "vec_id")
    val q = emb.filter(col("vec_id") < 5)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("q_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
    val masked = rows(Quantize.calibratedIvfSearch(coarse, live, codes,
      q, "vec_id", "embedding", bounds, nprobe = k, topK = 5))
    assert(masked.forall(_._2 % 4 != 0), "a tombstoned id was served")
    val brute = rows(Quantize.calibratedSearch(
      Pq.purgeCodes(codes, tomb, "vec_id"), q, "vec_id", "embedding",
      bounds, topK = 5))
    assert(masked == brute, "masked probing-all diverged from brute over live set")
  }

  test("recallAudit: self-comparison is 1.0; all-miss queries report 0, not nothing") {
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 4, 2)
    val index = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val q = emb.filter(col("vec_id") < 5)
    val exact = Ivf.filteredSearch(coarse, index, q, "vec_id",
      "embedding", lit(true), nprobe = 4, topK = 5)
    val self = Similarity.recallAudit(exact, exact, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(self.length == 5 && self.forall(t =>
      t._2 == 5L && t._3 == 1000000L), self.mkString(", "))
    // an approximate side that returned NOTHING for any query must
    // still report every exact-side query, at zero
    val empty = exact.filter(lit(false))
    val zero = Similarity.recallAudit(empty, exact, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(zero.length == 5 && zero.forall(t => t._2 == 0L && t._3 == 0L),
      zero.mkString(", "))
  }

  test("calibrated rerank funnel: probing-all + corpus-wide shortlist ≡ exact brute") {
    // the funnel's contract: calibration error decides only WHICH
    // candidates reach the rerank — with every cell probed and the
    // shortlist as wide as the corpus, nothing is excluded and the
    // funnel must reproduce the exact search bit-for-bit (including
    // distances: both sides are integral-grid L2)
    val k = 4
    val n = emb.count().toInt
    val bounds = Quantize.calibrationBounds(emb, "vec_id", "embedding",
      10, 990)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    val assigned = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val codes = Quantize.calibratedCodes(emb, "vec_id", "embedding",
      bounds)
    val q = emb.filter(col("vec_id") < 5)
    val funnel = Quantize.calibratedIvfRerank(coarse, assigned, codes,
        emb, q, "vec_id", "embedding", bounds, nprobe = k,
        shortlistK = n, topK = 5)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val exact = Ivf.filteredSearch(coarse,
        Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil),
        q, "vec_id", "embedding", lit(true), nprobe = k, topK = 5)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toDouble,
        r.getInt(3)))
      .toSeq
    assert(funnel == exact,
      "probing-all corpus-shortlist funnel diverged from exact brute")
    // and a shortlist narrower than topK is a loud contract violation
    intercept[IllegalArgumentException] {
      Quantize.calibratedIvfRerank(coarse, assigned, codes, emb, q,
        "vec_id", "embedding", bounds, nprobe = 1, shortlistK = 2,
        topK = 5)
    }
  }

  test("encodeIndexed: codes ≡ encode; attributes ride unchanged") {
    val m = 4
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val plain = Pq.encode(emb, "vec_id", "embedding", m, cbs)
      .select(col("vec_id"), col("codes").as("codes2"))
    val indexed = Pq.encodeIndexed(emb, "vec_id", "embedding", m, cbs,
      Seq("label"))
    assert(indexed.join(plain, Seq("vec_id"))
      .filter(col("codes") =!= col("codes2")).isEmpty,
      "encodeIndexed codes diverged from encode")
    val attrs = emb.select(col("vec_id"), col("label").as("label2"))
    assert(indexed.join(attrs, Seq("vec_id"))
      .filter(col("label") =!= col("label2")).isEmpty,
      "an attribute was corrupted by the code-row ride-along")
    assert(indexed.count() == emb.count(), "indexed row count off")
  }

  test("filtered IVF-PQ probing all cells ≡ brute ADC over the filtered corpus") {
    // the q235 no-under-fill discipline on the COMPRESSED family:
    // with every cell probed, the predicate-filtered routed search
    // must equal adcSearch over codes of the predicate-filtered
    // corpus bit-for-bit (fixed codebooks make encode(filtered) ≡
    // filter(encode), so this also proves the predicate ≡ a physical
    // corpus restriction)
    val numCoarse = 4
    val m = 4
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", numCoarse, 2)
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val assigned = Ivf.flatIndex(coarse, emb, "vec_id", "embedding",
        Seq("label"))
      .select(col("vec_id"), col("cid"), col("label"))
    val codes = Pq.encode(emb, "vec_id", "embedding", m, cbs)
    val q = emb.filter(col("vec_id") < 5)
    val routed = Pq.ivfPqSearch(coarse, cbs,
        assigned.filter(col("label") === 3).select("vec_id", "cid"),
        codes, q, "vec_id", "embedding", m, nprobe = numCoarse, topK = 5)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val brute = Pq.adcSearch(cbs,
        Pq.encode(emb.filter(col("label") === 3), "vec_id", "embedding",
          m, cbs),
        q, "vec_id", "embedding", m, topK = 5)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(routed == brute,
      "probing-all filtered IVF-PQ diverged from brute ADC over the filtered corpus")
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(routed.forall(t => labels(t._2) == 3),
      "a neighbor escaped the predicate")
  }

  test("filtered ADC: codes.filter(pred) ≡ encode over the filtered corpus") {
    val m = 4
    val cbs = Pq.codebooks(emb, "vec_id", "embedding", m, k = 8,
      iterations = 2)
    val q = emb.filter(col("vec_id") < 5)
    val viaFilter = Pq.adcSearch(cbs,
        Pq.encodeIndexed(emb, "vec_id", "embedding", m, cbs, Seq("label"))
          .filter(col("label") === 3),
        q, "vec_id", "embedding", m, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val viaRestrict = Pq.adcSearch(cbs,
        Pq.encode(emb.filter(col("label") === 3), "vec_id", "embedding",
          m, cbs),
        q, "vec_id", "embedding", m, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(viaFilter == viaRestrict,
      "filtered compressed scan diverged from physical corpus restriction")
  }

  test("residual stored round-trip: residualSearch over residualEncode ≡ inline topK") {
    val numCoarse = 4
    val m = 4
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", numCoarse, 2)
    val cbs = Pq.residualCodebooks(emb, "vec_id", "embedding", coarse,
      m, numCentroids = 8, pqIterations = 2)
    val stored = Pq.residualEncode(emb, "vec_id", "embedding", coarse,
      cbs, m)
    val q = emb.filter(col("vec_id") < 5)
    val viaStored = Pq.residualSearch(coarse, cbs, stored, q, "vec_id",
        "embedding", m, nprobe = 2, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val inline = Pq.residualIvfPqTopK(emb, q, "vec_id", "embedding",
        numCoarse, coarseIterations = 2, m, numCentroids = 8,
        pqIterations = 2, nprobe = 2, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(viaStored == inline,
      "stored residual search diverged from the inline build+search")
  }

  test("filtered residual search: predicate ≡ corpus restriction under fixed codebooks") {
    val numCoarse = 4
    val m = 4
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", numCoarse, 2)
    val cbs = Pq.residualCodebooks(emb, "vec_id", "embedding", coarse,
      m, numCentroids = 8, pqIterations = 2)
    val stored = Pq.residualEncode(emb, "vec_id", "embedding", coarse,
      cbs, m, Seq("label"))
    val q = emb.filter(col("vec_id") < 5)
    val viaFilter = Pq.residualSearch(coarse, cbs,
        stored.filter(col("label") === 3), q, "vec_id", "embedding", m,
        nprobe = numCoarse, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val viaRestrict = Pq.residualSearch(coarse, cbs,
        Pq.residualEncode(emb.filter(col("label") === 3), "vec_id",
          "embedding", coarse, cbs, m),
        q, "vec_id", "embedding", m, nprobe = numCoarse, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(viaFilter == viaRestrict,
      "filtered residual serving diverged from physical corpus restriction")
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaFilter.forall(r => labels(r.getLong(1)) == 3),
      "a neighbor escaped the predicate")
  }

  test("probeCost: cells = min(nprobe, k); candidates monotone; full probe = N-1") {
    val k = 4
    val n = emb.count()
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    val assigned = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val q = emb.filter(col("vec_id") < 5)
    val byNp = Seq(1, 2, k, k + 3).map { np =>
      np -> Ivf.probeCost(coarse, assigned, q, "vec_id", "embedding", np)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }.toMap
    val qids = byNp(1).keySet
    assert(qids == Set(0L, 1L, 2L, 3L, 4L), "query spine off")
    for (np <- Seq(1, 2, k, k + 3); qid <- qids) {
      val (cells, _) = byNp(np)(qid)
      assert(cells == math.min(np, k).toLong,
        s"cells_probed=$cells at nprobe=$np (k=$k)")
    }
    // candidates grow (weakly) with nprobe and cap at N-1 when every
    // cell is probed — the query's own row is the only exclusion
    for (qid <- qids) {
      val cand = Seq(1, 2, k).map(np => byNp(np)(qid)._2)
      assert(cand == cand.sorted, s"candidates not monotone for $qid")
      assert(byNp(k)(qid)._2 == n - 1,
        s"full probe should score all ${n - 1} others, got ${byNp(k)(qid)._2}")
      assert(byNp(k + 3)(qid)._2 == n - 1, "nprobe > k changed the full probe")
    }
  }

  test("maxSim: single-vector bags ≡ plain dot ranking; hand-checked maxima add") {
    val s = spark
    import s.implicits._
    // hand fixture: 2-dim vectors, 2 per bag. score(q, d) =
    // Σ_i max_j <q_i, d_j> over the 1e6 grid
    val docs = Seq(
      (10L, 0, Array(1f, 0f)), (10L, 1, Array(0f, 1f)),
      (20L, 0, Array(2f, 0f)), (20L, 1, Array(0f, 0f)),
      (30L, 0, Array(1f, 1f)), (30L, 1, Array(-1f, 2f)))
      .toDF("id", "vi", "v")
    val q = Seq((1L, 0, Array(1f, 0f)), (1L, 1, Array(0f, 1f)))
      .toDF("id", "vi", "v")
    val got = Similarity.maxSimTopK(docs, q, "id", "vi", "v", topK = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq.sortBy(_._3)
    val g = 1e6.toLong * 1e6.toLong // one grid unit squared
    // q0=(1,0): best of doc10 = 1g (vec 0); q1=(0,1): best = 1g → 2g
    // doc20: q0 best = 2g, q1 best = 0 → 2g (tie with 10, id asc)
    // doc30: q0 best = 1g (vec 0), q1 best = 2g (vec 1) → 3g
    assert(got == Seq((30L, 3 * g, 1), (10L, 2 * g, 2), (20L, 2 * g, 3)),
      s"maxsim hand fixture wrong: $got")
    // single-vector bags collapse MaxSim to the plain dot ranking
    val single = emb.select(col("vec_id"), lit(0).as("vi"),
      col("embedding").as("v"))
    val viaMaxSim = Similarity.maxSimTopK(single,
        single.filter(col("vec_id") < 5), "vec_id", "vi", "v", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._3))
    val qv = Ivf.quantized(emb.filter(col("vec_id") < 5), "vec_id",
        "embedding")
      .select(col("vec_id").as("q_id"), col("qvec").as("__qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("__dot").desc, col("n_id").asc)
    val viaDot = Ivf.quantized(emb, "vec_id", "embedding")
      .select(col("vec_id").as("n_id"), col("qvec"))
      .crossJoin(broadcast(qv))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("__dot",
        graft.functions.VectorFunctions.dot(col("__qv"), col("qvec"))
          .cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rnk")))
      .toSeq.sortBy(t => (t._1, t._3))
    assert(viaMaxSim == viaDot,
      "single-vector MaxSim diverged from the plain dot ranking")
  }

  test("routed MaxSim probing all cells ≡ the unrouted scorer") {
    val s = spark
    val k = 4
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
          explode(sequence(lit(0), lit(3))).as("vec_idx"),
          col("embedding"))
        .select(col("vec_id"), col("vec_idx"),
          expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    val assigned = Ivf.assignIds(
        Ivf.quantized(emb, "vec_id", "embedding"), coarse)
      .select(col("vec_id"), col("cid"))
    val q = emb.filter(col("vec_id") < 5)
    val routed = Similarity.maxSimRouted(coarse, assigned, bag(emb),
        bag(q), q, "vec_id", "vec_idx", "vec", "embedding",
        nprobe = k, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val plain = Similarity.maxSimTopK(bag(emb), bag(q), "vec_id",
        "vec_idx", "vec", topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(routed == plain,
      "probing-all routed MaxSim diverged from the unrouted scorer")
  }

  test("NN-descent: per-vertex top-k mass monotone non-increasing; one cell converges to exact") {
    val k = 5
    // monotone: current edges stay candidates, so each refine round's
    // per-vertex top-k distance sum can only shrink or hold
    def mass(g: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      g.groupBy("src").agg(sum("d2").as("m")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val seed = Similarity.knnGraphSeed(coarse, emb, "vec_id",
      "embedding", k)
    val r1 = Similarity.nnDescentRound(emb, seed, "vec_id",
      "embedding", k)
    val r2 = Similarity.nnDescentRound(emb,
      graft.util.CacheScope.persist(r1), "vec_id", "embedding", k)
    val (m0, m1, m2) = (mass(seed), mass(r1), mass(r2))
    for (src <- m0.keys) {
      assert(m1(src) <= m0(src), s"round 1 regressed vertex $src")
      assert(m2(src) <= m1(src), s"round 2 regressed vertex $src")
    }
    // with ONE coarse cell the seed already sees the whole corpus —
    // it IS the exact graph, and a refine round is a fixed point
    val one = Ivf.centroids(emb, "vec_id", "embedding", 1, 1)
    val exactSeed = Similarity.knnGraphSeed(one, emb, "vec_id",
      "embedding", k)
    val refined = Similarity.nnDescentRound(emb, exactSeed, "vec_id",
        "embedding", k)
      .orderBy("src", "rnk").collect().toSeq
    assert(refined == exactSeed.orderBy("src", "rnk").collect().toSeq,
      "the exact graph must be a fixed point of NN-descent")
  }

  test("graph search walks the line: hop count bounds progress, enough hops arrive") {
    val s = spark
    import s.implicits._
    // 1-D corpus 0..9, exact 2-NN graph (one cell sees everything) —
    // from entry vertex 0, a beam-2 walk toward 9.4 advances one
    // vertex per hop: after h >= 1 hops the beam is {h+1, h}
    val base = (0L to 9L).map(i => (i, Array(i.toFloat)))
      .toDF("vec_id", "embedding")
    val one = Ivf.centroids(base, "vec_id", "embedding", 1, 1)
    val g = Similarity.knnGraphSeed(one, base, "vec_id", "embedding", 2)
    val q = Seq((100L, Array(9.4f))).toDF("vec_id", "embedding")
    def walk(hops: Int) = Similarity.graphSearch(g, base, q, "vec_id",
        "embedding", entryK = 1, beam = 2, hops = hops, topK = 2)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(walk(3) == Seq(4L, 3L), s"3 hops should reach {4,3}: ${walk(3)}")
    assert(walk(8) == Seq(9L, 8L), s"8 hops should arrive: ${walk(8)}")
    // arrival is a fixed point — extra hops change nothing
    assert(walk(10) == Seq(9L, 8L), "the walk left the optimum")
  }

  test("RNG prune: edges only drop, rank-1 survives, same-direction shortcuts thin, line still arrives") {
    val s = spark
    import s.implicits._
    // real corpus: pruned ⊆ stored and every rank-1 edge survives
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", 5)
    val pruned = Similarity.pruneGraphRng(g, emb, "vec_id", "embedding", 5)
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (gSet, pSet) = (edgeSet(g), edgeSet(pruned))
    assert(pSet.subsetOf(gSet), "pruning may only drop edges")
    assert(pSet.size < gSet.size,
      "the near-random corpus must contain at least one covered edge")
    assert(edgeSet(g.filter(col("rnk") === 1)).subsetOf(pSet),
      "every rank-1 edge must survive")
    // 1-D line, k = 2 — the rule's semantics hand-checked: an interior
    // vertex keeps BOTH sides (distinct directions — d²(i−1, i+1) = 4
    // is never < d²(i, i±1) = 1 on the grid), while an endpoint's +2
    // shortcut is covered through its +1 edge (same direction,
    // d²(1, 2) = 1 < d²(0, 2) = 4) and drops
    val base = (0L to 9L).map(i => (i, Array(i.toFloat)))
      .toDF("vec_id", "embedding")
    val one = Ivf.centroids(base, "vec_id", "embedding", 1, 1)
    val lg = Similarity.knnGraphSeed(one, base, "vec_id", "embedding", 2)
    val lp = Similarity.pruneGraphRng(lg, base, "vec_id", "embedding", 2)
    val endpoint = lp.filter(col("src") === 0)
      .select("dst").collect().map(_.getLong(0)).toSeq
    assert(endpoint == Seq(1L),
      s"line endpoint must keep only its adjacent edge: $endpoint")
    val interior = lp.filter(col("src") === 5).orderBy("rnk")
      .select("dst").collect().map(_.getLong(0)).toSeq
    assert(interior == Seq(4L, 6L),
      s"interior vertex keeps both directions: $interior")
    // the pruned line is the plain adjacency chain — the walk pays ONE
    // extra hop for the dropped endpoint shortcut (redundancy is what
    // was pruned) and still arrives at the same fixed point
    val q = Seq((100L, Array(9.4f))).toDF("vec_id", "embedding")
    def walkP(hops: Int) = Similarity.graphSearch(lp, base, q, "vec_id",
        "embedding", entryK = 1, beam = 2, hops = hops, topK = 2)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(walkP(9) == Seq(9L, 8L), s"pruned walk must arrive: ${walkP(9)}")
    assert(walkP(11) == Seq(9L, 8L), "the pruned walk left the optimum")
    // MANIFEST-VERIFIED serve from the STORED pruned table (q252's
    // verify-before-serve on the pruned artifact): the parquet
    // round-trip's manifest must equal the build's manifest BEFORE
    // anything walks it — a dropped part-file surfaces here, not as
    // silently wrong neighbors — and the stored walk ≡ the in-plan
    // walk
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_stored_pruned").toString
    pruned.write.parquet(s"$sdir/pruned")
    val storedP = spark.read.parquet(s"$sdir/pruned")
    def pManifest(df: org.apache.spark.sql.DataFrame) =
      Layout.indexManifest(Seq(("pruned", df,
          concat_ws("|", col("src"), col("dst"), col("d2"),
            col("rnk")))))
        .collect().toSeq
    assert(pManifest(storedP) == pManifest(pruned),
      "stored pruned manifest diverged from the build manifest — " +
        "refuse to serve")
    val qp = emb.filter(col("vec_id") < 5)
    def pServe(graph: org.apache.spark.sql.DataFrame) =
      Similarity.graphSearch(graph, emb, qp, "vec_id", "embedding",
          entryK = 2, beam = 5, hops = 2, topK = 5)
        .orderBy("q_id", "rnk").collect().toSeq
    assert(pServe(storedP) == pServe(pruned),
      "stored pruned serving diverged from the in-plan serve")
    // fail-loud preconditions: a k smaller than the stored graph's
    // build k must raise (ranks past k would silently vanish from the
    // pruned graph — neither kept nor consulted as covers), and α
    // past the 2⁸ Long-overflow bound must raise
    intercept[IllegalArgumentException] {
      Similarity.pruneGraphRng(g, emb, "vec_id", "embedding", 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.pruneGraphRng(g, emb, "vec_id", "embedding", 5,
        alphaNum = 257L)
    }
    // the layered α sweep is exactly the flat sweep mapped over the
    // layer slices (select-neighbors is per-layer; layers share only
    // the vectors)
    val lg1 = Similarity.layeredKnnGraph(emb, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, k = 5, maxLayer = 1)
    val sweepAlphas = Seq((1L, 1L), (3L, 2L))
    val layeredCensus = Similarity.pruneLayeredSweep(lg1, emb,
        "vec_id", "embedding", k = 5, maxLayer = 1, sweepAlphas)
      .orderBy("layer", "a_num", "a_den").collect().toSeq
    val perLayer = (0 to 1).flatMap { l =>
      Similarity.pruneSweep(
          lg1.filter(col("layer") === l)
            .select(col("src"), col("dst"), col("d2"), col("rnk")),
          emb, "vec_id", "embedding", k = 5, sweepAlphas)
        .withColumn("layer", lit(l))
        .select("layer", "a_num", "a_den", "n_edges", "n_srcs",
          "max_degree")
        .orderBy("a_num", "a_den").collect().toSeq
    }
    assert(layeredCensus == perLayer,
      "layered sweep diverged from the per-layer flat sweep")
    // the census From-variants over the (in-plan) fold caches ≡ the
    // graph-input sweeps (the stored-cache serving contract; the
    // parquet round-trip itself is pinned in the recall-sweep lane)
    assert(Similarity.pruneLayeredSweepFrom(
        Similarity.pruneLayeredFoldCache(lg1, emb, "vec_id",
          "embedding", 5, 1), 5, 1, sweepAlphas)
        .orderBy("layer", "a_num", "a_den").collect().toSeq ==
      layeredCensus,
      "cache-served layered census diverged from the graph-input sweep")
    val flatG = lg1.filter(col("layer") === 0)
      .select(col("src"), col("dst"), col("d2"), col("rnk"))
    assert(Similarity.pruneSweepFrom(
        Similarity.pruneFoldCache(flatG, emb, "vec_id", "embedding", 5),
        5, sweepAlphas)
        .orderBy("a_num", "a_den").collect().toSeq ==
      Similarity.pruneSweep(flatG, emb, "vec_id", "embedding", 5,
          sweepAlphas)
        .orderBy("a_num", "a_den").collect().toSeq,
      "cache-served flat census diverged from the graph-input sweep")
  }

  test("layered upsert: incremental ≡ full rebuild on a multi-cell batch") {
    // the FULL-SUPERSET shape (a batch touching every cell): the q283
    // gate moved to a fine geometry + sparse batch where the
    // O(changed) bound shows, so this lane keeps the worst-case batch
    // pinned — every layer re-elects everything and the result must
    // still equal the full rebuild over the restated corpus
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    val batch = Ivf.flatIndex(coarse,
      emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", Nil)
    val restated = emb.select(col("vec_id"),
      when(col("vec_id") % 7 === 0, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val inc = Similarity.upsertLayeredKnnSeed(lg, idx, batch, k = 5,
        maxLayer = 2)
      .orderBy("layer", "src", "rnk").collect().toSeq
    val full = Similarity.layeredKnnGraphWith(coarse, restated,
        "vec_id", "embedding", k = 5, maxLayer = 2)
      .orderBy("layer", "src", "rnk").collect().toSeq
    assert(inc == full,
      "layered upsert diverged from the full restated rebuild")
  }

  test("pruned-graph upsert: incremental ≡ full re-prune on two batch shapes") {
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", 5)
    val pruned = Similarity.pruneGraphRng(g, emb, "vec_id", "embedding", 5)
    def restatedCorpus(pred: org.apache.spark.sql.Column) =
      emb.select(col("vec_id"),
        when(pred, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
    def check(pred: org.apache.spark.sql.Column, label: String): Unit = {
      val batch = Ivf.flatIndex(coarse,
        emb.filter(pred)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", Nil)
      val inc = Similarity.upsertPrunedKnnSeed(g, pruned, idx, batch, 5)
        .orderBy("src", "rnk").collect().toSeq
      val full = Similarity.pruneGraphRng(
          Similarity.upsertKnnSeed(g, idx, batch, 5),
          restatedCorpus(pred), "vec_id", "embedding", 5)
        .orderBy("src", "rnk").collect().toSeq
      assert(inc == full,
        s"$label: incremental pruned upsert diverged from the full re-prune")
    }
    // multi-cell restatement (the gate's shape) and a single-id batch
    // (most sources pass through verbatim — the O(changed) case)
    check(col("vec_id") % 7 === 0, "multi-cell")
    check(col("vec_id") === 7, "single-id")
    // PURGE: incremental ≡ the full re-prune of the purged graph —
    // deletion never changes a surviving vector, so only the
    // re-elected (adjacent-to-deleted) sources re-prune
    def checkPurge(pred: org.apache.spark.sql.Column, label: String): Unit = {
      val tombs = emb.filter(pred).select("vec_id")
      val tombIds = tombs.collect().map(_.getLong(0)).toSet
      val incP = Similarity.purgePrunedKnnGraph(g, pruned, idx, tombs, 5)
        .orderBy("src", "rnk").collect().toSeq
      val fullP = Similarity.pruneGraphRng(
          Similarity.purgeKnnGraph(g, idx, tombs, 5),
          emb.filter(!pred), "vec_id", "embedding", 5)
        .orderBy("src", "rnk").collect().toSeq
      assert(incP == fullP,
        s"$label: incremental pruned purge diverged from the full re-prune")
      // assert the tombstoned ids directly per lane — the earlier
      // %5-specific form was vacuously true for the single-id lane
      assert(incP.forall(r => !tombIds.contains(r.getLong(0))),
        s"$label: a deleted source survived the pruned purge")
      assert(incP.forall(r => !tombIds.contains(r.getLong(1))),
        s"$label: a deleted dst survived the pruned purge")
    }
    checkPurge(col("vec_id") % 5 === 0, "multi-cell")
    checkPurge(col("vec_id") === 10, "single-id")
  }

  test("layer-fanned build/append/purge ≡ the per-layer flat verbs") {
    // the round-17 unification's correctness pin: ONE (layer, ·)-keyed
    // pass over the layer-fanned index ≡ mapping the flat verb over
    // member-filtered slices (per-group disjointness — layers share
    // nothing but the vectors)
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    def member(l: Int) = col("vec_id") % (1L << l) === 0
    val buildPerLayer = (0 to 2).flatMap { l =>
      Similarity.knnGraphSeed(coarse, emb.filter(member(l)), "vec_id",
          "embedding", 5)
        .orderBy("src", "rnk").collect().toSeq.map((l, _))
    }
    assert(lg.orderBy("layer", "src", "rnk").collect().toSeq
        .map(r => (r.getInt(0), org.apache.spark.sql.Row(r.get(1),
          r.get(2), r.get(3), r.get(4)))) == buildPerLayer,
      "layer-fanned build diverged from the per-layer seeds")
    val batch = Ivf.flatIndex(coarse,
      emb.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", Nil)
    val appPerLayer = (0 to 2).flatMap { l =>
      Similarity.appendKnnSeed(
          lg.filter(col("layer") === l)
            .select(col("src"), col("dst"), col("d2"), col("rnk")),
          idx.filter(member(l)), batch.filter(member(l)), 5)
        .orderBy("src", "rnk").collect().toSeq.map((l, _))
    }
    assert(Similarity.appendLayeredKnnSeed(lg, idx, batch, 5, 2)
        .orderBy("layer", "src", "rnk").collect().toSeq
        .map(r => (r.getInt(0), org.apache.spark.sql.Row(r.get(1),
          r.get(2), r.get(3), r.get(4)))) == appPerLayer,
      "layer-fanned append diverged from the per-layer appends")
    val tombs = emb.filter(col("vec_id") % 9 === 0).select("vec_id")
    val purgePerLayer = (0 to 2).flatMap { l =>
      Similarity.purgeKnnGraph(
          lg.filter(col("layer") === l)
            .select(col("src"), col("dst"), col("d2"), col("rnk")),
          idx.filter(member(l)), tombs, 5)
        .orderBy("src", "rnk").collect().toSeq.map((l, _))
    }
    assert(Similarity.purgeLayeredKnnGraph(lg, idx, tombs, 5, 2)
        .orderBy("layer", "src", "rnk").collect().toSeq
        .map(r => (r.getInt(0), org.apache.spark.sql.Row(r.get(1),
          r.get(2), r.get(3), r.get(4)))) == purgePerLayer,
      "layer-fanned purge diverged from the per-layer purges")
    // layer-keyed descent rounds ≡ per-layer nnDescentRound chains
    // (the hop join on (layer, __mid) never crosses layers)
    val refPerLayer = (0 to 2).flatMap { l =>
      val members = emb.filter(member(l))
      var gl = Similarity.knnGraphSeed(coarse, members, "vec_id",
        "embedding", 5)
      for (_ <- 1 to 2)
        gl = Similarity.nnDescentRound(members, gl, "vec_id",
          "embedding", 5)
      gl.orderBy("src", "rnk").collect().toSeq.map((l, _))
    }
    assert(Similarity.layeredKnnGraphRefined(emb, "vec_id", "embedding",
        numCoarse = 8, coarseIterations = 2, k = 5, maxLayer = 2,
        rounds = 2)
        .orderBy("layer", "src", "rnk").collect().toSeq
        .map(r => (r.getInt(0), org.apache.spark.sql.Row(r.get(1),
          r.get(2), r.get(3), r.get(4)))) == refPerLayer,
      "layer-keyed descent diverged from the per-layer descents")
  }

  test("layered pruned upsert: one-fold verb ≡ full per-layer re-prune; keyed fold ≡ per-layer prune") {
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    val lp = Similarity.pruneLayeredGraphRng(lg, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    // the unified (layer, src)-keyed fold ≡ the per-layer flat prune
    // (the round-17 q311 unification's correctness pin)
    val perLayer = (0 to 2).flatMap { l =>
      Similarity.pruneGraphRng(
          lg.filter(col("layer") === l)
            .select(col("src"), col("dst"), col("d2"), col("rnk")),
          emb, "vec_id", "embedding", k = 5)
        .withColumn("layer", lit(l))
        .select(col("layer").cast("int").as("layer"), col("src"),
          col("dst"), col("d2"), col("rnk"))
        .orderBy("src", "rnk").collect().toSeq
    }
    assert(lp.orderBy("layer", "src", "rnk").collect().toSeq == perLayer,
      "keyed-fold layered prune diverged from the per-layer prune")
    // per-layer α commit: uniform entries ≡ the uniform build; mixed
    // entries ≡ the per-layer flat prunes at each layer's α
    assert(Similarity.pruneLayeredGraphRngPerLayer(lg, emb, "vec_id",
        "embedding", k = 5, alphas = Seq((1L, 1L), (1L, 1L), (1L, 1L)))
        .orderBy("layer", "src", "rnk").collect().toSeq ==
      lp.orderBy("layer", "src", "rnk").collect().toSeq,
      "uniform per-layer commit diverged from the uniform build")
    val mixed = Seq((2L, 3L), (1L, 1L), (3L, 2L))
    val mixedPerLayer = (0 to 2).flatMap { l =>
      Similarity.pruneGraphRng(
          lg.filter(col("layer") === l)
            .select(col("src"), col("dst"), col("d2"), col("rnk")),
          emb, "vec_id", "embedding", k = 5, mixed(l)._1, mixed(l)._2)
        .withColumn("layer", lit(l))
        .select(col("layer").cast("int").as("layer"), col("src"),
          col("dst"), col("d2"), col("rnk"))
        .orderBy("src", "rnk").collect().toSeq
    }
    assert(Similarity.pruneLayeredGraphRngPerLayer(lg, emb, "vec_id",
        "embedding", k = 5, mixed)
        .orderBy("layer", "src", "rnk").collect().toSeq == mixedPerLayer,
      "mixed per-layer commit diverged from the per-layer prunes")
    // the one-fold upsert verb ≡ the full per-layer re-prune of the
    // restated rebuild (the q311 oracle's claim, spec-pinned)
    val batch = Ivf.flatIndex(coarse,
      emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", Nil)
    val restated = emb.select(col("vec_id"),
      when(col("vec_id") % 7 === 0, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val inc = Similarity.upsertPrunedLayeredKnnSeed(lg, lp, idx, batch,
        k = 5, maxLayer = 2)
      .orderBy("layer", "src", "rnk").collect().toSeq
    val full = Similarity.pruneLayeredGraphRng(
        Similarity.upsertLayeredKnnSeed(lg, idx, batch, k = 5,
          maxLayer = 2),
        restated, "vec_id", "embedding", k = 5, maxLayer = 2)
      .orderBy("layer", "src", "rnk").collect().toSeq
    assert(inc == full,
      "layered pruned upsert diverged from the full per-layer re-prune")
  }

  test("rank-degenerate stored graph folds deterministically (dst tiebreak); oversized k raises") {
    // the ADVICE determinism guard: every builder emits dense ranks,
    // but a stored table is a trust boundary — a graph with DUPLICATE
    // ranks per src must fold in (rnk, dst) order, not collection
    // order. Equal-rank edges generate no cover pairs (the pair table
    // is strict wrnk < rnk), so BOTH survive — what the tiebreak pins
    // is the OUTPUT RANK: fold position must be (rnk, dst) order on
    // every run, not whatever collect_list happened to produce.
    val s = spark
    import s.implicits._
    val base = Seq(
      (10L, Array(0f, 0f)), (20L, Array(1f, 0f)),
      (30L, Array(1.1f, 0f))).toDF("vec_id", "embedding")
    val degenerate = Seq(
      (10L, 20L, 1000000000000L, 1), (10L, 30L, 1210000000000L, 1))
      .toDF("src", "dst", "d2", "rnk")
    val runs = (1 to 3).map { _ =>
      Similarity.pruneGraphRng(
          degenerate.repartition(4), base, "vec_id", "embedding", k = 2)
        .orderBy("src", "rnk").collect().toSeq
    }
    assert(runs.distinct.size == 1,
      s"rank-degenerate fold was nondeterministic: ${runs.distinct}")
    assert(runs.head.map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        == Seq((10L, 20L, 1), (10L, 30L, 2)),
      s"tiebreak order wrong: ${runs.head} — equal ranks must fold " +
        "in dst order")
    // ranks past k raise through the fail-loud probe, not truncate
    val over = Seq((10L, 20L, 1L, 3)).toDF("src", "dst", "d2", "rnk")
    val e = intercept[IllegalArgumentException] {
      Similarity.pruneGraphRng(over, base, "vec_id", "embedding", k = 2)
    }
    assert(e.getMessage.contains("max rnk"), s"wrong failure: ${e.getMessage}")
  }

  test("recall-per-alpha sweep rows ≡ the aggregated single-alpha audits (flat and layered)") {
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val q = emb.filter(col("vec_id") < 5)
    val exact = Ivf.filteredSearch(coarse, idx, q, "vec_id",
      "embedding", lit(true), nprobe = 8, topK = 5)
    def aggregated(audit: org.apache.spark.sql.DataFrame, n: Long,
        d: Long) =
      audit.agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("hits_total"),
          sum(col("dist_evals")).as("evals_total"),
          sum(col("frontier")).as("frontier_total"))
        .select(lit(n).as("a_num"), lit(d).as("a_den"),
          col("n_queries"), col("hits_total"),
          expr("hits_total * 1000000 DIV (5 * n_queries)")
            .as("recall_micro_mean"),
          col("evals_total"), col("frontier_total"))
        .collect().toSeq
    val alphas = Seq((1L, 1L), (3L, 2L))
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", 5)
    val flatSweep = Similarity.pruneRecallSweep(g, emb, "vec_id",
        "embedding", q, exact, k = 5, alphas, entryK = 2, beam = 5,
        hops = 2, topK = 5)
      .orderBy("a_num", "a_den").collect().toSeq
    val flatSingle = alphas.flatMap { case (n, d) =>
      aggregated(Similarity.graphRecallCost(
        Similarity.pruneGraphRng(g, emb, "vec_id", "embedding", 5, n, d),
        emb, q, "vec_id", "embedding", exact, 5, entryK = 2, beam = 5,
        hops = 2, topK = 5), n, d)
    }
    assert(flatSweep == flatSingle,
      "flat recall sweep diverged from the single-alpha audits")
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 1)
    val laySweep = Similarity.pruneLayeredRecallSweep(lg, emb,
        "vec_id", "embedding", q, exact, k = 5, maxLayer = 1, alphas,
        entryK = 2, beam = 5, hopsPerLayer = 1, topK = 5)
      .orderBy("a_num", "a_den").collect().toSeq
    val laySingle = alphas.flatMap { case (n, d) =>
      aggregated(Similarity.layeredRecallCost(
        Similarity.pruneLayeredGraphRng(lg, emb, "vec_id", "embedding",
          5, maxLayer = 1, n, d),
        emb, q, "vec_id", "embedding", exact, 5, maxLayer = 1,
        entryK = 2, beam = 5, hopsPerLayer = 1, topK = 5), n, d)
    }
    assert(laySweep == laySingle,
      "layered recall sweep diverged from the single-alpha audits")
    // STORED fold cache ≡ in-plan: the tuning cache survives a
    // parquet round-trip (nested covers column included) and the
    // From-sweep over it reproduces the in-plan sweep bit-for-bit
    val cdir = java.nio.file.Files
      .createTempDirectory("graft_foldcache").toString
    try {
      Similarity.pruneFoldCache(g, emb, "vec_id", "embedding", 5)
        .write.parquet(s"$cdir/flat")
      val fromStored = Similarity.pruneRecallSweepFrom(
          spark.read.parquet(s"$cdir/flat"), emb, "vec_id",
          "embedding", q, exact, 5, alphas, entryK = 2, beam = 5,
          hops = 2, topK = 5)
        .orderBy("a_num", "a_den").collect().toSeq
      assert(fromStored == flatSweep,
        "stored fold cache diverged from the in-plan sweep")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(cdir))
    }
    // the SCHEDULED one-pass beam sweep ≡ one layeredRecallCost per
    // point (heterogeneous entry/schedule/beam, equal hop budget)
    val points = Seq((5, 1, 1), (5, 2, 0), (8, 1, 1))
    val sched = Similarity.layeredBeamSweepRecallCost(lg, emb,
        q, "vec_id", "embedding", exact, 5, points, entryK = 2,
        topK = 5)
      .orderBy("beam", "hops_per_layer", "max_layer").collect().toSeq
    val perPoint = points.map { case (beam, hpl, ml) =>
      Similarity.layeredRecallCost(lg, emb, q, "vec_id", "embedding",
          exact, 5, maxLayer = ml, entryK = 2, beam = beam,
          hopsPerLayer = hpl, topK = 5)
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("hits_total"),
          sum(col("dist_evals")).as("evals_total"),
          sum(col("frontier")).as("frontier_total"))
        .select(lit(beam).as("beam"), lit(hpl).as("hops_per_layer"),
          lit(ml).as("max_layer"), col("n_queries"), col("hits_total"),
          col("evals_total"), col("frontier_total"),
          expr("hits_total * 1000000 DIV (5 * n_queries)")
            .as("recall_micro_mean"))
        .collect().head
    }.sortBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(sched == perPoint,
      "scheduled beam sweep diverged from the per-point audits")
    // unequal hop budgets are refused, not silently incomparable
    val eErr = intercept[IllegalArgumentException] {
      Similarity.layeredBeamSweepRecallCost(lg, emb, q, "vec_id",
        "embedding", exact, 5, Seq((5, 1, 1), (5, 1, 0)), 2, 5)
    }
    assert(eErr.getMessage.contains("EQUAL total hops"),
      s"wrong failure: ${eErr.getMessage}")
  }

  test("multi-vector lifecycle verbs ride the multi-row machinery unchanged") {
    // the SURVEY §8 claim for the MaxSim family: its storage shape is
    // the multi-row-per-id table, so tombstone masking is the same
    // broadcast anti-join and segment compaction/as-of is
    // compactLatestMulti — no family-specific verbs needed
    val s = spark
    import s.implicits._
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
          explode(sequence(lit(0), lit(3))).as("vec_idx"),
          col("embedding"))
        .select(col("vec_id"), col("vec_idx"),
          expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
    val q = emb.filter(col("vec_id") < 3)
    val tombs = emb.filter(col("vec_id") % 4 === 0).select("vec_id")
    // tombstone mask: one anti-join on the bag, then the same scorer
    val masked = Similarity.maxSimTopK(
        bag(emb).join(broadcast(tombs), Seq("vec_id"), "left_anti"),
        bag(q), "vec_id", "vec_idx", "vec", topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val rebuilt = Similarity.maxSimTopK(
        bag(emb.filter(col("vec_id") % 4 =!= 0)), bag(q), "vec_id",
        "vec_idx", "vec", topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(masked == rebuilt,
      "masked multi-vector serving diverged from the purged rebuild")
    assert(masked.forall(_.getLong(1) % 4 != 0),
      "a tombstoned bag was served")
    // segment restatement: a doc's whole bag restates; the group
    // election serves the latest bag and as-of 0 the original
    val seg0 = bag(emb).withColumn("seg", lit(0))
    val restated = bag(emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
      .withColumn("seg", lit(1))
    val segs = seg0.unionByName(restated)
    val latest = Similarity.maxSimTopK(
        Layout.compactLatestMulti(segs, "vec_id", "seg", "vec_idx", 4)
          .select("vec_id", "vec_idx", "vec"),
        bag(q), "vec_id", "vec_idx", "vec", topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val direct = Similarity.maxSimTopK(
        bag(emb.select(col("vec_id"),
          when(col("vec_id") % 7 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))),
        bag(q), "vec_id", "vec_idx", "vec", topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(latest == direct,
      "compacted multi-vector serving diverged from the restated corpus")
    val asOf0 = Similarity.maxSimTopK(
        Layout.compactAsOfMulti(segs, "vec_id", "seg", "vec_idx", 4, 0)
          .select("vec_id", "vec_idx", "vec"),
        bag(q), "vec_id", "vec_idx", "vec", topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val original = Similarity.maxSimTopK(bag(emb), bag(q), "vec_id",
        "vec_idx", "vec", topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(asOf0 == original,
      "as-of multi-vector serving diverged from the original corpus")
    // the ROUTED verbs (q287/q289): masked serve ≡ serve over the
    // purged tables ≡ the never-contained rebuild — the purge is one
    // anti-join per stored table (no re-election on plain-row storage)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 4, 2)
    val assigned = Ivf.flatIndex(coarse, emb, "vec_id", "embedding",
      Nil).select(col("vec_id"), col("cid"))
    def served(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      Similarity.maxSimRouted(coarse, a, b, bag(q), q, "vec_id",
          "vec_idx", "vec", "embedding", nprobe = 2, topK = 5)
        .orderBy("q_id", "rnk").collect().toSeq
    val maskedRouted = Similarity.maxSimRoutedMasked(coarse, assigned,
        bag(emb), bag(q), q, "vec_id", "vec_idx", "vec", "embedding",
        tombs, nprobe = 2, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val purgedServe = served(
      Similarity.purgeMaxSimRows(assigned, tombs),
      Similarity.purgeMaxSimRows(bag(emb), tombs))
    val rebuiltServe = served(
      Ivf.flatIndex(coarse, emb.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", Nil).select(col("vec_id"), col("cid")),
      bag(emb.filter(col("vec_id") % 4 =!= 0)))
    assert(maskedRouted == purgedServe,
      "masked routed MaxSim diverged from serving the purged tables")
    assert(purgedServe == rebuiltServe,
      "purged-table serving diverged from the never-contained rebuild")
    assert(maskedRouted.nonEmpty && maskedRouted.forall(_.getLong(1) % 4 != 0),
      "a tombstoned bag was served by the routed path")
  }

  test("full-stack as-of: post-N delete invisible; generation pins; mixed-gen raises") {
    val s = spark
    import s.implicits._
    val k = 4
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val bounds0 = Quantize.calibrationBounds(
      emb.filter(col("vec_id") % 3 > 0), "vec_id", "embedding", 10, 990)
    val bounds1 = Quantize.calibrationBounds(emb, "vec_id", "embedding",
      10, 990)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    def seg(rows: org.apache.spark.sql.DataFrame, ord: Int, gen: Int,
        b: org.apache.spark.sql.DataFrame) =
      Quantize.calibratedCodes(rows, "vec_id", "embedding", b)
        .join(Ivf.assignIds(Ivf.quantized(rows, "vec_id", "embedding"),
            coarse).select(col("vec_id"), col("cid")), Seq("vec_id"))
        .withColumn("seg", lit(ord)).withColumn("gen", lit(gen))
    val segments = seg(emb, 0, 0, bounds0)
      .unionByName(seg(emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          reverse(col("embedding")).as("embedding")), 1, 0, bounds0))
      .unionByName(seg(emb, 2, 1, bounds1)) // recalibration segment
    val tombs = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id")).withColumn("seg", lit(1))
      .unionByName(emb.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id")).withColumn("seg", lit(2)))
    val vers = bounds0.withColumn("gen", lit(0))
      .unionByName(bounds1.withColumn("gen", lit(1)))
    val q = emb.filter(col("vec_id") < 3)
    val n = allIds.size
    // probing all cells with topK = corpus surfaces the ENTIRE live
    // set — the visibility probe
    def served(asOf: Int) = Quantize.calibratedServeAsOf(coarse,
        segments, tombs, vers, q, "vec_id", "embedding", lit(true),
        "seg", "gen", asOf, numPartitions = 4, nprobe = k, topK = n)
      .select("n_id").distinct().collect().map(_.getLong(0)).toSet
    // with 3 queries probing every cell at topK = corpus, the union of
    // neighbors IS the live set (self-exclusion removes a vector only
    // from its own query's list, never from the union)
    val asOf1 = served(1)
    assert(asOf1 == allIds.filter(_ % 5 != 0),
      "as-of 1 must hide exactly the seg-1 tombstones (post-N deletes visible)")
    // the %11 victims deleted at seg 2 are STILL SERVED as-of 1
    assert(asOf1.exists(i => i % 11 == 0 && i % 5 != 0),
      "a post-snapshot delete leaked back into the as-of read")
    val asOf2 = served(2)
    assert(asOf2.forall(i => i % 5 != 0 && i % 11 != 0),
      "at latest, both tombstone stamps must mask")
    // generation pinning: the as-of 2 snapshot (all gen 1) must equal
    // a hand-composed serve under bounds1 — and the operator must have
    // picked gen 1, not gen 0
    val hand = Quantize.calibratedIvfSearch(coarse,
        seg(emb, 2, 1, bounds1).filter(col("vec_id") % 5 =!= 0)
          .filter(col("vec_id") % 11 =!= 0)
          .select(col("vec_id"), col("cid")),
        seg(emb, 2, 1, bounds1).filter(col("vec_id") % 5 =!= 0)
          .filter(col("vec_id") % 11 =!= 0)
          .select(col("vec_id"), col("codes")),
        q, "vec_id", "embedding", bounds1, nprobe = k, topK = n)
      .orderBy("q_id", "rnk").collect().toSeq
    val opAsOf2 = Quantize.calibratedServeAsOf(coarse, segments, tombs,
        vers, q, "vec_id", "embedding", lit(true), "seg", "gen", 2,
        numPartitions = 4, nprobe = k, topK = n)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(opAsOf2 == hand,
      "as-of latest diverged from the hand-composed gen-1 serve")
    // a snapshot straddling two generations is unserveable — loud
    val straddle = seg(emb, 0, 0, bounds0)
      .unionByName(seg(emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          reverse(col("embedding")).as("embedding")), 1, 1, bounds1))
    intercept[IllegalArgumentException] {
      Quantize.calibratedServeAsOf(coarse, straddle, tombs, vers, q,
        "vec_id", "embedding", lit(true), "seg", "gen", 1,
        numPartitions = 4, nprobe = k, topK = n)
    }
    // a predicate (or mask) matching NOTHING is a normal empty serve —
    // every other filtered/masked verb in the family returns empty;
    // only the mixed-generation state above is loud
    val none = Quantize.calibratedServeAsOf(coarse, segments, tombs,
      vers, q, "vec_id", "embedding", lit(false), "seg", "gen", 1,
      numPartitions = 4, nprobe = k, topK = n)
    assert(none.isEmpty,
      "an empty live snapshot must serve an empty result, not raise")
    assert(none.columns.toSeq == Seq("q_id", "n_id", "d2", "rnk"),
      s"empty serve schema drifted: ${none.columns.toSeq}")
  }

  test("as-of serve: stale-generation rows all tombstoned still serves (probe runs on the live set)") {
    // the round-13 generation probe ran on the snapshot BEFORE the
    // tombstone mask, so a snapshot whose stale-gen rows were all
    // deleted refused to serve — the probe now sees only what can
    // reach the scorer
    val s = spark
    import s.implicits._
    val k = 4
    val bounds0 = Quantize.calibrationBounds(emb, "vec_id", "embedding",
      10, 990)
    val bounds1 = Quantize.calibrationBounds(emb, "vec_id", "embedding",
      5, 995)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", k, 2)
    def seg(rows: org.apache.spark.sql.DataFrame, ord: Int, gen: Int,
        b: org.apache.spark.sql.DataFrame) =
      Quantize.calibratedCodes(rows, "vec_id", "embedding", b)
        .join(Ivf.assignIds(Ivf.quantized(rows, "vec_id", "embedding"),
            coarse).select(col("vec_id"), col("cid")), Seq("vec_id"))
        .withColumn("seg", lit(ord)).withColumn("gen", lit(gen))
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 =!= 0)
    // seg 0 = even cohort under gen-0 bounds; seg 1 = odd cohort under
    // gen-1 bounds; every even id tombstoned at seg 1 → the LIVE as-of
    // 1 snapshot is single-generation (gen 1) even though the raw
    // snapshot straddles
    val segments = seg(evens, 0, 0, bounds0)
      .unionByName(seg(odds, 1, 1, bounds1))
    val tombs = evens.select(col("vec_id")).withColumn("seg", lit(1))
    val vers = bounds0.withColumn("gen", lit(0))
      .unionByName(bounds1.withColumn("gen", lit(1)))
    val q = emb.filter(col("vec_id") < 3)
    val served = Quantize.calibratedServeAsOf(coarse, segments, tombs,
        vers, q, "vec_id", "embedding", lit(true), "seg", "gen", 1,
        numPartitions = 4, nprobe = k, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val hand = Quantize.calibratedIvfSearch(coarse,
        seg(odds, 1, 1, bounds1).select(col("vec_id"), col("cid")),
        seg(odds, 1, 1, bounds1).select(col("vec_id"), col("codes")),
        q, "vec_id", "embedding", bounds1, nprobe = k, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(served == hand,
      "stale-gen-all-deleted snapshot refused to serve or diverged " +
        "from the hand-composed gen-1 serve")
  }

  test("masked graph serving: probing-all ≡ brute force over the live set; empty mask ≡ plain walk") {
    val k = 5
    val n = emb.count().toInt
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", k)
    val q = emb.filter(col("vec_id") < 5)
    val tombs = emb.filter(col("vec_id") % 4 === 0).select("vec_id")
    // probing-all: every vertex is an entry, zero hops — the walk
    // evaluates the whole corpus, so the masked result must be the
    // exact top-k over the survivors
    val masked = Similarity.graphSearchMasked(g, emb, q, "vec_id",
        "embedding", tombs, entryK = n, beam = n, hops = 0, topK = k)
      .orderBy("q_id", "rnk").collect().toSeq
    // exact over the live set via the filtered flat path: one cell,
    // one probe = brute force (same integral-grid d2)
    val one = Ivf.centroids(emb, "vec_id", "embedding", 1, 1)
    val idx = Ivf.flatIndex(one,
      emb.withColumn("live", col("vec_id") % 4 =!= 0),
      "vec_id", "embedding", Seq("live"))
    val brute = Ivf.filteredSearch(one, idx, q, "vec_id", "embedding",
        col("live"), nprobe = 1, topK = k)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(masked == brute,
      "masked probing-all diverged from brute force over the live set")
    assert(masked.forall(_.getLong(1) % 4 != 0),
      "a tombstoned vector was served")
    // empty tombstone set: the seen-union ranking must equal the plain
    // final-beam ranking (the beam-monotonicity equivalence)
    val none = emb.filter(lit(false)).select("vec_id")
    val viaMask = Similarity.graphSearchMasked(g, emb, q, "vec_id",
        "embedding", none, entryK = 2, beam = 5, hops = 2, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    val plain = Similarity.graphSearch(g, emb, q, "vec_id", "embedding",
        entryK = 2, beam = 5, hops = 2, topK = 5)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(viaMask == plain, "empty mask diverged from the plain walk")
  }

  test("filtered graph serving: walk-everything ≡ brute force over the filtered corpus") {
    val k = 5
    val n = emb.count().toInt
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", k)
    val q = emb.filter(col("vec_id") < 5)
    val filtered = Similarity.graphSearchFiltered(g, emb, q, "vec_id",
        "embedding", col("label") === 3, entryK = n, beam = n, hops = 0,
        topK = k)
      .orderBy("q_id", "rnk").collect().toSeq
    val one = Ivf.centroids(emb, "vec_id", "embedding", 1, 1)
    val idx = Ivf.flatIndex(one, emb, "vec_id", "embedding", Seq("label"))
    val brute = Ivf.filteredSearch(one, idx, q, "vec_id", "embedding",
        col("label") === 3, nprobe = 1, topK = k)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(filtered == brute,
      "filtered walk-everything diverged from brute force over the " +
        "filtered corpus")
  }

  test("graph purge ≡ seed rebuild over survivors; upsert ≡ rebuild over the restated corpus") {
    val k = 4
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val storedIndex = Ivf.flatIndex(coarse, emb, "vec_id", "embedding",
      Nil)
    val stored = Similarity.knnGraphSeed(coarse, emb, "vec_id",
      "embedding", k)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src", "rnk").collect().toSeq
    val tombs = emb.filter(col("vec_id") % 4 === 0).select("vec_id")
    val purged = rows(Similarity.purgeKnnGraph(stored, storedIndex,
      tombs, k))
    val rebuilt = rows(Similarity.knnGraphSeed(coarse,
      emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding", k))
    assert(purged == rebuilt,
      "purge diverged from the full seed rebuild over the survivors")
    assert(purged.forall(r =>
      r.getLong(0) % 4 != 0 && r.getLong(1) % 4 != 0),
      "a dead vertex survived as a source or an edge endpoint")
    // upsert: restated ids (deterministically reversed embeddings) =
    // delete ∘ append under the fixed codebook
    val newRows = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val up = rows(Similarity.upsertKnnSeed(stored, storedIndex,
      Ivf.flatIndex(coarse, newRows, "vec_id", "embedding", Nil), k))
    val restated = emb.select(col("vec_id"),
      when(col("vec_id") % 7 === 0, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    assert(up == rows(Similarity.knnGraphSeed(coarse, restated,
      "vec_id", "embedding", k)),
      "upsert diverged from the full seed rebuild over the restated corpus")
  }

  test("graph serving from the stored parquet graph ≡ in-plan; no training in the serve plan") {
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding",
      k = 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stored_graph").toString
    g.write.parquet(s"$dir/graph")
    val storedG = spark.read.parquet(s"$dir/graph")
    val q = emb.filter(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rnk").collect().toSeq
    val servedStored = Similarity.graphSearch(storedG, emb, q, "vec_id",
      "embedding", entryK = 2, beam = 4, hops = 2, topK = 4)
    assert(rows(servedStored) ==
      rows(Similarity.graphSearch(g, emb, q, "vec_id", "embedding",
        entryK = 2, beam = 4, hops = 2, topK = 4)),
      "stored-graph serving diverged from the in-plan serve")
    // the stored serve must be training-free (no Lloyd stage)
    val plan = servedStored.queryExecution.executedPlan.toString
    assert(!plan.contains("VecSumAgg") && !plan.contains("vec_sum"),
      s"a training stage leaked into the stored-graph serve plan:\n$plan")
    val tombs = emb.filter(col("vec_id") % 4 === 0).select("vec_id")
    assert(rows(Similarity.graphSearchMasked(storedG, emb, q, "vec_id",
        "embedding", tombs, entryK = 2, beam = 4, hops = 2, topK = 4)) ==
      rows(Similarity.graphSearchMasked(g, emb, q, "vec_id",
        "embedding", tombs, entryK = 2, beam = 4, hops = 2, topK = 4)),
      "stored-graph masked serving diverged from the in-plan serve")
  }

  test("graphProbeCost: exact evaluation/frontier counts on the 1-D line walk; topK > beam refused") {
    val s = spark
    import s.implicits._
    // the 1-D line fixture: corpus 0..9, exact 2-NN graph, one entry
    // (vertex 0), beam 2, 3 hops toward 9.4 — every hop's candidate
    // set is hand-enumerable: c0={0} (1), c1={0,1,2} (3),
    // c2={0,1,2,3} (4), c3={1,2,3,4} (4) → 12 evaluations;
    // frontier = (3-1) + (4-2) + (4-2) = 6
    val base = (0L to 9L).map(i => (i, Array(i.toFloat)))
      .toDF("vec_id", "embedding")
    val one = Ivf.centroids(base, "vec_id", "embedding", 1, 1)
    val g = Similarity.knnGraphSeed(one, base, "vec_id", "embedding", 2)
    val q = Seq((100L, Array(9.4f))).toDF("vec_id", "embedding")
    val cost = Similarity.graphProbeCost(g, base, q, "vec_id",
        "embedding", entryK = 1, beam = 2, hops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(cost == Seq((100L, 12L, 6L)),
      s"cost counts diverged from the hand count: $cost")
    // zero hops: evaluations = the entry fan, frontier 0
    val cost0 = Similarity.graphProbeCost(g, base, q, "vec_id",
        "embedding", entryK = 3, beam = 2, hops = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(cost0 == Seq((100L, 3L, 0L)), s"hop-0 cost wrong: $cost0")
    // an under-fillable k is loud, not silently beam-capped
    intercept[IllegalArgumentException] {
      Similarity.graphSearch(g, base, q, "vec_id", "embedding",
        entryK = 1, beam = 2, hops = 0, topK = 3)
    }
  }

  test("every walk shape leaves the cache as found: checkpoint cadence and release on the 1-D line") {
    val s = spark
    import s.implicits._
    // plain walks checkpoint every other hop and release what each new
    // checkpoint supersedes (odd and even hop counts end differently);
    // keepHops walks register every hop — either way the enclosing
    // scope must end with no cache entry and no persisted RDD added
    val base = (0L to 9L).map(i => (i, Array(i.toFloat)))
      .toDF("vec_id", "embedding")
    val one = Ivf.centroids(base, "vec_id", "embedding", 1, 1)
    val g = Similarity.knnGraphSeed(one, base, "vec_id", "embedding", 2)
    val lgLine = Similarity.layeredKnnGraph(base, "vec_id", "embedding",
      numCoarse = 1, coarseIterations = 1, k = 2, maxLayer = 1)
    val q = Seq((100L, Array(9.4f))).toDF("vec_id", "embedding")
    val exact = Seq((100L, 9L), (100L, 8L)).toDF("q_id", "n_id")
    Seq(g, lgLine).foreach(_.collect())
    def released(what: String)(
        run: => org.apache.spark.sql.DataFrame): Unit = {
      val before = cacheState
      graft.util.CacheScope.withScope(run.collect())
      withClue(s"$what: ")(assertCacheAsFound(before))
    }
    for (hops <- 0 to 3)
      released(s"graphSearch hops=$hops")(Similarity.graphSearch(g, base,
        q, "vec_id", "embedding", entryK = 1, beam = 2, hops = hops,
        topK = 2))
    for (hpl <- 1 to 2)
      released(s"layeredGraphSearch hopsPerLayer=$hpl")(
        Similarity.layeredGraphSearch(lgLine, base, q, "vec_id",
          "embedding", maxLayer = 1, entryK = 1, beam = 2,
          hopsPerLayer = hpl, topK = 2))
    released("graphSearchMasked")(Similarity.graphSearchMasked(g, base, q,
      "vec_id", "embedding", base.filter(col("vec_id") === 9L)
        .select("vec_id"), entryK = 1, beam = 2, hops = 3, topK = 2))
    released("layeredBeamSweepRecallCost")(
      Similarity.layeredBeamSweepRecallCost(lgLine, base, q, "vec_id",
        "embedding", exact, k = 2, points = Seq((2, 2, 0), (2, 1, 1)),
        entryK = 1, topK = 2))
  }

  test("layered graph: maxLayer 0 ≡ flat walk; members nest; descent beats the flat hop bound") {
    val s = spark
    import s.implicits._
    val q5 = emb.filter(col("vec_id") < 5)
    // maxLayer = 0: one layer over everyone — the descent IS graphSearch
    val lg0 = Similarity.layeredKnnGraph(emb, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, k = 5, maxLayer = 0)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val flat = Similarity.knnGraphSeed(coarse, emb, "vec_id",
      "embedding", 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rnk").collect().toSeq
    assert(rows(Similarity.layeredGraphSearch(lg0, emb, q5, "vec_id",
        "embedding", maxLayer = 0, entryK = 2, beam = 5,
        hopsPerLayer = 2, topK = 5)) ==
      rows(Similarity.graphSearch(flat, emb, q5, "vec_id", "embedding",
        entryK = 2, beam = 5, hops = 2, topK = 5)),
      "single-layer descent diverged from the flat walk")
    // layer ℓ's edges connect only id ≡ 0 (mod 2^ℓ) members (nesting)
    val lg2 = Similarity.layeredKnnGraph(emb, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, k = 5, maxLayer = 2)
    val badMembers = lg2.filter(
      expr("src % (1 << layer) != 0 OR dst % (1 << layer) != 0"))
      .count()
    assert(badMembers == 0, s"$badMembers edges violate the promotion rule")
    // the POINT of layers, on the 1-D line: from entry vertex 0 the
    // flat beam-2 walk advances ONE vertex per hop (3 hops → {4,3},
    // the existing line lane), while the 3-layer descent's upper
    // layers stride 4 then 2 — THREE total hops arrive at {9,8}
    val base = (0L to 9L).map(i => (i, Array(i.toFloat)))
      .toDF("vec_id", "embedding")
    val lgLine = Similarity.layeredKnnGraph(base, "vec_id", "embedding",
      numCoarse = 1, coarseIterations = 1, k = 2, maxLayer = 2)
    val qLine = Seq((100L, Array(9.4f))).toDF("vec_id", "embedding")
    val arrived = Similarity.layeredGraphSearch(lgLine, base, qLine,
        "vec_id", "embedding", maxLayer = 2, entryK = 1, beam = 2,
        hopsPerLayer = 1, topK = 2)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(arrived == Seq(9L, 8L),
      s"3-hop layered descent should arrive at {9,8}: $arrived")
    // masked descent with no tombstones ≡ the plain descent (the
    // seen-union/final-beam equivalence across layers)
    val none = emb.filter(lit(false)).select("vec_id")
    assert(rows(Similarity.layeredGraphSearchMasked(lg2, emb, q5,
        "vec_id", "embedding", none, maxLayer = 2, entryK = 2,
        beam = 5, hopsPerLayer = 1, topK = 5)) ==
      rows(Similarity.layeredGraphSearch(lg2, emb, q5, "vec_id",
        "embedding", maxLayer = 2, entryK = 2, beam = 5,
        hopsPerLayer = 1, topK = 5)),
      "empty mask diverged from the plain layered descent")
    // stored round-trip: the descent over the parquet-persisted
    // layered table ≡ the in-plan serve, training-free plan (the
    // flat-graph stored lane's discipline on the layered axis)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stored_layered").toString
    lg2.write.parquet(s"$dir/layered")
    val storedLg = spark.read.parquet(s"$dir/layered")
    val servedStored = Similarity.layeredGraphSearch(storedLg, emb, q5,
      "vec_id", "embedding", maxLayer = 2, entryK = 2, beam = 5,
      hopsPerLayer = 1, topK = 5)
    assert(rows(servedStored) ==
      rows(Similarity.layeredGraphSearch(lg2, emb, q5, "vec_id",
        "embedding", maxLayer = 2, entryK = 2, beam = 5,
        hopsPerLayer = 1, topK = 5)),
      "stored layered serving diverged from the in-plan serve")
    val plan = servedStored.queryExecution.executedPlan.toString
    assert(!plan.contains("VecSumAgg") && !plan.contains("vec_sum"),
      s"a training stage leaked into the stored layered serve plan:\n$plan")
    // MANIFEST-VERIFIED serve (q252's verify-before-serve on the
    // layered table): the stored parquet's manifest must equal the
    // build's manifest BEFORE anything serves from it — a dropped
    // part-file surfaces here, not as silently wrong descents
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Layout.indexManifest(Seq(("layered", df,
          concat_ws("|", col("layer"), col("src"), col("dst"),
            col("d2"), col("rnk")))))
        .collect().toSeq
    assert(manifest(storedLg) == manifest(lg2),
      "stored layered manifest diverged from the build manifest — " +
        "refuse to serve")
  }

  test("layered recall+cost from ONE walk: exact hand counts on the line; flat equivalence; empty top layer is loud") {
    val s = spark
    import s.implicits._
    // 1-D line 0..9, one cell, k = 2 per layer; layers {0,4,8} /
    // {0,2,4,6,8} / all. Entry {0}, beam 2, one hop per layer toward
    // 9.4: s0 = {0} (1 eval), l2 hop scores {0,4,8} (3), l1 hop
    // {2,4,6,8} (4), l0 hop {5,6,7,8,9} (5) → 13 evals; frontier =
    // (3-1) + (4-2) + (5-2) = 7; the descent arrives → recall@2 = 1
    val base = (0L to 9L).map(i => (i, Array(i.toFloat)))
      .toDF("vec_id", "embedding")
    val lgLine = Similarity.layeredKnnGraph(base, "vec_id", "embedding",
      numCoarse = 1, coarseIterations = 1, k = 2, maxLayer = 2)
    val qLine = Seq((100L, Array(9.4f))).toDF("vec_id", "embedding")
    val exact = Seq((100L, 9L), (100L, 8L)).toDF("q_id", "n_id")
    val audit = Similarity.layeredRecallCost(lgLine, base, qLine,
        "vec_id", "embedding", exact, k = 2, maxLayer = 2, entryK = 1,
        beam = 2, hopsPerLayer = 1, topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(audit == Seq((100L, 2L, 1000000L, 13L, 7L)),
      s"layered audit diverged from the hand count: $audit")
    // maxLayer = 0 ≡ the flat graphRecallCost (same walk, same counts)
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val flat = Similarity.knnGraphSeed(coarse, emb, "vec_id",
      "embedding", 5)
    val lg0 = Similarity.layeredKnnGraph(emb, "vec_id", "embedding",
      numCoarse = 8, coarseIterations = 2, k = 5, maxLayer = 0)
    val q5 = emb.filter(col("vec_id") < 5)
    val ex5 = Ivf.filteredSearch(coarse,
      Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil),
      q5, "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id").collect().toSeq
    assert(rows(Similarity.layeredRecallCost(lg0, emb, q5, "vec_id",
        "embedding", ex5, 5, maxLayer = 0, entryK = 2, beam = 5,
        hopsPerLayer = 2, topK = 5)) ==
      rows(Similarity.graphRecallCost(flat, emb, q5, "vec_id",
        "embedding", ex5, 5, entryK = 2, beam = 5, hops = 2, topK = 5)),
      "single-layer recall+cost diverged from the flat audit")
    // an empty top layer (maxLayer beyond the promotion range) is
    // loud, not silently empty — odd-only corpus has no id % 2 == 0
    val odd = base.filter(col("vec_id") % 2 === 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.layeredGraphSearch(lgLine, odd, qLine, "vec_id",
        "embedding", maxLayer = 1, entryK = 1, beam = 2,
        hopsPerLayer = 1, topK = 2)
    }
    assert(e.getMessage.contains("no members"),
      s"wrong failure: ${e.getMessage}")
    // refined layered build, maxLayer = 0 ≡ the flat knnGraph
    // trajectory (same seed, same rounds)
    assert(Similarity.layeredKnnGraphRefined(emb, "vec_id", "embedding",
        numCoarse = 8, coarseIterations = 2, k = 5, maxLayer = 0,
        rounds = 2)
        .drop("layer").orderBy("src", "rnk").collect().toSeq ==
      Similarity.knnGraph(emb, "vec_id", "embedding", numCoarse = 8,
        coarseIterations = 2, k = 5, rounds = 2)
        .orderBy("src", "rnk").collect().toSeq,
      "single-layer refined build diverged from the flat knnGraph")
  }

  test("layered pruned purge + per-layer-α maintenance ≡ the full per-layer re-prunes") {
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    val lp = Similarity.pruneLayeredGraphRng(lg, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    val tombs = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    val tombIds = tombs.collect().map(_.getLong(0)).toSet
    val survivors = emb.filter(col("vec_id") % 5 =!= 0)
    // uniform layered purge ≡ the full per-layer re-prune of the
    // purged rebuild (the q329 oracle's claim)
    val incP = Similarity.purgePrunedLayeredKnnGraph(lg, lp, idx,
        tombs, k = 5, maxLayer = 2)
      .orderBy("layer", "src", "rnk").collect().toSeq
    val fullP = Similarity.pruneLayeredGraphRng(
        Similarity.purgeLayeredKnnGraph(lg, idx, tombs, 5, 2),
        survivors, "vec_id", "embedding", k = 5, maxLayer = 2)
      .orderBy("layer", "src", "rnk").collect().toSeq
    assert(incP == fullP,
      "layered pruned purge diverged from the full per-layer re-prune")
    assert(incP.forall(r => !tombIds.contains(r.getLong(1))),
      "a deleted source survived the layered pruned purge")
    assert(incP.forall(r => !tombIds.contains(r.getLong(2))),
      "a deleted dst survived the layered pruned purge")
    // per-layer-α maintenance on the MIXED committed table
    val mixed = Seq((2L, 3L), (1L, 1L), (3L, 2L))
    val lpm = Similarity.pruneLayeredGraphRngPerLayer(lg, emb,
      "vec_id", "embedding", k = 5, mixed)
    val batch = Ivf.flatIndex(coarse,
      emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", Nil)
    val restated = emb.select(col("vec_id"),
      when(col("vec_id") % 7 === 0, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    assert(Similarity.upsertPrunedLayeredKnnSeedPerLayer(lg, lpm, idx,
        batch, k = 5, mixed)
        .orderBy("layer", "src", "rnk").collect().toSeq ==
      Similarity.pruneLayeredGraphRngPerLayer(
          Similarity.upsertLayeredKnnSeed(lg, idx, batch, 5, 2),
          restated, "vec_id", "embedding", k = 5, mixed)
        .orderBy("layer", "src", "rnk").collect().toSeq,
      "mixed-α upsert diverged from the full per-layer re-prune")
    assert(Similarity.purgePrunedLayeredKnnGraphPerLayer(lg, lpm, idx,
        tombs, k = 5, mixed)
        .orderBy("layer", "src", "rnk").collect().toSeq ==
      Similarity.pruneLayeredGraphRngPerLayer(
          Similarity.purgeLayeredKnnGraph(lg, idx, tombs, 5, 2),
          survivors, "vec_id", "embedding", k = 5, mixed)
        .orderBy("layer", "src", "rnk").collect().toSeq,
      "mixed-α purge diverged from the full per-layer re-prune")
    // uniform entries ≡ the uniform verb (the q323 equivalence,
    // restated on the maintenance axis)
    val ones = Seq((1L, 1L), (1L, 1L), (1L, 1L))
    assert(Similarity.upsertPrunedLayeredKnnSeedPerLayer(lg, lp, idx,
        batch, k = 5, ones)
        .orderBy("layer", "src", "rnk").collect().toSeq ==
      Similarity.upsertPrunedLayeredKnnSeed(lg, lp, idx, batch, k = 5,
          maxLayer = 2)
        .orderBy("layer", "src", "rnk").collect().toSeq,
      "uniform per-layer upsert diverged from the uniform verb")
    // layer-count fail-loud: a 3-layer graph with 2 αs must raise
    val e = intercept[IllegalArgumentException] {
      Similarity.upsertPrunedLayeredKnnSeedPerLayer(lg, lpm, idx,
        batch, k = 5, Seq((1L, 1L), (1L, 1L)))
    }
    assert(e.getMessage.contains("layers up to 2"),
      s"wrong failure: ${e.getMessage}")
  }

  test("fold-cache refresh: incremental ≡ full rebuild bit-for-bit (upsert+purge, flat+layered)") {
    // the round-18 lifecycle claim: a cache row is a pure per-source
    // function of (rank list, neighbor vectors), so the pruned-table
    // changed supersets transfer — and with the sorted covers the
    // refreshed rows must equal the full rebuild EXACTLY, nested
    // column included
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", 5)
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    val sdir = tmpDir("graft_foldcache_refresh")
    try {
      // STORED-table shape (the verbs' contract)
      Similarity.pruneFoldCache(g, emb, "vec_id", "embedding", 5)
        .write.parquet(s"$sdir/flat")
      Similarity.pruneLayeredFoldCache(lg, emb, "vec_id", "embedding",
        5, 2).write.parquet(s"$sdir/layered")
      val cFlat = spark.read.parquet(s"$sdir/flat")
      val cLay = spark.read.parquet(s"$sdir/layered")
      val batch = Ivf.flatIndex(coarse,
        emb.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", Nil)
      val restated = emb.select(col("vec_id"),
        when(col("vec_id") % 7 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      val tombs = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
      val survivors = emb.filter(col("vec_id") % 5 =!= 0)
      // flat upsert
      assert(Similarity.upsertPruneFoldCache(g, cFlat, idx, batch, 5)
          .orderBy("src").collect().toSeq ==
        Similarity.pruneFoldCache(
            Similarity.upsertKnnSeed(g, idx, batch, 5), restated,
            "vec_id", "embedding", 5)
          .orderBy("src").collect().toSeq,
        "flat upsert refresh diverged from the full cache rebuild")
      // flat purge
      assert(Similarity.purgePruneFoldCache(g, cFlat, idx, tombs, 5)
          .orderBy("src").collect().toSeq ==
        Similarity.pruneFoldCache(
            Similarity.purgeKnnGraph(g, idx, tombs, 5), survivors,
            "vec_id", "embedding", 5)
          .orderBy("src").collect().toSeq,
        "flat purge refresh diverged from the full cache rebuild")
      // layered upsert
      assert(Similarity.upsertPruneLayeredFoldCache(lg, cLay, idx,
            batch, 5, 2)
          .orderBy("layer", "src").collect().toSeq ==
        Similarity.pruneLayeredFoldCache(
            Similarity.upsertLayeredKnnSeed(lg, idx, batch, 5, 2),
            restated, "vec_id", "embedding", 5, 2)
          .orderBy("layer", "src").collect().toSeq,
        "layered upsert refresh diverged from the full cache rebuild")
      // layered purge
      assert(Similarity.purgePruneLayeredFoldCache(lg, cLay, idx,
            tombs, 5, 2)
          .orderBy("layer", "src").collect().toSeq ==
        Similarity.pruneLayeredFoldCache(
            Similarity.purgeLayeredKnnGraph(lg, idx, tombs, 5, 2),
            survivors, "vec_id", "embedding", 5, 2)
          .orderBy("layer", "src").collect().toSeq,
        "layered purge refresh diverged from the full cache rebuild")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(sdir))
    }
  }

  test("flat lifecycle verbs: no layer attribute and no bloom-filter probe in the executed plans") {
    // the flat and layered graph verbs share one keyed body each, with
    // Nil as the flat group key; a `layer` column, literal or predicate
    // leaking into a flat plan would also let Spark inject a runtime
    // bloom-filter subquery (`might_contain`) on the edge scan
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
        case _ => p.children
      }
      (p +: kids.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    }
    def offenders(p: SparkPlan): Seq[String] = nodes(p).flatMap { n =>
      val layer = (n.output ++ n.expressions.flatMap(_.references))
        .filter(_.name == "layer").map(a => s"${n.nodeName}: $a")
      val bloom = n.expressions.filter(_.toString.contains("might_contain"))
        .map(e => s"${n.nodeName}: $e")
      layer ++ bloom
    }
    val e = emb
    val sdir = tmpDir("graft_flat_plans")
    def stored(name: String, df: DataFrame): DataFrame = {
      df.write.parquet(s"$sdir/$name")
      spark.read.parquet(s"$sdir/$name")
    }
    try {
      val coarse = stored("coarse",
        Ivf.centroids(e, "vec_id", "embedding", 8, 2))
      val idx = stored("idx",
        Ivf.flatIndex(coarse, e, "vec_id", "embedding", Nil))
      val g = stored("g",
        Similarity.knnGraphSeed(coarse, e, "vec_id", "embedding", 5))
      val pruned = stored("pruned",
        Similarity.pruneGraphRng(g, e, "vec_id", "embedding", 5))
      val cache = stored("cache",
        Similarity.pruneFoldCache(g, e, "vec_id", "embedding", 5))
      val batch = stored("batch", Ivf.flatIndex(coarse,
        e.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", Nil))
      val history = idx.join(batch.select("vec_id"), Seq("vec_id"),
        "left_anti")
      val tombs = e.filter(col("vec_id") % 5 === 0).select("vec_id")
      val verbs: Seq[(String, () => DataFrame)] = Seq(
        "knnGraphSeed" -> (() =>
          Similarity.knnGraphSeed(coarse, e, "vec_id", "embedding", 5)),
        "appendKnnSeed" -> (() =>
          Similarity.appendKnnSeed(g, history, batch, 5)),
        "purgeKnnGraph" -> (() =>
          Similarity.purgeKnnGraph(g, idx, tombs, 5)),
        "upsertKnnSeed" -> (() =>
          Similarity.upsertKnnSeed(g, idx, batch, 5)),
        "upsertPrunedKnnSeed" -> (() =>
          Similarity.upsertPrunedKnnSeed(g, pruned, idx, batch, 5)),
        "purgePrunedKnnGraph" -> (() =>
          Similarity.purgePrunedKnnGraph(g, pruned, idx, tombs, 5)),
        "upsertPruneFoldCache" -> (() =>
          Similarity.upsertPruneFoldCache(g, cache, idx, batch, 5)),
        "purgePruneFoldCache" -> (() =>
          Similarity.purgePruneFoldCache(g, cache, idx, tombs, 5)))
      verbs.foreach { case (verb, build) =>
        graft.util.CacheScope.withScope {
          val df = build()
          assert(df.collect().nonEmpty, s"$verb returned no rows")
          val bad = offenders(df.queryExecution.executedPlan)
          assert(bad.isEmpty,
            s"$verb: the executed plan names a layer or probes a bloom " +
              s"filter:\n${bad.distinct.mkString("\n")}")
        }
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(sdir))
    }
  }

  test("fold-cache metadata gates: wrong k, missing columns, shallow refresh all raise") {
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", 5)
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 2)
    val cFlat = Similarity.pruneFoldCache(g, emb, "vec_id",
      "embedding", 5)
    val cLay = Similarity.pruneLayeredFoldCache(lg, emb, "vec_id",
      "embedding", 5, 2)
    // a cache built with k=5 served at k=4 would fold ITS OWN k's
    // census under the caller's label — the ADVICE silent-mislabel
    // hazard, now fail-loud
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pruneSweepFrom(cFlat, 4, Seq((1L, 1L)))
    }
    assert(e1.getMessage.contains("built with k=5"),
      s"wrong failure: ${e1.getMessage}")
    // a cache without the metadata column cannot be cross-checked
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pruneSweepFrom(cFlat.drop("__k"), 5, Seq((1L, 1L)))
    }
    assert(e2.getMessage.contains("__k"), s"wrong failure: ${e2.getMessage}")
    // a layered sweep past the built range would silently vanish its
    // top layers
    val e3 = intercept[IllegalArgumentException] {
      Similarity.pruneLayeredSweepFrom(cLay, 5, 3, Seq((1L, 1L)))
    }
    assert(e3.getMessage.contains("exceeds the cache's built"),
      s"wrong failure: ${e3.getMessage}")
    // a SHALLOWER refresh would strand the deeper layers stale —
    // exactLayers on the refresh verbs
    val batch = Ivf.flatIndex(coarse,
      emb.filter(col("vec_id") === 7)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding", Nil)
    val e4 = intercept[IllegalArgumentException] {
      Similarity.upsertPruneLayeredFoldCache(lg, cLay, idx, batch, 5, 1)
    }
    assert(e4.getMessage.contains("must cover every built layer"),
      s"wrong failure: ${e4.getMessage}")
    // the per-layer α commit probes the graph's real layer count: a
    // 3-layer graph with 2 αs must raise, not silently drop layer 2
    val e5 = intercept[IllegalArgumentException] {
      Similarity.pruneLayeredGraphRngPerLayer(lg, emb, "vec_id",
        "embedding", k = 5, alphas = Seq((1L, 1L), (1L, 1L)))
    }
    assert(e5.getMessage.contains("layers up to 2"),
      s"wrong failure: ${e5.getMessage}")
  }

  test("single-alpha recall sweep runs and equals the matching multi-alpha row") {
    // the ADVICE latent crash: graphWalk/layeredWalk emit no __v at
    // nVariants = 1 but the audit tail keys by it — a single-α sweep
    // must work AND agree with the same α's row in a variant sweep
    // (per-(q_id, __v) isolation)
    val s = spark
    import s.implicits._
    val coarse = Ivf.centroids(emb, "vec_id", "embedding", 8, 2)
    val idx = Ivf.flatIndex(coarse, emb, "vec_id", "embedding", Nil)
    val g = Similarity.knnGraphSeed(coarse, emb, "vec_id", "embedding", 5)
    val lg = Similarity.layeredKnnGraphWith(coarse, emb, "vec_id",
      "embedding", k = 5, maxLayer = 1)
    val q = emb.filter(col("vec_id") < 5)
    val exact = Ivf.filteredSearch(coarse, idx, q, "vec_id",
      "embedding", lit(true), nprobe = 8, topK = 5)
    val multiF = Similarity.pruneRecallSweep(g, emb, "vec_id",
        "embedding", q, exact, 5, Seq((1L, 1L), (3L, 2L)), entryK = 2,
        beam = 5, hops = 2, topK = 5)
      .filter(col("a_num") === 3).collect().toSeq
    val singleF = Similarity.pruneRecallSweep(g, emb, "vec_id",
        "embedding", q, exact, 5, Seq((3L, 2L)), entryK = 2, beam = 5,
        hops = 2, topK = 5)
      .collect().toSeq
    assert(singleF == multiF,
      s"single-α flat sweep diverged: $singleF vs $multiF")
    val multiL = Similarity.pruneLayeredRecallSweep(lg, emb, "vec_id",
        "embedding", q, exact, 5, maxLayer = 1,
        Seq((1L, 1L), (3L, 2L)), entryK = 2, beam = 5,
        hopsPerLayer = 1, topK = 5)
      .filter(col("a_num") === 3).collect().toSeq
    val singleL = Similarity.pruneLayeredRecallSweep(lg, emb, "vec_id",
        "embedding", q, exact, 5, maxLayer = 1, Seq((3L, 2L)),
        entryK = 2, beam = 5, hopsPerLayer = 1, topK = 5)
      .collect().toSeq
    assert(singleL == multiL,
      s"single-α layered sweep diverged: $singleL vs $multiL")
  }
}
