package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Product quantization (PQ) — the Jégou/Douze/Schmid "Product
  * Quantization for Nearest Neighbor Search" compression tier of the
  * ANN ladder, between [[Quantize]]'s scalar int8 (1 B/dim) and sign
  * bits (1 bit/dim): the d-dim vector splits into `m` subvectors, each
  * quantized to its OWN small codebook (k centroids, learned by the
  * [[Ivf]] Lloyd machinery per subspace), so a vector stores as m
  * small integers — for d=64, m=4, k=8: FOUR BYTES — and approximate
  * distance is computed by ADC (asymmetric distance computation): the
  * query stays exact, each subspace contributes a table lookup
  * d2(q_s, centroid[code_s]), and the approximate distance is the sum
  * over subspaces.
  *
  * Scale shape, stage by stage:
  *  - assignment: every subvector row equi-joins its subspace's
  *    codebook, gathered into one broadcast row per subspace, and
  *    folds over it in place — [[Ivf.nearest]], the one argmin of the
  *    IVF and PQ code — so no exchange is keyed by (vec_id, sub);
  *  - training: subvector rows are m× the corpus but all m subspace
  *    k-means run JOINTLY (one assign + one recompute job per Lloyd
  *    round for every subspace — centroids key by (sub, cid)), with
  *    native VecSumAgg partial sums on the recompute exchange;
  *  - encoding: one broadcast-codebook pass; codes fold to one
  *    m-length array per vector — the stored index row — on the one
  *    vec_id-keyed exchange;
  *  - search: the per-query distance TABLE (m·k doubles per query) is
  *    aggregated to one map column and broadcast; scoring each base
  *    vector is then m integer-keyed map lookups summed in fixed
  *    subspace order (engine-portable: both sides add s = 0,1,…,m−1
  *    left to right), and the only exchange is the per-query top-k.
  *
  * All arithmetic rides the [[Ivf.quantize]] integral-double grid, so
  * every distance — and therefore every ranking — is bit-reproducible
  * in the SQL oracle.
  */
object Pq {

  /** Quantized subvector rows: (vec_id, sub ∈ [0, m), svec). The
    * vector length must be divisible by `m` (slice arithmetic is
    * dim/m; a ragged split would silently mis-slice). */
  def subvectors(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    subvectorsOf(embeddings.select(col(idCol).as("vec_id"),
      Ivf.quantize(col(vecCol)).as("qvec")), m)

  /** [[subvectors]] over an already-quantized (vec_id, qvec) frame —
    * the residual path feeds re-quantized residuals through here.
    * Divisibility is ENFORCED per row, not just documented: slice
    * arithmetic is dim DIV m, so a ragged length would silently drop
    * the trailing dims (d=64, m=5 scores only 60 dims) and return
    * wrong distances with no error — a task-side raise_error turns
    * that data bug into a loud failure instead. */
  private def subvectorsOf(vecs: DataFrame, m: Int,
      attrCols: Seq[String] = Nil): DataFrame = {
    require(m >= 1, s"m=$m subspaces must be >= 1")
    vecs
      .select(col("vec_id") +:
        when(size(col("qvec")) % m === 0, col("qvec"))
          .otherwise(raise_error(concat(lit("PQ: vector length "),
            coalesce(size(col("qvec")).cast("string"), lit("NULL")),
            lit(s" is not divisible by m=$m subspaces"))))
          .as("qvec") +:
        explode(sequence(lit(0), lit(m - 1))).as("sub") +:
        attrCols.map(col): _*)
      .select(col("vec_id") +: col("sub") +:
        expr(s"slice(qvec, sub * (size(qvec) DIV $m) + 1, " +
          s"size(qvec) DIV $m)").as("svec") +:
        attrCols.map(col): _*)
  }

  /** Nearest (sub, cid) per subvector row: [[Ivf.withNearest]] keyed
    * by `sub`, so each row folds over its own subspace's codebook in
    * place. Input is keyed by (vec_id, sub). Output: (vec_id, sub, cid,
    * d2[, svec], attrs*) — `withVec` keeps the subvector (training
    * recompute needs it; encoding doesn't). */
  private def assign(sv: DataFrame, cbs: DataFrame,
      withVec: Boolean, attrCols: Seq[String] = Nil): DataFrame =
    Ivf.withNearest(sv, cbs, "svec", "sub")
      .select(col("vec_id") +: col("sub") +: col("__cid").as("cid") +:
        col("__d2").as("d2") +: ((if (withVec) Seq(col("svec")) else Nil)
          ++ attrCols.map(col)): _*)

  /** Per-subspace codebooks (sub, cid, cent) by joint Lloyd iteration:
    * seeds are the `k` smallest vec_ids' subvectors (deterministic, the
    * [[Ivf.centroids]] rule applied per subspace — same seed ids in
    * every subspace), then `iterations` rounds of assign + mean. */
  def codebooks(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iterations: Int): DataFrame =
    trainCodebooks(
      subvectors(embeddings, idCol, vecCol, m)
        .transform(graft.util.CacheScope.persist),
      seedIds(embeddings, idCol, k), iterations)

  /** The `k` smallest ids — the deterministic [[Ivf.centroids]] seed
    * rule (TakeOrderedAndProject, no full sort). Seed ids double as
    * PQ centroid ids (cid), and the ADC lookup maps pack keys as
    * sub·2³² + cid — a cid outside [0, 2³²) would silently collide
    * across subspaces (or make map_from_arrays throw under
    * EXCEPTION dedup policy), so the bound is enforced HERE, at the
    * single choke point every codebook's cids flow through. k is
    * small, so the check is driver-free and costs nothing. */
  private def seedIds(embeddings: DataFrame, idCol: String,
      k: Int): DataFrame =
    embeddings.select(col(idCol).as("vec_id"))
      .orderBy(col("vec_id").asc).limit(k)
      .select(
        when(col("vec_id") >= 0 && col("vec_id") < lit(1L << 32),
          col("vec_id"))
          .otherwise(raise_error(concat(
            lit("PQ: seed id "), col("vec_id"),
            lit(" outside [0, 2^32) — packed ADC map keys would " +
              "collide across subspaces"))))
          .as("vec_id"))

  /** Joint Lloyd loop over a (vec_id, sub, svec) frame. The svec
    * elements must be INTEGRAL doubles (the quantize grid, or floor'd
    * residuals): the VecSumAgg partial sums fold across rows in
    * nondeterministic order, which is only exact — and therefore only
    * oracle-reproducible — when every addend is integral. */
  private def trainCodebooks(sv: DataFrame, seeds: DataFrame,
      iterations: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    var cbs = sv.join(broadcast(seeds), Seq("vec_id"))
      .select(col("sub"), col("vec_id").as("cid"), col("svec").as("cent"))
    val vsum = Bridge.column(graft.functions.VecSumAgg(
      Bridge.expression(col("svec").cast("array<double>")))
      .toAggregateExpression())
    // Each round nests one assign + recompute aggregate pair into a
    // single lazy plan — fine at the usual 3–4 Lloyd rounds, but plan
    // depth grows linearly with `iterations`, so a high-rounds retrain
    // takes the q115/Graph rotation: cut lineage every 4 rounds with
    // an eager localCheckpoint (the codebook is k·m rows — the extra
    // job is negligible) and free the superseded checkpoint eagerly.
    var lastCheckpoint: Option[DataFrame] = None
    for (i <- 1 to iterations) {
      cbs = assign(sv, cbs, withVec = true)
        .groupBy(col("sub"), col("cid"))
        .agg(vsum.as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"),
          transform(col("s"), x => x / col("n")).as("cent"))
      if (i % 4 == 0 && i < iterations) {
        val cp = cbs.localCheckpoint() // eager: materializes first
        lastCheckpoint.foreach(Bridge.unpersistCheckpoint)
        lastCheckpoint = Some(cp)
        cbs = cp
      }
    }
    // EAGER localCheckpoint, not persist (r19, the Ivf.centroids
    // rationale): k·m rows whose plan is the joint Lloyd chain —
    // truncate it to an RDD leaf so the many downstream consumers
    // (assign passes, ADC maps, error scoring) re-plan a leaf, not
    // the chain, on every analysis and AQE stage update.
    val out = graft.util.CacheScope.registerCheckpointed(
      cbs.localCheckpoint())
    lastCheckpoint.foreach(Bridge.unpersistCheckpoint)
    out
  }

  /** Fold per-(vec, sub) assignments into the stored code row — the
    * one vec_id-keyed exchange of an encode. Attrs are constant per
    * vec_id (they rode the subvector explode), so the per-attr `min`
    * is the identity — never a choice. */
  private def codesFrom(sv: DataFrame, cbs: DataFrame,
      attrCols: Seq[String] = Nil): DataFrame =
    assign(sv, cbs, withVec = false, attrCols)
      .groupBy(col("vec_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid")).as("codes"),
        attrCols.map(a => min(col(a)).as(a)): _*)

  /** PQ codes per vector: (vec_id, codes) where codes[s] is the 1-based
    * s-th subspace's nearest centroid id — the stored index row (m
    * small integers per vector). */
  def encode(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, cbs: DataFrame): DataFrame =
    codesFrom(subvectors(embeddings, idCol, vecCol, m), cbs)

  /** [[encode]] with FILTERABLE ATTRIBUTES stored IN the code row —
    * [[Ivf.flatIndex]]'s discipline applied to the COMPRESSED layout
    * (the one that actually serves at billion scale: m bytes/vector
    * instead of the flat index's full grid vector): language, source,
    * license — whatever predicates queries will carry — ride the
    * subvector explode and the code-row aggregate as constant payload,
    * never a join back to the corpus. At query time a predicate becomes a
    * plain column filter on the codes scan (plus parquet pushdown once
    * the table persists) BEFORE any scoring: `codes.filter(pred)` into
    * [[adcSearch]] restricts the exhaustive compressed scan, and the
    * same filtered frame as [[ivfPqSearch]]'s `assigned`/`codes` input
    * restricts candidates before the probe join — so selective
    * predicates never under-fill k (the classic post-filter ANN bug).
    * Attr columns must be orderable (they ride a per-vec_id `min`,
    * the identity on a constant). Output: (vec_id, codes, attrs*). */
  def encodeIndexed(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, cbs: DataFrame, attrCols: Seq[String]): DataFrame =
    codesFrom(
      subvectorsOf(
        embeddings.select(col(idCol).as("vec_id") +:
          Ivf.quantize(col(vecCol)).as("qvec") +: attrCols.map(col): _*),
        m, attrCols),
      cbs, attrCols)

  /** In-row PQ encoder against a DRIVER-LITERAL codebook — the
    * map-only form of [[encode]] for stateless streaming: the stored
    * codebook (k·m rows, BOUNDED — collecting it is the PageRank
    * node-count class of driver action, not a corpus collect) embeds
    * in the plan as literals, so encoding is a pure projection — no
    * shuffle, no state store, Append-mode safe, which is exactly what
    * an in-flight encode needs (a streaming groupBy re-derivation of
    * [[encode]]'s code-row aggregate would carry unbounded per-vector
    * state for no reason: all of a vector's subvectors live in its own
    * row). Bit-identical to [[encode]]: each subspace runs the same
    * [[Ivf.nearest]] fold, over the literal list instead of the
    * broadcast row, and the dot products fold left-to-right over the
    * same doubles. `cbsLocal(s)` lists (cid,
    * cent) for subspace s; `qvec` must be the quantized integral-grid
    * vector of EXACTLY m·dsub dims — enforced per row, mirroring
    * [[subvectorsOf]]'s guard: a shorter vector would silently
    * truncate the last subspace's dot product (VecDot folds min(len)
    * elements) and append a WRONG code to the stored index with no
    * error.
    *
    * The codebook embeds as ONE `typedLit` array, so the expression
    * tree is O(m) whatever k is: a production codebook (k=256, m=16 =
    * 4096 centroids) compiles. Spark's higher-order functions are
    * CodegenFallback, so the projection runs interpreted; the plan
    * stays a map-only Project (no exchange, no aggregate exec;
    * spec-asserted). */
  def encodeCodesExpr(qvec: Column,
      cbsLocal: IndexedSeq[Seq[(Long, Seq[Double])]]): Column = {
    require(cbsLocal.nonEmpty && cbsLocal.forall(_.nonEmpty),
      "encodeCodesExpr needs at least one centroid per subspace")
    val dsub = cbsLocal.head.head._2.size
    val m = cbsLocal.size
    val guarded = when(size(qvec) === m * dsub, qvec)
      .otherwise(raise_error(concat(
        lit("PQ: vector length "), size(qvec),
        lit(s" != ${m * dsub} = m*dsub of the literal codebook"))))
    // The subvector binds as a LAMBDA VARIABLE (zip_with), not a
    // subexpression inside the fold: higher-order functions re-evaluate
    // non-lambda subexpressions per element, so an in-lambda slice would
    // copy the subvector k times per subspace.
    val svecs = transform(sequence(lit(0), lit(m - 1)),
      s => slice(guarded, s * dsub + 1, lit(dsub)))
    zip_with(svecs, typedLit(cbsLocal.map(Ivf.centroidList).toSeq)
        .cast(s"array<array<${Ivf.centroidType}>>"),
      (sv, cb) => Ivf.nearest(sv, cb, LongType).getField("cid"))
  }

  /** Collect a stored codebook into [[encodeCodesExpr]]'s driver-side
    * shape — k·m rows, the bounded-action class. */
  def localCodebook(cbs: DataFrame,
      m: Int): IndexedSeq[Seq[(Long, Seq[Double])]] = {
    val rows = cbs.collect().map { r =>
      (r.getAs[Int]("sub"), r.getAs[Long]("cid"),
        r.getSeq[Double](r.fieldIndex("cent")))
    }
    (0 until m).map { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(t => (t._2, t._3)).toSeq
    }
  }

  /** O(new) DAILY maintenance for the stored PQ index — the q110
    * occupancy-maintenance contract applied to [[encode]]: the stored
    * codebooks are FIXED (no Lloyd re-iteration — retraining would
    * invalidate every stored code), the day's batch encodes against
    * them in ONE broadcast-codebook pass, and the new code rows
    * append to the stored codes table. Encoding is per-row against a
    * fixed codebook, so append IS the exact merge: the result equals
    * [[encode]] over history ∪ batch with the same codebooks, and
    * any [[adcTopK]]/[[ivfPqTopK]]-style search over the merged table
    * equals the full-recompute ordering. The stored codes scan is
    * read-once, never exchanged; batch and history ids must be
    * disjoint. */
  def appendCodes(storedCodes: DataFrame, cbs: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    storedCodes.unionByName(
      codesFrom(subvectors(batch, idCol, vecCol, m), cbs))

  /** Per-SUBSPACE quantization-error audit — the retraining signal
    * for a PQ deployment: train codebooks exactly as [[adcTopK]]
    * would, then report for each subspace how much squared error the
    * encoding leaves (Σ over vectors of the argmin d2, floored to the
    * integral grid per row and summed as exact longs — a raw double
    * sum would go order-dependent past 2⁵³). A subspace carrying a
    * disproportionate share of the error is where the m/k budget is
    * mis-sized or the dimensions need a permutation (the classic
    * OPQ motivation); watching err_sum drift against a stored
    * baseline tells the maintainer when [[appendCodes]]-era data has
    * outgrown the codebooks and a retrain is due. One train chain +
    * one in-row broadcast-codebook assign; the only exchange over the
    * subvectors carries per-(task, sub) partial sums, then m rows.
    * Output: (sub, n_vectors, err_sum, avg_err). */
  def quantizationError(embeddings: DataFrame, idCol: String,
      vecCol: String, m: Int, numCentroids: Int,
      iterations: Int): DataFrame = {
    // ONE persisted subvector frame feeds both the training chain and
    // the scoring pass — the single-scan property is STRUCTURAL (both
    // consumers hold the same Dataset), not an incidental CacheManager
    // plan-equality hit that a refactor perturbing either plan would
    // silently lose (doubling the corpus explode)
    val sv = subvectors(embeddings, idCol, vecCol, m)
      .transform(graft.util.CacheScope.persist)
    val cbs = trainCodebooks(sv, seedIds(embeddings, idCol, numCentroids),
      iterations)
    errorBySubspace(assign(sv, cbs, withVec = false))
  }

  /** [[quantizationError]] against FIXED stored codebooks — no
    * training; the form the daily ledger path consumes. */
  def quantizationErrorAgainst(cbs: DataFrame, embeddings: DataFrame,
      idCol: String, vecCol: String, m: Int): DataFrame =
    errorBySubspace(assign(subvectors(embeddings, idCol, vecCol, m),
      cbs, withVec = false))

  /** Shared audit tail: per-subspace counts + exact floored error
    * sums over an [[assign]] output. */
  private def errorBySubspace(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), floor(col("d2")).cast("long").as("__e"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("__e")).as("err_sum"))
      .withColumn("avg_err", expr("err_sum DIV n_vectors"))

  /** O(new) DAILY form of the error audit — the same
    * sufficient-statistics ledger as [[graft.operators.Ivf
    * .incrementalCellHealth]]: per-subspace counts and floored error
    * sums ADD under fixed codebooks, so the stored (sub, n_vectors,
    * err_sum) ledger absorbs a batch by scoring only the new vectors
    * and adding; avg_err re-derives from merged sums. History is
    * never re-read; err_sum DRIFT between ledger generations (the
    * batch's data outgrowing the codebooks) is the retrain trigger.
    * Oracle = the full recompute over history ∪ batch. */
  def incrementalQuantizationError(cbs: DataFrame, priorError: DataFrame,
      fresh: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    Ledger.merge(priorError,
        quantizationErrorAgainst(cbs, fresh, idCol, vecCol, m),
        "sub", Seq("n_vectors", "err_sum"))
      .withColumn("avg_err",
        when(col("n_vectors") > 0,
          expr("err_sum DIV n_vectors")).otherwise(lit(0L)))

  /** O(deleted) PURGE form of the error audit — the retraction twin
    * of [[incrementalQuantizationError]], same contract as
    * [[graft.operators.Ivf.purgeCellHealth]]: the tombstoned vectors
    * re-score against the FIXED stored codebooks (one broadcast pass
    * over O(deleted) rows — assignment is a pure function of the
    * vector, so the contribution being removed is recomputable from
    * the deleted rows alone) and their per-subspace (count, floored
    * error) sums SUBTRACT from the stored ledger; avg_err re-derives.
    * Integer sums make the subtraction exact: the purged ledger is
    * bit-identical to [[quantizationErrorAgainst]] over the
    * surviving corpus. */
  def purgeQuantizationError(cbs: DataFrame, priorError: DataFrame,
      deleted: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    Ledger.retract(priorError,
        quantizationErrorAgainst(cbs, deleted, idCol, vecCol, m),
        "sub", Seq("n_vectors", "err_sum"))
      .withColumn("avg_err",
        when(col("n_vectors") > 0,
          expr("err_sum DIV n_vectors")).otherwise(lit(0L)))

  /** DELETE from a stored codes/assignment table: drop the tombstoned
    * ids' rows. A LEFT ANTI join — the tombstone side is
    * deleted-proportional, so AQE broadcasts it in the common case
    * and the stored table never re-encodes or re-shuffles whole; the
    * surviving rows are untouched (codes are valid under the fixed
    * codebooks regardless of what else the index holds — deletion
    * never triggers re-encoding, the property that makes PQ purges
    * O(deleted) where a graph index (HNSW) would re-link). Pair with
    * [[purgeQuantizationError]] / [[graft.operators.Ivf
    * .purgeCellHealth]] so the audit ledgers stay consistent with the
    * shrunk table. */
  def purgeCodes(stored: DataFrame, tombstones: DataFrame,
      idCol: String): DataFrame =
    stored.join(tombstones.select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** BALANCED dimension permutation — the cheap deterministic cousin
    * of OPQ's learned rotation, and the fix [[quantizationError]]'s
    * doc points at when one subspace hoards the error: rank
    * dimensions by corpus energy and deal them to the m subspaces in
    * SNAKE order (1st..mth to subs 0..m−1, then m+1th..2mth to subs
    * m−1..0, …), so each subspace receives an energy-balanced mix of
    * hot and cold dimensions instead of whatever contiguous slice the
    * storage order happened to put together.
    *
    * The ranking statistic is Σ (x² div 10⁶) per dimension, computed
    * in INTEGER arithmetic: grid values are integral doubles, so x²
    * is an exactly-representable integer-valued double while
    * x² < 2⁵³ (raw |value| < ~94.9 on the 10⁶ grid — far past any
    * unit-normalized embedding), the BIGINT cast is exact, and the
    * integer DIV never rounds (a double divide by 10⁶ could round
    * across the floor boundary once x² grows large). The per-row
    * mega-scaling bounds each addend, so the corpus sum stays an
    * EXACT long far past 2⁵³-sized corpora (a raw Σx² double sum
    * goes order-dependent at ~10⁴ vectors), and the identical
    * integer arithmetic evaluates bit-equal in both engines. One
    * posexplode + one dim-keyed aggregate (64 groups); the ranking
    * window runs over the 64-row aggregate, not the corpus. Output:
    * (d 1-based, energy, rnk, sub). */
  def balancedPermutation(embeddings: DataFrame, idCol: String,
      vecCol: String, m: Int): DataFrame =
    permutationFromEnergy(dimEnergy(embeddings, idCol, vecCol), m)
      .select(col("d"), col("energy"), col("rnk"), col("sub"))

  /** Per-dimension energy LEDGER — [[balancedPermutation]]'s ranking
    * statistic as a stored sufficient-statistics table: (d, energy,
    * n_vectors), where energy is the exact mega-scaled long sum and
    * n_vectors the rows that built it. Energies ADD under
    * concatenation, so the stored ledger absorbs a day's batch by
    * scoring only the new vectors and [[Ledger.merge]]-ing
    * ([[incrementalDimEnergy]]) — history is never re-read, and the
    * permutation re-derives as a VIEW over the merged ledger
    * ([[permutationFromEnergy]]). Ledger drift against the layout
    * the index was built with is the OPQ retrain trigger. */
  def dimEnergy(embeddings: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    Ivf.quantized(embeddings, idCol, vecCol)
      .select(posexplode(col("qvec")).as(Seq("p", "x")))
      .select((col("p") + 1).cast("int").as("d"),
        expr("CAST(x * x AS BIGINT) DIV 1000000").as("e"))
      .groupBy(col("d"))
      .agg(sum(col("e")).as("energy"), count(lit(1)).as("n_vectors"))

  /** O(new) DAILY form of the energy ledger — the q202/q203
    * sufficient-statistics discipline on the dimension axis: only
    * `fresh` is scanned; sums add via the shared full-outer
    * [[Ledger.merge]]. Oracle = [[dimEnergy]] over history ∪ batch. */
  def incrementalDimEnergy(prior: DataFrame, fresh: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    Ledger.merge(prior, dimEnergy(fresh, idCol, vecCol), "d",
      Seq("energy", "n_vectors"))

  /** The snake-deal permutation as a VIEW over an energy ledger:
    * rank by (energy desc, d asc), deal ranks to the m subspaces in
    * snake order. The window runs over the d-row ledger (64 for the
    * testdata layout), never a corpus. Output: ledger columns +
    * (rnk, sub). */
  def permutationFromEnergy(ledger: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"m=$m subspaces must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("energy").desc, col("d").asc)
    ledger
      .withColumn("rnk", row_number().over(w))
      .withColumn("sub",
        expr(s"CASE WHEN ((rnk - 1) DIV $m) % 2 = 0 THEN (rnk - 1) % $m " +
          s"ELSE ${m - 1} - (rnk - 1) % $m END").cast("int"))
  }

  /** The [[balancedPermutation]] table collapsed to the in-row
    * application ORDER — position p of the permuted vector reads
    * source dimension order(p). Order = (sub asc, d asc), so
    * subspace s owns the s-th contiguous dsub-dim block of the
    * permuted layout and a plain [[subvectors]] slice lands each
    * subspace exactly its dealt dimensions. The collect is d rows
    * (64 for the testdata layout) — the PageRank node-count bounded
    * class, NOT a corpus collect; this is how the stored permutation
    * table becomes a plan literal at search/encode time. */
  def permutationOrder(perm: DataFrame): IndexedSeq[Int] =
    perm.select(col("sub"), col("d"))
      .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
      .map(_.getInt(1)).toIndexedSeq

  /** Reorder the vector column in-row by a literal permutation
    * (1-based source dims, the [[permutationOrder]] shape) — a pure
    * projection, no shuffle; the output keeps `vecCol`'s name so the
    * whole codebook/encode/search surface runs on the permuted
    * layout unchanged. Applying the SAME order to base, batch, and
    * query vectors preserves every pairwise distance exactly
    * (element-wise reorder), which is what makes the permuted index
    * transparent to exact rescoring. */
  def applyPermutation(embeddings: DataFrame, idCol: String,
      vecCol: String, order: IndexedSeq[Int]): DataFrame = {
    require(order.nonEmpty && order.sorted == (1 to order.size),
      s"order must be a permutation of 1..${order.size}")
    embeddings.select(col(idCol),
      array(order.map(d => col(vecCol).getItem(d - 1)): _*).as(vecCol))
  }

  /** Each vector's coarse cell and floor-quantized residual against a
    * FIXED coarse codebook, from ONE in-row [[Ivf.withNearest]] fold —
    * the winner's centroid rides the fold, so `floor(qvec − cent)`
    * computes in the same row with no assignment join-back. The shared
    * front of the residual index's build, encode and inline search.
    * Input is keyed by `idCol`. Output: (vec_id, ccell, qvec, attrs*),
    * ccell the coarse cell (named apart from the PQ code's `cid` it
    * rides next to) and qvec the residual. */
  private def residuals(embeddings: DataFrame, idCol: String,
      vecCol: String, coarse: DataFrame,
      attrCols: Seq[String] = Nil): DataFrame =
    Ivf.withNearest(embeddings.select(col(idCol).as("vec_id") +:
        Ivf.quantize(col(vecCol)).as("qvec") +: attrCols.map(col): _*),
      coarse, "qvec")
      .select(col("vec_id") +: col("__cid").as("ccell") +:
        zip_with(col("qvec").cast("array<double>"), col("__cent"),
          (x, c) => floor(x - c)).as("qvec") +: attrCols.map(col): _*)

  /** BUILD half of the stored residual index: residual codebooks for
    * a FIXED coarse codebook ([[residualIvfPqTopK]]'s training chain
    * as a standalone, so the codebooks can be STORED and the daily
    * path ([[appendResidualCodes]]) never retrains). Residuals
    * floor-quantize to the integral grid before training — the same
    * order-free-Lloyd guarantee as the inline form. */
  def residualCodebooks(embeddings: DataFrame, idCol: String,
      vecCol: String, coarse: DataFrame, m: Int, numCentroids: Int,
      pqIterations: Int): DataFrame =
    trainCodebooks(
      subvectorsOf(residuals(embeddings, idCol, vecCol, coarse), m)
        .transform(graft.util.CacheScope.persist),
      seedIds(embeddings, idCol, numCentroids), pqIterations)

  /** ENCODE half of the stored residual index: coarse cell + residual
    * PQ codes per vector against FIXED codebooks — the stored row of
    * the IVFADC layout (one cell id + m small ints). The coarse cell
    * and attrs (the [[encodeIndexed]] filterable-attribute discipline
    * on the IVFADC row) ride the code-row aggregate as constant
    * payload, never a join back to the corpus. Input is keyed by
    * `idCol`. Output: (vec_id, cid, codes, attrs*). */
  def residualEncode(embeddings: DataFrame, idCol: String,
      vecCol: String, coarse: DataFrame, cbs: DataFrame, m: Int,
      attrCols: Seq[String] = Nil): DataFrame =
    codesFrom(subvectorsOf(residuals(embeddings, idCol, vecCol, coarse,
        attrCols), m, "ccell" +: attrCols), cbs, "ccell" +: attrCols)
      .select(col("vec_id") +: col("ccell").as("cid") +: col("codes") +:
        attrCols.map(col): _*)

  /** O(new) DAILY maintenance for the stored RESIDUAL index —
    * [[appendCodes]] with the coarse assignment carried: coarse AND
    * residual codebooks stay FIXED, the day's batch assigns + encodes
    * in broadcast passes and appends to the stored (vec_id, cid,
    * codes) table. Per-row encoding against fixed codebooks makes
    * append the exact merge; history vectors are never re-read. */
  def appendResidualCodes(storedCodes: DataFrame, coarse: DataFrame,
      cbs: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame =
    storedCodes.unionByName(
      residualEncode(batch, idCol, vecCol, coarse, cbs, m))

  /** ADC distance of a row carrying `codes` and its query's `dmap`
    * (key sub·2³² + cid → d2): the m lookups summed in fixed subspace
    * order s = 0..m−1, left to right. A code with no `dmap` entry means
    * the codes were encoded against a different codebook than the one
    * searched; it raises instead of scoring NULL, which would rank
    * first. */
  private def adcDistance(m: Int): Column =
    (0 until m).map { s =>
      val code = element_at(col("codes"), s + 1)
      coalesce(element_at(col("dmap"), lit(s.toLong * (1L << 32)) + code),
        raise_error(concat(lit("PQ: code "),
          coalesce(code.cast("string"), lit("NULL")),
          lit(s" of subspace $s has no entry in the searched codebook: " +
            "codes and codebook mismatch (encoded against another " +
            "codebook?)"))))
    }.reduce(_ + _)

  /** Residual IVFADC search over the STORED index — the deployment
    * entry point for the residual family, completing the
    * build/apply split ([[ivfPqSearch]]'s contract on the residual
    * layout): `coarse`/`cbs` are the fixed codebooks and
    * `storedCodes` the (vec_id, cid, codes[, attrs*]) table
    * [[residualEncode]] builds and [[appendResidualCodes]] maintains
    * daily — assignment and codes live in ONE row here because the
    * residual codes are only meaningful relative to their cell. No
    * training happens in this plan; [[residualIvfPqTopK]] is exactly
    * build + this, and per-row determinism against fixed codebooks
    * makes search over daily-merged tables equal the full recompute.
    *
    * FILTERED serving: pass `storedCodes.filter(pred)` — the
    * predicate is a plain column filter on the index scan (parquet
    * pushdown at rest), applied BEFORE the probe join, so candidates
    * shrink at the source and k never under-fills (the
    * [[Ivf.filteredSearch]] discipline; attrs come from
    * [[residualEncode]]'s `attrCols`). Probing all cells with a TRUE
    * predicate ≡ the unfiltered search (spec-pinned).
    *
    * Scale shape: the per-(query, probed-cell) lookup tables are
    * nq·nprobe·m·k rows, broadcast-tiny; candidates come from a
    * cell-keyed equi-join of the probe table against the stored scan;
    * the only corpus-sized exchange is that join plus the final
    * per-query top-k window. Output: (q_id, n_id, adc_d2, rnk). */
  def residualSearch(coarse: DataFrame, cbs: DataFrame,
      storedCodes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, nprobe: Int, topK: Int): DataFrame = {
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)
    val probes = Ivf.quantized(queries, idCol, vecCol)
      .crossJoin(broadcast(coarse))
      .withColumn("d2", Ivf.dist2(col("qvec"), col("cent")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cid"), col("cent"),
        col("qvec"))
      .transform(graft.util.CacheScope.persist)
    // per-(query, probed cell) residual → ONE lookup-map row per
    // (q_id, ccell), broadcast once (r19; previously m sequential
    // broadcast hash joins — one per subspace — each a separate
    // exchange + broadcast build over the candidate frame). Key =
    // sub·2^32 + pqcid, the adcSearch packing: pqcids are seed vec
    // ids, raise_error-bounded to [0, 2^32) at the codebook choke
    // point, so the low half cannot collide across subspaces. Every
    // candidate's (q_id, ccell) is a probe pair by construction, so
    // the join is total; a code that is not a cbs cid raises in
    // adcDistance, which folds s = 0..m−1 left-to-right.
    val qtab = probes
      .select(col("q_id"), col("cid").as("ccell"),
        zip_with(col("qvec").cast("array<double>"), col("cent"),
          (x, c) => floor(x - c)).as("qvec"))
      .select(col("q_id"), col("ccell"), col("qvec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("q_id"), col("ccell"), col("sub"),
        expr(s"slice(qvec, sub * (size(qvec) DIV $m) + 1, " +
          s"size(qvec) DIV $m)").as("svec"))
      .join(broadcast(cbs), Seq("sub"))
      .select(col("q_id"), col("ccell"),
        (col("sub").cast("long") * lit(1L << 32) + col("cid")).as("key"),
        Ivf.dist2(col("svec"), col("cent")).as("d2"))
      .groupBy(col("q_id"), col("ccell"))
      .agg(map_from_arrays(collect_list(col("key")),
        collect_list(col("d2"))).as("dmap"))
    val cand = probes.select(col("q_id"), col("cid"))
      .join(storedCodes.select(col("vec_id"), col("cid"), col("codes")),
        Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cid").as("ccell"), col("vec_id"),
        col("codes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("adc_d2").asc, col("vec_id").asc)
    cand.join(broadcast(qtab), Seq("q_id", "ccell"))
      .withColumn("adc_d2", adcDistance(m))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("vec_id").as("n_id"), col("adc_d2"),
        col("rnk").cast("int").as("rnk"))
  }

  /** RESIDUAL IVF-PQ top-k — the classic IVFADC layout ([[ivfPqTopK]]'s
    * documented refinement): PQ codebooks train on the residual
    * `x − cent[cell(x)]` rather than the raw vector, so the codes only
    * have to describe the (much smaller) within-cell spread — finer
    * quantization from the same code budget. Search scores candidate x
    * in probed cell c by ‖(q − cent[c]) − pq(r_x)‖²: the query residual
    * — and therefore the per-subspace lookup table — is PER PROBED
    * CELL, nq · nprobe · m · k rows, still broadcast-tiny.
    *
    * Engine-exactness: residuals RE-QUANTIZE to the integral grid
    * (`floor(x − cent)`) before training/encoding — coarse centroids
    * are means, so raw residuals are non-integral and cross-row double
    * sums (the Lloyd recompute) would depend on partial-aggregation
    * order; flooring costs sub-quantum precision (1 part in 10⁶) and
    * buys bit-identical oracles. Row-internal dot products fold left
    * to right on both engines and need no such guard.
    *
    * Scale shape: identical to [[ivfPqTopK]] plus one in-row
    * broadcast-coarse residual pass over the base, which both trains
    * the codebooks and builds the stored rows; the search tail is
    * [[residualSearch]]'s. Output: (q_id, n_id, adc_d2, rnk). */
  def residualIvfPqTopK(embeddings: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, numCoarse: Int,
      coarseIterations: Int, m: Int, numCentroids: Int,
      pqIterations: Int, nprobe: Int, topK: Int): DataFrame = {
    val coarse = Ivf.centroids(embeddings, idCol, vecCol, numCoarse,
      coarseIterations)
    // ONE residual pass, persisted: its subvectors train the codebooks
    // and, with the coarse cell riding along, build the stored rows
    val sv = subvectorsOf(residuals(embeddings, idCol, vecCol, coarse), m,
        Seq("ccell"))
      .transform(graft.util.CacheScope.persist)
    val cbs = trainCodebooks(sv, seedIds(embeddings, idCol, numCentroids),
      pqIterations)
    // the stored (vec_id, cid, codes) row residualEncode would write —
    // the search tail is exactly the deployment path over it
    val stored = codesFrom(sv, cbs, Seq("ccell"))
      .select(col("vec_id"), col("ccell").as("cid"), col("codes"))
    residualSearch(coarse, cbs, stored, queries, idCol, vecCol, m,
      nprobe, topK)
  }

  /** IVF-PQ top-k — the canonical billion-scale ANN layout: a COARSE
    * IVF codebook routes each query to its `nprobe` nearest cells
    * (so only those cells' members are scored at all), and within the
    * probed cells candidates rank by PQ ADC lookups instead of
    * full-dimension dots. Storage per base vector: one coarse cell id
    * + m PQ code ids; search cost: nprobe cells' occupancy × m map
    * lookups. This is the non-residual form (PQ trains on raw
    * vectors; the classic refinement trains on coarse residuals —
    * same machinery over `qvec − cent`, finer codes, costlier
    * training) — candidates are IVF-restricted, scores are q184's.
    *
    * Scale shape: coarse+PQ codebooks broadcast everywhere they are
    * consumed; the base assigns and encodes in broadcast passes; the
    * probe table is (queries × nprobe) rows joining the cell-keyed
    * assignment — the only corpus-sized exchange is that cell-keyed
    * candidate join plus the final per-query top-k window.
    * Under-filled probes return fewer than k (the [[Ivf.topK]]
    * recall/nprobe tradeoff). Output: (q_id, n_id, adc_d2, rnk). */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, numCoarse: Int, coarseIterations: Int, m: Int,
      numCentroids: Int, pqIterations: Int, nprobe: Int,
      topK: Int): DataFrame = {
    val coarse = Ivf.centroids(embeddings, idCol, vecCol, numCoarse,
      coarseIterations)
    val assigned = Ivf.assignIds(
        Ivf.quantized(embeddings, idCol, vecCol), coarse)
      .select(col("vec_id"), col("cid"))
    val cbs = codebooks(embeddings, idCol, vecCol, m, numCentroids,
      pqIterations)
    val codes = encode(embeddings, idCol, vecCol, m, cbs)
    ivfPqSearch(coarse, cbs, assigned, codes, queries, idCol, vecCol,
      m, nprobe, topK)
  }

  /** IVF-PQ search over the STORED index — the deployment entry
    * point completing [[adcSearch]]'s contract with coarse routing:
    * `coarse`/`cbs` are the fixed codebooks, `assigned` (vec_id, cid)
    * and `codes` (vec_id, codes) the stored tables [[appendCodes]]
    * (plus a per-batch [[Ivf.assignIds]] pass) maintains daily; no
    * training happens here, so searches against the daily-merged
    * tables equal the full-recompute ordering by per-row determinism.
    * [[ivfPqTopK]] is exactly build + this.
    *
    * FILTERED serving: build `assigned` with [[Ivf.flatIndex]] (attrs
    * stay on the assignment row) and pass `assigned.filter(pred)` — the
    * predicate restricts the assignment SCAN before the probe join
    * (parquet pushdown at rest), so candidates shrink at the source
    * and k never under-fills (the [[Ivf.filteredSearch]] discipline).
    * Probing all cells with a TRUE predicate ≡ [[adcSearch]] over the
    * same codes (spec-pinned), so the filtered form inherits the
    * probing-all ≡ brute-ADC equivalence over the filtered corpus. */
  def ivfPqSearch(coarse: DataFrame, cbs: DataFrame,
      assigned: DataFrame, codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, nprobe: Int,
      topK: Int): DataFrame = {
    // nprobe nearest coarse cells per query (rank ≤ nprobe, cid
    // tie-break — the Ivf.topK probe rule)
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)
    val probes = Ivf.quantized(queries, idCol, vecCol)
      .crossJoin(broadcast(coarse))
      .withColumn("d2", Ivf.dist2(col("qvec"), col("cent")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))
    val qtab = subvectors(queries, idCol, vecCol, m)
      .join(broadcast(cbs), Seq("sub"))
      .select(col("vec_id").as("q_id"),
        (col("sub").cast("long") * lit(1L << 32) + col("cid")).as("key"),
        Ivf.dist2(col("svec"), col("cent")).as("d2"))
      .groupBy(col("q_id"))
      .agg(map_from_arrays(collect_list(col("key")),
        collect_list(col("d2"))).as("dmap"))
    val cand = probes.join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("adc_d2").asc, col("vec_id").asc)
    cand.join(codes, Seq("vec_id"))
      .join(broadcast(qtab), Seq("q_id"))
      .withColumn("adc_d2", adcDistance(m))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("vec_id").as("n_id"), col("adc_d2"),
        col("rnk").cast("int").as("rnk"))
  }

  /** ADC → EXACT-rerank funnel — the deployment shape of PQ search:
    * [[ivfPqTopK]] produces a per-query SHORTLIST of `shortlistK`
    * candidates by approximate ADC distance, then only those
    * candidates rescore with exact full-dimension distances and the
    * top `topK` re-rank (the q80 Hamming-rescore discipline applied
    * to PQ, in the q138 two-pass funnel plan shape). ADC error is
    * bounded by quantization, so a shortlist a few × topK recovers
    * most exact-rank inversions at m-lookups-per-candidate cost —
    * full vectors are touched for nq·shortlistK rows only.
    *
    * Scale shape: full vectors NEVER cross an exchange — the
    * shortlist (nq·shortlistK ids, query-panel-proportional)
    * broadcasts back onto ONE base scan to pick up candidate
    * vectors, the bounded query panel broadcasts for the query side,
    * and the only exchange is the final per-query top-k window over
    * nq·shortlistK scored rows. Exact distances ride the integral
    * quantize grid (row-internal left-to-right fold), so ranks AND
    * the distance column hash-gate. Output: (q_id, n_id, exact_d2,
    * rnk ≤ topK). */
  def ivfPqRerankTopK(embeddings: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, numCoarse: Int,
      coarseIterations: Int, m: Int, numCentroids: Int,
      pqIterations: Int, nprobe: Int, shortlistK: Int,
      topK: Int): DataFrame = {
    require(shortlistK >= topK,
      s"shortlistK=$shortlistK must be >= topK=$topK")
    val short = ivfPqTopK(embeddings, queries, idCol, vecCol, numCoarse,
        coarseIterations, m, numCentroids, pqIterations, nprobe,
        shortlistK)
      .select(col("q_id"), col("n_id"))
    exactRerank(embeddings, queries, idCol, vecCol, short, topK)
  }

  /** [[ivfPqRerankTopK]] over a STORED index — the q194 build/apply
    * split applied to the funnel, completing the deployment shape
    * "stored index + rerank": `coarse`/`cbs` are the fixed codebooks
    * and `assigned`/`codes` the daily-maintained tables (exactly
    * [[ivfPqSearch]]'s inputs); the ADC shortlist comes from the
    * stored state with NO training stage in the plan, and only the
    * shortlist's nq·shortlistK candidates touch full vectors on the
    * one `base` scan. [[ivfPqRerankTopK]] is exactly build + this;
    * per-row determinism against fixed codebooks makes the funnel
    * over daily-merged tables equal the full-recompute funnel. */
  def ivfPqRerankSearch(coarse: DataFrame, cbs: DataFrame,
      assigned: DataFrame, codes: DataFrame, base: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, m: Int,
      nprobe: Int, shortlistK: Int, topK: Int): DataFrame = {
    require(shortlistK >= topK,
      s"shortlistK=$shortlistK must be >= topK=$topK")
    val short = ivfPqSearch(coarse, cbs, assigned, codes, queries,
        idCol, vecCol, m, nprobe, shortlistK)
      .select(col("q_id"), col("n_id"))
    exactRerank(base, queries, idCol, vecCol, short, topK)
  }

  /** Shared funnel tail: exact integral-grid rescore of a per-query
    * shortlist. The shortlist and query panel BROADCAST onto one
    * base scan — full vectors never cross an exchange; the only
    * exchange is the final per-query top-k window over
    * nq·shortlistK scored rows. */
  private[operators] def exactRerank(base: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, short: DataFrame,
      topK: Int): DataFrame = {
    val baseQ = Ivf.quantized(base, idCol, vecCol)
    val qpanel = Ivf.quantized(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("qvec").as("__qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("exact_d2").asc, col("n_id").asc)
    baseQ.join(broadcast(short), col("vec_id") === col("n_id"))
      .join(broadcast(qpanel), Seq("q_id"))
      .withColumn("exact_d2", Ivf.dist2(col("__qv"), col("qvec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("vec_id").as("n_id"), col("exact_d2"),
        col("rnk").cast("int").as("rnk"))
  }

  /** ADC top-k: train codebooks, encode the base, and rank base
    * vectors per query by the summed per-subspace lookup distance
    * (ascending, id tie-break), excluding self-matches. Output:
    * (q_id, n_id, adc_d2, rnk ≤ topK). The per-query lookup table
    * folds to ONE map row per query and broadcasts — scoring never
    * shuffles the base beyond the final per-query top-k window. */
  def adcTopK(embeddings: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, numCentroids: Int, iterations: Int,
      topK: Int): DataFrame = {
    val cbs = codebooks(embeddings, idCol, vecCol, m, numCentroids,
      iterations)
    val codes = encode(embeddings, idCol, vecCol, m, cbs)
    adcSearch(cbs, codes, queries, idCol, vecCol, m, topK)
  }

  /** ADC search over a STORED index — the deployment entry point:
    * `cbs` and `codes` are the tables [[codebooks]]/[[encode]] built
    * (and [[appendCodes]] maintains daily), read back from storage;
    * no training happens here. Per-query lookup tables fold to one
    * broadcast map row; scoring the codes table is m integer-keyed
    * map lookups summed in fixed subspace order, and the only
    * exchange is the final per-query top-k window. [[adcTopK]] is
    * exactly train + encode + this.
    *
    * FILTERED serving: encode with [[encodeIndexed]] (attrs stored IN
    * the code row) and pass `codes.filter(pred)` — the predicate is a
    * plain column filter on the compressed scan, applied before any
    * scoring; extra attr columns pass through the scorer untouched
    * and drop at the final select. */
  def adcSearch(cbs: DataFrame, codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, topK: Int): DataFrame = {
    val qtab = subvectors(queries, idCol, vecCol, m)
      .join(broadcast(cbs), Seq("sub"))
      .select(col("vec_id").as("q_id"),
        // key = sub·2^32 + cid: cid is a SEED VEC ID (the k smallest),
        // and seedIds raise_errors any id outside [0, 2^32), so the
        // low half cannot collide across subspaces
        (col("sub").cast("long") * lit(1L << 32) + col("cid")).as("key"),
        Ivf.dist2(col("svec"), col("cent")).as("d2"))
      .groupBy(col("q_id"))
      .agg(map_from_arrays(collect_list(col("key")),
        collect_list(col("d2"))).as("dmap"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("adc_d2").asc, col("vec_id").asc)
    codes.crossJoin(broadcast(qtab))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_d2", adcDistance(m))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("vec_id").as("n_id"), col("adc_d2"),
        col("rnk").cast("int").as("rnk"))
  }
}
