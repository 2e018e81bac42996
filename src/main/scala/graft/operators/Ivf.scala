package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to [[Similarity]]'s LSH: partition the vector space with a
  * small k-means codebook, then search only the `nprobe` clusters
  * nearest to the query. At 100 TB the cluster id becomes the partition
  * key: candidates co-locate, the cross join never materializes.
  *
  * Engine-exact determinism (so a SQL oracle reproduces it bit-for-bit):
  *  - vectors are quantized to integral doubles (floor(x·10⁶)) — sums of
  *    integers below 2⁵³ are EXACT in IEEE double, so groupBy sums are
  *    order-independent and centroid means are identical in any engine;
  *  - distances use the expanded form |q|² − 2q·c + |c|² with ordered
  *    dot-product folds (bit-equal to DuckDB's list_dot_product);
  *  - every nearest-centroid assignment, here and in [[Pq]], is ONE
  *    in-row fold ([[nearest]]) with a centroid-id tie-break;
  *  - initialization is the k smallest vec_ids (deterministic, not
  *    kmeans++ — this is a codebook demo, not a quality benchmark).
  */
object Ivf {

  /** Integral-double quantization: exact in both engines. */
  def quantize(vec: Column): Column =
    transform(VectorFunctions.asDouble(vec), x => floor(x * lit(1000000.0)))

  private[operators] def dist2(q: Column, c: Column): Column =
    VectorFunctions.dot(q, q) - lit(2.0) * VectorFunctions.dot(q, c) +
      VectorFunctions.dot(c, c)

  /** (vec_id, qvec) quantized vectors. */
  def quantized(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    embeddings.select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qvec"))

  /** Assign every vector to its nearest centroid (cid tie-break).
    * centroids: (cid, cent). Output: (vec_id, qvec, cid, d2), cid in
    * the codebook's own type. The argmin is [[withNearest]]'s in-row
    * fold, so the only exchange is the codebook's gather (k rows) and
    * the vector never leaves its row. Input is keyed by vec_id: every
    * input row comes out as one assigned row, duplicates included. */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    withNearest(vectors, centroids, "qvec")
      .select(col("vec_id"), col("qvec"), col("__cid").as("cid"),
        col("__d2").as("d2"))

  /** [[assign]] for consumers that need only the cluster id. Output:
    * (vec_id, cid, d2); input is keyed by vec_id. */
  def assignIds(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assign(vectors, centroids).select(col("vec_id"), col("cid"), col("d2"))

  /** Collect a coarse codebook into [[assignEnergyExpr]]'s driver-side
    * shape — k rows, the bounded-action class (the
    * [[graft.operators.Pq.localCodebook]] discipline). */
  def localCentroids(codebook: DataFrame): Seq[(Long, Seq[Double])] =
    codebook.select(col("cid"), col("cent")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  /** THE nearest-centroid argmin of this file and [[Pq]]: fold `cents`
    * — ARRAY<STRUCT<cid, cent: ARRAY<DOUBLE>, cc: DOUBLE>> with cid of
    * type `cidType` and cc = |cent|², a plan literal ([[centroidList]])
    * or a broadcast column ([[withNearest]]) — keeping the running
    * minimum of struct(d2, cid, cent). The best-so-far starts null, so
    * the first candidate always enters and every later one replaces it
    * only if strictly smaller: exactly the `min` aggregate's semantics,
    * so (d2 asc, cid asc) is the tie rule (distinct cids make every
    * comparison decisive; the trailing cent never orders) and a
    * distance of any magnitude still lands in a real cell. The
    * accumulator also carries the vector as doubles and |q|², so each
    * candidate costs one dot product; d2 = |q|² − 2q·c + |c|² adds the
    * same three doubles in the same order as [[dist2]], bit for bit.
    * Carrying the winner's centroid lets a residual compute in the
    * same row without a codebook re-probe. A vector whose length
    * differs from a centroid's — a null vector included — raises
    * instead of folding a truncated distance ([[VectorFunctions.dot]]
    * reads the shorter length), and so does an empty codebook, which
    * has no cell to land in. `qvec` must be integral-grid
    * ([[quantize]]d, or a floored residual). */
  private[operators] def nearest(qvec: Column, cents: Column,
      cidType: DataType): Column = {
    val best = new StructType().add("d2", DoubleType).add("cid", cidType)
      .add("cent", ArrayType(DoubleType))
    val q0 = qvec.cast("array<double>")
    when(size(cents) > 0, aggregate(cents,
      struct(lit(null).cast(best).as("best"), q0.as("q"),
        VectorFunctions.dot(q0, q0).as("qq")),
      (acc, c) => {
        val q = acc.getField("q")
        val cent = c.getField("cent")
        val cand = struct(
          when(size(q) === size(cent), acc.getField("qq") -
              lit(2.0) * VectorFunctions.dot(q, cent) + c.getField("cc"))
            .otherwise(raise_error(concat(lit("IVF: vector length "),
              coalesce(size(q).cast("string"), lit("NULL")),
              lit(" != centroid dim "), size(cent).cast("string"))))
            .as("d2"),
          c.getField("cid").as("cid"),
          cent.as("cent"))
        val b = acc.getField("best")
        struct(when(b.isNull || cand < b, cand).otherwise(b).as("best"),
          q.as("q"), acc.getField("qq").as("qq"))
      },
      acc => acc.getField("best")))
      .otherwise(raise_error(lit("IVF: empty codebook")))
  }

  /** A driver-side (cid, cent) list as the plan literal [[nearest]]
    * folds over. |cent|² is summed left to right from 0.0, the loop of
    * [[VectorFunctions.dot]], so the literal path's distances are
    * bit-equal to the broadcast path's. */
  private[operators] def centroidList(cents: Seq[(Long, Seq[Double])])
      : Seq[(Long, Seq[Double], Double)] =
    cents.map { case (cid, c) =>
      (cid, c, c.foldLeft(0.0)((s, x) => s + x * x))
    }

  /** The Spark type of one [[centroidList]] entry, as [[nearest]]
    * names its fields. */
  private[operators] val centroidType =
    "struct<cid:bigint,cent:array<double>,cc:double>"

  /** `rows` with the [[nearest]] centroid of their `vec` column as
    * three more columns, `__cid`, `__d2` and `__cent` — the one
    * assignment path of [[assign]], [[flatIndex]], [[cellHealth]] and
    * Pq's subspace assignment. The codebook (cid, cent) gathers into
    * ONE row per `keys` group (none: the whole codebook; Pq: one per
    * subspace), which broadcasts onto `rows` — a cross join without
    * keys, an equi-join on them — and each row folds over its group's
    * list in place. No exchange is keyed by the row id, every other
    * column of `rows` stays on its own row, and no row is collapsed:
    * input is keyed by its row id.
    *
    * `__cid` is declared non-null (a null codebook cid raises): a
    * caller's equi-join on the cell would otherwise infer
    * isnotnull(cid) and push it into the broadcast join's condition,
    * running the fold twice per row. */
  private[operators] def withNearest(rows: DataFrame, codebook: DataFrame,
      vec: String, keys: String*): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    import org.apache.spark.sql.graft.Bridge
    val cent = col("cent").cast("array<double>")
    val cb = codebook.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("cid"), cent.as("cent"),
        VectorFunctions.dot(cent, cent).as("cc"))).as("__cb"))
    val joined =
      if (keys.isEmpty) rows.crossJoin(broadcast(cb))
      else rows.join(broadcast(cb), keys)
    val folded = joined.withColumn("__b",
        nearest(col(vec), col("__cb"), codebook.schema("cid").dataType))
      .drop("__cb")
    folded.select(folded.columns.filter(_ != "__b").map(folded.col) ++ Seq(
      Bridge.column(AssertNotNull(Bridge.expression(col("__b.cid")),
        Seq("IVF: centroid id"))).as("__cid"),
      col("__b.d2").as("__d2"), col("__b.cent").as("__cent")): _*)
  }

  /** Floor-residual energy of `qvec` against its cell's centroid:
    * Σ floor(x − cent)², cast to BIGINT per row so sums stay exact. The
    * left-to-right double fold is [[VectorFunctions.dot]] of the
    * residual with itself, without building the residual twice. */
  private def residualEnergy(qvec: Column, cent: Column): Column =
    aggregate(zip_with(qvec.cast("array<double>"), cent,
        (x, c) => floor(x - c).cast("double")),
      lit(0.0), (acc, r) => acc + r * r).cast("long")

  /** IN-ROW coarse assignment + floor-residual energy against a
    * LITERAL centroid list — struct(cid, energy), the per-row half of
    * [[cellHealth]] as a pure projection: no join, no aggregation,
    * no exchange, which is what lets a STREAM score
    * arriving vectors statelessly (per-vector groupBy state would be
    * unbounded). The fold is [[nearest]]'s, so cid and energy are
    * exactly [[cellHealth]]'s. The `best` struct is referenced twice
    * (cid + energy), so the k distance evaluations may run twice per
    * row — bounded by k. */
  def assignEnergyExpr(qvec: Column,
      cents: Seq[(Long, Seq[Double])]): Column = {
    require(cents.nonEmpty, "assignEnergyExpr needs >= 1 centroid")
    val d = cents.head._2.size
    require(cents.forall(_._2.size == d),
      "ragged centroid list in assignEnergyExpr")
    val best = nearest(qvec,
      typedLit(centroidList(cents)).cast(s"array<$centroidType>"), LongType)
    struct(best.getField("cid").as("cid"),
      residualEnergy(qvec, best.getField("cent")).as("energy"))
  }

  /** Mean of assigned vectors per centroid, element-wise. Exact integer
    * sums (order-free) divided by counts. Clusters that lose every
    * vector drop out (standard k-means behavior; k can shrink).
    *
    * Uses the native [[graft.functions.VecSumAgg]] aggregate: the
    * previous posexplode → groupBy(cid, d) → re-assemble form expanded
    * n vectors into n·dim rows and shuffled that every Lloyd iteration;
    * the aggregate folds whole arrays map-side, so the exchange carries
    * one partial-sum array per (task, cluster) — shuffle volume
    * independent of corpus size. */
  def recompute(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    // quantize()'s floor emits ARRAY<BIGINT>; the aggregate folds
    // doubles (exact for these integral magnitudes, < 2^53)
    val vsum = Bridge.column(graft.functions.VecSumAgg(
      Bridge.expression(col("qvec").cast("array<double>")))
      .toAggregateExpression())
    assigned
      .groupBy(col("cid"))
      .agg(vsum.as("s"), count(lit(1)).as("n"))
      .select(col("cid"),
        transform(col("s"), x => x / col("n")).as("cent"))
  }

  /** Lloyd iterations from the deterministic seed codebook. The
    * quantized vectors are persisted for the loop (each iteration's
    * lineage would otherwise re-quantize from the scan, compounding per
    * iteration), and the FINAL codebook is persisted because topK reads
    * it twice (probe selection + base assignment) — without that, every
    * consumer re-runs the whole k-means chain. */
  def centroids(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int): DataFrame = {
    val vectors = quantized(embeddings, idCol, vecCol)
      .transform(graft.util.CacheScope.persist)
    // the k SMALLEST ids actually present (TakeOrderedAndProject, no
    // full sort) — `vec_id < k` is equivalent only for dense 0-based
    // ids and silently under-seeds a filtered corpus (e.g. the
    // incremental path's history slice)
    var cents = vectors.orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("cid"), col("qvec").as("cent"))
    for (_ <- 0 until iterations)
      cents = recompute(assign(vectors, cents))
    // EAGER localCheckpoint, not persist (r19): the codebook is k rows
    // (the bounded driver-action class), but its PLAN is the whole
    // k-means chain — scan + 2·(codebook gather + in-row fold +
    // recompute) — and every consumer embeds that subtree (probe
    // selection, base assignment, residual builds), so each downstream
    // analysis pass and every AQE per-stage re-optimization re-walks
    // it. Truncating
    // to an RDD leaf costs one tiny job here and shrinks every
    // downstream plan; the cache-reuse benefit of persist is kept
    // (checkpoint blocks serve all consumers).
    graft.util.CacheScope.registerCheckpointed(cents.localCheckpoint())
  }

  /** Occupancy census of `vectors` against a FIXED codebook: one
    * broadcast-codebook pass, the in-row [[assignIds]] fold, so the
    * only exchange over the vectors carries per-(task, cell) partial
    * counts. Output: (cid, countAs). */
  def occupancy(codebook: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, countAs: String): DataFrame =
    assignIds(quantized(vectors, idCol, vecCol), codebook)
      .groupBy(col("cid")).agg(count(lit(1)).as(countAs))

  /** Per-cell index HEALTH report against a FIXED codebook — the two
    * numbers an ANN index maintainer actually watches: occupancy
    * (balance: a hot cell serializes probes, an empty one wastes a
    * partition) and floor-quantized RESIDUAL ENERGY Σ‖floor(x −
    * cent)‖² (fit: how much variance the cell leaves for a residual
    * quantizer — exactly what the q186/q197 residual-PQ path has to
    * encode, so a high-energy cell predicts poor codes and signals
    * re-training or a k bump). Residuals floor to the integral grid,
    * each row's energy casts to BIGINT before the sum, so the totals
    * are exact longs and hash-gate. Every centroid adds a zero row to
    * the same per-cell sums, so EMPTY cells report (0, 0, 0) instead
    * of vanishing — the imbalance signal is the point. Each vector
    * folds IN-ROW over the broadcast codebook row ([[withNearest]]: the
    * argmin and the winner's energy in the same row), so no
    * vec_id-keyed exchange exists: the only exchange over the vectors
    * carries the per-(task, cell) partials of the cell sums. Output:
    * (cid, n_vectors, residual_energy, avg_residual_energy), cid
    * BIGINT. */
  def cellHealth(codebook: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val scored = withNearest(quantized(vectors, idCol, vecCol)
        .select(col("qvec").cast("array<double>").as("qvec")),
        codebook, "qvec")
      .select(col("__cid").cast("long").as("cid"), lit(1L).as("__n"),
        residualEnergy(col("qvec"), col("__cent")).as("__e"))
    // the spine is a zero row per centroid in the same sum, not a left
    // join: one aggregate covers empty cells too
    codebook.select(col("cid").cast("long").as("cid"), lit(0L).as("__n"),
        lit(0L).as("__e"))
      .unionByName(scored)
      .groupBy(col("cid"))
      .agg(sum(col("__n")).as("n_vectors"),
        sum(col("__e")).as("residual_energy"))
      .withColumn("avg_residual_energy",
        when(col("n_vectors") > 0,
          expr("residual_energy DIV n_vectors")).otherwise(lit(0L)))
  }

  /** O(new) DAILY form of [[cellHealth]] — the q110/q140
    * sufficient-statistics discipline: occupancy and residual energy
    * are pure per-cell SUMS under a FIXED codebook, so the stored
    * (cid, n_vectors, residual_energy) ledger absorbs a batch by
    * assigning + energy-scoring ONLY the new vectors (one broadcast
    * pass over O(new) rows) and adding per cell; the average
    * re-derives from the merged sums. History vectors are never
    * re-read; the merge exchanges ledger-sized frames only. The
    * oracle is the full [[cellHealth]] recompute over history ∪
    * batch — exact because integer sums are order- and
    * partition-free. Watching a cell's n/energy DRIFT between ledger
    * generations is the retraining trigger this report exists for. */
  def incrementalCellHealth(codebook: DataFrame, priorHealth: DataFrame,
      fresh: DataFrame, idCol: String, vecCol: String): DataFrame =
    Ledger.merge(priorHealth, cellHealth(codebook, fresh, idCol, vecCol),
        "cid", Seq("n_vectors", "residual_energy"))
      .withColumn("avg_residual_energy",
        when(col("n_vectors") > 0,
          expr("residual_energy DIV n_vectors")).otherwise(lit(0L)))

  /** UPSERT — a RESTATED document (same id, new content) is a DELETE
    * composed with an APPEND, and the ledger algebra makes that
    * literal: the old rows' per-cell contributions retract
    * ([[purgeCellHealth]]) and the new rows' contributions merge
    * ([[incrementalCellHealth]]), both O(changed) broadcast passes
    * under the FIXED codebook — history untouched, no retrain. The
    * caller supplies the old rows from the stored raw-vector table
    * (the retraction needs the values the ledger originally absorbed;
    * ids alone cannot un-sum) and the new rows from the restatement
    * feed. Exactness is inherited from both halves. */
  def upsertCellHealth(codebook: DataFrame, priorHealth: DataFrame,
      oldRows: DataFrame, newRows: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    incrementalCellHealth(codebook,
      purgeCellHealth(codebook, priorHealth, oldRows, idCol, vecCol),
      newRows, idCol, vecCol)

  /** O(deleted) PURGE form of [[cellHealth]] — the ledger absorbing a
    * DELETE (a takedown, a right-to-be-forgotten request, a
    * decontamination verdict evicting vectors from the index): the
    * tombstoned vectors assign + energy-score in ONE broadcast pass
    * over O(deleted) rows — exactly [[cellHealth]] run on the doomed
    * slice — and their per-cell (count, energy) contributions
    * SUBTRACT from the stored ledger ([[Ledger.retract]]); the
    * average re-derives. History is never re-read: under a FIXED
    * codebook each vector's cell assignment is a pure function of the
    * vector, so the contribution being removed is recomputable from
    * the deleted rows alone, and integer sums make the subtraction
    * exact — the purged ledger is bit-identical to a full recompute
    * over the surviving corpus. The codebook spine inside
    * [[cellHealth]] keeps every cid present, so cells untouched by
    * the delete subtract zeros and cells emptied BY it report
    * (0, 0, 0) instead of vanishing. */
  def purgeCellHealth(codebook: DataFrame, priorHealth: DataFrame,
      deleted: DataFrame, idCol: String, vecCol: String): DataFrame =
    Ledger.retract(priorHealth, cellHealth(codebook, deleted, idCol, vecCol),
        "cid", Seq("n_vectors", "residual_energy"))
      .withColumn("avg_residual_energy",
        when(col("n_vectors") > 0,
          expr("residual_energy DIV n_vectors")).otherwise(lit(0L)))

  /** Incremental index maintenance — the q65/q108 O(new) discipline
    * extended to the ANN pillar. STORED STATE in, O(new) work per
    * call: `codebook` (cid, cent) and `priorCensus` (cid, n_hist) are
    * the persisted index tables (built once by [[centroids]] +
    * [[occupancy]], re-built only on explicit retrain); the day's
    * `fresh` vectors are ASSIGNED to the fixed codebook in one
    * broadcast pass over O(new) rows — no Lloyd re-iteration and no
    * history re-scan ever happens here (the same contract as
    * Dedup.incrementalMinhash taking the stored signature index).
    * Output per centroid: (cid, n_hist, n_new) — the occupancy census
    * an index maintainer watches for drift (a centroid whose n_new
    * share diverges from its n_hist share signals re-training). The
    * codebook spine drives the join: a centroid with no members on
    * either side still reports, zero-filled. */
  def incrementalCounts(codebook: DataFrame, priorCensus: DataFrame,
      fresh: DataFrame, idCol: String, vecCol: String): DataFrame =
    codebook.select(col("cid"))
      .join(priorCensus.select(col("cid"), col("n_hist")), Seq("cid"), "left")
      .join(occupancy(codebook, fresh, idCol, vecCol, "n_new"),
        Seq("cid"), "left")
      .na.fill(0L, Seq("n_hist", "n_new"))
      .select(col("cid"), col("n_hist"), col("n_new"))

  /** IVF top-k: probe the `nprobe` clusters nearest each query, exact
    * cosine rerank inside them (norm-precomputed, same formula as
    * [[Similarity]]). Under-filled probes return fewer than k — the
    * recall/nprobe tradeoff that defines IVF. */
  def topK(embeddings: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int, iterations: Int,
      nprobe: Int): DataFrame = {
    val cents = centroids(embeddings, idCol, vecCol, numCentroids, iterations)
    val vectors = quantized(embeddings, idCol, vecCol)
    val assigned = assignIds(vectors, cents).select(col("vec_id"), col("cid"))

    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cid").asc)
    val probes = quantized(queries, idCol, vecCol)
      .crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("qvec"), col("cent")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cid"))

    val base = Similarity.withNorm(embeddings, idCol, vecCol)
    val q = base.select(col(idCol).as("qi"), col(vecCol).as("q_vec"),
      col("nrm").as("q_nrm"))
    val n = base.select(col(idCol).as("ni"), col(vecCol).as("n_vec"),
      col("nrm").as("n_nrm"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    probes
      .join(assigned, "cid")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id")).distinct()
      .join(broadcast(q), col("q_id") === col("qi"))
      .join(n, col("n_id") === col("ni"))
      .withColumn("cos",
        VectorFunctions.dot(col("q_vec"), col("n_vec")) /
          (col("q_nrm") * col("n_nrm")))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
  }

  /** Exact integral-grid L2 top-k for a BOUNDED query set — the brute
    * baseline on the distance axis ([[graft.operators.Similarity
    * .bruteForceTopK]]'s L2 sibling, and what [[filteredSearch]]
    * degenerates to when probing every cell): the query panel
    * broadcasts onto one corpus scan (the audited q20/q184
    * constant-broadcast class), distances are exact longs, the only
    * exchange is the per-query top-k window. */
  def bruteTopK(embeddings: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int): DataFrame = {
    val n = quantized(embeddings, idCol, vecCol)
      .select(col("vec_id").as("n_id"), col("qvec"))
    val q = quantized(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("qvec").as("__qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("n_id").asc)
    n.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("d2", dist2(col("__qv"), col("qvec")).cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("n_id"), col("d2"),
        col("rnk").cast("int").as("rnk"))
  }

  /** IVF-FLAT index BUILD: the stored table a filtered-search
    * deployment keeps — every vector's exact grid coordinates
    * cell-clustered alongside its FILTERABLE ATTRIBUTES (language,
    * source, license, date — whatever predicates queries will carry).
    * The attributes live IN the index row on purpose: at query time a
    * predicate becomes a plain column filter on the index scan (plus
    * parquet pushdown once the table persists), never a join back to
    * the corpus. The assignment is [[withNearest]]'s in-row fold, so
    * the vector and its attributes never leave their row: no
    * corpus-keyed exchange builds the index. Input is keyed by
    * `idCol`. Output: (vec_id, cid, qvec, attrs*). */
  def flatIndex(coarse: DataFrame, embeddings: DataFrame, idCol: String,
      vecCol: String, attrCols: Seq[String]): DataFrame =
    withNearest(embeddings.select(col(idCol).as("vec_id") +:
        quantize(col(vecCol)).as("qvec") +: attrCols.map(col): _*),
      coarse, "qvec")
      .select(col("vec_id") +: col("__cid").as("cid") +: col("qvec") +:
        attrCols.map(col): _*)

  /** FILTERED IVF-Flat search — attribute-predicated retrieval, the
    * seam every production vector store exposes ("nearest neighbors
    * WHERE lang = 'en'"): queries probe their `nprobe` nearest coarse
    * cells and score only cell members that SATISFY THE PREDICATE.
    * The filter applies to the index scan BEFORE the probe join —
    * selectivity shrinks the candidate stream at the source (and
    * pushes to parquet on a persisted index), instead of scoring
    * everything and discarding after, which is what a post-filter on
    * a plain top-k would do (and which also under-fills k when the
    * predicate is selective — the classic filtered-ANN bug this
    * operator exists to avoid). Scoring is the exact integral-grid L2
    * of [[topK]]'s quantized space, cast to BIGINT (dots ≤ 64·10¹²,
    * far inside 2⁵³), so ranks AND distances hash-gate against the
    * oracle. Probing all cells ≡ brute force over the filtered corpus
    * (spec-pinned) — nprobe trades recall exactly as in the
    * unfiltered case. Output: (q_id, n_id, d2, rnk ≤ topK),
    * self-matches excluded. */
  def filteredSearch(coarse: DataFrame, index: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      predicate: Column, nprobe: Int, topK: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("__pd2").asc, col("cid").asc)
    val probes = quantized(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("qvec").as("__qv"))
      .crossJoin(broadcast(coarse))
      .withColumn("__pd2", dist2(col("__qv"), col("cent")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("__qv"), col("cid"))
    val cand = index.filter(predicate)
      .select(col("vec_id").as("n_id"), col("cid"), col("qvec"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("n_id").asc)
    probes.join(cand, Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("d2", dist2(col("__qv"), col("qvec")).cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("n_id"), col("d2"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Per-query serving-COST audit for an IVF-routed search — the
    * denominator of the recall/latency knee a recall@k report alone
    * can't site: `cells_probed` (how many coarse cells the router
    * opened, ≤ nprobe) and `candidates` (how many stored rows the
    * scorer then touched — exactly the cell members minus a
    * self-match, the rows [[graft.operators.Quantize
    * .calibratedIvfSearch]]/[[graft.operators.Pq.ivfPqSearch]] score
    * at that nprobe). Composed next to [[graft.operators.Similarity
    * .recallAudit]], the pair emits the full recall/cost CURVE per
    * nprobe.
    *
    * Scale shape: cell occupancy aggregates BEFORE the probe join —
    * the k-row occupancy table joins the nq·nprobe probe rows, so the
    * corpus-sized assignment is touched by ONE partial-combining
    * count, never fanned per query; the self-cell probe is an
    * O(queries) equi-join. Empty probed cells count as probed with 0
    * candidates (left join — the router still opened them). Output:
    * (q_id, cells_probed, candidates). */
  def probeCost(coarse: DataFrame, assigned: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      nprobe: Int): DataFrame =
    probeCostSweep(coarse, assigned, queries, idCol, vecCol,
      Seq(nprobe)).drop("nprobe")

  /** [[probeCost]] across a WHOLE nprobe sweep from ONE probe
    * ranking — the q240 shape ("cost at nprobe ∈ {1, 2, 4}") without
    * re-fanning the codebook per sweep point: the coarse argsort
    * computes once to the largest nprobe, each sweep value reads its
    * rank prefix (a per-row filter on the tiny probe frame), and the
    * occupancy/self-cell joins amortize across all points. Output:
    * (nprobe, q_id, cells_probed, candidates). */
  def probeCostSweep(coarse: DataFrame, assigned: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      s"probeCostSweep: nprobes must be >= 1, got $nprobes")
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("__pd2").asc, col("cid").asc)
    val probes = quantized(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("qvec").as("__qv"))
      .crossJoin(broadcast(coarse))
      .withColumn("__pd2", dist2(col("__qv"), col("cent")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobes.max)
      .select(col("q_id"), col("cid"), col("__rn"))
    val occ = assigned.groupBy(col("cid")).agg(count(lit(1)).as("__occ"))
    // the self-cell table restricts to the bounded query panel FIRST
    // (broadcast semi-join on the assignment scan), so the probe join
    // sees an O(queries) frame, never the corpus
    val self = assigned
      .join(broadcast(queries.select(col(idCol).as("vec_id"))),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("q_id"), col("cid"), lit(1L).as("__self"))
    probes
      .join(broadcast(occ), Seq("cid"), "left")
      .join(broadcast(self), Seq("q_id", "cid"), "left")
      .select(col("q_id"), col("__rn"),
        coalesce(col("__occ"), lit(0L)).as("__occ"),
        coalesce(col("__self"), lit(0L)).as("__self"),
        explode(typedLit(nprobes.distinct.sorted)).as("nprobe"))
      .filter(col("__rn") <= col("nprobe"))
      .groupBy(col("nprobe"), col("q_id"))
      .agg(count(lit(1)).as("cells_probed"),
        sum(col("__occ") - col("__self")).as("candidates"))
  }
}
