package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, QueryPack, Tables}
import graft.operators.Similarity

/** Similarity-search family on the `embeddings` table (SURVEY §7.5).
  * Cosines compare EXACTLY against DuckDB: the Spark zip_with/aggregate
  * fold and DuckDB's list_dot_product both do left-to-right IEEE double
  * accumulation (verified bitwise), and both sides use the identical
  * norm-precomputed formula dot/(nrm_a·nrm_b) with nrm = sqrt(Σx²).
  * LSH buckets use exact integer arithmetic so the sign of a projection
  * can never differ between engines.
  */
object SimilarityQueries extends QueryPack {

  /** Per-vector norm CTE shared by the oracles. */
  private val normsSql = """
      nrm AS (
        SELECT vec_id,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings)"""

  private val cosSql =
    """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       (na.nrm * nb.nrm)"""

  /** LSH bucket CTE chain (planes→vx→proj→bucket), the SQL twin of
    * Similarity.lshBuckets: integer-exact projections so the bucket of a
    * vector can never differ between engines. */
  private def bucketsSql(numTables: Int, planesPerTable: Int, dims: Int): String = s"""
      planes AS (
        SELECT t, j, d,
               ('0x' || substr(md5(t || '_' || j || '_' || d), 1, 8))::BIGINT
                 - 2147483648 AS r_int
        FROM UNNEST(generate_series(0, ${numTables - 1})) t0(t),
             UNNEST(generate_series(0, ${planesPerTable - 1})) t1(j),
             UNNEST(generate_series(0, ${dims - 1})) t2(d)),
      vx AS (
        SELECT vec_id, d - 1 AS d,
               CAST(floor(embedding[d]::DOUBLE * 1000000.0) AS BIGINT) AS x_int
        FROM embeddings, UNNEST(generate_series(1, $dims)) t(d)),
      proj AS (
        SELECT vec_id, t, j, SUM(r_int * x_int) AS proj
        FROM vx JOIN planes USING (d) GROUP BY vec_id, t, j),
      bucket AS (
        SELECT vec_id, t,
               SUM((CASE WHEN proj >= 0 THEN 1::BIGINT ELSE 0::BIGINT END) << j) AS bucket
        FROM proj GROUP BY vec_id, t)"""

  // ---------------------------------------------------------------- q20
  // Exact brute-force cosine top-5 for query vectors vec_id < 10.
  private val q20 = Q(
    "q20_ann_bruteforce",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""
      WITH $normsSql
      SELECT q_id, n_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosSql AS cos,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY $cosSql DESC, b.vec_id ASC) AS rnk
        FROM embeddings a
        JOIN nrm na ON na.vec_id = a.vec_id
        JOIN embeddings b ON a.vec_id <> b.vec_id
        JOIN nrm nb ON nb.vec_id = b.vec_id
        WHERE a.vec_id < 10)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // ---------------------------------------------------------------- q21
  // Multi-probe LSH approximate top-5: 6 tables × 6 sign-bit planes,
  // each query probing its exact bucket plus every 1-bit-flipped
  // neighbor — recall@5 0.76 vs the q20 exact baseline (was 0.32 with
  // 2×4 single-probe), integer-exact bucketing, cosine rerank.
  private val q21 = Q(
    "q21_ann_lsh",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5,
          numTables = 6, planesPerTable = 6, dims = 64, multiProbe = true)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""
      WITH ${bucketsSql(6, 6, 64)},
      probes AS (
        SELECT b.vec_id, b.t,
               CASE WHEN p = 0 THEN b.bucket
                    ELSE xor(b.bucket, 1::BIGINT << (p - 1)) END AS pbucket
        FROM bucket b, UNNEST(generate_series(0, 6)) t(p)
        WHERE b.vec_id < 10),
      cand AS (
        SELECT DISTINCT qa.vec_id AS q_id, nb.vec_id AS n_id
        FROM probes qa JOIN bucket nb
          ON qa.t = nb.t AND qa.pbucket = nb.bucket AND qa.vec_id <> nb.vec_id),
      $normsSql
      SELECT q_id, n_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT c.q_id, c.n_id, $cosSql AS cos,
               ROW_NUMBER() OVER (PARTITION BY c.q_id
                 ORDER BY $cosSql DESC, c.n_id ASC) AS rnk
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.q_id
        JOIN nrm na ON na.vec_id = c.q_id
        JOIN embeddings b ON b.vec_id = c.n_id
        JOIN nrm nb ON nb.vec_id = c.n_id)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // ---------------------------------------------------------------- q22
  // Embedding-cosine near-dup pairs, cos ≥ 0.4 — the LSH-BUCKETED form
  // (candidates share a sign-hash bucket in any of 8 tables, exact
  // cosine rerank). This is the registered query precisely because it is
  // the plan that survives 100 TB: pair space is Σ bucket² per
  // (t, bucket), not n², and the plan contains no CartesianProduct (the
  // SimilaritySpec asserts that). The O(n²) exact baseline
  // (Similarity.nearDupPairs) stays spec-only, where it also measures
  // this query's recall.
  private val q22 = Q(
    "q22_embedding_near_dup",
    (s, dir) => {
      Similarity.nearDupPairsBucketed(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", minCos = 0.4,
          numTables = 8, planesPerTable = 4, dims = 64)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      WITH ${bucketsSql(8, 4, 64)},
      cand AS (
        SELECT DISTINCT qa.vec_id AS id_a, nb.vec_id AS id_b
        FROM bucket qa JOIN bucket nb
          ON qa.t = nb.t AND qa.bucket = nb.bucket AND qa.vec_id < nb.vec_id),
      $normsSql
      SELECT id_a, id_b, cos FROM (
        SELECT c.id_a, c.id_b, $cosSql AS cos
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.id_a
        JOIN nrm na ON na.vec_id = c.id_a
        JOIN embeddings b ON b.vec_id = c.id_b
        JOIN nrm nb ON nb.vec_id = c.id_b)
      WHERE cos >= 0.4
      ORDER BY id_a, id_b
    """))

  // ---------------------------------------------------------------- q36
  // IVF ANN: deterministic 8-centroid k-means codebook (2 Lloyd
  // iterations over integer-exact quantized vectors — integral-double
  // sums are order-free, so centroids are engine-identical), then
  // nprobe=2 cluster search + cosine rerank. The oracle unrolls both
  // iterations as CTE stages.
  private val q36 = Q(
    "q36_ann_ivf",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Ivf.topK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5,
          numCentroids = 8, iterations = 2, nprobe = 2)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, qvec AS cent FROM vx
             WHERE vec_id IN (SELECT vec_id FROM vx ORDER BY vec_id ASC LIMIT 8)),
      a1 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, c0 c))
        WHERE rn = 1),
      c1 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM a1, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      a2 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, c1 c))
        WHERE rn = 1),
      c2 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM a2, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      assigned AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, c2 c))
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, c2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN assigned a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      $normsSql
      SELECT q_id, n_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT c.q_id, c.n_id, $cosSql AS cos,
               ROW_NUMBER() OVER (PARTITION BY c.q_id
                 ORDER BY $cosSql DESC, c.n_id ASC) AS rnk
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.q_id
        JOIN nrm na ON na.vec_id = c.q_id
        JOIN embeddings b ON b.vec_id = c.n_id
        JOIN nrm nb ON nb.vec_id = c.n_id)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q104
  // Diversity-balanced subset: a quota of hash-smallest docs per LSH
  // region of the embedding space (one 4-plane table → ≤16 regions) —
  // stratified sampling with semantic strata. Bucket assignment is
  // map-side (native lsh_project); the quota prunes via
  // WindowGroupLimit, so nothing corpus-wide is ever sorted.
  private val q104 = Q(
    "q104_diversity_sample",
    (s, dir) => {
      Similarity.diversitySample(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", planesPerTable = 4, dims = 64,
          perBucket = 10)
        .orderBy(col("bucket"), col("rnk"))
    },
    Some(s"""
      WITH ${bucketsSql(1, 4, 64)}
      SELECT vec_id, CAST(bucket AS BIGINT) AS bucket,
             CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT vec_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY bucket
                 ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                          vec_id ASC) AS rnk
        FROM bucket WHERE t = 0)
      WHERE rnk <= 10
      ORDER BY bucket, rnk
    """))

  // --------------------------------------------------------------- q110
  // Incremental IVF maintenance: the codebook and its occupancy census
  // are the STORED index state (trained on history — vec_id % 5 <> 0,
  // seeded by history's 8 smallest ids — and persisted between runs;
  // built inline here because the gate is stateless), and the daily
  // step assigns ONLY the "new day's" vectors (vec_id % 5 = 0) to the
  // fixed codebook — one broadcast-codebook pass over O(new) rows,
  // never a Lloyd re-iteration or history re-scan. The q65/q108
  // incremental discipline extended to the ANN index; output =
  // per-centroid occupancy census (drift monitor). Oracle unrolls the
  // same integer-exact k-means as q36, restricted to the history slice.
  private val q110 = Q(
    "q110_incremental_ivf",
    (s, dir) => {
      import graft.operators.Ivf
      val e = Tables(s, dir, "embeddings")
      val hist = e.filter(col("vec_id") % 5 =!= 0)
      // ---- stored state (build once / on retrain) ----
      val codebook = Ivf.centroids(hist, "vec_id", "embedding",
        k = 8, iterations = 2)
      val census = Ivf.occupancy(codebook, hist, "vec_id", "embedding",
        "n_hist")
      // ---- daily O(new) step ----
      Ivf.incrementalCounts(codebook, census,
          e.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH vq AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      vh AS (SELECT * FROM vq WHERE vec_id % 5 <> 0),
      vn AS (SELECT * FROM vq WHERE vec_id % 5 = 0),
      c0 AS (
        SELECT vec_id AS cid, qvec AS cent FROM vh
        WHERE vec_id IN (SELECT vec_id FROM vh ORDER BY vec_id ASC LIMIT 8)),
      a1 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vh v, c0 c))
        WHERE rn = 1),
      c1 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM a1, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      a2 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vh v, c1 c))
        WHERE rn = 1),
      c2 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM a2, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      hist AS (
        SELECT cid, COUNT(*) AS n FROM (
          SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.qvec, v.qvec)
                       - 2.0 * list_dot_product(v.qvec, c.cent)
                       + list_dot_product(c.cent, c.cent) ASC, c.cid ASC) AS rn
            FROM vh v, c2 c)
          WHERE rn = 1)
        GROUP BY cid),
      neu AS (
        SELECT cid, COUNT(*) AS n FROM (
          SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.qvec, v.qvec)
                       - 2.0 * list_dot_product(v.qvec, c.cent)
                       + list_dot_product(c.cent, c.cent) ASC, c.cid ASC) AS rn
            FROM vn v, c2 c)
          WHERE rn = 1)
        GROUP BY cid)
      SELECT c2.cid, COALESCE(h.n, 0) AS n_hist, COALESCE(nu.n, 0) AS n_new
      FROM c2
      LEFT JOIN hist h USING (cid)
      LEFT JOIN neu nu USING (cid)
      ORDER BY c2.cid
    """))

  // --------------------------------------------------------------- q118
  // Hard-negative mining for retrieval/contrastive training: per query,
  // the top-5 most-similar corpus vectors that are NOT its labeled
  // positives — positives anti-joined out BEFORE the per-query ranking,
  // so rank <= 5 always yields 5 usable negatives. Positives are
  // fabricated arithmetically ((q, q+1) and (q, q+7)) — the corpus has
  // no labels; what matters is that labeled pairs must not surface.
  private val q118 = Q(
    "q118_hard_negatives",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      val positives = qs.select(col("q_id"), (col("q_id") + 1).as("pos_id"))
        .unionByName(qs.select(col("q_id"), (col("q_id") + 7).as("pos_id")))
      Similarity.hardNegatives(e, positives, "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""
      WITH $normsSql,
      qs AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10),
      pos AS (
        SELECT q_id, q_id + 1 AS pos_id FROM qs
        UNION ALL SELECT q_id, q_id + 7 FROM qs)
      SELECT q_id, n_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosSql AS cos,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY $cosSql DESC, b.vec_id ASC) AS rnk
        FROM embeddings a
        JOIN nrm na ON na.vec_id = a.vec_id
        JOIN embeddings b ON a.vec_id <> b.vec_id
        JOIN nrm nb ON nb.vec_id = b.vec_id
        WHERE a.vec_id < 10
          AND NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.q_id = a.vec_id AND p.pos_id = b.vec_id))
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q133
  // Semantic decontamination: q72's n-gram overlap misses the
  // PARAPHRASED benchmark item; here every corpus vector scores
  // against a small eval panel (vec_id % 19 = 0 plays the benchmark)
  // by exact cosine and docs whose nearest eval item reaches τ = 0.35
  // (p93 of the max-cos distribution — 31 of 473 flagged at sf0.01)
  // are contaminated. Engine: panel broadcast, per-doc argmax folded
  // map-side (q20's audited bounded-fan class, |corpus| rows on the
  // one exchange); oracle: the same argmax via ROW_NUMBER.
  private val q133 = Q(
    "q133_semantic_decontam",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Decontam.semanticContamination(
          e.filter(col("vec_id") % 19 =!= 0),
          e.filter(col("vec_id") % 19 === 0),
          "vec_id", "embedding", tau = 0.35)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $normsSql,
      pairs AS (
        SELECT a.vec_id AS doc_id, b.vec_id AS eval_id, $cosSql AS cos
        FROM embeddings a
        JOIN nrm na ON na.vec_id = a.vec_id
        JOIN embeddings b ON b.vec_id % 19 = 0
        JOIN nrm nb ON nb.vec_id = b.vec_id
        WHERE a.vec_id % 19 <> 0)
      SELECT doc_id, eval_id, cos, cos >= 0.35 AS contaminated FROM (
        SELECT doc_id, eval_id, cos,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY cos DESC, eval_id ASC) AS rk
        FROM pairs)
      WHERE rk = 1
      ORDER BY doc_id
    """))

  // --------------------------------------------------------------- q138
  // Matryoshka two-tier retrieval: coarse rank on the FIRST 32 of 64
  // dimensions (truncation, not hashing — deterministic, so fully
  // SQL-expressible), keep 50 per query, rerank the shortlist at full
  // dimension, emit top-5. On this synthetic (noise-like) corpus the
  // 32/50 funnel holds recall@5 ≈ 0.75 vs the exact q20 baseline —
  // trained matryoshka embeddings frontload information, so real
  // corpora do better at tighter cuts. Same q20 panel so the recall cost of the
  // funnel is directly inspectable; MatryoshkaSpec pins it.
  private val q138 = Q(
    "q138_matryoshka_topk",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.matryoshkaTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", dims = 32, shortlist = 50, k = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""
      WITH tn AS (
        SELECT vec_id, embedding[1:32]::DOUBLE[] AS tv,
               sqrt(list_dot_product(embedding[1:32]::DOUBLE[],
                                     embedding[1:32]::DOUBLE[])) AS tnrm
        FROM embeddings),
      coarse AS (
        SELECT q_id, n_id FROM (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                   ORDER BY list_dot_product(a.tv, b.tv) / (a.tnrm * b.tnrm)
                     DESC, b.vec_id ASC) AS trk
          FROM tn a JOIN tn b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < 10)
        WHERE trk <= 50),
      $normsSql
      SELECT q_id, n_id, cos, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT c.q_id, c.n_id, $cosSql AS cos,
               ROW_NUMBER() OVER (PARTITION BY c.q_id
                 ORDER BY $cosSql DESC, c.n_id ASC) AS rnk
        FROM coarse c
        JOIN embeddings a ON a.vec_id = c.q_id
        JOIN nrm na ON na.vec_id = c.q_id
        JOIN embeddings b ON b.vec_id = c.n_id
        JOIN nrm nb ON nb.vec_id = c.n_id)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q162
  // Inter-group embedding affinity matrix: per-label int8 centroid
  // mass (exact integer element-wise sums via the native VecSumAgg —
  // map-side combine, O(tasks·groups) arrays on the wire) and every
  // label pair's integer dot + cosine — the "which slices are
  // semantically close" signal a mixture designer reads before
  // setting weights. The pair join is aggregate-bounded² (10×10 here,
  // thousands² at web scale — still trivial); the cosine divides two
  // exact integers under correctly-rounded sqrt, so even the double
  // column hash-gates. The oracle rebuilds the same centroids by
  // explode-and-sum — proving the whole-vector aggregate equals the
  // relational element-wise form.
  private val q162 = Q(
    "q162_group_affinity",
    (s, dir) => {
      graft.operators.Quantize.groupAffinity(
          Tables(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("g_a"), col("g_b"))
    },
    Some("""
      WITH qv AS (
        SELECT label,
               CASE WHEN mx > 0
                 THEN list_transform(v, x -> CAST(floor(x / mx * 127.0 + 0.5) AS BIGINT))
                 ELSE list_transform(v, x -> 0::BIGINT) END AS codes
        FROM (
          SELECT label, embedding::DOUBLE[] AS v,
                 list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
          FROM embeddings)),
      cent AS (
        SELECT label, i, SUM(codes[i]) AS s
        FROM qv, UNNEST(generate_series(1, 64)) t(i)
        GROUP BY label, i),
      cnt AS (SELECT label, COUNT(*) AS n FROM qv GROUP BY label),
      selfd AS (SELECT label, SUM(s * s) AS self_dot FROM cent GROUP BY label),
      pair AS (
        SELECT a.label AS g_a, b.label AS g_b, SUM(a.s * b.s) AS dot_ab
        FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
        GROUP BY 1, 2)
      SELECT g_a, g_b, na.n AS n_a, nb.n AS n_b,
             CAST(p.dot_ab AS BIGINT) AS dot_ab,
             CAST(p.dot_ab AS DOUBLE) /
               (sqrt(CAST(sa.self_dot AS DOUBLE)) *
                sqrt(CAST(sb.self_dot AS DOUBLE))) AS cos_ab
      FROM pair p
      JOIN cnt na ON na.label = p.g_a
      JOIN cnt nb ON nb.label = p.g_b
      JOIN selfd sa ON sa.label = p.g_a
      JOIN selfd sb ON sb.label = p.g_b
      ORDER BY g_a, g_b
    """))

  // --------------------------------------------------------------- q173
  // O(new) incremental form of q162: the stored (group, csum, n)
  // ledger — exact sufficient statistics of the affinity matrix —
  // merges with today's batch by element-wise integer addition (the
  // q140/q161 mergeable-statistics discipline applied to embedding
  // centroids), and the matrix re-derives from the merged sums.
  // History (vec_id % 3 > 0) contributes ONLY its ledger row; the
  // oracle recomputes from the FULL table, so the hash match proves
  // the merge exact. Ledger-sized joins only — historical vectors are
  // never rescanned.
  private val q173 = Q(
    "q173_incremental_group_affinity",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val ledger = graft.operators.Quantize.affinityLedger(
        e.filter(col("vec_id") % 3 > 0), "label", "embedding")
      graft.operators.Quantize.incrementalGroupAffinity(
          ledger, e.filter(col("vec_id") % 3 === 0),
          "label", "embedding")
        .orderBy(col("g_a"), col("g_b"))
    },
    Some("""
      WITH qv AS (
        SELECT label,
               CASE WHEN mx > 0
                 THEN list_transform(v, x -> CAST(floor(x / mx * 127.0 + 0.5) AS BIGINT))
                 ELSE list_transform(v, x -> 0::BIGINT) END AS codes
        FROM (
          SELECT label, embedding::DOUBLE[] AS v,
                 list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
          FROM embeddings)),
      cent AS (
        SELECT label, i, SUM(codes[i]) AS s
        FROM qv, UNNEST(generate_series(1, 64)) t(i)
        GROUP BY label, i),
      cnt AS (SELECT label, COUNT(*) AS n FROM qv GROUP BY label),
      selfd AS (SELECT label, SUM(s * s) AS self_dot FROM cent GROUP BY label),
      pair AS (
        SELECT a.label AS g_a, b.label AS g_b, SUM(a.s * b.s) AS dot_ab
        FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
        GROUP BY 1, 2)
      SELECT g_a, g_b, na.n AS n_a, nb.n AS n_b,
             CAST(p.dot_ab AS BIGINT) AS dot_ab,
             CAST(p.dot_ab AS DOUBLE) /
               (sqrt(CAST(sa.self_dot AS DOUBLE)) *
                sqrt(CAST(sb.self_dot AS DOUBLE))) AS cos_ab
      FROM pair p
      JOIN cnt na ON na.label = p.g_a
      JOIN cnt nb ON nb.label = p.g_b
      JOIN selfd sa ON sa.label = p.g_a
      JOIN selfd sb ON sb.label = p.g_b
      ORDER BY g_a, g_b
    """))

  // --------------------------------------------------------------- q184
  // Product quantization (PQ) + ADC top-5: 4 subspaces × 16 dims, 8
  // centroids each (the q36 Lloyd machinery per subspace, 2 rounds,
  // deterministic smallest-id seeds) — a 64-dim vector stores as FOUR
  // centroid ids, and search is four table lookups per candidate
  // instead of a 64-dim dot. The oracle replays all four subspace
  // k-means chains, the encoding argmins, and the per-query lookup
  // tables; the ADC sum adds subspaces in the same s = 0..3 order on
  // both engines, so even the double-valued distance column
  // hash-gates. Everything rides the integral-double grid.
  // `trainWhere` (a predicate over vec_id) restricts the TRAINING
  // population — seeds, both Lloyd assign rounds, and the recompute
  // means — while enc$s still encodes EVERY row against the final
  // codebooks: exactly the q194 stored-index contract (codebooks are
  // fixed at build time; later batches only encode). The default
  // TRUE keeps q184/q185 byte-identical in behavior.
  private def pqSubChains(trainWhere: String = "TRUE"): String =
    (0 until 4).map { s =>
    val lo = s * 16 + 1
    val hi = s * 16 + 16
    raw"""
      sv$s AS (SELECT vec_id, qvec[$lo:$hi] AS sv FROM vx),
      svt$s AS (SELECT * FROM sv$s WHERE $trainWhere),
      c0_$s AS (
        SELECT vec_id AS cid, sv AS cent FROM svt$s
        WHERE vec_id IN (SELECT vec_id FROM vx WHERE $trainWhere
                         ORDER BY vec_id ASC LIMIT 8)),
      a1_$s AS (
        SELECT vec_id, sv, cid FROM (
          SELECT vec_id, sv, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.sv, c.cid,
                   list_dot_product(v.sv, v.sv)
                   - 2.0 * list_dot_product(v.sv, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM svt$s v, c0_$s c))
        WHERE rn = 1),
      c1_$s AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(sv[d]) / COUNT(*) AS v
          FROM a1_$s, UNNEST(generate_series(1, 16)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      a2_$s AS (
        SELECT vec_id, sv, cid FROM (
          SELECT vec_id, sv, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.sv, c.cid,
                   list_dot_product(v.sv, v.sv)
                   - 2.0 * list_dot_product(v.sv, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM svt$s v, c1_$s c))
        WHERE rn = 1),
      c2_$s AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(sv[d]) / COUNT(*) AS v
          FROM a2_$s, UNNEST(generate_series(1, 16)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      enc$s AS (
        SELECT vec_id, cid AS code, d2 FROM (
          SELECT vec_id, cid, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.sv, v.sv)
                   - 2.0 * list_dot_product(v.sv, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM sv$s v, c2_$s c))
        WHERE rn = 1),
      qd$s AS (
        SELECT v.vec_id AS q_id, c.cid,
               list_dot_product(v.sv, v.sv)
               - 2.0 * list_dot_product(v.sv, c.cent)
               + list_dot_product(c.cent, c.cent) AS d2
        FROM sv$s v, c2_$s c
        WHERE v.vec_id < 10)"""
  }.mkString(",")

  /** Restated-row PQ encode replay — the q194 fixed-codebook contract
    * for a RESTATED slice: `svr$s` slices the restated vectors
    * (callers define `vx2`, the restated corpus view), `encr$s`
    * argmin-encodes them against the [[pqSubChains]] final codebooks
    * (c2_$s — trained on the ORIGINAL corpus; restatement never
    * retrains). `restWhere` picks the restated ids. */
  private def pqRestatedEncChains(restWhere: String): String =
    (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = s * 16 + 16
      raw"""
      svr$s AS (
        SELECT vec_id, qvec[$lo:$hi] AS sv FROM vx2 WHERE $restWhere),
      encr$s AS (
        SELECT vec_id, cid AS code FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.sv, v.sv)
                   - 2.0 * list_dot_product(v.sv, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM svr$s v, c2_$s c))
        WHERE rn = 1)"""
    }.mkString(",")

  private val q184 = Q(
    "q184_pq_adc_topk",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Pq.adcTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", m = 4, numCentroids = 8,
          iterations = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      qs AS (SELECT DISTINCT q_id FROM qd0),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM qs q CROSS JOIN enc e
        JOIN qd0 d0 ON d0.q_id = q.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = q.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = q.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = q.q_id AND d3.cid = e.cb3
        WHERE e.vec_id <> q.q_id)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q185
  // IVF-PQ top-5 — q36's coarse router composed with q184's ADC
  // scorer: queries probe their 2 nearest of 8 coarse cells and only
  // those cells' members are scored, by four PQ table lookups each.
  // The oracle replays the coarse k-means chain, all four subspace PQ
  // chains, the probe ranking, the cell-restricted candidate join,
  // and the ADC sum (same s = 0..3 order both engines). Under-filled
  // probes return fewer than 5 — the recall/nprobe tradeoff the plan
  // exists to make explicit.
  private val q185 = Q(
    "q185_ivf_pq_topk",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Pq.ivfPqTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", numCoarse = 8, coarseIterations = 2,
          m = 4, numCentroids = 8, pqIterations = 2, nprobe = 2,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      co0 AS (SELECT vec_id AS cid, qvec AS cent FROM vx
              WHERE vec_id IN (SELECT vec_id FROM vx ORDER BY vec_id ASC LIMIT 8)),
      ca1 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co0 c))
        WHERE rn = 1),
      co1 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca1, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      ca2 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co1 c))
        WHERE rn = 1),
      co2 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca2, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      cellof AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c))
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN enc e ON e.vec_id = c.n_id
        JOIN qd0 d0 ON d0.q_id = c.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = c.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = c.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = c.q_id AND d3.cid = e.cb3)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q186
  // RESIDUAL IVF-PQ (the classic IVFADC): PQ trains on x − cent[cell]
  // — codes describe the within-cell spread, finer quantization from
  // the same 4-byte budget — and the query's lookup table is per
  // PROBED CELL (‖(q − cent[c]) − pq(r)‖²). Residuals re-quantize to
  // the integer grid (floor) so the Lloyd recompute's cross-row sums
  // stay order-free and the oracle replays bit-for-bit: coarse chain,
  // residual build, four residual-subspace k-means chains, per-cell
  // query tables, and the s = 0..3 ADC sum.
  /** Shared coarse k-means replay — the q36 2-iteration Lloyd chain as
    * one definition: vxt (training slice) → co0 seeds → ca1/co1 →
    * ca2/co2 → cellof (assignment of ALL vx rows). `trainWhere`
    * restricts the TRAINING population (seeds + both Lloyd rounds);
    * assignment always covers the full corpus. Callers define `vx`
    * and consume co2/cellof. One definition so the seeding rule and
    * Lloyd arithmetic cannot drift across oracles (used by
    * q197/q198/q202; the q36/q110/q185/q186/q189 copies predate the
    * helper and are frozen). */
  private[queries] def coarseCtes(trainWhere: String = "TRUE",
      cells: Int = 8): String = raw"""
      vxt AS (SELECT * FROM vx WHERE $trainWhere),
      co0 AS (SELECT vec_id AS cid, qvec AS cent FROM vxt
              WHERE vec_id IN (SELECT vec_id FROM vxt ORDER BY vec_id ASC LIMIT $cells)),
      ca1 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vxt v, co0 c))
        WHERE rn = 1),
      co1 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca1, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      ca2 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vxt v, co1 c))
        WHERE rn = 1),
      co2 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca2, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      cellof AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c))
        WHERE rn = 1)"""

  // `trainWhere` restricts the residual TRAINING population (seeds +
  // both Lloyd rounds) while renc$s still encodes every row — the
  // q197 stored-index contract; `queryTables` drops the rqd$s query
  // CTEs (they reference qrv, which only the search queries define).
  private def pqResChains(trainWhere: String = "TRUE",
      queryTables: Boolean = true): String = (0 until 4).map { s =>
    val lo = s * 16 + 1
    val hi = s * 16 + 16
    raw"""
      rsv$s AS (SELECT vec_id, rvec[$lo:$hi] AS sv FROM rv),
      rsvt$s AS (SELECT * FROM rsv$s WHERE $trainWhere),
      rc0_$s AS (
        SELECT vec_id AS cid, sv AS cent FROM rsvt$s
        WHERE vec_id IN (SELECT vec_id FROM vx WHERE $trainWhere
                         ORDER BY vec_id ASC LIMIT 8)),
      ra1_$s AS (
        SELECT vec_id, sv, cid FROM (
          SELECT vec_id, sv, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.sv, c.cid,
                   list_dot_product(v.sv, v.sv)
                   - 2.0 * list_dot_product(v.sv, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM rsvt$s v, rc0_$s c))
        WHERE rn = 1),
      rc1_$s AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(sv[d]) / COUNT(*) AS v
          FROM ra1_$s, UNNEST(generate_series(1, 16)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      ra2_$s AS (
        SELECT vec_id, sv, cid FROM (
          SELECT vec_id, sv, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.sv, c.cid,
                   list_dot_product(v.sv, v.sv)
                   - 2.0 * list_dot_product(v.sv, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM rsvt$s v, rc1_$s c))
        WHERE rn = 1),
      rc2_$s AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(sv[d]) / COUNT(*) AS v
          FROM ra2_$s, UNNEST(generate_series(1, 16)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      renc$s AS (
        SELECT vec_id, cid AS code FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.sv, v.sv)
                   - 2.0 * list_dot_product(v.sv, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM rsv$s v, rc2_$s c))
        WHERE rn = 1)""" + (if (!queryTables) "" else raw""",
      rqd$s AS (
        SELECT q.q_id, q.ccell, c.cid AS pqcid,
               list_dot_product(q.sv, q.sv)
               - 2.0 * list_dot_product(q.sv, c.cent)
               + list_dot_product(c.cent, c.cent) AS d2
        FROM (SELECT q_id, ccell, rvec[$lo:$hi] AS sv FROM qrv) q,
             rc2_$s c)""")
  }.mkString(",")

  private val q186 = Q(
    "q186_residual_ivf_pq",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Pq.residualIvfPqTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", numCoarse = 8, coarseIterations = 2,
          m = 4, numCentroids = 8, pqIterations = 2, nprobe = 2,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      co0 AS (SELECT vec_id AS cid, qvec AS cent FROM vx
              WHERE vec_id IN (SELECT vec_id FROM vx ORDER BY vec_id ASC LIMIT 8)),
      ca1 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co0 c))
        WHERE rn = 1),
      co1 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca1, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      ca2 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co1 c))
        WHERE rn = 1),
      co2 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca2, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      cellof AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c))
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      rv AS (
        SELECT v.vec_id,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid),
      qrv AS (
        SELECT p.q_id, p.cid AS ccell,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM probes p
        JOIN vx v ON v.vec_id = p.q_id
        JOIN co2 c ON c.cid = p.cid),
      ${pqResChains()},
      renc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM renc0 e0 JOIN renc1 e1 USING (vec_id)
        JOIN renc2 e2 USING (vec_id) JOIN renc3 e3 USING (vec_id)),
      cand AS (
        SELECT p.q_id, p.cid AS ccell, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN renc e ON e.vec_id = c.n_id
        JOIN rqd0 d0 ON d0.q_id = c.q_id AND d0.ccell = c.ccell
                    AND d0.pqcid = e.cb0
        JOIN rqd1 d1 ON d1.q_id = c.q_id AND d1.ccell = c.ccell
                    AND d1.pqcid = e.cb1
        JOIN rqd2 d2x ON d2x.q_id = c.q_id AND d2x.ccell = c.ccell
                    AND d2x.pqcid = e.cb2
        JOIN rqd3 d3 ON d3.q_id = c.q_id AND d3.ccell = c.ccell
                    AND d3.pqcid = e.cb3)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q189
  // Topic census — the cross-modal report a corpus curator reads
  // after clustering: embeddings k-means into 8 cells (the q36
  // deterministic Lloyd chain), each cell joins its documents' TEXT
  // stats, and the census reports per cell: docs, token/char mass,
  // and the dominant ground-truth label with its count (purity probe;
  // argmax via min(struct(-n, label)) — the Ivf.assign tie-break
  // discipline, portable to SQL ROW_NUMBER). Two modality tables meet
  // on an id-keyed equi-join; the aggregates partial-combine, so the
  // exchange carries cell keys, never documents.
  private val q189 = Q(
    "q189_topic_census",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val d = Tables(s, dir, "documents")
      val coarse = graft.operators.Ivf.centroids(e, "vec_id", "embedding",
        k = 8, iterations = 2)
      val assigned = graft.operators.Ivf.assignIds(
          graft.operators.Ivf.quantized(e, "vec_id", "embedding"), coarse)
        .select(col("vec_id"), col("cid"))
      val joined = assigned
        .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
        .join(d.select(col("doc_id").as("vec_id"),
          graft.operators.TextAnalysis.tokenCount(col("text"))
            .as("n_tokens"),
          col("n_chars")), Seq("vec_id"))
        .transform(graft.util.CacheScope.persist)
      val mass = joined.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
      val top = joined.groupBy(col("cid"), col("label"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("cid"))
        .agg(min(struct((-col("__n")).as("neg"), col("label"))).as("__m"))
        .select(col("cid"), col("__m.label").as("top_label"),
          (-col("__m.neg")).as("top_label_n"))
      mass.join(top, Seq("cid")).orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      co0 AS (SELECT vec_id AS cid, qvec AS cent FROM vx
              WHERE vec_id IN (SELECT vec_id FROM vx ORDER BY vec_id ASC LIMIT 8)),
      ca1 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co0 c))
        WHERE rn = 1),
      co1 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca1, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      ca2 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co1 c))
        WHERE rn = 1),
      co2 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca2, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      cellof AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c))
        WHERE rn = 1),
      j AS (
        SELECT a.cid, e.label,
               CASE WHEN length(trim(d.text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(d.text), '\s+'))
               END AS n_tokens,
               d.n_chars
        FROM cellof a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN documents d ON d.doc_id = a.vec_id),
      mass AS (
        SELECT cid, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM j GROUP BY cid),
      top AS (
        SELECT cid, label AS top_label, n AS top_label_n FROM (
          SELECT cid, label, COUNT(*) AS n,
                 ROW_NUMBER() OVER (PARTITION BY cid
                   ORDER BY COUNT(*) DESC, label ASC) AS rn
          FROM j GROUP BY cid, label)
        WHERE rn = 1)
      SELECT m.cid, m.n_docs, m.n_tokens, m.n_chars,
             t.top_label, t.top_label_n
      FROM mass m JOIN top t USING (cid)
      ORDER BY cid
    """))

  // --------------------------------------------------------------- q194
  // O(new) PQ index maintenance — the q110 daily contract applied to
  // the q184 stored index: codebooks trained ONCE on history (seeds =
  // history's 8 smallest ids) stay FIXED, the stored codes table
  // holds history's encodings, and the day's batch (vec_id % 3 = 0)
  // encodes against the stored codebooks in one broadcast pass and
  // APPENDS. Encoding is per-row against a fixed codebook, so append
  // IS the exact merge: the oracle trains on the history slice only,
  // then encodes EVERY row — equality proves no Lloyd re-iteration
  // leaked into the daily path and no history row was re-encoded.
  private val q194 = Q(
    "q194_pq_index_append",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val cbs = graft.operators.Pq.codebooks(history, "vec_id",
        "embedding", m = 4, k = 8, iterations = 2)
      val stored = graft.operators.Pq.encode(history, "vec_id",
        "embedding", 4, cbs)
      graft.operators.Pq.appendCodes(stored, cbs, batch, "vec_id",
          "embedding", 4)
        .select(col("vec_id"),
          element_at(col("codes"), 1).as("cb0"),
          element_at(col("codes"), 2).as("cb1"),
          element_at(col("codes"), 3).as("cb2"),
          element_at(col("codes"), 4).as("cb3"))
        .orderBy(col("vec_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains("vec_id % 3 > 0")},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id))
      SELECT vec_id, cb0, cb1, cb2, cb3 FROM enc ORDER BY vec_id
    """))

  // --------------------------------------------------------------- q195
  // ADC → EXACT-rerank funnel — the deployment shape of PQ search:
  // q185's IVF-PQ shortlist (ADC top-20 within nprobe=2 probed
  // cells) rescored with exact full-dimension distances, final
  // top-5 by exact_d2. The q80 rescore discipline applied to PQ, in
  // the q138 two-pass funnel plan: full vectors never cross an
  // exchange (the shortlist and query panel broadcast onto one base
  // scan), and both the ranks and the integral-grid distance column
  // hash-gate. The oracle replays q185's whole chain, cuts the
  // shortlist at 20, and re-ranks by the exact quantized L2.
  private val q195 = Q(
    "q195_ivf_pq_rerank",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Pq.ivfPqRerankTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", numCoarse = 8, coarseIterations = 2,
          m = 4, numCentroids = 8, pqIterations = 2, nprobe = 2,
          shortlistK = 20, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      co0 AS (SELECT vec_id AS cid, qvec AS cent FROM vx
              WHERE vec_id IN (SELECT vec_id FROM vx ORDER BY vec_id ASC LIMIT 8)),
      ca1 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co0 c))
        WHERE rn = 1),
      co1 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca1, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      ca2 AS (
        SELECT vec_id, qvec, cid FROM (
          SELECT vec_id, qvec, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co1 c))
        WHERE rn = 1),
      co2 AS (
        SELECT cid, list(v ORDER BY d) AS cent FROM (
          SELECT cid, d, SUM(qvec[d]) / COUNT(*) AS v
          FROM ca2, UNNEST(generate_series(1, 64)) t(d)
          GROUP BY cid, d)
        GROUP BY cid),
      cellof AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c))
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN enc e ON e.vec_id = c.n_id
        JOIN qd0 d0 ON d0.q_id = c.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = c.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = c.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = c.q_id AND d3.cid = e.cb3),
      short AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY adc_d2 ASC, n_id ASC) AS rnk
          FROM scored)
        WHERE rnk <= 20),
      rr AS (
        SELECT sh.q_id, sh.n_id,
               list_dot_product(qv.qvec, qv.qvec)
               - 2.0 * list_dot_product(qv.qvec, nv.qvec)
               + list_dot_product(nv.qvec, nv.qvec) AS exact_d2
        FROM short sh
        JOIN vx qv ON qv.vec_id = sh.q_id
        JOIN vx nv ON nv.vec_id = sh.n_id)
      SELECT q_id, n_id, exact_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, exact_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY exact_d2 ASC, n_id ASC) AS rnk
        FROM rr)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q197
  // O(new) RESIDUAL index maintenance — q194's daily contract for the
  // q186 IVFADC layout: the coarse codebook AND the residual PQ
  // codebooks train once on history and stay FIXED; the day's batch
  // assigns to its coarse cell, floor-residualizes, encodes against
  // the stored residual codebooks (all broadcast passes), and APPENDS
  // (vec_id, cid, codes) rows. The oracle trains both chains on the
  // history slice only and encodes EVERY row — equality proves no
  // Lloyd re-iteration (coarse or residual) and no history re-encode
  // in the daily path. With q194 this closes the daily-maintenance
  // family for the entire ANN ladder.
  private val q197 = Q(
    "q197_residual_pq_index_append",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val coarse = graft.operators.Ivf.centroids(history, "vec_id",
        "embedding", 8, 2)
      val cbs = graft.operators.Pq.residualCodebooks(history, "vec_id",
        "embedding", coarse, m = 4, numCentroids = 8, pqIterations = 2)
      val stored = graft.operators.Pq.residualEncode(history, "vec_id",
        "embedding", coarse, cbs, 4)
      graft.operators.Pq.appendResidualCodes(stored, coarse, cbs, batch,
          "vec_id", "embedding", 4)
        .select(col("vec_id"), col("cid"),
          element_at(col("codes"), 1).as("cb0"),
          element_at(col("codes"), 2).as("cb1"),
          element_at(col("codes"), 3).as("cb2"),
          element_at(col("codes"), 4).as("cb3"))
        .orderBy(col("vec_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      rv AS (
        SELECT v.vec_id,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid),
      ${pqResChains("vec_id % 3 > 0", queryTables = false)},
      renc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM renc0 e0 JOIN renc1 e1 USING (vec_id)
        JOIN renc2 e2 USING (vec_id) JOIN renc3 e3 USING (vec_id))
      SELECT r.vec_id, a.cid, r.cb0, r.cb1, r.cb2, r.cb3
      FROM renc r JOIN cellof a USING (vec_id)
      ORDER BY r.vec_id
    """))

  // --------------------------------------------------------------- q198
  // ANN index HEALTH report — per coarse cell: occupancy and
  // floor-residual energy Σ‖floor(x − cent)‖², the balance and fit
  // numbers an index maintainer watches (a hot cell serializes
  // probes; a high-energy cell predicts poor residual codes — q186's
  // encoding target measured before paying for it). Empty cells
  // report zeros via the codebook spine. Per-row energies cast to
  // BIGINT before summing, so the totals are exact and hash-gate.
  private val q198 = Q(
    "q198_ann_index_health",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.operators.Ivf.centroids(e, "vec_id",
        "embedding", 8, 2)
      graft.operators.Ivf.cellHealth(coarse, e, "vec_id", "embedding")
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid),
      h AS (
        SELECT cid, COUNT(*) AS n,
               SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT)) AS e
        FROM rv GROUP BY cid)
      SELECT c.cid,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_vectors,
             CAST(COALESCE(h.e, 0) AS BIGINT) AS residual_energy,
             CAST(CASE WHEN COALESCE(h.n, 0) > 0
                  THEN COALESCE(h.e, 0) // h.n ELSE 0 END AS BIGINT)
               AS avg_residual_energy
      FROM co2 c LEFT JOIN h USING (cid)
      ORDER BY c.cid
    """))

  // --------------------------------------------------------------- q199
  // Per-SUBSPACE PQ quantization-error audit — Σ argmin-d2 per
  // subspace, floored per row to the integral grid and summed as
  // exact longs (a raw double sum goes order-dependent past 2⁵³).
  // The retraining / budget-sizing signal: a subspace carrying a
  // disproportionate error share is where m/k is mis-sized (the OPQ
  // motivation), and err_sum drift against a stored baseline says
  // when appendCodes-era data has outgrown the codebooks.
  private val q199 = Q(
    "q199_pq_quantization_error",
    (s, dir) => {
      graft.operators.Pq.quantizationError(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", m = 4, numCentroids = 8, iterations = 2)
        .orderBy(col("sub"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains()},
      err AS (
            SELECT 0 AS sub, COUNT(*) AS n,
                   SUM(CAST(floor(d2) AS BIGINT)) AS e FROM enc0
        UNION ALL
            SELECT 1, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc1
        UNION ALL
            SELECT 2, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc2
        UNION ALL
            SELECT 3, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc3)
      SELECT sub, CAST(n AS BIGINT) AS n_vectors,
             CAST(e AS BIGINT) AS err_sum,
             CAST(e // n AS BIGINT) AS avg_err
      FROM err ORDER BY sub
    """))

  // --------------------------------------------------------------- q201
  // STREAMING PQ encode — q194's daily index append run in-flight
  // (registered here, with its family, because the oracle shares
  // pqSubChains): arriving vectors encode against history-trained
  // codebooks embedded as PLAN LITERALS, so the stream plan is a
  // stateless Append-mode projection — no state store, no shuffle, no
  // streaming groupBy (which would hold per-vector state for rows
  // that are already self-contained). Micro-batch outputs are exactly
  // the appendCodes rows a batch run would append.
  private val q201 = Q(
    "q201_stream_pq_encode",
    (s, dir) => {
      graft.streaming.StreamingOps.streamPqEncode(s, dir,
          "q201_pq_encode_sink")
        .orderBy(col("vec_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains("vec_id % 3 > 0")},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id))
      SELECT vec_id, cb0, cb1, cb2, cb3 FROM enc
      WHERE vec_id % 3 = 0
      ORDER BY vec_id
    """))

  // --------------------------------------------------------------- q202
  // O(new) index-health ledger — q198's report absorbed daily via the
  // q110/q140 sufficient-statistics discipline: occupancy and
  // residual energy are pure per-cell sums under a fixed codebook, so
  // the stored ledger merges a batch by assigning + energy-scoring
  // only the new vectors and ADDING; the average re-derives from the
  // merged sums. History vectors never re-read. Oracle = the full
  // recompute over history ∪ batch (codebook trained on history).
  private val q202 = Q(
    "q202_incremental_index_health",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val coarse = graft.operators.Ivf.centroids(history, "vec_id",
        "embedding", 8, 2)
      val stored = graft.operators.Ivf.cellHealth(coarse, history,
        "vec_id", "embedding")
      graft.operators.Ivf.incrementalCellHealth(coarse, stored, batch,
          "vec_id", "embedding")
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid),
      h AS (
        SELECT cid, COUNT(*) AS n,
               SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT)) AS e
        FROM rv GROUP BY cid)
      SELECT c.cid,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_vectors,
             CAST(COALESCE(h.e, 0) AS BIGINT) AS residual_energy,
             CAST(CASE WHEN COALESCE(h.n, 0) > 0
                  THEN COALESCE(h.e, 0) // h.n ELSE 0 END AS BIGINT)
               AS avg_residual_energy
      FROM co2 c LEFT JOIN h USING (cid)
      ORDER BY c.cid
    """))

  // --------------------------------------------------------------- q203
  // O(new) quantization-error ledger — q199's audit absorbed daily by
  // pure per-subspace addition (the q202/q110 sufficient-statistics
  // discipline on the PQ axis): counts and floored error sums add
  // under FIXED codebooks, so only the batch assigns and scores;
  // avg_err re-derives from merged sums. err_sum drift between
  // ledger generations is the retrain trigger. Oracle = the full
  // recompute over history ∪ batch (codebooks trained on history).
  private val q203 = Q(
    "q203_incremental_quantization_error",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val cbs = graft.operators.Pq.codebooks(history, "vec_id",
        "embedding", m = 4, k = 8, iterations = 2)
      val stored = graft.operators.Pq.quantizationErrorAgainst(cbs,
        history, "vec_id", "embedding", 4)
      graft.operators.Pq.incrementalQuantizationError(cbs, stored,
          batch, "vec_id", "embedding", 4)
        .orderBy(col("sub"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains("vec_id % 3 > 0")},
      err AS (
            SELECT 0 AS sub, COUNT(*) AS n,
                   SUM(CAST(floor(d2) AS BIGINT)) AS e FROM enc0
        UNION ALL
            SELECT 1, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc1
        UNION ALL
            SELECT 2, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc2
        UNION ALL
            SELECT 3, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc3)
      SELECT sub, CAST(n AS BIGINT) AS n_vectors,
             CAST(e AS BIGINT) AS err_sum,
             CAST(e // n AS BIGINT) AS avg_err
      FROM err ORDER BY sub
    """))

  // --------------------------------------------------------------- q204
  // BALANCED dimension permutation — OPQ's cheap deterministic
  // cousin, the fix q199's audit points at when one subspace hoards
  // the error: dims rank by exact mega-scaled corpus energy
  // (Σ (x² div 10⁶) in integer arithmetic — grid x² is an exact
  // integer-valued double, the BIGINT cast exact, the integer DIV
  // never rounds; long-summed, order-free far past 2⁵³-sized
  // corpora) and deal to the m subspaces in SNAKE order, so each
  // subspace gets an energy-balanced mix instead of a contiguous
  // storage-order slice. The ranking window runs over the 64-row
  // per-dim aggregate, never the corpus.
  private val q204 = Q(
    "q204_balanced_permutation",
    (s, dir) => {
      graft.operators.Pq.balancedPermutation(
          Tables(s, dir, "embeddings"), "vec_id", "embedding", m = 4)
        .orderBy(col("d"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      pe AS (
        SELECT d,
               SUM(CAST(qvec[d] * qvec[d] AS BIGINT) // 1000000)
                 AS energy
        FROM vx, UNNEST(generate_series(1, 64)) t(d)
        GROUP BY d),
      r AS (
        SELECT d, energy,
               ROW_NUMBER() OVER (ORDER BY energy DESC, d ASC) AS rnk
        FROM pe)
      SELECT CAST(d AS INTEGER) AS d, CAST(energy AS BIGINT) AS energy,
             CAST(rnk AS INTEGER) AS rnk,
             CAST(CASE WHEN ((rnk - 1) // 4) % 2 = 0 THEN (rnk - 1) % 4
                  ELSE 3 - (rnk - 1) % 4 END AS INTEGER) AS sub
      FROM r ORDER BY d
    """))

  // --------------------------------------------------------------- q205
  // Permuted-PQ quantization error — q204's permutation APPLIED:
  // vectors reorder in-row (the 64-entry permutation is a plan
  // literal — the PageRank node-count bounded-action class), PQ
  // trains and encodes on the permuted layout, and q199's error
  // audit reports per subspace. The oracle recomputes the
  // permutation, rebuilds the permuted vectors, and replays the
  // whole subspace k-means + encode chain over them.
  private val q205 = Q(
    "q205_permuted_pq_error",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // permutation order = (sub asc, d asc): subspace s owns the
      // s-th 16-dim block of the permuted vector (the
      // Pq.permutationOrder contract; 64-row bounded collect)
      val permuted = graft.operators.Pq.applyPermutation(e, "vec_id",
        "embedding",
        graft.operators.Pq.permutationOrder(
          graft.operators.Pq.balancedPermutation(e, "vec_id",
            "embedding", m = 4)))
      graft.operators.Pq.quantizationError(permuted, "vec_id",
          "embedding", m = 4, numCentroids = 8, iterations = 2)
        .orderBy(col("sub"))
    },
    Some(raw"""
      WITH base AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec0
        FROM embeddings),
      pe AS (
        SELECT d,
               SUM(CAST(qvec0[d] * qvec0[d] AS BIGINT) // 1000000)
                 AS energy
        FROM base, UNNEST(generate_series(1, 64)) t(d)
        GROUP BY d),
      pr AS (
        SELECT d, energy,
               ROW_NUMBER() OVER (ORDER BY energy DESC, d ASC) AS rnk
        FROM pe),
      ps AS (
        SELECT d,
               CASE WHEN ((rnk - 1) // 4) % 2 = 0 THEN (rnk - 1) % 4
                    ELSE 3 - (rnk - 1) % 4 END AS sub
        FROM pr),
      pl AS (SELECT list(d ORDER BY sub, d) AS perm FROM ps),
      vx AS (
        SELECT b.vec_id, list_transform(p.perm, i -> b.qvec0[i]) AS qvec
        FROM base b, pl p),
      ${pqSubChains()},
      err AS (
            SELECT 0 AS sub, COUNT(*) AS n,
                   SUM(CAST(floor(d2) AS BIGINT)) AS e FROM enc0
        UNION ALL
            SELECT 1, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc1
        UNION ALL
            SELECT 2, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc2
        UNION ALL
            SELECT 3, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc3)
      SELECT sub, CAST(n AS BIGINT) AS n_vectors,
             CAST(e AS BIGINT) AS err_sum,
             CAST(e // n AS BIGINT) AS avg_err
      FROM err ORDER BY sub
    """))

  // --------------------------------------------------------------- q207
  // PERMUTED stored-index lifecycle — q204's OPQ-lite permutation
  // finally CONSUMED by the index it exists to improve: the
  // permutation derives from HISTORY's per-dim energy (built when the
  // index is built), history vectors reorder in-row (the 64-entry
  // order is a plan literal — the q205 bounded-action class), coarse +
  // PQ codebooks train on the permuted layout, the day's batch appends
  // in the SAME layout (q194 contract, codebooks fixed), and queries
  // permute in-row before searching the stored tables (q185's
  // ivfPqSearch). The oracle replays permutation → permuted corpus →
  // history-trained coarse/PQ chains → full encode → probes →
  // cell-restricted ADC. Applying one order to base, batch, and query
  // preserves every pairwise distance exactly, which is what makes
  // the permuted index transparent to its consumers.
  private val q207 = Q(
    "q207_permuted_pq_index_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val order = graft.operators.Pq.permutationOrder(
        graft.operators.Pq.balancedPermutation(history, "vec_id",
          "embedding", m = 4))
      def permute(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Pq.applyPermutation(df, "vec_id", "embedding",
          order)
      val ph = permute(history)
      val pb = permute(batch)
      val coarse = graft.operators.Ivf.centroids(ph, "vec_id",
        "embedding", 8, 2)
      val cbs = graft.operators.Pq.codebooks(ph, "vec_id", "embedding",
        m = 4, k = 8, iterations = 2)
      def assignOf(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Ivf.assignIds(
            graft.operators.Ivf.quantized(df, "vec_id", "embedding"),
            coarse)
          .select(col("vec_id"), col("cid"))
      val assigned = assignOf(ph).unionByName(assignOf(pb))
      val codes = graft.operators.Pq.appendCodes(
        graft.operators.Pq.encode(ph, "vec_id", "embedding", 4, cbs),
        cbs, pb, "vec_id", "embedding", 4)
      graft.operators.Pq.ivfPqSearch(coarse, cbs, assigned, codes,
          permute(e.filter(col("vec_id") < 10)), "vec_id", "embedding",
          m = 4, nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH base AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec0
        FROM embeddings),
      pe AS (
        SELECT d,
               SUM(CAST(qvec0[d] * qvec0[d] AS BIGINT) // 1000000)
                 AS energy
        FROM base, UNNEST(generate_series(1, 64)) t(d)
        WHERE vec_id % 3 > 0
        GROUP BY d),
      pr AS (
        SELECT d, energy,
               ROW_NUMBER() OVER (ORDER BY energy DESC, d ASC) AS rnk
        FROM pe),
      ps AS (
        SELECT d,
               CASE WHEN ((rnk - 1) // 4) % 2 = 0 THEN (rnk - 1) % 4
                    ELSE 3 - (rnk - 1) % 4 END AS sub
        FROM pr),
      pl AS (SELECT list(d ORDER BY sub, d) AS perm FROM ps),
      vx AS (
        SELECT b.vec_id, list_transform(p.perm, i -> b.qvec0[i]) AS qvec
        FROM base b, pl p),
${coarseCtes("vec_id % 3 > 0")},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ${pqSubChains("vec_id % 3 > 0")},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN enc e ON e.vec_id = c.n_id
        JOIN qd0 d0 ON d0.q_id = c.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = c.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = c.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = c.q_id AND d3.cid = e.cb3)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q208
  // STORED-index rerank funnel — the q194/q197 build/apply split
  // applied to q195: coarse + PQ codebooks train once on history and
  // stay FIXED, the stored (assigned, codes) tables absorb the day's
  // batch by append, and the funnel (ADC shortlist-20 → exact
  // integral-grid rescore → top-5) consumes the STORED state with no
  // training stage in the search plan (PqSpec pins no-Lloyd over a
  // parquet round-trip). The oracle trains both chains on the history
  // slice only, encodes every row, and replays shortlist + rerank —
  // equality proves no Lloyd re-iteration and no history re-encode
  // leaked into the deployment path.
  private val q208 = Q(
    "q208_stored_rerank_funnel",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val coarse = graft.operators.Ivf.centroids(history, "vec_id",
        "embedding", 8, 2)
      val cbs = graft.operators.Pq.codebooks(history, "vec_id",
        "embedding", m = 4, k = 8, iterations = 2)
      def assignOf(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Ivf.assignIds(
            graft.operators.Ivf.quantized(df, "vec_id", "embedding"),
            coarse)
          .select(col("vec_id"), col("cid"))
      val assigned = assignOf(history).unionByName(assignOf(batch))
      val codes = graft.operators.Pq.appendCodes(
        graft.operators.Pq.encode(history, "vec_id", "embedding", 4, cbs),
        cbs, batch, "vec_id", "embedding", 4)
      graft.operators.Pq.ivfPqRerankSearch(coarse, cbs, assigned, codes,
          e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          m = 4, nprobe = 2, shortlistK = 20, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ${pqSubChains("vec_id % 3 > 0")},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN enc e ON e.vec_id = c.n_id
        JOIN qd0 d0 ON d0.q_id = c.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = c.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = c.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = c.q_id AND d3.cid = e.cb3),
      short AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY adc_d2 ASC, n_id ASC) AS rnk
          FROM scored)
        WHERE rnk <= 20),
      rr AS (
        SELECT sh.q_id, sh.n_id,
               list_dot_product(qv.qvec, qv.qvec)
               - 2.0 * list_dot_product(qv.qvec, nv.qvec)
               + list_dot_product(nv.qvec, nv.qvec) AS exact_d2
        FROM short sh
        JOIN vx qv ON qv.vec_id = sh.q_id
        JOIN vx nv ON nv.vec_id = sh.n_id)
      SELECT q_id, n_id, exact_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, exact_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY exact_d2 ASC, n_id ASC) AS rnk
        FROM rr)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q209
  // O(new) dimension-energy ledger + layout-drift report — the
  // q202/q203 sufficient-statistics discipline applied to q204's
  // ranking statistic: per-dim energies are exact long sums, so the
  // stored (d, energy, n_vectors) ledger absorbs the day's batch by
  // scoring ONLY the new vectors and adding (shared full-outer
  // Ledger.merge); the permutation re-derives as a 64-row window VIEW
  // over the merged ledger. The report joins the layout the index was
  // BUILT with (the history-only view): a dim whose subspace moved
  // (`moved`) is energy drift the stored codebooks never saw — the
  // OPQ retrain trigger, read daily at ledger cost, not corpus cost.
  // Oracle = full recompute over history ∪ batch for the merged side,
  // history-only recompute for the built side.
  private val q209 = Q(
    "q209_dim_energy_ledger",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      // persisted: the stored ledger feeds BOTH the built-layout view
      // and the merge — single history scan, structurally
      val stored = graft.operators.Pq.dimEnergy(history, "vec_id",
          "embedding")
        .transform(graft.util.CacheScope.persist)
      val merged = graft.operators.Pq.incrementalDimEnergy(stored,
        batch, "vec_id", "embedding")
      val built = graft.operators.Pq
        .permutationFromEnergy(stored, m = 4)
        .select(col("d"), col("sub").as("sub_built"))
      graft.operators.Pq.permutationFromEnergy(merged, m = 4)
        .join(built, Seq("d")) // 64-row ledger join
        .select(col("d"), col("energy"), col("n_vectors"), col("rnk"),
          col("sub"), col("sub_built"),
          (col("sub") =!= col("sub_built")).as("moved"))
        .orderBy(col("d"))
    },
    Some(raw"""
      WITH base AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec0
        FROM embeddings),
      pe AS (
        SELECT d,
               SUM(CAST(qvec0[d] * qvec0[d] AS BIGINT) // 1000000)
                 AS energy,
               COUNT(*) AS n_vectors
        FROM base, UNNEST(generate_series(1, 64)) t(d)
        GROUP BY d),
      peh AS (
        SELECT d,
               SUM(CAST(qvec0[d] * qvec0[d] AS BIGINT) // 1000000)
                 AS energy
        FROM base, UNNEST(generate_series(1, 64)) t(d)
        WHERE vec_id % 3 > 0
        GROUP BY d),
      r AS (
        SELECT d, energy, n_vectors,
               ROW_NUMBER() OVER (ORDER BY energy DESC, d ASC) AS rnk
        FROM pe),
      rh AS (
        SELECT d,
               ROW_NUMBER() OVER (ORDER BY energy DESC, d ASC) AS rnk
        FROM peh),
      cur AS (
        SELECT d, energy, n_vectors, rnk,
               CASE WHEN ((rnk - 1) // 4) % 2 = 0 THEN (rnk - 1) % 4
                    ELSE 3 - (rnk - 1) % 4 END AS sub
        FROM r),
      blt AS (
        SELECT d,
               CASE WHEN ((rnk - 1) // 4) % 2 = 0 THEN (rnk - 1) % 4
                    ELSE 3 - (rnk - 1) % 4 END AS sub_built
        FROM rh)
      SELECT CAST(c.d AS INTEGER) AS d,
             CAST(c.energy AS BIGINT) AS energy,
             CAST(c.n_vectors AS BIGINT) AS n_vectors,
             CAST(c.rnk AS INTEGER) AS rnk,
             CAST(c.sub AS INTEGER) AS sub,
             CAST(b.sub_built AS INTEGER) AS sub_built,
             c.sub <> b.sub_built AS moved
      FROM cur c JOIN blt b USING (d)
      ORDER BY c.d
    """))

  // --------------------------------------------------------------- q211
  // Index PURGE — the lifecycle verb the append-only ANN family was
  // missing (takedowns, right-to-be-forgotten, decontamination
  // verdicts evicting vectors): tombstoned rows leave the stored
  // assignment table by LEFT ANTI join (codes stay valid under fixed
  // codebooks — no re-encode, no re-link, the property that makes PQ
  // purges O(deleted) where a graph index would re-wire), and the
  // stored health ledger RETRACTS their per-cell (count, energy)
  // contributions — scored from the deleted rows alone in one
  // broadcast pass, then subtracted through the shared full-outer
  // Ledger spine. Integer sums make the subtraction exact, so the
  // oracle is the full health recompute over the SURVIVING corpus
  // (codebook still the one trained on pre-delete history — deletion
  // never retrains). n_codes comes from the independently-purged
  // assignment table and must agree with the retracted n_vectors.
  private val q211 = Q(
    "q211_index_purge",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val doomed = history.filter(col("vec_id") % 5 === 0)
      val coarse = graft.operators.Ivf.centroids(history, "vec_id",
        "embedding", 8, 2)
      val stored = graft.operators.Ivf.cellHealth(coarse, history,
        "vec_id", "embedding")
      val assigned = graft.operators.Ivf.assignIds(
          graft.operators.Ivf.quantized(history, "vec_id", "embedding"),
          coarse)
        .select(col("vec_id"), col("cid"))
      val kept = graft.operators.Pq.purgeCodes(assigned, doomed, "vec_id")
        .groupBy(col("cid")).agg(count(lit(1)).as("n_codes"))
      graft.operators.Ivf.purgeCellHealth(coarse, stored, doomed,
          "vec_id", "embedding")
        .join(kept, Seq("cid"), "left")
        .select(col("cid"), col("n_vectors"), col("residual_energy"),
          col("avg_residual_energy"),
          coalesce(col("n_codes"), lit(0L)).as("n_codes"))
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid
        WHERE v.vec_id % 3 > 0 AND v.vec_id % 5 <> 0),
      h AS (
        SELECT cid, COUNT(*) AS n,
               SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT)) AS e
        FROM rv GROUP BY cid)
      SELECT c.cid,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_vectors,
             CAST(COALESCE(h.e, 0) AS BIGINT) AS residual_energy,
             CAST(CASE WHEN COALESCE(h.n, 0) > 0
                  THEN COALESCE(h.e, 0) // h.n ELSE 0 END AS BIGINT)
               AS avg_residual_energy,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_codes
      FROM co2 c LEFT JOIN h USING (cid)
      ORDER BY c.cid
    """))

  // --------------------------------------------------------------- q212
  // The purge on the PQ axis — q203's error ledger RETRACTING the
  // tombstoned rows' per-subspace (count, floored-error) sums: the
  // doomed slice re-scores against the FIXED stored codebooks (one
  // O(deleted) broadcast pass — assignment is a pure function of the
  // vector, so the contribution to remove is recomputable from the
  // deleted rows alone) and subtracts through the same Ledger spine;
  // avg_err re-derives. With q211 this closes the delete lifecycle
  // for both audit families: build → append (q202/q203) → purge,
  // every generation bit-identical to the full recompute over
  // whatever corpus the index currently holds.
  private val q212 = Q(
    "q212_purge_quantization_error",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val doomed = history.filter(col("vec_id") % 5 === 0)
      val cbs = graft.operators.Pq.codebooks(history, "vec_id",
        "embedding", m = 4, k = 8, iterations = 2)
      val stored = graft.operators.Pq.quantizationErrorAgainst(cbs,
        history, "vec_id", "embedding", 4)
      graft.operators.Pq.purgeQuantizationError(cbs, stored, doomed,
          "vec_id", "embedding", 4)
        .orderBy(col("sub"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains("vec_id % 3 > 0")},
      err AS (
            SELECT 0 AS sub, COUNT(*) AS n,
                   SUM(CAST(floor(d2) AS BIGINT)) AS e FROM enc0
            WHERE vec_id % 3 > 0 AND vec_id % 5 <> 0
        UNION ALL
            SELECT 1, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc1
            WHERE vec_id % 3 > 0 AND vec_id % 5 <> 0
        UNION ALL
            SELECT 2, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc2
            WHERE vec_id % 3 > 0 AND vec_id % 5 <> 0
        UNION ALL
            SELECT 3, COUNT(*), SUM(CAST(floor(d2) AS BIGINT)) FROM enc3
            WHERE vec_id % 3 > 0 AND vec_id % 5 <> 0)
      SELECT sub, CAST(n AS BIGINT) AS n_vectors,
             CAST(e AS BIGINT) AS err_sum,
             CAST(e // n AS BIGINT) AS avg_err
      FROM err ORDER BY sub
    """))

  // --------------------------------------------------------------- q216
  // STREAMING encode in the PERMUTED layout — q201 composed with the
  // q207 lifecycle, the last permutation seam: the history-derived
  // snake-deal order and the permuted-trained codebooks BOTH embed as
  // plan literals, arriving vectors reorder in-row then encode, and
  // each micro-batch emits exactly the rows a q207 batch append would
  // write. Still a stateless Append projection (no state store, no
  // shuffle). The oracle replays history energies → permutation →
  // permuted corpus → history-trained PQ chains → the arriving
  // slice's codes.
  private val q216 = Q(
    "q216_stream_permuted_encode",
    (s, dir) => {
      graft.streaming.StreamingOps.streamPermutedPqEncode(s, dir,
          "q216_perm_encode_sink")
        .orderBy(col("vec_id"))
    },
    Some(raw"""
      WITH base AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec0
        FROM embeddings),
      pe AS (
        SELECT d,
               SUM(CAST(qvec0[d] * qvec0[d] AS BIGINT) // 1000000)
                 AS energy
        FROM base, UNNEST(generate_series(1, 64)) t(d)
        WHERE vec_id % 3 > 0
        GROUP BY d),
      pr AS (
        SELECT d, energy,
               ROW_NUMBER() OVER (ORDER BY energy DESC, d ASC) AS rnk
        FROM pe),
      ps AS (
        SELECT d,
               CASE WHEN ((rnk - 1) // 4) % 2 = 0 THEN (rnk - 1) % 4
                    ELSE 3 - (rnk - 1) % 4 END AS sub
        FROM pr),
      pl AS (SELECT list(d ORDER BY sub, d) AS perm FROM ps),
      vx AS (
        SELECT b.vec_id, list_transform(p.perm, i -> b.qvec0[i]) AS qvec
        FROM base b, pl p),
      ${pqSubChains("vec_id % 3 > 0")},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id))
      SELECT vec_id, cb0, cb1, cb2, cb3 FROM enc
      WHERE vec_id % 3 = 0
      ORDER BY vec_id
    """))

  // --------------------------------------------------------------- q217
  // Per-dim int8 CALIBRATION bounds — exact order statistics (p1/p99
  // at integer-rank arithmetic), min/max, and counts per dimension:
  // what a clipped/asymmetric int8 scheme is calibrated from, and the
  // outlier report the symmetric q75 scheme's maintainer reads (one
  // hot dim inflates every scale). No corpus sort and no corpus
  // window: the explode folds to a (dim, grid-value) CENSUS first
  // (the q74 histogram discipline), the cumulative count runs per-dim
  // over the census, and each dim's n comes from its own census
  // total. The oracle replays the rank pick via ROW_NUMBER — the
  // value AT a global rank is unique whatever the tie order.
  private val q217 = Q(
    "q217_int8_calibration",
    (s, dir) => {
      graft.operators.Quantize.calibrationBounds(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          loPermille = 10, hiPermille = 990)
        .orderBy(col("d"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ex AS (
        SELECT d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (
        SELECT d, COUNT(*) AS n, MIN(x) AS vmin, MAX(x) AS vmax
        FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      lo AS (
        SELECT rk.d, MIN(rk.x) AS p_lo
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000
        GROUP BY rk.d),
      hi AS (
        SELECT rk.d, MIN(rk.x) AS p_hi
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000
        GROUP BY rk.d)
      SELECT CAST(st.d AS INTEGER) AS d, CAST(n AS BIGINT) AS n,
             CAST(vmin AS BIGINT) AS vmin, CAST(vmax AS BIGINT) AS vmax,
             CAST(p_lo AS BIGINT) AS p_lo, CAST(p_hi AS BIGINT) AS p_hi
      FROM st JOIN lo USING (d) JOIN hi USING (d)
      ORDER BY st.d
    """))

  // --------------------------------------------------------------- q218
  // STREAMING index-health monitor — q198's occupancy/energy report
  // over the ARRIVING slice, live: assignment runs IN-ROW against the
  // plan-literal history codebook (Ivf.assignEnergyExpr — a per-vector
  // argmin groupBy would hold unbounded keyed state), then a
  // Complete-mode per-CELL tally whose state is ≤ k rows (the q165
  // bounded-group class). Cells the stream never hits don't report —
  // a monitor shows activity, the spine lives in the stored q202
  // ledger. Oracle = batch cellHealth restricted to active cells.
  private val q218 = Q(
    "q218_stream_index_health",
    (s, dir) => {
      graft.streaming.StreamingOps.streamIndexHealth(s, dir,
          "q218_index_health_sink")
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid
        WHERE v.vec_id % 3 = 0)
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT))
               AS BIGINT) AS residual_energy,
             CAST(SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT))
               // COUNT(*) AS BIGINT) AS avg_residual_energy
      FROM rv GROUP BY cid
      ORDER BY cid
    """))

  // --------------------------------------------------------------- q219
  // DECONTAMINATION-driven index purge — the composition that says WHY
  // deletes happen: docs sharing ≥ 1 distinct 3-gram with the
  // benchmark slice (the q72/q188 contamination verdict, text stack)
  // are tombstoned, their VECTORS leave the index, and the health
  // ledger retracts their mass (q211's machinery) — the text
  // pipeline's verdict propagating into the ANN pillar under one hash
  // gate. The benchmark shingle set broadcasts (eval-suite bounded);
  // the contaminated-id set is incidence-proportional and semi-joins
  // the embeddings without a pin.
  private val q219 = Q(
    "q219_decontam_index_purge",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val e = Tables(s, dir, "embeddings")
      val bench = graft.operators.Dedup.explodedShingles(
          docs.filter(col("doc_id") % 25 === 0), "doc_id", "text", 3)
        .select(col("sh")).distinct()
      val contaminated = graft.operators.Dedup.explodedShingles(
          docs.filter(col("doc_id") % 25 =!= 0), "doc_id", "text", 3)
        .join(broadcast(bench), Seq("sh"), "left_semi")
        .select(col("doc_id").as("vec_id")).distinct()
      val doomed = e.join(contaminated, Seq("vec_id"), "left_semi")
      val coarse = graft.operators.Ivf.centroids(e, "vec_id",
        "embedding", 8, 2)
      val stored = graft.operators.Ivf.cellHealth(coarse, e,
        "vec_id", "embedding")
      graft.operators.Ivf.purgeCellHealth(coarse, stored, doomed,
          "vec_id", "embedding")
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      norm AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM norm, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0),
      bad AS (
        SELECT DISTINCT c.doc_id FROM sh c JOIN bench USING (s)
        WHERE c.doc_id % 25 <> 0),
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid
        WHERE v.vec_id NOT IN (SELECT doc_id FROM bad)),
      h AS (
        SELECT cid, COUNT(*) AS n,
               SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT)) AS e
        FROM rv GROUP BY cid)
      SELECT c.cid,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_vectors,
             CAST(COALESCE(h.e, 0) AS BIGINT) AS residual_energy,
             CAST(CASE WHEN COALESCE(h.n, 0) > 0
                  THEN COALESCE(h.e, 0) // h.n ELSE 0 END AS BIGINT)
               AS avg_residual_energy
      FROM co2 c LEFT JOIN h USING (cid)
      ORDER BY c.cid
    """))

  // --------------------------------------------------------------- q220
  // Calibrated int8 encode + per-dim error audit — what q217's bounds
  // EXIST to feed: each dim clamps to [p_lo, p_hi] and maps affinely
  // onto the 256 code levels (integer arithmetic end to end,
  // non-negative numerators so floor-DIV is engine-portable), and the
  // audit reports exact reconstruction error (clipping included —
  // that IS the signal) plus how many values each clip edge caught.
  // Bounds embed as two 64-entry plan literals, so the encode is a
  // pure projection; the only exchange carries d-keyed partial sums.
  private val q220 = Q(
    "q220_calibrated_int8_audit",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.operators.Quantize.calibrationBounds(e,
        "vec_id", "embedding", loPermille = 10, hiPermille = 990)
      graft.operators.Quantize.calibratedErrorAudit(e, "vec_id",
          "embedding", bounds)
        .orderBy(col("d"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ex AS (
        SELECT d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (
        SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000
        GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000
        GROUP BY rk.d),
      enc AS (
        SELECT e.d, e.x, b.lo, c.hi,
               GREATEST(LEAST(e.x, c.hi), b.lo) AS cl
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      cd AS (
        SELECT d, x, lo, hi,
               CASE WHEN hi > lo THEN (cl - lo) * 255 // (hi - lo)
                    ELSE 0 END AS code
        FROM enc),
      dqt AS (
        SELECT d, x, lo, hi,
               CASE WHEN hi > lo THEN lo + code * (hi - lo) // 255
                    ELSE lo END AS dq
        FROM cd)
      SELECT CAST(d AS INTEGER) AS d, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((x - dq) * (x - dq)) AS BIGINT) AS err_sum,
             CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_lo,
             CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_hi
      FROM dqt GROUP BY d
      ORDER BY d
    """))

  // --------------------------------------------------------------- q221
  // O(new) calibration-census ledger — order statistics join the
  // incremental family WITHOUT a sketch: the (dim, grid-value) census
  // is an exact distribution whose counts ADD, so the stored census
  // absorbs a day's batch at O(batch) cost and the q217 bounds
  // re-derive as a VIEW over the merge. Oracle = the full-corpus
  // q217 recompute — equality proves the merged census IS the full
  // census.
  private val q221 = Q(
    "q221_incremental_calibration",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val stored = graft.operators.Quantize.valueCensus(
        e.filter(col("vec_id") % 3 > 0), "vec_id", "embedding")
      val merged = graft.operators.Quantize.mergeValueCensus(stored,
        graft.operators.Quantize.valueCensus(
          e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding"))
      graft.operators.Quantize.boundsFromCensus(merged,
          loPermille = 10, hiPermille = 990)
        .orderBy(col("d"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ex AS (
        SELECT d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (
        SELECT d, COUNT(*) AS n, MIN(x) AS vmin, MAX(x) AS vmax
        FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      lo AS (
        SELECT rk.d, MIN(rk.x) AS p_lo
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000
        GROUP BY rk.d),
      hi AS (
        SELECT rk.d, MIN(rk.x) AS p_hi
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000
        GROUP BY rk.d)
      SELECT CAST(st.d AS INTEGER) AS d, CAST(n AS BIGINT) AS n,
             CAST(vmin AS BIGINT) AS vmin, CAST(vmax AS BIGINT) AS vmax,
             CAST(p_lo AS BIGINT) AS p_lo, CAST(p_hi AS BIGINT) AS p_hi
      FROM st JOIN lo USING (d) JOIN hi USING (d)
      ORDER BY st.d
    """))

  // --------------------------------------------------------------- q229
  // Calibrated-int8 SEARCH — q217's bounds and q220's codes serving
  // retrieval: the stored corpus is the (id, codes) table, codes
  // dequantize in-row against the literal per-dim windows, the raw
  // query grid-quantizes, and the L2 distance over (query − dequant)
  // pairs is an exact long — even the distance column hash-gates.
  // This closes the calibration family the way q207 closed the
  // permutation's: bounds → codes → audit → SEARCH, each stage under
  // its own gate, the deployment path end to end. Bounded query panel
  // broadcast onto one pass over the codes table (the q20/q184 class).
  private val q229 = Q(
    "q229_calibrated_int8_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      // the STORED-table shape: codes persist at build, the search
      // consumes them — nothing re-encodes at query time
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      graft.operators.Quantize.calibratedSearch(codes,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", bounds,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000
        GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi
        FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000
        GROUP BY rk.d),
      dq AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
               SUM((q.x - c.dq) * (q.x - c.dq)) AS d2
        FROM dq c
        JOIN ex q ON q.d = c.d AND q.vec_id < 10
        WHERE q.vec_id <> c.vec_id
        GROUP BY q.vec_id, c.vec_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q230
  // Calibration DRIFT report — the q209 `moved`-flag discipline on the
  // bounds axis, read at ledger cost: the stored census absorbs the
  // day's batch (q221), bounds re-derive from the merge, and every dim
  // whose clip window moved vs the bounds the CODES WERE BUILT WITH
  // (the history-only view) is flagged — the recalibrate/re-encode
  // trigger, since a drifted window silently changes what q229's
  // stored codes mean. History is never re-read; both bound views are
  // windows over d-row censuses.
  private val q230 = Q(
    "q230_calibration_drift",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // persisted: the history census feeds BOTH the built-bounds view
      // and the merge — the structural-single-scan discipline, not a
      // CacheManager plan-equality accident
      val stored = graft.operators.Quantize.valueCensus(
          e.filter(col("vec_id") % 3 > 0), "vec_id", "embedding")
        .transform(graft.util.CacheScope.persist)
      val built = graft.operators.Quantize.boundsFromCensus(stored,
          loPermille = 10, hiPermille = 990)
        .select(col("d"), col("p_lo").as("p_lo_built"),
          col("p_hi").as("p_hi_built"))
      val merged = graft.operators.Quantize.boundsFromCensus(
        graft.operators.Quantize.mergeValueCensus(stored,
          graft.operators.Quantize.valueCensus(
            e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")),
        loPermille = 10, hiPermille = 990)
      merged.join(built, Seq("d")) // d-row ledger join
        .select(col("d"), col("n"), col("p_lo"), col("p_hi"),
          col("p_lo_built"), col("p_hi_built"),
          (col("p_lo") =!= col("p_lo_built") ||
            col("p_hi") =!= col("p_hi_built")).as("moved"))
        .orderBy(col("d"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      lo AS (
        SELECT rk.d, MIN(rk.x) AS p_lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      hi AS (
        SELECT rk.d, MIN(rk.x) AS p_hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      exh AS (SELECT * FROM ex WHERE vec_id % 3 > 0),
      sth AS (SELECT d, COUNT(*) AS n FROM exh GROUP BY d),
      rkh AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM exh),
      loh AS (
        SELECT rkh.d, MIN(rkh.x) AS p_lo_built FROM rkh JOIN sth USING (d)
        WHERE rkh.r = (sth.n - 1) * 10 // 1000 GROUP BY rkh.d),
      hih AS (
        SELECT rkh.d, MIN(rkh.x) AS p_hi_built FROM rkh JOIN sth USING (d)
        WHERE rkh.r = (sth.n - 1) * 990 // 1000 GROUP BY rkh.d)
      SELECT CAST(st.d AS INTEGER) AS d, CAST(st.n AS BIGINT) AS n,
             CAST(p_lo AS BIGINT) AS p_lo, CAST(p_hi AS BIGINT) AS p_hi,
             CAST(p_lo_built AS BIGINT) AS p_lo_built,
             CAST(p_hi_built AS BIGINT) AS p_hi_built,
             p_lo <> p_lo_built OR p_hi <> p_hi_built AS moved
      FROM st JOIN lo USING (d) JOIN hi USING (d)
      JOIN loh USING (d) JOIN hih USING (d)
      ORDER BY st.d
    """))

  // --------------------------------------------------------------- q231
  // Index UPSERT — the last CRUD verb: a RESTATED document (same id,
  // new content — here each restated vector deterministically
  // REVERSES, so the oracle can replay it) is a DELETE composed with
  // an APPEND, and the ledger algebra makes that literal: the old
  // rows retract from the stored health ledger, the new rows merge
  // in, and the assignment table swaps rows by anti-join ∪ append —
  // all O(changed) under the FIXED codebook, history untouched, no
  // retrain. With build (q36/q198), search (q185/q208/q229), append
  // (q194/q197/q202), and delete (q211/q219), the stored-index family
  // now has create/read/update/delete each under its own gate.
  // Oracle = the full health recompute over history with the
  // restated ids' vectors replaced.
  private val q231 = Q(
    "q231_index_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val oldRows = history.filter(col("vec_id") % 7 === 0)
      val newRows = oldRows.select(col("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val coarse = graft.operators.Ivf.centroids(history, "vec_id",
        "embedding", 8, 2)
      val stored = graft.operators.Ivf.cellHealth(coarse, history,
        "vec_id", "embedding")
      val assigned = graft.operators.Ivf.assignIds(
          graft.operators.Ivf.quantized(history, "vec_id", "embedding"),
          coarse)
        .select(col("vec_id"), col("cid"))
      val upAssigned = graft.operators.Pq.purgeCodes(assigned,
          oldRows.select(col("vec_id")), "vec_id")
        .unionByName(graft.operators.Ivf.assignIds(
            graft.operators.Ivf.quantized(newRows, "vec_id", "embedding"),
            coarse)
          .select(col("vec_id"), col("cid")))
        .groupBy(col("cid")).agg(count(lit(1)).as("n_codes"))
      graft.operators.Ivf.upsertCellHealth(coarse, stored, oldRows,
          newRows, "vec_id", "embedding")
        .join(upAssigned, Seq("cid"), "left")
        .select(col("cid"), col("n_vectors"), col("residual_energy"),
          col("avg_residual_energy"),
          coalesce(col("n_codes"), lit(0L)).as("n_codes"))
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx
        WHERE vec_id % 3 > 0),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx2 v
        JOIN cellof2 a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid),
      h AS (
        SELECT cid, COUNT(*) AS n,
               SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT)) AS e
        FROM rv GROUP BY cid)
      SELECT c.cid,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_vectors,
             CAST(COALESCE(h.e, 0) AS BIGINT) AS residual_energy,
             CAST(CASE WHEN COALESCE(h.n, 0) > 0
                  THEN COALESCE(h.e, 0) // h.n ELSE 0 END AS BIGINT)
               AS avg_residual_energy,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n_codes
      FROM co2 c LEFT JOIN h USING (cid)
      ORDER BY c.cid
    """))

  // --------------------------------------------------------------- q234
  // IVF-ROUTED calibrated search — the SCALE path for the calibrated
  // codes (q229 is the exact brute-force baseline; this is what a
  // deployment runs): queries probe their nprobe nearest coarse
  // cells and only those cells' members dequantize and score — the
  // corpus × query fan becomes a cell-keyed equi-join, q185's
  // discipline on the calibrated axis. All three corpus-side tables
  // (coarse, assignment, codes) are the stored index; nothing
  // re-encodes or re-assigns at query time, and a PqSpec probing-all
  // lane pins this ≡ the q229 brute force. Grid squares and their
  // 64-term sums are exact integers in doubles, so even the probe
  // distances tie-break identically in both engines.
  private val q234 = Q(
    "q234_calibrated_ivf_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      graft.operators.Quantize.calibratedIvfSearch(coarse, assigned,
          codes, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          bounds, nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q235
  // FILTERED vector search — the attribute-predicate seam every
  // production vector store exposes ("nearest WHERE label = 3"): the
  // stored IVF-Flat index carries the filterable attribute IN the
  // index row (Ivf.flatIndex — the in-row nearest fold builds
  // assignment + payload together), and at query time the predicate is a plain
  // column filter on the index scan BEFORE the probe join — the
  // candidate stream shrinks at the source instead of scoring
  // everything and discarding, and k never under-fills the way a
  // post-filtered top-k does. Scoring is the exact integral-grid L2,
  // so distances hash-gate; a PqSpec lane pins probing-all ≡ brute
  // force over the filtered corpus (the q185 discipline).
  private val q235 = Q(
    "q235_filtered_ivf_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.operators.Ivf.centroids(e, "vec_id",
        "embedding", 8, 2)
      val index = graft.operators.Ivf.flatIndex(coarse, e, "vec_id",
        "embedding", Seq("label"))
      graft.operators.Ivf.filteredSearch(coarse, index,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          col("label") === 3, nprobe = 3, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 3),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p
        JOIN cellof a ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE e.label = 3),
      scored AS (
        SELECT c.q_id, c.n_id,
               list_dot_product(q.qvec, q.qvec)
               - 2.0 * list_dot_product(q.qvec, n.qvec)
               + list_dot_product(n.qvec, n.qvec) AS d2
        FROM cand c
        JOIN vx q ON q.vec_id = c.q_id
        JOIN vx n ON n.vec_id = c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q236
  // TOMBSTONE-MASKED serving — the gap between q231's upsert (which
  // REWRITES stored state) and what a serving tier does between
  // compactions: deletes land as a tombstone set and search must stop
  // returning them NOW, without touching the index. The mask is one
  // O(deleted) anti-join on the 2-column assignment table
  // (Pq.purgeCodes — the codes table, m× wider, is never rewritten);
  // the routed search then composes unchanged, so a delete is visible
  // at the next query with zero index maintenance. Querying WITH a
  // tombstoned vector still works (queries come from outside the
  // index) — only the NEIGHBOR side is masked, which is the contract.
  private val q236 = Q(
    "q236_tombstone_masked_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      val live = graft.operators.Pq.purgeCodes(assigned,
        e.filter(col("vec_id") % 5 === 0).select(col("vec_id")), "vec_id")
      graft.operators.Quantize.calibratedIvfSearch(coarse, live,
          codes, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          bounds, nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id
        WHERE a.vec_id % 5 <> 0),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q237
  // SEGMENT COMPACTION — the maintenance pass that closes the
  // append/delete loop: q231-style restatements land as new SEGMENTS
  // (history seg 0, then two restatement days), reads degrade as
  // segments pile up, and the compactor elects the latest segment's
  // row per id and rewrites the survivors clustered by cell
  // (Layout.compactLatest — one id-keyed election window whose lead()
  // probe also guards against duplicate (id, seg) corruption, one
  // clustering exchange). The gate checks the compacted CONTENT
  // per-element (codes exploded to (d, code) rows); the physical
  // claims — cid-hash partitioning, (cid, id) sort within partitions
  // — are LayoutSpec lanes, since a hash gate can't see layout.
  private val q237 = Q(
    "q237_segment_compaction",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      def seg(rows: org.apache.spark.sql.DataFrame, ord: Int) =
        graft.operators.Quantize.calibratedCodes(rows, "vec_id",
            "embedding", bounds)
          .join(graft.operators.Ivf.assignIds(
              graft.operators.Ivf.quantized(rows, "vec_id", "embedding"),
              coarse)
            .select(col("vec_id"), col("cid")), Seq("vec_id"))
          .withColumn("seg", lit(ord))
      val seg0 = seg(e, 0)
      val seg1 = seg(e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")), 1)
      val seg2 = seg(e.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id"), concat(slice(col("embedding"), 2, 63),
          slice(col("embedding"), 1, 1)).as("embedding")), 2)
      graft.operators.Layout.compactLatest(
          seg0.unionByName(seg1).unionByName(seg2),
          "vec_id", "seg", "cid", numPartitions = 8)
        .select(col("vec_id"), col("cid"), col("seg"),
          posexplode(col("codes")).as(Seq("pos", "code")))
        .withColumn("d", (col("pos") + 1).cast("int"))
        .drop("pos")
        .orderBy(col("vec_id"), col("d"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      sv AS (
        SELECT vec_id, 0 AS seg, qvec FROM vx
        UNION ALL
        SELECT vec_id, 1 AS seg,
               list_transform(generate_series(1, 64), i -> qvec[65 - i])
        FROM vx WHERE vec_id % 7 = 0
        UNION ALL
        SELECT vec_id, 2 AS seg,
               list_transform(generate_series(1, 64), i -> qvec[(i % 64) + 1])
        FROM vx WHERE vec_id % 11 = 0),
      lt AS (SELECT vec_id, MAX(seg) AS seg FROM sv GROUP BY vec_id),
      pick AS (
        SELECT sv.vec_id, sv.seg, sv.qvec
        FROM sv JOIN lt USING (vec_id, seg)),
      pcid AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.qvec, p.qvec)
                   - 2.0 * list_dot_product(p.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM pick p, co2 c))
        WHERE rn = 1),
      pd AS (
        SELECT vec_id, seg, d, CAST(qvec[d] AS BIGINT) AS x
        FROM pick, UNNEST(generate_series(1, 64)) t(d)),
      cd AS (
        SELECT vec_id, seg, d,
               CASE WHEN c.hi > b.lo THEN
                 (GREATEST(LEAST(x, c.hi), b.lo) - b.lo) * 255
                   // (c.hi - b.lo)
               ELSE 0 END AS code
        FROM pd JOIN blo b USING (d) JOIN bhi c USING (d))
      SELECT p.vec_id, pc.cid, CAST(p.seg AS INTEGER) AS seg,
             CAST(p.d AS INTEGER) AS d, CAST(p.code AS BIGINT) AS code
      FROM cd p JOIN pcid pc USING (vec_id)
      ORDER BY p.vec_id, p.d
    """))

  // --------------------------------------------------------------- q238
  // The SERVING STACK — q235/q236/q237's three verbs composed in the
  // order a vector-search tier actually runs them: restatement
  // segments COMPACT (latest wins), the tombstone set MASKS the
  // compacted index (O(deleted) anti-join, nothing rewritten), the
  // attribute predicate FILTERS the index scan, and only then do the
  // probes route and the exact grid distances rank. Each verb is
  // individually gated (q235–q237); this gate proves they compose —
  // a neighbor must be its LATEST restated vector, not tombstoned,
  // label-matching, and inside a probed cell, all at once.
  private val q238 = Q(
    "q238_serving_stack",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.operators.Ivf.centroids(e, "vec_id",
        "embedding", 8, 2)
      val seg0 = graft.operators.Ivf.flatIndex(coarse, e, "vec_id",
        "embedding", Seq("label")).withColumn("seg", lit(0))
      val seg1 = graft.operators.Ivf.flatIndex(coarse,
          e.filter(col("vec_id") % 7 === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
              col("label")),
          "vec_id", "embedding", Seq("label"))
        .withColumn("seg", lit(1))
      val compacted = graft.operators.Layout.compactLatest(
        seg0.unionByName(seg1), "vec_id", "seg", "cid", numPartitions = 8)
      val live = graft.operators.Pq.purgeCodes(compacted,
        e.filter(col("vec_id") % 5 === 0).select(col("vec_id")), "vec_id")
      graft.operators.Ivf.filteredSearch(coarse, live,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          col("label") === 3, nprobe = 3, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      sv AS (
        SELECT vec_id, 0 AS seg, qvec FROM vx
        UNION ALL
        SELECT vec_id, 1 AS seg,
               list_transform(generate_series(1, 64), i -> qvec[65 - i])
        FROM vx WHERE vec_id % 7 = 0),
      lt AS (SELECT vec_id, MAX(seg) AS seg FROM sv GROUP BY vec_id),
      pick AS (
        SELECT sv.vec_id, sv.qvec FROM sv JOIN lt USING (vec_id, seg)),
      pcid AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.qvec, p.qvec)
                   - 2.0 * list_dot_product(p.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM pick p, co2 c))
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 3),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p
        JOIN pcid a ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id % 5 <> 0 AND e.label = 3),
      scored AS (
        SELECT c.q_id, c.n_id,
               list_dot_product(q.qvec, q.qvec)
               - 2.0 * list_dot_product(q.qvec, n.qvec)
               + list_dot_product(n.qvec, n.qvec) AS d2
        FROM cand c
        JOIN vx q ON q.vec_id = c.q_id
        JOIN pick n ON n.vec_id = c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q239
  // RECALL@k audit — the evaluation a deployment runs BEFORE picking
  // nprobe: per query, how many of the exact top-k did the routed
  // calibrated path (q234's serving shape, quantization + routing
  // losses compounded) actually return. The exact side is the new
  // filteredSearch probing ALL cells with a TRUE predicate — routing
  // degenerates to brute force, so the baseline reuses the serving
  // operator instead of a second code path. The audit join runs over
  // two O(queries·k) result sets (Similarity.recallAudit — exact-side
  // spine, so an all-miss query reports 0 instead of vanishing);
  // recall lands in exact micro-units, hash-gated like every score in
  // the suite. At sf0.01 the routed path lands 0.4–1.0 recall@5
  // (mean ~0.78) — the number this report exists to surface. Each row
  // also carries the COST of that recall (Ivf.probeCost: cells the
  // router opened, candidate rows the scorer touched — occupancy
  // aggregates before the probe join, so the corpus is never fanned
  // per query), so the audit reports the recall/cost pair, not half
  // the tuning artifact.
  private val q239 = Q(
    "q239_recall_audit",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val approx = graft.operators.Quantize.calibratedIvfSearch(coarse,
        assigned, codes, q, "vec_id", "embedding", bounds, nprobe = 2,
        topK = 5)
      val exact = graft.operators.Ivf.filteredSearch(coarse,
        graft.queries.SimFixtures.flatIndex(s, dir),
        q, "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      graft.operators.Similarity.recallAudit(approx, exact, 5)
        .join(graft.operators.Ivf.probeCost(coarse, assigned, q,
          "vec_id", "embedding", nprobe = 2), Seq("q_id"))
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      acand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      ascored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM acand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id),
      routed AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, n_id ASC) AS rnk
          FROM ascored)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT e.q_id, COUNT(r.n_id) AS n_hits
        FROM exact e
        LEFT JOIN routed r ON r.q_id = e.q_id AND r.n_id = e.n_id
        GROUP BY e.q_id),
      occ AS (SELECT cid, COUNT(*) AS n FROM cellof GROUP BY cid),
      cost AS (
        SELECT p.q_id, COUNT(*) AS cells_probed,
               SUM(COALESCE(o.n, 0)
                   - (CASE WHEN sc.vec_id IS NOT NULL THEN 1 ELSE 0 END))
                 AS candidates
        FROM probes p
        LEFT JOIN occ o ON o.cid = p.cid
        LEFT JOIN cellof sc ON sc.vec_id = p.q_id AND sc.cid = p.cid
        GROUP BY p.q_id)
      SELECT h.q_id, CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 1000000 // 5 AS BIGINT) AS recall_micro,
             CAST(c.cells_probed AS BIGINT) AS cells_probed,
             CAST(c.candidates AS BIGINT) AS candidates
      FROM hits h JOIN cost c ON c.q_id = h.q_id
      ORDER BY h.q_id
    """))

  // --------------------------------------------------------------- q240
  // NPROBE SWEEP — q239 turned into the tuning CURVE: mean recall@5
  // across the query panel at nprobe ∈ {1, 2, 4} WITH the cost side
  // (cells probed, candidates scored — Ivf.probeCost summed per
  // sweep point), the artifact an index operator actually reads to
  // site the recall/latency knee: recall per candidate touched, not
  // recall alone.
  // The assignment, codes, and exact baseline persist ONCE under
  // CacheScope — the three sweep branches are plan copies, and
  // without the pins each branch would re-assign, re-encode, and
  // re-score from scratch (coarse and bounds pin inside their own
  // operators — the centroids/calibrationBounds discipline).
  private val q240 = Q(
    "q240_nprobe_sweep",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
        .transform(graft.util.CacheScope.persist)
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
        .transform(graft.util.CacheScope.persist)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse,
          graft.queries.SimFixtures.flatIndex(s, dir),
          q, "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
        .transform(graft.util.CacheScope.persist)
      // ONE probe ranking serves every sweep point's cost columns
      // (rank-prefix reads — no per-np codebook re-fan); persisted so
      // the three branch joins read it, not recompute it
      val cost = graft.operators.Ivf.probeCostSweep(coarse, assigned,
          q, "vec_id", "embedding", Seq(1, 2, 4))
        .transform(graft.util.CacheScope.persist)
      Seq(1, 2, 4).map { np =>
        graft.operators.Similarity.recallAudit(
            graft.operators.Quantize.calibratedIvfSearch(coarse,
              assigned, codes, q, "vec_id", "embedding", bounds,
              nprobe = np, topK = 5),
            exact, 5)
          .join(cost.filter(col("nprobe") === np).drop("nprobe"),
            Seq("q_id"))
          .withColumn("nprobe", lit(np))
      }.reduce(_.unionByName(_))
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("hits_total"),
          sum(col("cells_probed")).as("cells_total"),
          sum(col("candidates")).as("candidates_total"))
        .withColumn("recall_micro_mean",
          expr("hits_total * 1000000 DIV (5 * n_queries)"))
        .orderBy(col("nprobe"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      nps AS (SELECT * FROM (VALUES (1), (2), (4)) t(np)),
      probes AS (
        SELECT vec_id AS q_id, cid, rn FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 4),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      acand AS (
        SELECT t.np, p.q_id, a.vec_id AS n_id
        FROM nps t
        JOIN probes p ON p.rn <= t.np
        JOIN cellof a ON a.cid = p.cid AND a.vec_id <> p.q_id
        GROUP BY t.np, p.q_id, a.vec_id),
      ascored AS (
        SELECT c.np, c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM acand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.np, c.q_id, c.n_id),
      routed AS (
        SELECT np, q_id, n_id FROM (
          SELECT np, q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY np, q_id
                   ORDER BY d2 ASC, n_id ASC) AS rnk
          FROM ascored)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT t.np, e.q_id, COUNT(r.n_id) AS n_hits
        FROM nps t
        CROSS JOIN exact e
        LEFT JOIN routed r
          ON r.np = t.np AND r.q_id = e.q_id AND r.n_id = e.n_id
        GROUP BY t.np, e.q_id),
      occ AS (SELECT cid, COUNT(*) AS n FROM cellof GROUP BY cid),
      cost AS (
        SELECT t.np, p.q_id, COUNT(*) AS cells_probed,
               SUM(COALESCE(o.n, 0)
                   - (CASE WHEN sc.vec_id IS NOT NULL THEN 1 ELSE 0 END))
                 AS candidates
        FROM nps t
        JOIN probes p ON p.rn <= t.np
        LEFT JOIN occ o ON o.cid = p.cid
        LEFT JOIN cellof sc ON sc.vec_id = p.q_id AND sc.cid = p.cid
        GROUP BY t.np, p.q_id),
      agg AS (
        SELECT np, COUNT(*) AS n_queries, SUM(n_hits) AS hits_total
        FROM hits GROUP BY np),
      cagg AS (
        SELECT np, SUM(cells_probed) AS cells_total,
               SUM(candidates) AS candidates_total
        FROM cost GROUP BY np)
      SELECT CAST(a.np AS INTEGER) AS nprobe,
             CAST(a.n_queries AS BIGINT) AS n_queries,
             CAST(a.hits_total AS BIGINT) AS hits_total,
             CAST(c.cells_total AS BIGINT) AS cells_total,
             CAST(c.candidates_total AS BIGINT) AS candidates_total,
             CAST(a.hits_total * 1000000 // (5 * a.n_queries) AS BIGINT)
               AS recall_micro_mean
      FROM agg a JOIN cagg c ON c.np = a.np
      ORDER BY a.np
    """))

  // --------------------------------------------------------------- q241
  // Calibrated RERANK funnel — the deployment shape the PQ axis
  // carries (q195/q208) completed for the calibrated index: the
  // routed int8 shortlist (generous shortlistK) decides only WHICH
  // candidates reach the exact rescore; the final order comes from
  // full-grid distances on ONE base scan (the shared exactRerank
  // tail — shortlist + query panel broadcast, no vector crosses an
  // exchange). Quantization error that q239 measures as lost recall
  // is exactly what the funnel buys back whenever the true neighbor
  // lands anywhere in the shortlist.
  private val q241 = Q(
    "q241_calibrated_rerank_funnel",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.operators.Ivf.assignIds(
          graft.operators.Ivf.quantized(e, "vec_id", "embedding"), coarse)
        .select(col("vec_id"), col("cid"))
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      graft.operators.Quantize.calibratedIvfRerank(coarse, assigned,
          codes, e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          bounds, nprobe = 2, shortlistK = 20, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id),
      short AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, n_id ASC) AS rnk
          FROM scored)
        WHERE rnk <= 20),
      rr AS (
        SELECT sh.q_id, sh.n_id,
               list_dot_product(qv.qvec, qv.qvec)
               - 2.0 * list_dot_product(qv.qvec, nv.qvec)
               + list_dot_product(nv.qvec, nv.qvec) AS exact_d2
        FROM short sh
        JOIN vx qv ON qv.vec_id = sh.q_id
        JOIN vx nv ON nv.vec_id = sh.n_id)
      SELECT q_id, n_id, exact_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, exact_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY exact_d2 ASC, n_id ASC) AS rnk
        FROM rr)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q247
  // The INDEX LIFECYCLE pipeline — the ANN sibling of q200's text
  // pipeline: every stored-index verb composed in deployment order
  // under ONE hash gate. Coarse codebook and calibration bounds train
  // once on HISTORY and stay fixed; the full corpus encodes under
  // them (history build + the day's append are the same content under
  // fixed tables — the O(new) property itself is q194/q221's gate);
  // a restatement day lands as segment 1 (reversed vectors for the
  // %7 cohort) and COMPACTS latest-wins; deletes land as tombstones
  // and MASK the compacted assignment at O(deleted); queries then
  // route through the probed cells of whatever the index NOW holds.
  // A neighbor must simultaneously be its latest restated self, not
  // deleted, and inside a probed cell — the composition is the claim.
  private val q247 = Q(
    "q247_index_lifecycle",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val bounds = graft.operators.Quantize.calibrationBounds(history,
        "vec_id", "embedding", loPermille = 10, hiPermille = 990)
      val coarse = graft.operators.Ivf.centroids(history, "vec_id",
        "embedding", 8, 2)
      def seg(rows: org.apache.spark.sql.DataFrame, ord: Int) =
        graft.operators.Quantize.calibratedCodes(rows, "vec_id",
            "embedding", bounds)
          .join(graft.operators.Ivf.assignIds(
              graft.operators.Ivf.quantized(rows, "vec_id", "embedding"),
              coarse)
            .select(col("vec_id"), col("cid")), Seq("vec_id"))
          .withColumn("seg", lit(ord))
      val seg0 = seg(e, 0)
      val seg1 = seg(e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")), 1)
      val live = graft.operators.Pq.purgeCodes(
        graft.operators.Layout.compactLatest(seg0.unionByName(seg1),
          "vec_id", "seg", "cid", numPartitions = 8),
        e.filter(col("vec_id") % 5 === 0).select(col("vec_id")), "vec_id")
      graft.operators.Quantize.calibratedIvfSearch(coarse,
          live.select(col("vec_id"), col("cid")),
          live.select(col("vec_id"), col("codes")),
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          bounds, nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      exh AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)
        WHERE vec_id % 3 > 0),
      st AS (SELECT d, COUNT(*) AS n FROM exh GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM exh),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      sv AS (
        SELECT vec_id, 0 AS seg, qvec FROM vx
        UNION ALL
        SELECT vec_id, 1 AS seg,
               list_transform(generate_series(1, 64), i -> qvec[65 - i])
        FROM vx WHERE vec_id % 7 = 0),
      lt AS (SELECT vec_id, MAX(seg) AS seg FROM sv GROUP BY vec_id),
      pick AS (
        SELECT sv.vec_id, sv.qvec FROM sv JOIN lt USING (vec_id, seg)),
      pcid AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.qvec, p.qvec)
                   - 2.0 * list_dot_product(p.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM pick p, co2 c))
        WHERE rn = 1),
      pd AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM pick, UNNEST(generate_series(1, 64)) t(d)),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM pd e JOIN blo b USING (d) JOIN bhi c USING (d)),
      exq AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)
        WHERE vec_id < 10),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN pcid a
          ON a.cid = p.cid AND a.vec_id <> p.q_id
        WHERE a.vec_id % 5 <> 0),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN exq qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q248
  // FILTERED search on the COMPRESSED index — q235's attribute
  // predicate completing the filter × index-family matrix: the
  // calibrated int8 index stores its filterable attribute IN the
  // assignment table (Ivf.flatIndex builds it in the in-row fold;
  // the codes table carries the geometry, so the assignment stays a
  // 3-column frame), and the predicate filters that scan BEFORE the
  // probe join — pure composition of existing verbs, zero new plan
  // shapes, which is itself the claim: a user filters ANY index
  // family the same way.
  private val q248 = Q(
    "q248_filtered_calibrated_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndexLabeled(s, dir)
        .select(col("vec_id"), col("cid"), col("label"))
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      graft.operators.Quantize.calibratedIvfSearch(coarse,
          assigned.filter(col("label") === 3), codes,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          bounds, nprobe = 3, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 3),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p
        JOIN cellof a ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE e.label = 3),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q249
  // TIME-TRAVEL serving — the reproducibility semantic a training
  // pipeline actually needs from its index: "answer this query with
  // the index AS OF segment 1", later restatements invisible
  // (Layout.compactAsOf — the cutoff is a plain predicate on the
  // segment column, pruning whole segment files at rest before any
  // election work). The fixture writes THREE segments; serving as-of
  // 1 must see seg 1's reversal and NOT seg 2's rotation — the gate
  // fails if any seg-2 row leaks into a neighbor's geometry. Bounds
  // and coarse are build-time state, segment-independent by
  // construction.
  private val q249 = Q(
    "q249_time_travel_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      def seg(rows: org.apache.spark.sql.DataFrame, ord: Int) =
        graft.operators.Quantize.calibratedCodes(rows, "vec_id",
            "embedding", bounds)
          .join(graft.operators.Ivf.assignIds(
              graft.operators.Ivf.quantized(rows, "vec_id", "embedding"),
              coarse)
            .select(col("vec_id"), col("cid")), Seq("vec_id"))
          .withColumn("seg", lit(ord))
      val seg0 = seg(e, 0)
      val seg1 = seg(e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")), 1)
      val seg2 = seg(e.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id"), concat(slice(col("embedding"), 2, 63),
          slice(col("embedding"), 1, 1)).as("embedding")), 2)
      val asOf = graft.operators.Layout.compactAsOf(
        seg0.unionByName(seg1).unionByName(seg2),
        "vec_id", "seg", "cid", numPartitions = 8, asOf = 1)
      graft.operators.Quantize.calibratedIvfSearch(coarse,
          asOf.select(col("vec_id"), col("cid")),
          asOf.select(col("vec_id"), col("codes")),
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          bounds, nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      sv AS (
        SELECT vec_id, 0 AS seg, qvec FROM vx
        UNION ALL
        SELECT vec_id, 1 AS seg,
               list_transform(generate_series(1, 64), i -> qvec[65 - i])
        FROM vx WHERE vec_id % 7 = 0),
      lt AS (SELECT vec_id, MAX(seg) AS seg FROM sv GROUP BY vec_id),
      pick AS (
        SELECT sv.vec_id, sv.qvec FROM sv JOIN lt USING (vec_id, seg)),
      pcid AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.qvec, p.qvec)
                   - 2.0 * list_dot_product(p.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM pick p, co2 c))
        WHERE rn = 1),
      pd AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM pick, UNNEST(generate_series(1, 64)) t(d)),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM pd e JOIN blo b USING (d) JOIN bhi c USING (d)),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN pcid a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q250
  // FILTERED search on the PQ/ADC index — q248's predicate discipline
  // on the layout that actually serves at billion scale (m bytes per
  // vector): the attributed assignment comes from Ivf.flatIndex
  // (attrs stay on the assignment row) and the predicate filters that
  // scan BEFORE the probe join in Pq.ivfPqSearch, so candidates
  // shrink at the source and k never under-fills. This closes the
  // filter × index-family matrix on the compressed axis — PqSpec pins
  // probing-all + predicate ≡ brute ADC over the filtered corpus.
  private val q250 = Q(
    "q250_filtered_pq_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val cbs = graft.queries.SimFixtures.pqCodebooks(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndexLabeled(s, dir)
        .select(col("vec_id"), col("cid"), col("label"))
      val codes = graft.queries.SimFixtures.pqCodes(s, dir)
      graft.operators.Pq.ivfPqSearch(coarse, cbs,
          assigned.filter(col("label") === 3)
            .select(col("vec_id"), col("cid")),
          codes, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          m = 4, nprobe = 3, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 3),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p
        JOIN cellof a ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings em ON em.vec_id = a.vec_id
        WHERE em.label = 3),
      scored AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN enc e ON e.vec_id = c.n_id
        JOIN qd0 d0 ON d0.q_id = c.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = c.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = c.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = c.q_id AND d3.cid = e.cb3)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q251
  // FILTERED search on the RESIDUAL IVFADC index — the last cell of
  // the filter × index-family matrix: the stored (vec_id, cid, codes,
  // label) row carries its attribute from Pq.residualEncode's
  // flatIndex-argmin ride-along, the predicate filters the stored
  // scan BEFORE the probe join in Pq.residualSearch, and the
  // per-(query, probed-cell) lookup tables stay broadcast-tiny.
  // PqSpec pins predicate ≡ physical corpus restriction under fixed
  // codebooks, and the stored round-trip ≡ the inline q186 chain.
  private val q251 = Q(
    "q251_filtered_residual_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val cbs = graft.queries.SimFixtures.resCodebooks(s, dir)
      val stored = graft.queries.SimFixtures.resEncodedLabeled(s, dir)
      graft.operators.Pq.residualSearch(coarse, cbs,
          stored.filter(col("label") === 3),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", m = 4,
          nprobe = 3, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 3),
      rv AS (
        SELECT v.vec_id,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid),
      qrv AS (
        SELECT p.q_id, p.cid AS ccell,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM probes p
        JOIN vx v ON v.vec_id = p.q_id
        JOIN co2 c ON c.cid = p.cid),
      ${pqResChains()},
      renc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM renc0 e0 JOIN renc1 e1 USING (vec_id)
        JOIN renc2 e2 USING (vec_id) JOIN renc3 e3 USING (vec_id)),
      cand AS (
        SELECT p.q_id, p.cid AS ccell, a.vec_id AS n_id
        FROM probes p
        JOIN cellof a ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings em ON em.vec_id = a.vec_id
        WHERE em.label = 3),
      scored AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN renc e ON e.vec_id = c.n_id
        JOIN rqd0 d0 ON d0.q_id = c.q_id AND d0.ccell = c.ccell
                    AND d0.pqcid = e.cb0
        JOIN rqd1 d1 ON d1.q_id = c.q_id AND d1.ccell = c.ccell
                    AND d1.pqcid = e.cb1
        JOIN rqd2 d2x ON d2x.q_id = c.q_id AND d2x.ccell = c.ccell
                    AND d2x.pqcid = e.cb2
        JOIN rqd3 d3 ON d3.q_id = c.q_id AND d3.ccell = c.ccell
                    AND d3.pqcid = e.cb3)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q252
  // INDEX integrity MANIFEST — q141's verify-before-serve discipline
  // on the stored ANN/search pillar: per stored table (coarse
  // assignment, the MaxSim BAG table (vec_id, vec_idx, quantized
  // vec), calibration bounds, calibrated codes, the stored kNN
  // GRAPH (src, dst, d2, rnk), the layered graph, the PRUNED flat and
  // layered serve tables, positional postings), row count + an
  // order-invariant bit-XOR content
  // checksum, derived at build and re-derived before serving so a
  // dropped part-file surfaces as a loud mismatch instead of silently
  // wrong neighbors. XOR commutes — the checksum is partition/order/
  // merge-invariant, exactly what a distributed re-derivation needs;
  // each table costs one scan and one partial-combining aggregate.
  // (The coarse CENTROID table holds non-integral doubles — means —
  // whose string rendering is not engine-portable; its integrity is
  // covered transitively, since every assignment row derives from it.)
  private val q252 = Q(
    "q252_index_manifest",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val docs = Tables(s, dir, "documents")
      val bounds = graft.operators.Quantize.calibrationBounds(e,
        "vec_id", "embedding", loPermille = 10, hiPermille = 990)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      val postings = graft.operators.Search.positionalIndex(docs,
        "doc_id", "text")
      // the stored layered table (SimFixtures) covers BOTH graph rows:
      // its layer-0 slice IS the flat kNN graph (the promotion rule —
      // every id ≡ 0 mod 2⁰), so the manifest fingerprints the serve
      // tables a deployment actually reads, not per-query rebuilds
      val layered = graft.queries.SimFixtures.layeredSeed(s, dir)
      val graph = layered.filter(col("layer") === 0)
        .select(col("src"), col("dst"), col("d2"), col("rnk"))
      // the MaxSim bag table fingerprints its QUANTIZED content (the
      // exact values the scorer consumes — integral, so the rendering
      // is engine-portable where raw doubles would not be)
      val bags = e.select(col("vec_id"),
          explode(sequence(lit(0), lit(3))).as("vec_idx"),
          col("embedding"))
        .select(col("vec_id"), col("vec_idx"),
          graft.operators.Ivf.quantize(
            expr("slice(embedding, vec_idx * 16 + 1, 16)")).as("vec"))
      graft.operators.Layout.indexManifest(Seq(
        ("assigned", assigned,
          concat_ws("|", col("vec_id"), col("cid"))),
        ("bags", bags,
          concat_ws("|", col("vec_id"), col("vec_idx"),
            concat_ws(",",
              col("vec").cast("array<long>").cast("array<string>")))),
        ("bounds", bounds,
          concat_ws("|", col("d"), col("p_lo"), col("p_hi"))),
        ("codes", codes,
          concat_ws("|", col("vec_id"),
            concat_ws(",", col("codes").cast("array<string>")))),
        ("graph", graph,
          concat_ws("|", col("src"), col("dst"), col("d2"), col("rnk"))),
        ("layered", layered,
          concat_ws("|", col("layer"), col("src"), col("dst"),
            col("d2"), col("rnk"))),
        ("postings", postings,
          concat_ws("|", col("token"), col("doc_id"), col("pos"))),
        // the PRUNED serve tables (q306/q310's artifacts) — a
        // deployment that adopts pruning serves walks from THESE, so
        // a dropped part-file here must surface before q307/q312's
        // reads, not as silently wrong descents
        ("pruned", graft.queries.SimFixtures.prunedFlat(s, dir),
          concat_ws("|", col("src"), col("dst"), col("d2"), col("rnk"))),
        ("pruned_layered",
          graft.queries.SimFixtures.prunedLayered(s, dir),
          concat_ws("|", col("layer"), col("src"), col("dst"),
            col("d2"), col("rnk"))),
        // the MIXED-α committed table (q323's artifact, served by
        // q326/q327) — every stored serve table is fingerprinted
        ("pruned_layered_mixed",
          graft.queries.SimFixtures.prunedLayeredMixed(s, dir),
          concat_ws("|", col("layer"), col("src"), col("dst"),
            col("d2"), col("rnk"))),
        // the α-independent prune-tuning CACHES (the round-17 stored
        // artifacts that q308/q315/q319/q320 serve curves from, now
        // with the round-18 refresh lifecycle): fingerprint the
        // CANONICAL exploded rows — each neighbor entry with its
        // covers list rendered in sorted (w, wd2) order, so the
        // checksum is pure content (partition/merge-invariant like
        // every manifest row) and a stale or dropped cache row
        // surfaces BEFORE it bends a tuning curve
        ("fold_cache", graft.queries.SimFixtures.foldCacheFlat(s, dir)
            .select(col("src"), explode(col("__es")).as("e"))
            .select(col("src"), col("e.rnk").as("rnk"),
              col("e.dst").as("dst"), col("e.d2").as("d2"),
              expr("array_join(transform(array_sort(e.covers), " +
                "c -> concat(c.w, ':', c.wd2)), ',')").as("cov")),
          concat_ws("|", col("src"), col("rnk"), col("dst"), col("d2"),
            col("cov"))),
        ("fold_cache_layered",
          graft.queries.SimFixtures.foldCacheLayered(s, dir)
            .select(col("layer"), col("src"), explode(col("__es")).as("e"))
            .select(col("layer"), col("src"), col("e.rnk").as("rnk"),
              col("e.dst").as("dst"), col("e.d2").as("d2"),
              expr("array_join(transform(array_sort(e.covers), " +
                "c -> concat(c.w, ':', c.wd2)), ',')").as("cov")),
          concat_ws("|", col("layer"), col("src"), col("rnk"),
            col("dst"), col("d2"), col("cov")))))
        .orderBy(col("table_name"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      codesv AS (
        SELECT e.vec_id,
               list(CASE WHEN c.hi > b.lo THEN
                 (GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                   // (c.hi - b.lo)
                 ELSE 0 END ORDER BY e.d) AS codes
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)
        GROUP BY e.vec_id),
      posti AS (
        SELECT n.w[t.i] AS token, n.doc_id, t.i - 1 AS pos
        FROM (SELECT doc_id,
                string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
              FROM documents) n,
             UNNEST(generate_series(1, len(n.w))) t(i)),
      ma AS (
        SELECT 'assigned' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(vec_id || '|' || cid), 1, 15))::BIGINT),
                 0) AS checksum
        FROM cellof),
      bagv AS (
        SELECT vec_id, s.i AS vec_idx,
               list_transform(qvec[s.i * 16 + 1 : s.i * 16 + 16],
                 x -> CAST(x AS BIGINT)) AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      mbag AS (
        SELECT 'bags' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(vec_id || '|' || vec_idx || '|' ||
                   array_to_string(v, ',')), 1, 15))::BIGINT), 0)
                 AS checksum
        FROM bagv),
      mb AS (
        SELECT 'bounds' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(b.d || '|' || b.lo || '|' || c.hi),
                   1, 15))::BIGINT), 0) AS checksum
        FROM blo b JOIN bhi c USING (d)),
      mc AS (
        SELECT 'codes' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(vec_id || '|' ||
                   array_to_string(codes, ',')), 1, 15))::BIGINT),
                 0) AS checksum
        FROM codesv),
      mp AS (
        SELECT 'postings' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(token || '|' || doc_id || '|' || pos),
                   1, 15))::BIGINT), 0) AS checksum
        FROM posti),
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id),
      seedg AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5),
      mg AS (
        SELECT 'graph' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(src || '|' || dst || '|' || d2
                   || '|' || rnk), 1, 15))::BIGINT), 0) AS checksum
        FROM seedg),
${layerSeedCtes("z1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("z2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      lall AS (
        SELECT 0 AS layer, src, dst, d2, rnk FROM seedg
        UNION ALL
        SELECT 1 AS layer, src, dst, d2, rnk FROM (
          SELECT src, dst, d2, ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY d2 ASC, dst ASC) AS rnk FROM z1sc)
        WHERE rnk <= 5
        UNION ALL
        SELECT 2 AS layer, src, dst, d2, rnk FROM (
          SELECT src, dst, d2, ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY d2 ASC, dst ASC) AS rnk FROM z2sc)
        WHERE rnk <= 5),
      ml AS (
        SELECT 'layered' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(layer || '|' || src || '|' || dst
                   || '|' || d2 || '|' || rnk), 1, 15))::BIGINT), 0)
                 AS checksum
        FROM lall),
${rngKeptCtes(5, 1, 1)},
      prf AS (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM kept5),
      mgp AS (
        SELECT 'pruned' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(src || '|' || dst || '|' || d2
                   || '|' || rnk), 1, 15))::BIGINT), 0) AS checksum
        FROM prf),
${layerRankedCte("z1")},
${layerRankedCte("z2")},
${rngKeptCtes(5, 1, 1, gName = "z1gr", p = "z1k")},
${rngKeptCtes(5, 1, 1, gName = "z2gr", p = "z2k")},
      plall AS (
        SELECT 0 AS layer, src, dst, d2, rnk FROM prf
        UNION ALL
        SELECT 1, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM z1k5
        UNION ALL
        SELECT 2, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM z2k5),
      mlp AS (
        SELECT 'pruned_layered' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(layer || '|' || src || '|' || dst
                   || '|' || d2 || '|' || rnk), 1, 15))::BIGINT), 0)
                 AS checksum
        FROM plall),
${rngKeptCtes(5, 2, 3, p = "y0k")},
${rngKeptCtes(5, 3, 2, gName = "z2gr", p = "y2k")},
      plmix AS (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM y0k5
        UNION ALL
        SELECT 1, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM z1k5
        UNION ALL
        SELECT 2, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM y2k5),
      mplm AS (
        SELECT 'pruned_layered_mixed' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(layer || '|' || src || '|' || dst
                   || '|' || d2 || '|' || rnk), 1, 15))::BIGINT), 0)
                 AS checksum
        FROM plmix),
      lallm AS MATERIALIZED (SELECT * FROM lall),
      fclpair AS MATERIALIZED (
        SELECT g.layer, g.src, g.dst, w.dst AS w,
               CAST(list_dot_product(vw.qvec, vw.qvec)
                 - 2.0 * list_dot_product(vw.qvec, vd.qvec)
                 + list_dot_product(vd.qvec, vd.qvec) AS BIGINT) AS wd2
        FROM lallm g
        JOIN lallm w ON w.layer = g.layer AND w.src = g.src
                    AND w.rnk < g.rnk
        JOIN vx vw ON vw.vec_id = w.dst
        JOIN vx vd ON vd.vec_id = g.dst),
      fclcov AS (
        SELECT layer, src, dst,
               string_agg(w || ':' || wd2, ','
                 ORDER BY w ASC, wd2 ASC) AS cov
        FROM fclpair GROUP BY layer, src, dst),
      fclrows AS MATERIALIZED (
        SELECT g.layer, g.src, g.rnk, g.dst, g.d2,
               COALESCE(c.cov, '') AS cov
        FROM lallm g
        LEFT JOIN fclcov c ON c.layer = g.layer AND c.src = g.src
                          AND c.dst = g.dst),
      mfcf AS (
        SELECT 'fold_cache' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(src || '|' || rnk || '|' || dst
                   || '|' || d2 || '|' || cov), 1, 15))::BIGINT), 0)
                 AS checksum
        FROM fclrows WHERE layer = 0),
      mfcl AS (
        SELECT 'fold_cache_layered' AS table_name, COUNT(*) AS n_rows,
               COALESCE(bit_xor(
                 ('0x' || substr(md5(layer || '|' || src || '|' || rnk
                   || '|' || dst || '|' || d2 || '|' || cov),
                   1, 15))::BIGINT), 0) AS checksum
        FROM fclrows)
      SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
             CAST(checksum AS BIGINT) AS checksum
      FROM (SELECT * FROM ma UNION ALL SELECT * FROM mbag
            UNION ALL SELECT * FROM mb
            UNION ALL SELECT * FROM mc UNION ALL SELECT * FROM mg
            UNION ALL SELECT * FROM ml UNION ALL SELECT * FROM mp
            UNION ALL SELECT * FROM mgp UNION ALL SELECT * FROM mlp
            UNION ALL SELECT * FROM mplm UNION ALL SELECT * FROM mfcf
            UNION ALL SELECT * FROM mfcl)
      ORDER BY table_name
    """))

  // --------------------------------------------------------------- q255
  // AS-OF the FULL serving stack — q249 snapshot-read the code
  // segments alone; this pins EVERYTHING a delete or recalibration
  // can move, "serve q238 exactly as it stood at segment 1":
  // segments ≤ 1 elect latest-per-id (seg 2 — a full RECALIBRATION
  // re-encode under generation-1 bounds — is invisible), the
  // tombstone set as-of 1 (the %5 deletes stamped seg 1 mask out; the
  // %11 deletes stamped seg 2 are POST-snapshot and must NOT mask —
  // the reproducibility point), the bounds GENERATION the surviving
  // codes were built with (all gen 0 here — the operator probes the
  // snapshot and raises on a mixed-generation state), and the q235
  // attribute predicate on the snapshot scan. Oracle = full recompute
  // over exactly that state: segs {0,1}, gen-0 bounds, %5 mask only,
  // label = 3.
  private val q255 = Q(
    "q255_serving_stack_asof",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val bounds0 = graft.operators.Quantize.calibrationBounds(history,
        "vec_id", "embedding", loPermille = 10, hiPermille = 990)
      val bounds1 = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarseH3(s, dir)
      def seg(rows: org.apache.spark.sql.DataFrame, ord: Int, gen: Int,
          b: org.apache.spark.sql.DataFrame) =
        graft.operators.Quantize.calibratedCodes(rows, "vec_id",
            "embedding", b)
          .join(graft.operators.Ivf.flatIndex(coarse, rows, "vec_id",
              "embedding", Seq("label"))
            .select(col("vec_id"), col("cid"), col("label")),
            Seq("vec_id"))
          .withColumn("seg", lit(ord)).withColumn("gen", lit(gen))
      val seg0 = seg(e, 0, 0, bounds0)
      val seg1 = seg(e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
          col("label")), 1, 0, bounds0)
      // seg 2: recalibration — the WHOLE corpus re-encodes under the
      // gen-1 bounds as one segment (that is what makes a generation
      // serveable: no snapshot can straddle it)
      val seg2 = seg(e, 2, 1, bounds1)
      val tombs = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id")).withColumn("seg", lit(1))
        .unionByName(e.filter(col("vec_id") % 11 === 0)
          .select(col("vec_id")).withColumn("seg", lit(2)))
      val boundsVers = bounds0.withColumn("gen", lit(0))
        .unionByName(bounds1.withColumn("gen", lit(1)))
      graft.operators.Quantize.calibratedServeAsOf(coarse,
          seg0.unionByName(seg1).unionByName(seg2), tombs, boundsVers,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          col("label") === 3, "seg", "gen", asOf = 1,
          numPartitions = 8, nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      exh AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)
        WHERE vec_id % 3 > 0),
      st AS (SELECT d, COUNT(*) AS n FROM exh GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM exh),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      sv AS (
        SELECT vec_id, 0 AS seg, qvec FROM vx
        UNION ALL
        SELECT vec_id, 1 AS seg,
               list_transform(generate_series(1, 64), i -> qvec[65 - i])
        FROM vx WHERE vec_id % 7 = 0),
      lt AS (SELECT vec_id, MAX(seg) AS seg FROM sv GROUP BY vec_id),
      pick AS (
        SELECT sv.vec_id, sv.qvec FROM sv JOIN lt USING (vec_id, seg)),
      pcid AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT p.vec_id, c.cid,
                   list_dot_product(p.qvec, p.qvec)
                   - 2.0 * list_dot_product(p.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM pick p, co2 c))
        WHERE rn = 1),
      pd AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM pick, UNNEST(generate_series(1, 64)) t(d)),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM pd e JOIN blo b USING (d) JOIN bhi c USING (d)),
      exq AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)
        WHERE vec_id < 10),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p
        JOIN pcid a ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings em ON em.vec_id = a.vec_id
        WHERE a.vec_id % 5 <> 0 AND em.label = 3),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN exq qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id)
      SELECT q_id, n_id, CAST(d2 AS BIGINT) AS d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q256
  // FILTERED rerank funnel — the last serving composition on the
  // filter axis: the attribute predicate (q248/q250's discipline,
  // applied to the assignment scan BEFORE the probe join) restricts
  // WHICH candidates can enter the int8 shortlist, and the exact
  // rescore then touches full vectors only for those
  // predicate-satisfying nq·shortlistK ids on one base scan. The
  // filter can never be outrun by the funnel: shortlist ids already
  // satisfy the predicate, so the rerank tail needs no re-check — the
  // composition is the claim.
  private val q256 = Q(
    "q256_filtered_rerank_funnel",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bounds = graft.queries.SimFixtures.calBounds(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndexLabeled(s, dir)
        .select(col("vec_id"), col("cid"), col("label"))
      val codes = graft.queries.SimFixtures.calCodes(s, dir)
      graft.operators.Quantize.calibratedIvfRerank(coarse,
          assigned.filter(col("label") === 3)
            .select(col("vec_id"), col("cid")),
          codes, e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          bounds, nprobe = 3, shortlistK = 10, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 3),
      ex AS (
        SELECT vec_id, d, CAST(qvec[d] AS BIGINT) AS x
        FROM vx, UNNEST(generate_series(1, 64)) t(d)),
      st AS (SELECT d, COUNT(*) AS n FROM ex GROUP BY d),
      rk AS (
        SELECT d, x,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY x ASC) - 1 AS r
        FROM ex),
      blo AS (
        SELECT rk.d, MIN(rk.x) AS lo FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 10 // 1000 GROUP BY rk.d),
      bhi AS (
        SELECT rk.d, MIN(rk.x) AS hi FROM rk JOIN st USING (d)
        WHERE rk.r = (st.n - 1) * 990 // 1000 GROUP BY rk.d),
      dqt AS (
        SELECT e.vec_id, e.d,
               CASE WHEN c.hi > b.lo THEN
                 b.lo + ((GREATEST(LEAST(e.x, c.hi), b.lo) - b.lo) * 255
                         // (c.hi - b.lo)) * (c.hi - b.lo) // 255
               ELSE b.lo END AS dq
        FROM ex e JOIN blo b USING (d) JOIN bhi c USING (d)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p
        JOIN cellof a ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings em ON em.vec_id = a.vec_id
        WHERE em.label = 3),
      scored AS (
        SELECT c.q_id, c.n_id,
               SUM((qx.x - dd.dq) * (qx.x - dd.dq)) AS d2
        FROM cand c
        JOIN dqt dd ON dd.vec_id = c.n_id
        JOIN ex qx ON qx.vec_id = c.q_id AND qx.d = dd.d
        GROUP BY c.q_id, c.n_id),
      short AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, n_id ASC) AS rnk
          FROM scored)
        WHERE rnk <= 10),
      rr AS (
        SELECT sh.q_id, sh.n_id,
               list_dot_product(qv.qvec, qv.qvec)
               - 2.0 * list_dot_product(qv.qvec, nv.qvec)
               + list_dot_product(nv.qvec, nv.qvec) AS exact_d2
        FROM short sh
        JOIN vx qv ON qv.vec_id = sh.q_id
        JOIN vx nv ON nv.vec_id = sh.n_id)
      SELECT q_id, n_id, exact_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, exact_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY exact_d2 ASC, n_id ASC) AS rnk
        FROM rr)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q257
  // SNAPSHOT DIFF — the provenance report between two as-of reads of
  // the segmented, tombstoned index ("what changed between the index
  // my last run trained on and today's"): one corpus aggregation
  // computes BOTH elections (max segment ≤ old and ≤ new ride the
  // same groupBy), tombstone stamps join as deleted-proportional
  // broadcasts, and liveness matches the q255 serving semantic
  // exactly — so the diff IS the difference between the two
  // serveable states. Fixture: seg 0 = history build (%3 > 0), seg 1
  // = the %3 = 0 cohort APPENDS + the %7 cohort restates; deletes
  // stamp %5 at seg 0's mask and %11 at seg 1's. Every status
  // appears: added, deleted, restated, unchanged.
  private val q257 = Q(
    "q257_snapshot_diff",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val seg0 = e.filter(col("vec_id") % 3 > 0)
        .select(col("vec_id")).withColumn("seg", lit(0))
      val seg1 = e.filter(col("vec_id") % 3 === 0 ||
          col("vec_id") % 7 === 0)
        .select(col("vec_id")).withColumn("seg", lit(1))
      val tombs = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id")).withColumn("seg", lit(0))
        .unionByName(e.filter(col("vec_id") % 11 === 0)
          .select(col("vec_id")).withColumn("seg", lit(1)))
      graft.operators.Layout.snapshotDiff(seg0.unionByName(seg1),
          tombs, "vec_id", "seg", asOfOld = 0, asOfNew = 1)
        .orderBy(col("vec_id"))
    },
    Some(raw"""
      WITH ids AS (SELECT vec_id FROM embeddings),
      segs AS (
        SELECT vec_id, 0 AS seg FROM ids WHERE vec_id % 3 > 0
        UNION ALL
        SELECT vec_id, 1 AS seg FROM ids
        WHERE vec_id % 3 = 0 OR vec_id % 7 = 0),
      el AS (
        SELECT vec_id,
               MAX(CASE WHEN seg <= 0 THEN seg END) AS seg_old,
               MAX(seg) AS seg_new
        FROM segs GROUP BY vec_id),
      st AS (
        SELECT e.vec_id, e.seg_old, e.seg_new,
               (e.seg_old IS NOT NULL AND e.vec_id % 5 <> 0) AS lo,
               (e.seg_new IS NOT NULL AND e.vec_id % 5 <> 0
                AND e.vec_id % 11 <> 0) AS ln
        FROM el e)
      SELECT vec_id,
             CASE WHEN lo AND NOT ln THEN 'deleted'
                  WHEN NOT lo AND ln THEN 'added'
                  WHEN lo AND ln AND seg_new > seg_old THEN 'restated'
                  WHEN lo AND ln THEN 'unchanged' END AS status,
             CAST(CASE WHEN lo THEN seg_old END AS INTEGER) AS seg_old,
             CAST(CASE WHEN ln THEN seg_new END AS INTEGER) AS seg_new
      FROM st
      WHERE (lo OR ln)
      ORDER BY vec_id
    """))

  // --------------------------------------------------------------- q260
  // LATE-INTERACTION (MaxSim) retrieval — the multi-vector scoring
  // shape (ColBERT) a modern stack serves NEXT TO single-vector ANN:
  // a document is a BAG of vectors, score(q, d) = Σ_i max_j ⟨q_i, d_j⟩
  // — each query vector finds its best document vector and the maxima
  // add, so token-level interaction survives where one pooled vector
  // washes out. The bag fixture slices each 64-dim embedding into
  // 4 × 16-dim vectors (deterministic, engine-replayable). The
  // per-(query-vector, doc) max partial-combines map-side BEFORE its
  // exchange — the shuffle carries maxima, never the m_q·m_d dot fan;
  // the bounded query bag broadcasts (q20's class). Exact-long grid
  // dots, so scores AND ranks hash-gate.
  private val q260 = Q(
    "q260_maxsim_topk",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      graft.operators.Similarity.maxSimTopK(bag(e),
          bag(e.filter(col("vec_id") < 5)), "vec_id", "vec_idx", "vec",
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT q.vec_id AS q_id, d.vec_id AS n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM sv q JOIN sv d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < 5
        GROUP BY q.vec_id, d.vec_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q261
  // ROUTED MaxSim — q260's scale path made concrete: at corpus scale
  // the multi-vector scorer cannot touch every document bag, so each
  // doc routes by its POOLED vector (the whole embedding — exactly
  // the single vector the bag was sliced from; Ivf.assignIds, the
  // stored assignment a deployment keeps anyway), queries probe their
  // nprobe nearest cells, and ONLY probed-cell bags reach the MaxSim
  // scorer — the q185 candidate-restriction discipline on the
  // late-interaction axis. The scorer is the identical maxSimTopK
  // over the restricted table: routing trades recall for cost and
  // changes nothing else (probing all cells ≡ q260 on the shared
  // panel, by construction).
  private val q261 = Q(
    "q261_routed_maxsim",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.operators.Ivf.centroids(e, "vec_id",
        "embedding", 8, 2)
      val assigned = graft.operators.Ivf.assignIds(
          graft.operators.Ivf.quantized(e, "vec_id", "embedding"), coarse)
        .select(col("vec_id"), col("cid"))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      graft.operators.Similarity.maxSimRouted(coarse, assigned,
          bag(e), bag(e.filter(col("vec_id") < 5)),
          e.filter(col("vec_id") < 5), "vec_id", "vec_idx", "vec",
          "embedding", nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 5))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT c.q_id, c.n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM cand c
        JOIN sv q ON q.vec_id = c.q_id
        JOIN sv d ON d.vec_id = c.n_id
        GROUP BY c.q_id, c.n_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q263
  // kNN-GRAPH construction by NN-DESCENT — the distributed build
  // algorithm behind graph ANN indexes (HNSW/NSG pipelines): a cheap
  // cell-local seed (each vector's top-k within its own coarse cell —
  // cell-keyed self-join, Σ cell² pair work) refines one round by
  // neighbor-of-neighbor exploration over the UNDIRECTED edge set,
  // each vertex keeping its k best. Current edges stay candidates, so
  // per-vertex top-k distance mass is monotone non-increasing
  // (spec-pinned); everything is id-keyed — the hop fan is k-bounded,
  // never corpus-bounded, and no broadcast carries anything
  // corpus-sized. Oracle replays seed, undirected hop, and the exact
  // rescore bit-for-bit on the integral grid.
  private val q263 = Q(
    "q263_nn_descent_graph",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.knnGraph(e, "vec_id", "embedding",
          numCoarse = 8, coarseIterations = 2, k = 5, rounds = 1)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id),
      seed AS (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5),
      und AS (
        SELECT src, dst FROM seed
        UNION
        SELECT dst AS src, src AS dst FROM seed),
      hop AS (
        SELECT u1.src, u2.dst
        FROM und u1 JOIN und u2 ON u2.src = u1.dst
        WHERE u1.src <> u2.dst),
      cand AS (
        SELECT src, dst FROM seed
        UNION
        SELECT src, dst FROM hop),
      resc AS (
        SELECT c.src, c.dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cand c
        JOIN vx va ON va.vec_id = c.src
        JOIN vx vb ON vb.vec_id = c.dst)
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM resc)
      WHERE rnk <= 5
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q264
  // GRAPH-ANN SERVING — beam search over the STORED q263 graph, the
  // serve verb that makes graph indexes an index family rather than
  // an artifact: queries enter at the deterministic smallest-id
  // vertices, each hop expands the beam's out-neighbors through the
  // stored edge table and rescores exactly, keeping `beam` best
  // (monotone — previous members stay candidates). The per-query
  // state broadcasts; each hop is one map-side pass over the edge
  // scan plus one over the base scan — nothing corpus-sized shuffles.
  // Oracle replays entries, both hops, and every rescore.
  private val q264 = Q(
    "q264_graph_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // the stored flat graph (SimFixtures layer-0 slice) — the serve
      // verbs read parquet, the deployment shape; oracle = full rebuild
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
      graft.operators.Similarity.graphSearch(g, e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          entryK = 2, beam = 5, hops = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id),
      g AS (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5),
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 5),
      c0 AS (
        SELECT q.q_id, e.dst FROM qs q, ent e WHERE e.dst <> q.q_id),
      s0 AS (
        SELECT c.q_id, c.dst,
               CAST(list_dot_product(q.qvec, q.qvec)
                 - 2.0 * list_dot_product(q.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM c0 c JOIN qs q ON q.q_id = c.q_id
        JOIN vx vb ON vb.vec_id = c.dst),
      b0 AS (
        SELECT q_id, dst, d2 FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s0)
        WHERE rnk <= 5),
      e1 AS (
        SELECT b.q_id, gg.dst FROM b0 b
        JOIN g gg ON gg.src = b.dst
        WHERE gg.dst <> b.q_id),
      c1 AS (
        SELECT q_id, dst FROM b0 UNION SELECT q_id, dst FROM e1),
      s1 AS (
        SELECT c.q_id, c.dst,
               CAST(list_dot_product(q.qvec, q.qvec)
                 - 2.0 * list_dot_product(q.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM c1 c JOIN qs q ON q.q_id = c.q_id
        JOIN vx vb ON vb.vec_id = c.dst),
      b1 AS (
        SELECT q_id, dst, d2 FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s1)
        WHERE rnk <= 5),
      e2 AS (
        SELECT b.q_id, gg.dst FROM b1 b
        JOIN g gg ON gg.src = b.dst
        WHERE gg.dst <> b.q_id),
      c2 AS (
        SELECT q_id, dst FROM b1 UNION SELECT q_id, dst FROM e2),
      s2 AS (
        SELECT c.q_id, c.dst,
               CAST(list_dot_product(q.qvec, q.qvec)
                 - 2.0 * list_dot_product(q.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM c2 c JOIN qs q ON q.q_id = c.q_id
        JOIN vx vb ON vb.vec_id = c.dst),
      b2 AS (
        SELECT q_id, dst, d2 FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s2)
        WHERE rnk <= 5)
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM b2)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q265
  // O(new) kNN-GRAPH APPEND — the incremental-family gate on the
  // graph pillar: under the FIXED history-trained coarse codebook the
  // seed graph is per-cell exact top-k, which MERGES exactly (a true
  // top-k member of the grown cell is either a batch arrival — all
  // batch cell-mates are candidates — or already in the stored
  // top-k), so the day's batch absorbs without history re-scoring
  // itself: new vertices score their grown cell, old vertices in
  // touched cells re-elect from stored edges ∪ batch cell-mates, and
  // untouched cells pass through bit-identical WITH their stored
  // ranks (no re-window). Oracle = the full seed rebuild over
  // history ∪ batch.
  private val q265 = Q(
    "q265_incremental_knn_graph",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val batch = e.filter(col("vec_id") % 3 === 0)
      // stored history tables (SimFixtures) — only the batch's index
      // rows build in-plan, the O(new) shape a deployment actually runs
      val coarse = graft.queries.SimFixtures.coarseH3(s, dir)
      val storedIndex = graft.queries.SimFixtures.flatIndexH3(s, dir)
      val storedGraph = graft.queries.SimFixtures.flatGraphH3(s, dir)
      val batchIndex = graft.operators.Ivf.flatIndex(coarse, batch,
        "vec_id", "embedding", Nil)
      graft.operators.Similarity.appendKnnSeed(storedGraph,
          storedIndex, batchIndex, k = 5)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id)
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM seedsc)
      WHERE rnk <= 5
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q266
  // GRAPH-SERVING recall audit — the q239 evaluation on the graph
  // family, completing its matrix row: how much of the exact top-5
  // does the 2-hop beam walk recover, per query, with the exact side
  // served by the probing-all flat index (the operator-reuse
  // discipline — no second baseline code path). The walk's recall is
  // bounded by entry placement and hop count — exactly the knobs this
  // report exists to tune (q240's nprobe story on the graph axis) —
  // and each row carries the COST of that recall (Similarity
  // .graphProbeCost: distance evaluations across every hop, frontier
  // rows the expansions contributed), so the audit reports the
  // recall/cost pair, not half the tuning artifact; q271 sweeps it.
  private val q266 = Q(
    "q266_graph_recall_audit",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse,
        graft.queries.SimFixtures.flatIndex(s, dir),
        q, "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      // ONE walk serves the audit and its cost columns
      // (Similarity.graphRecallCost — the walk is the expensive part)
      graft.operators.Similarity.graphRecallCost(g, e, q, "vec_id",
          "embedding", exact, 5, entryK = 2, beam = 5, hops = 2,
          topK = 5)
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id),
      g AS (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5),
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
      c0 AS (
        SELECT q.q_id, e.dst FROM qs q, ent e WHERE e.dst <> q.q_id),
      s0 AS (
        SELECT c.q_id, c.dst,
               CAST(list_dot_product(q.qvec, q.qvec)
                 - 2.0 * list_dot_product(q.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM c0 c JOIN qs q ON q.q_id = c.q_id
        JOIN vx vb ON vb.vec_id = c.dst),
      b0 AS (
        SELECT q_id, dst, d2 FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s0)
        WHERE rnk <= 5),
      e1 AS (
        SELECT b.q_id, gg.dst FROM b0 b
        JOIN g gg ON gg.src = b.dst
        WHERE gg.dst <> b.q_id),
      c1 AS (
        SELECT q_id, dst FROM b0 UNION SELECT q_id, dst FROM e1),
      s1 AS (
        SELECT c.q_id, c.dst,
               CAST(list_dot_product(q.qvec, q.qvec)
                 - 2.0 * list_dot_product(q.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM c1 c JOIN qs q ON q.q_id = c.q_id
        JOIN vx vb ON vb.vec_id = c.dst),
      b1 AS (
        SELECT q_id, dst, d2 FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s1)
        WHERE rnk <= 5),
      e2 AS (
        SELECT b.q_id, gg.dst FROM b1 b
        JOIN g gg ON gg.src = b.dst
        WHERE gg.dst <> b.q_id),
      c2 AS (
        SELECT q_id, dst FROM b1 UNION SELECT q_id, dst FROM e2),
      s2 AS (
        SELECT c.q_id, c.dst,
               CAST(list_dot_product(q.qvec, q.qvec)
                 - 2.0 * list_dot_product(q.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM c2 c JOIN qs q ON q.q_id = c.q_id
        JOIN vx vb ON vb.vec_id = c.dst),
      walk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s2)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits
        FROM exact e
        LEFT JOIN walk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${walkCostSql("", 2)}
      SELECT h.q_id, CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 1000000 // 5 AS BIGINT) AS recall_micro,
             c.dist_evals, c.frontier
      FROM hits h JOIN cost c ON c.q_id = h.q_id
      ORDER BY h.q_id
    """))

  // ------------------------------------------------------- graph helpers
  /** Full-corpus kNN-graph SEED replay, k = 5 — q263's seedsc chain as
    * one definition: callers define `vx` + [[coarseCtes]] and consume
    * `g` (src, dst). The q263/q264/q265/q266 inline copies predate the
    * helper and are frozen. `liveWhere` is a full predicate over the
    * `a`/`b` endpoint aliases (the purge-rebuild oracle's surviving
    * corpus). */
  private[queries] def seedGraphCtes(liveWhere: String = "TRUE",
      cellofName: String = "cellof", vxName: String = "vx"): String = raw"""
      seedsc AS MATERIALIZED (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM $cellofName a
        JOIN $cellofName b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN $vxName va ON va.vec_id = a.vec_id
        JOIN $vxName vb ON vb.vec_id = b.vec_id
        WHERE ($liveWhere)),
      g AS MATERIALIZED (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5)"""

  /** RNG-prune replay — the q306 greedy unrolled: given a RANKED
    * graph CTE `gName` ((src, dst, d2, rnk ≤ k)), emits
    * kept1..kept$k, where keptR adds the rank-R edges no already-kept
    * closer neighbor covers (αNum·d²(w, dst) < αDen·d²(src, dst));
    * callers rank kept$k. Steps are AS MATERIALIZED: DuckDB inlines
    * CTEs, and each step references its predecessor TWICE (union +
    * NOT EXISTS), so an inlined chain re-evaluates exponentially when
    * a downstream audit references several frames (q317 read minutes;
    * materialized it reads seconds — result-identical, verified). */
  private[queries] def rngKeptCtes(k: Int, aNum: Long, aDen: Long,
      gName: String = "seedg", vxName: String = "vx",
      p: String = "kept"): String = {
    val first = raw"""
      ${p}1 AS MATERIALIZED (SELECT src, dst, d2 FROM $gName WHERE rnk = 1)"""
    val steps = (2 to k).map { r =>
      raw"""
      ${p}$r AS MATERIALIZED (
        SELECT src, dst, d2 FROM ${p}${r - 1}
        UNION ALL
        SELECT c.src, c.dst, c.d2 FROM $gName c
        WHERE c.rnk = $r AND NOT EXISTS (
          SELECT 1 FROM ${p}${r - 1} w
          JOIN $vxName vw ON vw.vec_id = w.dst
          JOIN $vxName vd ON vd.vec_id = c.dst
          WHERE w.src = c.src
            AND $aNum * CAST(list_dot_product(vw.qvec, vw.qvec)
              - 2.0 * list_dot_product(vw.qvec, vd.qvec)
              + list_dot_product(vd.qvec, vd.qvec) AS BIGINT)
              < $aDen * c.d2))"""
    }
    (first +: steps).mkString(",")
  }

  /** Ranked seed-graph CTE (src, dst, d2, rnk ≤ 5) over
    * [[seedGraphCtes]]' `seedsc` — the prune/recall oracles need the
    * ranks, not just the edge set. */
  private[queries] val seedgCte: String = raw"""
      seedg AS MATERIALIZED (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5)"""

  /** Beam-walk replay (q264's chain as one parameterized definition):
    * given a graph CTE (`gName`, (src, dst)), `ent` (dst) and `qs`
    * (q_id, qvec) CTEs, emits ${p}c0/${p}s0/${p}b0 … ${p}s$hops/
    * ${p}b$hops — candidate, scored, and beam-kept frames per hop with
    * the rnk <= `beam` cap. `init` (a (q_id, dst, d2) CTE name)
    * replaces the entry fan with a CARRIED beam — the layered-descent
    * form, where a lower layer's walk starts from the layer above's
    * final beam. The q264/q266 inline copies predate the helper and
    * are frozen. */
  private[queries] def walkCtes(p: String, hops: Int, beam: Int,
      gName: String = "g", init: Option[String] = None,
      entName: String = "ent"): String = {
    def scored(h: Int) = raw"""
      ${p}s$h AS MATERIALIZED (
        SELECT c.q_id, c.dst,
               CAST(list_dot_product(q.qvec, q.qvec)
                 - 2.0 * list_dot_product(q.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM ${p}c$h c JOIN qs q ON q.q_id = c.q_id
        JOIN vx vb ON vb.vec_id = c.dst),
      ${p}b$h AS MATERIALIZED (
        SELECT q_id, dst, d2 FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM ${p}s$h)
        WHERE rnk <= $beam)"""
    val hop0 = init match {
      case Some(carried) => raw"""
      ${p}b0 AS MATERIALIZED (SELECT q_id, dst, d2 FROM $carried)"""
      case None => raw"""
      ${p}c0 AS (
        SELECT q.q_id, e.dst FROM qs q, $entName e
        WHERE e.dst <> q.q_id),""" +
        scored(0)
    }
    val rounds = (1 to hops).map { h =>
      raw"""
      ${p}e$h AS MATERIALIZED (
        SELECT b.q_id, gg.dst FROM ${p}b${h - 1} b
        JOIN $gName gg ON gg.src = b.dst
        WHERE gg.dst <> b.q_id),
      ${p}c$h AS (
        SELECT q_id, dst FROM ${p}b${h - 1}
        UNION SELECT q_id, dst FROM ${p}e$h),""" + scored(h)
    }
    (hop0 +: rounds).mkString(",")
  }

  /** Per-layer seed replay for the LAYERED graph: ${p}sc (scored
    * in-cell pairs over the layer members) and ${p}g (src, dst,
    * rnk <= k) — [[seedGraphCtes]] with prefixed names and a member
    * predicate over the `a`/`b` endpoint aliases. */
  private def layerSeedCtes(p: String, memberWhere: String,
      cellofName: String = "cellof", vxName: String = "vx"): String = raw"""
      ${p}sc AS MATERIALIZED (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM $cellofName a
        JOIN $cellofName b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN $vxName va ON va.vec_id = a.vec_id
        JOIN $vxName vb ON vb.vec_id = b.vec_id
        WHERE ($memberWhere)),
      ${p}g AS MATERIALIZED (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM ${p}sc)
        WHERE rnk <= 5)"""

  /** TWO-ROUND NN-descent replay over a member slice — q272's oracle
    * chain as one parameterized definition: [[layerSeedCtes]]' seed
    * (${p}sc scored pairs, ${p}g rnk ≤ 5), then two rounds of
    * undirected-set (${p}u) → neighbor-of-neighbor hop (${p}h) →
    * candidate union (${p}c) → rescore (${p}r) → top-k (${p}g1);
    * callers rank ${p}r2. `memberWhere` restricts the seed's in-cell
    * pairs to the layer's members (hops never leave the member set —
    * every endpoint descends from seed edges). */
  private def descentCtes(p: String, memberWhere: String): String = raw"""
${layerSeedCtes(p, memberWhere)},
      ${p}u1 AS MATERIALIZED (
        SELECT src, dst FROM ${p}g
        UNION
        SELECT dst AS src, src AS dst FROM ${p}g),
      ${p}h1 AS MATERIALIZED (
        SELECT u1.src, u2.dst
        FROM ${p}u1 u1 JOIN ${p}u1 u2 ON u2.src = u1.dst
        WHERE u1.src <> u2.dst),
      ${p}c1 AS MATERIALIZED (
        SELECT src, dst FROM ${p}g
        UNION
        SELECT src, dst FROM ${p}h1),
      ${p}r1 AS MATERIALIZED (
        SELECT c.src, c.dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM ${p}c1 c
        JOIN vx va ON va.vec_id = c.src
        JOIN vx vb ON vb.vec_id = c.dst),
      ${p}g1 AS MATERIALIZED (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM ${p}r1)
        WHERE rnk <= 5),
      ${p}u2 AS MATERIALIZED (
        SELECT src, dst FROM ${p}g1
        UNION
        SELECT dst AS src, src AS dst FROM ${p}g1),
      ${p}h2 AS MATERIALIZED (
        SELECT u1.src, u2.dst
        FROM ${p}u2 u1 JOIN ${p}u2 u2 ON u2.src = u1.dst
        WHERE u1.src <> u2.dst),
      ${p}c2 AS MATERIALIZED (
        SELECT src, dst FROM ${p}g1
        UNION
        SELECT src, dst FROM ${p}h2),
      ${p}r2 AS MATERIALIZED (
        SELECT c.src, c.dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM ${p}c2 c
        JOIN vx va ON va.vec_id = c.src
        JOIN vx vb ON vb.vec_id = c.dst)"""

  /** Everything the walk EVALUATED: the distinct union of every hop's
    * scored frame — d2 is deterministic per (q_id, dst), so UNION
    * dedupes exactly (the seen-union the masked/filtered verbs rank). */
  private[queries] def seenSql(p: String, hops: Int): String =
    (0 to hops).map(h => s"SELECT q_id, dst, d2 FROM ${p}s$h")
      .mkString("\n        UNION\n        ")

  /** The walk's COST columns replayed from [[walkCtes]]' frames:
    * dist_evals = Σ_h |${p}s_h| per query (carried beam members
    * re-score each hop and count each hop — what the plan evaluates),
    * frontier = Σ_h (|${p}s_h| − |${p}b_(h-1)|). Query spine from qs,
    * so an all-self-entry query reports 0. */
  private def walkCostSql(p: String, hops: Int): String = {
    val sJoins = (0 to hops).map(h =>
      s"""LEFT JOIN (SELECT q_id, COUNT(*) AS n FROM ${p}s$h
          GROUP BY q_id) ${p}sn$h ON ${p}sn$h.q_id = q.q_id""")
      .mkString("\n        ")
    val bJoins = (0 until hops).map(h =>
      s"""LEFT JOIN (SELECT q_id, COUNT(*) AS n FROM ${p}b$h
          GROUP BY q_id) ${p}bn$h ON ${p}bn$h.q_id = q.q_id""")
      .mkString("\n        ")
    val evals = (0 to hops).map(h => s"COALESCE(${p}sn$h.n, 0)")
      .mkString(" + ")
    val frontier =
      if (hops == 0) "0"
      else (1 to hops).map(h =>
        s"(COALESCE(${p}sn$h.n, 0) - COALESCE(${p}bn${h - 1}.n, 0))")
        .mkString(" + ")
    raw"""
      ${p}cost AS (
        SELECT q.q_id,
               CAST($evals AS BIGINT) AS dist_evals,
               CAST($frontier AS BIGINT) AS frontier
        FROM qs q
        $sJoins
        $bJoins)"""
  }

  /** Cost columns for a LAYERED descent replayed from CHAINED
    * [[walkCtes]] frames — [[walkCostSql]]'s shape when the walk spans
    * several per-layer chains: `top` is the entry chain's prefix (owns
    * the hop-0 entry fan s0), `lower` the carried chains' prefixes in
    * descent order, every chain walking `hops` hops. dist_evals =
    * |s0| + Σ chains Σ_h |s_h|; frontier = Σ chains Σ_h
    * (|s_h| − |b_(h-1)|) — a carried chain's b0 IS the layer above's
    * final beam ([[walkCtes]]' init form), exactly the engine's
    * hop-input beam sequence. Query spine from qs. */
  private def layeredCostSql(costName: String, top: String,
      lower: Seq[String], hops: Int): String = {
    val chains = top +: lower
    val sFrames = s"${top}s0" +:
      chains.flatMap(p => (1 to hops).map(h => s"${p}s$h"))
    val pairs = chains.flatMap(p =>
      (1 to hops).map(h => (s"${p}s$h", s"${p}b${h - 1}")))
    val joins = (sFrames ++ pairs.map(_._2)).distinct.map(f =>
      s"""LEFT JOIN (SELECT q_id, COUNT(*) AS n FROM $f
          GROUP BY q_id) ${f}n ON ${f}n.q_id = q.q_id""")
      .mkString("\n        ")
    val evals = sFrames.map(f => s"COALESCE(${f}n.n, 0)")
      .mkString(" + ")
    val frontier =
      if (pairs.isEmpty) "0"
      else pairs.map { case (sf, bf) =>
        s"(COALESCE(${sf}n.n, 0) - COALESCE(${bf}n.n, 0))"
      }.mkString(" + ")
    raw"""
      $costName AS (
        SELECT q.q_id,
               CAST($evals AS BIGINT) AS dist_evals,
               CAST($frontier AS BIGINT) AS frontier
        FROM qs q
        $joins)"""
  }

  // --------------------------------------------------------------- q267
  // TOMBSTONE-MASKED graph serving — the q236 semantic on the graph
  // pillar: deletes land as a tombstone set and beam search must stop
  // returning them NOW, with zero graph maintenance. The walk runs
  // over the FULL stored graph — dead vertices still ROUTE (an edge
  // through a tombstoned vertex is often the only path across a cell
  // border; a masked traversal disconnects the graph) — and the mask
  // is ONE O(deleted) broadcast anti-join at rank time over the walk's
  // bounded evaluated-candidate union, which also back-fills k from
  // live candidates dead beam members crowded out. Oracle replays the
  // walk, unions every hop's scored frame, and masks.
  private val q267 = Q(
    "q267_masked_graph_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
      graft.operators.Similarity.graphSearchMasked(g, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          e.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
          entryK = 2, beam = 5, hops = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("", 2, 5)},
      seen AS (
        ${seenSql("", 2)}),
      live AS (
        SELECT q_id, dst, d2 FROM seen WHERE dst % 5 <> 0)
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM live)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q268
  // Graph vertex PURGE with affected-neighbor RE-ELECTION — the q227
  // bounded-min discipline on the graph pillar, the maintenance verb
  // behind q267's mask: deleted vertices drop as sources AND as edge
  // endpoints, and a survivor that LOST an edge cannot re-fill from
  // stored state (the evicted dst may head its rank list and the true
  // runner-up fell off the k cap), so affected vertices re-elect exact
  // top-k from their cell's SURVIVORS — O(deleted) anti-joins plus
  // touched-cell re-scoring, never a corpus self-join. Untouched live
  // vertices pass through bit-identical WITH their stored ranks.
  // Oracle = the full seed rebuild over the surviving corpus.
  private val q268 = Q(
    "q268_graph_purge",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val storedIndex = graft.queries.SimFixtures.flatIndex(s, dir)
      val storedGraph = graft.queries.SimFixtures.flatGraph(s, dir)
      graft.operators.Similarity.purgeKnnGraph(storedGraph, storedIndex,
          e.filter(col("vec_id") % 5 === 0).select(col("vec_id")), k = 5)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id
        WHERE a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0)
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM seedsc)
      WHERE rnk <= 5
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q269
  // Graph UPSERT — the q231 composition on the graph pillar, closing
  // CRUD for the stored kNN-graph family: each restated vector (same
  // id, new embedding — deterministically REVERSED so the oracle can
  // replay it) is a DELETE composed with an APPEND under the FIXED
  // coarse codebook — purgeKnnGraph drops the old rows and re-elects
  // the survivors they touched, appendKnnSeed absorbs the new rows
  // batch-proportionally; history never re-scores itself. Oracle = the
  // full seed rebuild over the restated corpus.
  private val q269 = Q(
    "q269_graph_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val storedIndex = graft.queries.SimFixtures.flatIndex(s, dir)
      val storedGraph = graft.queries.SimFixtures.flatGraph(s, dir)
      val batchIndex = graft.operators.Ivf.flatIndex(coarse,
        e.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", Nil)
      graft.operators.Similarity.upsertKnnSeed(storedGraph, storedIndex,
          batchIndex, k = 5)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof2 a
        JOIN cellof2 b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx2 va ON va.vec_id = a.vec_id
        JOIN vx2 vb ON vb.vec_id = b.vec_id)
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM seedsc)
      WHERE rnk <= 5
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q270
  // ATTRIBUTE-FILTERED graph serving — the q235 seam on the graph
  // pillar, completing the filter × index-family matrix (flat q235,
  // int8 q248, PQ q250, residual q251, graph here): walk UNFILTERED,
  // return FILTERED. A predicate-restricted traversal disconnects the
  // graph (non-matching vertices are the waypoints between matching
  // regions), so the predicate applies only at rank time — matching
  // ids from the base scan inner-join the walk's bounded
  // evaluated-candidate union, and the top-k fills from every matching
  // candidate the walk evaluated (q235's no-under-fill property
  // restated for walks). Oracle replays the walk, unions every hop's
  // scored frame, and filters.
  private val q270 = Q(
    "q270_filtered_graph_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
      graft.operators.Similarity.graphSearchFiltered(g, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          col("label") === 3, entryK = 2, beam = 5, hops = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("", 2, 5)},
      seen AS (
        ${seenSql("", 2)}),
      kept AS (
        SELECT sn.q_id, sn.dst, sn.d2
        FROM seen sn JOIN embeddings em ON em.vec_id = sn.dst
        WHERE em.label = 3)
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM kept)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q271
  // (beam, hops) SWEEP — q240's recall/cost tuning curve on the graph
  // axis, the artifact an operator reads to site the walk's knee: mean
  // recall@5 across the query panel at (beam, hops) ∈ {(5,1), (5,2),
  // (8,2)} WITH the cost side (distance evaluations, frontier rows —
  // Similarity.graphProbeCost summed per sweep point) against the
  // probing-all exact baseline. The graph and the exact side persist
  // ONCE under CacheScope; each sweep branch walks the SAME stored
  // graph (what a deployment tunes against).
  private val q271 = Q(
    "q271_graph_beam_sweep",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      // stored-graph read pinned: three walks re-read it per hop (a
      // pushed parquet filter, NOT a lit-union slice — the pin rule's
      // multiply-read exception applies)
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
        .transform(graft.util.CacheScope.persist)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse,
          graft.queries.SimFixtures.flatIndex(s, dir),
          q, "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
        .transform(graft.util.CacheScope.persist)
      Seq((5, 1), (5, 2), (8, 2)).map { case (beam, hops) =>
        // ONE walk per sweep point serves both the recall and the
        // cost columns (graphRecallCost)
        graft.operators.Similarity.graphRecallCost(g, e, q, "vec_id",
            "embedding", exact, 5, entryK = 2, beam = beam,
            hops = hops, topK = 5)
          .withColumn("beam", lit(beam)).withColumn("hops", lit(hops))
      }.reduce(_.unionByName(_))
        .groupBy(col("beam"), col("hops"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("hits_total"),
          sum(col("dist_evals")).as("evals_total"),
          sum(col("frontier")).as("frontier_total"))
        .withColumn("recall_micro_mean",
          expr("hits_total * 1000000 DIV (5 * n_queries)"))
        .orderBy(col("beam"), col("hops"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("wa", 1, 5)},
${walkCtes("wb", 2, 5)},
${walkCtes("wc", 2, 8)},
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      wawalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM was1)
        WHERE rnk <= 5),
      wbwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM wbs2)
        WHERE rnk <= 5),
      wcwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM wcs2)
        WHERE rnk <= 5),
      wahits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN wawalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      wbhits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN wbwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      wchits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN wcwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${walkCostSql("wa", 1)},
${walkCostSql("wb", 2)},
${walkCostSql("wc", 2)},
      rows_ AS (
        SELECT CAST(5 AS INTEGER) AS beam, CAST(1 AS INTEGER) AS hops,
               (SELECT COUNT(*) FROM wahits) AS n_queries,
               (SELECT SUM(n_hits) FROM wahits) AS hits_total,
               (SELECT SUM(dist_evals) FROM wacost) AS evals_total,
               (SELECT SUM(frontier) FROM wacost) AS frontier_total
        UNION ALL
        SELECT CAST(5 AS INTEGER), CAST(2 AS INTEGER),
               (SELECT COUNT(*) FROM wbhits),
               (SELECT SUM(n_hits) FROM wbhits),
               (SELECT SUM(dist_evals) FROM wbcost),
               (SELECT SUM(frontier) FROM wbcost)
        UNION ALL
        SELECT CAST(8 AS INTEGER), CAST(2 AS INTEGER),
               (SELECT COUNT(*) FROM wchits),
               (SELECT SUM(n_hits) FROM wchits),
               (SELECT SUM(dist_evals) FROM wccost),
               (SELECT SUM(frontier) FROM wccost))
      SELECT beam, hops,
             CAST(n_queries AS BIGINT) AS n_queries,
             CAST(hits_total AS BIGINT) AS hits_total,
             CAST(evals_total AS BIGINT) AS evals_total,
             CAST(frontier_total AS BIGINT) AS frontier_total,
             CAST(hits_total * 1000000 // (5 * n_queries) AS BIGINT)
               AS recall_micro_mean
      FROM rows_
      ORDER BY beam, hops
    """))

  // --------------------------------------------------------------- q272
  // MULTI-ROUND NN-descent — q263 gated ONE refinement round; the
  // algorithm's value is the multi-round TRAJECTORY (each round's
  // candidates derive from the previous round's data-dependent graph),
  // so this gates rounds = 2 with the oracle unrolling BOTH rounds —
  // the q137 full-trajectory discipline on the graph-build axis. Each
  // round's edge frame localCheckpoints between rounds (plan-depth
  // rotation), which is exactly what this query exercises end-to-end.
  private val q272 = Q(
    "q272_nn_descent_two_rounds",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.knnGraph(e, "vec_id", "embedding",
          numCoarse = 8, coarseIterations = 2, k = 5, rounds = 2)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      seedsc AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id),
      g0 AS (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5),
      und1 AS (
        SELECT src, dst FROM g0
        UNION
        SELECT dst AS src, src AS dst FROM g0),
      hop1 AS (
        SELECT u1.src, u2.dst
        FROM und1 u1 JOIN und1 u2 ON u2.src = u1.dst
        WHERE u1.src <> u2.dst),
      cand1 AS (
        SELECT src, dst FROM g0
        UNION
        SELECT src, dst FROM hop1),
      resc1 AS (
        SELECT c.src, c.dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cand1 c
        JOIN vx va ON va.vec_id = c.src
        JOIN vx vb ON vb.vec_id = c.dst),
      g1 AS (
        SELECT src, dst FROM (
          SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM resc1)
        WHERE rnk <= 5),
      und2 AS (
        SELECT src, dst FROM g1
        UNION
        SELECT dst AS src, src AS dst FROM g1),
      hop2 AS (
        SELECT u1.src, u2.dst
        FROM und2 u1 JOIN und2 u2 ON u2.src = u1.dst
        WHERE u1.src <> u2.dst),
      cand2 AS (
        SELECT src, dst FROM g1
        UNION
        SELECT src, dst FROM hop2),
      resc2 AS (
        SELECT c.src, c.dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cand2 c
        JOIN vx va ON va.vec_id = c.src
        JOIN vx vb ON vb.vec_id = c.dst)
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM resc2)
      WHERE rnk <= 5
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q273
  // STORED / O(new) MaxSim — the q194 no-retrain contract on the
  // late-interaction pillar: the day's batch of document BAGS absorbs
  // into the stored multi-vector index without history re-encoding —
  // the batch's pooled vectors assign under the FIXED history-trained
  // coarse codebook in ONE broadcast pass (batch-proportional), the
  // token-vector rows append as plain rows (the multi-row storage
  // shape q260 documents), and maxSimRouted serves the merged tables
  // unchanged. Oracle = the full routed recompute over history ∪
  // batch under the history-trained codebook.
  private val q273 = Q(
    "q273_incremental_maxsim",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val history = e.filter(col("vec_id") % 3 > 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val coarse = graft.operators.Ivf.centroids(history, "vec_id",
        "embedding", 8, 2)
      val storedAssigned = graft.operators.Ivf.assignIds(
          graft.operators.Ivf.quantized(history, "vec_id", "embedding"),
          coarse)
        .select(col("vec_id"), col("cid"))
      // the O(new) append: one broadcast assign of the batch's pooled
      // vectors under the fixed codebook, unioned onto the stored
      // assignment — history rows never rescore
      val appended = storedAssigned.unionByName(
        graft.operators.Ivf.assignIds(
            graft.operators.Ivf.quantized(batch, "vec_id", "embedding"),
            coarse)
          .select(col("vec_id"), col("cid")))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val docVecs = bag(history).unionByName(bag(batch))
      val q = e.filter(col("vec_id") < 5)
      graft.operators.Similarity.maxSimRouted(coarse, appended,
          docVecs, bag(q), q, "vec_id", "vec_idx", "vec", "embedding",
          nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 5))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT c.q_id, c.n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM cand c
        JOIN sv q ON q.vec_id = c.q_id
        JOIN sv d ON d.vec_id = c.n_id
        GROUP BY c.q_id, c.n_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q274
  // ATTRIBUTE-FILTERED MaxSim — the q235 seam on the late-interaction
  // pillar, extending the filter × index-family matrix to its newest
  // row (flat q235, int8 q248, PQ q250, residual q251, graph q270,
  // multi-vector here): the filterable attribute rides the stored
  // assignment row (Ivf.flatIndex — built WITH the attribute, q235's
  // at-source discipline), the predicate is a plain column filter on
  // that scan BEFORE the probe join — candidates shrink at the source
  // and k fills from matching bags, never a post-filtered under-fill —
  // and maxSimRouted composes unchanged over the restricted
  // assignment (the q236 composition shape).
  private val q274 = Q(
    "q274_filtered_maxsim",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val live = graft.queries.SimFixtures.flatIndexLabeled(s, dir)
        .filter(col("label") === 3)
        .select(col("vec_id"), col("cid"))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val q = e.filter(col("vec_id") < 5)
      graft.operators.Similarity.maxSimRouted(coarse, live, bag(e),
          bag(q), q, "vec_id", "vec_idx", "vec", "embedding",
          nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 5))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id
        JOIN embeddings em ON em.vec_id = a.vec_id
        WHERE em.label = 3),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT c.q_id, c.n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM cand c
        JOIN sv q ON q.vec_id = c.q_id
        JOIN sv d ON d.vec_id = c.n_id
        GROUP BY c.q_id, c.n_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q275
  // Graph SEGMENT lifecycle — the q237/q253 restatement machinery on
  // the graph pillar: the stored kNN graph is a multi-row-per-source
  // table, so a maintenance day that rewrites some sources' bags (here
  // the %3 == 0 sources, re-derived from the %7-restated corpus) lands
  // as a new SEGMENT, and the GROUP election (Layout
  // .compactLatestMulti — latest segment per source wins with its
  // WHOLE bag, sources absent from the new segment keep their old
  // bag) composes the serveable graph — one id-keyed window, one
  // clustering exchange, history bags never rewritten. Oracle replays
  // both seeds and the election.
  private val q275 = Q(
    "q275_graph_segments",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val g0 = graft.queries.SimFixtures.flatGraph(s, dir)
        .withColumn("seg", lit(0))
      // the restated segment derives through the GATED upsert
      // (≡ full rebuild over the restated corpus, q269) — O(changed),
      // the maintenance output a deployment actually lands as seg 1
      val batchIndex = graft.operators.Ivf.flatIndex(coarse,
        e.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", Nil)
      val g1 = graft.operators.Similarity.upsertKnnSeed(
          graft.queries.SimFixtures.flatGraph(s, dir),
          graft.queries.SimFixtures.flatIndex(s, dir), batchIndex, k = 5)
        .filter(col("src") % 3 === 0)
        .withColumn("seg", lit(1))
      graft.operators.Layout.compactLatestMulti(g0.unionByName(g1),
          "src", "seg", "src", 8)
        .select(col("src"), col("dst"), col("d2"), col("rnk"))
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
      s0 AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vb ON vb.vec_id = b.vec_id),
      g0r AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s0)
        WHERE rnk <= 5),
      s1 AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof2 a
        JOIN cellof2 b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx2 va ON va.vec_id = a.vec_id
        JOIN vx2 vb ON vb.vec_id = b.vec_id),
      g1r AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM s1)
        WHERE rnk <= 5)
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        -- the election keeps the OLD bag for a src ABSENT from segment
        -- 1 (compactLatestMulti: latest segment per src wins only when
        -- it has rows — e.g. a restated src whose cell is a singleton
        -- yields no g1 rows), so the g0 branch backs up every src the
        -- restated segment did not produce
        SELECT src, dst, d2, rnk FROM g0r
        WHERE src % 3 <> 0
           OR src NOT IN (SELECT src FROM g1r)
        UNION ALL
        SELECT src, dst, d2, rnk FROM g1r WHERE src % 3 = 0)
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q276
  // Graph INDEX HEALTH — the q198/q202 occupancy discipline on the
  // graph pillar, the watch surface the Σ cell² seed cost is monitored
  // by (knnGraphSeed's balance note): per coarse cell, the vertex
  // count (the balance term whose square is the seed's pair work),
  // the stored edge count, the RECIPROCAL edge count (both directions
  // stored — NN-descent's convergence signal: reciprocity rises as the
  // graph approaches the exact kNN graph), and the exact integral d2
  // mass. One id-keyed join to attach cells, one self-semi-join for
  // reciprocity (cell-local by construction — the seed never crosses
  // cells), pure integer logic, q257's cheap-gate class.
  private val q276 = Q(
    "q276_graph_health",
    (s, dir) => {
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
        .transform(graft.util.CacheScope.persist)
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
        .transform(graft.util.CacheScope.persist)
      val srcCell = assigned.select(col("vec_id").as("src"), col("cid"))
      val edgeStats = g.join(srcCell, Seq("src"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_edges"), sum(col("d2")).as("sum_d2"))
      val reciprocal = g.select(col("src"), col("dst"))
        .join(g.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        .join(srcCell, Seq("src"))
        .groupBy(col("cid")).agg(count(lit(1)).as("n_reciprocal"))
      assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vectors"))
        .join(edgeStats, Seq("cid"), "left")
        .join(reciprocal, Seq("cid"), "left")
        .select(col("cid"),
          col("n_vectors"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"),
          coalesce(col("sum_d2"), lit(0L)).as("sum_d2"))
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
      gr AS (
        SELECT src, dst, d2 FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc)
        WHERE rnk <= 5),
      occ AS (SELECT cid, COUNT(*) AS n_vectors FROM cellof GROUP BY cid),
      es AS (
        SELECT c.cid, COUNT(*) AS n_edges, SUM(g1.d2) AS sum_d2
        FROM gr g1 JOIN cellof c ON c.vec_id = g1.src
        GROUP BY c.cid),
      rc AS (
        SELECT c.cid, COUNT(*) AS n_reciprocal
        FROM gr g1
        JOIN cellof c ON c.vec_id = g1.src
        WHERE EXISTS (SELECT 1 FROM gr g2
                      WHERE g2.src = g1.dst AND g2.dst = g1.src)
        GROUP BY c.cid)
      SELECT o.cid, CAST(o.n_vectors AS BIGINT) AS n_vectors,
             CAST(COALESCE(es.n_edges, 0) AS BIGINT) AS n_edges,
             CAST(COALESCE(rc.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
             CAST(COALESCE(es.sum_d2, 0) AS BIGINT) AS sum_d2
      FROM occ o
      LEFT JOIN es ON es.cid = o.cid
      LEFT JOIN rc ON rc.cid = o.cid
      ORDER BY o.cid
    """))

  // --------------------------------------------------------------- q277
  // LAYERED kNN-graph BUILD — the HNSW shape on the stored-table
  // substrate: layer ℓ holds the vectors with id ≡ 0 (mod 2^ℓ), the
  // DETERMINISTIC promotion rule (geometric layer sizes like HNSW's
  // random level draw, but engine-replayable and append-stable), each
  // layer its own cell-local exact top-k graph over its members under
  // the ONE shared coarse codebook. Layers nest, so a descending
  // search's beam always has out-edges one layer down; build work is
  // a geometric series ≈ 2× the base seed. Oracle replays every
  // layer's member slice through the shared seed chain.
  private val q277 = Q(
    "q277_layered_graph_build",
    (s, dir) => {
      // the STORED-fixture lane (SimFixtures): the first family member
      // to run builds the layered table with the real operator and
      // writes it once per gate run; the gate reads the parquet — the
      // deployment shape — while the oracle stays the full rebuild
      graft.queries.SimFixtures.layeredSeed(s, dir)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      ranked AS (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l0sc
        UNION ALL
        SELECT 1 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l1sc
        UNION ALL
        SELECT 2 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l2sc)
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM ranked
      WHERE rnk <= 5
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q278
  // LAYERED (descending) graph search — the HNSW serve verb: queries
  // enter at the top layer's smallest-id members, walk hopsPerLayer
  // hops on each layer's edges top-down, and the BEAM CARRIES ACROSS
  // layers (nesting guarantees out-edges below) — upper layers make
  // coarse long-range moves over few vertices, the base layer refines
  // locally, fixing the flat walk's entry-placement recall bound
  // (q266's tuning note) at O(maxLayer · hopsPerLayer) hops. Per-hop
  // state and exchanges are exactly q264's. Oracle chains one walk
  // replay per layer, each seeded by the layer above's final beam.
  private val q278 = Q(
    "q278_layered_graph_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      graft.operators.Similarity.layeredGraphSearch(lg, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          maxLayer = 2, entryK = 2, beam = 5, hopsPerLayer = 1,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2g")},
${walkCtes("m", 1, 5, gName = "l1g", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0g", init = Some("mb1"))}
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM wb1)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q279
  // O(new) LAYERED graph append — q265's incremental contract on the
  // layered index: the promotion rule (id ≡ 0 mod 2^ℓ) is
  // APPEND-STABLE (an arriving id's layers are a pure function of the
  // id — no stored vertex ever changes layer, the property HNSW's
  // random level draw also has, here replayable), so layer ℓ absorbs
  // exactly the batch rows divisible by 2^ℓ through the gated
  // appendKnnSeed merge — new vertices score their grown cell,
  // touched-cell members re-elect, untouched bags pass through with
  // stored ranks, and a layer the batch misses passes through whole.
  // Oracle = the full layered rebuild over history ∪ batch under the
  // history-trained codebook.
  private val q279 = Q(
    "q279_layered_graph_append",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val batch = e.filter(col("vec_id") % 3 === 0)
      // stored history tables (SimFixtures) — only the batch's index
      // rows build in-plan, the O(new) shape a deployment actually runs
      val coarse = graft.queries.SimFixtures.coarseH3(s, dir)
      val storedLayered = graft.queries.SimFixtures.layeredSeedH3(s, dir)
      val storedIndex = graft.queries.SimFixtures.flatIndexH3(s, dir)
      val batchIndex = graft.operators.Ivf.flatIndex(coarse, batch,
        "vec_id", "embedding", Nil)
      graft.operators.Similarity.appendLayeredKnnSeed(storedLayered,
          storedIndex, batchIndex, k = 5, maxLayer = 2)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      ranked AS (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l0sc
        UNION ALL
        SELECT 1 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l1sc
        UNION ALL
        SELECT 2 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l2sc)
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM ranked
      WHERE rnk <= 5
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q280
  // LAYERED graph purge — q268's re-election contract per layer: a
  // tombstoned id leaves EVERY layer it was promoted to, each layer
  // re-electing only its own affected survivors from that layer's
  // cell members (upper layers are sparser — their re-elections touch
  // geometrically fewer vertices); untouched bags pass through with
  // stored ranks. Oracle = the full layered rebuild over the
  // survivors.
  private val q280 = Q(
    "q280_layered_graph_purge",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val storedLayered = graft.queries.SimFixtures.layeredSeed(s, dir)
      val storedIndex = graft.queries.SimFixtures.flatIndex(s, dir)
      graft.operators.Similarity.purgeLayeredKnnGraph(storedLayered,
          storedIndex,
          e.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
          k = 5, maxLayer = 2)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0")},
${layerSeedCtes("l1",
      "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0 AND a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0")},
${layerSeedCtes("l2",
      "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0 AND a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0")},
      ranked AS (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l0sc
        UNION ALL
        SELECT 1 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l1sc
        UNION ALL
        SELECT 2 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l2sc)
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM ranked
      WHERE rnk <= 5
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q281
  // TOMBSTONE-MASKED layered descent — q267's serving semantic on the
  // layered index: the walk routes through dead vertices on EVERY
  // layer (upper layers are sparsest, so masking traversal
  // disconnects them first), and one O(deleted) anti-join masks the
  // descent's evaluated-candidate union at rank time, back-filling k
  // from live candidates. Oracle = the q278 chains + the seen union +
  // the mask.
  private val q281 = Q(
    "q281_masked_layered_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      graft.operators.Similarity.layeredGraphSearchMasked(lg, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          e.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
          maxLayer = 2, entryK = 2, beam = 5, hopsPerLayer = 1,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2g")},
${walkCtes("m", 1, 5, gName = "l1g", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0g", init = Some("mb1"))},
      seen AS (
        SELECT q_id, dst, d2 FROM ts0
        UNION SELECT q_id, dst, d2 FROM ts1
        UNION SELECT q_id, dst, d2 FROM ms1
        UNION SELECT q_id, dst, d2 FROM ws1),
      live AS (
        SELECT q_id, dst, d2 FROM seen WHERE dst % 5 <> 0)
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM live)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q282
  // ATTRIBUTE-FILTERED layered descent — q270's contract on the
  // layered index: every layer walks unfiltered (non-matching
  // vertices are the long-range waypoints), the predicate applies at
  // rank time over the descent's evaluated-candidate union, and k
  // fills from every matching candidate evaluated.
  private val q282 = Q(
    "q282_filtered_layered_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      graft.operators.Similarity.layeredGraphSearchFiltered(lg, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          col("label") === 3, maxLayer = 2, entryK = 2, beam = 5,
          hopsPerLayer = 1, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2g")},
${walkCtes("m", 1, 5, gName = "l1g", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0g", init = Some("mb1"))},
      seen AS (
        SELECT q_id, dst, d2 FROM ts0
        UNION SELECT q_id, dst, d2 FROM ts1
        UNION SELECT q_id, dst, d2 FROM ms1
        UNION SELECT q_id, dst, d2 FROM ws1),
      kept AS (
        SELECT sn.q_id, sn.dst, sn.d2
        FROM seen sn JOIN embeddings em ON em.vec_id = sn.dst
        WHERE em.label = 3)
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM kept)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q283
  // LAYERED upsert — q269's delete ∘ append composition per layer:
  // restated ids (deterministically reversed embeddings) purge from
  // and re-append to exactly the layers the promotion rule puts them
  // in (append-stable — the layer sets never change), each layer
  // running the gated purge/append contracts. Runs on the
  // FINE-geometry (64-cell) fixture family with the sparse %307 batch
  // — the q309/q311 gate-hygiene rationale applied to the SEED
  // upsert: at 8 cells a %7 batch touched every cell, so the
  // per-layer re-election degenerated to a full rebuild and the gate
  // paid O(corpus) for an O(changed) claim (the full-superset shape
  // stays spec-pinned). Oracle = the full layered rebuild over the
  // restated corpus under the 64-cell codebook.
  private val q283 = Q(
    "q283_layered_graph_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarseF(s, dir)
      val storedLayered = graft.queries.SimFixtures.layeredSeedF(s, dir)
      val storedIndex = graft.queries.SimFixtures.flatIndexF(s, dir)
      // pinned: the per-layer purge/append machinery re-reads the
      // batch index several times per layer (the q309 pin rationale)
      val batchIndex = graft.util.CacheScope.persist(
        graft.operators.Ivf.flatIndex(coarse,
          e.filter(col("vec_id") % 307 === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", Nil))
      graft.operators.Similarity.upsertLayeredKnnSeed(storedLayered,
          storedIndex, batchIndex, k = 5, maxLayer = 2)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes(cells = 64)},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 307 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
${layerSeedCtes("l0", "TRUE", cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0",
      cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0",
      cellofName = "cellof2", vxName = "vx2")},
      ranked AS (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l0sc
        UNION ALL
        SELECT 1 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l1sc
        UNION ALL
        SELECT 2 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l2sc)
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM ranked
      WHERE rnk <= 5
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q284
  // LAYERED graph health — q276's report per (layer, cell): member
  // occupancy (whose square is layer ℓ's seed cost — the geometric-
  // series budget the layered build claims), stored edge count,
  // reciprocity, and exact d2 mass. The report is what an operator
  // reads to verify the promotion rule actually produced geometric
  // layers and that no layer's cells went hot. Pure integer logic over
  // the stored tables — the q257 near-free gate class.
  private val q284 = Q(
    "q284_layered_graph_health",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // stored tables (SimFixtures) — the assignment is the flat
      // index's 2-column projection, the graph reads from parquet;
      // pins stay (each slice feeds edge stats + both reciprocity
      // sides — the adjudicated multiply-read exception to the
      // never-pin-lit-union rule)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
        .transform(graft.util.CacheScope.persist)
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
        .transform(graft.util.CacheScope.persist)
      (0 to 2).map { l =>
        val members = assigned
          .filter(col("vec_id") % lit(1L << l) === 0)
        val g = lg.filter(col("layer") === l)
        val srcCell = members.select(col("vec_id").as("src"), col("cid"))
        val edgeStats = g.join(srcCell, Seq("src"))
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_edges"), sum(col("d2")).as("sum_d2"))
        val reciprocal = g.select(col("src"), col("dst"))
          .join(g.select(col("dst").as("src"), col("src").as("dst")),
            Seq("src", "dst"), "left_semi")
          .join(srcCell, Seq("src"))
          .groupBy(col("cid")).agg(count(lit(1)).as("n_reciprocal"))
        members.groupBy(col("cid"))
          .agg(count(lit(1)).as("n_vectors"))
          .join(edgeStats, Seq("cid"), "left")
          .join(reciprocal, Seq("cid"), "left")
          .select(lit(l).as("layer"), col("cid"),
            col("n_vectors"),
            coalesce(col("n_edges"), lit(0L)).as("n_edges"),
            coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"),
            coalesce(col("sum_d2"), lit(0L)).as("sum_d2"))
      }.reduce(_.unionByName(_))
        .orderBy(col("layer"), col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      g0r AS (SELECT src, dst, d2 FROM (
          SELECT src, dst, d2, ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY d2 ASC, dst ASC) AS rnk FROM l0sc) WHERE rnk <= 5),
      g1r AS (SELECT src, dst, d2 FROM (
          SELECT src, dst, d2, ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY d2 ASC, dst ASC) AS rnk FROM l1sc) WHERE rnk <= 5),
      g2r AS (SELECT src, dst, d2 FROM (
          SELECT src, dst, d2, ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY d2 ASC, dst ASC) AS rnk FROM l2sc) WHERE rnk <= 5),
      occ AS (
        SELECT 0 AS layer, cid, COUNT(*) AS n_vectors FROM cellof
        GROUP BY cid
        UNION ALL
        SELECT 1 AS layer, cid, COUNT(*) FROM cellof
        WHERE vec_id % 2 = 0 GROUP BY cid
        UNION ALL
        SELECT 2 AS layer, cid, COUNT(*) FROM cellof
        WHERE vec_id % 4 = 0 GROUP BY cid),
      es AS (
        SELECT 0 AS layer, c.cid, COUNT(*) AS n_edges,
               SUM(g.d2) AS sum_d2
        FROM g0r g JOIN cellof c ON c.vec_id = g.src GROUP BY c.cid
        UNION ALL
        SELECT 1 AS layer, c.cid, COUNT(*), SUM(g.d2)
        FROM g1r g JOIN cellof c ON c.vec_id = g.src GROUP BY c.cid
        UNION ALL
        SELECT 2 AS layer, c.cid, COUNT(*), SUM(g.d2)
        FROM g2r g JOIN cellof c ON c.vec_id = g.src GROUP BY c.cid),
      rc AS (
        SELECT 0 AS layer, c.cid, COUNT(*) AS n_reciprocal
        FROM g0r g JOIN cellof c ON c.vec_id = g.src
        WHERE EXISTS (SELECT 1 FROM g0r h
                      WHERE h.src = g.dst AND h.dst = g.src)
        GROUP BY c.cid
        UNION ALL
        SELECT 1 AS layer, c.cid, COUNT(*)
        FROM g1r g JOIN cellof c ON c.vec_id = g.src
        WHERE EXISTS (SELECT 1 FROM g1r h
                      WHERE h.src = g.dst AND h.dst = g.src)
        GROUP BY c.cid
        UNION ALL
        SELECT 2 AS layer, c.cid, COUNT(*)
        FROM g2r g JOIN cellof c ON c.vec_id = g.src
        WHERE EXISTS (SELECT 1 FROM g2r h
                      WHERE h.src = g.dst AND h.dst = g.src)
        GROUP BY c.cid)
      SELECT CAST(o.layer AS INTEGER) AS layer, o.cid,
             CAST(o.n_vectors AS BIGINT) AS n_vectors,
             CAST(COALESCE(es.n_edges, 0) AS BIGINT) AS n_edges,
             CAST(COALESCE(rc.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
             CAST(COALESCE(es.sum_d2, 0) AS BIGINT) AS sum_d2
      FROM occ o
      LEFT JOIN es ON es.layer = o.layer AND es.cid = o.cid
      LEFT JOIN rc ON rc.layer = o.layer AND rc.cid = o.cid
      ORDER BY o.layer, o.cid
    """))

  // --------------------------------------------------------------- q285
  // LAYERED recall/cost audit — the layered family's VALUE claim,
  // gated: q266's one-walk treatment (recall@k + exact dist-eval /
  // frontier counts replayed from the SAME hop frames the serve ranks)
  // applied to the descending beam search. This is what an operator
  // tuning (beam, hopsPerLayer, maxLayer) reads — previously the claim
  // was pinned only on a 1-D line spec lane. Oracle chains one walk
  // replay per layer (each seeded by the layer above's final beam) and
  // counts every chained frame.
  private val q285 = Q(
    "q285_layered_recall_cost",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val q = e.filter(col("vec_id") < 10)
      // exact baseline: probing ALL cells ≡ brute force (q266's form)
      val exact = graft.operators.Ivf.filteredSearch(coarse, idx, q,
        "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      graft.operators.Similarity.layeredRecallCost(lg, e, q, "vec_id",
          "embedding", exact, 5, maxLayer = 2, entryK = 2, beam = 5,
          hopsPerLayer = 1, topK = 5)
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2g")},
${walkCtes("m", 1, 5, gName = "l1g", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0g", init = Some("mb1"))},
      walk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM wb1)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits
        FROM exact e
        LEFT JOIN walk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${layeredCostSql("cost", "t", Seq("m", "w"), 1)}
      SELECT h.q_id, CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 1000000 // 5 AS BIGINT) AS recall_micro,
             c.dist_evals, c.frontier
      FROM hits h JOIN cost c ON c.q_id = h.q_id
      ORDER BY h.q_id
    """))

  // --------------------------------------------------------------- q286
  // (beam, hopsPerLayer, maxLayer) SWEEP — q271's tuning curve on the
  // layered axis, on the SAME stored graph, with a maxLayer = 0 point
  // at EQUAL HOP BUDGET (5, 3 hops, flat) sitting next to the layered
  // (5, 1×3 layers) point: the recall/cost frontier that justifies (or
  // refutes) the upper layers is read directly off the gate output.
  // One walk per sweep point serves both columns (layeredRecallCost).
  // MEASURED READING on this corpus (adjudicated, round 15): the flat
  // equal-budget point WINS (recall 0.06 vs 0.02 at ~570 evals) — the
  // testdata embeddings are near-random, graph-ANN's adversarial case,
  // where upper-layer strides buy nothing because there is no cluster
  // structure to stride across; the 1-D line spec lane (PqSpec) pins
  // the mechanism where structure exists (3 layered hops arrive where
  // flat needs 8). That is exactly what this audit is FOR: an operator
  // reads this table and turns the layers OFF for a corpus like this.
  private val q286 = Q(
    "q286_layered_beam_sweep",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // unpinned: the scheduled walk persists its own fanned edge
      // frame, so the stored table is scanned once
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse, idx, q,
          "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
        .transform(graft.util.CacheScope.persist)
      // the whole equal-budget frontier from ONE scheduled descent
      // (round 17): entry set, per-hop layer schedule, and beam cap
      // all key by sweep point — was one full walk chain per point
      graft.operators.Similarity.layeredBeamSweepRecallCost(lg, e, q,
          "vec_id", "embedding", exact, 5,
          points = Seq((5, 1, 2), (5, 3, 0), (8, 1, 2)), entryK = 2,
          topK = 5)
        .orderBy(col("beam"), col("hops_per_layer"), col("max_layer"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      ent4 AS (SELECT vec_id AS dst FROM embeddings
               WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      ent1 AS (SELECT vec_id AS dst FROM embeddings
               ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("at", 1, 5, gName = "l2g", entName = "ent4")},
${walkCtes("am", 1, 5, gName = "l1g", init = Some("atb1"))},
${walkCtes("aw", 1, 5, gName = "l0g", init = Some("amb1"))},
${walkCtes("f", 3, 5, gName = "l0g", entName = "ent1")},
${walkCtes("xt", 1, 8, gName = "l2g", entName = "ent4")},
${walkCtes("xm", 1, 8, gName = "l1g", init = Some("xtb1"))},
${walkCtes("xw", 1, 8, gName = "l0g", init = Some("xmb1"))},
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      awalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM awb1)
        WHERE rnk <= 5),
      fwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM fb3)
        WHERE rnk <= 5),
      xwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM xwb1)
        WHERE rnk <= 5),
      ahits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN awalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      fhits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN fwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      xhits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN xwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${layeredCostSql("acost", "at", Seq("am", "aw"), 1)},
${walkCostSql("f", 3)},
${layeredCostSql("xcost", "xt", Seq("xm", "xw"), 1)},
      rows_ AS (
        SELECT CAST(5 AS INTEGER) AS beam,
               CAST(1 AS INTEGER) AS hops_per_layer,
               CAST(2 AS INTEGER) AS max_layer,
               (SELECT COUNT(*) FROM ahits) AS n_queries,
               (SELECT SUM(n_hits) FROM ahits) AS hits_total,
               (SELECT SUM(dist_evals) FROM acost) AS evals_total,
               (SELECT SUM(frontier) FROM acost) AS frontier_total
        UNION ALL
        SELECT CAST(5 AS INTEGER), CAST(3 AS INTEGER),
               CAST(0 AS INTEGER),
               (SELECT COUNT(*) FROM fhits),
               (SELECT SUM(n_hits) FROM fhits),
               (SELECT SUM(dist_evals) FROM fcost),
               (SELECT SUM(frontier) FROM fcost)
        UNION ALL
        SELECT CAST(8 AS INTEGER), CAST(1 AS INTEGER),
               CAST(2 AS INTEGER),
               (SELECT COUNT(*) FROM xhits),
               (SELECT SUM(n_hits) FROM xhits),
               (SELECT SUM(dist_evals) FROM xcost),
               (SELECT SUM(frontier) FROM xcost))
      SELECT beam, hops_per_layer, max_layer,
             CAST(n_queries AS BIGINT) AS n_queries,
             CAST(hits_total AS BIGINT) AS hits_total,
             CAST(evals_total AS BIGINT) AS evals_total,
             CAST(frontier_total AS BIGINT) AS frontier_total,
             CAST(hits_total * 1000000 // (5 * n_queries) AS BIGINT)
               AS recall_micro_mean
      FROM rows_
      ORDER BY beam, hops_per_layer, max_layer
    """))

  // --------------------------------------------------------------- q287
  // MaxSim bag PURGE + serve — the q227 delete discipline on the
  // late-interaction pillar, gated (previously a spec lane): the
  // stored MaxSim index is two plain-row tables (the 2-column
  // assignment and the multi-row bag table), and NO stored state
  // derives from other rows — unlike the graph's rank lists — so the
  // purge is ONE O(deleted) broadcast anti-join per table, no
  // re-election. The gate serves the purged tables through
  // maxSimRouted; oracle = the full routed recompute over the
  // survivors.
  private val q287 = Q(
    "q287_maxsim_purge",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val storedAssigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val tombs = e.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
      val liveAssigned = graft.operators.Similarity.purgeMaxSimRows(
        storedAssigned, tombs)
      val liveBags = graft.operators.Similarity.purgeMaxSimRows(
        bag(e), tombs)
      val q = e.filter(col("vec_id") < 5)
      graft.operators.Similarity.maxSimRouted(coarse, liveAssigned,
          liveBags, bag(q), q, "vec_id", "vec_idx", "vec", "embedding",
          nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 5))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id
        WHERE a.vec_id % 5 <> 0),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT c.q_id, c.n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM cand c
        JOIN sv q ON q.vec_id = c.q_id
        JOIN sv d ON d.vec_id = c.n_id
        GROUP BY c.q_id, c.n_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q288
  // MaxSim UPSERT + serve — q231's delete ∘ append composition on the
  // late-interaction pillar, gated: restated document bags (same id,
  // new vectors — deterministically reversed embeddings) purge their
  // old rows from both stored tables (q287's anti-joins) and the new
  // rows absorb through q273's O(new) append — pooled assign under
  // the FIXED coarse codebook, bag rows as plain appends. History
  // never re-encodes. Oracle = the full routed recompute over the
  // restated corpus (query panel keeps its ORIGINAL vectors — queries
  // come from outside the index).
  private val q288 = Q(
    "q288_maxsim_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val storedAssigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val restated = e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val ids = restated.select(col("vec_id"))
      val upAssigned = graft.operators.Similarity.purgeMaxSimRows(
          storedAssigned, ids)
        .unionByName(graft.operators.Ivf.assignIds(
            graft.operators.Ivf.quantized(restated, "vec_id",
              "embedding"), coarse)
          .select(col("vec_id"), col("cid")))
      val upBags = graft.operators.Similarity.purgeMaxSimRows(bag(e), ids)
        .unionByName(bag(restated))
      val q = e.filter(col("vec_id") < 5)
      graft.operators.Similarity.maxSimRouted(coarse, upAssigned,
          upBags, bag(q), q, "vec_id", "vec_idx", "vec", "embedding",
          nprobe = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 5))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof2 a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      svq AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      svd AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx2, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT c.q_id, c.n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM cand c
        JOIN svq q ON q.vec_id = c.q_id
        JOIN svd d ON d.vec_id = c.n_id
        GROUP BY c.q_id, c.n_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q289
  // TOMBSTONE-MASKED MaxSim serving — the q236 semantic on the
  // late-interaction pillar, gated (previously a spec lane): deleted
  // bags stop appearing NOW with the stored tables untouched. Routing
  // probes cells by centroid distance — excluding a dead candidate
  // cannot disconnect anything (unlike the graph walk, where dead
  // vertices must still route) — so the mask is one O(deleted)
  // anti-join on the 2-column assignment scan BEFORE the probe join,
  // and no dead bag's vectors ever reach the scorer. Oracle = the
  // routed recompute over the live corpus.
  private val q289 = Q(
    "q289_masked_maxsim",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val storedAssigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val q = e.filter(col("vec_id") < 5)
      graft.operators.Similarity.maxSimRoutedMasked(coarse,
          storedAssigned, bag(e), bag(q), q, "vec_id", "vec_idx",
          "vec", "embedding",
          e.filter(col("vec_id") % 4 === 0).select(col("vec_id")),
          nprobe = 3, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 5))
        WHERE rn <= 3),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id
        WHERE a.vec_id % 4 <> 0),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT c.q_id, c.n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM cand c
        JOIN sv q ON q.vec_id = c.q_id
        JOIN sv d ON d.vec_id = c.n_id
        GROUP BY c.q_id, c.n_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q290
  // LAYERED graph SEGMENT lifecycle — q275's restatement machinery on
  // the layered table, with the COMPOSITE (layer, src) election key: a
  // maintenance day restates some sources' bags PER LAYER (here the
  // %3 == 0 sources, re-derived from the %7-restated corpus through
  // the gated upsert — O(changed), never a rebuild), lands them as a
  // new segment, and compactLatestMulti elects latest-per-(layer, src)
  // — the same src may carry different bags on different layers, which
  // a src-only key would cross-wire. Sources absent from the new
  // segment keep their old bag (the q275 corner, mirrored in the
  // oracle). Oracle replays both corpora per layer and the election.
  private val q290 = Q(
    "q290_layered_graph_segments",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // FINE-geometry fixtures + sparse batch (the q283 rationale:
      // the restatement segment derives through the gated upsert, so
      // the same O(changed)-must-show argument applies here)
      val coarse = graft.queries.SimFixtures.coarseF(s, dir)
      val lg0 = graft.queries.SimFixtures.layeredSeedF(s, dir)
      val idx = graft.queries.SimFixtures.flatIndexF(s, dir)
      val batchIndex = graft.util.CacheScope.persist(
        graft.operators.Ivf.flatIndex(coarse,
          e.filter(col("vec_id") % 307 === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", Nil))
      // the maintenance output (gated ≡ restated rebuild by q283),
      // restricted to the day's restated sources
      val g1 = graft.operators.Similarity.upsertLayeredKnnSeed(lg0,
          idx, batchIndex, k = 5, maxLayer = 2)
        .filter(col("src") % 3 === 0)
        .withColumn("seg", lit(1))
      val segs = lg0.withColumn("seg", lit(0)).unionByName(g1)
      graft.operators.Layout.compactLatestMulti(segs,
          Seq("layer", "src"), "seg", "src", 8)
        .select(col("layer"), col("src"), col("dst"), col("d2"),
          col("rnk"))
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes(cells = 64)},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 307 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerSeedCtes("r0", "TRUE", cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("r1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0",
      cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("r2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0",
      cellofName = "cellof2", vxName = "vx2")},
      ogk AS (
        SELECT layer, src, dst, d2, rnk FROM (
          SELECT 0 AS layer, src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM l0sc
          UNION ALL
          SELECT 1 AS layer, src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM l1sc
          UNION ALL
          SELECT 2 AS layer, src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM l2sc)
        WHERE rnk <= 5),
      rgk AS (
        SELECT layer, src, dst, d2, rnk FROM (
          SELECT 0 AS layer, src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM r0sc
          UNION ALL
          SELECT 1 AS layer, src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM r1sc
          UNION ALL
          SELECT 2 AS layer, src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM r2sc)
        WHERE rnk <= 5)
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        -- a (layer, src) absent from the restated segment keeps its
        -- old bag (the q275 election corner, composite-key form)
        SELECT o.layer, o.src, o.dst, o.d2, o.rnk FROM ogk o
        WHERE o.src % 3 <> 0
           OR NOT EXISTS (SELECT 1 FROM rgk r
                          WHERE r.layer = o.layer AND r.src = o.src)
        UNION ALL
        SELECT layer, src, dst, d2, rnk FROM rgk WHERE src % 3 = 0)
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q291
  // LAYERED two-round NN-DESCENT — q272's refinement-trajectory gate
  // per layer, closing the last class-covered build cell: each layer's
  // seed refines through two neighbor-of-neighbor rounds over ITS OWN
  // member set under the ONE shared coarse codebook (the fan never
  // crosses layers), with per-round checkpoint rotation. Oracle
  // unrolls both rounds per layer — three full q272 chains over the
  // member slices.
  private val q291 = Q(
    "q291_layered_nn_descent",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.layeredKnnGraphRefined(e, "vec_id",
          "embedding", numCoarse = 8, coarseIterations = 2, k = 5,
          maxLayer = 2, rounds = 2)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${descentCtes("y0", "TRUE")},
${descentCtes("y1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${descentCtes("y2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")}
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM y0r2
        UNION ALL
        SELECT 1 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM y1r2
        UNION ALL
        SELECT 2 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM y2r2)
      WHERE rnk <= 5
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q292
  // MaxSim SEGMENT compaction + serve — q275's restatement machinery
  // on the late-interaction pillar, gated (previously a spec lane): a
  // restated document re-embeds and lands its WHOLE bag as a new
  // segment (the daily path stays O(new)); compactLatestMulti's group
  // election serves the latest bag per doc — a row-level latest-wins
  // could never remove vectors the new bag no longer contains. The
  // gate scores the compacted table through the exact MaxSim scorer;
  // oracle = the full recompute over the restated corpus.
  private val q292 = Q(
    "q292_maxsim_segments",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val seg0 = bag(e).withColumn("seg", lit(0))
      val seg1 = bag(e.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
        .withColumn("seg", lit(1))
      val latest = graft.operators.Layout.compactLatestMulti(
          seg0.unionByName(seg1), "vec_id", "seg", "vec_idx", 8)
        .select(col("vec_id"), col("vec_idx"), col("vec"))
      val q = e.filter(col("vec_id") < 5)
      graft.operators.Similarity.maxSimTopK(latest, bag(q), "vec_id",
          "vec_idx", "vec", topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 7 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      svq AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)
        WHERE vec_id < 5),
      svd AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx2, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT q.vec_id AS q_id, d.vec_id AS n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM svq q JOIN svd d ON d.vec_id <> q.vec_id
        GROUP BY q.vec_id, d.vec_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q293
  // MaxSim AS-OF serve — the q255 time-travel semantic on the
  // late-interaction pillar, gated (previously a spec lane): as-of
  // segment 0 the restatement is INVISIBLE — compactAsOfMulti's
  // cutoff is a plain segment predicate (pruning whole segment files
  // at rest), the election runs over what remains, and the scorer
  // reproduces the original corpus exactly. Oracle = the recompute
  // over the ORIGINAL vectors.
  private val q293 = Q(
    "q293_maxsim_asof",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val seg0 = bag(e).withColumn("seg", lit(0))
      val seg1 = bag(e.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
        .withColumn("seg", lit(1))
      val asOf0 = graft.operators.Layout.compactAsOfMulti(
          seg0.unionByName(seg1), "vec_id", "seg", "vec_idx", 8,
          asOf = 0)
        .select(col("vec_id"), col("vec_idx"), col("vec"))
      val q = e.filter(col("vec_id") < 5)
      graft.operators.Similarity.maxSimTopK(asOf0, bag(q), "vec_id",
          "vec_idx", "vec", topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      svq AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)
        WHERE vec_id < 5),
      svd AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT q.vec_id AS q_id, d.vec_id AS n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM svq q JOIN svd d ON d.vec_id <> q.vec_id
        GROUP BY q.vec_id, d.vec_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id)
      SELECT q_id, n_id, CAST(score AS BIGINT) AS score,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT q_id, n_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id ASC) AS rnk
        FROM sc)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q294
  // FILTERED search on the FLAT ADC index — the last un-gated cell of
  // the filter row: q250 gates the coarse-routed form; this is the
  // exhaustive compressed scan ("nearest WHERE label = 3" when no
  // router exists), where the attribute rides IN the stored code row
  // (Pq.encodeIndexed) and the predicate is a plain column filter on
  // the codes scan BEFORE any ADC scoring — selective predicates
  // shrink the scan at the source and k never under-fills (the
  // post-filter ANN bug has nothing to under-fill from). Oracle
  // replays the four PQ chains and scores only label-matching rows.
  private val q294 = Q(
    "q294_filtered_adc_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cbs = graft.queries.SimFixtures.pqCodebooks(s, dir)
      val codes = graft.queries.SimFixtures.pqCodesLabeled(s, dir)
      graft.operators.Pq.adcSearch(cbs,
          codes.filter(col("label") === 3),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", m = 4,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      qs AS (SELECT DISTINCT q_id FROM qd0),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM qs q CROSS JOIN enc e
        JOIN embeddings em ON em.vec_id = e.vec_id
        JOIN qd0 d0 ON d0.q_id = q.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = q.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = q.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = q.q_id AND d3.cid = e.cb3
        WHERE e.vec_id <> q.q_id AND em.label = 3)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q295
  // TOMBSTONE-MASKED flat-ADC serving — the q236 semantic on the
  // compressed axis, previously only "composable": deleted vectors
  // stop appearing NOW via ONE O(deleted) broadcast anti-join on the
  // 2-column codes scan (Pq.purgeCodes) BEFORE any ADC scoring. PQ
  // rows derive from nothing but their own vector — no re-election,
  // no re-encoding (codebooks are fixed) — so masked serving ≡
  // serving the physically purged table, bit-for-bit, and k
  // back-fills from live rows automatically because the scan itself
  // shrank. Oracle = ADC replay over the live rows.
  private val q295 = Q(
    "q295_masked_adc_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cbs = graft.queries.SimFixtures.pqCodebooks(s, dir)
      val codes = graft.queries.SimFixtures.pqCodes(s, dir)
      val tombs = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"))
      graft.operators.Pq.adcSearch(cbs,
          graft.operators.Pq.purgeCodes(codes, tombs, "vec_id"),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", m = 4,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      qs AS (SELECT DISTINCT q_id FROM qd0),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM qs q CROSS JOIN enc e
        JOIN qd0 d0 ON d0.q_id = q.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = q.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = q.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = q.q_id AND d3.cid = e.cb3
        WHERE e.vec_id <> q.q_id AND e.vec_id % 5 <> 0)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q296
  // PQ AS-OF serve — the q255 time-travel semantic on the compressed
  // axis, previously only "composable": a restatement day re-encodes
  // ONLY the restated vectors under the FIXED codebooks (the q194
  // append contract) and lands as a new codes segment; an as-of-0
  // read elects the pre-restatement codes — the cutoff is a plain
  // segment predicate (whole segment files prune at rest) — and the
  // ADC serve over the elected table reproduces the original index
  // exactly. Oracle = the q184 ADC replay over the original corpus.
  private val q296 = Q(
    "q296_pq_asof_serve",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cbs = graft.queries.SimFixtures.pqCodebooks(s, dir)
      val seg0 = graft.queries.SimFixtures.pqCodes(s, dir)
        .withColumn("seg", lit(0))
      val restated = e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val seg1 = graft.operators.Pq.encode(restated, "vec_id",
          "embedding", 4, cbs)
        .withColumn("seg", lit(1))
      val asOf0 = graft.operators.Layout.compactAsOf(
          seg0.unionByName(seg1), "vec_id", "seg", "vec_id", 8,
          asOf = 0)
        .select(col("vec_id"), col("codes"))
      graft.operators.Pq.adcSearch(cbs, asOf0,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", m = 4,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      qs AS (SELECT DISTINCT q_id FROM qd0),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM qs q CROSS JOIN enc e
        JOIN qd0 d0 ON d0.q_id = q.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = q.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = q.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = q.q_id AND d3.cid = e.cb3
        WHERE e.vec_id <> q.q_id)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q297
  // MaxSim BAG health — the q198 report on the late-interaction
  // pillar, with the columns a multi-vector deployment actually
  // watches: per coarse cell, how many BAGS route there (a hot cell
  // serializes every routed MaxSim probe), how many stored VECTOR
  // ROWS those bags carry (the real scorer cost — bags have variable
  // size in production), and the pooled-vector residual energy (poor
  // pooled fit predicts poor routing recall). Health columns are the
  // gated cellHealth machinery on the pooled vectors; bag stats join
  // from the stored assignment + the bag table, exchanges carry cell
  // keys only. Empty cells report zeros via the codebook spine.
  private val q297 = Q(
    "q297_maxsim_bag_health",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      val bags = e.select(col("vec_id"),
          explode(sequence(lit(0), lit(3))).as("vec_idx"),
          col("embedding"))
        .select(col("vec_id"), col("vec_idx"),
          expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val bagSizes = bags.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("__nv"))
      val bagStats = assigned.join(bagSizes, Seq("vec_id"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_bags"), sum(col("__nv")).as("bag_vecs"))
      graft.operators.Ivf.cellHealth(coarse, e, "vec_id", "embedding")
        .join(bagStats, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("n_bags"), lit(0L)).as("n_bags"),
          coalesce(col("bag_vecs"), lit(0L)).as("bag_vecs"),
          col("residual_energy").as("pooled_energy"),
          col("avg_residual_energy").as("avg_pooled_energy"))
        .orderBy(col("cid"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      bv AS (
        SELECT vec_id, COUNT(*) AS nv
        FROM (SELECT vec_id, s.i
              FROM vx, UNNEST(generate_series(0, 3)) s(i))
        GROUP BY vec_id),
      bs AS (
        SELECT a.cid, COUNT(*) AS n_bags, SUM(b.nv) AS bag_vecs
        FROM cellof a JOIN bv b USING (vec_id)
        GROUP BY a.cid),
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid),
      h AS (
        SELECT cid, COUNT(*) AS n,
               SUM(CAST(list_dot_product(rvec, rvec) AS BIGINT)) AS e
        FROM rv GROUP BY cid)
      SELECT c.cid,
             CAST(COALESCE(bs.n_bags, 0) AS BIGINT) AS n_bags,
             CAST(COALESCE(bs.bag_vecs, 0) AS BIGINT) AS bag_vecs,
             CAST(COALESCE(h.e, 0) AS BIGINT) AS pooled_energy,
             CAST(CASE WHEN COALESCE(h.n, 0) > 0
                  THEN COALESCE(h.e, 0) // h.n ELSE 0 END AS BIGINT)
               AS avg_pooled_energy
      FROM co2 c
      LEFT JOIN bs USING (cid)
      LEFT JOIN h USING (cid)
      ORDER BY c.cid
    """))

  // --------------------------------------------------------------- q298
  // MaxSim RECALL/COST audit — the q239/q266 evaluation pair on the
  // late-interaction pillar, previously only a spec lane: recall@5 of
  // the nprobe=2 routed scorer against the exact unrouted MaxSim on
  // the same panel (recallAudit — the number that says whether
  // pooled-vector routing loses late-interaction matches on THIS
  // corpus), next to the router's exact serving cost (probeCost:
  // cells opened, candidate bags scored — the denominator of the
  // recall/cost knee an operator tunes nprobe against). Oracle
  // replays routed + exact + the probe-occupancy arithmetic.
  private val q298 = Q(
    "q298_maxsim_recall_cost",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val qPanel = e.filter(col("vec_id") < 5)
      val exact = graft.operators.Similarity.maxSimTopK(bag(e),
        bag(qPanel), "vec_id", "vec_idx", "vec", topK = 5)
      val routed = graft.operators.Similarity.maxSimRouted(coarse,
        assigned, bag(e), bag(qPanel), qPanel, "vec_id", "vec_idx",
        "vec", "embedding", nprobe = 2, topK = 5)
      graft.operators.Similarity.recallAudit(routed, exact, 5)
        .join(graft.operators.Ivf.probeCost(coarse, assigned, qPanel,
          "vec_id", "embedding", nprobe = 2), Seq("q_id"))
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 5))
        WHERE rn <= 2),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dotsr AS (
        SELECT c.q_id, c.n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM cand c
        JOIN sv q ON q.vec_id = c.q_id
        JOIN sv d ON d.vec_id = c.n_id
        GROUP BY c.q_id, c.n_id, q.vec_idx),
      scr AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dotsr GROUP BY q_id, n_id),
      routed AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY score DESC, n_id ASC) AS rnk
          FROM scr)
        WHERE rnk <= 5),
      dotse AS (
        SELECT q.vec_id AS q_id, d.vec_id AS n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM sv q JOIN sv d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < 5
        GROUP BY q.vec_id, d.vec_id, q.vec_idx),
      sce AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dotse GROUP BY q_id, n_id),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY score DESC, n_id ASC) AS rnk
          FROM sce)
        WHERE rnk <= 5),
      hits AS (
        SELECT r.q_id, COUNT(*) AS n_hits
        FROM routed r JOIN exact e
          ON e.q_id = r.q_id AND e.n_id = r.n_id
        GROUP BY r.q_id),
      spine AS (SELECT DISTINCT q_id FROM exact),
      occ AS (SELECT cid, COUNT(*) AS n FROM cellof GROUP BY cid),
      selfc AS (
        SELECT vec_id AS q_id, cid FROM cellof WHERE vec_id < 5),
      pcost AS (
        SELECT p.q_id, COUNT(*) AS cells_probed,
               SUM(COALESCE(o.n, 0)
                 - CASE WHEN sc.cid IS NOT NULL THEN 1 ELSE 0 END)
                 AS candidates
        FROM probes p
        LEFT JOIN occ o ON o.cid = p.cid
        LEFT JOIN selfc sc ON sc.q_id = p.q_id AND sc.cid = p.cid
        GROUP BY p.q_id)
      SELECT s.q_id,
             CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) * 1000000 // 5 AS BIGINT)
               AS recall_micro,
             CAST(p.cells_probed AS BIGINT) AS cells_probed,
             CAST(p.candidates AS BIGINT) AS candidates
      FROM spine s
      LEFT JOIN hits h USING (q_id)
      JOIN pcost p USING (q_id)
      ORDER BY s.q_id
    """))

  // --------------------------------------------------------------- q299
  // Graph AS-OF serve — the q255 time-travel semantic on the graph
  // pillar, previously class-covered: a maintenance day restates some
  // sources' bags (derived through the GATED upsert — purge ∘ append,
  // O(changed), the q290 discipline on the flat table) and lands them
  // as a new segment; an as-of-0 read elects the pre-restatement bags
  // (plain segment predicate — whole segment files prune at rest) and
  // the beam walk over the elected graph reproduces the original
  // serve exactly. Oracle = the q264 walk replay over the original
  // seed graph.
  private val q299 = Q(
    "q299_graph_asof_serve",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val g0 = graft.queries.SimFixtures.flatGraph(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val batchIndex = graft.operators.Ivf.flatIndex(coarse,
        e.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", Nil)
      val g1 = graft.operators.Similarity.upsertKnnSeed(g0, idx,
          batchIndex, k = 5)
        .filter(col("src") % 3 === 0)
        .withColumn("seg", lit(1))
      val segs = g0.withColumn("seg", lit(0)).unionByName(g1)
      val asOf0 = graft.operators.Layout.compactAsOfMulti(segs, "src",
          "seg", "src", 8, asOf = 0)
        .select(col("src"), col("dst"), col("d2"), col("rnk"))
      graft.operators.Similarity.graphSearch(asOf0, e,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          entryK = 2, beam = 5, hops = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 5),
${walkCtes("", 2, 5)}
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM b2)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q301
  // HYBRID retrieval with the GRAPH index as the vector side — q242's
  // RRF fusion where the semantic ranking comes from the stored kNN
  // graph's beam walk instead of a brute scan (the pairing a
  // deployment actually serves: BM25 + graph-ANN are each sublinear;
  // the brute side of q242 is the spec baseline). The walk runs wider
  // (beam = topN = 20) so the fused list draws from a full-length
  // semantic ranking; fusion is exact integer micro-units over RANKS
  // alone, so the composition hash-gates. Oracle = the q242 BM25
  // chain + the q264 walk replay at beam 20 + the RRF arithmetic.
  private val q301 = Q(
    "q301_graph_hybrid_rrf",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val e = Tables(s, dir, "embeddings")
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
      val text = graft.operators.Search.bm25Search(docs, "doc_id",
        "text", terms = Seq("spark", "vector", "hash"), topN = 20)
      val vec = graft.operators.Similarity.graphSearch(g, e,
          e.filter(col("vec_id") === 7), "vec_id", "embedding",
          entryK = 2, beam = 20, hops = 2, topK = 20)
        .select(col("n_id").as("doc_id"), col("rnk"))
      graft.operators.Search.rrfFuse(
          Seq(text.select(col("doc_id"), col("rnk")), vec),
          "doc_id", kRrf = 60, topN = 10)
        .orderBy(col("rnk"))
    },
    Some(raw"""
      WITH toks AS (
        SELECT doc_id, UNNEST(${SearchQueries.wordsSql}) AS token
        FROM documents),
      dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      navg AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl),
      tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks WHERE token IN ('spark', 'vector', 'hash')
        GROUP BY doc_id, token),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      parts AS (
        SELECT t.doc_id,
               ln(1.0 + (n.n_docs - f.df + 0.5) / (f.df + 0.5)) *
                 (t.tf * 2.2) /
                 (t.tf + 1.2 * (0.25 + 0.75 * d.dl / n.avgdl)) AS part
        FROM tf t
        JOIN dfreq f USING (token)
        JOIN dl d USING (doc_id)
        CROSS JOIN navg n),
      bmscored AS (
        SELECT doc_id, ROUND(SUM(part), 6) AS score
        FROM parts GROUP BY doc_id),
      bm AS (
        SELECT doc_id, rnk FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                   AS rnk
          FROM bmscored)
        WHERE rnk <= 20),
      vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id = 7),
${walkCtes("", 2, 20)},
      vr AS (
        SELECT dst AS doc_id, rnk FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM b2)
        WHERE rnk <= 20),
      u AS (
        SELECT doc_id, rnk FROM bm
        UNION ALL
        SELECT doc_id, rnk FROM vr),
      f AS (
        SELECT doc_id, SUM(1000000 // (60 + rnk)) AS rrf_micro,
               COUNT(*) AS n_lists
        FROM u GROUP BY doc_id)
      SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
             CAST(n_lists AS BIGINT) AS n_lists,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT doc_id, rrf_micro, n_lists,
               ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id ASC)
                 AS rnk
        FROM f)
      WHERE rnk <= 10
      ORDER BY rnk
    """))

  // --------------------------------------------------------------- q302
  // STREAMING MaxSim append — the streaming form on the multi-vector
  // pillar, previously q201-class: the q273 daily append's in-flight
  // half. An arriving bag routes by its pooled vector IN-ROW against
  // the plan-literal history codebook (assignEnergyExpr — stateless
  // Append, no state store, no shuffle; a per-vector argmin groupBy
  // would hold unbounded keyed state), emitting exactly the
  // (vec_id, cid) assignment rows the batch append writes plus the
  // pooled residual energy q297 audits at rest. The bag's token rows
  // are a stateless pass-through projection, so the assignment is the
  // in-flight work. Oracle = the batch pooled assign of the arriving
  // slice under history-trained coarse.
  private val q302 = Q(
    "q302_stream_maxsim_assign",
    (s, dir) => {
      graft.streaming.StreamingOps.streamMaxSimAssign(s, dir,
          "q302_maxsim_assign_sink")
        .orderBy(col("vec_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      rv AS (
        SELECT v.vec_id, a.cid,
               list_transform(generate_series(1, 64),
                 d -> floor(v.qvec[d] - c.cent[d])) AS rvec
        FROM vx v
        JOIN cellof a ON a.vec_id = v.vec_id
        JOIN co2 c ON c.cid = a.cid
        WHERE v.vec_id % 3 = 0)
      SELECT vec_id, cid,
             CAST(list_dot_product(rvec, rvec) AS BIGINT)
               AS pooled_energy
      FROM rv
      ORDER BY vec_id
    """))

  // --------------------------------------------------------------- q303
  // IVF-PQ RECALL/COST audit — the q239/q240 evaluation pair on the
  // COMPRESSED axis, previously class-covered: recall@5 of the
  // nprobe=2 coarse-routed ADC scorer against the exact integral-grid
  // top-5 (the number that says what m=4-byte codes + routing lose on
  // THIS corpus — the compression knob's empirical cost, next to the
  // q199 error audit's analytic one), joined with probeCost's exact
  // serving cost (cells opened, candidate codes scored). Everything
  // serves from the stored fixture tables; oracle replays routed ADC,
  // the exact baseline, and the probe-occupancy arithmetic.
  private val q303 = Q(
    "q303_pq_recall_cost",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val cbs = graft.queries.SimFixtures.pqCodebooks(s, dir)
      val assigned = graft.queries.SimFixtures.flatIndex(s, dir)
        .select(col("vec_id"), col("cid"))
      val codes = graft.queries.SimFixtures.pqCodes(s, dir)
      val qPanel = e.filter(col("vec_id") < 10)
      val approx = graft.operators.Pq.ivfPqSearch(coarse, cbs, assigned,
        codes, qPanel, "vec_id", "embedding", m = 4, nprobe = 2,
        topK = 5)
      val exact = graft.operators.Ivf.bruteTopK(e, qPanel, "vec_id",
        "embedding", topK = 5)
      graft.operators.Similarity.recallAudit(approx, exact, 5)
        .join(graft.operators.Ivf.probeCost(coarse, assigned, qPanel,
          "vec_id", "embedding", nprobe = 2), Seq("q_id"))
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
      probes AS (
        SELECT vec_id AS q_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx v, co2 c
            WHERE v.vec_id < 10))
        WHERE rn <= 2),
      ${pqSubChains()},
      enc AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN cellof a
          ON a.cid = p.cid AND a.vec_id <> p.q_id),
      adcsc AS (
        SELECT c.q_id, c.n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM cand c
        JOIN enc e ON e.vec_id = c.n_id
        JOIN qd0 d0 ON d0.q_id = c.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = c.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = c.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = c.q_id AND d3.cid = e.cb3),
      approx AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY adc_d2 ASC, n_id ASC) AS rnk
          FROM adcsc)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT a.q_id, COUNT(*) AS n_hits
        FROM approx a JOIN exact e
          ON e.q_id = a.q_id AND e.n_id = a.n_id
        GROUP BY a.q_id),
      spine AS (SELECT DISTINCT q_id FROM exact),
      occ AS (SELECT cid, COUNT(*) AS n FROM cellof GROUP BY cid),
      selfc AS (
        SELECT vec_id AS q_id, cid FROM cellof WHERE vec_id < 10),
      pcost AS (
        SELECT p.q_id, COUNT(*) AS cells_probed,
               SUM(COALESCE(o.n, 0)
                 - CASE WHEN sc.cid IS NOT NULL THEN 1 ELSE 0 END)
                 AS candidates
        FROM probes p
        LEFT JOIN occ o ON o.cid = p.cid
        LEFT JOIN selfc sc ON sc.q_id = p.q_id AND sc.cid = p.cid
        GROUP BY p.q_id)
      SELECT s.q_id,
             CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) * 1000000 // 5 AS BIGINT)
               AS recall_micro,
             CAST(p.cells_probed AS BIGINT) AS cells_probed,
             CAST(p.candidates AS BIGINT) AS candidates
      FROM spine s
      LEFT JOIN hits h USING (q_id)
      JOIN pcost p USING (q_id)
      ORDER BY s.q_id
    """))

  // --------------------------------------------------------------- q304
  // PQ UPSERT — the restatement verb on the compressed axis as a
  // WORKED gate (previously q231-class): a restated vector's row is
  // replaced wholesale — one O(restated) anti-join purges the old
  // code rows (q295's machinery), the restated vectors re-encode
  // under the FIXED codebooks in one broadcast pass (q194's append
  // contract; restatement never retrains), and the union is the new
  // stored table. PQ rows derive from nothing but their own vector,
  // so upsert needs no re-election — serving the upserted table ≡ a
  // full re-encode of the restated corpus, which is the oracle
  // (original chains for untouched rows, fixed-codebook re-encode of
  // the restated slice).
  private val q304 = Q(
    "q304_pq_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cbs = graft.queries.SimFixtures.pqCodebooks(s, dir)
      val stored = graft.queries.SimFixtures.pqCodes(s, dir)
      val restated = e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      val upserted = graft.operators.Pq.purgeCodes(stored,
          restated.select(col("vec_id")), "vec_id")
        .unionByName(graft.operators.Pq.encode(restated, "vec_id",
          "embedding", 4, cbs))
      graft.operators.Pq.adcSearch(cbs, upserted,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", m = 4,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      vx2 AS (
        SELECT vec_id,
               list_transform(generate_series(1, 64),
                 i -> qvec[65 - i]) AS qvec
        FROM vx),
      ${pqSubChains()},
      ${pqRestatedEncChains("vec_id % 7 = 0")},
      encm AS (
        SELECT e0.vec_id, e0.code AS cb0, e1.code AS cb1,
               e2.code AS cb2, e3.code AS cb3
        FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
        JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)
        WHERE e0.vec_id % 7 <> 0
        UNION ALL
        SELECT r0.vec_id, r0.code, r1.code, r2.code, r3.code
        FROM encr0 r0 JOIN encr1 r1 USING (vec_id)
        JOIN encr2 r2 USING (vec_id) JOIN encr3 r3 USING (vec_id)),
      qs AS (SELECT DISTINCT q_id FROM qd0),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
               d0.d2 + d1.d2 + d2x.d2 + d3.d2 AS adc_d2
        FROM qs q CROSS JOIN encm e
        JOIN qd0 d0 ON d0.q_id = q.q_id AND d0.cid = e.cb0
        JOIN qd1 d1 ON d1.q_id = q.q_id AND d1.cid = e.cb1
        JOIN qd2 d2x ON d2x.q_id = q.q_id AND d2x.cid = e.cb2
        JOIN qd3 d3 ON d3.q_id = q.q_id AND d3.cid = e.cb3
        WHERE e.vec_id <> q.q_id)
      SELECT q_id, n_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_d2 ASC, n_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q305
  // HYBRID retrieval with the MaxSim scorer as the semantic side —
  // the fusion cell on the late-interaction pillar as a worked gate
  // (previously "composable"): BM25's lexical ranking fused by RRF
  // with the exact multi-vector MaxSim ranking for the same query
  // document — the ColBERT-style serving composition (lexical recall
  // + late-interaction precision) a RAG stack actually runs. Fusion
  // is exact integer micro-units over ranks alone, so the whole
  // composition hash-gates. Oracle = the q242 BM25 chain + the q260
  // MaxSim chain at topN 20 + the RRF arithmetic.
  private val q305 = Q(
    "q305_maxsim_hybrid_rrf",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val e = Tables(s, dir, "embeddings")
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
            explode(sequence(lit(0), lit(3))).as("vec_idx"),
            col("embedding"))
          .select(col("vec_id"), col("vec_idx"),
            expr("slice(embedding, vec_idx * 16 + 1, 16)").as("vec"))
      val text = graft.operators.Search.bm25Search(docs, "doc_id",
        "text", terms = Seq("spark", "vector", "hash"), topN = 20)
      val vec = graft.operators.Similarity.maxSimTopK(bag(e),
          bag(e.filter(col("vec_id") === 7)), "vec_id", "vec_idx",
          "vec", topK = 20)
        .select(col("n_id").as("doc_id"), col("rnk"))
      graft.operators.Search.rrfFuse(
          Seq(text.select(col("doc_id"), col("rnk")), vec),
          "doc_id", kRrf = 60, topN = 10)
        .orderBy(col("rnk"))
    },
    Some(raw"""
      WITH toks AS (
        SELECT doc_id, UNNEST(${SearchQueries.wordsSql}) AS token
        FROM documents),
      dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      navg AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl),
      tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks WHERE token IN ('spark', 'vector', 'hash')
        GROUP BY doc_id, token),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      parts AS (
        SELECT t.doc_id,
               ln(1.0 + (n.n_docs - f.df + 0.5) / (f.df + 0.5)) *
                 (t.tf * 2.2) /
                 (t.tf + 1.2 * (0.25 + 0.75 * d.dl / n.avgdl)) AS part
        FROM tf t
        JOIN dfreq f USING (token)
        JOIN dl d USING (doc_id)
        CROSS JOIN navg n),
      bmscored AS (
        SELECT doc_id, ROUND(SUM(part), 6) AS score
        FROM parts GROUP BY doc_id),
      bm AS (
        SELECT doc_id, rnk FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                   AS rnk
          FROM bmscored)
        WHERE rnk <= 20),
      vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
      sv AS (
        SELECT vec_id, s.i AS vec_idx,
               qvec[s.i * 16 + 1 : s.i * 16 + 16] AS v
        FROM vx, UNNEST(generate_series(0, 3)) s(i)),
      dots AS (
        SELECT q.vec_id AS q_id, d.vec_id AS n_id, q.vec_idx AS qi,
               MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
        FROM sv q JOIN sv d ON d.vec_id <> q.vec_id
        WHERE q.vec_id = 7
        GROUP BY q.vec_id, d.vec_id, q.vec_idx),
      sc AS (
        SELECT q_id, n_id, SUM(m) AS score
        FROM dots GROUP BY q_id, n_id),
      vr AS (
        SELECT n_id AS doc_id, rnk FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY score DESC, n_id ASC) AS rnk
          FROM sc)
        WHERE rnk <= 20),
      u AS (
        SELECT doc_id, rnk FROM bm
        UNION ALL
        SELECT doc_id, rnk FROM vr),
      f AS (
        SELECT doc_id, SUM(1000000 // (60 + rnk)) AS rrf_micro,
               COUNT(*) AS n_lists
        FROM u GROUP BY doc_id)
      SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
             CAST(n_lists AS BIGINT) AS n_lists,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT doc_id, rrf_micro, n_lists,
               ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id ASC)
                 AS rnk
        FROM f)
      WHERE rnk <= 10
      ORDER BY rnk
    """))

  // --------------------------------------------------------------- q306
  // RNG/α EDGE PRUNING — the neighbor-selection heuristic every
  // production graph index runs at build time (DiskANN RobustPrune /
  // HNSW select-neighbors, α = 1 here — the classic
  // relative-neighborhood rule): walk each rank list in (d2, dst)
  // order, keep an edge only if no already-kept closer neighbor
  // covers it (d²(w, dst) < d²(src, dst) drops it). Redundant edges
  // into a tight cluster collapse to the spanning edge, so the beam
  // walk's fixed fan buys DIRECTIONS instead of a clique — q307
  // measures the payoff at equal budget. The greedy is k-bounded
  // id-keyed joins (never a corpus self-join) and all-integer, so the
  // oracle unrolls it bit-for-bit (kept1..kept5).
  private val q306 = Q(
    "q306_graph_rng_prune",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val g = graft.queries.SimFixtures.flatGraph(s, dir)
      graft.operators.Similarity.pruneGraphRng(g, e, "vec_id",
          "embedding", k = 5)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
${seedgCte},
${rngKeptCtes(5, 1, 1)}
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM kept5)
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q307
  // PRUNED-graph recall/cost — q266's audit over the q306 PRUNED
  // edges at the identical (entryK = 2, beam = 5, hops = 2) budget:
  // the row-for-row comparison against q266 is the pruning heuristic's
  // measured payoff (or cost) on THIS corpus — fewer stored edges per
  // vertex means each hop re-offers fewer clique repeats, and the
  // audit says what that does to recall@5 and to the exact
  // dist-eval/frontier counts. The exact side reuses the probing-all
  // flat serve (operator-reuse discipline); ONE walk feeds recall and
  // cost (graphRecallCost).
  private val q307 = Q(
    "q307_pruned_graph_recall_cost",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      // the STORED pruned table (SimFixtures — built once with the
      // real operator, served from parquet; oracle = full replay)
      val pruned = graft.queries.SimFixtures.prunedFlat(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse,
        graft.queries.SimFixtures.flatIndex(s, dir),
        q, "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      graft.operators.Similarity.graphRecallCost(pruned, e, q,
          "vec_id", "embedding", exact, 5, entryK = 2, beam = 5,
          hops = 2, topK = 5)
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
${seedgCte},
${rngKeptCtes(5, 1, 1)},
      pg AS (SELECT src, dst FROM kept5),
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("", 2, 5, gName = "pg")},
      walk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM b2)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits
        FROM exact e
        LEFT JOIN walk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${walkCostSql("", 2)}
      SELECT h.q_id, CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 1000000 // 5 AS BIGINT) AS recall_micro,
             c.dist_evals, c.frontier
      FROM hits h JOIN cost c ON c.q_id = h.q_id
      ORDER BY h.q_id
    """))

  // --------------------------------------------------------------- q308
  // PRUNE α SWEEP — the q240/q271 tuning artifact on the prune axis:
  // the kept-edge census at α ∈ {2/3·, 1·, 3/2·} of the squared
  // distance (aggressive → classic RNG → conservative), read before
  // committing a prune level to the stored graph. Non-monotonicity is
  // possible by construction (the greedy's kept set feeds later cover
  // checks), which is exactly why the census is measured per α rather
  // than derived. Oracle replays all three greedy chains.
  private val q308 = Q(
    "q308_prune_alpha_sweep",
    (s, dir) => {
      // census from the STORED fold cache — no corpus access at all
      // (the cache nests every consultable pair distance)
      graft.operators.Similarity.pruneSweepFrom(
          graft.queries.SimFixtures.foldCacheFlat(s, dir), k = 5,
          alphas = Seq((1L, 1L), (2L, 3L), (3L, 2L)))
        .orderBy(col("a_num"), col("a_den"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
${seedgCte},
${rngKeptCtes(5, 1, 1, p = "ka")},
${rngKeptCtes(5, 2, 3, p = "kb")},
${rngKeptCtes(5, 3, 2, p = "kc")},
      dega AS (SELECT src, COUNT(*) AS d FROM ka5 GROUP BY src),
      degb AS (SELECT src, COUNT(*) AS d FROM kb5 GROUP BY src),
      degc AS (SELECT src, COUNT(*) AS d FROM kc5 GROUP BY src),
      stats AS (
        SELECT 1 AS a_num, 1 AS a_den, SUM(d) AS n_edges,
               COUNT(*) AS n_srcs, MAX(d) AS max_degree
        FROM dega
        UNION ALL
        SELECT 2, 3, SUM(d), COUNT(*), MAX(d) FROM degb
        UNION ALL
        SELECT 3, 2, SUM(d), COUNT(*), MAX(d) FROM degc)
      SELECT CAST(a_num AS BIGINT) AS a_num,
             CAST(a_den AS BIGINT) AS a_den,
             CAST(n_edges AS BIGINT) AS n_edges,
             CAST(n_srcs AS BIGINT) AS n_srcs,
             CAST(max_degree AS BIGINT) AS max_degree
      FROM stats
      ORDER BY a_num, a_den
    """))

  // --------------------------------------------------------------- q309
  // O(changed) PRUNED-graph upsert — "do I re-prune the world after a
  // restatement?" answered NO and gated: the prune is a pure
  // per-source function of the source's rank list and its neighbors'
  // vectors, so only the upsert's changed-source superset (batch ids,
  // sources adjacent to a batch dst, members of batch-touched cells —
  // derived from the same public inputs, conservative by determinism)
  // re-prunes; every other source's STORED pruned rows pass through
  // verbatim, and the vectors come from the stored flat-index rows —
  // no corpus re-scan anywhere. Runs on the FINE-geometry (64-cell)
  // fixture family with a sparse (%307) batch so the changed-source
  // superset is a REAL subset and the O(changed) bound SHOWS in the
  // bench (at 8 cells any non-trivial batch touches every cell and
  // the gate degenerated to three full re-prunes — r15 verdict; the
  // multi-cell full-superset shape stays spec-pinned in PqSpec).
  // Oracle = the FULL re-prune of the full seed rebuild over the
  // restated corpus (q269's restatement, q306's greedy, composed).
  private val q309 = Q(
    "q309_pruned_graph_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarseF(s, dir)
      val storedIndex = graft.queries.SimFixtures.flatIndexF(s, dir)
      val storedGraph = graft.queries.SimFixtures.flatGraphF(s, dir)
      val storedPruned = graft.queries.SimFixtures.prunedFlatF(s, dir)
      // pinned: the upsert's ids/cells/vecs derivations and the seed
      // merge each re-read the batch index — without the pin every
      // read re-runs the assignment (scan + 64-cell fan + rank)
      val batchIndex = graft.util.CacheScope.persist(
        graft.operators.Ivf.flatIndex(coarse,
          e.filter(col("vec_id") % 307 === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", Nil))
      graft.operators.Similarity.upsertPrunedKnnSeed(storedGraph,
          storedPruned, storedIndex, batchIndex, k = 5)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes(cells = 64)},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 307 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
      seedsc2 AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof2 a
        JOIN cellof2 b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx2 va ON va.vec_id = a.vec_id
        JOIN vx2 vb ON vb.vec_id = b.vec_id),
      seedg AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc2)
        WHERE rnk <= 5),
${rngKeptCtes(5, 1, 1, vxName = "vx2")}
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM kept5)
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q310
  // LAYERED RNG pruning — q306's heuristic applied the way HNSW
  // actually applies it: PER LAYER (select-neighbors runs on each
  // layer's candidate list; layers share nothing but the vectors), so
  // the layered form maps the gated flat greedy over the layer slices
  // of the stored table under one shared vector scan. Upper layers
  // are geometrically small — the usual layered cost series. Oracle
  // replays all three per-layer greedy chains.
  private val q310 = Q(
    "q310_layered_rng_prune",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      graft.operators.Similarity.pruneLayeredGraphRng(lg, e, "vec_id",
          "embedding", k = 5, maxLayer = 2)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
      l0gr AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM l0sc)
        WHERE rnk <= 5),
      l1gr AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM l1sc)
        WHERE rnk <= 5),
      l2gr AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM l2sc)
        WHERE rnk <= 5),
${rngKeptCtes(5, 1, 1, gName = "l0gr", p = "l0k")},
${rngKeptCtes(5, 1, 1, gName = "l1gr", p = "l1k")},
${rngKeptCtes(5, 1, 1, gName = "l2gr", p = "l2k")}
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l0k5
        UNION ALL
        SELECT 1, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM l1k5
        UNION ALL
        SELECT 2, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM l2k5)
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q311
  // O(changed) LAYERED pruned-graph upsert — q309's maintenance verb
  // where HNSW actually lives: promotion is a pure function of the
  // id, so a layer's member set is closed under restatement and the
  // flat verb's argument applies per layer — and since the re-prune
  // greedy is per-(layer, src) sequential, ALL layers run as ONE
  // (layer, src)-keyed fold over one shared pair table (one upsert
  // checkpoint, one group shuffle — the round-17 unification; the
  // per-layer chain paid all three per layer). Each (layer, src) in
  // the changed superset re-prunes; every other source's stored
  // pruned rows pass through verbatim. Runs on the FINE-geometry
  // (64-cell) fixture family with the sparse %307 batch — q309's
  // gate-hygiene rationale per layer (this was the suite's heaviest
  // query at the 8-cell geometry, where the superset degenerated to
  // three full re-prunes). Oracle = the full per-layer re-prune of
  // the full restated rebuild (q290's restatement replay + q306's
  // greedy per layer).
  private val q311 = Q(
    "q311_layered_pruned_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarseF(s, dir)
      val idx = graft.queries.SimFixtures.flatIndexF(s, dir)
      val lg0 = graft.queries.SimFixtures.layeredSeedF(s, dir)
      val lp0 = graft.queries.SimFixtures.prunedLayeredF(s, dir)
      // pinned: the upsert's several batch reads (ids, per-layer cell
      // derivations, the post-upsert vector union — the q309 pin
      // rationale)
      val batchIndex = graft.util.CacheScope.persist(
        graft.operators.Ivf.flatIndex(coarse,
          e.filter(col("vec_id") % 307 === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", Nil))
      graft.operators.Similarity.upsertPrunedLayeredKnnSeed(lg0, lp0,
          idx, batchIndex, k = 5, maxLayer = 2)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes(cells = 64)},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 307 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
${layerSeedCtes("r0", "TRUE", cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("r1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0",
      cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("r2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0",
      cellofName = "cellof2", vxName = "vx2")},
      r0gr AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM r0sc)
        WHERE rnk <= 5),
      r1gr AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM r1sc)
        WHERE rnk <= 5),
      r2gr AS (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM r2sc)
        WHERE rnk <= 5),
${rngKeptCtes(5, 1, 1, gName = "r0gr", vxName = "vx2", p = "r0k")},
${rngKeptCtes(5, 1, 1, gName = "r1gr", vxName = "vx2", p = "r1k")},
${rngKeptCtes(5, 1, 1, gName = "r2gr", vxName = "vx2", p = "r2k")}
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM r0k5
        UNION ALL
        SELECT 1, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM r1k5
        UNION ALL
        SELECT 2, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM r2k5)
      ORDER BY layer, src, rnk
    """))

  /** Per-layer rank CTE over [[layerSeedCtes]]' `${p}sc` scored
    * pairs: `${p}gr` = (src, dst, d2, rnk ≤ 5) — the ranked form the
    * per-layer prune replays consume (q310/q311's inline copies
    * predate the helper and are frozen). */
  private def layerRankedCte(p: String): String = raw"""
      ${p}gr AS MATERIALIZED (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM ${p}sc)
        WHERE rnk <= 5)"""

  // --------------------------------------------------------------- q312
  // Descending search over the PRUNED layered graph — the serve verb
  // the q310 build and q311 maintenance exist to feed, previously
  // never gated end-to-end: layeredGraphSearch walks the STORED
  // pruned table (SimFixtures — the parquet a deployment that adopted
  // per-layer pruning actually reads) with q278's exact budget, so
  // the row-for-row diff against q278 is the prune's measured effect
  // on the served result at equal (entryK, beam, hopsPerLayer). The
  // operator is table-agnostic — same descent, thinner out-edges —
  // which is exactly the claim: pruning changes the TABLE, never the
  // serve plan. Oracle = per-layer seed + greedy replay, then q278's
  // chained walk over the kept edges.
  private val q312 = Q(
    "q312_pruned_layered_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lp = graft.queries.SimFixtures.prunedLayered(s, dir)
      graft.operators.Similarity.layeredGraphSearch(lp, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          maxLayer = 2, entryK = 2, beam = 5, hopsPerLayer = 1,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
${rngKeptCtes(5, 1, 1, gName = "l0gr", p = "l0k")},
${rngKeptCtes(5, 1, 1, gName = "l1gr", p = "l1k")},
${rngKeptCtes(5, 1, 1, gName = "l2gr", p = "l2k")},
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2k5")},
${walkCtes("m", 1, 5, gName = "l1k5", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0k5", init = Some("mb1"))}
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM wb1)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q313
  // TOMBSTONE-MASKED serving over the PRUNED flat graph — q267's
  // serving semantic composed onto the q306 artifact: deletes land as
  // a tombstone set and the walk over the STORED pruned table must
  // stop returning them NOW, with zero re-prune (dead vertices still
  // ROUTE — on a pruned graph even more so, since each dropped
  // redundant edge makes the surviving waypoints the ONLY paths; the
  // mask is the one O(deleted) anti-join over the walk's bounded
  // evaluated-candidate union at rank time, k back-filling from live
  // candidates). Proves the mask verb is graph-agnostic: same
  // operator, pruned table. Oracle = greedy replay + q267's masked
  // walk over the kept edges.
  private val q313 = Q(
    "q313_masked_pruned_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val pruned = graft.queries.SimFixtures.prunedFlat(s, dir)
      graft.operators.Similarity.graphSearchMasked(pruned, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          e.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
          entryK = 2, beam = 5, hops = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
${seedgCte},
${rngKeptCtes(5, 1, 1)},
      pg AS (SELECT src, dst FROM kept5),
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("", 2, 5, gName = "pg")},
      seen AS (
        ${seenSql("", 2)}),
      live AS (
        SELECT q_id, dst, d2 FROM seen WHERE dst % 5 <> 0)
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM live)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q314
  // ATTRIBUTE-FILTERED serving over the PRUNED flat graph — q270's
  // "nearest WHERE label = 3" on the q306 artifact, closing the
  // filter × index-family matrix's pruned cell: walk the stored
  // pruned table UNFILTERED (on a pruned graph the non-matching
  // waypoints are even more load-bearing — redundant paths were
  // exactly what the prune removed), predicate only at rank time over
  // the bounded evaluated-candidate union. With q313 this gives the
  // pruned table the full serving-stack composition every other index
  // family has (q238's discipline: the stored artifact serves masked
  // AND filtered without a rebuild). Oracle = greedy replay + q270's
  // filtered walk over the kept edges.
  private val q314 = Q(
    "q314_filtered_pruned_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val pruned = graft.queries.SimFixtures.prunedFlat(s, dir)
      graft.operators.Similarity.graphSearchFiltered(pruned, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          col("label") === 3, entryK = 2, beam = 5, hops = 2, topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
${seedgCte},
${rngKeptCtes(5, 1, 1)},
      pg AS (SELECT src, dst FROM kept5),
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("", 2, 5, gName = "pg")},
      seen AS (
        ${seenSql("", 2)}),
      kept AS (
        SELECT sn.q_id, sn.dst, sn.d2
        FROM seen sn JOIN embeddings em ON em.vec_id = sn.dst
        WHERE em.label = 3)
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM kept)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q315
  // PER-LAYER prune α sweep — q308's tuning artifact where HNSW's
  // efConstruction/α trade actually lives: select-neighbors runs PER
  // LAYER and the right α differs by layer (upper layers are sparse
  // long-range scaffolds whose few edges are each load-bearing; the
  // base layer's dense local structure tolerates aggressive pruning),
  // so the census an operator reads the knee from must be per
  // (layer, α). The α-independent neighbor-pair table builds once per
  // layer and all three α greedies reuse it (the shared-scan
  // factoring); everything reads the STORED layered table. Oracle
  // replays all nine per-layer greedy chains.
  private val q315 = Q(
    "q315_layered_prune_alpha_sweep",
    (s, dir) => {
      // per-(layer, α) census from the STORED layered fold cache
      graft.operators.Similarity.pruneLayeredSweepFrom(
          graft.queries.SimFixtures.foldCacheLayered(s, dir), k = 5,
          maxLayer = 2, alphas = Seq((1L, 1L), (2L, 3L), (3L, 2L)))
        .orderBy(col("layer"), col("a_num"), col("a_den"))
    },
    Some {
      val chains = (0 to 2).flatMap { l =>
        Seq(("a", 1L, 1L), ("b", 2L, 3L), ("c", 3L, 2L)).map {
          case (t, n, d) =>
            rngKeptCtes(5, n, d, gName = s"l${l}gr", p = s"l${l}k$t")
        }
      }.mkString(",")
      val census = (0 to 2).flatMap { l =>
        Seq(("a", 1, 1), ("b", 2, 3), ("c", 3, 2)).map { case (t, n, d) =>
          s"""SELECT $l AS layer, $n AS a_num, $d AS a_den,
               SUM(dd) AS n_edges, COUNT(*) AS n_srcs,
               MAX(dd) AS max_degree
        FROM (SELECT src, COUNT(*) AS dd FROM l${l}k${t}5 GROUP BY src)"""
        }
      }.mkString("\n        UNION ALL\n        ")
      raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
$chains,
      stats AS (
        $census)
      SELECT CAST(layer AS INTEGER) AS layer,
             CAST(a_num AS BIGINT) AS a_num,
             CAST(a_den AS BIGINT) AS a_den,
             CAST(n_edges AS BIGINT) AS n_edges,
             CAST(n_srcs AS BIGINT) AS n_srcs,
             CAST(max_degree AS BIGINT) AS max_degree
      FROM stats
      ORDER BY layer, a_num, a_den
    """
    })

  // --------------------------------------------------------------- q316
  // STREAMING graph-ANN seed candidates — the last class-only cell in
  // the §8 streaming row, closed with a worked gate (q302's stateless
  // discipline on the edge axis): an arriving vector routes in-row
  // against the plan-literal history codebook and emits its
  // cell-local seed-candidate edges against the STORED index rows,
  // scored with the exact grid distance — precisely the (src, dst,
  // d2) rows the batch append's new-vertex election ranks at rest.
  // No state store, no shuffle on the stream side; the per-row fan is
  // the cell occupancy, the same work the batch election does per new
  // vertex. Oracle = the batch cell-local candidate scoring of the
  // arriving slice under history-trained coarse.
  private val q316 = Q(
    "q316_stream_graph_seed_candidates",
    (s, dir) => {
      graft.streaming.StreamingOps.streamGraphSeedCandidates(s, dir,
          "q316_graph_seed_cand_sink")
        .orderBy(col("vec_id"), col("n_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes("vec_id % 3 > 0")},
      cand AS (
        SELECT a.vec_id, a.cid, h.vec_id AS n_id,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vh.qvec)
                 + list_dot_product(vh.qvec, vh.qvec) AS BIGINT) AS d2
        FROM cellof a
        JOIN cellof h ON h.cid = a.cid AND h.vec_id % 3 > 0
        JOIN vx va ON va.vec_id = a.vec_id
        JOIN vx vh ON vh.vec_id = h.vec_id
        WHERE a.vec_id % 3 = 0)
      SELECT vec_id, cid, n_id, d2
      FROM cand
      ORDER BY vec_id, n_id
    """))

  // --------------------------------------------------------------- q317
  // PRUNED-LAYERED recall/cost audit — q285's one-walk value audit
  // over the stored PRUNED layered table (q312's serve, instrumented):
  // the number pair that says what per-layer pruning did to the
  // descent on THIS corpus — fewer stored edges per vertex means each
  // hop re-offers fewer clique repeats, and the audit reads recall@5
  // against the exact baseline NEXT TO the exact dist-eval/frontier
  // counts at q285's identical budget, so the q285-vs-q317 row diff
  // is the prune's measured payoff (or cost). Everything serves from
  // the stored fixtures; oracle = per-layer greedy replay + the
  // chained walk + frame counts.
  private val q317 = Q(
    "q317_pruned_layered_recall_cost",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lp = graft.queries.SimFixtures.prunedLayered(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse, idx, q,
        "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      graft.operators.Similarity.layeredRecallCost(lp, e, q, "vec_id",
          "embedding", exact, 5, maxLayer = 2, entryK = 2, beam = 5,
          hopsPerLayer = 1, topK = 5)
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
${rngKeptCtes(5, 1, 1, gName = "l0gr", p = "l0k")},
${rngKeptCtes(5, 1, 1, gName = "l1gr", p = "l1k")},
${rngKeptCtes(5, 1, 1, gName = "l2gr", p = "l2k")},
      -- MATERIALIZED: the cost block references every chained walk
      -- frame, and DuckDB inlines single-reference CTEs — without the
      -- hint each cost join re-evaluates its full upstream INCLUDING
      -- all three greedy chains (measured minutes instead of seconds)
      l0km AS MATERIALIZED (SELECT src, dst FROM l0k5),
      l1km AS MATERIALIZED (SELECT src, dst FROM l1k5),
      l2km AS MATERIALIZED (SELECT src, dst FROM l2k5),
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2km")},
${walkCtes("m", 1, 5, gName = "l1km", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0km", init = Some("mb1"))},
      walk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM wb1)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits
        FROM exact e
        LEFT JOIN walk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${layeredCostSql("cost", "t", Seq("m", "w"), 1)}
      SELECT h.q_id, CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 1000000 // 5 AS BIGINT) AS recall_micro,
             c.dist_evals, c.frontier
      FROM hits h JOIN cost c ON c.q_id = h.q_id
      ORDER BY h.q_id
    """))

  // --------------------------------------------------------------- q318
  // O(deleted) PRUNED-graph PURGE — the rewrite verb behind q313's
  // mask, closing the pruned column's delete cell with a worked gate:
  // deletion never changes a surviving vector, so only the sources
  // the q268 purge re-elected (adjacent to a deleted dst) re-prune;
  // every other live source's STORED pruned rows pass through
  // verbatim (a pruned row with a dead dst cannot reach the
  // passthrough — pruned ⊆ stored makes its src adjacent). Oracle =
  // the full greedy over the full survivor rebuild (q268's
  // restriction + q306's chain).
  private val q318 = Q(
    "q318_pruned_graph_purge",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val storedIndex = graft.queries.SimFixtures.flatIndex(s, dir)
      val storedGraph = graft.queries.SimFixtures.flatGraph(s, dir)
      val storedPruned = graft.queries.SimFixtures.prunedFlat(s, dir)
      graft.operators.Similarity.purgePrunedKnnGraph(storedGraph,
          storedPruned, storedIndex,
          e.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
          k = 5)
        .orderBy(col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes("a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0")},
${seedgCte},
${rngKeptCtes(5, 1, 1)}
      SELECT src, dst, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM kept5)
      ORDER BY src, rnk
    """))

  // --------------------------------------------------------------- q319
  // RECALL-per-α over the FLAT prune sweep — the half of the DiskANN
  // tuning curve q308's edge census cannot show: an operator commits
  // a prune level by what it does to SERVED recall at a fixed walk
  // budget next to what it saves in distance evaluations, so each
  // sweep point prunes (map-only fold over the ONE shared pair
  // table), walks the pruned graph at q307's exact (entryK=2, beam=5,
  // hops=2) budget, and reports the aggregated recall/cost pair. Read
  // with q308 the two gates are the full curve: edges kept AND recall
  // bought, per α. Oracle replays all three greedy chains and all
  // three walks.
  private val q319 = Q(
    "q319_pruned_recall_alpha_sweep",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse, idx, q,
        "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      // the sweep serves from the STORED fold cache (the tuning
      // artifact a deployment persists next to the graph) — every α
      // is a map-only fold over the parquet scan + one variant walk
      graft.operators.Similarity.pruneRecallSweepFrom(
          graft.queries.SimFixtures.foldCacheFlat(s, dir), e,
          "vec_id", "embedding", q, exact, k = 5,
          alphas = Seq((1L, 1L), (2L, 3L), (3L, 2L)), entryK = 2,
          beam = 5, hops = 2, topK = 5)
        .orderBy(col("a_num"), col("a_den"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${seedGraphCtes()},
${seedgCte},
${rngKeptCtes(5, 1, 1, p = "ka")},
${rngKeptCtes(5, 2, 3, p = "kb")},
${rngKeptCtes(5, 3, 2, p = "kc")},
      pga AS (SELECT src, dst FROM ka5),
      pgb AS (SELECT src, dst FROM kb5),
      pgc AS (SELECT src, dst FROM kc5),
      ent AS (SELECT vec_id AS dst FROM embeddings ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("a", 2, 5, gName = "pga")},
${walkCtes("b", 2, 5, gName = "pgb")},
${walkCtes("c", 2, 5, gName = "pgc")},
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      awalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM ab2)
        WHERE rnk <= 5),
      bwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM bb2)
        WHERE rnk <= 5),
      cwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM cb2)
        WHERE rnk <= 5),
      ahits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN awalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      bhits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN bwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      chits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN cwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${walkCostSql("a", 2)},
${walkCostSql("b", 2)},
${walkCostSql("c", 2)},
      rows_ AS (
        SELECT 1 AS a_num, 1 AS a_den,
               (SELECT COUNT(*) FROM ahits) AS n_queries,
               (SELECT SUM(n_hits) FROM ahits) AS hits_total,
               (SELECT SUM(dist_evals) FROM acost) AS evals_total,
               (SELECT SUM(frontier) FROM acost) AS frontier_total
        UNION ALL
        SELECT 2, 3,
               (SELECT COUNT(*) FROM bhits),
               (SELECT SUM(n_hits) FROM bhits),
               (SELECT SUM(dist_evals) FROM bcost),
               (SELECT SUM(frontier) FROM bcost)
        UNION ALL
        SELECT 3, 2,
               (SELECT COUNT(*) FROM chits),
               (SELECT SUM(n_hits) FROM chits),
               (SELECT SUM(dist_evals) FROM ccost),
               (SELECT SUM(frontier) FROM ccost))
      SELECT CAST(a_num AS BIGINT) AS a_num,
             CAST(a_den AS BIGINT) AS a_den,
             CAST(n_queries AS BIGINT) AS n_queries,
             CAST(hits_total AS BIGINT) AS hits_total,
             CAST(hits_total * 1000000 // (5 * n_queries) AS BIGINT)
               AS recall_micro_mean,
             CAST(evals_total AS BIGINT) AS evals_total,
             CAST(frontier_total AS BIGINT) AS frontier_total
      FROM rows_
      ORDER BY a_num, a_den
    """))

  // --------------------------------------------------------------- q320
  // RECALL-per-α over the LAYERED prune sweep — q319's curve where
  // the pruned table actually serves (the q312 descent): each α
  // prunes EVERY layer in the one (layer, src)-keyed fold (fold input
  // shared across layers and αs), then the full descent walks the
  // per-α pruned stack at q317's exact (entryK=2, beam=5,
  // hopsPerLayer=1) budget. One row per α — the descent spans all
  // layers, so this knee picks the TABLE-level α while q315's
  // per-(layer, α) edge census attributes it by layer. Oracle replays
  // all nine per-layer greedy chains and all three chained descents.
  private val q320 = Q(
    "q320_layered_recall_alpha_sweep",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse, idx, q,
        "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      // served from the STORED layered fold cache (see q319)
      graft.operators.Similarity.pruneLayeredRecallSweepFrom(
          graft.queries.SimFixtures.foldCacheLayered(s, dir), e,
          "vec_id", "embedding", q, exact, k = 5, maxLayer = 2,
          alphas = Seq((1L, 1L), (2L, 3L), (3L, 2L)), entryK = 2,
          beam = 5, hopsPerLayer = 1, topK = 5)
        .orderBy(col("a_num"), col("a_den"))
    },
    Some {
      val chains = (0 to 2).flatMap { l =>
        Seq(("a", 1L, 1L), ("b", 2L, 3L), ("c", 3L, 2L)).map {
          case (t, n, d) =>
            rngKeptCtes(5, n, d, gName = s"l${l}gr", p = s"l${l}k$t")
        }
      }.mkString(",")
      val kms = (0 to 2).flatMap { l =>
        Seq("a", "b", "c").map { t =>
          s"""l${l}k${t}m AS MATERIALIZED (SELECT src, dst FROM l${l}k${t}5)"""
        }
      }.mkString(",\n      ")
      val walks = Seq("a", "b", "c").map { t =>
        raw"""
${walkCtes(s"${t}t", 1, 5, gName = s"l2k${t}m")},
${walkCtes(s"${t}m", 1, 5, gName = s"l1k${t}m", init = Some(s"${t}tb1"))},
${walkCtes(s"${t}w", 1, 5, gName = s"l0k${t}m", init = Some(s"${t}mb1"))}"""
      }.mkString(",")
      val hits = Seq("a", "b", "c").map { t =>
        raw"""
      ${t}hits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN (
          SELECT q_id, dst AS n_id FROM (
            SELECT q_id, dst,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY d2 ASC, dst ASC) AS rnk
            FROM ${t}wb1)
          WHERE rnk <= 5) w
          ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id)"""
      }.mkString(",")
      val costs = Seq("a", "b", "c").map { t =>
        layeredCostSql(s"${t}cost", s"${t}t", Seq(s"${t}m", s"${t}w"), 1)
      }.mkString(",")
      val rows = Seq(("a", 1, 1), ("b", 2, 3), ("c", 3, 2)).map {
        case (t, n, d) =>
          s"""SELECT $n AS a_num, $d AS a_den,
               (SELECT COUNT(*) FROM ${t}hits) AS n_queries,
               (SELECT SUM(n_hits) FROM ${t}hits) AS hits_total,
               (SELECT SUM(dist_evals) FROM ${t}cost) AS evals_total,
               (SELECT SUM(frontier) FROM ${t}cost) AS frontier_total"""
      }.mkString("\n        UNION ALL\n        ")
      raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
$chains,
      $kms,
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
$walks,
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
$hits,
$costs,
      rows_ AS (
        $rows)
      SELECT CAST(a_num AS BIGINT) AS a_num,
             CAST(a_den AS BIGINT) AS a_den,
             CAST(n_queries AS BIGINT) AS n_queries,
             CAST(hits_total AS BIGINT) AS hits_total,
             CAST(hits_total * 1000000 // (5 * n_queries) AS BIGINT)
               AS recall_micro_mean,
             CAST(evals_total AS BIGINT) AS evals_total,
             CAST(frontier_total AS BIGINT) AS frontier_total
      FROM rows_
      ORDER BY a_num, a_den
    """
    })

  // --------------------------------------------------------------- q321
  // (beam, hopsPerLayer, maxLayer) SWEEP over the STORED PRUNED
  // layered table — q286's tuning frontier AFTER committing a prune
  // level: thinner out-edges change the frontier economics (each hop
  // re-offers fewer clique repeats), so the (beam, hops) knee an
  // operator tuned on the unpruned graph MOVES, and the serving
  // artifact a deployment actually walks (SimFixtures.prunedLayered)
  // needs its own committed curve. Same three points as q286 — the
  // layered baseline, the flat point at EQUAL hop budget, the wider
  // beam — so the q286-vs-q321 row diff is the prune's effect on the
  // whole frontier, not one operating point. Oracle = the per-layer
  // greedy replay, then q286's walk chains over the kept edges.
  private val q321 = Q(
    "q321_pruned_layered_beam_sweep",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // unpinned: the scheduled walk persists its own fanned edge
      // frame, so the stored table is scanned once
      val lp = graft.queries.SimFixtures.prunedLayered(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse, idx, q,
          "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
        .transform(graft.util.CacheScope.persist)
      // the whole equal-budget frontier from ONE scheduled descent
      // (round 17): entry set, per-hop layer schedule, and beam cap
      // all key by sweep point — was one full walk chain per point
      graft.operators.Similarity.layeredBeamSweepRecallCost(lp, e, q,
          "vec_id", "embedding", exact, 5,
          points = Seq((5, 1, 2), (5, 3, 0), (8, 1, 2)), entryK = 2,
          topK = 5)
        .orderBy(col("beam"), col("hops_per_layer"), col("max_layer"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
${rngKeptCtes(5, 1, 1, gName = "l0gr", p = "l0k")},
${rngKeptCtes(5, 1, 1, gName = "l1gr", p = "l1k")},
${rngKeptCtes(5, 1, 1, gName = "l2gr", p = "l2k")},
      l0km AS MATERIALIZED (SELECT src, dst FROM l0k5),
      l1km AS MATERIALIZED (SELECT src, dst FROM l1k5),
      l2km AS MATERIALIZED (SELECT src, dst FROM l2k5),
      ent4 AS (SELECT vec_id AS dst FROM embeddings
               WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      ent1 AS (SELECT vec_id AS dst FROM embeddings
               ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("at", 1, 5, gName = "l2km", entName = "ent4")},
${walkCtes("am", 1, 5, gName = "l1km", init = Some("atb1"))},
${walkCtes("aw", 1, 5, gName = "l0km", init = Some("amb1"))},
${walkCtes("f", 3, 5, gName = "l0km", entName = "ent1")},
${walkCtes("xt", 1, 8, gName = "l2km", entName = "ent4")},
${walkCtes("xm", 1, 8, gName = "l1km", init = Some("xtb1"))},
${walkCtes("xw", 1, 8, gName = "l0km", init = Some("xmb1"))},
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      awalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM awb1)
        WHERE rnk <= 5),
      fwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM fb3)
        WHERE rnk <= 5),
      xwalk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM xwb1)
        WHERE rnk <= 5),
      ahits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN awalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      fhits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN fwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
      xhits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits FROM exact e
        LEFT JOIN xwalk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${layeredCostSql("acost", "at", Seq("am", "aw"), 1)},
${walkCostSql("f", 3)},
${layeredCostSql("xcost", "xt", Seq("xm", "xw"), 1)},
      rows_ AS (
        SELECT CAST(5 AS INTEGER) AS beam,
               CAST(1 AS INTEGER) AS hops_per_layer,
               CAST(2 AS INTEGER) AS max_layer,
               (SELECT COUNT(*) FROM ahits) AS n_queries,
               (SELECT SUM(n_hits) FROM ahits) AS hits_total,
               (SELECT SUM(dist_evals) FROM acost) AS evals_total,
               (SELECT SUM(frontier) FROM acost) AS frontier_total
        UNION ALL
        SELECT CAST(5 AS INTEGER), CAST(3 AS INTEGER),
               CAST(0 AS INTEGER),
               (SELECT COUNT(*) FROM fhits),
               (SELECT SUM(n_hits) FROM fhits),
               (SELECT SUM(dist_evals) FROM fcost),
               (SELECT SUM(frontier) FROM fcost)
        UNION ALL
        SELECT CAST(8 AS INTEGER), CAST(1 AS INTEGER),
               CAST(2 AS INTEGER),
               (SELECT COUNT(*) FROM xhits),
               (SELECT SUM(n_hits) FROM xhits),
               (SELECT SUM(dist_evals) FROM xcost),
               (SELECT SUM(frontier) FROM xcost))
      SELECT beam, hops_per_layer, max_layer,
             CAST(n_queries AS BIGINT) AS n_queries,
             CAST(hits_total AS BIGINT) AS hits_total,
             CAST(evals_total AS BIGINT) AS evals_total,
             CAST(frontier_total AS BIGINT) AS frontier_total,
             CAST(hits_total * 1000000 // (5 * n_queries) AS BIGINT)
               AS recall_micro_mean
      FROM rows_
      ORDER BY beam, hops_per_layer, max_layer
    """))

  // --------------------------------------------------------------- q323
  // Per-layer α COMMIT — the build that CONSUMES q315/q320's tuning
  // curves: a deployment reads the per-(layer, α) census and the
  // recall knee, then commits a DIFFERENT prune level per layer —
  // aggressive on the dense base layer (αDen/αNum = 3/2), classic RNG
  // on the middle, conservative on the sparse top scaffold (2/3 —
  // its few long-range edges are each load-bearing). The mixed build
  // is the SAME one (layer, src)-keyed fold as the uniform q310 (the
  // α lands as a plan-literal array indexed by the row's layer), so
  // committing per-layer levels costs nothing over the uniform build.
  // Oracle replays the three greedy chains, each at its layer's α.
  private val q323 = Q(
    "q323_mixed_alpha_layered_prune",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      graft.operators.Similarity.pruneLayeredGraphRngPerLayer(lg, e,
          "vec_id", "embedding", k = 5,
          alphas = Seq((2L, 3L), (1L, 1L), (3L, 2L)))
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
${rngKeptCtes(5, 2, 3, gName = "l0gr", p = "l0k")},
${rngKeptCtes(5, 1, 1, gName = "l1gr", p = "l1k")},
${rngKeptCtes(5, 3, 2, gName = "l2gr", p = "l2k")}
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM l0k5
        UNION ALL
        SELECT 1, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM l1k5
        UNION ALL
        SELECT 2, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM l2k5)
      ORDER BY layer, src, rnk
    """))

  // --------------------------------------------------------------- q324
  // O(changed) FOLD-CACHE refresh after a graph UPSERT — the round-18
  // lifecycle verb for the stored tuning cache: q308/q319 serve their
  // curves from the cache with NO corpus access, so a graph upsert
  // that strands it stale produces a confidently WRONG tuning curve
  // (the worst failure mode a tuning artifact has). A cache row is a
  // pure per-source function of (rank list, neighbor vectors) —
  // exactly the pruned-table property — so the refresh reuses the
  // q309 changed-source superset verbatim (shared code): changed
  // sources' fold-input rows recompute over the post-upsert vectors,
  // every other row passes through verbatim. The gate REFRESHES the
  // stored fine-geometry cache under the q309 batch, then serves the
  // full α census from the refreshed cache — so the oracle (the
  // census of the full restated rebuild, replayed greedy-by-greedy)
  // catches any stale or mis-refreshed row that could bend a curve.
  // Incremental ≡ rebuild is ALSO spec-pinned bit-for-bit (PqSpec).
  private val q324 = Q(
    "q324_fold_cache_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarseF(s, dir)
      val storedIndex = graft.queries.SimFixtures.flatIndexF(s, dir)
      val storedGraph = graft.queries.SimFixtures.flatGraphF(s, dir)
      val storedCache = graft.queries.SimFixtures.foldCacheFlatF(s, dir)
      // pinned: the refresh's ids/cells/vecs derivations re-read the
      // batch index (the q309 pin rationale)
      val batchIndex = graft.util.CacheScope.persist(
        graft.operators.Ivf.flatIndex(coarse,
          e.filter(col("vec_id") % 307 === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", Nil))
      graft.operators.Similarity.pruneSweepFrom(
          graft.operators.Similarity.upsertPruneFoldCache(storedGraph,
            storedCache, storedIndex, batchIndex, k = 5),
          k = 5, alphas = Seq((1L, 1L), (2L, 3L), (3L, 2L)))
        .orderBy(col("a_num"), col("a_den"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes(cells = 64)},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 307 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
      seedsc2 AS MATERIALIZED (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               CAST(list_dot_product(va.qvec, va.qvec)
                 - 2.0 * list_dot_product(va.qvec, vb.qvec)
                 + list_dot_product(vb.qvec, vb.qvec) AS BIGINT) AS d2
        FROM cellof2 a
        JOIN cellof2 b ON b.cid = a.cid AND b.vec_id <> a.vec_id
        JOIN vx2 va ON va.vec_id = a.vec_id
        JOIN vx2 vb ON vb.vec_id = b.vec_id),
      seedg AS MATERIALIZED (
        SELECT src, dst, d2, rnk FROM (
          SELECT src, dst, d2,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM seedsc2)
        WHERE rnk <= 5),
${rngKeptCtes(5, 1, 1, vxName = "vx2", p = "ka")},
${rngKeptCtes(5, 2, 3, vxName = "vx2", p = "kb")},
${rngKeptCtes(5, 3, 2, vxName = "vx2", p = "kc")},
      dega AS (SELECT src, COUNT(*) AS d FROM ka5 GROUP BY src),
      degb AS (SELECT src, COUNT(*) AS d FROM kb5 GROUP BY src),
      degc AS (SELECT src, COUNT(*) AS d FROM kc5 GROUP BY src),
      stats AS (
        SELECT 1 AS a_num, 1 AS a_den, SUM(d) AS n_edges,
               COUNT(*) AS n_srcs, MAX(d) AS max_degree
        FROM dega
        UNION ALL
        SELECT 2, 3, SUM(d), COUNT(*), MAX(d) FROM degb
        UNION ALL
        SELECT 3, 2, SUM(d), COUNT(*), MAX(d) FROM degc)
      SELECT CAST(a_num AS BIGINT) AS a_num,
             CAST(a_den AS BIGINT) AS a_den,
             CAST(n_edges AS BIGINT) AS n_edges,
             CAST(n_srcs AS BIGINT) AS n_srcs,
             CAST(max_degree AS BIGINT) AS max_degree
      FROM stats
      ORDER BY a_num, a_den
    """))

  // --------------------------------------------------------------- q325
  // LAYERED fold-cache refresh under PURGE — q324's delete direction
  // where the cache actually serves the descent curves (q315/q320):
  // tombstones drop their (layer, src) rows, each layer's EXACT
  // re-election set (sources adjacent to a deleted dst — deletion
  // never changes a surviving vector, so nothing else can move)
  // recomputes in ONE (layer, src)-keyed pass over one pair table,
  // every other row passes through verbatim. Serves the per-(layer,
  // α) census from the refreshed cache; oracle = the full survivor
  // rebuild's nine greedy chains censused (q318's survivor-corpus
  // discipline × q315's census tail).
  private val q325 = Q(
    "q325_layered_fold_cache_purge",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      val cache = graft.queries.SimFixtures.foldCacheLayered(s, dir)
      graft.operators.Similarity.pruneLayeredSweepFrom(
          graft.operators.Similarity.purgePruneLayeredFoldCache(lg,
            cache, idx,
            e.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
            k = 5, maxLayer = 2),
          k = 5, maxLayer = 2,
          alphas = Seq((1L, 1L), (2L, 3L), (3L, 2L)))
        .orderBy(col("layer"), col("a_num"), col("a_den"))
    },
    Some {
      val live = "a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0"
      val chains = (0 to 2).flatMap { l =>
        Seq(("a", 1L, 1L), ("b", 2L, 3L), ("c", 3L, 2L)).map {
          case (t, n, d) =>
            rngKeptCtes(5, n, d, gName = s"p${l}gr", p = s"p${l}k$t")
        }
      }.mkString(",")
      val census = (0 to 2).flatMap { l =>
        Seq(("a", 1, 1), ("b", 2, 3), ("c", 3, 2)).map { case (t, n, d) =>
          s"""SELECT $l AS layer, $n AS a_num, $d AS a_den,
               SUM(dd) AS n_edges, COUNT(*) AS n_srcs,
               MAX(dd) AS max_degree
        FROM (SELECT src, COUNT(*) AS dd FROM p${l}k${t}5 GROUP BY src)"""
        }
      }.mkString("\n        UNION ALL\n        ")
      raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("p0", live)},
${layerSeedCtes("p1", s"a.vec_id % 2 = 0 AND b.vec_id % 2 = 0 AND $live")},
${layerSeedCtes("p2", s"a.vec_id % 4 = 0 AND b.vec_id % 4 = 0 AND $live")},
${layerRankedCte("p0")},
${layerRankedCte("p1")},
${layerRankedCte("p2")},
$chains,
      stats AS (
        $census)
      SELECT CAST(layer AS INTEGER) AS layer,
             CAST(a_num AS BIGINT) AS a_num,
             CAST(a_den AS BIGINT) AS a_den,
             CAST(n_edges AS BIGINT) AS n_edges,
             CAST(n_srcs AS BIGINT) AS n_srcs,
             CAST(max_degree AS BIGINT) AS max_degree
      FROM stats
      ORDER BY layer, a_num, a_den
    """
    })

  // --------------------------------------------------------------- q326
  // SERVE over the MIXED-α committed table — the consumer q323 was
  // missing: q323 gated the mixed per-layer BUILD, but nothing read
  // the committed artifact, so "mixed prune levels at the uniform
  // build's cost" was proven while "the mixed table serves correctly"
  // was not. This gate runs q312's exact descent (entryK=2, beam=5,
  // hopsPerLayer=1) over the STORED mixed table
  // (SimFixtures.prunedLayeredMixed — aggressive base, classic
  // middle, conservative scaffold), so the q312-vs-q326 row diff is
  // the committed mix's measured effect on the served result. Oracle
  // = the per-layer greedy replay AT EACH LAYER'S α + the chained
  // descent over the kept edges.
  private val q326 = Q(
    "q326_mixed_alpha_layered_search",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lp = graft.queries.SimFixtures.prunedLayeredMixed(s, dir)
      graft.operators.Similarity.layeredGraphSearch(lp, e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          maxLayer = 2, entryK = 2, beam = 5, hopsPerLayer = 1,
          topK = 5)
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
${rngKeptCtes(5, 2, 3, gName = "l0gr", p = "l0k")},
${rngKeptCtes(5, 1, 1, gName = "l1gr", p = "l1k")},
${rngKeptCtes(5, 3, 2, gName = "l2gr", p = "l2k")},
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2k5")},
${walkCtes("m", 1, 5, gName = "l1k5", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0k5", init = Some("mb1"))}
      SELECT q_id, dst AS n_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT q_id, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM wb1)
      WHERE rnk <= 5
      ORDER BY q_id, rnk
    """))

  // --------------------------------------------------------------- q327
  // RECALL/COST audit over the MIXED-α committed table — q326's value
  // half, and the CONSUMER-SIDE verification of the q320 tuning
  // curve: q317 reads the uniform α=1/1 table's recall/cost at this
  // exact budget, so the q317-vs-q327 row diff is what the committed
  // per-layer mix actually bought (the aggressive base's eval cut)
  // and what it cost (any recall loss) — measured on the descent the
  // table serves, not inferred from the build census. Oracle = the
  // mixed per-layer greedy replay + the chained walk + frame counts.
  private val q327 = Q(
    "q327_mixed_alpha_recall_cost",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val lp = graft.queries.SimFixtures.prunedLayeredMixed(s, dir)
      val coarse = graft.queries.SimFixtures.coarse(s, dir)
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Ivf.filteredSearch(coarse, idx, q,
        "vec_id", "embedding", lit(true), nprobe = 8, topK = 5)
      graft.operators.Similarity.layeredRecallCost(lp, e, q, "vec_id",
          "embedding", exact, 5, maxLayer = 2, entryK = 2, beam = 5,
          hopsPerLayer = 1, topK = 5)
        .orderBy(col("q_id"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("l0", "TRUE")},
${layerSeedCtes("l1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0")},
${layerSeedCtes("l2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0")},
${layerRankedCte("l0")},
${layerRankedCte("l1")},
${layerRankedCte("l2")},
${rngKeptCtes(5, 2, 3, gName = "l0gr", p = "l0k")},
${rngKeptCtes(5, 1, 1, gName = "l1gr", p = "l1k")},
${rngKeptCtes(5, 3, 2, gName = "l2gr", p = "l2k")},
      -- MATERIALIZED: the cost block references every chained walk
      -- frame (the q317 DuckDB-inlining rationale)
      l0km AS MATERIALIZED (SELECT src, dst FROM l0k5),
      l1km AS MATERIALIZED (SELECT src, dst FROM l1k5),
      l2km AS MATERIALIZED (SELECT src, dst FROM l2k5),
      ent AS (SELECT vec_id AS dst FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 2),
      qs AS (SELECT vec_id AS q_id, qvec FROM vx WHERE vec_id < 10),
${walkCtes("t", 1, 5, gName = "l2km")},
${walkCtes("m", 1, 5, gName = "l1km", init = Some("tb1"))},
${walkCtes("w", 1, 5, gName = "l0km", init = Some("mb1"))},
      walk AS (
        SELECT q_id, dst AS n_id FROM (
          SELECT q_id, dst,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY d2 ASC, dst ASC) AS rnk
          FROM wb1)
        WHERE rnk <= 5),
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.qvec, q.qvec)
                     - 2.0 * list_dot_product(q.qvec, n.qvec)
                     + list_dot_product(n.qvec, n.qvec) ASC,
                   n.vec_id ASC) AS rnk
          FROM vx q, vx n
          WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id)
        WHERE rnk <= 5),
      hits AS (
        SELECT e.q_id, COUNT(w.n_id) AS n_hits
        FROM exact e
        LEFT JOIN walk w ON w.q_id = e.q_id AND w.n_id = e.n_id
        GROUP BY e.q_id),
${layeredCostSql("cost", "t", Seq("m", "w"), 1)}
      SELECT h.q_id, CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 1000000 // 5 AS BIGINT) AS recall_micro,
             c.dist_evals, c.frontier
      FROM hits h JOIN cost c ON c.q_id = h.q_id
      ORDER BY h.q_id
    """))

  // --------------------------------------------------------------- q329
  // O(deleted) PRUNED-LAYERED purge — the delete direction q311's
  // upsert left open (the flat pruned table has had q318 since round
  // 16; the LAYERED serving table — where HNSW actually lives — could
  // until now only mask-forever or full-rebuild after deletes):
  // purgeLayeredKnnGraph composed with a re-prune of ONLY the
  // (layer, src) pairs it re-elected, all layers in ONE keyed fold
  // over one pair table (deletion never changes a surviving vector,
  // so per layer the changed set is the EXACT adjacency set — the
  // q318 argument with layer in the key). Every other live row passes
  // through verbatim. Oracle = the full per-layer greedy over the
  // full survivor rebuild (q318's survivor-corpus discipline × q310's
  // per-layer chains).
  private val q329 = Q(
    "q329_pruned_layered_purge",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val idx = graft.queries.SimFixtures.flatIndex(s, dir)
      val lg = graft.queries.SimFixtures.layeredSeed(s, dir)
      val lp = graft.queries.SimFixtures.prunedLayered(s, dir)
      graft.operators.Similarity.purgePrunedLayeredKnnGraph(lg, lp,
          idx, e.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
          k = 5, maxLayer = 2)
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some {
      val live = "a.vec_id % 5 <> 0 AND b.vec_id % 5 <> 0"
      raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes()},
${layerSeedCtes("p0", live)},
${layerSeedCtes("p1", s"a.vec_id % 2 = 0 AND b.vec_id % 2 = 0 AND $live")},
${layerSeedCtes("p2", s"a.vec_id % 4 = 0 AND b.vec_id % 4 = 0 AND $live")},
${layerRankedCte("p0")},
${layerRankedCte("p1")},
${layerRankedCte("p2")},
${rngKeptCtes(5, 1, 1, gName = "p0gr", p = "p0k")},
${rngKeptCtes(5, 1, 1, gName = "p1gr", p = "p1k")},
${rngKeptCtes(5, 1, 1, gName = "p2gr", p = "p2k")}
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM p0k5
        UNION ALL
        SELECT 1, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM p1k5
        UNION ALL
        SELECT 2, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM p2k5)
      ORDER BY layer, src, rnk
    """
    })

  // --------------------------------------------------------------- q330
  // MIXED-α LAYERED upsert — the maintenance verb the q323 committed
  // artifact was missing (q326/q327 proved the mixed table SERVES;
  // without this verb its first restatement forces a full rebuild —
  // the exact gap the uniform table closed in round 16): the same ONE
  // (layer, src)-keyed fold as q311, with each changed row's re-prune
  // folding at ITS layer's committed α (the q323 plan-literal array
  // indexed by the fold row's layer — mixed maintenance at the
  // uniform verb's cost). Fine geometry + sparse %307 batch (the
  // q309/q311 gate-hygiene rationale); stored table =
  // SimFixtures.prunedLayeredMixedF. Oracle = the full per-layer
  // re-prune of the restated rebuild, each layer at its α.
  private val q330 = Q(
    "q330_mixed_alpha_layered_upsert",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val coarse = graft.queries.SimFixtures.coarseF(s, dir)
      val idx = graft.queries.SimFixtures.flatIndexF(s, dir)
      val lg0 = graft.queries.SimFixtures.layeredSeedF(s, dir)
      val lp0 = graft.queries.SimFixtures.prunedLayeredMixedF(s, dir)
      val batchIndex = graft.util.CacheScope.persist(
        graft.operators.Ivf.flatIndex(coarse,
          e.filter(col("vec_id") % 307 === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", Nil))
      graft.operators.Similarity.upsertPrunedLayeredKnnSeedPerLayer(
          lg0, lp0, idx, batchIndex, k = 5,
          alphas = Seq((2L, 3L), (1L, 1L), (3L, 2L)))
        .orderBy(col("layer"), col("src"), col("rnk"))
    },
    Some(raw"""
      WITH vx AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qvec
        FROM embeddings),
${coarseCtes(cells = 64)},
      vx2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 307 = 0
                    THEN list_transform(generate_series(1, 64),
                           i -> qvec[65 - i])
                    ELSE qvec END AS qvec
        FROM vx),
      cellof2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
          FROM (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.qvec, v.qvec)
                   - 2.0 * list_dot_product(v.qvec, c.cent)
                   + list_dot_product(c.cent, c.cent) AS d2
            FROM vx2 v, co2 c))
        WHERE rn = 1),
${layerSeedCtes("r0", "TRUE", cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("r1", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0",
      cellofName = "cellof2", vxName = "vx2")},
${layerSeedCtes("r2", "a.vec_id % 4 = 0 AND b.vec_id % 4 = 0",
      cellofName = "cellof2", vxName = "vx2")},
${layerRankedCte("r0")},
${layerRankedCte("r1")},
${layerRankedCte("r2")},
${rngKeptCtes(5, 2, 3, gName = "r0gr", vxName = "vx2", p = "r0k")},
${rngKeptCtes(5, 1, 1, gName = "r1gr", vxName = "vx2", p = "r1k")},
${rngKeptCtes(5, 3, 2, gName = "r2gr", vxName = "vx2", p = "r2k")}
      SELECT CAST(layer AS INTEGER) AS layer, src, dst, d2,
             CAST(rnk AS INTEGER) AS rnk
      FROM (
        SELECT 0 AS layer, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC) AS rnk
        FROM r0k5
        UNION ALL
        SELECT 1, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM r1k5
        UNION ALL
        SELECT 2, src, dst, d2,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY d2 ASC, dst ASC)
        FROM r2k5)
      ORDER BY layer, src, rnk
    """))

  def all: Seq[Q] = Seq(q20, q21, q22, q36, q104, q110, q118, q133, q138,
    q162, q173, q184, q185, q186, q189, q194, q195, q197, q198, q199,
    q201, q202, q203, q204, q205, q207, q208, q209, q211, q212, q216,
    q217, q218, q219, q220, q221, q229, q230, q231, q234, q235, q236,
    q237, q238, q239, q240, q241, q247, q248, q249, q250, q251, q252,
    q255, q256, q257, q260, q261, q263, q264, q265, q266, q267, q268,
    q269, q270, q271, q272, q273, q274, q275, q276, q277, q278, q279,
    q280, q281, q282, q283, q284, q285, q286, q287, q288, q289, q290,
    q291, q292, q293, q294, q295, q296, q297, q298, q299, q301, q302,
    q303, q304, q305, q306, q307, q308, q309, q310, q311, q312, q313,
    q314, q315, q316, q317, q318, q319, q320, q321, q323, q324, q325,
    q326, q327, q329, q330)
}
