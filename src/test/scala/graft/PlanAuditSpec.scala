package graft

import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide physical-plan audit: no registered query may plan an
  * unbounded all-pairs join. CartesianProduct and
  * BroadcastNestedLoopJoin are the two shapes that stop scaling at
  * 100 TB. Three audited exceptions, all cross joins whose build side
  * is a broadcast of CONSTANT size (cost linear in n, not n²):
  * q20's brute-force baseline (n × the bounded query set), q36's
  * IVF assignment (n × the ≤ numCentroids codebook), q68's
  * corpus-constant fan-in (vocab × the ONE-row distinct-source count —
  * a literal-key equi-join constant-folds to this same shape), q73's
  * two corpus-constant fans (the 1-row total and the 1-row boilerplate
  * vocabulary array), q75's int8 re-run of the q20 baseline (n × the
  * bounded query set), q76's k-means machinery (n × the ≤
  * numCentroids codebook, q36's class), q91's 1-row bigram-total
  * fan (q68/q73's corpus-constant class), and q106's 1-row
  * (n_docs, avgdl) fan (same class).
  */
class PlanAuditSpec extends SparkSpec {

  private val boundedCrossJoinAllowed =
    Set("q20_ann_bruteforce", "q36_ann_ivf", "q68_tfidf_keywords",
      "q73_boilerplate_scrub", "q75_ann_int8", "q76_semantic_dedup",
      "q80_ann_binary_rescore", "q81_column_profile",
      "q91_bigram_collocations",
      // q106's 1-row (n_docs, avgdl) broadcast fan — q68/q91's
      // corpus-constant class
      "q106_bm25_search",
      // q228 = q106's scoring tail over stored tables — same 1-row
      // avgdl fan
      "q228_bm25_indexed",
      // q110's ≤ numCentroids codebook fan — q36/q76's bounded class
      "q110_incremental_ivf",
      // q118's n × bounded-query-panel scan — q20/q75's bounded class
      // (the positives anti-join stays an equi-join, not a cross)
      "q118_hard_negatives",
      // q132's three 1-row merge fans (batch agg, novelty count,
      // source census) — q68/q106's corpus-constant class
      "q132_incremental_datasheet",
      // q133's corpus × bounded-eval-panel scan — q20/q118's bounded
      // class (the per-doc argmax folds map-side before the exchange)
      "q133_semantic_decontam",
      // q138's coarse tier: corpus × bounded query panel on TRUNCATED
      // vectors (q20's class); the rerank pass is equi-joins on the
      // ≤ |Q|·shortlist survivor frame
      "q138_matryoshka_topk",
      // q162/q173's pair join is aggregate-bounded² (|groups| ×
      // |groups|, both sides per-group aggregate/ledger outputs) —
      // never corpus-sized
      "q162_group_affinity", "q173_incremental_group_affinity",
      // PQ family: training/probing fan the bounded codebook over the
      // corpus (q36/q110's class); q184's scorer additionally fans the
      // bounded query panel (one broadcast map row per query — q20's
      // class); q185/q186 route through coarse cells, so the scorer is
      // a cell-keyed equi-join and only the codebook/query-table fans
      // remain cross-shaped
      "q184_pq_adc_topk", "q185_ivf_pq_topk", "q186_residual_ivf_pq",
      // q195 = q185's chain (same bounded codebook/query-panel fans)
      // + a rerank that is pure equi-joins on the ≤ |Q|·shortlist
      // frame — no new cross-shaped fan
      "q195_ivf_pq_rerank",
      // q207 = q185's search over the permuted layout (the in-row
      // reorder is a projection) — same bounded coarse-probe and
      // query-table fans, nothing new crosses
      "q207_permuted_pq_index_search",
      // q208 = q185's stored-table search + q195's equi-join rerank
      // on the ≤ |Q|·shortlist frame — the same bounded fans
      "q208_stored_rerank_funnel",
      // q197's coarse assignment fans the one-row gathered codebook
      // over the corpus (q36/q110's bounded class) and folds in-row,
      // the residual computing in the same row; the residual-PQ encode
      // is sub-keyed equi-joins onto one gathered row per subspace, the
      // append a union (q194 needs no exception: its PQ assign path is
      // equi-joins only)
      "q197_residual_pq_index_append",
      // q198/q202's assignment fans the ≤8-row codebook — q36/q110's
      // class; the nearest-centroid fold runs in-row against the one
      // broadcast codebook row, the health aggregate exchanges
      // per-(task, cell) partials, and q202's ledger merge is
      // ledger-sized
      "q198_ann_index_health", "q202_incremental_index_health",
      // q211 runs q198's cellHealth fan twice (stored build + the
      // O(deleted) retraction score) — same ≤8-row codebook class;
      // the ledger retract and the codes anti-join are key-equi
      "q211_index_purge",
      // q219 = q211's health fans with decontamination-derived
      // tombstones — the shingle side is all equi/semi joins
      "q219_decontam_index_purge",
      // q229 fans the bounded query panel over the codes table —
      // q20/q184's class
      "q229_calibrated_int8_search",
      // q231 runs the q198 cellHealth/assign fans three times (stored
      // build, retract score, new-rows score) — same ≤8-row codebook
      // class
      "q231_index_upsert",
      // q234 routes through coarse cells — the probe fans the ≤8-row
      // codebook over the bounded query panel; the scorer is a
      // cell-keyed equi-join (q185's class)
      "q234_calibrated_ivf_search",
      // q189's assignment fans the ≤8-row codebook — q36/q110's class
      "q189_topic_census",
      // q235/q238 probe + flatIndex assignment fan the ≤8-row coarse
      // codebook (q36/q110's class); the candidate scorer is a
      // cell-keyed equi-join (q185's class)
      "q235_filtered_ivf_search",
      "q238_serving_stack",
      // q236 = q234's fans with the tombstone anti-join added — the
      // mask is an equi anti-join, nothing new crosses
      "q236_tombstone_masked_search",
      // q237's per-segment assignment fans the ≤8-row coarse codebook
      // over each (bounded-count) segment — q36/q110's class
      "q237_segment_compaction",
      // q239/q240 run the q234 routed chain and the probing-all exact
      // baseline side by side (sweep: per nprobe value) — every cross
      // fan is the ≤8-row codebook or the bounded query panel; the
      // recall join is an O(queries·k) equi semi-join
      "q239_recall_audit",
      "q240_nprobe_sweep",
      // q241 = q234's fans + the rerank tail's broadcast shortlist /
      // query panel onto one base scan (q195/q208's class)
      "q241_calibrated_rerank_funnel",
      // q247 composes q237's per-segment assignment fans with q234's
      // probe fan — every cross is the ≤8-row coarse codebook or the
      // bounded query panel; compaction, mask, and scoring are
      // id/cell-keyed equi-joins
      "q247_index_lifecycle",
      // q248 = q234's fans with the attributed flatIndex build (one
      // more ≤8-row codebook fan) and a predicate on the assignment
      // scan — q235's class on the calibrated axis
      "q248_filtered_calibrated_search",
      // q249 = q247's segment fans with an as-of cutoff predicate —
      // same ≤8-row codebook class, nothing new crosses
      "q249_time_travel_search",
      // q242 fans the 1-row query panel (bruteTopK, q20's class) and
      // bm25's 1-row (n_docs, avgdl) total (q106's class); the fusion
      // itself is a bounded union + aggregate
      "q242_hybrid_rrf_search",
      // q243 fans two 1-row totals (n_all for the tf-idf, the bm25
      // tail's navg) — q68/q106's class
      "q243_more_like_this",
      // q250 = q185's fans (≤8-row coarse probe, sub-keyed codebook
      // join, per-query broadcast lookup maps) with the flatIndex
      // attribute build (one more ≤8-row codebook fan) and a
      // predicate on the assignment scan — q248's class on the PQ
      // axis; the candidate scorer stays a cell-keyed equi-join
      "q250_filtered_pq_search",
      // q251 = q186's fans (≤8-row coarse probe/assign, residual
      // sub-keyed codebook joins, nq·nprobe·m·k broadcast lookup
      // tables) with the attributed residualEncode and a predicate on
      // the stored scan — nothing new crosses
      "q251_filtered_residual_search",
      // q252 builds the pillar it manifests: the ≤8-row coarse
      // codebook fan (q36/q110's class) feeds the assignment table;
      // the manifests themselves are one partial-combining aggregate
      // per table — no fan
      "q252_index_manifest",
      // q253 serves q228's scoring tail from the compacted postings —
      // the same 1-row (n_docs, avgdl) fan (q106's corpus-constant
      // class); election and clustering are id/token-keyed exchanges
      "q253_postings_compaction",
      // q254 fans TWO 1-row frames (the stored stats ledger × the
      // O(deleted) correction, then the corrected pair into scoring)
      // — q106's corpus-constant class; the mask itself is a
      // broadcast anti equi-join
      "q254_tombstone_masked_bm25",
      // q255 composes q247/q249's per-segment assignment fans (the
      // ≤8-row coarse codebook, three segments + the probe) under the
      // as-of cutoff; election, generation pin, mask, and scoring are
      // id/cell-keyed equi-joins — nothing new crosses
      "q255_serving_stack_asof",
      // q256 = q241's fans (≤8-row coarse probe + the attributed
      // flatIndex build) with the predicate on the assignment scan;
      // the rerank tail broadcasts the ≤ |Q|·shortlistK survivor
      // frame (q195/q208's class)
      "q256_filtered_rerank_funnel",
      // q260 fans the bounded query BAG (|Q|·m_q ≤ 20 rows) over one
      // pass of the document-vector table — q20's constant-broadcast
      // class; both aggregates partial-combine before their exchanges
      "q260_maxsim_topk",
      // q261 = q260's scorer behind the ≤8-row coarse probe fan
      // (q185's class); the candidate restriction and bag joins are
      // id/cell-keyed equi-joins
      "q261_routed_maxsim",
      // q262 = q228's scoring tail over the attribute-filtered stored
      // tables — the same 1-row (n_docs, avgdl) fan (q106's class)
      "q262_filtered_bm25",
      // q263's only cross fans are the ≤8-row coarse codebook
      // (training + flatIndex assignment — q36/q110's class); the
      // seed self-join is cell-keyed, the hop and rescore joins are
      // id-keyed with k-bounded fans
      "q263_nn_descent_graph",
      // q264 fans the bounded query panel × the entryK-row entry set
      // (both bounded — q20's class) plus q263's coarse-codebook
      // build fans; every hop is a broadcast equi-join over the edge
      // and base scans
      "q264_graph_search",
      // q265's only cross fans are the ≤8-row coarse codebook build/
      // assignment (q36's class); the merge itself is cell/id-keyed
      // equi-joins with batch-proportional left sides
      "q265_incremental_knn_graph",
      // q266 = q264's walk fans + q239's probing-all exact baseline
      // (≤8-row coarse probe); the audit join is O(queries·k)
      "q266_graph_recall_audit",
      // q267/q270 = q264's walk fans (bounded query panel × entryK
      // entries + per-hop broadcast beam state); the mask/predicate is
      // an id-keyed anti/inner join over the bounded seen-union
      "q267_masked_graph_search",
      "q270_filtered_graph_search",
      // q268/q269's only cross fans are the ≤8-row coarse codebook
      // build/assignment (q36's class); purge/re-election/append are
      // cell/id-keyed equi-joins with deleted/batch-proportional sides
      "q268_graph_purge",
      "q269_graph_upsert",
      // q271 = three q264-class walks + the probing-all exact baseline
      // over the SAME pinned graph; every fan is the bounded query
      // panel, entry set, or per-hop beam state
      "q271_graph_beam_sweep",
      // q272 = q263's fans run for two refinement rounds — the hop and
      // rescore joins stay id-keyed with k-bounded fans
      "q272_nn_descent_two_rounds",
      // q273 = q261's fans (≤8-row coarse probe + the bounded query
      // bag); the append is one broadcast assign of the batch pooled
      // vectors — q194's class on the multi-vector axis
      "q273_incremental_maxsim",
      // q274 = q261's fans with the attributed flatIndex build (one
      // more ≤8-row codebook fan) and a predicate on the assignment
      // scan — q235's class on the multi-vector axis
      "q274_filtered_maxsim",
      // q275's only cross fans are the ≤8-row coarse codebook build/
      // assignment feeding the two seeds; election and clustering are
      // id-keyed exchanges
      "q275_graph_segments",
      // q276 = the seed build fans; the health report itself is
      // id/cell-keyed joins + partial-combining aggregates
      "q276_graph_health",
      // q277 = three q263-class layer seeds under one ≤8-row coarse
      // codebook; every pair join stays cell-keyed within a layer
      "q277_layered_graph_build",
      // q278 = q277's build fans + q264's walk fans (bounded query
      // panel × the top layer's entryK entries, per-hop broadcast beam
      // state carried across layers)
      "q278_layered_graph_search",
      // q279/q280 = q277's per-layer build fans; the merge/purge
      // themselves are cell/id-keyed equi-joins with batch/deleted-
      // proportional sides (q265/q268's class per layer)
      "q279_layered_graph_append",
      "q280_layered_graph_purge",
      // q281/q282 = q278's descent fans; the mask/predicate is an
      // id-keyed anti/inner join over the bounded seen-union (q267/
      // q270's class on the layered axis)
      "q281_masked_layered_search",
      "q282_filtered_layered_search",
      // q283 composes q280's purge and q279's append fans — the
      // ≤8-row coarse codebook per layer, nothing new crosses
      "q283_layered_graph_upsert",
      // q284 = q277's build fans; the per-layer health report itself
      // is id/cell-keyed joins + partial-combining aggregates (q276's
      // class per layer)
      "q284_layered_graph_health",
      // q285 = q278's descent fans (bounded query panel × entryK
      // entries, per-hop broadcast beam state) + q266's probing-all
      // exact baseline (≤8-row coarse probe); the audit join is
      // O(queries·k), the cost counts are partial-combining aggregates
      // over the bounded hop frames
      "q285_layered_recall_cost",
      // q286 = three q285-class audits over the SAME stored graph —
      // every fan is the bounded query panel, entry set, per-hop beam
      // state, or the ≤8-row probing-all baseline
      "q286_layered_beam_sweep",
      // q287/q288/q289 = q261's routed-MaxSim fans (≤8-row coarse
      // probe + the bounded query bag); the purge/mask is an id-keyed
      // anti-join, the upsert append one broadcast assign of the
      // restated pooled vectors (q273's class)
      "q287_maxsim_purge",
      "q288_maxsim_upsert",
      "q289_masked_maxsim",
      // q290 = q283's upsert fans (the per-layer purge/append under
      // the ≤8-row codebook); the (layer, src) election and clustering
      // are key-partitioned exchanges, no fan
      "q290_layered_graph_segments",
      // q291 = q277's per-layer seed fans run through q272's two
      // descent rounds — hop and rescore joins stay id-keyed with
      // k-bounded fans per layer
      "q291_layered_nn_descent",
      // q292/q293 = q260's exact-MaxSim fan (the bounded query bag —
      // |Q|·4 rows — broadcast onto one pass over the compacted/as-of
      // bag table); election and as-of are key-partitioned exchanges
      "q292_maxsim_segments",
      "q293_maxsim_asof",
      // q294/q295/q296 = q184's ADC serve fans over the STORED codes
      // table (the per-query lookup-table rows — bounded panel ≤ 10 —
      // broadcast onto one pass over the compressed scan); the
      // filter/mask/as-of land as a plain column filter, an id-keyed
      // anti-join, and a segment election BEFORE the scorer
      "q294_filtered_adc_search",
      "q295_masked_adc_search",
      "q296_pq_asof_serve",
      // q297 = q198's cellHealth assignment fan (≤8-row codebook);
      // the bag stats are id/cell-keyed joins + partial-combining
      // aggregates
      "q297_maxsim_bag_health",
      // q298 = q261's routed fans + q260's exact-MaxSim fan (bounded
      // query bag) + probeCost's ≤8-row probe fan; the recall join is
      // O(queries·k)
      "q298_maxsim_recall_cost",
      // q300 serves q228's scoring tail (1-row stats fan) from the
      // as-of-elected postings
      "q300_postings_asof_serve",
      // q301 = q242's fusion with q264's walk fans as the vector side
      // (bounded single-query panel × entryK entries, per-hop
      // broadcast beam state) + the 1-row BM25 stats fan
      "q301_graph_hybrid_rrf",
      // q303 = q185's routed-ADC fans (≤8-row coarse probe, bounded
      // query panel's lookup-table rows) + q20's brute-baseline fan
      // (bounded panel over one base pass) + probeCost's ≤8-row probe;
      // the recall join is O(queries·k)
      "q303_pq_recall_cost",
      // q304 = q184's ADC serve fan over the upserted codes table; the
      // purge is an id-keyed anti-join, the re-encode one broadcast
      // codebook pass over the restated slice (q194's class)
      "q304_pq_upsert",
      // q305 = q260's exact-MaxSim fan (single-query bag — 4 rows —
      // broadcast onto one base pass) + the 1-row BM25 stats fan
      "q305_maxsim_hybrid_rrf",
      // q307 = q266's walk fans over the PRUNED graph (bounded query
      // panel × entryK entries, per-hop broadcast beam state) +
      // filteredSearch's ≤8-row probing-all baseline; the prune
      // itself (q306) is k-bounded id-keyed joins with no fan
      "q307_pruned_graph_recall_cost",
      // q309 = q269's upsert fans (the batch flatIndex's ≤8-row coarse
      // assignment); the re-prune and passthrough are id/cell-keyed
      // joins with batch-proportional broadcast sides
      "q309_pruned_graph_upsert",
      // q311 = q309's fans applied per layer (the one batch flatIndex
      // coarse fan; per-layer slices are pushed parquet filters)
      "q311_layered_pruned_upsert",
      // q312 = q278's descent fans over the STORED pruned layered
      // table (bounded query panel × entryK entries, per-hop broadcast
      // beam state carried across layers); the table swap adds nothing
      "q312_pruned_layered_search",
      // q313/q314 = q267/q270's walk fans over the stored pruned flat
      // table; the mask/predicate is an id-keyed anti/inner join over
      // the bounded seen-union
      "q313_masked_pruned_search",
      "q314_filtered_pruned_search",
      // q317 = q285's descent fans over the stored pruned layered
      // table + the ≤8-row probing-all exact baseline; the audit join
      // is O(queries·k), the cost counts partial-combining aggregates
      "q317_pruned_layered_recall_cost",
      // q319 = three q307-class walks (bounded query panel × entryK
      // entries, per-hop broadcast beam state) over the per-α folds of
      // ONE shared pair table + the ≤8-row probing-all baseline; the
      // folds themselves are k-bounded id-keyed joins with no fan
      "q319_pruned_recall_alpha_sweep",
      // q320 = three q317-class descents over the per-α layered folds
      // (shared fold input) + the probing-all baseline — same bounded
      // fans per α
      "q320_layered_recall_alpha_sweep",
      // q321 = q286's three sweep-point descents over the STORED
      // pruned layered table + the probing-all baseline; the table
      // swap adds nothing
      "q321_pruned_layered_beam_sweep",
      // q322 fans q106's 1-row (n_docs, avgdl) BM25 total and
      // filteredSearch's ≤8-row probing-all coarse probe (q242's
      // classes); the verdict joins are id/shingle-keyed semi/anti
      // joins, the fusion O(topN)
      "q322_rag_curation_hybrid_serve",
      // q324 = q309's upsert fans (the batch flatIndex's ≤64-row
      // coarse assignment); the cache refresh and the census folds
      // are id/cell-keyed joins + map-only folds with no fan
      "q324_fold_cache_upsert",
      // q326/q327 = q312/q317's descent fans over the STORED mixed-α
      // table (bounded query panel × entryK entries, per-hop
      // broadcast beam state; q327 adds the ≤8-row probing-all
      // baseline); the table swap adds nothing
      "q326_mixed_alpha_layered_search",
      "q327_mixed_alpha_recall_cost",
      // q328 = q313's masked-walk fans (bounded panel × entryK,
      // per-hop broadcast beam state) + the 1-row BM25 stats fan +
      // the ≤20-row lexical list fanned across the 5-query spine;
      // the verdict joins are id/shingle-keyed, the fusion O(|Q|·topN)
      "q328_rag_graph_masked_serve",
      // q330 = q311's upsert fans (the batch flatIndex's ≤64-row
      // coarse assignment); the mixed-α re-prune is the same keyed
      // fold with plan-literal α arrays — no new fan
      "q330_mixed_alpha_layered_upsert")
      // q120 left this list in round 8: its 1-row corpus total now rides
      // a scalar subquery instead of a cross join, so no BNLJ to except

  // q30/q49/q86/q99/q103/q105 drive streaming queries (evaluating them
  // here would run the whole stream); batch twins q12/q38/q03/q08 ARE
  // audited
  private val streamingQueries =
    Set("q30_stream_hourly", "q49_stream_stream_join",
      "q86_stream_static_enrich", "q99_stream_dedup",
      "q103_stream_outer_join", "q105_stream_sessionize",
      "q145_stream_novelty_gate", "q146_stream_novelty_first_arrival",
      "q165_stream_corpus_health", "q188_stream_decontam_gate",
      "q201_stream_pq_encode", "q215_stream_frame_gate",
      "q216_stream_permuted_encode", "q218_stream_index_health",
      "q246_stream_snippet", "q259_stream_manifest",
      "q302_stream_maxsim_assign", "q316_stream_graph_seed_candidates")

  // The allowlist above documents WHY each fan is bounded; this test
  // stops trusting the comments — it EXECUTES every allowlisted query
  // at sf0.001 and measures each cross-shaped join's smaller input via
  // runtime metrics. A fan whose constant side is in fact
  // corpus-sized (the regression the allowlist-by-name discipline
  // could let in) fails here with the measured row count, so a new
  // allowlist entry must be bounded in FACT, not just in prose. The
  // bound sits an order of magnitude above every legitimate constant
  // side in the suite (codebooks k·m ≤ 32, query panels ≤ 10 with
  // nprobe fans ≤ 80, 1-row totals, group-aggregate pairs) and well
  // below the 500-row sf0.001 corpus.
  test("allowlisted cross fans are bounded IN FACT: build sides measured, not trusted") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = "/root/testdata/sf0.001"
    val bound = 128L
    def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
      f(p)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
        case _ => p.children
      }
      kids.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
    }
    // numOutputRows of a subtree: on the node itself, else down the
    // single-child spine (codegen/exchange wrappers)
    def rows(p: SparkPlan): Option[Long] = p match {
      // stage/reuse wrappers nest via fields, not children — recurse
      // through them BEFORE reading metrics (ReusedExchange is a leaf
      // whose own metric map is empty; the original exchange has the
      // count)
      case q: QueryStageExec => rows(q.plan)
      case r: ReusedExchangeExec => rows(r.child)
      case other =>
        other.metrics.get("numOutputRows").map(_.value).orElse {
          if (other.children.size == 1) rows(other.children.head)
          // a Union has no metric of its own and several children —
          // its row count is the children's sum (None if any child is
          // unreadable, so an unmeasurable side still flags)
          else if (other.isInstanceOf[
              org.apache.spark.sql.execution.UnionExec]) {
            val kids = other.children.map(rows)
            if (kids.forall(_.isDefined)) Some(kids.flatten.sum) else None
          }
          else None
        }
    }
    val offenders = boundedCrossJoinAllowed.toSeq.sorted.flatMap { name =>
      val fn = SparkEntry.queries(name)
      graft.util.CacheScope.withScope {
        val df = fn(spark, dir)
        df.collect() // execute so metrics populate (small gate outputs)
        val bad = scala.collection.mutable.ArrayBuffer.empty[String]
        walk(df.queryExecution.executedPlan) {
          case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) =>
            val sides = j.children.map(c => rows(c).getOrElse(-1L))
            val small = if (sides.exists(_ < 0)) -1L else sides.min
            if (small < 0 || small > bound)
              bad += s"$name: ${j.nodeName} smaller side = $small"
          case _ =>
        }
        bad.toSeq
      }
    }
    assert(offenders.isEmpty,
      s"cross fans exceeding the $bound-row constant bound:\n" +
        offenders.mkString("\n"))
  }

  test("no query plans CartesianProduct or BroadcastNestedLoopJoin") {
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if boundedCrossJoinAllowed(name) => None
      case (name, _) if streamingQueries(name) => None
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unbounded all-pairs joins in: ${offenders.mkString(", ")}")
  }

  // Single-partition windows over a BOUNDED-by-aggregation frame,
  // audited by hand (the boundedCrossJoinAllowed discipline). A window
  // above a global `limit` is allowed MECHANICALLY (≤ N rows by
  // construction); an aggregate below a window is NOT generally
  // bounding (groupBy doc_id is corpus-sized), so these name the frame:
  //  - q63/q69/q129: Mixture.uniformMixtureWeights windows over the
  //    per-SOURCE aggregate — ≤ |sources| rows, a handful;
  //  - q74: the cumulative histogram windows over the BIN table —
  //    ≤ max_tokens/16 rows, hundreds.
  private val aggBoundedWindowAllowed =
    Set("q63_mixture_weights", "q69_mixture_downsample",
      "q74_token_histogram", "q129_mixture_epochs",
      // q204: the ranking window runs over the per-DIMENSION energy
      // aggregate — ≤ 64 rows, never the corpus
      "q204_balanced_permutation",
      // q209: both ranking windows (merged + built layouts) run over
      // per-DIMENSION energy LEDGERS — ≤ 64 rows each, q204's class
      "q209_dim_energy_ledger",
      // q243: the TF-IDF term-ranking window runs over ONE document's
      // vocabulary (the qtf aggregate is filtered to the query doc
      // before grouping) — bounded by a single doc's length
      "q243_more_like_this",
      // q244: the final rank window sits above `limit(topN)` but ALSO
      // above the winners→words join, so the mechanical limit
      // detection can't see through it; the join is topN-row broadcast
      // × unique-id words, row-preserving — still ≤ topN rows
      "q244_best_snippet",
      // q245: q244's rank window, winners drawn from the stored
      // postings instead of a fresh tokenization — same ≤ topN bound
      "q245_snippet_indexed")

  test("no registered plan windows over a single partition") {
    // A Window/WindowGroupLimit with an EMPTY partitionSpec plans an
    // Exchange SinglePartition below it: the whole input flows through
    // ONE task for the sort + frame scan — the scale-killer class the
    // round-7 verdict flagged in the Sampling family (q45/q57/q120,
    // since rewritten as two-pass distributed prefix sums). This lint
    // keeps the class extinct: every registered query's physical plan
    // (AQE stages and subquery plans included) must be free of
    // unpartitioned window operators UNLESS the window's input is
    // provably bounded — a global limit below it (the post-`limit(n)`
    // rank pattern: TakeOrderedAndProject heaps do the global work, the
    // window sees ≤ n survivors), or an audited aggregate-bounded frame
    // (aggBoundedWindowAllowed). Single-partition EXCHANGES remain
    // legal — 1-row/bounded global aggregates (corpus totals, the
    // ≤ |ranges| offset folds) are constant-size by construction.
    import org.apache.spark.sql.execution.{SparkPlan,
      TakeOrderedAndProjectExec, GlobalLimitExec, CollectLimitExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      (p +: kids.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    }
    def limitBounded(p: SparkPlan): Boolean = nodes(p).exists {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: CollectLimitExec => true
      case _ => false
    }
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if streamingQueries(name) => None
      case (name, _) if aggBoundedWindowAllowed(name) => None
      case (name, fn) =>
        val bad = nodes(fn(spark, dir).queryExecution.executedPlan).exists {
          case w: WindowExec =>
            w.partitionSpec.isEmpty && !limitBounded(w.child)
          case w: WindowGroupLimitExec =>
            w.partitionSpec.isEmpty && !limitBounded(w.child)
          case _ => false
        }
        if (bad) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"single-partition windows in: ${offenders.mkString(", ")}")
  }

  test("q82 plans the native KMV aggregate, not the distinct+window chain") {
    val plan = SparkEntry.queries("q82_kmv_distinct")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("kmv_sketch"),
      "q82 must aggregate through KmvSketchAgg")
    assert(plan.contains("ObjectHashAggregate"),
      "the typed aggregate must ride the hash-agg fast path")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("row_number"),
      "composed WindowGroupLimit chain resurfaced in q82")
  }

  test("q92 plans the bounded posting aggregate on the hash-agg path") {
    val plan = SparkEntry.queries("q92_inverted_index")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("bounded_min_set"),
      "q92 must build postings through BoundedMinSetAgg")
    assert(!plan.contains("collect_set"),
      "unbounded collect_set buffer resurfaced in q92")
    assert(plan.contains("ObjectHashAggregate"),
      "the typed aggregate must ride the hash-agg fast path")
  }
}
