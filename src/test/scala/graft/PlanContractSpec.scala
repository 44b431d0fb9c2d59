package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression contracts — the tests real engines keep so a
  * refactor can't silently turn a broadcast join into a cartesian
  * product or add a shuffle to a projection-only query. Plans are
  * BUILT, not executed (sf0.001 inputs) — with one cost caveat
  * (ADVICE r17): artifact-backed queries (q_knn_graph, q_substr_dedup,
  * the cell/bucket families) MATERIALIZE their per-dataset artifacts
  * (counts, bucket/gram/edge tables, centroid training) as a side
  * effect of the first plan build, so those queries' first build runs
  * real jobs; at sf0.001 that is still fast, and the contracts below
  * hold either way.
  *
  * Two contracts:
  *  1. Global: no query plans a `CartesianProduct` (the non-broadcast
  *     all-pairs operator — always a bug at scale). Intentional
  *     broadcast nested-loop joins (bounded side) are allowed.
  *  2. Per-query shuffle budgets: selected queries may not exceed a
  *     fixed number of shuffle exchanges. Budgets are UPPER bounds
  *     with headroom 0 — they encode the designed shape (e.g. a
  *     projection + orderBy is exactly 1 shuffle).
  */
class PlanContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)

  /** Shuffle exchanges only: broadcast exchanges are free replication,
    * not repartitioning; reused exchanges were already counted once.
    * Everything else — hash, range, SinglePartition, AND round-robin /
    * rebalance — is a real shuffle and must count against the budget.
    * Counted at the operator-name position of each plan line (after
    * the tree-drawing prefix), because ReusedExchange's argString
    * embeds the referenced exchange's text MID-line — a substring scan
    * would double-count it.
    */
  private def shuffles(plan: String): Int =
    plan.linesIterator.count(
      _.dropWhile(c => "+-:| ".contains(c)).startsWith("Exchange "))

  test("no query ever plans a CartesianProduct") {
    // q_dedup_components runs an iterative driver loop (actions at
    // plan-build time); its joins are all equi-joins, skip the build.
    val names = SparkEntry.queries.keySet - "q_dedup_components"
    val offenders = names.filter(n => planOf(n).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  /** Designed shuffle budgets. A failure here means a plan regressed —
    * decide deliberately whether to raise the budget or fix the plan.
    */
  private val budgets = Map(
    "q_text_tokens" -> 1,      // pure projection + final sort
    "q_text_bpe" -> 2,         // projection + r20 sort barrier + final sort
    "q_rolling_hash" -> 1,     // native expression + final sort
    "q_text_normalize" -> 1,   // per-row normalize + final sort
    "q_sample_stratified" -> 1, // scan-side filter + final sort
    "q_dedup" -> 2,            // one hash agg + final sort
    "q_hash_agg" -> 2,         // partial+final agg (1 exchange) + sort
    "q_count_kept" -> 1,       // global agg to a single row
    "q_lookup_enrich" -> 1,    // broadcast join, no shuffle join + sort
    "q_window_frame" -> 2,     // window repartition + final sort
    "q_cosine_topk" -> 2,      // corpus never shuffles; window + sort
    "q_profile" -> 2,          // single-pass profile (distinct expand)
    "q_ann_ivf" -> 2,          // map-side cell assignment; window + sort only
    "q_pq_adc" -> 2,           // map-side encode + broadcast probes; window + sort only
    "q_kmv" -> 6,              // (type,h) distinct + census agg + 2-phase top-k windows +
                               // final agg + sort; only the distinct moves corpus-sized data
    "q_kmv_overlap" -> 4,      // per-user flag agg + per-h fold + TakeOrdered + single-row agg
    "q_topk_native" -> 2,      // custom partial/final top-k: ONE clustered exchange
                               // (window reuses it) + final sort
    "q_embed_drift" -> 4,      // (label,pos) agg (the one corpus shuffle) + label-
                               // sized global rollup + ||g|| agg + label agg/sort
    "q_silhouette" -> 2,       // map-side trained-quantizer scoring + (cell) agg + sort
    "q_line_dedup" -> 4,       // span-DF distinct-agg (2: (g,doc) dedup + g count) +
                               // per-doc agg + final sort; hot set broadcasts
    "q_setops" -> 2,           // one flag-OR agg + final sort
    "q_lang_id" -> 2,          // tokenize-once projection + agg + sort
    "q_sample_exact_k" -> 3,   // 2-phase top-k: (lang,sub) + lang + sort
    "q_pii_scrub" -> 2,        // redaction projection + r20 sort barrier + final sort
    "q_embed_quant" -> 2,      // quantize projection + r20 sort barrier + final sort
    "q_repetition" -> 3,       // (doc,w) agg + doc agg + final sort
    "q_contamination" -> 4,    // (g,doc) pair-distinct + per-gram flag window + per-doc agg + sort;
                               // single scan; r07: +1 exchange buys df-bounded window skew (ADVICE r06)
    "q_grouping_sets" -> 2,    // ONE Expand+aggregate for all 3 sets + final sort
    "q_substr_dedup" -> 3,     // gram agg + islands window (run agg reuses it) + sort
    "q_pack" -> 2,             // per-shard cumsum window + final sort
    "q_kmeans_cluster" -> 2,   // map-side cell assignment; one (cell) agg + sort
    "q_semantic_dedup" -> 3,   // r15: ONE cell-grouped exchange (pairs scored
                               // inside graft_bucket_pairs) + pair distinct
                               // + per-cell census; final join/sort ride them.
                               // r16: the dense-cell guard runs as a separate
                               // bounded census JOB at plan build
                               // (denseBucketsOf) — with no dense cell the
                               // visible plan is unchanged
    "q_mix_sample" -> 2,       // broadcast weights dim + one (source) agg + sort
    "q_tfidf" -> 4,            // ONE term exchange serves tf agg + df window (r14:
                               // the df agg + join and their exchanges are gone) +
                               // doc window + sort + the 1-row corpus-count agg
    "q_percentile" -> 2,       // final segment only: the checkpointed range sort (1
                               // corpus exchange) + census run at build time; visible
                               // plan is broadcast joins + group agg + 3-row sort
    "q_entropy" -> 3,          // (doc,term) agg + per-doc agg + sort; no window
    "q_scd2" -> 2,             // lag + lead share ONE (user) window exchange + sort
    "q_moments" -> 2,          // one decimal power-sum agg + sort
    "q_zorder" -> 2,           // map-side bit interleave + one cell agg + sort
    "q_join_shj" -> 4,         // both sides exchange on key + agg + sort (no sorts in join)
    "q_chunk" -> 1,            // pure map-side chunking + final sort
    "q_winnow" -> 2,           // per-doc sliding-min window + per-doc agg rides it + sort
    "q_window_stats" -> 2,     // ONE window exchange serves all 4 functions + sort
    "q_bpe_train" -> 14,       // 3 chained vocab-sized merge iterations; every exchange
                               // after the word-count agg carries vocab rows, not corpus;
                               // duplicated subplans reuse exchanges at runtime
    "q_ewma" -> 2,             // ONE per-user window exchange serves all 8 lags + sort
    "q_anomaly" -> 2,          // stats agg (broadcast back onto stream) + final sort
    "q_gap_fill" -> 3,         // (user,h) agg + per-user bounds/window + final sort;
                               // spine explode is map-side off the bounds aggregate
    "q_histogram" -> 2,        // map-side bucket projection + ONE hash agg + sort
    "q_quality_clf" -> 2,      // map-side hash features + ONE per-doc agg + sort
    "q_simhash_pairs" -> 2,    // checkpointed signatures + band equi-join + distinct;
                               // TakeOrdered final (no sort exchange)
    "q_pagerank" -> 1,         // final segment only: checkpoint-truncated iterations
                               // (each round is one join + one agg, materialized), the
                               // visible plan is just TakeOrdered over the last state
    "q_colloc" -> 5,           // bigram agg + unigram agg + 2 scalar totals + vocab
                               // joins; TakeOrdered final (no sort exchange)
    "q_countmin" -> 3,         // sketch agg + exact top-20 agg + final sort; the
                               // 512-row sketch broadcasts back, no join shuffle
    "q_knn_graph" -> 2,        // r17: warm path reads the persisted kNN-edge
                               // artifact — one parquet scan of n·k edge rows
                               // + final sort (the in-bucket pair loop runs
                               // once at ARTIFACT BUILD, where the r15 grouped
                               // shape and the r16 dense-bucket routing live
                               // on — see knnEdgesFor/bucketKnnEdges; both
                               // in-plan routing designs measured 3.6-4.5x
                               // slower at 500k, denseBucketsOf scaladoc)
    "q_triangles" -> 8,        // checkpointed edge list; 3 census aggs (each ends in a
                               // single-partition exchange) + 2-hop join pair — AQE
                               // broadcasts the tiny sides at runtime
    "q_rfm" -> 4,              // per-customer agg + ONE percentile-cutoff agg
                               // (broadcast back, map-side CASE buckets) + sort;
                               // NO global ntile window
    "q_sql_q5" -> 2,           // 6-table join: dims broadcast, facts co-partition;
                               // one agg exchange + final sort
    "q_sql_q2" -> 4,           // decorrelated per-part min agg (2) + partkey join
                               // side (1) + DISTINCT agg (1); dims all broadcast;
                               // ordered LIMIT is TakeOrdered (no sort exchange)
    "q_sql_q15" -> 4,          // supplier rollup exchange + final sort, plus the
                               // uncorrelated scalar max's own rollup + single-
                               // partition pair (SimpleMode inlines the subquery
                               // plan) — all supplier-sized after the scan filter
    "q_attribution" -> 2,      // ONE per-user window (running view max) + sort;
                               // no self-join for the as-of lookup
    "q_rolling_median" -> 2,   // ONE per-user window (framed percentile) + sort
    "q_transitions" -> 6,      // lag window + pair/total aggs + types²-sized join
                               // (AQE broadcasts) + sort
    "q_bpe_apply" -> 2,        // merges are checkpointed 1-row broadcasts; tokenize
                               // + 3 replaces are map-side, then per-doc agg + sort
    "q_minhash_est" -> 8,      // ONE checkpointed shingle pipeline feeds signatures
                               // + inverted index; signatures ride the band join
                               // (no pair-wise re-join), candidates broadcast into
                               // the intersection agg; + size joins. r14: +2
                               // CANDIDATE-sized exchanges (the cand-doc distinct
                               // + restricted recount) buy the corpus-sized
                               // collect_list stage down to candidate-sized —
                               // the 500k-doc tier's memory hog (SCALE.md §r14)
    "q_outlier_mad" -> 4,      // two type-sized percentile aggs broadcast back
                               // (median, then MAD) + final sort
    "q_abtest" -> 2,           // ONE power-sum aggregate by variant + scalar cross
    "q_autocorr" -> 2,         // hourly census agg + bounded-series lag window
    "q_percent_total" -> 4,    // nation agg + scalar total broadcast + sort;
                               // NO unpartitioned percent-of-total window
    "q_col_profile" -> 3,      // ONE scan unpivoted via stack + census agg
                               // (distinct expand) + sort
    "q_timeintel" -> 2,        // month census agg + ONE bounded-series window
                               // (cumsum + lag12 share it) + sort rides it
    "q_skyline" -> 3,          // bucketed local-frontier window + reduced global
                               // window + sort; never a dominance join
    "q_edit_dist" -> 7,        // minhash band-join candidates + two doc-text joins
                               // (AQE broadcasts) + sort; banded DP is map-side
    "q_group_concat" -> 2,     // ONE per-source list aggregate (sorted in the
                               // projection, not a window) + final sort
    "q_mode" -> 3,             // (group,value) count agg + rank on the counted
                               // frame + final sort
    "q_diff_snapshot" -> 3,    // ONE scan, both snapshots as conditional aggs
                               // + status census + sort
    "q_dedup_incremental" -> 3, // index AND batch-signature tables read from the
                               // shared (band,sig) bucketing (no exchange, r19);
                               // the two pair aggs re-key on (id1,id2) and the
                               // union sorts — 3 exchanges, none carrying the corpus
    "q_bloom_prune" -> 7,      // bloom build (scalar subquery, single-partition) ×
                               // inlined twice statically + pair agg + final sort;
                               // the fact side prunes map-side BELOW its exchange
    "q_interval_join" -> 4,    // month-cell explode is map-side both sides; cell
                               // equi-join (sampled left broadcasts under AQE;
                               // statically 2) + per-order agg + final sort
    "q_histogram_eqdepth" -> 3, // ONE percentile aggregate broadcast back as
                               // map-side CASE buckets + bucket agg + sort
    "q_degree_dist" -> 6,      // distinct edge subtree ×2 statically (AQE reuses
                               // the exchange) + degree agg + census agg + sort
    "q_basket" -> 9,           // checkpointed capped-items frame (distinct + MaxBasketItems
                               // anti-join materialized once) + self-join on order key +
                               // pair/item/total aggs + catalog-sized dim joins; TakeOrdered
    "q_window_dist" -> 2,      // ONE nation-keyed window exchange serves both
                               // distribution functions + final sort
    "q_benford" -> 4,          // digit census agg + scalar total (broadcast back)
                               // + final sort
    "q_gini" -> 3,             // per-customer agg (customer dim broadcasts) + ONE
                               // segment window exchange + census agg (the 5-row
                               // sort needs no extra exchange)
    "q_changepoint" -> 4,      // hourly census agg + bounded-series global window
                               // + scalar total; TakeOrdered final (no sort exchange)
    "q_label_prop" -> 2,       // final segment only (checkpoint-truncated rounds,
                               // the q_pagerank idiom): community census + sort
    "q_linreg" -> 2,           // daily census agg + ONE global moment agg
    "q_sql_q18" -> 3,          // HAVING key-set agg + semi join (AQE broadcasts
                               // the selective side) + detail agg; TakeOrdered
    "q_knn_classify" -> 4,     // r15: the kNN bucket-group exchange is now
                               // plan-VISIBLE (was hidden behind knnGraph's
                               // eager checkpoint job — a full materialization
                               // this plan no longer pays); votes agg + top-1
                               // window share one vec_id exchange; + final
                               // agg + sort (labels broadcast); the r16
                               // dense-bucket guard adds no plan nodes (see
                               // q_knn_graph)
    "q_sql_corr" -> 2,         // decorrelated: ONE per-customer max agg + equi-join
                               // back to orders + final sort — never a per-row re-scan
    "q_conv_time" -> 4,        // first-view agg + first-purchase-after agg + ONE
                               // percentile agg + scalar collect
    "q_seasonal" -> 2,         // hourly census agg + the bounded trend/hod
                               // windows; the 24-row census sort rides
    "q_emd" -> 2,              // cent score-group census agg + the bounded
                               // CDF/gap window; single-row result, no sort
    "q_survival" -> 3,         // ONE o_custkey exchange (rank window + the
                               // first/second re-agg ride it) + duration census
                               // agg + the bounded curve windows/sort
    "q_psi" -> 3,              // baseline percentile agg (broadcast back,
                               // map-side CASE buckets) + 10-row census agg +
                               // its total-window/sort
    "q_ks" -> 2,               // cent score-group census agg + the bounded
                               // CDF window; TakeOrdered argmax (no sort
                               // exchange), single-row result
    "q_auc" -> 3,              // per-customer label agg (AQE broadcasts into
                               // the customer join) + score-group census agg +
                               // bounded-series running-neg window; single-row
                               // result needs no sort
    "q_decile_lift" -> 4,      // label agg + ONE percentile-cutoff agg
                               // (broadcast back, map-side CASE deciles — the
                               // q_rfm idiom, never a global ntile) + 10-row
                               // decile census + its window/sort
    "q_corr_matrix" -> 1,      // ONE partial+final aggregate to a single row
                               // carrying all 14 power sums; the 6-row matrix
                               // unpivot and sort are driver-trivial
    "q_union_drift" -> 2,      // plan-level union of two scan-side filters (no
                               // shuffle) + per-source census agg + final sort
    "q_acf" -> 4,              // hourly census agg (ReuseExchange serves both
                               // self-join sides) + census-sized join exchanges
                               // + per-lag agg; everything after the census is
                               // (hours x 24)-sized
    "q_ltv" -> 4,              // facts shuffle ONCE on o_custkey (window-min
                               // cohort, no agg+join pair) + cell agg + cohort
                               // cumulation window + final sort
    "q_chisq" -> 2,            // ONE cell-census agg exchange (nation dim
                               // broadcasts); the three marginal windows run on
                               // the 125-row cell table + final sort rides
    "q_paths" -> 2,            // ONE user-keyed window exchange serves the
                               // collapse lag AND the per-user path build; path
                               // census agg; TakeOrdered final (no sort exchange)
    "q_interval_union" -> 3,   // (user,sec) distinct with MAP-SIDE partial dedup
                               // + user-keyed exchange serving both windows and
                               // the island agg + final sort — dedup-before-
                               // shuffle beats shuffling raw events at scale
    "q_sql_rec" -> 2,          // one census agg exchange + final sort; the
                               // 83-row recursive spine broadcasts into the join
    "q_kanon" -> 3,            // QI class agg + band census agg + sort; the
                               // nation dim broadcasts (no join exchange)
    "q_seq_pairs" -> 4,        // raw stream shuffles ONCE on (user,type) with
                               // map-side combine; the span-sized re-exchange on
                               // user_id is shared by both self-join sides
                               // (ReuseExchange) + pair agg + sort
    "q_sql_q7" -> 2,           // dims + selective sides broadcast at the pinned
                               // SF; one agg exchange + final sort
    "q_backtest" -> 2,         // hourly census agg + bounded-series lag window;
                               // the single-row WAPE agg rides the window exchange
    "q_dq_rules" -> 4,         // fact⋈fact anti-join co-partition (2) + per-table
                               // conditional-agg scans (single-row exchanges reuse);
                               // dims broadcast under the orphan checks
    "q_setops_all" -> 5,       // count-replicate rewrite: per-key count agg per
                               // side (2) + intersect/except generates + 3 census
                               // single-row aggs share exchanges at runtime
    "q_sql_q21" -> 1,          // decorrelated semi/anti sides broadcast at the
                               // pinned SF; one s_name agg exchange, TakeOrdered
                               // rides it (at scale the joins co-partition on
                               // l_orderkey — the semi/anti pins above still hold)
    "q_ann_recall" -> 3,       // ann window exchange + recall agg + final sort;
                               // the brute top-5 ground truth broadcasts
    "q_confusion" -> 2,        // label agg (survivors broadcast back) + ONE
                               // single-row conditional agg; metrics ride it
    "q_mutual_info" -> 2,      // ONE cell-census exchange; marginal windows +
                               // the final single-row agg share the rest
    "q_target_enc" -> 3,       // label agg + segment census + global-prior
                               // window; the 5-row sort rides the window
    "q_calibration" -> 4,      // label agg + 1-row extremes agg (broadcast
                               // back) + 10-bin census + final sort
    "q_l_diversity" -> 4,      // QI-class agg w/ two-phase distinct (2) +
                               // band rollup + final sort (the kanon idiom)
    "q_bm25" -> 5,             // (doc,term) agg + doc-length window (final
                               // per-doc agg RIDES its partitioning) + 1-row
                               // corpus stats + df census; the df branch's
                               // re-derived agg/window reuse at runtime;
                               // top-10 is TakeOrdered
    "q_weighted_sample" -> 0,  // pure projection + TakeOrdered top-k: the
                               // corpus never shuffles, only k rows travel
    "q_link_predict" -> 11,    // part-degree window, wedge self-join and pair
                               // agg all key on p/(s1,s2); the self-join's two
                               // re-derived distinct+window subtrees reuse at
                               // runtime (AQE), degrees broadcast, TakeOrdered
    "q_masking" -> 2,          // md5/band projection + r20 sort barrier + final sort
    "q_stickiness" -> 5,       // ONE (user,day) distinct exchange + broadcast
                               // day-dim fanout + Expand distinct agg (2) +
                               // the day-dim's own distinct + final sort
    "q_anova" -> 2,            // ONE segment-keyed census exchange + the
                               // single-row final agg; F is k-row arithmetic
    "q_cramers_v" -> 6,        // cell census + the 2 marginal-domain distincts
                               // feeding the full-grid completion + marginal
                               // windows + Expand distinct agg — every exchange
                               // after the census carries ≤125 cell rows
                               // (the q_chisq/q_mutual_info shape + r10 grid fix)
    "q_sql_q17" -> 3,          // decorrelated: probe-side l_partkey exchange +
                               // ONE merged per-part count+sum aggregate joined
                               // back on the key + single-row final agg (part
                               // dim broadcasts into the probe)
    "q_kcore" -> 6,            // checkpoint-truncated rounds (the q_pagerank
                               // idiom): per round only the two single-row
                               // node/edge count aggs surface in the static
                               // plan (3 rounds x 2); the 3-row sort rides
    "q_ndcg" -> 3,             // the shared brute top-k window exchange + the
                               // label census agg + per-probe DCG agg; the
                               // 10-row spine and 5-row frames ride broadcasts
    "q_dp_release" -> 2,       // ONE nation-keyed census exchange + the 25-row
                               // sort; the Laplace draw is a per-group scalar
                               // expression, zero extra shuffles
    "q_rrf" -> 5,              // keyword side reuses bm25's (doc,term) agg +
                               // doc-length window exchange pair and its df
                               // census; both modality top-50s are TakeOrdered
                               // (no sort exchange); the <=100-row fusion join
                               // and final top-10 ride broadcast/single frames
    // Round-10 TPC-H front-door completion (CoreQueries): the remaining
    // canonical query shapes, each pinned at the count the plan NEEDS.
    "q_sql_q4" -> 2,           // EXISTS→semi join rides a broadcast at this
                               // SF; the 5-row priority agg (1) + sort (1)
    "q_sql_q6" -> 1,           // the canary: scan+filter+global agg is ONE
                               // single-partition exchange, nothing else
    "q_sql_q8" -> 2,           // all 7 joins broadcast; the 2-group year agg
                               // (1) + 2-row sort (1)
    "q_sql_q9" -> 2,           // 4 broadcast joins; nation×year agg + sort
    "q_sql_q10" -> 1,          // group agg on custkey (1); ordered LIMIT is
                               // TakeOrdered — no sort exchange
    "q_sql_q11" -> 3,          // per-part value agg (1) + uncorrelated total
                               // (single-partition agg, 1) + final sort (1)
    "q_sql_q12" -> 2,          // orderkey join broadcast at this SF; 2-group
                               // FILTER-count agg + 2-row sort
    "q_sql_q13" -> 3,          // per-cust outer-join count agg (1) + c_count
                               // distribution agg (1) + final sort (1)
    "q_sql_q14" -> 1,          // one single-partition global CASE-sum agg
    "q_sql_q16" -> 3,          // count(DISTINCT) two-phase (dedup agg + count
                               // agg) + final sort; the NOT IN anti join and
                               // part join broadcast
    "q_sql_q19" -> 1,          // common-key hash join with the OR as residual
                               // filter + ONE global agg — a cartesian here
                               // fails the global contract above
    "q_sql_q20" -> 2,          // (supp,part) HAVING agg (1) + s_name sort (1);
                               // both IN→semi joins broadcast
    "q_sql_q22" -> 4)          // uncorrelated avg (single-partition agg ×2 for
                               // partial/final) + cntrycode agg + 4-row sort;
                               // the NOT EXISTS anti join broadcasts

  budgets.foreach { case (name, maxShuffles) =>
    test(s"$name plans at most $maxShuffles shuffle exchange(s)") {
      val plan = planOf(name)
      val n = shuffles(plan)
      assert(n <= maxShuffles,
        s"$name: $n shuffle exchanges (budget $maxShuffles)\n$plan")
    }
  }

  test("q_sql_corr: the correlated subquery is decorrelated into a join") {
    // Catalyst must rewrite the per-row scalar subquery into one
    // aggregate + equi-join; a surviving physical subquery would mean
    // per-row re-execution — the shape 100 TB forbids.
    val plan = planOf("q_sql_corr")
    assert(!plan.contains("Subquery"),
      s"scalar subquery survived decorrelation\n$plan")
    assert(plan.contains("Join"), s"expected the decorrelated join\n$plan")
  }

  test("q_sql_q17: both correlated scalar aggregates decorrelate into per-part joins") {
    // RewriteCorrelatedScalarSubquery must turn the count and sum
    // subqueries (both correlated on l_partkey over the SAME fact
    // being probed) into per-part aggregates joined back on the key; a
    // surviving physical subquery would re-scan lineitem once per
    // probe row — the shape 100 TB forbids.
    val plan = planOf("q_sql_q17")
    assert(!plan.contains("Subquery"),
      s"correlated scalar aggregate survived decorrelation\n$plan")
    assert(plan.contains("Join"), s"expected the decorrelated join\n$plan")
  }

  test("q_sql_q2: the region-filtered scalar min decorrelates into a per-part aggregate join") {
    // The Q2 shape: a scalar min over a DIFFERENT 4-table join (the
    // offer relation), correlated on the outer part key.
    // RewriteCorrelatedScalarSubquery must fold it into ONE
    // region-filtered min aggregate + an equi-join back on l_partkey;
    // a surviving physical subquery would re-run the 4-table join per
    // outer row — the shape 100 TB forbids.
    val plan = planOf("q_sql_q2")
    assert(!plan.contains("Subquery"),
      s"correlated scalar min survived decorrelation\n$plan")
    assert(plan.contains("Join"), s"expected the decorrelated join\n$plan")
  }

  test("q_sql_q15: the max-of-aggregate subquery stays UNCORRELATED (runs once, not per row)") {
    // The Q15 shape: the revenue CTE is consumed twice — join input
    // and scalar max. The max must plan as an uncorrelated scalar
    // subquery (executes once, result compared as a literal), never a
    // correlated one; and the only fact-sized work is the supplier
    // rollup — exactly 2 lineitem scans (join input + subquery input),
    // with AQE free to reuse the exchange at runtime.
    val plan = planOf("q_sql_q15")
    assert(plan.contains("Subquery subquery"),
      s"expected the uncorrelated scalar max subquery\n$plan")
    val liScans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(liScans <= 2, s"expected at most 2 lineitem scans, got $liScans\n$plan")
  }

  test("q_sql_q21: both correlated existential subqueries rewrite to semi/anti joins") {
    // RewritePredicateSubquery must turn the correlated EXISTS into a
    // LEFT SEMI and the NOT EXISTS into a LEFT ANTI join on
    // l_orderkey (with the <> predicates as join residuals); a
    // surviving physical subquery would re-scan lineitem per outer
    // row — the shape 100 TB forbids.
    val plan = planOf("q_sql_q21")
    assert(!plan.contains("Subquery"),
      s"correlated existential subquery survived decorrelation\n$plan")
    assert(plan.contains("LeftSemi"), s"expected a LEFT SEMI join\n$plan")
    assert(plan.contains("LeftAnti"), s"expected a LEFT ANTI join\n$plan")
  }

  test("q_sql_q4: the correlated EXISTS rewrites to one semi join, never a per-order probe") {
    val plan = planOf("q_sql_q4")
    assert(!plan.contains("Subquery"),
      s"correlated EXISTS survived decorrelation\n$plan")
    assert(plan.contains("LeftSemi"), s"expected a LEFT SEMI join\n$plan")
  }

  test("q_sql_q16: the NOT IN blocklist plans as ONE anti join with the list broadcast") {
    // A NOT IN over a non-nullable key must become a (null-aware-capable)
    // LEFT ANTI hash join against the 100-row supplier list — never a
    // per-row membership re-scan. The distinct count is the standard
    // two-phase expansion (asserted via the shuffle budget above).
    val plan = planOf("q_sql_q16")
    assert(!plan.contains("Subquery"), s"NOT IN survived as a subquery\n$plan")
    assert(plan.contains("LeftAnti"), s"expected a LEFT ANTI join\n$plan")
  }

  test("q_sql_q22: uncorrelated avg runs ONCE; NOT EXISTS anti-joins with the date filter pushed inside") {
    // The scalar avg must stay an uncorrelated subquery (one execution,
    // compared as a literal), the NOT EXISTS must become a LEFT ANTI
    // join, and the recent-window date filter must apply INSIDE the
    // anti join's build side — at 100 TB that filter is what shrinks
    // the build from all orders to the recent window.
    val plan = planOf("q_sql_q22")
    assert(plan.contains("Subquery subquery"),
      s"expected the uncorrelated scalar avg subquery\n$plan")
    assert(plan.contains("LeftAnti"), s"expected a LEFT ANTI join\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"date filter did not push into the orders scan\n$plan")
  }

  test("q_dedup_incremental: the corpus is NEVER read on the incremental path") {
    // The existing corpus lives only in the persisted signature index
    // and the arriving batch only in its persisted signature table
    // (r19): the full query plan must contain ZERO documents scans,
    // exactly ONE index table scan, and every batch-signature scan
    // must keep its (band, sig) bucketing — the layout both candidate
    // joins ride exchange-free.
    val plan = planOf("q_dedup_incremental")
    val docScans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents"))
    assert(docScans == 0, s"incremental path re-reads documents\n$plan")
    // match on the catalog table name, not the bare prefix: every
    // artifact table's PATH lives under /tmp/graft_sig_idx_<pid>/, so
    // a path substring would count the batch-signature scans too
    val idxScans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("default.graft_sig_idx"))
    assert(idxScans == 1, s"expected exactly one index scan, got $idxScans\n$plan")
    val bsigScans = plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("default.graft_bsig")).toSeq
    assert(bsigScans.nonEmpty, s"batch side no longer reads its signature table\n$plan")
  }

  test("q_dedup_incremental: NEITHER candidate-join side shuffles on the band key (r19)") {
    // Broadcast disabled so the static plan shows the at-scale join:
    // index and batch-signature tables share the (band, sig) ×32
    // bucketed+sorted layout, so the corpus-vs-batch join AND the
    // batch self-join are exchange-free, sort-free SMJs — the only
    // shuffles left in the whole query are the candidate-pair
    // aggregations and the final sort.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf("q_dedup_incremental")
      val bandExchanges = plan.linesIterator.count(l =>
        l.dropWhile(c => "+-:| ".contains(c)).startsWith("Exchange hashpartitioning(band"))
      assert(bandExchanges == 0,
        s"candidate joins must ride the shared bucketing (found $bandExchanges band exchanges)\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"bucketed scans lost their bucketing\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_cluster_incremental: prior corpus comes from the persisted label table, never re-signed") {
    // "Yesterday's" assignments must be READ (one graft_lbl table
    // scan), and the documents table touched ONLY for the arriving
    // batch (exactly one scan, batch predicate pushed) — zero shingle
    // extraction over the prior corpus in the query plan (r09 verdict
    // #2). The new pairs and the contracted relabel ride pre-plan
    // checkpoints, so any corpus re-sign would show up here as an
    // extra documents scan or a Generate (shingle explode) node.
    val plan = planOf("q_cluster_incremental")
    val docLines = plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("documents")).toSeq
    assert(docLines.size == 1,
      s"expected exactly one documents scan (the batch), got ${docLines.size}\n$plan")
    assert(docLines.head.contains("GreaterThanOrEqual(doc_id,400)"),
      s"the one documents scan must push the batch predicate\n${docLines.head}")
    val lblScans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("graft_lbl"))
    assert(lblScans == 1, s"expected exactly one label-table scan, got $lblScans\n$plan")
    assert(!plan.contains("Generate"),
      s"shingle extraction leaked into the incremental plan\n$plan")
  }

  test("q_dedup_incremental: batch predicate is PUSHED to the shingle-artifact scan") {
    val plan = graft.similarity.DedupIndex
      .newBatchSignatures(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    // r16: the batch signs itself off the persisted shingle artifact —
    // no documents scan (no re-tokenization) appears at all, EVERY
    // artifact scan pushes the batch cutoff so corpus shingles never
    // leave the parquet reader, and the DF-cap census rides the
    // table's s-bucketing (its aggregation needs no exchange).
    assert(!plan.contains("documents"),
      s"batch signing re-read the documents table\n$plan")
    val shScans = plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("graft_shingles")).toSeq
    assert(shScans.nonEmpty, s"no shingle-artifact scan found\n$plan")
    assert(shScans.forall(_.contains("GreaterThanOrEqual(doc_id,400)")),
      s"batch cutoff not pushed to every scan\n${shScans.mkString("\n")}")
    assert(shScans.forall(_.contains("Bucketed: true")),
      s"shingle-artifact scan lost its bucketing\n${shScans.mkString("\n")}")
    // The only exchange is the signature aggregation's doc_id one —
    // the census groupBy(s) is exchange-free on the bucketed scan.
    val exchanges = plan.linesIterator.filter(l =>
      l.dropWhile(c => "+-:| ".contains(c)).startsWith("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("doc_id"),
      s"expected exactly the one doc_id signature exchange\n$plan")
  }

  test("q_dedup_incremental: index side of the candidate join never shuffles (bucketed scan)") {
    // Broadcast disabled so the static plan shows the at-scale join:
    // sort-merge with ONE exchange — the new batch's — and the index
    // read straight from its 32 (band, sig) buckets, pre-sorted.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = graft.similarity.DedupIndex.signatureIndex(spark, dir)
      val newSigs = graft.similarity.DedupIndex
        .newBatchSignatures(spark, dir).localCheckpoint(true)
      val plan = graft.similarity.DedupIndex
        .incrementalCandidates(idx, newSigs)
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(plan.contains("SelectedBucketsCount"),
        s"index scan lost its bucketing\n$plan")
      val bandExchanges = plan.linesIterator.count(l =>
        l.dropWhile(c => "+-:| ".contains(c)).startsWith("Exchange hashpartitioning(band"))
      assert(bandExchanges == 1,
        s"exactly the new-batch side may shuffle on the band key " +
          s"(found $bandExchanges exchanges)\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_bloom_prune: might_contain filters the fact scan BELOW its exchange (map-side)") {
    // The whole point of the bloom is pruning BEFORE the shuffle: the
    // might_contain filter must sit between the lineitem FileScan and
    // the first Exchange above it — no exchange between scan and
    // filter means non-matching rows never leave the mapper.
    val lines = planOf("q_bloom_prune").linesIterator.toVector
    def depth(l: String): Int = l.takeWhile(c => "+-:| ".contains(c)).length
    val scanIdx = lines.indexWhere(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(scanIdx >= 0, s"no lineitem scan\n${lines.mkString("\n")}")
    val filterIdx = lines.lastIndexWhere(l =>
      l.contains("Filter") && l.contains("might_contain"), scanIdx)
    assert(filterIdx >= 0 && filterIdx < scanIdx,
      s"might_contain filter not above the fact scan\n${lines.mkString("\n")}")
    // The filter must be the scan's DIRECT parent: everything printed
    // between them is the inlined scalar-subquery block (strictly
    // deeper tree prefix). A same-or-shallower line there would be a
    // real fact-path operator — e.g. an Exchange, meaning the pruning
    // ran post-shuffle.
    val between = lines.slice(filterIdx + 1, scanIdx)
    assert(between.forall(depth(_) > depth(lines(scanIdx))),
      s"an operator sits between the bloom filter and the fact scan — " +
        s"pruning is not map-side\n${between.mkString("\n")}")
  }

  test("q_dedup_keep_best post-labeling stage: bounded shape, one shared window exchange") {
    // The full query runs driver actions at plan-build (the labeling
    // loop), so pin the stage AFTER labeling against a synthetic
    // component assignment: score join + BOTH window functions sharing
    // ONE component-keyed exchange + final sort, and never a cartesian.
    import org.apache.spark.sql.functions._
    val comp = graft.util.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).as("component"))
    val scores = graft.text.TextQueries.clfScores(spark, dir)
      .select(col("doc_id"), col("score_milli"))
    val plan = graft.similarity.NearDupQueries.keepBestStage(comp, scores)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!plan.contains("CartesianProduct"), plan)
    val n = shuffles(plan)
    assert(n <= 5, s"keep-best stage: $n shuffle exchanges (budget 5)\n$plan")
    val compExchanges = plan.linesIterator.count(l =>
      l.dropWhile(c => "+-:| ".contains(c)).startsWith("Exchange hashpartitioning(component"))
    assert(compExchanges == 1,
      s"rank + member-census windows must share ONE component exchange " +
        s"(found $compExchanges)\n$plan")
  }

  test("q_topk routes through the TopKPerKey heap pair (default-on rewrite, r11)") {
    // The declarative rank-then-filter form is pre-reduced by the
    // native heap operator (partial + final around one clustered
    // exchange) with the Window + Filter retained above it — measured
    // faster than WindowGroupLimit's per-stage sorts on every key
    // shape at the 100× smoke (TopKRewrite.scala scaladoc has the
    // numbers). This pins that the default-on rewrite keeps firing.
    val plan = planOf("q_topk")
    assert("TopKPerKey \\[".r.findAllIn(plan).size == 2,
      s"q_topk lost the default-on heap rewrite\n$plan")
  }

  test("q_join_shj actually plans a ShuffledHashJoin (hint honored, no sort-merge)") {
    val plan = planOf("q_join_shj")
    assert(plan.contains("ShuffledHashJoin"),
      s"q_join_shj: SHUFFLE_HASH hint not honored\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_join_shj: planner fell back to sort-merge\n$plan")
  }

  test("q_setops scans customer exactly once (flag-OR rewrite, not 4 set-op scans)") {
    val plan = planOf("q_setops")
    val scans = plan.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"q_setops: $scans FileScans (want 1)\n$plan")
  }

  test("q_substr_dedup scans documents exactly once (gram pairs from one agg, no self-join)") {
    val plan = planOf("q_substr_dedup")
    val scans = plan.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"q_substr_dedup: $scans FileScans (want 1)\n$plan")
  }

  test("hot projection queries stay inside WholeStageCodegen (custom expressions included)") {
    // The codegen mandate: per-row work must compile into the fused
    // loop, not fall back to interpreted eval. CodegenMode explain
    // reports the subtree count; zero means the whole query dropped
    // out of codegen (e.g. a custom Expression losing its doGenCode
    // path would do exactly that silently). AQE defers codegen
    // collapse to runtime stages, so the contract builds with AQE off.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def cgOf(n: String): String = SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
      Seq("q_pii_scrub", "q_text_normalize", "q_rolling_hash", "q_text_tokens",
        "q_embed_quant").foreach { n =>
        val found = "Found (\\d+) WholeStageCodegen subtrees".r
          .findFirstMatchIn(cgOf(n)).map(_.group(1).toInt)
        assert(found.exists(_ >= 1),
          s"$n: no WholeStageCodegen subtree — per-row work fell out of codegen")
      }
      // and the two native expressions really emit generated code
      assert(cgOf("q_text_normalize").contains("graft.functions.NfcNormalize.normalize"),
        "graft_nfc's doGenCode output missing from the generated code")
      assert(cgOf("q_rolling_hash").toLowerCase.contains("rollinghash("),
        "graft_roll's RollingHash expression not present in the codegen'd plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_lang_id tokenizes once — a single regex split survives optimization") {
    val optimized = SparkEntry.queries("q_lang_id")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(optimized).length
    assert(splits == 1,
      s"q_lang_id: $splits split() calls in the optimized plan (want 1 — " +
        s"CollapseProject re-inlined the token column?)\n$optimized")
  }

  test("q_ann_beam warm path reads the persisted graph index, never rebuilds it") {
    // first plan build creates the index artifact as a side effect;
    // the contract is on the WARM invocation
    planOf("q_ann_beam")
    val root = graft.similarity.BeamIndex.beamIndexFor(spark, dir)
    def genState(): Set[(String, Long)] =
      new java.io.File(root, "_gen").listFiles()
        .map(f => (f.getName, f.lastModified())).toSet
    val genStamp = genState()
    // the search's edge frame is pure index reads: no embeddings scan,
    // and no sign-LSH bucket assignment (zip_with hyperplane dots are
    // the build-only stage)
    val edgesPlan = graft.similarity.BeamIndex
      .beamEdgesFrame(spark, root)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(edgesPlan.contains("graft_beam_"),
      s"beam edges do not scan the persisted index:\n$edgesPlan")
    assert(!edgesPlan.contains("zip_with"),
      s"beam edges recompute sign-LSH buckets:\n$edgesPlan")
    assert(!edgesPlan.contains("embeddings"),
      s"beam edges re-read the corpus vectors:\n$edgesPlan")
    // a warm end-to-end invocation leaves the artifact untouched (no
    // new generation committed, no manifest rewritten)
    planOf("q_ann_beam")
    assert(genState() === genStamp,
      "a warm q_ann_beam invocation rebuilt the beam index")
  }
}
