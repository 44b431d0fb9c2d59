package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The query modules by family; `similarity` and `analytics` are
    * each the union of their per-concern modules. */
  private def modules: Seq[(String, Seq[QueryModule])] = Seq(
    "core" -> Seq(analytics.CoreQueries),
    "analytics" -> Seq(analytics.GroupingQueries, analytics.SketchQueries,
      analytics.WindowQueries, analytics.JoinQueries, analytics.StatsQueries,
      analytics.ModelEvalQueries, analytics.PrivacyQueries),
    "events" -> Seq(analytics.EventQueries),
    "refcore" -> Seq(transform.RefCoreQueries),
    "manifest" -> Seq(manifest.ManifestQueries),
    "text" -> Seq(text.TextQueries),
    "similarity" -> Seq(similarity.NearDupQueries, similarity.DedupIndex,
      similarity.VectorQueries, similarity.BeamIndex, similarity.ClusterQueries),
    "graph" -> Seq(graph.GraphQueries),
    "multimodal" -> Seq(multimodal.MultimodalQueries))

  /** Every implemented query, assembled from the per-area modules. */
  private[graft] def registry: Seq[Q] = {
    val qs = modules.flatMap(_._2).flatMap(_.all)
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    qs
  }

  /** Query names by family — the unit Bench's SPARK_GRAFT_BENCH_FAMILY
    * and perfbench's per-layer metrics select by. Families mirror the
    * registry 1:1 (pinned by BenchGateSpec). */
  private[graft] def families: Map[String, Set[String]] = modules.map {
    case (k, ms) => k -> ms.flatMap(_.all).map(_.name).toSet
  }.toMap + (
    // The heavy-tail bench family (BASELINE.md §r12): the 20 slowest
    // sf0.1 queries — iterative graph/dedup plus the widest scans —
    // whose cost is corpus-proportional, re-benched against the 40×
    // corpus where dataflow (not job overhead) dominates.
    // A FIXED explicit list, so
    //   SPARK_GRAFT_SF_DIR=/tmp/graft_sfbig_40x \
    //   SPARK_GRAFT_BENCH_FAMILY=heavy BENCH_ITERS=2 \
    //   SPARK_GRAFT_BENCH_OUT=bench_sf40.json sbt "runMain graft.Bench"
    // reproduces bench_sf40.json with one command.
    "heavy" -> Set(
      "q_ann_beam", "q_closeness", "q_cluster_incremental", "q_pagerank",
      "q_minhash_est", "q_dedup_keep_best", "q_modularity", "q_bfs",
      "q_edit_dist", "q_dedup_components", "q_basket", "q_label_prop",
      "q_ngram_jaccard", "q_dedup_funnel", "q_gap_fill", "q_minhash_lsh",
      "q_bpe_apply", "q_dedup_incremental", "q_link_predict", "q_kcore"),
    // The document-scaled bench family (r14 verdict #1): the dedup/ANN
    // queries whose quadratic hazards grow with DOCUMENT count — and
    // that read ONLY documents/embeddings, so they run against the
    // docs-only 500k corpus (ScaleSmoke.buildDocsCorpus; no relational
    // tables exist there). A FIXED explicit list, so
    //   SPARK_GRAFT_BENCH_TIER=docs1000 sbt "runMain graft.Bench"
    // reproduces bench_docs1000.json with one command (corpus
    // auto-built when missing; gate = the artifact's own budgets).
    "docs" -> Set(
      "q_dedup", "q_line_dedup", "q_substr_dedup", "q_dedup_funnel",
      "q_dedup_components", "q_dedup_keep_best", "q_dedup_incremental",
      "q_cluster_incremental", "q_minhash_lsh", "q_minhash_est",
      "q_ngram_jaccard", "q_simhash", "q_simhash_pairs",
      "q_semantic_dedup", "q_embed_dedup", "q_cosine_topk", "q_ann_lsh",
      "q_ann_ivf", "q_pq_adc", "q_ann_beam", "q_knn_graph",
      "q_kmeans_cluster", "q_silhouette"))

  /** The scale-sensitive oracle subset (r14 verdict #8; procedure in
    * TESTDATA.md): the query classes that only break with cardinality
    * — decimal/HUGEINT magnitude products, quantile boundary cuts,
    * long sequential folds, census windows, dedup/signature integer
    * paths, recursion, and the derived-knob ANN/cluster family (LSH
    * width, IVF cells, PQ codebooks all change value above the demo
    * corpora). `SPARK_GRAFT_VERIFY_ONLY=@scale` expands to this set,
    * so the judge can hash-verify them at 40×/100× in one command. */
  private[graft] val scaleSensitive: Set[String] = Set(
    "q_gini", "q_auc", "q_emd", "q_decile_lift", "q_psi", "q_ltv",
    "q_survival", "q_acf", "q_seasonal", "q_backtest",
    "q_interval_union", "q_chisq", "q_benford", "q_changepoint",
    "q_kanon", "q_linreg", "q_corr_matrix", "q_sql_rec", "q_ks",
    "q_dedup", "q_dupe_stats", "q_simhash", "q_simhash_pairs",
    "q_dedup_incremental", "q_cluster_incremental",
    "q_confusion", "q_mutual_info", "q_calibration", "q_l_diversity",
    "q_bm25", "q_weighted_sample", "q_link_predict", "q_stickiness",
    "q_minhash_est", "q_ngram_jaccard", "q_edit_dist", "q_embed_dedup",
    "q_knn_graph", "q_ann_ivf", "q_kmeans_cluster", "q_semantic_dedup",
    "q_pq_adc", "q_ann_beam")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    analytics.CoreQueries.flagship.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}
