package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Q, QueryModule}
import graft.util.{ArtifactCache, Tables}
import graft.util.ArtifactCache.persistedDir
import graft.util.Tables._
import graft.similarity.VectorQueries.{MaxBucketMembers, bucketPairsRows, denseBucketsCached, embAutoWidth, embBucketsAt, embCount, knnBucketSql, normEmbArtifact, normEmbSql, signBuckets, probeTopK}

/** Clustering and embedding upkeep: the fixed-point Lloyd loop behind
  * the IVF quantizer and the PQ codebooks, the persisted cell
  * assignment, IVF top-k, k-means, semantic and embedding dedup,
  * quantization, drift and silhouette. */
object ClusterQueries extends QueryModule {

  /** Data-scaled training knobs for the clustering quantizers (r10
    * verdict #3) — derived from corpus size like [[VectorQueries.autoPlaneCount]],
    * not hand-edited between scales:
    *
    *  - IVF cells: k = 2^max(3, round(log2(√(n/32)))) — the
    *    √n-family cell rule (cell population grows as √(32·n)): 8 for
    *    every demo corpus (n ≤ 2000, so sf0.001–sf0.1 bench shapes
    *    are knob-identical), 32 at the 40×/100× smoke corpora, ~4096
    *    at 1e9. Cells and cell population both grow as √n — the
    *    balance point for the probe-cells × cell-size product an IVF
    *    search pays.
    *  - PQ codes per subspace: K = 2^max(2, round(log2(√(n/128)))) —
    *    4 at every demo corpus, 16 at 40×/100×, reaching the
    *    production one-byte width (K=256) around n≈1e9; codebook
    *    training cost is M·K·sub sums either way.
    *  - Lloyd rounds: 2, plus one extra refinement round at
    *    n ≥ [[LloydExtraRoundMinN]] — more cells sit further from the
    *    smallest-vec_id seeded init, so big corpora buy one more
    *    round; rounds are a TRAINING budget (quality, gated by the
    *    recall floors), not a correctness knob.
    *
    * All three are mirrored in SQL by the oracles (power-of-two so
    * the derivation is exact; same round()-at-.5 log2-ulp caveat as
    * [[VectorQueries.knnBucketSql]], corpus sizes sit well off the boundaries). The
    * extra Lloyd round is statically unrolled in the oracle text and
    * GATED on count(*) — SQL text cannot vary its CTE count with the
    * data, so the third round's fold is a CASE on the corpus size. */
  private[graft] def ivfCellCount(n: Long): Int =
    1 << math.max(3L, math.round(
      math.log(math.sqrt(n / 32.0)) / math.log(2.0))).toInt

  /** SemDeDup dedup-pass refinement width (r18 — the r17 1M stretch's
    * Θ(n^1.5) fix): [[ivfCellCount]]'s √n rule balances SEARCH cost
    * (probe-cells × cell-size), but per-cell DEDUP pair mass is
    * (n/k)²·k = n²/k — superlinear by design (measured 4.5× at 2×
    * corpus, SCALE.md §r17). The dedup pair pass therefore refines
    * each trained cell with `eb` extra sign-LSH bits so TOTAL block
    * count is k·2^eb ≈ n/400 — the [[VectorQueries.autoPlaneCount]] constant-
    * population rule — and pair mass is Θ(n) at any corpus size,
    * while assignment stays a pure map-side expression (eb hyperplane
    * dots per row; re-training a k ∝ n quantizer would make
    * assignment itself n·k·d — quadratic). Blocks only REFINE cells
    * (two vectors in different cells never met before either), so the
    * only semantic change is the documented recall trade at eb ≥ 1:
    * a within-cell pair straddling a sub-plane is no longer compared
    * — the docs-tier planted-twin prune floor gates it, exactly the
    * kNN floor's shape. Every oracle corpus (n = 500, k = 8) derives
    * eb = 0, so demo results are bit-identical to the pure-cell
    * blocking; the SQL twin derives the same eb and generates the
    * same [[VectorQueries.planesFor]] weights in SQL ([[semanticDedup]]'s oracle —
    * the [[VectorQueries.knnBucketSql]] machinery, same round()-at-.5 log2-ulp
    * caveat, corpus sizes sit well off the boundaries). */
  private[graft] def semDedupExtraBits(n: Long): Int =
    math.max(0L, math.round(
      math.log(n.toDouble / (ivfCellCount(n) * 400.0)) / math.log(2.0))).toInt
  private[graft] def pqCodebookSize(n: Long): Int =
    1 << math.max(2L, math.round(
      math.log(math.sqrt(n / 128.0)) / math.log(2.0))).toInt
  private[graft] val LloydExtraRoundMinN = 10000L
  private[graft] def lloydRounds(n: Long): Int =
    if (n >= LloydExtraRoundMinN) 3 else 2

  /** The IVF coarse quantizer's trained centroids (8 bounded rows):
    * training runs a few small Spark jobs the first time a dataset is
    * queried, then re-invocations are pure plan construction. */
  private val ivfCentroids =
    ArtifactCache.datasetScoped[Array[(Long, Array[Double], Double)]]("ivf-centroids")

  /** Fixed-point (×1e6 BIGINT) embedding vectors — the integer domain
    * Lloyd training and PQ encoding run in. */
  private[similarity] def fixedVi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * 1e6).cast(LongType)).as("vi"))

  /** Fixed-point Lloyd training, the one loop behind the IVF quantizer
    * (one subspace) and the PQ codebooks: `sv` holds (m, svi) rows of
    * ×1e6 integer sub-vectors, `ids` the cell ids, `seeds` the starting
    * centroids [m][cell][pos]. Each round assigns rows with
    * graft_cell_argmin (integer squared euclidean, smallest cell on a
    * tie), sums (m, cell, pos) in ONE aggregation and floor-divides;
    * an emptied cell keeps its centroid. Integer sums make the result
    * bit-identical to the oracle's SQL replica at any partitioning, as
    * long as |sum| < 2^53 (the replica's floor(sum·1.0/count)): past
    * it training fails loudly, naming `name`. Only the M·K·sub sums
    * reach the driver. */
  private[similarity] def lloydTrain(
      name: String, sv: DataFrame, ids: Array[Long],
      seeds: Array[Array[Array[Long]]], rounds: Int): Array[Array[Array[Long]]] = {
    val idsLit = array(ids.map(lit(_)): _*)
    val cellAt = ids.zipWithIndex.toMap
    var cents = seeds
    for (_ <- 1 to rounds) {
      val centsLit = array(cents.map(sub =>
        array(sub.map(ci => array(ci.map(lit(_)): _*)): _*)): _*)
      val sums = sv
        .select(col("m"), col("svi"), call_function("graft_cell_argmin",
          col("svi"), element_at(centsLit, col("m") + 1), idsLit).as("cell"))
        .select(col("m"), col("cell"), posexplode(col("svi")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg(sum(col("col")).as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val byKey = sums.groupBy(r => (r.getInt(0), cellAt(r.getLong(1))))
      cents = Array.tabulate(cents.length, ids.length) { (m, c) =>
        byKey.get((m, c)).fold(cents(m)(c)) { rows =>
          val next = new Array[Long](cents(m)(c).length)
          rows.foreach { r =>
            require(math.abs(r.getLong(3)) < (1L << 53),
              s"$name: subspace $m cell ${ids(c)} component sum ${r.getLong(3)} " +
                "exceeds the 2^53 exact-double bound the oracle's mean relies on")
            next(r.getInt(2)) = Math.floorDiv(r.getLong(3), r.getLong(4))
          }
          next
        }
      }
    }
    cents
  }

  /** k-means training for the IVF coarse quantizer:
    * k = [[ivfCellCount]] cells (corpus-derived; the demo corpora
    * land on 8), [[lloydRounds]] rounds of [[lloydTrain]] over one
    * subspace, seeded with the k smallest vec_ids; the cell ids are
    * those vec_ids. The exact fixed-point result is what lets both
    * engines embed the quantizer as literals.
    */
  private[similarity] def trainIvfCentroids(s: SparkSession, dir: String): Array[(Long, Array[Long])] = {
    val n = embCount(s, dir)
    val vi = fixedVi(s, dir)
    val seeds = vi.filter(col("vec_id") < ivfCellCount(n)).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val ids = seeds.map(_._1)
    val cents = lloydTrain("IVF training",
      vi.select(lit(0).as("m"), col("vi").as("svi")), ids,
      Array(seeds.map(_._2)), lloydRounds(n))
    ids.zip(cents(0))
  }

  /** One Lloyd iteration as oracle CTEs: assign every vector to its
    * nearest `$prev` centroid (integer squared-euclidean, smallest-cell
    * tiebreak), then per-(cell, dim) exact integer mean; `$out` keeps
    * the previous centroid for cells that lost all members. Twin of one
    * [[trainIvfCentroids]] round. */
  private def lloydIterSql(prev: String, out: String,
                           gateMinN: Option[Long] = None): String = {
    // A gated round folds the new means only when the corpus is big
    // enough — the SQL twin of [[lloydRounds]]'s extra round (CTE
    // count can't vary with data in static SQL, so the fold is CASEd).
    val fold = gateMinN match {
      case None => "COALESCE(m.ci, p.ci)"
      case Some(minN) =>
        s"""CASE WHEN (SELECT count(*) FROM embeddings) >= $minN
                 THEN COALESCE(m.ci, p.ci) ELSE p.ci END"""
    }
    s"""
      d_$out AS (
        SELECT v.vec_id, v.vi, c.cell,
               list_sum(list_transform(list_zip(v.vi, c.ci),
                        z -> (struct_extract(z, 1) - struct_extract(z, 2))
                           * (struct_extract(z, 1) - struct_extract(z, 2)))) AS d2
        FROM vi v CROSS JOIN $prev c),
      a_$out AS (
        SELECT vec_id, vi, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
        FROM d_$out),
      s_$out AS (
        SELECT cell, generate_subscripts(vi, 1) AS pos, unnest(vi) AS x
        FROM a_$out WHERE rk = 1),
      mg_$out AS (
        SELECT cell, pos, CAST(floor(sum(x) * 1.0 / count(*)) AS BIGINT) AS m
        FROM s_$out GROUP BY cell, pos),
      ml_$out AS (SELECT cell, list(m ORDER BY pos) AS ci FROM mg_$out GROUP BY cell),
      $out AS (
        SELECT p.cell, $fold AS ci
        FROM $prev p LEFT JOIN ml_$out m ON p.cell = m.cell)"""
  }

  /** IVF-style ANN — the OTHER canonical sub-linear path beside
    * sign-LSH (q_ann_lsh): a coarse quantizer assigns every vector to
    * its nearest centroid cell, and each query probes only its top-2
    * cells (nprobe=2) instead of the whole corpus.
    *
    * The quantizer is a TRAINED ARTIFACT, not part of the query
    * dataflow: [[trainIvfCentroids]] runs [[lloydRounds]] fixed-point
    * Lloyd iterations (k = [[ivfCellCount]], corpus-derived) as small
    * Spark jobs, collects only the k centroid
    * vectors driver-side (bounded), and embeds them as literals,
    * exactly like the LSH hyperplanes. The oracle replicates the same
    * integer-exact iterations in CTEs (deriving k in SQL, third round
    * count()-gated), so centroid literals agree
    * bit-for-bit across engines. Cell
    * assignment is then a PURE MAP-SIDE expression — per-row argmax
    * over 8 literal-array dot products, no window, no shuffle of the
    * corpus (an earlier window-based formulation shuffled the corpus
    * ×8, twice). Similarity is rounded to 6dp before the argmax with
    * a smallest-centroid-id tiebreak (encoded as a lexicographic
    * struct max over (sim, -id)), so assignment is cross-engine
    * exact. Candidates equi-join on the cell id — the same Σ cell²
    * economics as LSH bucketing, but with data-adaptive cells, which
    * is why IVF wins on clustered real embeddings.
    */
  /** Trained-quantizer cell assignment shared by [[annIvf]],
    * [[kmeansCluster]] and [[semanticDedup]]: every vector tagged with
    * its nearest ([[trainIvfCentroids]]) centroid cell. Returns
    * (vec_id, v, nrm, cell1, cell2, sim1) where cell1/cell2 are the
    * top-2 cells by 6dp-rounded cosine (smallest-id tiebreak) and sim1
    * is the rounded cosine to cell1. PURE MAP-SIDE: per-row argmax
    * over 8 literal-array dot products — no window, no shuffle of the
    * corpus. Centroid literals come from the cached trained
    * centroids, so repeated invocations (bench iterations, plan builds)
    * don't re-run the training jobs. The int->double bridge (/1e6,
    * then an ascending-index norm) is IEEE-exact and mirrored verbatim
    * by the oracle's cn CTE ([[ivfAssignSql]]).
    */
  private def cellAssignedCompute(s: SparkSession, dir: String): DataFrame = {
    // rides the persisted embedding artifact (r17): the cell build's
    // scan+norm is the same projection the bucket family persists
    val emb = normEmbArtifact(s, dir)
    val cents: Array[(Long, Array[Double], Double)] =
      ivfCentroids(s"$dir/embeddings.parquet") {
        trainIvfCentroids(s, dir).map { case (id, ci) =>
          val cv = ci.map(_ / 1e6)
          var ss = 0.0
          var i = 0
          while (i < cv.length) { ss += cv(i) * cv(i); i += 1 }
          (id, cv, math.sqrt(ss))
        }
      }
    // Native fused top-2 (graft_cell_top2, r14): same math and the
    // same (sim desc, id asc) tiebreak as the (sim, -id) struct-sort
    // idiom it replaces — ORDER BY csim DESC, cent_id in the oracle —
    // but as one codegen'd primitive loop instead of building and
    // sorting a k-struct array per row through interpreted lambdas
    // (the 500k-doc tier measured that idiom at ~100s per corpus
    // assignment pass; see functions/CellAssign.scala).
    val centsLit = array(cents.map(c => array(c._2.map(lit(_)): _*)): _*)
    val idsLit = array(cents.map(c => lit(c._1)): _*)
    val nrmsLit = array(cents.map(c => lit(c._3)): _*)
    emb
      .withColumn("_t2", call_function("graft_cell_top2",
        col("v"), col("nrm"), centsLit, idsLit, nrmsLit))
      .withColumn("cell1", col("_t2.cell1"))
      .withColumn("cell2", col("_t2.cell2"))
      .withColumn("sim1", col("_t2.sim1"))
      .withColumn("sim2", col("_t2.sim2"))
      .drop("_t2")
  }

  /** PERSISTED corpus cell assignment (r14 verdict #2): the
    * [[cellAssignedCompute]] output — (vec_id, v, nrm, cell1, cell2,
    * sim1, sim2) for every corpus vector — written once per (dataset
    * mtime+length, assignment version) as a parquet artifact beside
    * the signature/beam indexes, exactly the [[BeamIndex.beamIndexFor]]
    * lifecycle. Rationale measured at the 500k-doc tier: the three
    * cell consumers (q_ann_ivf, q_kmeans_cluster, q_semantic_dedup)
    * each re-ran the corpus×k assignment pass per INVOCATION — and
    * q_semantic_dedup's plan consumes the frame on BOTH join sides,
    * so one query paid the pass twice. Warm queries now read the
    * artifact and pay only their own work (the in-cell pair mass for
    * SemDeDup, the probe join for IVF). A rewritten corpus
    * re-assigns instead of serving stale cells
    * (CellAssignArtifactSpec). */
  private def cellAssignFor(s: SparkSession, dir: String): String =
    persistedDir(s, "cells", s"$dir/embeddings.parquet", "cell-assign-v1") {
      cellAssignedCompute(s, dir)
    }

  /** Trained-quantizer cell assignment as consumed by the queries:
    * the persisted artifact ([[cellAssignFor]]) read back — one
    * parquet scan, no training jobs, no per-row centroid dots on the
    * warm path. */
  private def cellAssigned(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, cellAssignFor(s, dir))

  /** Oracle twin of [[cellAssigned]]: trains the same two fixed-point
    * Lloyd iterations in CTEs and ends with
    * `assigned(vec_id, v, nrm, cell, csim)` — every vector with its
    * nearest-cell id and 6dp cosine — plus `ranked` for callers that
    * need lower-ranked cells (annIvf's nprobe=2). */
  private lazy val ivfAssignSql = s"""$normEmbSql,
      vi AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(round(x * 1000000.0) AS BIGINT)) AS vi
        FROM e),
      ivfk AS (
        SELECT CAST(power(2, greatest(3, round(log2(sqrt(count(*) / 32.0)))))
               AS BIGINT) AS k
        FROM embeddings),
      c0 AS (SELECT vec_id AS cell, vi AS ci
             FROM vi CROSS JOIN ivfk WHERE vec_id < ivfk.k),
      ${lloydIterSql("c0", "c1")},
      ${lloydIterSql("c1", "c2")},
      ${lloydIterSql("c2", "c3", gateMinN = Some(LloydExtraRoundMinN))},
      cn AS (
        SELECT cell AS cent_id,
               list_transform(ci, x -> x / 1000000.0) AS cv,
               sqrt(list_sum(list_transform(
                 list_transform(ci, x -> x / 1000000.0), x -> x * x))) AS cnrm
        FROM c3),
      sims AS (
        SELECT n.vec_id, n.v, n.nrm, c.cent_id,
               round(list_sum(list_transform(list_zip(n.v, c.cv),
                              z -> struct_extract(z, 1) * struct_extract(z, 2)))
                     / (n.nrm * c.cnrm), 6) AS csim
        FROM n CROSS JOIN cn c),
      ranked AS (
        SELECT vec_id, v, nrm, cent_id, csim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cent_id) AS rk
        FROM sims),
      assigned AS (
        SELECT vec_id, v, nrm, cent_id AS cell, csim FROM ranked WHERE rk = 1)"""

  val annIvf = Q(
    "q_ann_ivf",
    (s, dir) => {
      val withCells = cellAssigned(s, dir)
      val assigned = withCells
        .select(col("vec_id"), col("v"), col("nrm"), col("cell1").as("cell"))
      val qprobe = withCells
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qnrm"),
          explode(array(col("cell1"), col("cell2"))).as("cell"))
      probeTopK(assigned.join(broadcast(qprobe), Seq("cell")), 5, col("cell"))
    },
    Some(s"""
      WITH $ivfAssignSql,
      qprobe AS (
        SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS cell
        FROM ranked WHERE vec_id < 5 AND rk <= 2),
      p AS (
        SELECT a.vec_id, q.q_id, a.cell,
               list_sum(list_transform(list_zip(a.v, q.qv),
                        z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (a.nrm * q.qnrm) AS sim
        FROM assigned a JOIN qprobe q ON a.cell = q.cell AND a.vec_id != q.q_id),
      r AS (
        SELECT q_id, vec_id, cell, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        FROM p)
      SELECT q_id, vec_id, cell, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 5 ORDER BY q_id, rn""")
  )

  /** k-means document clustering over the embedding column — the
    * corpus-curation primitive behind cluster-balanced data mixes and
    * SemDeDup-style pruning: every vector assigned to its trained
    * centroid cell, with per-cluster population and cohesion stats.
    * Reuses the IVF coarse quantizer ([[cellAssigned]]): training is
    * the bounded 8-centroid artifact, assignment is a pure map-side
    * argmax over literal centroids — the whole query is ONE hash
    * aggregation over (cell) plus the final sort; the corpus shuffles
    * once, post-aggregation rows are k.
    *
    * 100 TB shape: k grows with the corpus (k ≈ N / target cell size),
    * but assignment stays map-side while k·dims fits a broadcast —
    * millions of centroids before that breaks. The cohesion sum rides
    * DECIMAL ([[graft.util.Tables.dsum]]) so partial-aggregation order
    * can't perturb it; min/max pick existing 6dp-rounded values, so
    * every output is cross-engine exact.
    */
  val kmeansCluster = Q(
    "q_kmeans_cluster",
    (s, dir) =>
      cellAssigned(s, dir)
        .groupBy(col("cell1").as("cell"))
        .agg(
          count(lit(1)).as("n_vecs"),
          dsum(col("sim1"), 6).as("sum_sim"),
          min(col("sim1")).as("min_sim"),
          max(col("sim1")).as("max_sim"))
        .orderBy(col("cell")),
    Some(s"""
      WITH $ivfAssignSql
      SELECT cell, count(*) AS n_vecs,
             CAST(sum(CAST(csim AS DECIMAL(18,6))) AS DOUBLE) AS sum_sim,
             min(csim) AS min_sim, max(csim) AS max_sim
      FROM assigned GROUP BY cell ORDER BY cell""")
  )

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): prune
    * near-identical embeddings WITHIN each k-means cell — cluster
    * first, then pairwise cosine only inside a cell, drop every vector
    * that has a smaller-id neighbor above the threshold (the standard
    * greedy keep-lowest-id rule; deterministic, no iteration). Reports
    * per-cell population, pruned count, and a pruned-id checksum.
    *
    * This is the third dedup blocking scheme beside shingle/LSH
    * ([[NearDupQueries.ngramJaccard]]/[[NearDupQueries.minhashLsh]]) and hyperplane buckets
    * ([[embedDedup]]): data-adaptive cells concentrate true semantic
    * neighbors, which is why SemDeDup prunes better than random-plane
    * LSH at equal candidate budget. 100 TB shape (r18): cost is
    * Σ block² — bounded by TARGET BLOCK SIZE, not corpus size,
    * because the pair pass blocks on the trained cell REFINED by
    * [[semDedupExtraBits]] sign bits so total blocks ≈ n/400 (the
    * paper's k ≈ N/target, e.g. ~11k cells for LAION, realized here
    * as coarse-cell × sub-bucket so assignment stays map-side —
    * [[semanticBlocked]]). The r17 1M stretch measured the pure-cell
    * form at Θ(n^1.5) (SCALE.md §r17); eb derives to 0 at every demo
    * corpus, so oracle results there are unchanged.
    * Threshold compares unrounded cosines — exact cross-engine because
    * both sides sum the dot product in array order (graft_dot vs
    * list_sum), the [[embedDedup]] precedent.
    */
  /** The SemDeDup dedup-pass blocking frame (r18 — the constant-
    * population fix, see [[semDedupExtraBits]]): every corpus vector
    * with its composite block id, `cell·2^eb + sub` where `cell` is
    * the trained IVF cell ([[cellAssigned]]) and `sub` is the vector's
    * [[semDedupExtraBits]]-bit sign-LSH bucket — a pure map-side
    * refinement over the persisted cell artifact (eb hyperplane dots
    * per row, no shuffle, no re-training). eb = 0 (every oracle demo
    * corpus) makes the block id the cell id itself, bit-identical to
    * the pre-r18 pure-cell blocking. */
  private[graft] def semanticBlocked(s: SparkSession, dir: String): DataFrame = {
    val a = cellAssigned(s, dir)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell1").as("cell"))
    val eb = semDedupExtraBits(embCount(s, dir))
    if (eb == 0) a.withColumn("bucket", col("cell"))
    else signBuckets(a, eb)
      .withColumn("bucket", col("cell") * lit(1L << eb) + col("bucket"))
  }

  /** Pruned (cell, id2) rows — the SemDeDup greedy keep-lowest-id rule
    * over the blocked pair pass; shared by [[semanticDedup]] and the
    * docs-tier planted-twin prune floor (ScaleSmoke.docsFloors). */
  private[graft] def semanticPrunedIds(s: SparkSession, dir: String): DataFrame = {
    val eb = semDedupExtraBits(embCount(s, dir))
    // grouped per-block pair scoring (r15): the in-block pair mass is
    // scored inside graft_bucket_pairs over primitive arrays; only
    // the ≥-threshold pairs' (block, id2) survive to the distinct.
    // A degenerate (dense) block routes to the join fallback (r16).
    val bf = semanticBlocked(s, dir)
      .select(col("bucket"), col("vec_id"), col("v"), col("nrm"))
    // distinct on (bucket, id2) FIRST: all pairs naming id2 live in
    // id2's own (unique) block, so it equals distinct on (cell, id2)
    // row-for-row — and hashpartitioning(bucket) from the pair
    // aggregation satisfies its clustering as a key subset, keeping
    // the pair pass on ONE exchange (the r15 chain; shiftright before
    // the distinct broke the subset match and re-shuffled twice).
    val pruned = bucketPairsRows(bf, 0.4,
        denseIds = Some(denseBucketsCached(
          dir, s"cells-sd$eb", bf, MaxBucketMembers)))
      .select(col("bucket"), col("e.id2").as("id2"))
      .distinct()
    // block = cell·2^eb + sub, so the report's coarse cell is the
    // block shifted back down (eb = 0: a bare rename, so the
    // downstream per-cell count still rides the same exchange)
    if (eb == 0) pruned.select(col("bucket").as("cell"), col("id2"))
    else pruned.select(shiftright(col("bucket"), eb).as("cell"), col("id2"))
  }

  val semanticDedup = Q(
    "q_semantic_dedup",
    (s, dir) => {
      val a = cellAssigned(s, dir)
        .select(col("vec_id"), col("cell1").as("cell"))
      val pruned = semanticPrunedIds(s, dir)
      val perCell = a.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      val perPruned = pruned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_pruned"), sum(col("id2")).as("pruned_id_sum"))
      perCell.join(perPruned, Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
          coalesce(col("pruned_id_sum"), lit(0L)).as("pruned_id_sum"))
        .orderBy(col("cell"))
    },
    // The oracle derives the SAME eb = greatest(0, round(log2(n/(k·400))))
    // and generates the same planesFor weights in SQL (the knnBucketSql
    // machinery): spl/svx/sdotj/sbk compute each vector's eb-bit sign
    // sub-bucket with the identical exact-integer hyperplane dots, blk
    // composes cell·2^eb + sub (eb = 0 → spl is empty, sbk is empty,
    // COALESCE keeps bucket = cell — the demo corpora), and the pair
    // CTE joins on the composite block instead of the bare cell.
    Some(s"""
      WITH $ivfAssignSql,
      sdeb AS (
        SELECT CAST(greatest(0, round(log2(
                 (SELECT count(*) FROM embeddings) / (ivfk.k * 400.0))))
               AS INT) AS eb
        FROM ivfk),
      spl AS (
        SELECT pj.j, pi.i,
               ((pi.i * 31 + pj.j * 17
                 + (pj.j // 7) * ((pi.i * pi.i) % 7) * 3
                 + (pj.j // 7) * 5) % 7) - 3 AS wgt
        FROM (SELECT unnest(range(26)) AS j) pj
        CROSS JOIN (SELECT unnest(range(64)) AS i) pi
        CROSS JOIN sdeb WHERE pj.j < sdeb.eb),
      svx AS (
        SELECT vec_id, generate_subscripts(v, 1) - 1 AS i,
               CAST(round(unnest(v) * 1000000) AS BIGINT) AS xi
        FROM assigned),
      sdotj AS (
        SELECT svx.vec_id, spl.j, sum(svx.xi * spl.wgt) AS dot
        FROM svx JOIN spl ON svx.i = spl.i GROUP BY 1, 2),
      sbk AS (
        SELECT d.vec_id,
               CAST(sum(CASE WHEN d.dot >= 0
                        THEN CAST(power(2, sdeb.eb - 1 - d.j) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS sub
        FROM sdotj d CROSS JOIN sdeb GROUP BY d.vec_id),
      blk AS (
        SELECT a.vec_id, a.v, a.nrm, a.cell,
               a.cell * CAST(power(2, sdeb.eb) AS BIGINT)
                 + COALESCE(sbk.sub, 0) AS bucket
        FROM assigned a CROSS JOIN sdeb
        LEFT JOIN sbk ON a.vec_id = sbk.vec_id),
      pr AS (
        SELECT DISTINCT a.cell, c.vec_id AS id2
        FROM blk a JOIN blk c
          ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE list_sum(list_transform(list_zip(a.v, c.v),
                z -> struct_extract(z, 1) * struct_extract(z, 2)))
              / (a.nrm * c.nrm) >= 0.4),
      st AS (SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY cell),
      rm AS (
        SELECT cell, count(*) AS n_pruned,
               CAST(sum(id2) AS BIGINT) AS pruned_id_sum
        FROM pr GROUP BY cell)
      SELECT s.cell, s.n_vecs,
             COALESCE(r.n_pruned, 0) AS n_pruned,
             COALESCE(r.pruned_id_sum, 0) AS pruned_id_sum
      FROM st s LEFT JOIN rm r ON s.cell = r.cell
      ORDER BY s.cell""")
  )

  /** The embed-dedup similarity threshold — shared by the compute
    * path, the artifact key and the oracle SQL. */
  private[similarity] val EmbDedupThr = 0.4

  /** The COMPUTE path of q_embed_dedup's pair set: grouped per-bucket
    * scoring over the auto-width sign buckets, ≥-threshold (id1, id2,
    * unrounded sim) rows out. Factored from the query so the artifact
    * build below and EmbBucketArtifactSpec's bit-identity pin share
    * one definition. */
  private[similarity] def embPairsPlan(s: SparkSession, dir: String): DataFrame = {
    val planes = embAutoWidth(s, dir)
    val b = embBucketsAt(s, dir, planes)
    bucketPairsRows(b, EmbDedupThr, denseIds = Some(denseBucketsCached(
        dir, s"planes$planes", b, MaxBucketMembers)))
      .select(col("e.id1").as("id1"), col("e.id2").as("id2"),
        col("e.sim").as("sim"))
  }

  /** THE persisted embed-dedup pair artifact (r20 — the r19 verdict's
    * #1 via the probe protocol: warm q_embed_dedup at the 500k tier
    * decomposed to 0.19s bucketed-artifact scan + 10.0s in-bucket pair
    * loop + ~1.5s projection/sort, i.e. ~85% of warm cost re-scored
    * the SAME pair set on every invocation even though the pairs are a
    * pure function of (embeddings file, width, threshold) — exactly
    * the [[VectorQueries.knnEdgesFor]] write-once-read-many shape, and the pair set
    * is even smaller than the n·k edge rows). Build = one grouped
    * pair pass over [[VectorQueries.embBucketTable]]; warm q_embed_dedup reads the
    * ≥-threshold (id1, id2, sim) rows back. sim persists UNROUNDED and
    * doubles round-trip parquet exactly, so artifact-backed results
    * are bit-identical to the recompute (EmbBucketArtifactSpec). */
  private def embPairsFor(s: SparkSession, dir: String): String =
    persistedDir(s, "embpairs", s"$dir/embeddings.parquet",
        s"planes${embAutoWidth(s, dir)}", s"thr$EmbDedupThr", "embpairs-v1") {
      embPairsPlan(s, dir)
    }

  /** Embedding-cosine near-duplicate pairs — dedup over the vector
    * space: LSH-bucket blocking (same 4-plane signs as q_ann_lsh), then
    * cosine within bucket only, pairs above threshold with id1 < id2.
    * The corpus embeddings are near-random (max pairwise cosine ~0.51)
    * so the 0.4 threshold yields a small demo set; SimilaritySpec
    * plants true duplicates to prove collapse. Same sub-quadratic
    * shape as MinHash: Σ bucket², never corpus².
    */
  val embedDedup = Q(
    "q_embed_dedup",
    // Auto-width (r14 — the 500k-doc tier's measured cliff): this was
    // the LAST all-pairs-in-bucket query still on the literal 4-plane
    // demo width; at 500k uniform vectors that is 16 buckets × ~31k
    // members × C(31k, 2) dots = the 1667s straggler the docs tier
    // caught (SCALE.md §r14). signBuckets ∘ autoPlaneCount derives 4
    // (bit-identical to the old inline planes) at the 500-doc oracle
    // corpora and log2-scales beyond, exactly the q_knn_graph
    // precedent; the DuckDB twin derives the SAME width in SQL
    // ([[VectorQueries.knnBucketSql]]), so the oracle stays exact at every scale.
    // Grouped per-bucket pair scoring (r15, the q_knn_graph precedent):
    // graft_bucket_pairs runs the pair loop over each collected
    // bucket's primitive arrays and emits only the ≥-threshold pairs —
    // no ordered-pair row materialization. Semantics (vec_id < id2,
    // unrounded-sim threshold, ascending-index dot) bit-match the
    // former self-join and the oracle's p CTE.
    // warm path reads the persisted pair artifact (r20): the sort's
    // range sampling re-reads a cheap parquet scan, so the r17
    // repartition barrier that protected the live pair loop is no
    // longer needed (the knnGraphPlanAuto precedent; the r20
    // sort-hazard A/B measured barriers on bare artifact scans as
    // slightly negative)
    (s, dir) =>
      Tables.parquet(s, embPairsFor(s, dir))
        .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim_r"))
        .orderBy(col("id1"), col("id2")),
    Some(s"""
      WITH $normEmbSql,
      $knnBucketSql,
      p AS (
        SELECT a.vec_id AS id1, c.vec_id AS id2,
               list_sum(list_transform(list_zip(a.v, c.v),
                        z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (a.nrm * c.nrm) AS sim
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
      SELECT id1, id2, round(sim, 6) AS sim_r
      FROM p WHERE sim >= 0.4 ORDER BY id1, id2""")
  )

  /** Int8 scalar quantization of the embedding column — the 4× memory
    * cut that makes a 100 TB vector corpus fit its serving tier
    * (per-vector min/max affine quantization, the faiss SQ8 scheme).
    * Pure per-row projection: every output is either an integer
    * (quantized codes are exact — same IEEE element-wise ops in both
    * engines, then round to int) or a 6dp-rounded range bound. The
    * q_sum column integer-checks the entire code vector without
    * emitting a 64-element array through the hash compare. Constant
    * vectors (scale 0) quantize to all-zero codes by definition.
    * SimilaritySpec pins the actual guarantee: dequantization error
    * ≤ scale/2 per element.
    */
  val embedQuant = Q(
    "q_embed_quant",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
        .withColumn("mn", array_min(col("v")))
        .withColumn("mx", array_max(col("v")))
        .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
        .select(
          col("vec_id"),
          round(col("mn"), 6).as("mn_r"),
          round(col("mx"), 6).as("mx_r"),
          when(col("scale") === 0, lit(0L))
            .otherwise(aggregate(
              transform(col("v"),
                x => round((x - col("mn")) / col("scale")).cast(LongType)),
              lit(0L), (acc, q) => acc + q)).as("q_sum"),
          lsize(col("v")).as("n_dims"))
        // sort barrier (r20 sort-hazard audit): 0.36 -> 0.29s at
        // sf0.1 — the per-row array quantization re-ran in the range
        // sampler's pass (the q_pii_scrub shape, SCALE.md §r20)
        .repartition(col("vec_id"))
        .orderBy(col("vec_id")),
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      s AS (
        SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
               (list_max(v) - list_min(v)) / 255.0 AS scale
        FROM e)
      SELECT vec_id, round(mn, 6) AS mn_r, round(mx, 6) AS mx_r,
             CASE WHEN scale = 0 THEN 0
                  ELSE CAST(list_sum(list_transform(v,
                       x -> CAST(round((x - mn) / scale) AS BIGINT))) AS BIGINT)
             END AS q_sum,
             CAST(len(v) AS BIGINT) AS n_dims
      FROM s ORDER BY vec_id""")
  )

  // ---- Product quantization (PQ / ADC) ------------------------------

  /** PQ geometry: 64-dim vectors split into [[PqM]] subspaces of
    * [[PqSub]] dims, each quantized to one of K = [[pqCodebookSize]]
    * trained codes — corpus-derived (4 at the 500-vector demo corpora,
    * 32 at the 40× smoke, 256 — one byte per subspace, the production
    * width — from n≈4M). The codebook stays a bounded broadcast
    * literal (M·K·sub ≤ 256·8·8 longs) and training cost is one
    * assignment scan + one (m, cell, pos) aggregation per Lloyd round
    * for ALL subspaces together at any K.
    */
  private[similarity] val PqM = 8
  private[similarity] val PqSub = 8

  /** Trained PQ codebooks — [m][cell][dim] in the ×1e6 fixed-point
    * domain, cached like the IVF centroids so bench iterations re-use
    * the bounded trained artifact. */
  private val pqCodebooks = ArtifactCache.datasetScoped[Array[Array[Array[Long]]]]("pq-codebooks")

  /** PQ codebook training: [[lloydTrain]] over all M subspaces in
    * ONE dataflow (K = [[pqCodebookSize]] cells 0..K-1 per subspace,
    * [[lloydRounds]] rounds), seeded with the K smallest vec_ids'
    * sub-slices.
    */
  private[similarity] def trainPqCodebooks(
      s: SparkSession, dir: String): Array[Array[Array[Long]]] = {
    val n = embCount(s, dir)
    val pqK = pqCodebookSize(n)
    val sv = fixedVi(s, dir)
      .select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(PqM - 1)), m =>
          struct(m.as("m"),
            slice(col("vi"), m * PqSub + 1, lit(PqSub)).as("svi")))).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.svi").as("svi"))
    val seeds = sv.filter(col("vec_id") < pqK).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Long](2).toArray))
    lloydTrain("PQ training", sv, Array.tabulate(pqK)(_.toLong),
      Array.tabulate(PqM, pqK)((m, c) =>
        seeds.find(x => x._1 == m && x._2 == c.toLong).get._3),
      lloydRounds(n))
  }

  /** One PQ Lloyd iteration as oracle CTEs over the (vec_id, m, svi)
    * sub-vector relation `sv`: nearest-`$prev` assignment per
    * (vector, subspace) with the (d2, cell) tiebreak, then exact
    * integer means per (m, cell, pos); `$out` keeps the previous
    * centroid for emptied cells. Twin of one [[trainPqCodebooks]]
    * round — same shape as [[lloydIterSql]] with the subspace id
    * riding every key. */
  private def pqLloydIterSql(prev: String, out: String,
                             gateMinN: Option[Long] = None): String = {
    val fold = gateMinN match {
      case None => "COALESCE(l.ci, p.ci)"
      case Some(minN) =>
        s"""CASE WHEN (SELECT count(*) FROM embeddings) >= $minN
                 THEN COALESCE(l.ci, p.ci) ELSE p.ci END"""
    }
    s"""
      d_$out AS (
        SELECT v.vec_id, v.m, v.svi, c.cell,
               list_sum(list_transform(list_zip(v.svi, c.ci),
                        z -> (struct_extract(z, 1) - struct_extract(z, 2))
                           * (struct_extract(z, 1) - struct_extract(z, 2)))) AS d2
        FROM sv v JOIN $prev c ON v.m = c.m),
      a_$out AS (
        SELECT vec_id, m, svi, cell,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) AS rk
        FROM d_$out),
      s_$out AS (
        SELECT m, cell, generate_subscripts(svi, 1) AS pos, unnest(svi) AS x
        FROM a_$out WHERE rk = 1),
      mg_$out AS (
        SELECT m, cell, pos, CAST(floor(sum(x) * 1.0 / count(*)) AS BIGINT) AS mn
        FROM s_$out GROUP BY m, cell, pos),
      ml_$out AS (
        SELECT m, cell, list(mn ORDER BY pos) AS ci
        FROM mg_$out GROUP BY m, cell),
      $out AS (
        SELECT p.m, p.cell, $fold AS ci
        FROM $prev p LEFT JOIN ml_$out l ON p.m = l.m AND p.cell = l.cell)"""
  }

  /** Product-quantization ANN with asymmetric distance computation —
    * the third canonical sub-linear path beside sign-LSH (q_ann_lsh)
    * and IVF (q_ann_ivf), and the one that compresses the CORPUS: each
    * vector is stored as M=8 one-byte-ish codes instead of 64 doubles
    * (8 bytes vs 512 — the memory shape that lets a 100 TB embedding
    * corpus fit an index tier). Codebooks are a TRAINED ARTIFACT
    * ([[trainPqCodebooks]]) embedded as literals, exactly like the IVF
    * centroids; encoding is a PURE MAP-SIDE per-row argmin per
    * subspace — the corpus never shuffles. ADC scoring joins the coded
    * corpus against the 5 BROADCAST query vectors and computes
    * approx-d2 = Σ_m d2(query_sub_m, codebook[m][code_m]) by literal
    * lookup — integer arithmetic end-to-end, so the oracle's replica
    * is hash-exact. Top-5 per query via one bounded window.
    *
    * At scale the real deployment precomputes the M·K partial-distance
    * table per query (32 ints here) and the scan is additions only;
    * the literal-lookup expression below is that same table inlined,
    * which Catalyst evaluates per row inside whole-stage codegen.
    */
  val pqAdc = Q(
    "q_pq_adc",
    (s, dir) => {
      val cb = pqCodebooks(s"$dir/embeddings.parquet")(trainPqCodebooks(s, dir))
      val pqK = cb(0).length // derived at train time (pqCodebookSize)
      val vi = fixedVi(s, dir)
      // Both loops UNROLLED in Scala with each (m, c) binding ONLY its
      // own sub-codebook literal (8 longs): the r≤10 form indexed a
      // nested M×K×sub literal through element_at inside transform
      // lambdas, which duplicated the full codebook tree once per
      // (m, c) — M·K·K·sub ≈ 32k expression nodes at the sf0.1 derived
      // K=8, and per-invocation PLAN time (analyze/fold the tree)
      // dominated the query (3.3s, 2× the K=4 cost). Unrolled, the
      // tree is M·K·sub ≈ 512 nodes and plan time is back in the
      // noise. Semantics identical: argmin via the same (d2, cell)
      // lexicographic array_sort.
      def subLit(m: Int, c: Int): Column = array(cb(m)(c).map(lit(_)): _*)
      // graft_cell_argmin per subspace (r14): the fused codegen'd
      // argmin replaces the per-(m) struct-sort HOF — same (d2 asc,
      // cell asc) winner, no per-row K-struct array build/sort (this
      // encode pass over the whole corpus was 71s of q_pq_adc's
      // measured cost at the 500k tier)
      val coded = vi.withColumn("codes",
        array((0 until PqM).map { m =>
          call_function("graft_cell_argmin",
            slice(col("vi"), lit(m * PqSub + 1), lit(PqSub)),
            array((0 until pqK).map(c => subLit(m, c)): _*),
            array((0 until pqK).map(c => lit(c.toLong)): _*))
            .cast(IntegerType)
        }: _*))
        .select(col("vec_id"), col("codes"))
      // ADC with the PRECOMPUTED per-probe distance table — the shape
      // the scaladoc names for the real deployment: dtab[q][m][c] =
      // d2(probe q's m-th sub-vector, codebook[m][c]), computed once
      // driver-side (5 probes × M·K Long sums — the bounded "k seeds"
      // driver-collect class) and inlined as literals. The corpus scan
      // then does M flat element_ats + a sum per row instead of M
      // fresh 8-dim zip_with folds against the probe vector (r19
      // probe: the ADC scan was ~80% of the warm query at the 500k
      // tier). Long arithmetic driver-side is bit-identical to the
      // codegen'd zip_with, so the oracle replica is untouched.
      val probeRows = vi.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("vi")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val dtab: Array[Array[Array[Long]]] = probeRows.map { case (_, qvi) =>
        Array.tabulate(PqM, pqK)((m, c) =>
          d2(qvi.slice(m * PqSub, m * PqSub + PqSub), cb(m)(c)))
      }
      import s.implicits._
      if (probeRows.isEmpty) {
        // No probe vectors (no vec_id < 5): dtab is empty, so the
        // probes×K literal below would build `array()` — typed
        // ARRAY<NULL> — and the nested element_at fails at ANALYSIS
        // time even though the empty broadcast join would produce zero
        // rows (ADVICE r19). Short-circuit to the empty result frame
        // the zip_with form used to plan for the same input.
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("q_id", "vec_id", "adc_d2", "rn")
      } else {
        val probes = probeRows.map(_._1).zipWithIndex
          .map { case (id, i) => (id, i + 1) }.toSeq.toDF("q_id", "qi")
        val scored = coded
          .join(broadcast(probes), col("vec_id") =!= col("q_id"))
          .withColumn("adc_d2",
            (0 until PqM).map { m =>
              val tabM = array(dtab.map(q =>
                array(q(m).map(lit(_)): _*)): _*) // probes × K literal
              element_at(element_at(tabM, col("qi")),
                element_at(col("codes"), m + 1) + 1)
            }.reduce(_ + _))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("adc_d2").asc, col("vec_id"))
        scored
          .withColumn("rn", row_number().over(w).cast(LongType))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("adc_d2"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      }
    },
    Some(s"""
      WITH vi AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS vi
        FROM embeddings),
      ms AS (SELECT unnest(range($PqM)) AS m),
      sv AS (
        SELECT vec_id, m, vi[m * $PqSub + 1 : m * $PqSub + $PqSub] AS svi
        FROM vi CROSS JOIN ms),
      pqk AS (
        SELECT CAST(power(2, greatest(2, round(log2(sqrt(count(*) / 128.0)))))
               AS BIGINT) AS kk
        FROM embeddings),
      pc0 AS (SELECT m, vec_id AS cell, svi AS ci
              FROM sv CROSS JOIN pqk WHERE vec_id < pqk.kk),
      ${pqLloydIterSql("pc0", "pc1")},
      ${pqLloydIterSql("pc1", "pc2")},
      ${pqLloydIterSql("pc2", "pc3", gateMinN = Some(LloydExtraRoundMinN))},
      d_enc AS (
        SELECT v.vec_id, v.m, c.cell,
               list_sum(list_transform(list_zip(v.svi, c.ci),
                        z -> (struct_extract(z, 1) - struct_extract(z, 2))
                           * (struct_extract(z, 1) - struct_extract(z, 2)))) AS d2
        FROM sv v JOIN pc3 c ON v.m = c.m),
      enc AS (
        SELECT vec_id, m, cell AS code
        FROM (SELECT vec_id, m, cell,
                     row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2, cell) AS rk
              FROM d_enc) WHERE rk = 1),
      q AS (SELECT vec_id AS q_id, m, svi AS qsvi FROM sv WHERE vec_id < 5),
      pd AS (
        SELECT q.q_id, c.m, c.cell,
               list_sum(list_transform(list_zip(q.qsvi, c.ci),
                        z -> (struct_extract(z, 1) - struct_extract(z, 2))
                           * (struct_extract(z, 1) - struct_extract(z, 2)))) AS pd2
        FROM q JOIN pc3 c ON q.m = c.m),
      adc AS (
        SELECT p.q_id, e.vec_id, CAST(sum(p.pd2) AS BIGINT) AS adc_d2
        FROM enc e JOIN pd p ON e.m = p.m AND e.code = p.cell
        WHERE e.vec_id != p.q_id
        GROUP BY p.q_id, e.vec_id),
      r AS (
        SELECT q_id, vec_id, adc_d2,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_d2, vec_id) AS rn
        FROM adc)
      SELECT q_id, vec_id, adc_d2, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 5 ORDER BY q_id, rn""")
  )

  /** Embedding-centroid drift — the monitoring query an embedding
    * pipeline runs between corpus snapshots or across segments: how
    * far has each segment's centroid rotated away from the global one?
    * (PSI/KS cover scalar feature drift — q_psi/q_ks; this is the
    * vector-space analogue.) Centroids are EXACT integer means in the
    * ×1e6 fixed-point domain (floor-divides of per-(label, pos) sums —
    * the [[trainIvfCentroids]] arithmetic), and the global centroid is
    * derived by RE-AGGREGATING the per-label sums, so the corpus is
    * scanned once; cosine is one fixed-order double expression over
    * integer components (all ≪ 2^53), so the oracle replays it
    * bit-for-bit.
    *
    * Scale shape: one posexplode + (label, pos) aggregation (the only
    * corpus-sized shuffle), then label-count-sized everything: the
    * global roll-up, the broadcast ‖g‖ scalar, the per-label cosine.
    */
  val embedDrift = Q(
    "q_embed_drift",
    (s, dir) => {
      // the ONE corpus-sized pass, checkpointed so the three derived
      // branches (label centroids, global centroid, ||g||) read the
      // labels×64-row result instead of re-scanning the corpus
      val sums = t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(transform(col("embedding"),
            x => round(x.cast(DoubleType) * 1e6).cast(LongType))))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("sx"), count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val lab = sums.select(col("label"), col("pos"),
        floor(col("sx").cast(DoubleType) / col("cnt")).cast(LongType).as("c"))
      val glob = sums.groupBy(col("pos"))
        .agg(floor(sum(col("sx")).cast(DoubleType) / sum(col("cnt")))
          .cast(LongType).as("g"))
        .localCheckpoint(false)
      val gg = glob.agg(sum(col("g") * col("g")).as("gg"))
      lab.join(broadcast(glob), Seq("pos"))
        .groupBy(col("label"))
        .agg(
          sum(col("c") * col("g")).as("dot"),
          sum(col("c") * col("c")).as("cc"))
        .crossJoin(broadcast(gg))
        .select(col("label"),
          round(col("dot") / (sqrt(col("cc")) * sqrt(col("gg"))), 6)
            .as("cos_to_global_r"))
        .orderBy(col("label"))
    },
    Some("""
      WITH vi AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
        FROM embeddings),
      sums AS (
        SELECT label, pos, CAST(sum(xi) AS BIGINT) AS sx, count(*) AS cnt
        FROM vi GROUP BY 1, 2),
      lab AS (
        SELECT label, pos,
               CAST(floor(sx * 1.0 / cnt) AS BIGINT) AS c
        FROM sums),
      gcent AS (
        SELECT pos,
               CAST(floor(CAST(sum(sx) AS BIGINT) * 1.0
                          / CAST(sum(cnt) AS BIGINT)) AS BIGINT) AS g
        FROM sums GROUP BY 1),
      gg AS (SELECT CAST(sum(g * g) AS BIGINT) AS gg FROM gcent),
      agg AS (
        SELECT l.label,
               CAST(sum(l.c * gl.g) AS BIGINT) AS dot,
               CAST(sum(l.c * l.c) AS BIGINT) AS cc
        FROM lab l JOIN gcent gl ON l.pos = gl.pos
        GROUP BY 1)
      SELECT label, round(dot * 1.0 / (sqrt(cc * 1.0) * sqrt(gg * 1.0)), 6)
               AS cos_to_global_r
      FROM agg CROSS JOIN gg ORDER BY label""")
  )

  /** Simplified silhouette of the k-means clustering — the third leg
    * of the clustering family (q_kmeans_cluster trains+assigns,
    * q_semantic_dedup exploits, this SCORES): per vector, a = cosine
    * distance to its own centroid, b = to the second-nearest, and
    * s = (b − a)/max(a, b) ∈ [0, 1] (the centroid-based simplification
    * — exact silhouette is all-pairs and has no 100 TB shape). Both
    * distances derive from the 6dp-rounded sims the shared trained-
    * quantizer assignment ([[cellAssigned]] / its `ranked` oracle twin)
    * already computes, so this is a PURE MAP-SIDE projection plus one
    * (cell) aggregation; per-vector terms are rounded to 9 dp and
    * summed through DECIMAL (the dsum idiom) so partial-agg order
    * can't wiggle the mean. Degenerate vectors equidistant at 0 from
    * two centroids yield NULL on both engines.
    */
  val silhouette = Q(
    "q_silhouette",
    (s, dir) => {
      val a = lit(1.0) - col("sim1")
      val b = lit(1.0) - col("sim2")
      cellAssigned(s, dir)
        .select(col("cell1").as("cell"),
          when(greatest(a, b) > 0,
            round((b - a) / greatest(a, b), 9)).as("sil"))
        .groupBy(col("cell"))
        .agg(
          count(lit(1)).as("n_vecs"),
          round(dsum(col("sil"), 9) / count(lit(1)), 6).as("mean_sil_r"))
        .orderBy(col("cell"))
    },
    Some(s"""
      WITH $ivfAssignSql,
      pv AS (
        SELECT vec_id,
               max(CASE WHEN rk = 1 THEN cent_id END) AS cell,
               1 - max(CASE WHEN rk = 1 THEN csim END) AS a,
               1 - max(CASE WHEN rk = 2 THEN csim END) AS b
        FROM ranked WHERE rk <= 2 GROUP BY vec_id),
      sv AS (
        SELECT cell,
               CASE WHEN greatest(a, b) > 0
                    THEN round((b - a) / greatest(a, b), 9) END AS sil
        FROM pv)
      SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
             round(CAST(sum(CAST(sil AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6)
               AS mean_sil_r
      FROM sv GROUP BY cell ORDER BY cell""")
  )

  override def all: Seq[Q] = Seq(
    annIvf, kmeansCluster, semanticDedup, embedDedup, embedQuant, pqAdc,
    embedDrift, silhouette)
}
