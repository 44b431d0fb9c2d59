package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Q, QueryModule}
import graft.util.{ArtifactCache, Tables}
import graft.util.ArtifactCache.{Bucketed, persistedDir, sessionTable}
import graft.util.Tables._

/** Vector search over `embeddings`: normalized vectors, exact cosine
  * top-k, sign-LSH buckets with multiprobe ANN and its recall, the
  * bucketed kNN graph and classifier, RRF and NDCG. The probe set is
  * broadcast; ANN candidates come from an LSH-bucket join or a
  * per-bucket grouped expression, never corpus × corpus. */
object VectorQueries extends QueryModule {

  /** Normalized-embeddings prelude shared by every vector query
    * (cosine baseline, both LSH variants, IVF, embedding dedup):
    * float→double cast + L2 norm via the native graft_dot. One
    * definition so a future change (e.g. zero-norm guard) lands
    * everywhere at once. Declared BEFORE any Q val that interpolates
    * it (vals initialize in declaration order).
    */
  private[similarity] def normEmb(s: SparkSession, dir: String): DataFrame =
    normEmbOf(t(s, dir, "embeddings"))

  /** [[normEmb]] over any (vec_id, embedding) frame: the streaming
    * operators' batches and the scale floors' raw corpus read. */
  private[graft] def normEmbOf(df: DataFrame): DataFrame =
    df.select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))

  /** Oracle twin of [[normEmb]] as the `e`/`n` CTE pair every vector
    * oracle opens with. */
  private[similarity] val normEmbSql = """
      e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e)"""

  /** Oracle twin of [[bruteTopK]]'s scoring: the `n` vectors, the five
    * `q` probes (vec_id < 5) and every non-self `p(vec_id, q_id, sim)`. */
  private val bruteSimSql = s"""$normEmbSql,
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
      p AS (
        SELECT n.vec_id, q.q_id,
               list_sum(list_transform(list_zip(n.v, q.qv),
                                       z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (n.nrm * q.qnrm) AS sim
        FROM n CROSS JOIN q WHERE n.vec_id != q.q_id)"""

  /** Brute-force cosine top-k — the correctness baseline for ANN. The
    * bounded query set (5 vectors) is broadcast against the corpus:
    * corpus never shuffles, cost is one linear scan per batch of
    * queries. Norms are precomputed per side before the join. The
    * 100 TB path is q_ann_lsh (bucketed candidates, same scoring).
    * sim is rounded to 6dp on both sides; ranking uses the unrounded
    * value + vec_id tiebreak (identical float ops → identical order).
    */
  /** Brute-force exact top-k plan, shared by q_cosine_topk (k=10) and
    * the recall calibration q_ann_recall (k=5 ground truth). */
  private def bruteTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = normEmbArtifact(s, dir)
    val q = emb.select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .filter(col("q_id") < 5)
    probeTopK(emb.crossJoin(broadcast(q)), k)
  }

  /** The cosine scoring every probe plan ends with, over candidate
    * (vec_id, v, nrm) × query (q_id, qv, qnrm) rows: drop self-matches,
    * sim = graft_dot(v, qv) / (nrm · qnrm), keep the first `k` per query
    * by the unrounded (sim desc, vec_id), emit
    * (q_id, vec_id, extra…, sim_r, rn) with sim rounded to 6 dp. */
  private[similarity] def probeTopK(probes: DataFrame, k: Int, extra: Column*): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    probes
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm")))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(Seq(col("q_id"), col("vec_id")) ++ extra ++
        Seq(round(col("sim"), 6).as("sim_r"), col("rn")): _*)
      .orderBy(col("q_id"), col("rn"))
  }

  val cosineTopK = Q(
    "q_cosine_topk",
    (s, dir) => bruteTopK(s, dir, 10),
    Some(s"""
      WITH $bruteSimSql,
      r AS (
        SELECT q_id, vec_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        FROM p)
      SELECT q_id, vec_id, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 10 ORDER BY q_id, rn""")
  )

  /** Deterministic pseudo-random hyperplane weights for sign-LSH:
    * n planes × 64 dims, integer values in [-3, 3]. The first 4 are
    * shared verbatim by the Spark plan and the oracle SQL (single
    * source of truth); [[planesFor]] extends the same formula for the
    * auto-width variants, mirrored in SQL by [[knnBucketSql]].
    *
    * The `(j / 7)` terms exist because the r14 500k-doc tier caught
    * the original formula REPEATING with period 7 in j (j·17 + 119 ≡
    * j·17 mod 7): planes 7/8/9 duplicated planes 0/1/2, so any width
    * above 7 silently capped bucket diversity at 128 — 500k vectors
    * at "width 10" landed in 126 buckets and the in-bucket quadratic
    * came back (SCALE.md §r14). The band-shift terms vanish for
    * j < 7, keeping every committed oracle literal and every corpus
    * up to width 7 (≈ 50k vectors) bit-identical; the family is
    * verified pairwise-distinct and non-proportional through j = 25
    * (width 26 ≈ 2.7e10 vectors), and fails loudly beyond. */
  private[graft] def planesFor(n: Int): Seq[Array[Int]] = {
    require(n <= 26,
      s"plane family verified distinct only to width 26, got $n — " +
        "extend the (j/7) band-mixing terms before going wider")
    (0 until n).map(j => Array.tabulate(64)(i =>
      ((i * 31 + j * 17 + (j / 7) * ((i * i) % 7) * 3 + (j / 7) * 5) % 7) - 3))
  }

  private[similarity] val planes: Seq[Array[Int]] = planesFor(4)

  /** Shared plan for the two ANN variants — the 100 TB path for
    * q_cosine_topk: random-hyperplane signs put each vector in one of
    * 16 buckets; the hyperplane dot products use exact integer
    * arithmetic (round(x·1e6)·w summed in BIGINT) so bucketing is
    * order-independent and oracle-exact; final cosine scoring is
    * identical to the brute-force baseline. Sign-LSH bucketing with
    * Hamming-1 MULTI-PROBE, then in-bucket candidate scoring.
    *
    * Single-probe sign-LSH has a boundary problem: a query near one of
    * the hyperplanes loses every neighbor that lands on the other side
    * (measured recall@5 vs brute force was 0.12 on the test corpus).
    * Multi-probe (Lv et al., VLDB'07) fixes it without more tables:
    * each query also probes the 4 buckets that differ in exactly one
    * plane sign — 5 of 16 buckets ≈ 31% of the corpus scanned (vs 100%
    * brute), recall@5 0.6 on the unstructured corpus and ~0.8+ on
    * clustered data (SimilaritySpec planted fixture). More planes
    * sharpen the ratio: probe count grows as planes+1 while bucket
    * count grows as 2^planes.
    *
    * `broadcastQueries = true` pins the bounded-query-batch shape
    * (probe set ships to every executor, the corpus never shuffles);
    * `false` leaves the join hint-free so AQE picks the strategy — the
    * shape a million-query batch needs, where the probe side is too big
    * to broadcast and the join must fall back to a shuffle hash/
    * sort-merge join on `bucket`.
    */
  /** Sign-LSH bucket assignment over a [[normEmb]] frame — shared by
    * the two ANN variants and the kNN-graph builder. Exact integer
    * hyperplane dots (round(x·1e6)·w in BIGINT) so bucket membership
    * is order-independent and oracle-identical. `planeCount` defaults
    * to the oracle demo width 4 (16 buckets); production picks it by
    * corpus size (in-bucket population n/2^planes is the quadratic
    * knob — see [[knnGraphPlan]]'s width note).
    */
  private[graft] def signBuckets(emb: DataFrame, planeCount: Int = 4): DataFrame = {
    val ps = planesFor(planeCount)
    def dot(j: Int): Column = aggregate(
      zip_with(col("v"), array(ps(j).map(lit(_)): _*),
        (x, w) => round(x * 1e6).cast(LongType) * w.cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    emb.withColumn(
      "bucket",
      (0 until planeCount)
        .map(j => when(dot(j) >= 0, lit(1 << (planeCount - 1 - j))).otherwise(lit(0)))
        .reduce(_ + _))
  }

  /** Corpus embedding count: ONE metadata-cheap columnar count sizes
    * the LSH width ([[autoPlaneCount]]), cached so the several
    * consumers that derive the width per plan build don't each re-run
    * the count job. */
  private val embCounts = ArtifactCache.datasetScoped[Long]("emb-count")

  private[similarity] def embCount(s: SparkSession, dir: String): Long =
    embCounts(s"$dir/embeddings.parquet")(t(s, dir, "embeddings").count())

  /** The corpus's native sign-LSH width — [[autoPlaneCount]] of the
    * cached corpus count; also the width [[embBucketTable]] persists. */
  private[similarity] def embAutoWidth(s: SparkSession, dir: String): Int =
    autoPlaneCount(embCount(s, dir))

  /** THE persisted corpus embedding artifact (r17 — the r16 verdict's
    * #1: the [[NearDupQueries.shingleTable]] pattern applied to the embedding
    * family): the [[normEmb]] projection PLUS the native-width
    * [[signBuckets]] assignment — (vec_id, v, nrm, bucket) — written
    * once per (dataset mtime+length, width) as a parquet table
    * BUCKETED on the LSH bucket. Before this artifact every vector
    * query re-ran the embeddings scan → float→double cast → L2 norm →
    * w hyperplane dots per invocation, and [[denseBucketsOf]]'s census
    * re-derived the same projection on first plan build — at the
    * 500k-doc tier that projection was most of q_embed_dedup's 28.7s
    * and q_knn_graph's 23.1s (the docs1000 ceiling after r16 fixed the
    * shingle twin of this). Warm consumers read the table; because the
    * scan reports hash(bucket) bucketing, the per-bucket collect_list
    * aggregations ([[bucketKnnEdges]], [[bucketPairsRows]]) and the
    * dense census all run with ZERO exchange at the native width.
    * Narrower widths (the ANN family's fixed demo width 4) come from
    * the SAME table via shiftright — widths NEST: [[signBuckets]]
    * assigns bit j to plane j and [[planesFor]] extends one family, so
    * bucket(W) >> (W−w) == bucket(w) (the prefix property pinned in
    * SimilaritySpec). A WIDER request (ScaleSmoke's widened runs)
    * recomputes the dots over the table's (vec_id, v, nrm), still
    * skipping the scan + norm. Doubles round-trip parquet exactly, so
    * every artifact-backed result is bit-identical to the recompute
    * (EmbBucketArtifactSpec). A table per session (no cross-process
    * writer to fence — see the SCALE.md §r17 staged-write audit),
    * keyed on width too, so a count change shifting the width
    * rebuilds. */
  private[graft] def embBucketTable(s: SparkSession, dir: String): DataFrame = {
    val w = embAutoWidth(s, dir)
    // 64 file buckets (the shingleTable sizing rule): consumers'
    // per-LSH-bucket collect_list aggregations run one zero-exchange
    // hash-agg task per file bucket, so the file-bucket count
    // directly sets peak per-task collected state (~corpus/64 rows
    // of ~520 B — the 8g-fit margin at the 500k tier).
    sessionTable(s, "embbkt", s"$dir/embeddings.parquet",
        Bucketed(64, Seq("bucket"), sorted = true), s"planes$w", "embbkt-v1") {
      signBuckets(normEmb(s, dir), w)
    }
  }

  /** Artifact-backed [[normEmb]]: the (vec_id, v, nrm) columns of
    * [[embBucketTable]] — the scan side of every vector query on the
    * warm path (column pruning keeps the bucket column out of the
    * parquet read). */
  private[similarity] def normEmbArtifact(s: SparkSession, dir: String): DataFrame =
    embBucketTable(s, dir).select(col("vec_id"), col("v"), col("nrm"))

  /** Artifact-backed [[signBuckets]] ∘ [[normEmb]] at width `w`:
    * native width reads straight through (keeping the zero-exchange
    * bucketing); narrower derives by shift (widths nest); wider
    * recomputes the dots over the artifact's vectors. */
  private[similarity] def embBucketsAt(
      s: SparkSession, dir: String, w: Int): DataFrame = {
    val native = embAutoWidth(s, dir)
    if (w == native) embBucketTable(s, dir)
    else if (w < native)
      embBucketTable(s, dir)
        .withColumn("bucket", shiftright(col("bucket"), native - w))
    else signBuckets(normEmbArtifact(s, dir), w)
  }

  /** Native-width bucket audit for planted twin pairs (r16 verdict
    * #5 — "name the straddler"): for each (probe, twin) pair, the two
    * LSH buckets and their Hamming distance in plane space. The docs
    * tier's knn floor tolerates a twin that misses rank-1 ONLY when
    * this audit shows its bucket genuinely split from the probe's
    * (Hamming ≥ 1): a same-bucket miss means in-bucket scoring broke,
    * which no recall tolerance should forgive. Driver-sized: one
    * broadcast-filtered read of ≤ 2·pairs rows. A pair whose vec_id is
    * absent from the embeddings table (truncated/partial corpus) comes
    * back as a Left with a descriptive message instead of throwing an
    * opaque NoSuchElementException the floor harness would report as
    * "floor check crashed" (ADVICE r17). */
  private[graft] def twinBucketAudit(
      s: SparkSession, dir: String, pairs: Seq[(Long, Long)])
      : Seq[Either[String, (Long, Long, Long, Long, Int, Double)]] = {
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val rows = embBucketsAt(s, dir, embAutoWidth(s, dir))
      .filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id"), col("v"), col("nrm"), col("bucket"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Double](1).toArray, r.getDouble(2),
          r.get(3).toString.toLong))
      .toMap
    pairs.map { case (q, tw) =>
      (rows.get(q), rows.get(tw)) match {
        case (Some((vq, nq, bq)), Some((vt, nt, bt))) =>
          var dot = 0.0
          var i = 0
          while (i < vq.length) { dot += vq(i) * vt(i); i += 1 }
          Right((q, tw, bq, bt, java.lang.Long.bitCount(bq ^ bt), dot / (nq * nt)))
        case (qr, twr) =>
          val absent = Seq(q -> qr, tw -> twr)
            .collect { case (id, None) => id }.mkString(", ")
          Left(s"audit: vec_id $absent absent from embeddings " +
            "(truncated or partial corpus?)")
      }
    }
  }

  private def annPlan(
      s: SparkSession, dir: String, broadcastQueries: Boolean): DataFrame = {
    val bucketed = embBucketsAt(s, dir, 4)
    val q0 = bucketed
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    // Hamming-1 probe fan-out: exact bucket + one-bit flips. Each
    // candidate has ONE bucket and the 5 probe buckets are distinct, so
    // the equi-join below yields no duplicate (q_id, vec_id) pairs.
    val q = q0.select(
      col("q_id"), col("qv"), col("qnrm"),
      explode(array(
        col("bucket"),
        col("bucket").bitwiseXOR(lit(8)),
        col("bucket").bitwiseXOR(lit(4)),
        col("bucket").bitwiseXOR(lit(2)),
        col("bucket").bitwiseXOR(lit(1)))).as("bucket"))
    probeTopK(bucketed.join(if (broadcastQueries) broadcast(q) else q, Seq("bucket")),
      5, col("bucket"))
  }

  /** Oracle for both ANN variants — the broadcast hint is a physical
    * choice invisible to SQL semantics, so the two Spark plans share
    * one oracle text. */
  /** Oracle twin of [[signBuckets]]: the `b(vec_id, v, nrm, bucket)`
    * CTE, shared by the ANN oracles and the kNN-graph oracle. */
  private lazy val signBucketSql: String = {
    def planeSql(j: Int): String = {
      val w = planes(j).mkString("[", ", ", "]")
      s"""CAST(list_sum(list_transform(list_zip(v, $w),
           z -> CAST(round(struct_extract(z, 1) * 1000000) AS BIGINT)
                * CAST(struct_extract(z, 2) AS BIGINT))) AS BIGINT)"""
    }
    s"""b AS (
        SELECT vec_id, v, nrm,
               (CASE WHEN ${planeSql(0)} >= 0 THEN 8 ELSE 0 END
              + CASE WHEN ${planeSql(1)} >= 0 THEN 4 ELSE 0 END
              + CASE WHEN ${planeSql(2)} >= 0 THEN 2 ELSE 0 END
              + CASE WHEN ${planeSql(3)} >= 0 THEN 1 ELSE 0 END) AS bucket
        FROM n)"""
  }

  /** ANN pipeline CTEs ending in the ranked `r(q_id, vec_id, bucket,
    * sim, rn)` — shared by the two ANN oracles and q_ann_recall. */
  private lazy val annSqlCtes: String = s"""$normEmbSql,
      $signBucketSql,
      q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, bucket FROM b WHERE vec_id < 5),
      q AS (
        SELECT q_id, qv, qnrm,
               unnest([bucket, xor(bucket, 8), xor(bucket, 4),
                       xor(bucket, 2), xor(bucket, 1)]) AS bucket
        FROM q0),
      p AS (
        SELECT b.vec_id, q.q_id, b.bucket,
               list_sum(list_transform(list_zip(b.v, q.qv),
                        z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (b.nrm * q.qnrm) AS sim
        FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id != q.q_id),
      r AS (
        SELECT q_id, vec_id, bucket, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        FROM p)"""

  private val annOracleSql: String = s"""
      WITH $annSqlCtes
      SELECT q_id, vec_id, bucket, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 5 ORDER BY q_id, rn"""

  val annLsh = Q(
    "q_ann_lsh",
    (s, dir) => annPlan(s, dir, broadcastQueries = true),
    Some(annOracleSql))

  /** ANN recall calibration — per query, how many of the multiprobe
    * LSH top-5 are in the EXACT brute-force top-5. This is the number
    * an ANN deployment is tuned by (the plane-count/probe-count trade
    * from the q_ann_lsh width note made measurable as a query), the
    * embedding-side analogue of q_minhash_est's sketch-vs-exact
    * calibration. Both inputs are deterministic ranked sets, so the
    * per-query intersection COUNT is an exact integer on both engines
    * — no float boundary ever reaches the compare. Scale: the brute
    * side is the bounded 5-query batch (broadcast), the ANN side is
    * the bucketed candidate plan; the join is top-5-sized.
    */
  val annRecall = Q(
    "q_ann_recall",
    (s, dir) => {
      val ann = annPlan(s, dir, broadcastQueries = true)
        .select(col("q_id"), col("vec_id"))
      val brute = bruteTopK(s, dir, 5)
        .select(col("q_id").as("bq"), col("vec_id").as("bv"))
      ann
        .join(broadcast(brute),
          col("q_id") === col("bq") && col("vec_id") === col("bv"), "left")
        .groupBy(col("q_id"))
        .agg(
          sum(when(col("bv").isNotNull, 1L).otherwise(0L)).as("n_hits"),
          count(lit(1)).as("k"))
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH $annSqlCtes,
      ann AS (SELECT q_id, vec_id FROM r WHERE rn <= 5),
      bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
      bp AS (
        SELECT n.vec_id, bq.q_id,
               list_sum(list_transform(list_zip(n.v, bq.qv),
                        z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (n.nrm * bq.qnrm) AS sim
        FROM n CROSS JOIN bq WHERE n.vec_id != bq.q_id),
      br AS (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        FROM bp),
      brute AS (SELECT q_id, vec_id FROM br WHERE rn <= 5),
      sel AS (
        SELECT a.q_id AS q_id,
               CASE WHEN b2.vec_id IS NULL THEN 0 ELSE 1 END AS hit
        FROM ann a LEFT JOIN brute b2
          ON a.q_id = b2.q_id AND a.vec_id = b2.vec_id)
      SELECT q_id, CAST(sum(hit) AS BIGINT) AS n_hits,
             CAST(count(*) AS BIGINT) AS k
      FROM sel GROUP BY q_id ORDER BY q_id""")
  )

  /** kNN graph (k=3) over the embedding corpus — the data structure
    * under SemDeDup-style cluster dedup, kNN-graph label propagation,
    * and HNSW/UMAP construction. Candidates come from the shared
    * sign-LSH buckets, so the self-join does Σ bucket² work instead of
    * corpus² (≈1/16 of brute force here; more planes sharpen it), and
    * each node keeps its 3 nearest in-bucket neighbours via one
    * per-node window. Missing cross-bucket edges are the documented
    * LSH recall trade — q_ann_lsh's multi-probe shows the fix where
    * recall matters more than throughput.
    */
  /** Width-ADAPTIVE oracle twin of [[signBuckets]] ∘ [[autoPlaneCount]]:
    * derives the plane count from `count(embeddings)` with the same
    * log2 rule and generates the [[planesFor]] integer weights in SQL
    * (`((i·31 + j·17) % 7) − 3` — a pure formula, so no literal plane
    * arrays are needed). This is what lets the DuckDB replica track
    * the engine's auto-width at ANY corpus size: the r10 full-registry
    * sweep found the kNN family hash-exact only at the 500-vector
    * corpora (where the width derives to the old literal 4) — with
    * this CTE the same oracle text is exact at 40×/100× too. Tie note:
    * `round(log2(n/400))` at an exact .5 could differ across engines
    * in the last ulp of log2; corpus sizes land ≥ 0.3 from the
    * boundary at every SF and smoke multiple in use. */
  private[similarity] lazy val knnBucketSql: String = """
      wv AS (SELECT CAST(greatest(4, round(log2(count(*) / 400.0))) AS INT) AS w
             FROM embeddings),
      pl AS (
        SELECT pj.j, pi.i,
               ((pi.i * 31 + pj.j * 17
                 + (pj.j // 7) * ((pi.i * pi.i) % 7) * 3
                 + (pj.j // 7) * 5) % 7) - 3 AS wgt
        FROM (SELECT unnest(range(26)) AS j) pj
        CROSS JOIN (SELECT unnest(range(64)) AS i) pi
        CROSS JOIN wv WHERE pj.j < wv.w),
      vx AS (
        SELECT vec_id, generate_subscripts(v, 1) - 1 AS i,
               CAST(round(unnest(v) * 1000000) AS BIGINT) AS xi
        FROM n),
      dotj AS (
        SELECT vx.vec_id, pl.j, sum(vx.xi * pl.wgt) AS dot
        FROM vx JOIN pl ON vx.i = pl.i GROUP BY 1, 2),
      bk AS (
        SELECT d.vec_id,
               CAST(sum(CASE WHEN d.dot >= 0
                        THEN CAST(power(2, wv.w - 1 - d.j) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS bucket
        FROM dotj d CROSS JOIN wv GROUP BY d.vec_id),
      b AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk USING (vec_id))"""

  /** Oracle CTEs for the kNN graph: yields `kn(vec_id, nbr_id, sim,
    * rn)` with rn ≤ 3 — shared by q_knn_graph and the graph module's
    * q_triangles. Buckets come from the width-adaptive
    * [[knnBucketSql]], mirroring [[knnGraphPlanAuto]]. */
  private[graft] lazy val knnSqlCtes: String = s"""$normEmbSql,
      $knnBucketSql,
      p AS (
        SELECT a.vec_id AS vec_id, b2.vec_id AS nbr_id,
               list_sum(list_transform(list_zip(a.v, b2.v),
                        z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (a.nrm * b2.nrm) AS sim
        FROM b a JOIN b b2
          ON a.bucket = b2.bucket AND a.vec_id != b2.vec_id),
      r AS (
        SELECT vec_id, nbr_id, sim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, nbr_id) AS rn
        FROM p),
      kn AS (SELECT vec_id, nbr_id, sim, rn FROM r WHERE rn <= 3)"""

  /** The kNN-graph dataflow at a given sign-LSH width. The in-bucket
    * self-join does Σ bucket² work, and bucket population is
    * n/2^planes for unclustered vectors — so the plane count is THE
    * scale knob: holding it fixed while the corpus grows makes this
    * stage quadratic (measured: 4 planes, 20k→50k random vectors,
    * 10.7s→92s at 100×). Production sizes planeCount ≈
    * log2(n / targetBucket), which re-linearizes the same dataflow (the
    * DuckDB twin derives the SAME width in SQL — [[knnBucketSql]] — so
    * the oracle stays exact at every scale).
    * Widening is a recall TRADE (fewer cross-bucket edges), unlike
    * q_simhash_pairs' lossless pigeonhole widening — which is why it
    * is a deployment parameter, not a hard-coded bump.
    */
  /** Grouped per-bucket kNN edges (r15): ONE exchange collects each
    * LSH bucket's members, then `graft_bucket_knn` scores every
    * unordered pair in a JIT'd primitive loop and emits only the
    * ≤ m·k result rows — where the former self-join + window
    * materialized every ORDERED pair as a row carrying both 64-double
    * vectors (~100 GB of row traffic at the 500k-doc tier) before the
    * top-k reduction. Ranking semantics (sim desc, nbr_id asc; self
    * excluded) are bit-identical to the join form and to the oracle's
    * `kn` CTE. Output: one column `e` = struct(vec_id, nbr_id, sim,
    * rn) — unordered, for consumers (q_knn_classify) that don't need
    * the presentation sort. */
  private def knnEdgesPlan(
      s: SparkSession, dir: String, planeCount: Int): DataFrame = {
    val b = embBucketsAt(s, dir, planeCount)
    bucketKnnEdges(b, 3, denseIds = Some(denseBucketsCached(
        dir, s"planes$planeCount", b, MaxBucketMembers)))
      .select(col("e"))
  }

  /** THE persisted corpus kNN graph (r17) — [[knnEdgesPlan]]'s edge
    * rows at the native auto width, (vec_id, nbr_id, sim, rn) with
    * rn ≤ 3, written once per (embeddings mtime+length, width). The
    * kNN graph is the shared data
    * structure under SemDeDup-style dedup, label propagation, kNN
    * classification and graph-ANN construction (it is literally the
    * beam index's base layer — [[BeamIndex.beamIndexCreate]] computes the SAME
    * rows for its kn leaves); computing the O(Σ bucket²) pair loop per
    * CONSUMING QUERY was the last sign-once-read-many violation in
    * the family. Build = one grouped pair pass over
    * [[embBucketTable]] (~10s at the 500k tier); warm consumers
    * (q_knn_graph, q_knn_classify) read n·k edge rows (~2s). sim is
    * the unrounded double and doubles round-trip parquet exactly, so
    * artifact-backed results are bit-identical to the recompute
    * (EmbBucketArtifactSpec). */
  private def knnEdgesFor(s: SparkSession, dir: String): String = {
    val w = embAutoWidth(s, dir)
    persistedDir(s, "knn", s"$dir/embeddings.parquet", s"planes$w", "knn3-v1") {
      knnEdgesPlan(s, dir, w)
        .select(col("e.vec_id").as("vec_id"), col("e.nbr_id").as("nbr_id"),
          col("e.sim").as("sim"), col("e.rn").as("rn"))
    }
  }

  /** Artifact-backed kNN edges at the native width — what the
    * consuming queries read on the warm path. */
  private[similarity] def knnEdgesAuto(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, knnEdgesFor(s, dir))

  /** Per-bucket member cap for the grouped expressions (r16 verdict
    * #2 / r15 advice): [[autoPlaneCount]] targets the AVERAGE bucket
    * (~400), but width scaling cannot split a genuinely DENSE
    * cluster — many near-identical vectors share one sign pattern
    * (exactly the population dedup targets) or one k-means cell — so
    * a hot bucket would land as ONE ~m×520 B `collect_list` row and
    * one serial O(m²) task. Buckets above the cap fall back to the
    * JOIN form, which computes the SAME exact pair mass distributed
    * across tasks (grouped ≡ join is pinned bit-for-bit in
    * BucketKnnSpec, so results and oracles are unchanged — the
    * MaxBasketItems idiom).
    *
    * The cap value is calibrated from the MEASURED skew, not the
    * average: at the 500k tier the sign-bucket histogram is 813
    * buckets, median 162 but max 13,776 — an 85× max/median skew on
    * "uniform" embeddings (the anisotropy the r15 advice predicted).
    * The grouped expression handles a 13.8k bucket comfortably
    * (~7 MB row, a few seconds of JIT'd loop — r15's committed 23s
    * q_knn_graph was measured WITH it), while routing those rows to
    * the join form costs ~3× the whole query (measured 23s → 83-104s:
    * 30% of the corpus sat in 16 over-4096 buckets). 32768 ≈ 17 MB
    * collected row and a 10-15 s serial pair loop — the largest
    * single-task grain worth trading against the join's m² row
    * traffic — keeps every bucket observed through the 1M-doc stretch
    * on the fast path while still bounding a genuine monster. */
  private[graft] val MaxBucketMembers = 32768

  /** Dense-bucket ids for the routing decision — the bucket census
    * aggregated to the driver. This is a BOUNDED read (≤ 2^planes or
    * ≤ k-cells rows in, usually ZERO rows out) in the audited
    * trained-artifact-collect class, and the cheapest correct design
    * measured at the 500k tier: a census WINDOW carried the full
    * 520 B vector rows through Exchange→Sort per consuming branch
    * (q_knn_graph 23s→83s), and a census-aggregate broadcast-JOIN
    * still made every union branch re-derive the normEmb+signBuckets
    * projection — ~6 corpus passes, 23s→104s. Collecting the
    * (usually empty) dense id list instead costs ONE extra census
    * pass, and when the list is empty — every organic corpus — the
    * consumer's plan is IDENTICAL to the r15 single-aggregation form.
    */
  private def denseBucketsOf(b: DataFrame, cap: Int): Seq[Any] =
    denseCensusOf(b, cap)._1

  /** The census with its skew histogram (r16 verdict #8): ONE bounded
    * aggregation yields both the dense id list and the stats line
    * (bucket count, median, max, over-cap count) that tracks the
    * measured bucket anisotropy (85× max/median at the 500k tier,
    * SCALE.md §r16) round-over-round instead of remeasuring ad hoc.
    * collect_list skips the nulls the `when` leaves on under-cap
    * buckets, so the collected list IS the dense id set. */
  private def denseCensusOf(b: DataFrame, cap: Int): (Seq[Any], String) = {
    val r = b.groupBy(col("bucket")).agg(count(lit(1)).as("m"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("m")).as("max_m"),
        expr("percentile_approx(m, 0.5, 10000)").as("med_m"),
        collect_list(when(col("m") > cap, col("bucket"))).as("dense"))
      .collect()(0)
    val dense = r.getSeq[Any](3)
    // the literal IN-set below must stay driver-sized; 100k dense
    // buckets means the corpus (or the width rule) is broken, not big
    require(dense.size < 100000,
      s"dense-bucket routing found ${dense.size} buckets over $cap members - " +
        "width scaling is not engaging; refusing to build a 100k-literal plan")
    // The loud engagement line (r19 verdict #5): the docs5000 probe
    // measured 1.10× headroom to the cap, so the first production
    // engagement is EXPECTED around ~3M docs — announce it as the
    // designed routing decision it is, so it is never misread as a
    // regression when it first fires (DenseBucketSpec pins this line
    // and the bit-identity of the routed plan).
    if (dense.nonEmpty)
      System.err.println(
        s"[bucket-census] GROUPED-PATH FALLBACK ENGAGED: ${dense.size} " +
          s"bucket(s) over $cap members route to the bit-identical join " +
          "form (designed engagement, SCALE.md §r19 — not a regression)")
    val stats = s"buckets=${r.get(0)} median=${Option(r.get(2)).getOrElse(0)} " +
      s"max=${Option(r.get(1)).getOrElse(0)} over_cap=${dense.size} cap=$cap"
    (dense, stats)
  }

  /** The dense id lists of bucketed frames derived from the dataset's
    * embeddings (`salt` names the width or blocking): the census pass
    * re-runs the normEmb+signBuckets (or cell-assignment read)
    * projection, which is most of a consumer query's scan-side cost —
    * paying it on every plan BUILD erased the r15 wins (q_embed_dedup
    * 30s → 84s measured with an uncached per-build census). The list
    * is a few ints, so warm plan builds are free. */
  private val denseBuckets = ArtifactCache.datasetScoped[Seq[Any]]("dense-buckets")

  /** Every `[bucket-census]` line this JVM has built, oldest first:
    * the tier-log skew telemetry SCALE.md tracks round-over-round (r16
    * verdict #8). Append-only and driver-side; one entry per
    * (dataset, salt, cap) census build, so it stays bounded. Bench
    * appends the lines to the committed census log under a docs tier
    * (r17 verdict #8). */
  private val censusLines = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** The census lines recorded so far, oldest first. */
  private[graft] def censusLog: Seq[String] = {
    import scala.jdk.CollectionConverters._
    censusLines.asScala.toSeq
  }

  private[similarity] def denseBucketsCached(
      dir: String, salt: String, b: => DataFrame, cap: Int): Seq[Any] = {
    val emb = s"$dir/embeddings.parquet"
    denseBuckets(emb, salt, s"$cap") {
      val tag = ArtifactCache.datasetTag(emb, salt)
      val (dense, stats) = denseCensusOf(b, cap)
      // once per (dataset, width, cap); dataset-derived builds only,
      // so unit specs stay quiet
      val line = s"[bucket-census] $tag: $stats"
      System.err.println(line)
      censusLines.add(line): Unit
      dense
    }
  }

  /** The dense-bucket split both grouped pair forms start with: the
    * dense bucket ids (from the census unless given), and every other
    * bucket's members collected into one `ms` list for the grouped
    * expression. */
  private def smallBucketMembers(
      b: DataFrame, cap: Int, denseIds: Option[Seq[Any]]): (Seq[Any], DataFrame) = {
    val dense = denseIds.getOrElse(denseBucketsOf(b, cap))
    val smallSide =
      if (dense.isEmpty) b else b.filter(!col("bucket").isInCollection(dense))
    (dense, smallSide.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms")))
  }

  /** Grouped per-bucket kNN with the dense-bucket fallback (r16
    * verdict #2): buckets at or under `cap` members collect into one
    * aggregation row for `graft_bucket_knn`; larger (genuinely dense)
    * buckets route to the bit-identical join form, which distributes
    * the same pair mass across tasks. Runs a bounded census job at
    * plan build ([[denseBucketsOf]]); with no dense bucket the
    * returned plan is exactly the r15 single-aggregation form. Input
    * (bucket, vec_id, v, nrm); output (bucket, e) with e =
    * struct(vec_id, nbr_id, sim, rn), rn ≤ k. */
  private[similarity] def bucketKnnEdges(
      b: DataFrame, k: Int, cap: Int = MaxBucketMembers,
      denseIds: Option[Seq[Any]] = None): DataFrame = {
    val (dense, members) = smallBucketMembers(b, cap, denseIds)
    val small = members.select(col("bucket"),
      explode(call_function("graft_bucket_knn", col("ms"), lit(k))).as("e"))
    if (dense.isEmpty) small
    else {
      val big = b.filter(col("bucket").isInCollection(dense))
      val nbrs = big.select(col("bucket"), col("vec_id").as("nbr_id"),
        col("v").as("nv"), col("nrm").as("nnrm"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("nbr_id"))
      val bigEdges = big.join(nbrs, Seq("bucket"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .withColumn("sim", expr("graft_dot(v, nv)") / (col("nrm") * col("nnrm")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("bucket"),
          struct(col("vec_id"), col("nbr_id"), col("sim"), col("rn")).as("e"))
      small.union(bigEdges)
    }
  }

  /** Grouped per-bucket threshold pairs with the same dense-bucket
    * fallback as [[bucketKnnEdges]]. Output (bucket, e) with e =
    * struct(id1, id2, sim), id1 < id2, unrounded sim ≥ thr. */
  private[similarity] def bucketPairsRows(
      b: DataFrame, thr: Double, cap: Int = MaxBucketMembers,
      denseIds: Option[Seq[Any]] = None): DataFrame = {
    val (dense, members) = smallBucketMembers(b, cap, denseIds)
    val small = members.select(col("bucket"),
      explode(call_function("graft_bucket_pairs", col("ms"), lit(thr))).as("e"))
    if (dense.isEmpty) small
    else {
      val big = b.filter(col("bucket").isInCollection(dense))
      val right = big.select(col("bucket"), col("vec_id").as("id2"),
        col("v").as("v2"), col("nrm").as("n2"))
      val bigPairs = big.join(right, Seq("bucket"))
        .filter(col("vec_id") < col("id2"))
        .withColumn("sim", expr("graft_dot(v, v2)") / (col("nrm") * col("n2")))
        .filter(col("sim") >= thr)
        .select(col("bucket"),
          struct(col("vec_id").as("id1"), col("id2"), col("sim")).as("e"))
      small.union(bigPairs)
    }
  }

  private[graft] def knnGraphPlan(
      s: SparkSession, dir: String, planeCount: Int = 4): DataFrame =
    knnEdgesPlan(s, dir, planeCount)
      .select(col("e.vec_id").as("vec_id"), col("e.nbr_id").as("nbr_id"),
        round(col("e.sim"), 6).as("sim_r"), col("e.rn").cast(LongType).as("rn"))
      // SORT BARRIER (r17 — measured at the 500k tier): the global
      // orderBy's range exchange SAMPLES its child, and with the
      // bucketed-artifact scan the whole pipeline below is
      // zero-exchange — so the sampling job re-ran the O(Σm²) pair
      // loop end-to-end (34.4s vs 11.9s with the barrier). One hash
      // exchange of the k-BOUNDED edge rows (n·k rows, no vectors)
      // gives AQE a materialized stage the range sampler reads
      // instead; output order is unchanged (sort keys are unique).
      .repartition(col("vec_id"))
      .orderBy(col("vec_id"), col("rn"))

  /** Auto-width for the sign-LSH plane count: planes =
    * max(4, round(log2(n / targetBucket))) — the log2-scaled rule the
    * 100× re-linearization established (SCALE.md), now a
    * derived quantity instead of a manual knob (r09 verdict #3). At
    * the oracle corpora (n = 500) it yields the demo width 4, at 40×
    * it yields 6 and at 100× it yields 7 — no knob change between
    * scales. Widths nest: [[planesFor]] extends the same plane family,
    * and [[signBuckets]] assigns bit j of the bucket to plane j, so
    * bucket(w+Δ) >> Δ == bucket(w) — widening only REFINES buckets
    * (never reshuffles them), which is what makes the width safe to
    * derive per-corpus: candidates lost to a width bump are exactly
    * the documented recall trade, pinned by the sf40 and docs-tier
    * planted-twin kNN floor.
    */
  private[graft] def autoPlaneCount(n: Long, targetBucket: Long = 400L): Int =
    math.max(4, math.round(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)

  /** Corpus-sized kNN graph: ONE count of the embeddings table (a
    * metadata-cheap columnar aggregate — the same bounded pre-pass
    * every ANN index build pays) sizes the LSH width, then the
    * [[knnGraphPlan]] dataflow runs at that width. */
  private[graft] def knnGraphPlanAuto(s: SparkSession, dir: String): DataFrame =
    // the persisted kNN-edge artifact (r17): warm queries read the
    // n·k edge rows instead of re-running the in-bucket pair loop;
    // sampling under the sort re-reads a cheap parquet scan, so no
    // barrier is needed here (explicit-width callers keep the
    // compute path via knnGraphPlan)
    knnEdgesAuto(s, dir)
      .select(col("vec_id"), col("nbr_id"), round(col("sim"), 6).as("sim_r"),
        col("rn").cast(LongType).as("rn"))
      .orderBy(col("vec_id"), col("rn"))

  val knnGraph = Q(
    "q_knn_graph",
    // Auto-width: derives 4 (the oracle demo width, literal plane
    // arrays in the SQL twin) at the 500-doc corpora and the log2-
    // scaled width beyond — the query text never changes with scale.
    (s, dir) => knnGraphPlanAuto(s, dir),
    Some(s"""
      WITH $knnSqlCtes
      SELECT vec_id, nbr_id, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rn
      FROM kn ORDER BY vec_id, rn""")
  )

  /** Hint-free twin of q_ann_lsh for large probe batches: AQE picks the
    * join strategy, so when the query set outgrows the broadcast
    * threshold the plan degrades gracefully to a shuffle join on
    * `bucket` instead of OOMing the executors on a forced broadcast.
    * Identical results by construction (same oracle text).
    */
  val annLshShuffle = Q(
    "q_ann_lsh_shuffle",
    (s, dir) => annPlan(s, dir, broadcastQueries = false),
    Some(annOracleSql))

  /** kNN majority-vote classifier evaluation — the model-eval
    * primitive (confusion matrix) every labeled-corpus pipeline ends
    * with: predict each vector's label as the MODE of its 3 nearest
    * neighbors' labels (tie → min label, deterministic), then census
    * (actual, predicted). Reuses the q_knn_graph pipeline unchanged,
    * so candidates stay LSH-bucket-blocked; neighbor lists are
    * k-bounded (≤3·N vote rows), the label dim broadcasts, the vote
    * window partition holds ≤k rows per node, and the confusion
    * census is ≤|labels|² rows at any corpus size.
    */
  val knnClassify = Q(
    "q_knn_classify",
    (s, dir) => {
      val lab = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
      // unordered edges at the auto width — skips knnGraph's
      // presentation sort (meaningless under the joins below)
      val kn = knnEdgesAuto(s, dir)
        .select(col("vec_id"), col("nbr_id"))
      val votes = kn
        .join(lab.select(col("vec_id").as("nbr_id"),
          col("label").as("nbr_label")), Seq("nbr_id"))
        // ONE vec_id exchange serves the vote count AND the top-1
        // window: hash(vec_id) satisfies the agg's (vec_id, nbr_label)
        // clustering as a key subset, so Catalyst plans no second
        // shuffle between them (the pre-r15 plan got this shape for
        // free because its window ran upstream of the join)
        .repartition(col("vec_id"))
        .groupBy(col("vec_id"), col("nbr_label")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("c").desc, col("nbr_label"))
      val pred = votes
        .select(col("vec_id"), col("nbr_label"), row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("nbr_label").as("predicted"))
      pred.join(lab, Seq("vec_id"))
        .groupBy(col("label").as("actual"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("actual"), col("predicted"))
    },
    Some(s"""
      WITH $knnSqlCtes,
      lab AS (SELECT vec_id, label FROM embeddings),
      votes AS (
        SELECT kn.vec_id, l.label AS nbr_label, count(*) AS c
        FROM kn JOIN lab l ON kn.nbr_id = l.vec_id
        GROUP BY 1, 2),
      pred AS (
        SELECT vec_id, nbr_label AS predicted FROM (
          SELECT vec_id, nbr_label,
                 row_number() OVER (PARTITION BY vec_id
                     ORDER BY c DESC, nbr_label) AS rn
          FROM votes) WHERE rn = 1)
      SELECT l.label AS actual, p.predicted, count(*) AS n
      FROM pred p JOIN lab l USING (vec_id)
      GROUP BY 1, 2 ORDER BY actual, predicted""")
  )

  /** Reciprocal-rank fusion — the hybrid-retrieval merge every
    * RAG/search stack runs: fuse the keyword ranking (BM25, the exact
    * [[graft.text.TextQueries.bm25Scored]] scores) with the dense
    * ranking (cosine against probe vector 0 over [[normEmb]]) as
    * RRF(d) = Σ_lists 1/(60 + rank_d); docs ranked by only one
    * modality contribute that single term (the standard treatment).
    * doc_id and vec_id share the 0..N−1 id space by construction
    * (TESTDATA.md), which is exactly how a production corpus keys its
    * text and embedding stores.
    *
    * Scale shape: each modality reduces to its top-50 FIRST via
    * TakeOrdered (distributed k-row heaps — no global sort, no score
    * shuffle), so ranks are assigned by a row_number over a ≤50-row
    * bounded frame (the documented bounded-window class) and the
    * fusion join touches ≤100 rows total — driver-free, broadcast-
    * sized regardless of corpus size. Determinism: ranks are integers
    * with doc-id tie-breaks; each RRF term is 1/(60+rank) in IEEE
    * DOUBLE with fixed two-term addition order (textually identical on
    * both engines), rounded to 9 dp.
    */
  val rrf = Q(
    "q_rrf",
    (s, dir) => {
      val wK = Window.orderBy(col("score_r").desc, col("doc_id"))
      val kw = graft.text.TextQueries.bm25Scored(s, dir)
        .orderBy(col("score_r").desc, col("doc_id")).limit(50)
        .withColumn("rk", row_number().over(wK).cast(LongType))
        .select(col("doc_id"), col("rk"))
      val emb = normEmbArtifact(s, dir)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"))
      val wD = Window.orderBy(col("sim").desc, col("vec_id"))
      val dense = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("sim", expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm")))
        .orderBy(col("sim").desc, col("vec_id")).limit(50)
        .withColumn("rd", row_number().over(wD).cast(LongType))
        .select(col("vec_id"), col("rd"))
      kw.join(dense, kw("doc_id") === dense("vec_id"), "full_outer")
        .select(
          coalesce(col("doc_id"), col("vec_id")).as("id"),
          col("rk"), col("rd"))
        .selectExpr("id", "rk", "rd",
          """round(coalesce(1e0 / (60 + rk), 0e0)
             + coalesce(1e0 / (60 + rd), 0e0), 9) AS rrf_r""")
        .orderBy(col("rrf_r").desc, col("id"))
        .limit(10)
    },
    Some(s"""
      WITH ${graft.text.TextQueries.bm25ScoredSql},
      kw AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY score_r DESC, doc_id)
                            AS BIGINT) AS rk
        FROM (SELECT * FROM sc ORDER BY score_r DESC, doc_id LIMIT 50)),
      ${normEmbSql.trim},
      probe AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
      scored AS (
        SELECT n.vec_id,
               list_sum(list_transform(list_zip(n.v, probe.qv),
                 z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (n.nrm * probe.qnrm) AS sim
        FROM n CROSS JOIN probe WHERE n.vec_id != 0),
      dense AS (
        SELECT vec_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id)
                            AS BIGINT) AS rd
        FROM (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 50)),
      fused AS (
        SELECT COALESCE(kw.doc_id, dense.vec_id) AS id, rk, rd,
               round(COALESCE(1e0 / (60 + rk), 0e0)
                 + COALESCE(1e0 / (60 + rd), 0e0), 9) AS rrf_r
        FROM kw FULL OUTER JOIN dense ON kw.doc_id = dense.vec_id)
      SELECT id, rk, rd, rrf_r
      FROM fused ORDER BY rrf_r DESC, id LIMIT 10""")
  )

  /** NDCG@10 — the ranking-quality metric that completes the
    * retrieval-eval triad (q_ann_recall: candidate recall; q_rrf:
    * fusion; here: graded ranking quality). Relevance is binary —
    * a retrieved vector is relevant iff it carries the probe's label —
    * over the exact top-10 cosine ranking ([[bruteTopK]], probes
    * 0–4): DCG = Σ rel_i/log2(i+1), IDCG from the ideal prefix
    * min(R, 10) where R = corpus count of the probe's label (minus
    * the probe), NDCG = DCG/IDCG.
    *
    * Scale shape: the ranked frame is the shared top-k plan (per-probe
    * 10-row output); labels join broadcast; R comes from the ≤8-row
    * label census broadcast back; the ideal-prefix sum joins a 10-row
    * literal rank spine — everything after the top-k is
    * constant-sized. Determinism: both DCG and IDCG sum 9-dp-rounded
    * terms in DECIMAL (the q_entropy idiom — 10-term float sums would
    * otherwise depend on aggregation order), and log2 is the same
    * IEEE call on both engines; final metrics round to 6 dp. A probe
    * whose label class has no other member (empty ideal prefix) keeps
    * its output row with NDCG NULL via the LEFT spine join — it never
    * silently drops.
    */
  val ndcg = Q(
    "q_ndcg",
    (s, dir) => {
      val labels = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
      val probeLabel = labels.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("label").as("qlabel"))
      val census = labels.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      val rel = bruteTopK(s, dir, 10)
        .join(broadcast(labels), Seq("vec_id"))
        .join(broadcast(probeLabel), Seq("q_id"))
        .selectExpr("q_id", "qlabel", "rn",
          "CASE WHEN label = qlabel THEN 1e0 ELSE 0e0 END AS rel")
      val dcg = rel.groupBy(col("q_id"), col("qlabel"))
        .agg(
          sum(col("rel")).cast(LongType).as("n_rel10"),
          sum(expr("CAST(round(rel / log2(rn + 1e0), 9) AS DECIMAL(28,9))"))
            .as("dcg"))
        .join(broadcast(census), col("qlabel") === col("label"))
        // R excludes the probe itself (it never appears in its own ranking)
        .selectExpr("q_id", "n_rel10", "dcg", "cnt - 1 AS r")
      val spine = s.range(1).selectExpr("explode(sequence(1, 10)) AS i")
      // LEFT join: a probe whose label class has no other member
      // (r = 0, empty ideal prefix) must surface as one NULL-NDCG row,
      // not vanish from the output (r09 advisor finding) — the single
      // unmatched spine row carries i = NULL, so idcg sums to NULL and
      // dcg/idcg propagates NULL identically on both engines.
      dcg.join(broadcast(spine), col("i") <= least(col("r"), lit(10)), "left")
        .groupBy(col("q_id"), col("n_rel10"), col("dcg"))
        .agg(sum(expr("CAST(round(1e0 / log2(i + 1e0), 9) AS DECIMAL(28,9))"))
          .as("idcg"))
        .selectExpr("q_id", "n_rel10",
          "CAST(round(dcg, 6) AS DOUBLE) AS dcg_r",
          "CAST(round(dcg / idcg, 6) AS DOUBLE) AS ndcg_r")
        .orderBy(col("q_id"))
    },
    Some(s"""
      WITH $bruteSimSql,
      tk AS (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        FROM p QUALIFY rn <= 10),
      lbl AS (SELECT vec_id, label FROM embeddings),
      pl AS (SELECT vec_id AS q_id, label AS qlabel FROM lbl WHERE vec_id < 5),
      census AS (SELECT label, count(*) AS cnt FROM lbl GROUP BY 1),
      rel AS (
        SELECT tk.q_id, pl.qlabel, tk.rn,
               CASE WHEN lbl.label = pl.qlabel THEN 1e0 ELSE 0e0 END AS rel
        FROM tk JOIN lbl USING (vec_id) JOIN pl USING (q_id)),
      d AS (
        SELECT q_id, qlabel,
               CAST(sum(rel) AS BIGINT) AS n_rel10,
               sum(CAST(round(rel / log2(rn + 1e0), 9) AS DECIMAL(28,9))) AS dcg
        FROM rel GROUP BY 1, 2),
      dr AS (
        SELECT q_id, n_rel10, dcg, census.cnt - 1 AS r
        FROM d JOIN census ON d.qlabel = census.label),
      ideal AS (
        SELECT dr.q_id, dr.n_rel10, dr.dcg,
               sum(CAST(round(1e0 / log2(i + 1e0), 9) AS DECIMAL(28,9))) AS idcg
        FROM dr LEFT JOIN (SELECT unnest(generate_series(1, 10)) AS i) spine
          ON i <= least(dr.r, 10)
        GROUP BY 1, 2, 3)
      SELECT q_id, n_rel10,
             CAST(round(dcg, 6) AS DOUBLE) AS dcg_r,
             CAST(round(dcg / idcg, 6) AS DOUBLE) AS ndcg_r
      FROM ideal ORDER BY q_id""")
  )

  override def all: Seq[Q] = Seq(
    cosineTopK, annLsh, annLshShuffle, knnGraph, knnClassify, annRecall,
    rrf, ndcg)
}
