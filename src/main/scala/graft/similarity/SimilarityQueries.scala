package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Q, QueryModule}
import graft.util.{ArtifactCache, Tables, WriterFence}
import graft.util.ArtifactCache.{Bucketed, Plain, persistedDir, saveTable, sessionTable}
import graft.util.Tables._

/** Similarity search and near-duplicate detection — the operators a
  * 100 TB training-data pipeline runs after exact dedup: brute-force
  * cosine top-k (baseline), shingle-join Jaccard, MinHash+LSH banding,
  * and SimHash signatures.
  *
  * Scale shapes: nothing here is all-pairs over the corpus. Candidate
  * generation is always a key-grouped join (shingle, band signature, or
  * LSH bucket); the bounded query set is broadcast; signatures are
  * per-row expressions plus one hash aggregation.
  */
object SimilarityQueries extends QueryModule {

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Scale-audit telemetry (SCALE.md round censuses): stderr ONLY when
    * auditing is on — an unconditional print in a hot shared code path
    * is noise in every unit test and timed bench query (ADVICE r16).
    * One-time per-dataset events (artifact builds, the bucket-census
    * histogram) stay unconditional; per-INVOCATION signals route
    * through here. ON via the SPARK_GRAFT_AUDIT env var, or via the
    * `graft.audit` system property the tier-driven entry points (Bench
    * under SPARK_GRAFT_BENCH_TIER, ScaleSmoke) set themselves — the
    * SCALE.md round-census workflow relies on this signal, so a scale
    * run must not silently lose it to a forgotten env var (ADVICE
    * r17). Driver-side only (these prints run in the driver loop; the
    * property is JVM-local, which is exactly the scope tier runs
    * have). */
  private[graft] def auditLog(msg: => String): Unit =
    if (sys.env.contains("SPARK_GRAFT_AUDIT") ||
      sys.props.contains("graft.audit")) System.err.println(msg)

  /** Normalized-embeddings prelude shared by every vector query
    * (cosine baseline, both LSH variants, IVF, embedding dedup):
    * float→double cast + L2 norm via the native graft_dot. One
    * definition so a future change (e.g. zero-norm guard) lands
    * everywhere at once. Declared BEFORE any Q val that interpolates
    * it (vals initialize in declaration order).
    */
  private[similarity] def normEmb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))

  /** Oracle twin of [[normEmb]] as the `e`/`n` CTE pair every vector
    * oracle opens with. */
  private val normEmbSql = """
      e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      n AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e)"""

  /** Document-frequency cap for shingle blocking: shingles appearing in
    * more than this many documents are dropped BEFORE any self-join.
    * On a real corpus, stopword shingles ("one of the") have DF ~N and
    * would make their join bucket ~N² — the one scale-killer in
    * inverted-index blocking. High-DF shingles carry no near-dup signal
    * (they match everything), so the cap loses nothing; this is the
    * standard guard in web-scale dedup pipelines. 50 is far above the
    * sf0.01 corpus max DF (7), so test results are unchanged while the
    * skew guard stays exercised end-to-end. [[SimilaritySpec]] plants a
    * hot shingle to prove the pair count stays bounded.
    */
  private[graft] val MaxShingleDf = 50

  /** Distinct word 3-gram shingles per document — the blocking key for
    * the Jaccard and MinHash queries. Built entirely with higher-order
    * functions on the token array (sequence → element_at), so shingling
    * is a pure map-side expression: no posexplode-then-window pass, no
    * shuffle until the distinct. A DF-cap anti-join then drops hot
    * shingles; its right side (shingles with DF > cap) is tiny at any
    * corpus size, so the anti-join broadcasts. (The oracle mirrors the
    * same shingle set with unnest + lead — different algorithm, same
    * output.)
    */
  /** The corpus HOT-shingle set (r18): the DF-cap census inside
    * [[capShingleDf]] re-aggregated the full artifact (49M rows at the
    * 500k tier) on EVERY invocation of a corpus-capped consumer, even
    * though the hot set is a pure function of (dataset, cap). The set
    * itself is boilerplate-bounded (shingles with DF > cap are the
    * corpus's repeated chrome — the [[denseBucketsCached]]
    * driver-census class, guarded by the same loud require), so it
    * collects once and the capped view becomes a pure filter — no
    * census job, no anti-join, bit-identical rows (s is never null, so
    * NOT-IN on a literal set ≡ the left-anti join). */
  private val hotShingles = ArtifactCache.datasetScoped[Option[Seq[String]]]("hot-shingles")

  /** Ceiling on the driver-collected hot-shingle set. Above it the
    * capped view falls back to the [[capShingleDf]] anti-join (same
    * rows, one extra census job per query) instead of refusing to run
    * (ADVICE r18 — a boilerplate-heavy corpus or a tiny caller maxDf
    * must degrade to the slower plan, not crash). */
  private[similarity] def maxHotShingles: Int =
    sys.props.get("graft.test.maxHotShingles").map(_.toInt).getOrElse(100000)

  private[graft] def shingles(
      s: SparkSession, dir: String, maxDf: Int = MaxShingleDf): DataFrame = {
    // Full-corpus shingles ride the persisted artifact (r16): the
    // uncapped distinct set is read back bucketed on s, so the one
    // census the dataset ever pays runs with ZERO exchange.
    // maxHotShingles is key material too (ADVICE r19): the cached
    // value is a VERDICT (Some(set) vs None=overflow) taken against
    // the ceiling, so a cap change mid-session must re-census, not be
    // served the other cap's verdict
    val hot = hotShingles(s"$dir/documents.parquet", s"hot$maxDf",
        s"cap$maxHotShingles") {
      // collect one past the cap so overflow is detected without
      // pulling an unbounded set onto the driver; None = overflow,
      // cached so warm calls skip straight to the anti-join plan
      val h = shingleTable(s, dir)
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .select(col("s"))
        .limit(maxHotShingles + 1)
        .collect().map(_.getString(0)).toSeq
      if (h.size > maxHotShingles) {
        System.err.println(
          s"[hot-shingles] WARNING: census exceeds $maxHotShingles entries " +
            s"over DF $maxDf — falling back to the anti-join cap (slower, " +
            "same rows); boilerplate is usually template-bounded")
        None
      } else Some(h)
    }
    // column order (s, doc_id) matches the old anti-join's output
    // (join on Seq("s") led with the key) — consumers are name-based,
    // but the artifact specs compare exact rows
    val tbl = shingleTable(s, dir).select(col("s"), col("doc_id"))
    hot match {
      case Some(h) if h.isEmpty => tbl
      case Some(h) => tbl.filter(!col("s").isInCollection(h))
      case None => capShingleDf(tbl, maxDf)
    }
  }

  /** [[shingles]] over an arbitrary (doc_id, text) frame — the
    * incremental-dedup path shingles only the NEW batch, so the
    * pipeline can't be tied to a full-table scan. The DF cap applies
    * within the given frame (each signing batch caps its own hot
    * shingles; a persisted index was capped within the corpus it
    * indexed). */
  private[similarity] def shinglesOf(docs: DataFrame, maxDf: Int): DataFrame =
    capShingleDf(rawShinglesOf(docs), maxDf)

  /** The UNCAPPED distinct shingle set of a (doc_id, text) frame —
    * [[shinglesOf]] minus the DF cap, factored out because this is
    * exactly what the persisted corpus artifact ([[shingleTable]])
    * stores: the cap is applied at READ (within whatever doc subset a
    * consumer filters to — full corpus, exact-dup representatives, the
    * incremental cutoff sides — each counts DF within its own frame,
    * so persisting pre-cap keeps every consumer's semantics
    * bit-identical to computing from scratch). */
  private[similarity] def rawShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .select(
        col("doc_id"),
        explode(
          when(size(col("ws")) >= 3,
            transform(
              sequence(lit(0), size(col("ws")) - 3),
              i => concat_ws(" ",
                element_at(col("ws"), i + 1),
                element_at(col("ws"), i + 2),
                element_at(col("ws"), i + 3))))
            .otherwise(array().cast("array<string>"))).as("s"))
      // ONE shingle-keyed exchange serves the whole pipeline (r15):
      // hash(s) satisfies the per-doc DISTINCT's (doc_id, s)
      // clustering as a key subset, the DF-cap census groups by s on
      // the same partitioning, and the anti-join's tiny hot side
      // broadcasts — where the bare .distinct() shuffled on
      // (doc_id, s) and the census then re-shuffled the corpus on s
      // (two 49M-row exchanges at the 500k-doc tier, in every one
      // of the ~10 shingle-consuming queries). r16 pays it ONCE per
      // dataset: [[shingleTable]] persists this frame bucketed on s.
      .repartition(col("s"))
      .distinct()

  /** Drop shingles whose document frequency exceeds `maxDf` (see
    * [[MaxShingleDf]]). Factored out so SimilaritySpec can apply the
    * cap to a synthetic hot-shingle corpus directly. */
  private[similarity] def capShingleDf(sh: DataFrame, maxDf: Int): DataFrame = {
    val hot = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("s"))
    sh.join(hot, Seq("s"), "left_anti")
  }

  /** Oracle-side twin of [[shinglesOf]] as a CTE body (including the
    * per-batch DF cap), parameterized: `pred` filters the documents
    * scan, `sfx` suffixes every CTE name so two differently-filtered
    * copies (index side / new-batch side) coexist in one oracle
    * query. */
  private def shinglesSqlFor(sfx: String, pred: String): String = s"""
      tok$sfx AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
               generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
        FROM documents WHERE $pred),
      sh0$sfx AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS s,
               lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AS ok
        FROM tok$sfx),
      sh_all$sfx AS (SELECT DISTINCT doc_id, s FROM sh0$sfx WHERE ok),
      hot$sfx AS (SELECT s FROM sh_all$sfx GROUP BY s HAVING count(*) > $MaxShingleDf),
      sh$sfx AS (SELECT a.doc_id, a.s FROM sh_all$sfx a ANTI JOIN hot$sfx h ON a.s = h.s)"""

  /** Oracle-side twin of [[shingles]] (full table, unsuffixed names). */
  private val shinglesSql = shinglesSqlFor("", "TRUE")

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
    // graft_dot: fused native expression (functions.DotProduct) —
    // same ascending-index accumulation as zip_with+aggregate, one
    // pass, no intermediate array.
    val emb = normEmbArtifact(s, dir)
    val q = emb.select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .filter(col("q_id") < 5)
    val scored = emb
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim_r"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  val cosineTopK = Q(
    "q_cosine_topk",
    (s, dir) => bruteTopK(s, dir, 10),
    Some(s"""
      WITH $normEmbSql,
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
      p AS (
        SELECT n.vec_id, q.q_id,
               list_sum(list_transform(list_zip(n.v, q.qv),
                                       z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (n.nrm * q.qnrm) AS sim
        FROM n CROSS JOIN q WHERE n.vec_id != q.q_id),
      r AS (
        SELECT q_id, vec_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        FROM p)
      SELECT q_id, vec_id, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 10 ORDER BY q_id, rn""")
  )

  /** N-gram Jaccard near-dup — candidate pairs come from inverted-index
    * blocking on the shingle: only documents sharing at least one
    * 3-gram ever meet, so cost is Σ bucket² over shingle buckets, not
    * corpus². Pairs are generated by ONE aggregation per shingle
    * (sorted doc list → ordered pairs via nested HOF transforms), not a
    * self-join — that removes a second full shuffle of the shingle set
    * plus the join, and singleton shingles (df=1, the vast majority of
    * a real corpus) produce zero pairs without ever re-shuffling. The
    * DF cap bounds every doc list at [[MaxShingleDf]], so per-shingle
    * pair expansion is at most C(cap,2) rows — map-side, no skew.
    * The per-doc shingle counts (|A|, |B| for the union size) are
    * derived from the SAME per-shingle grouping (explode the doc
    * lists back out), so the scan→shingle→distinct→cap pipeline
    * appears once in the plan instead of three times.
    * Jaccard is kept integral (10·|A∩B| >= |A∪B| ⇔ J >= 0.1) so the
    * oracle compare is exact.
    */
  /** Per-shingle sorted doc lists — the inverted index behind the
    * Jaccard pair expansion; shared by q_ngram_jaccard and
    * q_minhash_est. */
  private[similarity] def shingleDocListsFrom(sh: DataFrame): DataFrame =
    sh.groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))

  /** PERSISTED shingle postings lists (r17 — measured like gramTable:
    * the full-corpus doc-list aggregation costs ~6s per invocation at
    * the 500k tier; the artifact writes in ~8s once and reads back in
    * ~0.8s): the capped corpus's inverted index, (s, sorted doc list),
    * one row per surviving shingle — THE classic IR artifact. Plain
    * parquet: the pair expansion re-keys anyway, so there is no join
    * key to bucket on. doc_id lists are longs and the sort is in the
    * data, so the read is bit-identical to the recompute. Full-corpus
    * consumers only; the candidate-restricted doc lists
    * (q_minhash_est) aggregate their own filtered frame via
    * [[shingleDocListsFrom]], where the restriction must apply BEFORE
    * list building. */
  private[similarity] def shingleDocLists(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, persistedDir(s, "postings", s"$dir/documents.parquet",
        s"$MaxShingleDf", HashFamilyVersion, "postings-v1") {
      shingleDocListsFrom(shingles(s, dir))
    })

  /** Ordered candidate pairs + intersection counts from the inverted
    * index (ONE aggregation, HOF pair expansion — no shingle
    * self-join), plus per-doc shingle counts off the same grouping. */
  private def shinglePairStats(grouped: DataFrame): (DataFrame, DataFrame) = {
    val cnt = grouped
      .select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = grouped
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds,
             (x, i) -> transform(slice(ds, i + 2, size(ds)),
                                 y -> named_struct('id1', x, 'id2', y))))"""))
        .as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("c"))
    (inter, cnt)
  }

  val ngramJaccard = Q(
    "q_ngram_jaccard",
    (s, dir) => {
      val (inter, cnt) = shinglePairStats(shingleDocLists(s, dir))
      inter
        .join(cnt.select(col("doc_id").as("id1"), col("n").as("na")), "id1")
        .join(cnt.select(col("doc_id").as("id2"), col("n").as("nb")), "id2")
        .withColumn("n_union", col("na") + col("nb") - col("c"))
        .filter(col("c") * 10 >= col("n_union"))
        .select(col("id1"), col("id2"), col("c").as("n_inter"), col("n_union"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      WITH $shinglesSql,
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      i AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, c AS n_inter, na.n + nb.n - c AS n_union
      FROM i
      JOIN cnt na ON na.doc_id = id1
      JOIN cnt nb ON nb.doc_id = id2
      WHERE c * 10 >= na.n + nb.n - c
      ORDER BY id1, id2""")
  )

  /** MinHash + LSH banding — 8 md5-derived minhashes per doc, folded
    * into 4 bands of 2; documents sharing any band signature become
    * candidate pairs via an equi-join on (band, signature). This is the
    * sub-quadratic near-dup path: at 100 TB the only shuffles are one
    * doc-keyed aggregation (all 8 minhashes as parallel min columns,
    * map-side combined) and the band-bucket join; no pair is ever
    * scored unless it collides.
    */
  /** Candidate-pair plan shared by q_minhash_lsh and
    * q_dedup_components: 8 minhashes in ONE aggregation pass (8 min
    * columns) instead of exploding shingles x seeds — 8x less shuffle
    * volume, and map-side partial min keeps reducer input tiny at any
    * corpus size — then a band-bucket equi-join. Unordered (callers
    * order or consume).
    *
    * Hash family: ONE md5 per shingle (7 hex chars → a uniform
    * h < 2^28), then the k-th minhash re-keys it affinely —
    * (a_k·h + 7919k) mod 268435399 (largest prime < 2^28) with
    * a_k = (2k+1)·15485863 mod 268435399 — the standard
    * single-base-hash construction (what MinHashLSH models do)
    * instead of 8 independent md5s per occurrence. md5 was ~8/9 of
    * the pre-shuffle CPU of both consumers (the r05 slowest-query
    * profile); the affine rehash is integer-exact cross-engine
    * (a_k < 2^28, so products < 2^56, far inside i64 in both Spark
    * and DuckDB), so the oracle reproduces the exact same pair set.
    *
    * The multiplier MUST be large (r11): the original a_k = 2k+1
    * (≤ 15) barely perturbs the ordering of small h — min over
    * h·(2k+1)+c is won by (nearly) the smallest h for EVERY k, so the
    * eight "independent" permutations were one ordering in disguise
    * and the 4 bands carried ~1 band of discrimination (exposed by a
    * planted bridge doc that could never collide with both of its
    * parents: its globally-smallest shingle hash won all 8 minhashes).
    * A_k ≈ 2^27-scale multipliers decorrelate the orderings; the
    * Jaccard-estimator contract is unchanged (each a_k·h+c mod P is
    * still a fixed random-like permutation of [0, P)).
    */
  /** k-th minhash multiplier: (2k+1)·15485863 mod 268435399 — large
    * and odd, so each k's ordering of [0, 2^28) is decorrelated from
    * the others (see the hash-family note above). */
  private def mhA(k: Int): Long = ((2L * k + 1) * 15485863L) % 268435399L

  /** Version stamp of the signature family persisted in index
    * artifacts: bump this whenever [[mhA]], the base hash, the modulus,
    * or the band geometry changes. The r11 multiplier fix changed the
    * signature VALUES without changing the schema, so any index built
    * with the old family would silently miss every corpus-vs-batch
    * collision — the stamp turns that silent miss into a fail-fast
    * ([[requireFamily]]) in the incremental/streaming consumers. */
  private[graft] val HashFamilyVersion = "mh-v2-a15485863-p268435399-b4r2"

  /** Stamp an index dir with the CURRENT hash family — call this at
    * index CREATION/SEED time only (the writer knows which family it
    * signed with; a reader does not). The stamp lives in a
    * `_hash_family` sidecar — `_`-prefixed, so Spark's parquet reader
    * never sees it. */
  private[graft] def stampFamily(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_hash_family")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val out = fs.create(p, true)
    try out.write(HashFamilyVersion.getBytes("UTF-8")) finally out.close()
  }

  /** Assert the hash-family stamp of a persisted index dir before
    * CONSUMING it. A present-but-different sidecar fails fast with the
    * rebuild instruction — and so does a MISSING one: adopting an
    * unstamped index by writing the current stamp on read (the pre-r13
    * behavior) would silently bless a pre-stamp artifact signed with
    * the old minhash family, recreating exactly the silent
    * corpus-vs-batch collision miss the stamp exists to catch. Only
    * the writer may stamp ([[stampFamily]]); a legitimately-current
    * unstamped index is migrated by explicitly re-stamping it. */
  private[graft] def requireFamily(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_hash_family")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"persisted index at $dir carries no _hash_family stamp, so its " +
        "signature family is unknown — joining it with this build's " +
        s"'$HashFamilyVersion' signatures could silently miss every " +
        "collision. Rebuild the index, or if it is KNOWN to be signed " +
        "with the current family, migrate it explicitly with stampFamily().")
    val in = fs.open(p)
    val found = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    require(found == HashFamilyVersion,
      s"persisted index at $dir was built with hash family '$found' but this " +
        s"build signs with '$HashFamilyVersion' — joining them would silently " +
        "miss every collision; rebuild the index from the corpus")
  }

  /** The 8-seed signature frame (doc_id, mh0..mh7) — shared by the
    * LSH pair generator and the estimator-accuracy report. */
  private[similarity] def minhashFrameFrom(sh: DataFrame): DataFrame = {
    val mhCols = (0 until 8).map(k =>
      min((col("h") * lit(mhA(k)) + lit(7919L * k)) % lit(268435399L))
        .as(s"mh$k"))
    sh.select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 7), 16, 10).cast(LongType).as("h"))
      .groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
  }

  private[similarity] def minhashFrame(s: SparkSession, dir: String): DataFrame =
    // Warm path reads the persisted corpus signature artifact (r16) —
    // the build inside mhSigFor is the only minhashFrameFrom run the
    // corpus ever pays per dataset.
    Tables.parquet(s, mhSigFor(s, dir))

  /** THE banding definition — 4 bands of 2 hashes, `mhAt(k)` supplying
    * the k-th minhash. Single source of truth for every consumer
    * (column-shaped signatures in [[bandsOf]], array-shaped in
    * [[pairsFromMhWithMatches]]): the banded row format is PERSISTED
    * by [[signatureIndex]], so a width/encoding change must hit all
    * consumers at once or candidate generation silently desyncs. */
  private def bandExplode(mhAt: Int => Column): Column =
    explode(array((0 until 4).map(b => struct(
      lit(b).as("band"),
      concat_ws("|", mhAt(2 * b), mhAt(2 * b + 1)).as("sig"))): _*))

  /** Band rows (doc_id, band, sig) off a signature frame — 4 bands of
    * 2 hashes each. This is also the PERSISTED row format of the
    * incremental dedup index ([[signatureIndex]]). */
  private[similarity] def bandsOf(mh: DataFrame): DataFrame =
    mh.select(
        col("doc_id"),
        bandExplode(k => col(s"mh$k")).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** LSH banding + candidate pairs over a [[minhashFrame]]. */
  private def pairsFromMh(mh: DataFrame): DataFrame = {
    val bands = bandsOf(mh)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** [[pairsFromMh]] that also carries both documents' full 8-hash
    * signatures through the band join and emits the per-seed match
    * count directly. Consumers that need seed agreement
    * (q_minhash_est) previously re-joined the `mh` frame twice on
    * id1/id2 to attach each side's columns pair-wise — two shuffled joins.
    * Here the 8 longs ride the (already shuffled) band rows instead,
    * and collapse in the same aggregation that counts bands (`first`
    * is sound: the signature is functionally dependent on doc_id).
    * Output: id1, id2, n_bands, n_matches.
    */
  private def pairsFromMhWithMatches(mh: DataFrame): DataFrame = {
    val sigged = mh.select(col("doc_id"),
      array((0 until 8).map(k => col(s"mh$k")): _*).as("sig"))
    val bands = sigged.select(
      col("doc_id"), col("sig"),
      bandExplode(k => element_at(col("sig"), k + 1)).as("bs"))
      .select(col("doc_id"), col("sig"),
        col("bs.band").as("band"), col("bs.sig").as("bsig"))
    val matches = (0 until 8)
      .map(k => when(element_at(col("sa"), k + 1) === element_at(col("sb"), k + 1),
        1L).otherwise(0L))
      .reduce(_ + _)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_bands"),
        first(col("a.sig")).as("sa"), first(col("b.sig")).as("sb"))
      .select(col("id1"), col("id2"), col("n_bands"), matches.as("n_matches"))
  }

  private def minhashPairsPlan(s: SparkSession, dir: String): DataFrame =
    pairsFromMh(minhashFrame(s, dir))

  /** Oracle twin of hash→minhash→band over `sh$sfx` (suffixed like
    * [[shinglesSqlFor]]), ending in `band$sfx(doc_id, band, sig)`. */
  private def mhBandSqlFor(sfx: String): String = s"""
      hv$sfx AS (
        SELECT doc_id, CAST(('0x' || substring(md5(s), 1, 7)) AS BIGINT) AS h
        FROM sh$sfx),
      mh$sfx AS (
        SELECT doc_id, t.range AS seed,
               min((((2 * t.range + 1) * 15485863 % 268435399) * h
                    + 7919 * t.range) % 268435399) AS mh
        FROM hv$sfx, range(8) t GROUP BY 1, 2),
      band$sfx AS (
        SELECT doc_id, seed // 2 AS band,
               string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
        FROM mh$sfx GROUP BY 1, 2)"""

  /** Oracle twin of [[minhashPairsPlan]] as CTE bodies ending in
    * `pairs(id1, id2, n_bands)`. */
  private val minhashPairsSqlCtes = s"""
      $shinglesSql,
      ${mhBandSqlFor("")},
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_bands
        FROM band a
        JOIN band b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""

  /** MinHash estimator accuracy report — for every LSH candidate
    * pair, the sketch's similarity estimate (agreeing seeds out of 8)
    * next to the EXACT Jaccard evidence (intersection / union of
    * DF-capped shingle sets). This is the calibration table a dedup
    * operator tunes thresholds from (the countmin/HLL idea applied to
    * similarity): every output is an INTEGER — matches, |∩|, |A∪B| —
    * so the oracle compare is exact and no ratio ever meets a
    * rounding boundary (1/128-grain rationals DO sit on 6-dp
    * midpoints). Signatures come from ONE checkpointed aggregation
    * whose 8 hashes ride the band join itself
    * ([[pairsFromMhWithMatches]] — no pair-wise re-join of the
    * signature frame); intersections reuse the inverted-index pair
    * expansion (no shingle self-join).
    */
  val minhashEst = Q(
    "q_minhash_est",
    (s, dir) => {
      // The shingle pipeline is now a persisted-artifact READ (r16 —
      // shingleTable): corpus-sized state lives in the artifact's
      // parquet, not a checkpoint (the r14 DISK_ONLY rule subsumed:
      // nothing corpus-sized touches the heap or the storage pool at
      // all), and the capped frame derives from the bucketed scan with
      // zero exchange. Signatures come from the shared artifact too
      // ([[minhashFrame]]) — this query no longer signs the corpus.
      val shf = shingles(s, dir)
      // The candidate frame is band-collision-bounded (tiny at any
      // corpus size) — checkpoint IT, not the signature frame: the
      // band self-join's two sides share one reused exchange, and the
      // materialized candidates then broadcast into the intersection
      // pipeline below as a semi-join filter.
      val pairs = pairsFromMhWithMatches(minhashFrame(s, dir))
        .localCheckpoint(true)
      // Restrict the inverted index to CANDIDATE DOCS before the
      // doc-list aggregation (r14 — the 500k-doc tier measured the
      // unrestricted collect_list over every corpus shingle as this
      // query's time AND memory hog: 181s and the tier's only
      // 32g-heap requirement): only docs that appear in some band
      // collision can contribute to a candidate pair's intersection,
      // so dropping the rest first is result-identical and shrinks
      // the grouped stage from corpus-sized to candidate-sized. The
      // per-doc shingle counts below only ever join to candidate ids,
      // so they ride the same restricted frame.
      val candDocs = pairs.select(col("id1").as("doc_id"))
        .union(pairs.select(col("id2").as("doc_id"))).distinct()
      val shCand = shf.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      val cnt = shCand.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      // Exact intersections for CANDIDATES ONLY: the inverted-index
      // pair expansion is additionally semi-joined against the
      // broadcast candidate PAIR set before the (id1,id2) aggregation
      // (co-shingle pairs among candidate docs are a superset of the
      // band-collision pairs; q_ngram_jaccard wants them all, this
      // query does not).
      val inter = shingleDocListsFrom(shCand)
        .filter(size(col("ds")) >= 2)
        .select(explode(expr(
          """flatten(transform(ds,
               (x, i) -> transform(slice(ds, i + 2, size(ds)),
                                   y -> named_struct('id1', x, 'id2', y))))"""))
          .as("p"))
        .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
        .join(broadcast(pairs.select(col("id1"), col("id2"))),
          Seq("id1", "id2"), "left_semi")
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("c"))
      pairs
        .join(inter, Seq("id1", "id2"), "left")
        .join(cnt.select(col("doc_id").as("id1"), col("n").as("na")), "id1")
        .join(cnt.select(col("doc_id").as("id2"), col("n").as("nb")), "id2")
        .select(col("id1"), col("id2"), col("n_bands"), col("n_matches"),
          coalesce(col("c"), lit(0L)).as("inter"),
          (col("na") + col("nb") - coalesce(col("c"), lit(0L))).as("union_n"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      WITH $minhashPairsSqlCtes,
      m AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_matches
        FROM mh a JOIN mh b
          ON a.seed = b.seed AND a.mh = b.mh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      i AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
      SELECT p.id1 AS id1, p.id2 AS id2, p.n_bands AS n_bands,
             COALESCE(m.n_matches, 0) AS n_matches,
             COALESCE(i.inter, 0) AS inter,
             sa.n + sb.n - COALESCE(i.inter, 0) AS union_n
      FROM pairs p
      LEFT JOIN m ON m.id1 = p.id1 AND m.id2 = p.id2
      LEFT JOIN i ON i.id1 = p.id1 AND i.id2 = p.id2
      JOIN sz sa ON sa.doc_id = p.id1
      JOIN sz sb ON sb.doc_id = p.id2
      ORDER BY id1, id2""")
  )

  /** THRESHOLD-banded edit-distance verification of the LSH
    * candidates — the final stage of a retrieve-then-verify dedup
    * funnel. Dedup only cares whether distance ≤ k, so the DP is the
    * banded O(k·len) form (Spark's 3-arg levenshtein; -1 = "beyond
    * 64"), ~100× cheaper than the O(len²) full matrix the naive form
    * pays per pair — measured 4s → 0.4s on 3.7k candidate pairs —
    * and spent ONLY on candidates (never corpus²). The oracle runs
    * DuckDB's unbounded DP and applies the same cut, so the banded
    * implementation is verified against the textbook one.
    */
  val editDist = Q(
    "q_edit_dist",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      minhashPairsPlan(s, dir).select(col("id1"), col("id2"))
        .join(d.select(col("doc_id").as("id1"), col("text").as("t1")), Seq("id1"))
        .join(d.select(col("doc_id").as("id2"), col("text").as("t2")), Seq("id2"))
        .select(col("id1"), col("id2"),
          expr("levenshtein(t1, t2, 64)").cast(LongType).as("edit_dist"),
          greatest(length(col("t1")), length(col("t2"))).cast(LongType)
            .as("max_len"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      WITH $minhashPairsSqlCtes,
      d AS (SELECT doc_id, text FROM documents)
      SELECT id1, id2,
             CAST(CASE WHEN levenshtein(a.text, b.text) <= 64
                       THEN levenshtein(a.text, b.text) ELSE -1 END AS BIGINT)
               AS edit_dist,
             CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
      FROM pairs
      JOIN d a ON a.doc_id = id1
      JOIN d b ON b.doc_id = id2
      ORDER BY id1, id2""")
  )

  val minhashLsh = Q(
    "q_minhash_lsh",
    (s, dir) => minhashPairsPlan(s, dir).orderBy(col("id1"), col("id2")),
    Some(s"""
      WITH $minhashPairsSqlCtes
      SELECT id1, id2, n_bands FROM pairs ORDER BY 1, 2""")
  )

  /** Connected-component labeling over an undirected edge list:
    * iterative min-label propagation with pointer-doubling shortcuts
    * (label ← label-of-label) from round 3 on — the dataflow analogue
    * of Shiloach–Vishkin shortcutting and of the star-contraction
    * rounds in Kiveris et al., "Connected Components in MapReduce"
    * (SoCC'14). Plain propagation needs diameter rounds (a 200-node
    * chain trips any sane cap); the shortcut halves label-chain depth
    * every round, so convergence is O(log diameter) with the same
    * per-round equi-join shape. Rounds 0–3 skip the shortcut: near-dup
    * band graphs are diameter 1–3 (4 rounds at sf0.1 incl. the
    * stabilization round) and converge before it would fire, so the
    * common path pays no extra join. (Starting the shortcut at round 2
    * was measured in r06: 2.8–3.2s at sf0.1 for BOTH variants across
    * repeated runs — indistinguishable under ±15% harness noise — so
    * the start stays at 4 where shallow graphs provably pay nothing.)
    * Each round localCheckpoints to truncate lineage, so plans stay
    * constant-size.
    *
    * Convergence via a changed-label count OBSERVED inside the round's
    * own materialization job (labels only ever decrease — propagation
    * takes a min over a set containing the old label; the shortcut
    * takes a least with it — so "no decrease" is the fixpoint). The
    * round's previous label travels with the data as an `old` column,
    * so detecting convergence costs zero extra Spark jobs: ONE action
    * per round total, versus checkpoint + separate sum-compare before.
    * At the fixpoint every edge joins equal labels, so each component
    * is uniformly labeled; labels are only ever in-component node ids,
    * hence the uniform label is the component minimum.
    *
    * @param nodes single-column DF of node ids
    * @param edges two-column DF of undirected edges (symmetrized here)
    * @return (n, lbl) — every node labeled with its component's min id
    */
  private[graft] def labelComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e0 = edges.toDF("a", "b")
    val sym = e0
      .union(e0.select(col("b"), col("a")))
      .toDF("src", "dst")
      .localCheckpoint(true) // computed once, reused every round
    // The loop propagates over EDGE-INCIDENT nodes only: a singleton
    // (no edges — the overwhelming majority of a real corpus, where
    // dup clusters are a tiny fraction) receives no messages and its
    // label never decreases, so shuffling its identity row through
    // every round is pure waste — at 100 TB it would dominate the
    // round cost. Singletons rejoin as lbl = n at the end (provably
    // what the loop would have produced). Round 1 reads the seed
    // twice (message join + union) but that's two scans of a bounded
    // projection; every later round reads the previous checkpoint.
    // An edge-free graph needs no special case — the seed is empty,
    // round 1 finds zero decreases and the loop exits.
    val touched = sym.select(col("src").as("n")).distinct()
    var labels = touched.select(col("n"), col("n").as("lbl"))
    var converged = false
    var round = 0
    while (!converged && round < 20) {
      // Carry each node's PREVIOUS label through the round as `old`
      // (message rows carry MaxValue, so min(old) per node is exactly
      // the pre-round label), and count decreases via `observe` — the
      // convergence signal rides the SAME job that materializes the
      // round, instead of a separate aggregate action per round (the
      // r05-verdict profiling item: those driver round-trips were ~25%
      // of the query's wall time).
      val msgs = sym.as("e")
        .join(labels.as("l"), col("e.src") === col("l.n"))
        .select(col("e.dst").as("n"), col("l.lbl").as("lbl"),
          lit(Long.MaxValue).as("old"))
      val prop = labels.select(col("n"), col("lbl"), col("lbl").as("old"))
        .union(msgs)
        .groupBy(col("n"))
        .agg(min(col("lbl")).as("lbl"), min(col("old")).as("old"))
      val stage =
        if (round < 4) prop
        else {
          // Pointer doubling: every lbl is itself a node id (labels
          // start as identity and only ever copy node ids), so the
          // lookup join is total. Checkpoint first — `p` feeds both
          // sides of the self-join.
          val p = prop.localCheckpoint(true)
          val parent = p.select(col("n").as("pn"), col("lbl").as("plbl"))
          p.join(parent, p("lbl") === parent("pn"))
            .select(p("n"), least(p("lbl"), parent("plbl")).as("lbl"),
              p("old"))
        }
      // Labels only ever decrease (propagation mins over a set holding
      // the old label; the shortcut takes a least with it), so
      // "no label decreased this round" IS the fixpoint: propagation
      // changed nothing, hence every edge already joins equal labels.
      val obs = org.apache.spark.sql.Observation()
      val next = stage
        .observe(obs, sum(when(col("lbl") < col("old"), 1L).otherwise(0L))
          .as("changed"))
        .select(col("n"), col("lbl"))
        .localCheckpoint(true)
      // The checkpoint job executed the CollectMetrics node; delivery
      // is a listener callback, so await the future with a bound and
      // fall back to a direct (materialized-data) compare rather than
      // ever hanging or silently assuming convergence.
      val changed =
        try {
          val row = scala.concurrent.Await
            .result(obs.future, scala.concurrent.duration.Duration("30s"))
          Option(row.getAs[java.lang.Long]("changed")).fold(0L)(_.longValue)
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            next.as("a").join(labels.as("b"), col("a.n") === col("b.n"))
              .filter(col("a.lbl") < col("b.lbl")).count()
        }
      converged = changed == 0L
      labels = next
      round += 1
    }
    // Partially-propagated labels are silently WRONG data (one real
    // cluster split across component ids) — fail loudly instead. With
    // shortcutting, 20 rounds covers diameter ≳ 2^16; hitting the cap
    // means something is broken, not merely chain-shaped.
    require(converged,
      "labelComponents: did not converge within 20 shortcutted rounds " +
        "(diameter > ~2^16?) — refusing to return split components")
    // Round census for the scale audits (SCALE.md): each round is one
    // checkpointed job, so rounds × per-round exchange volume is the
    // query's iterative cost model at any corpus size. Audit-gated:
    // this runs per INVOCATION (every unit test, every timed bench
    // query), not once per dataset.
    auditLog(s"[labelComponents] converged in $round rounds")
    // Singletons come back as their own label; edge-incident nodes take
    // the converged cluster label. The distinct restores the one-row-
    // per-node invariant the old identity seed got for free from its
    // round-1 groupBy — a caller passing a duplicated node id must not
    // get it labeled twice.
    nodes.toDF("n").distinct()
      .join(labels.select(col("n"), col("lbl")), Seq("n"), "left")
      .select(col("n"), coalesce(col("lbl"), col("n")).as("lbl"))
  }

  /** Incremental CLUSTER maintenance — yesterday's converged labels +
    * today's new candidate pairs → re-converged labels WITHOUT
    * re-running pair generation over the corpus (r08 verdict #5). A
    * new pair can merge two existing components, so the fix-up is
    * itself a connected-components problem — but over the CONTRACTED
    * graph: each pair endpoint lifts to its prior component label
    * (batch nodes are their own label), so re-convergence runs on
    * O(new pairs) nodes, never O(corpus). The resulting relabel map is
    * tiny and broadcast; the corpus-sized prior-label table is scanned
    * (broadcast semi-filter + final broadcast remap) but NEVER
    * shuffled. Exactness: a prior label is the min id of its
    * component, so each contracted component's min label equals the
    * merged component's global min — the same fixpoint batch
    * [[labelComponents]] reaches over the union of all pairs
    * (equivalence + planted two-cluster merge in IncrementalIndexSpec).
    *
    * @param priorLabels (n, lbl) — converged labels over prior pairs
    * @param newNodes    arriving batch's node ids (disjoint from prior)
    * @param newPairs    (id1, id2) new candidate pairs
    */
  private[graft] def incrementalLabels(
      priorLabels: DataFrame, newNodes: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val prior = priorLabels.toDF("n", "lbl")
    val pairs = newPairs.toDF("id1", "id2").localCheckpoint(true)
    val endpoints = pairs.select(col("id1").as("n"))
      .union(pairs.select(col("id2").as("n"))).distinct()
    // O(endpoints) rows: the corpus-sized label table is semi-FILTERED
    // by the broadcast endpoint set — never joined wholesale.
    val touched = prior
      .join(broadcast(endpoints), Seq("n"), "left_semi")
      .localCheckpoint(true)
    val l1 = touched.select(col("n").as("id1"), col("lbl").as("la"))
    val l2 = touched.select(col("n").as("id2"), col("lbl").as("lb"))
    val contracted = pairs
      .join(broadcast(l1), Seq("id1"), "left")
      .join(broadcast(l2), Seq("id2"), "left")
      .select(
        coalesce(col("la"), col("id1")).as("a"),
        coalesce(col("lb"), col("id2")).as("b"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(true) // feeds the node derivation + the loop
    val contractedNodes = contracted.select(col("a").as("n"))
      .union(contracted.select(col("b").as("n"))).distinct()
    val relabel = labelComponents(contractedNodes, contracted)
      .filter(col("n") =!= col("lbl")) // identity remaps are no-ops
      .select(col("n").as("old_lbl"), col("lbl").as("new_lbl"))
    prior
      .union(newNodes.toDF("n").select(col("n"), col("n").as("lbl")))
      .join(broadcast(relabel), col("lbl") === col("old_lbl"), "left")
      .select(col("n"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
  }

  /** Near-duplicate CLUSTERS — connected components over the MinHash
    * candidate-pair graph, labeling every document with the smallest
    * doc_id in its duplicate cluster (the canonical survivor). This is
    * the step that turns pair output into an actual dedup decision:
    * near-duplication is transitive in practice (A≈B, B≈C → one
    * cluster), and keep-one-per-pair would double-keep A,C.
    *
    * The labeling loop is [[labelComponents]] (min-label propagation +
    * pointer-doubling shortcuts, O(log diameter) rounds — chain graphs
    * converge too; planted 200-node-chain test in SimilaritySpec).
    * Oracle: DuckDB recursive CTE propagating min labels — an
    * independent algorithm that must converge to the same fixpoint.
    */
  val dedupComponents = Q(
    "q_dedup_components",
    (s, dir) => {
      val edges = minhashPairsPlan(s, dir).select(col("id1"), col("id2"))
      val nodes = t(s, dir, "documents").select(col("doc_id"))
      labelComponents(nodes, edges)
        .select(col("n").as("doc_id"), col("lbl").as("component"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE $minhashPairsSqlCtes,
      sym AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      cc(n, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, c.lbl FROM cc c JOIN sym s ON s.src = c.n WHERE c.lbl < s.dst)
      SELECT n AS doc_id, min(lbl) AS component
      FROM cc GROUP BY n ORDER BY doc_id""")
  )

  /** Near-dup canonicalization — the step AFTER clustering that dedup
    * pipelines actually ship: within each minhash-LSH connected
    * component (q_dedup_components' clusters), keep the member with
    * the best quality score (TextQueries.clfScores; all-integer, so
    * the keep decision has no float boundary), tie-broken by doc_id.
    * Composes three prior operators — pair generation, component
    * labelling, quality scoring — as one dataflow; the per-component
    * choice is a window over the component key (bounded: component
    * sizes are near-dup cluster sizes), with the member census riding
    * the same exchange.
    */
  /** Post-labeling stage of [[dedupKeepBest]], factored out so
    * PlanContractSpec can pin its shape (join + component-keyed
    * windows + sort) against a synthetic labeling — the labeling loop
    * itself runs driver actions at plan-build, so the full query
    * cannot be plan-pinned directly.
    *
    * @param comp   (doc_id, component) — labeled documents
    * @param scores (doc_id, score_milli) — integer quality scores
    */
  private[graft] def keepBestStage(comp: DataFrame, scores: DataFrame): DataFrame = {
    val scored = comp.join(scores, Seq("doc_id"))
    val wOrd = Window.partitionBy(col("component"))
      .orderBy(col("score_milli").desc, col("doc_id"))
    val wAll = Window.partitionBy(col("component"))
    scored
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keep_id"),
        col("n_members"), col("score_milli"))
      .orderBy(col("component"))
  }

  val dedupKeepBest = Q(
    "q_dedup_keep_best",
    (s, dir) => {
      val comp = labelComponents(
        t(s, dir, "documents").select(col("doc_id")),
        minhashPairsPlan(s, dir).select(col("id1"), col("id2")))
        .select(col("n").as("doc_id"), col("lbl").as("component"))
      keepBestStage(comp,
        graft.text.TextQueries.clfScores(s, dir)
          .select(col("doc_id"), col("score_milli")))
    },
    Some(s"""
      WITH RECURSIVE $minhashPairsSqlCtes,
      sym AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      cc(n, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, c.lbl FROM cc c JOIN sym s ON s.src = c.n WHERE c.lbl < s.dst),
      comp AS (SELECT n AS doc_id, min(lbl) AS component FROM cc GROUP BY n),
      ${graft.text.TextQueries.clfSqlCtes},
      j AS (
        SELECT component, comp.doc_id AS doc_id, score_milli
        FROM comp JOIN sc ON comp.doc_id = sc.doc_id),
      r AS (
        SELECT component, doc_id, score_milli,
               row_number() OVER (PARTITION BY component
                                  ORDER BY score_milli DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY component) AS n_members
        FROM j)
      SELECT component, doc_id AS keep_id,
             CAST(n_members AS BIGINT) AS n_members, score_milli
      FROM r WHERE rn = 1 ORDER BY component""")
  )

  /** Documents with doc_id below this are the "existing corpus" for
    * [[dedupIncremental]]; at/above are the incremental batch. */
  private[graft] val IncrementalCutoff = 400L

  /** THE persisted corpus shingle artifact (r16 verdict #1) — the
    * UNCAPPED distinct word-3-gram set ([[rawShinglesOf]]) of the full
    * documents table, written once per (dataset mtime+length, hash
    * family) as a parquet table BUCKETED AND SORTED on the shingle.
    * Before this artifact every query in the shingle family re-ran
    * scan→tokenize→shingle→distinct per invocation — a 49M-row
    * exchange at the 500k-doc tier, paid by each of q_minhash_lsh,
    * q_minhash_est, q_ngram_jaccard, q_dedup_components,
    * q_dedup_keep_best, q_dedup_funnel and the incremental index
    * builds. Warm consumers now read the table; because the scan
    * reports hash(s) bucketing, the DF-cap census, the anti-join probe
    * and the inverted-index doc-list aggregation all run with ZERO
    * exchange. Storing PRE-cap is what lets every consumer keep its
    * exact semantics: the cap counts DF within the consumer's own doc
    * subset (full corpus, exact-dup representatives, either side of
    * the incremental cutoff), so it must apply after the subset
    * filter — [[capShingleDf]] over the filtered read is bit-identical
    * to the old recompute (pinned in ShingleArtifactSpec).
    */
  private[graft] def shingleTable(s: SparkSession, dir: String): DataFrame =
    // 64 file buckets (not the session's 32 shuffle width): the DF-cap
    // census aggregates each bucket's DISTINCT shingles in ONE
    // zero-exchange hash-agg task, so bucket count directly sets
    // peak per-task aggregation state (~35M distinct shingles / B).
    // 64 halves it vs 32 — two task waves on 32 cores, same wall
    // time, half the concurrent heap (the 8g-fit margin).
    sessionTable(s, "shingles", s"$dir/documents.parquet",
        Bucketed(64, Seq("s"), sorted = true),
        HashFamilyVersion, "shingles-v2-b64") {
      rawShinglesOf(t(s, dir, "documents").select(col("doc_id"), col("text")))
    }

  /** Persisted corpus MinHash signature frame (r16 verdict #1) —
    * [[minhashFrameFrom]] of the corpus-capped [[shingleTable]] read:
    * (doc_id, mh0..mh7), one row per document with ≥3 tokens. The LSH
    * family (q_minhash_lsh, q_edit_dist, q_dedup_components,
    * q_dedup_keep_best, q_minhash_est's sketch side) consumes
    * signatures through [[minhashFrame]]; each used to pay the full
    * shingle pipeline PLUS the groupBy(doc_id) signature aggregation
    * per query — warm queries now pay one small parquet scan
    * (corpus-cardinality rows of 9 longs). All columns are longs, so
    * the parquet round-trip is exact and downstream results are
    * bit-identical to the recomputed form (ShingleArtifactSpec).
    * Plain parquet dir: no join key to bucket on — band explosion
    * re-keys anyway.
    */
  private def mhSigFor(s: SparkSession, dir: String): String =
    persistedDir(s, "mhsig", s"$dir/documents.parquet",
        s"$MaxShingleDf", HashFamilyVersion, "mhsig-v1") {
      minhashFrameFrom(shingles(s, dir))
    }

  /** The PERSISTED dedup signature index — every current dedup query
    * recomputes signatures from the corpus per run; this is the
    * production shape instead: band rows ([[bandsOf]]) for the
    * existing corpus (doc_id < [[IncrementalCutoff]]) written ONCE as
    * a parquet table BUCKETED AND SORTED on the join key (band, sig),
    * 32 buckets to match the session's shuffle width (thousands on a
    * real cluster), so the incremental join reads the index with ZERO
    * exchange AND zero sort on the index side. At 100 TB the index is
    * the only artifact the corpus leaves behind: incremental batches
    * never re-shingle it (plan-pinned in PlanContractSpec).
    */
  private[graft] def signatureIndex(s: SparkSession, dir: String): DataFrame =
    sessionTable(s, "sig_idx", s"$dir/documents.parquet",
        Bucketed(32, Seq("band", "sig"), sorted = true),
        s"$IncrementalCutoff", HashFamilyVersion) {
      // The prior-corpus shingles come from the shared uncapped
      // artifact filtered to the index side (r16) — the DF cap then
      // counts within doc_id < cutoff, identical to shingling the
      // filtered corpus directly (the old build's private pipeline).
      bandsOf(minhashFrameFrom(capShingleDf(
        shingleTable(s, dir).filter(col("doc_id") < IncrementalCutoff),
        MaxShingleDf)))
    }

  /** Deletion overlay for a maintained signature index — docs removed
    * from the corpus must leave the index or dedup resurrects dead
    * documents (r08 verdict #4). Deletes are TOMBSTONES: the bucketed
    * table is never rewritten on delete (an in-place rewrite of a
    * 100 TB index per deletion batch is absurd); instead the live view
    * anti-joins a small tombstone set of doc_ids, BROADCAST so the
    * index side keeps its bucketed partitioning and sort order through
    * the join — the candidate join downstream still runs with zero
    * exchange and zero sort on the index side (pinned in
    * IncrementalIndexSpec). Appends of new batches continue unchanged
    * next to tombstones; [[compactIndex]] folds both in.
    */
  private[graft] def indexWithoutTombstones(
      idx: DataFrame, tombstones: DataFrame): DataFrame =
    idx.join(broadcast(tombstones.select(col("doc_id"))), Seq("doc_id"), "left_anti")

  /** Generational compaction of a maintained index: rewrite the table
    * minus its tombstoned docs into a NEW generation with the IDENTICAL
    * bucketed+sorted layout (repartition on the bucket hash first, so
    * every bucket is again exactly one sorted file), then the caller
    * swaps generations (catalog rename / view flip) and clears the
    * tombstone set. After compaction the physical table equals a full
    * re-sign of the surviving corpus — proven in IncrementalIndexSpec —
    * so the delete+append+compact lifecycle never accumulates debt:
    * reads between compactions pay one broadcast anti-join; reads after
    * pay nothing.
    */
  private[graft] def compactIndex(
      s: SparkSession, fromTable: String, toTable: String, toPath: String,
      tombstones: DataFrame, buckets: Int = 32): Unit =
    saveTable(s, toTable, toPath,
        Bucketed(buckets, Seq("band", "sig"), sorted = true)) {
      indexWithoutTombstones(s.table(fromTable), tombstones)
    }

  /** The PERSISTED corpus label table — "yesterday's" connected
    * components (n, lbl) of the existing corpus (doc_id <
    * [[IncrementalCutoff]]), computed ONCE per dataset (corpus pairs →
    * [[labelComponents]]) and written as a parquet table: exactly the
    * state a production cluster-maintenance job carries between runs,
    * alongside the signature index. [[clusterIncremental]] previously
    * re-shingled AND re-labelled the whole prior corpus inside the
    * query (r09 verdict #2) — at 100 TB that re-sign IS the cost;
    * reading the persisted assignment makes the incremental path
    * O(new pairs).
    */
  private[graft] def labelTable(s: SparkSession, dir: String): DataFrame =
    sessionTable(s, "lbl", s"$dir/documents.parquet", Plain,
        s"$IncrementalCutoff", HashFamilyVersion) {
      val corpus = t(s, dir, "documents")
        .filter(col("doc_id") < IncrementalCutoff)
      // Prior-corpus pairs ride the shared shingle artifact, capped
      // within the cutoff side (r16 — same argument as signatureIndex).
      val priorPairs = pairsFromMh(minhashFrameFrom(capShingleDf(
        shingleTable(s, dir).filter(col("doc_id") < IncrementalCutoff),
        MaxShingleDf)))
        .select(col("id1"), col("id2"))
      labelComponents(corpus.select(col("doc_id")), priorPairs)
    }

  /** Band signatures of the incremental batch (doc_id ≥ cutoff),
    * capped within the batch. Rides the shared uncapped shingle
    * artifact with the batch predicate pushed to its scan (r16):
    * the batch rows are part of the dataset the artifact indexes, so
    * re-tokenizing them per query bought nothing — filtering the
    * artifact to doc_id ≥ cutoff and capping within the filter is
    * bit-identical to shingling the batch directly. (A production
    * stream whose batch is NOT yet in any artifact uses
    * [[bandProjection]] — the stateless per-row form.) This is the
    * BUILD pipeline; warm consumers read [[batchSignatures]]. */
  private[graft] def newBatchSignatures(s: SparkSession, dir: String): DataFrame =
    bandsOf(minhashFrameFrom(capShingleDf(
      shingleTable(s, dir).filter(col("doc_id") >= IncrementalCutoff),
      MaxShingleDf)))

  /** The PERSISTED batch band signatures — [[newBatchSignatures]]
    * written once per (documents stamp, cutoff, hash family) as a
    * parquet table bucketed AND sorted on (band, sig) ×32, the exact
    * [[signatureIndex]] layout. The r19 probe at the 500k tier put the
    * per-invocation batch signing at 11.2s of q_cluster_incremental's
    * 15.5s warm cost (and the same signing inside q_dedup_incremental)
    * — but a batch is signed ONCE when it arrives in production, and
    * both its consumers (pair dedup, cluster maintenance) read the
    * signed rows. Persisting makes the warm plan all-bucketed: the
    * corpus-vs-batch candidate join reads index and batch from
    * IDENTICAL (band, sig) ×32 layouts (zero exchange, zero sort on
    * BOTH sides), and the batch-vs-batch self-join is a same-table
    * bucketed SMJ — only the candidate-pair aggregations re-key. doc
    * ids are longs and sigs round-trip parquet exactly, so the read is
    * bit-identical to the recompute (pinned in IncrementalIndexSpec,
    * with staleness rebuild). */
  private[graft] def batchSignatures(s: SparkSession, dir: String): DataFrame =
    sessionTable(s, "bsig", s"$dir/documents.parquet",
        Bucketed(32, Seq("band", "sig"), sorted = true),
        s"$IncrementalCutoff", HashFamilyVersion, "bsig-v1") {
      newBatchSignatures(s, dir)
    }

  /** Band-signature rows as a PURE PROJECTION — the same signatures
    * [[bandsOf]]∘[[minhashFrameFrom]] builds with explode + groupBy,
    * but computed per-row with array HOFs (shingle array →
    * array_distinct → per-seed array_min of the affine rehash), no
    * shuffle at all. The batch path's explode/groupBy form exists for
    * map-side combining on huge documents; this form is what a
    * STREAMING micro-batch wants (stateless projection, no aggregation
    * semantics). SimilaritySpec pins that both paths produce identical
    * signatures; no DF cap (a stream has no batch to cap over — the
    * hot-shingle guard lives on the index-build side).
    *
    * @param docs (doc_id, text) frame — batch or streaming
    * @return (doc_id, band, sig) rows, 4 per document with ≥3 tokens
    */
  private[graft] def bandProjection(docs: DataFrame): DataFrame = {
    val sh = array_distinct(
      when(size(col("ws")) >= 3,
        transform(
          sequence(lit(0), size(col("ws")) - 3),
          i => concat_ws(" ",
            element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3))))
        .otherwise(array().cast("array<string>")))
    val hs = transform(col("sh"),
      s => conv(substring(md5(s), 1, 7), 16, 10).cast(LongType))
    def mh(k: Int): Column = array_min(transform(col("hs"),
      h => (h * lit(mhA(k)) + lit(7919L * k)) % lit(268435399L)))
    bandsOf(docs
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .select(col("doc_id"), sh.as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id") +: (0 until 8).map(k => mh(k).as(s"mh$k")): _*))
  }

  /** Old-vs-new candidate stage of [[dedupIncremental]], factored so
    * the plan contract can pin the scale shape: the index side is a
    * bucketed scan with NO exchange — only the (small) new batch ever
    * shuffles on the band key. */
  private[graft] def incrementalCandidates(idx: DataFrame, newSigs: DataFrame): DataFrame =
    idx.as("a")
      .join(newSigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_bands"))

  /** Incremental dedup — near-dup candidates for an arriving batch
    * against a PERSISTED signature index plus within the batch
    * itself, without ever re-reading (let alone re-shingling) the
    * existing corpus: the index side comes from [[signatureIndex]]'s
    * bucketed table, the batch signs itself once
    * ([[newBatchSignatures]], checkpointed — it feeds the index join
    * and the in-batch self-join). Output is the union of
    * corpus-vs-batch and batch-vs-batch band-collision pairs — id1 <
    * id2 holds in both by construction (corpus ids < cutoff ≤ batch
    * ids; the self-join orders explicitly). The oracle rebuilds the
    * index in CTEs (each side capped within itself, exactly like the
    * engine).
    */
  /** The arriving batch's full candidate set (corpus-vs-batch via the
    * persisted index + batch-vs-batch self-join) — the shared pair
    * source of [[dedupIncremental]] and [[clusterIncremental]].
    * Returns (id1, id2, n_bands) with id1 < id2 by construction. */
  private[graft] def incrementalPairs(s: SparkSession, dir: String): DataFrame = {
    val idx = signatureIndex(s, dir)
    // The batch reads its persisted signature table (r19 — signed once
    // on arrival, consumed by dedup AND cluster maintenance): both
    // joins below ride the shared (band, sig) ×32 bucketing, so the
    // warm plan's only exchanges are the candidate-pair aggregations.
    // (The r15-era per-invocation DISK_ONLY checkpoint of the signing
    // pipeline is gone with the signing itself.)
    val newSigs = batchSignatures(s, dir)
    val newNew = newSigs.as("a")
      .join(newSigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_bands"))
    incrementalCandidates(idx, newSigs).union(newNew)
  }

  val dedupIncremental = Q(
    "q_dedup_incremental",
    (s, dir) => incrementalPairs(s, dir).orderBy(col("id1"), col("id2")),
    Some(s"""
      WITH ${shinglesSqlFor("_old", s"doc_id < $IncrementalCutoff")},
      ${mhBandSqlFor("_old")},
      ${shinglesSqlFor("_new", s"doc_id >= $IncrementalCutoff")},
      ${mhBandSqlFor("_new")},
      p_on AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_bands
        FROM band_old a JOIN band_new b ON a.band = b.band AND a.sig = b.sig
        GROUP BY 1, 2),
      p_nn AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_bands
        FROM band_new a JOIN band_new b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT * FROM (SELECT * FROM p_on UNION ALL SELECT * FROM p_nn)
      ORDER BY id1, id2""")
  )

  /** Incremental cluster maintenance as a query — the consumer-facing
    * companion of [[dedupIncremental]]: that query emits new PAIRS;
    * the production consumer needs updated CLUSTERS, and a new pair
    * can merge two existing components. "Yesterday's" state is READ,
    * never recomputed: prior assignments come from the persisted
    * [[labelTable]] and the batch's pairs off the persisted signature
    * index ([[incrementalPairs]]) — the query touches the documents
    * table ONLY for the batch itself (plan-pinned: one documents scan,
    * zero shingle extraction over the prior corpus), so the
    * incremental path is O(new pairs) however large the corpus.
    * [[incrementalLabels]] folds the new pairs in over the contracted
    * graph. Oracle: full recursive CC over the UNION of
    * corpus-internal and incremental pairs — an independent algorithm
    * that must land on the identical fixpoint, which also proves the
    * persisted labels equal a from-scratch labelling.
    */
  val clusterIncremental = Q(
    "q_cluster_incremental",
    (s, dir) => {
      val prior = labelTable(s, dir)
      val newNodes = t(s, dir, "documents")
        .filter(col("doc_id") >= IncrementalCutoff).select(col("doc_id"))
      incrementalLabels(prior, newNodes,
          incrementalPairs(s, dir).select(col("id1"), col("id2")))
        .select(col("n").as("doc_id"), col("lbl").as("component"))
        // sort barrier (r17 idiom, measured r19: the remap child is
        // zero-exchange — label-table scan ∪ batch scan + broadcast
        // relabel — so the orderBy's range sampling re-ran it whole,
        // +3.5s of the 15.5s warm probe at 500k)
        .repartition(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE ${shinglesSqlFor("_old", s"doc_id < $IncrementalCutoff")},
      ${mhBandSqlFor("_old")},
      ${shinglesSqlFor("_new", s"doc_id >= $IncrementalCutoff")},
      ${mhBandSqlFor("_new")},
      p_oo AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM band_old a JOIN band_old b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      p_on AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM band_old a JOIN band_new b ON a.band = b.band AND a.sig = b.sig
        GROUP BY 1, 2),
      p_nn AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM band_new a JOIN band_new b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      allp AS (
        SELECT * FROM p_oo UNION SELECT * FROM p_on UNION SELECT * FROM p_nn),
      sym AS (
        SELECT id1 AS src, id2 AS dst FROM allp
        UNION SELECT id2, id1 FROM allp),
      cc(n, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, c.lbl FROM cc c JOIN sym s ON s.src = c.n WHERE c.lbl < s.dst)
      SELECT n AS doc_id, min(lbl) AS component
      FROM cc GROUP BY n ORDER BY doc_id""")
  )

  /** Exact-collapse → near-dup funnel — the production dedup
    * COMPOSITION, and the answer to the one quadratic path candidate
    * generation cannot avoid on its own: a viral document duplicated
    * k times puts k identical signatures in one (band, sig) bucket,
    * and those C(k,2) candidate pairs are REAL pairs — no cap may
    * drop them. So exact duplicates collapse FIRST (one md5 hash
    * aggregation, the q_dedup shape) to a minimum-id representative
    * carrying its multiplicity, and only representatives — each
    * unique text exactly once — enter the shingle/minhash path.
    * Band-bucket fan-out is then bounded by NEAR-dup (not exact-dup)
    * cluster sizes, and the multiplicities ride the output so
    * downstream keep/drop decisions still weigh the full corpus.
    * Oracle: the same funnel in CTEs (the parameterized shingle
    * pipeline filtered to representatives by subquery predicate).
    */
  /** Persisted funnel REP-BAND index (r18 — the measure-adopt pattern
    * applied to the funnel's per-invocation pipeline): the exact-dup
    * representative set with its LSH band rows — (doc_id, mult, band,
    * sig), 4 rows per representative — written once per (documents
    * stamp, DF cap, hash family) as a parquet table BUCKETED ×64 on
    * sig. Before this the funnel re-ran its whole front half per
    * invocation: the corpus md5 rep aggregation, the rep-scoped DF cap
    * census, and the 8-min signature aggregation over the rep shingle
    * set (nearly the full corpus — exact dups are the small part).
    * All of that is a pure function of the corpus, so it is signed
    * once; the warm query is the band self-join (ZERO exchange — both
    * sides read the same sig-bucketed table, and hashpartitioning(sig)
    * satisfies the (band, sig) join clustering as a key subset) plus
    * the candidate-sized pair aggregation. mult rides the band rows,
    * so the two per-invocation rep joins are gone (first() in the pair
    * agg is sound — mult is functionally dependent on doc_id). The
    * rep-scoped cap semantics are baked at build exactly as the inline
    * form computed them (cap AFTER the rep filter — a viral exact-dup's
    * shingles have rep-DF 1 and must survive banding); doc ids, mults
    * and sig strings round-trip parquet exactly, so warm results are
    * bit-identical (SimilaritySpec's funnel fixtures re-run green). */
  private def funnelRepBands(s: SparkSession, dir: String): DataFrame =
    sessionTable(s, "funnel", s"$dir/documents.parquet",
        Bucketed(64, Seq("sig"), sorted = true),
        s"$MaxShingleDf", HashFamilyVersion, "funnel-v1") {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val reps = docs
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("mult"))
        // feeds the rep filter + the mult attach; DISK_ONLY — reps are
        // corpus-cardinality (one row per distinct text)
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // Representative shingles ride the persisted UNCAPPED corpus
      // artifact (r16): shingling is per-document, so filtering the
      // artifact to reps equals shingling repDocs from scratch, and
      // the DF cap applies AFTER the filter — counted within reps.
      // The rep-id semi side broadcasts (doc_ids only), so the read
      // keeps its s-bucketing and the cap census stays exchange-free.
      val repSh = capShingleDf(
        shingleTable(s, dir)
          .join(broadcast(reps.select(col("doc_id"))), Seq("doc_id"), "left_semi"),
        MaxShingleDf)
      bandsOf(minhashFrameFrom(repSh))
        .join(reps.select(col("doc_id"), col("mult")), Seq("doc_id"))
    }

  val dedupFunnel = Q(
    "q_dedup_funnel",
    (s, dir) => {
      val bands = funnelRepBands(s, dir)
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("n_bands"),
          first(col("a.mult")).as("mult1"), first(col("b.mult")).as("mult2"))
        .select(col("id1"), col("id2"), col("n_bands"), col("mult1"), col("mult2"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""
      WITH rep0 AS (
        SELECT md5(text) AS h, min(doc_id) AS rep, count(*) AS mult
        FROM documents GROUP BY 1),
      ${shinglesSqlFor("_r", "doc_id IN (SELECT rep FROM rep0)")},
      ${mhBandSqlFor("_r")},
      p AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_bands
        FROM band_r a
        JOIN band_r b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, n_bands, ra.mult AS mult1, rb.mult AS mult2
      FROM p
      JOIN rep0 ra ON ra.rep = id1
      JOIN rep0 rb ON rb.rep = id2
      ORDER BY id1, id2""")
  )

  /** SimHash — 16-bit signature: each token votes ±1 on each bit of its
    * md5-derived hash; bit b of the signature is the sign of the vote
    * sum. Integer votes → order-independent aggregation, exact at any
    * parallelism. Near-dup = small Hamming distance (asserted in
    * SimilaritySpec; bucketed by signature prefix at scale).
    *
    * The 32 bit-votes are 32 parallel `sum` columns in ONE aggregation
    * over token rows — not an explode of tokens × 32 bits (the r03
    * shape, which fed per-bit rows into the shuffle). Map-side combine
    * reduces each partition to one 32-int state per doc, so shuffle
    * volume is O(docs), independent of token count. (Width history:
    * 16 bits through r08 — the 40× ScaleSmoke showed random pairs
    * saturating radius 3 at that width, the predicted cliff; 32 bits
    * pushes the birthday regime past the 100× corpus while keeping
    * the banding lossless — r08 verdict #2.)
    */
  /** The 32-bit signature frame (doc_id, simhash) — shared by
    * q_simhash and q_simhash_pairs. */
  private[similarity] def simhashDigest(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 8), 16, 10).cast(LongType))
    val voteCols = (0 to 31).map(b =>
      sum(when(expr(s"shiftright(h, $b) % 2") === 1, 1).otherwise(-1)).as(s"v$b"))
    tok
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(
        col("doc_id"),
        (0 to 31).map(b => when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).cast(LongType).as("simhash"))
  }

  /** The matching oracle CTEs (text shared by both simhash queries):
    * yields `sh(doc_id, simhash)`. */
  private val simhashSqlCtes = """tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      th AS (
        SELECT doc_id, CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) AS h
        FROM tok),
      votes AS (
        SELECT doc_id, CAST(t.range AS INTEGER) AS b,
               sum(CASE WHEN (h >> CAST(t.range AS INTEGER)) % 2 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM th, range(32) t GROUP BY 1, 2),
      sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                 AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id)"""

  val simhash = Q(
    "q_simhash",
    (s, dir) => simhashDigest(s, dir).orderBy(col("doc_id")),
    Some(s"""
      WITH $simhashSqlCtes
      SELECT doc_id, simhash FROM sh ORDER BY doc_id""")
  )

  private val docCounts = ArtifactCache.datasetScoped[Long]("doc-count")

  /** Cached documents row count (the bounded pre-pass every derived
    * knob pays — the embeddings twin is [[embCount]]). */
  private[similarity] def docCount(s: SparkSession, dir: String): Long =
    docCounts(s"$dir/documents.parquet")(t(s, dir, "documents").count())

  /** Corpus-derived simhash BAND width for q_simhash_pairs (r19 — the
    * constant-collision-rate rule, the q_semantic_dedup precedent
    * applied to banding): with 8-bit bands a random pair collides on a
    * given band at 2⁻⁸ regardless of digest width, so raw candidates
    * grow as n²·4/256 — measured EXACTLY quadratic at the doc tiers
    * (2.21e9 raw candidates at 500k → 8.83e9 at 1M). 16-bit bands
    * (over the 64-bit digest) put the per-band collision rate at 2⁻¹⁶:
    * candidate mass stays pair-structure-bound through the tiers, and
    * radius-3 recall keeps the pigeonhole guarantee (4 bands, ≤3
    * flipped bits → ≥1 clean band). Below [[SimhashWideMinDocs]] the
    * legacy 32-bit/8-bit-band form is bit-identical to r18; the 100×
    * smoke corpus sits exactly AT the threshold, so the wide path is
    * hash-verified against the DuckDB twin there. */
  private[graft] val SimhashWideMinDocs = 50000L
  private[similarity] def simhashBandBits(n: Long): Int =
    if (n >= SimhashWideMinDocs) 16 else 8

  /** Per-band simhash digest at width 4×`bandBits`: (doc_id, b0..b3),
    * band i holding digest bits [i·bandBits, (i+1)·bandBits). Bits
    * 0-31 vote on the first md5 word, 32-63 on the second — both
    * halves fit signed 64-bit on both engines, and no full-width
    * scalar is ever materialized (a 64-bit signature's top bit would
    * overflow BIGINT sums). For bandBits = 8 the four bands decompose
    * the [[simhashDigest]] value exactly. */
  private[similarity] def simhashBands(
      s: org.apache.spark.sql.SparkSession, dir: String,
      bandBits: Int): DataFrame = {
    val w = bandBits * 4
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .withColumn("h1", conv(substring(md5(col("w")), 1, 8), 16, 10).cast(LongType))
      .withColumn("h2", conv(substring(md5(col("w")), 9, 8), 16, 10).cast(LongType))
    val voteCols = (0 until w).map { b =>
      val (word, bit) = if (b < 32) ("h1", b) else ("h2", b - 32)
      sum(when(expr(s"shiftright($word, $bit) % 2") === 1, 1).otherwise(-1)).as(s"v$b")
    }
    tok
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id") +: (0 to 3).map { i =>
        (0 until bandBits).map(j =>
          when(col(s"v${i * bandBits + j}") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).cast(LongType).as(s"b$i")
      }: _*)
  }

  /** SimHash Hamming-radius dedup — the retrieval side of the
    * signature: all pairs within Hamming distance ≤ 3, found WITHOUT
    * an all-pairs scan. Pigeonhole banding: split the 32 bits into 4
    * bands of 8; any pair differing in ≤3 bits agrees on ≥1 whole
    * band, so the equi-join on (band, band_value) is a complete
    * candidate generator (no recall loss, unlike probabilistic LSH),
    * and candidates are verified with an exact popcount on the XOR.
    * Shuffle volume is O(docs·bands); in-bucket fan-out is bounded by
    * band-value collisions, never the corpus square.
    *
    * Width note: the former 16-bit signature saturated around ~10⁴
    * docs (random pairs collide within radius 3 at ~1%); 32 bits keeps
    * the TRUE pair set clean through the 100× smoke corpus — but the
    * r19 tier probe showed the CANDIDATE mass still grows as n²·4/256
    * with 8-bit bands (2.21e9 raw candidates at 500k → 8.83e9 at 1M,
    * exactly 4× at 2×). Width and band size are therefore CORPUS
    * DERIVED ([[simhashBandBits]], SQL twin derives the same rule):
    * ≥50k docs runs the 64-bit digest with 4×16-bit bands — per-band
    * collision 2⁻¹⁶, candidates pair-structure-bound, same pigeonhole
    * recall — and 128-bit/4×32 is the same plan one doubling further.
    */
  /** The radius-3 banded pair pipeline at an explicit band width —
    * factored out so SimilaritySpec can pin the 16-bit path's
    * pigeonhole completeness on a small corpus (the query derives the
    * width from the corpus, which is 8-bit at every unit-test size). */
  private[similarity] def simhashPairsAt(
      s: org.apache.spark.sql.SparkSession, dir: String, bb: Int): DataFrame = {
    val sh = simhashBands(s, dir, bb).localCheckpoint(true)
    val bandCols = (0 to 3).map(i => col(s"b$i"))
    val bands = sh.select(col("doc_id") +: bandCols :+
        explode(array((0 to 3).map(i => struct(
          lit(i).as("band"), col(s"b$i").as("bv"))): _*)).as("bd"): _*)
      .select(col("doc_id") +: bandCols :+
        col("bd.band").as("band") :+ col("bd.bv").as("bv"): _*)
    val cand = bands.as("x").join(bands.as("y"), Seq("band", "bv"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(Seq(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")) ++
        (0 to 3).map(i => col(s"x.b$i").as(s"xa$i")) ++
        (0 to 3).map(i => col(s"y.b$i").as(s"yb$i")): _*)
      .distinct()
    cand
      .withColumn("hamming",
        (0 to 3).map(i => expr(s"bit_count(xa$i ^ yb$i)"))
          .reduce(_ + _).cast(LongType))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val simhashPairs = Q(
    "q_simhash_pairs",
    (s, dir) => {
      // Band width derives from the corpus ([[simhashBandBits]]):
      // 8-bit bands below 50k docs (bit-identical to the r18 form),
      // 16-bit above — the constant-collision-rate rule. Hamming is
      // the SUM of per-band XOR popcounts, so no full-width signature
      // scalar exists at either width. The signature frame is
      // doc-count-sized and feeds BOTH sides of the band self-join —
      // checkpoint so the token explode + vote aggregation runs once.
      simhashPairsAt(s, dir, simhashBandBits(docCount(s, dir)))
    },
    Some(s"""
      WITH nb AS (
        SELECT CASE WHEN count(*) >= $SimhashWideMinDocs THEN 16 ELSE 8 END AS bb
        FROM documents),
      tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents),
      th AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) AS h1,
               CAST('0x' || substring(md5(w), 9, 8) AS BIGINT) AS h2
        FROM tok),
      votes AS (
        SELECT doc_id, CAST(t.range AS INTEGER) AS b,
               sum(CASE WHEN (CASE WHEN t.range < 32
                                   THEN h1 >> CAST(t.range AS INTEGER)
                                   ELSE h2 >> CAST(t.range - 32 AS INTEGER) END)
                        % 2 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM th, range(64) t
        WHERE t.range < 4 * (SELECT bb FROM nb)
        GROUP BY 1, 2),
      bandv AS (
        SELECT doc_id, CAST(b // (SELECT bb FROM nb) AS INTEGER) AS band,
               CAST(sum(CASE WHEN v >= 0
                             THEN CAST(1 AS BIGINT) << (b % (SELECT bb FROM nb))
                             ELSE 0 END) AS BIGINT) AS bv
        FROM votes GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bandv x JOIN bandv y
          ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
      ham AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(bit_count(xor(a.bv, b.bv))) AS BIGINT) AS hamming
        FROM cand c
        JOIN bandv a ON a.doc_id = c.doc_a
        JOIN bandv b ON b.doc_id = c.doc_b AND b.band = a.band
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, hamming FROM ham
      WHERE hamming <= 3 ORDER BY doc_a, doc_b""")
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

  private val planes: Seq[Array[Int]] = planesFor(4)

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
    * #1: the [[shingleTable]] pattern applied to the embedding
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
    val scored = bucketed
      .join(if (broadcastQueries) broadcast(q) else q, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"), col("bucket"),
        round(col("sim"), 6).as("sim_r"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
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
  private lazy val knnBucketSql: String = """
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
    * 10.7s→92s at 100× ScaleSmoke). Production sizes planeCount ≈
    * log2(n / targetBucket); ScaleSmoke times this plan at the widened
    * width to show the same dataflow re-linearizes (the DuckDB twin
    * derives the SAME width in SQL — [[knnBucketSql]] — so the oracle
    * stays exact at every scale).
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
    * beam index's base layer — [[beamIndexCreate]] computes the SAME
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
  private def knnEdgesAuto(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def MaxBucketMembers: Int =
    sys.props.get("graft.test.maxBucketMembers").map(_.toInt).getOrElse(32768)

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

  private[similarity] def denseBucketsCached(
      dir: String, salt: String, b: => DataFrame, cap: Int): Seq[Any] = {
    val emb = s"$dir/embeddings.parquet"
    denseBuckets(emb, salt, s"$cap") {
      val tag = ArtifactCache.datasetTag(emb, salt)
      val (dense, stats) = denseCensusOf(b, cap)
      // once per (dataset, width) — the tier-log skew
      // telemetry SCALE.md tracks round-over-round (r16 verdict #8);
      // dataset-derived builds only, so unit specs stay quiet
      System.err.println(s"[bucket-census] $tag: $stats")
      // gated tier runs ALSO append to the committed census log
      // (r17 verdict #8): Bench sets `graft.census.log` under a
      // docs tier, so anisotropy growth (85×→130× max/median at 1M)
      // is tracked in-repo round-over-round, not re-measured ad hoc
      // telemetry only — a missing/unwritable log (e.g. Bench launched
      // from outside the repo root) must not fail the tier query that
      // happened to trigger the census (ADVICE r18)
      sys.props.get("graft.census.log").foreach { p =>
        try {
          val w = new java.io.FileWriter(p, true)
          try w.write(s"[bucket-census] $tag: $stats\n") finally w.close()
        } catch {
          case e: java.io.IOException => System.err.println(
            s"[bucket-census] WARNING: census log $p unwritable (${e.getMessage}) — entry dropped")
        }
      }
      dense
    }
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
    val dense = denseIds.getOrElse(denseBucketsOf(b, cap))
    val smallSide =
      if (dense.isEmpty) b else b.filter(!col("bucket").isInCollection(dense))
    val small = smallSide
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
      .select(col("bucket"),
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
    val dense = denseIds.getOrElse(denseBucketsOf(b, cap))
    val smallSide =
      if (dense.isEmpty) b else b.filter(!col("bucket").isInCollection(dense))
    val small = smallSide
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
      .select(col("bucket"),
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
    * 100× ScaleSmoke re-linearization established (SCALE.md), now a
    * derived quantity instead of a manual knob (r09 verdict #3). At
    * the oracle corpora (n = 500) it yields the demo width 4, at 40×
    * it yields 6 and at 100× it yields 7 — no knob change between
    * scales. Widths nest: [[planesFor]] extends the same plane family,
    * and [[signBuckets]] assigns bit j of the bucket to plane j, so
    * bucket(w+Δ) >> Δ == bucket(w) — widening only REFINES buckets
    * (never reshuffles them), which is what makes the width safe to
    * derive per-corpus: candidates lost to a width bump are exactly
    * the documented recall trade, pinned by the ScaleSmoke planted-
    * pair recall floor.
    */
  private[graft] def autoPlaneCount(n: Long, targetBucket: Long = 400L): Int =
    math.max(4, math.round(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)

  /** Data-scaled training knobs for the clustering quantizers (r10
    * verdict #3) — derived from corpus size like [[autoPlaneCount]],
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
    * [[knnBucketSql]], corpus sizes sit well off the boundaries). The
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
    * count is k·2^eb ≈ n/400 — the [[autoPlaneCount]] constant-
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
    * same [[planesFor]] weights in SQL ([[semanticDedup]]'s oracle —
    * the [[knnBucketSql]] machinery, same round()-at-.5 log2-ulp
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

  /** Hub stride for [[annBeamPlan]]'s entry layer: every `stride`-th
    * vec_id is a hub, stride = 2^round(log2(√n)) (≥4), so the hub
    * count tracks √n — the classic coarse-layer sizing (cf. IVF's
    * √n-cells rule). Power-of-two strides keep the modulo exact and
    * cheap on both engines; the oracle derives the SAME stride in SQL
    * from count(embeddings), with the documented log2-ulp caveat of
    * [[knnBucketSql]] (corpus sizes sit well off .5 boundaries). */
  /** Beam-search budget: hops (frontier expansions) and beam width
    * (nodes expanded per hop). Candidate budget ≈ √n hubs +
    * H·B·(2k + log₂n) scored vectors per query — comparable to the
    * multiprobe-LSH candidate count at the demo corpus, tunable like
    * HNSW's ef. Both are mirrored as literals in the generated oracle
    * CTE chain, so changing them is a one-constant edit. */
  private val BeamHops = 4
  private val BeamWidth = 8

  private[graft] def annBeamHubStride(n: Long): Long =
    1L << math.max(2L,
      math.round(math.log(math.sqrt(n.toDouble)) / math.log(2.0))).toInt

  // ──────────────── beam-graph index lifecycle (r11 #2/#3/#5) ───────
  //
  // The navigable graph IS the beam search's index, and it now has the
  // same lifecycle as every sibling ANN artifact (sig index, IVF
  // centroids, PQ codebooks): built once, persisted, mtime-keyed, and
  // APPENDABLE without a full rebuild. The index stores TOPOLOGY ONLY
  // — vectors stay in the embeddings table — under one root:
  //
  //   root/nodes    (vec_id, bucket, rk)   sign-LSH cell + dense rank
  //   root/kn       (vec_id, nbr_id, bucket) one-directional in-bucket
  //                 top-3 edges, hive-PARTITIONED BY the src bucket —
  //                 the append unit: only buckets that receive new
  //                 vectors are rewritten (dynamic partition overwrite)
  //   root/fingers  (src, dst)             rank-space Chord links
  //   root/_meta    planes + n             the LSH width is FROZEN at
  //                 creation (bucket identity must never reshuffle
  //                 under appends); n feeds the hub stride
  //
  // Ranks are dense row_numbers over vec_id — the id-ranking pass the
  // r11 scaladoc promised: finger/hub navigation now works on SPARSE
  // vec_id corpora too, and on dense corpora rk == vec_id so results
  // are identical to the pre-index plan. The rank assignment is
  // RANGE-PARTITIONED ([[denseRankByKey]], r12 verdict #1): no stage
  // of the build or append funnels the node table through a single
  // task — paid once per build/append, never per search.
  //
  // Append = assign the new vectors to their (frozen-width) buckets,
  // recompute the in-bucket kNN for ONLY the affected buckets (old
  // vectors' bucket membership never changes, so unaffected buckets'
  // edges are untouched — the within-bucket top-3 is exact, hence
  // append ≡ rebuild, proven in BeamIndexSpec), then re-rank nodes and
  // regenerate fingers (pure arithmetic over the rank table — no
  // scoring). Cost ∝ affected-bucket population² + n·log n arithmetic,
  // independent of corpus size beyond the re-rank.

  /** Dense rank `base..base+n-1` by `key` WITHOUT a single-task global
    * window (r12 verdict #1 — `row_number().over(Window.orderBy(...))`
    * funnels the whole frame through one task; at corpus scale that
    * stage is the build's straggler). The distributed shape: range-
    * partition on the key, rank WITHIN each partition, and add
    * per-partition offsets computed from the tiny (one row per
    * partition) count frame. The range-partitioned frame is eagerly
    * checkpointed so the offset pass and the final join see the SAME
    * materialization — repartitionByRange samples its boundaries, so
    * two independent evaluations could split rows differently and
    * desync pid-keyed offsets. The offset cumsum's unpartitioned
    * window is bounded by the partition COUNT (32 here, thousands on a
    * cluster), never the row count. `key` must be unique (vec_ids
    * are); ties would make the rank nondeterministic. */
  private[graft] def denseRankByKey(
      df: DataFrame, key: String, rkName: String, base: Long): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val byRange = df.repartitionByRange(parts, col(key))
      .withColumn("_pid", spark_partition_id())
      // DISK_ONLY: the ranked frame is input-sized (corpus-scale for
      // q_percentile) and is read twice (census + join) — disk re-read
      // beats locking it in the storage pool (r15 checkpoint rule)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val offsets = byRange.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_off",
        coalesce(sum(col("_cnt")).over(
          Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    byRange.join(broadcast(offsets), Seq("_pid"))
      .withColumn(rkName,
        (lit(base) + col("_off") +
          row_number().over(Window.partitionBy(col("_pid")).orderBy(col(key))) - 1)
          .cast(LongType))
      .drop("_pid", "_off")
  }

  // ── versioned beam-index commits (snapshot isolation, r12 #2) ──
  //
  // A beam index root is a VERSIONED table: data files live in
  // per-generation dirs `root/g<N>/{nodes,fingers,kn}` that are
  // written before — and never mutated after — their generation
  // commits, and a commit is one immutable numbered manifest file
  // under `root/_gen/` listing the exact dirs of that snapshot. A
  // reader resolves the highest committed manifest once and pins that
  // file set for the whole query: a concurrent append/delete only
  // ADDS g<N+1> dirs and a new manifest, so any read observes either
  // the old or the new index, NEVER a mix (the pre-r13
  // fingers→meta→nodes promote ordering guaranteed crash-replay
  // convergence but not reader isolation — BeamIndexSpec pins both
  // now). The manifest rename is the single commit point: a crash
  // anywhere earlier leaves the previous manifest current, and the
  // replay recomputes the SAME deterministic generation number
  // (parent + 1) and overwrites the same g<N+1> dirs, so orphaned
  // attempt files self-heal. Unreferenced generations are reclaimed
  // by [[beamIndexVacuum]]. Single writer (a batch job or the stream
  // clock) is the write-side contract — ENFORCED since r14 by a
  // [[WriterFence]] lease (`root/_writer.lock`): every mutator
  // (create/append/delete/vacuum) claims it create-exclusively, so a
  // concurrent second writer fails at acquire instead of silently
  // clobbering the first's manifest rename, and a writer whose lease
  // was stolen after a stall aborts at the commit-point check.

  /** Finger-geometry format stamp: clipped non-wraparound links,
    * symmetrized at read (r12 v2). Persisted in every manifest and
    * REQUIRED on every read — a pre-v2 (mod-n) index mixed with
    * clipped delta appends would be neither geometry and silently
    * violate the append ≡ rebuild contract, so mismatched indexes
    * fail fast with the rebuild instruction instead. */
  private[graft] val BeamFingerGeometry = "clip-v2"

  /** One committed snapshot of a beam index: generation number, the
    * frozen LSH width, vector count, and the root-relative data dirs —
    * nodes/fingers as ordered dir lists (base + monotone-append
    * deltas), kn as bucket → leaf dir (only EMITTED buckets appear;
    * a single-member bucket has no in-bucket edges). */
  private[graft] final case class BeamManifest(
      gen: Long, planes: Int, n: Long,
      nodesDirs: Seq[String], fingerDirs: Seq[String],
      knDirs: Map[Int, String])

  private def beamGenPath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_gen")

  private def beamFs(s: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Resolve the CURRENT committed manifest (highest numbered file in
    * `_gen/`). Everything a search or maintenance pass reads derives
    * from one manifest resolution — that is the snapshot-isolation
    * contract. */
  private[graft] def beamManifest(s: SparkSession, root: String): BeamManifest = {
    val fs = beamFs(s, root)
    val dir = beamGenPath(root)
    val gens =
      if (fs.exists(dir))
        fs.listStatus(dir).flatMap(st => st.getPath.getName.toLongOption).toSeq
      else Seq.empty
    require(gens.nonEmpty,
      s"no committed generation under $root/_gen — not a beam index " +
        "(or a pre-manifest layout); rebuild the index with beamIndexCreate")
    val gen = gens.max
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, gen.toString))
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val kv = text.split("\n").map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    val geom = kv.getOrElse("geometry", "mod-v1")
    require(geom == BeamFingerGeometry,
      s"beam index at $root has finger geometry '$geom' but this build " +
        s"expects '$BeamFingerGeometry' — appending clipped deltas to a " +
        "wraparound graph would corrupt it; rebuild the index")
    def dirs(k: String) = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    BeamManifest(gen, kv("planes").toInt, kv("n").toLong,
      dirs("nodesdirs"), dirs("fingerdirs"),
      kv.getOrElse("kn", "").split(";").toSeq.filter(_.nonEmpty).map { e =>
        val Array(b, d) = e.split(":", 2); b.toInt -> d
      }.toMap)
  }

  /** Commit a generation: write the manifest to a hidden temp name and
    * rename it in — the atomic commit point. The data dirs it lists
    * must already be fully written. `lease` is the writer fence
    * (r13 verdict #1): ownership re-validates HERE, immediately before
    * the rename, so a writer whose lease was presumed stale and stolen
    * mid-transaction aborts loudly instead of clobbering the thief's
    * commit. */
  private def commitBeamManifest(
      s: SparkSession, root: String, m: BeamManifest,
      lease: Option[WriterFence.Lease]): Unit = {
    val fs = beamFs(s, root)
    val dir = beamGenPath(root)
    fs.mkdirs(dir)
    val body = s"planes=${m.planes}\nn=${m.n}\ngeometry=$BeamFingerGeometry\n" +
      s"nodesdirs=${m.nodesDirs.mkString(",")}\n" +
      s"fingerdirs=${m.fingerDirs.mkString(",")}\n" +
      s"kn=${m.knDirs.toSeq.sortBy(_._1).map { case (b, d) => s"$b:$d" }.mkString(";")}\n"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".${m.gen}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // the commit-point fence: with the lease held and re-validated, at
    // most one writer can reach the rename for any generation — a
    // concurrent appender failed at ACQUIRE, and a stale-steal victim
    // fails right here, before touching committed state
    lease.foreach(_.check())
    beamCommitTestSeam()
    // a replay of an attempt that crashed after this commit is cut off
    // upstream (the new-vector/deleted-id guards no-op), so a live
    // target here is a leftover of THIS commit's own crash-replay —
    // replace it (single-writer, now fence-enforced)
    fs.delete(new org.apache.hadoop.fs.Path(dir, m.gen.toString), false)
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, m.gen.toString)),
      s"beam manifest commit failed: $root gen ${m.gen}")
    // POST-rename fence (r14 verdict #6) — closes the check→rename
    // window by an ORDERING argument rather than an FS-atomicity one
    // (POSIX rename replaces an existing file, so rename-if-absent
    // cannot be assumed on local filesystems):
    //  - a steal that happens BEFORE this check aborts loudly here
    //    (over-conservative but safe; the state is flagged for
    //    inspection, never silently wrong);
    //  - a steal AFTER this check necessarily precedes the thief's
    //    parent-manifest resolve (every mutator resolves its parent
    //    INSIDE its lease), which therefore sees THIS rename and
    //    builds on top of it — no clobber is possible.
    // For a thief to do harm undetected it would have to steal the
    // lease AND complete its entire data-write + commit inside this
    // writer's check→rename microsecond gap — its staging writes alone
    // take longer than that by orders of magnitude. The wall-clock
    // staleness assumption itself is documented on [[WriterFence]].
    try lease.foreach(_.check())
    catch {
      case e: WriterFence.ConcurrentWriterException =>
        throw new WriterFence.ConcurrentWriterException(
          s"beam manifest g${m.gen} at $root was renamed in, but the writer " +
            "lease was stolen during the commit window — the committed state " +
            "may interleave with another writer's and needs inspection: " +
            e.getMessage)
    }
  }

  /** Test seam (BeamIndexSpec): runs between the commit-point
    * ownership check and the manifest rename — the residual window the
    * post-rename fence exists to flag. */
  private[similarity] var beamCommitTestSeam: () => Unit = () => ()

  /** The manifest's emitted-bucket map for a just-written kn dir:
    * bucket → root-relative leaf dir. Tolerates a missing/empty dir
    * (a delete batch can leave zero surviving edges). */
  private def knLeafDirs(
      s: SparkSession, root: String, gen: Long): Map[Int, String] = {
    val fs = beamFs(s, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/g$gen/kn")
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("bucket="))
        Some(n.stripPrefix("bucket=").toInt -> s"g$gen/kn/$n")
      else None
    }.toMap
  }

  /** (frozen plane width, vector count) of a persisted beam index. */
  private[graft] def beamMeta(s: SparkSession, root: String): (Int, Long) = {
    val m = beamManifest(s, root)
    (m.planes, m.n)
  }

  /** The snapshot's node table (vec_id, bucket, rk). */
  private[graft] def beamNodesFrame(s: SparkSession, root: String): DataFrame =
    beamNodesOf(s, root, beamManifest(s, root))

  private def beamNodesOf(s: SparkSession, root: String, m: BeamManifest): DataFrame =
    s.read.parquet(m.nodesDirs.map(d => s"$root/$d"): _*)

  /** Fail LOUDLY if a pinned snapshot's manifest no longer exists —
    * i.e. [[beamIndexVacuum]]'s grace window moved past it. A pinned
    * reader (the serving stream resolves its manifest once at start
    * and re-reads that generation's node/kn files every trigger) would
    * otherwise surface a bare executor FileNotFoundException mid-query
    * once its files are reclaimed; this converts it to an actionable
    * error at the START of the trigger (ADVICE r13 / verdict #4). The
    * check is one metadata existence probe — cheap enough per trigger. */
  private[graft] def requireBeamSnapshotLive(
      s: SparkSession, root: String, m: BeamManifest): Unit =
    if (!beamFs(s, root).exists(
        new org.apache.hadoop.fs.Path(beamGenPath(root), m.gen.toString)))
      throw new IllegalStateException(
        s"beam-index snapshot generation ${m.gen} at $root was vacuumed — " +
          "this reader outlived beamIndexVacuum's grace window " +
          "(keepGens newest manifests survive); restart the stream/query " +
          "to pin the current snapshot, or raise keepGens / slow the " +
          "vacuum cadence past the longest reader lifetime " +
          "(docs/STREAMING_SCALE.md)")

  /** Resolve a SPECIFIC committed generation's manifest (used by the
    * vacuum's grace window to learn what older snapshots reference). */
  private def beamManifestAt(
      s: SparkSession, root: String, gen: Long): Option[BeamManifest] = {
    val fs = beamFs(s, root)
    val p = new org.apache.hadoop.fs.Path(beamGenPath(root), gen.toString)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val kv = text.split("\n").map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      def dirs(k: String) = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
      Some(BeamManifest(gen, kv("planes").toInt, kv("n").toLong,
        dirs("nodesdirs"), dirs("fingerdirs"),
        kv.getOrElse("kn", "").split(";").toSeq.filter(_.nonEmpty).map { e =>
          val Array(b, d) = e.split(":", 2); b.toInt -> d
        }.toMap))
    }
  }

  /** Reclaim generations no RETAINED manifest references — the
    * maintenance job a long-lived index runs beside compaction.
    * `keepGens` is the GRACE WINDOW: the newest `keepGens` manifests
    * (and every generation dir any of them references) survive, so
    * readers pinned to a recent snapshot — a serving stream resolves
    * its manifest once at start and reads that generation's node
    * files per trigger — keep working as long as they restart within
    * the window. keepGens = 1 is the aggressive form (current
    * snapshot only; requires reader quiescence, like any
    * table-format vacuum). Dir-level GC: a generation dir survives
    * while ANY retained manifest references any of its dirs (e.g.
    * untouched kn leaves). */
  private[graft] def beamIndexVacuum(
      s: SparkSession, root: String, keepGens: Int = 2,
      beforeSweep: () => Unit = () => ()): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    require(keepGens >= 1, "keepGens must be at least 1")
    val m = beamManifest(s, root)
    val fs = beamFs(s, root)
    val gens = fs.listStatus(beamGenPath(root))
      .flatMap(_.getPath.getName.toLongOption).sorted.toSeq
    val retained = gens.takeRight(keepGens)
    val referenced = retained
      .flatMap(g => beamManifestAt(s, root, g))
      .flatMap(mm => mm.nodesDirs ++ mm.fingerDirs ++ mm.knDirs.values)
      .map(_.takeWhile(_ != '/')).toSet
    beforeSweep() // test seam: simulate a stall/steal inside the lease
    // commit-point fence (r14 advice): the retained/referenced sets
    // above come from a listing taken under THIS lease — if the vacuum
    // stalled past the staleness window and the lease was stolen, a
    // thief may have committed a fresh generation this listing never
    // saw; abort before deleting anything computed from a pre-steal view
    lease.check()
    fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.length > 1 && n.head == 'g' && n.tail.forall(_.isDigit) &&
        !referenced.contains(n))
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true): Unit)
    gens.filterNot(retained.contains).foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(beamGenPath(root), g.toString),
        false): Unit)
    require(fs.exists(new org.apache.hadoop.fs.Path(
        beamGenPath(root), m.gen.toString)),
      "vacuum must never drop the current manifest")
   }

  /** Merge the accumulated node/finger DELTA dirs into one base dir in
    * a fresh generation — the compaction pass a forever-appending
    * stream needs beside [[beamIndexVacuum]] (r13 verdict #7): the
    * monotone fast path appends one batch-sized node dir and one
    * finger dir per streaming batch, so after N batches every search
    * plans an N-dir multi-path scan (listing cost, tiny files, N×
    * the parquet footers). Compaction rewrites the UNION of those
    * dirs into `g<N+1>/{nodes,fingers}` and commits a manifest that
    * references just the two consolidated dirs — logically the
    * identity (same rows, same ranks: ranks were assigned at append
    * time and are stored, not recomputed), so search results are
    * bit-identical. kn leaves are untouched: each bucket has exactly
    * ONE leaf at any generation (appends overwrite affected buckets
    * wholesale), so they never accumulate deltas.
    *
    * Same protocol as every other mutator: new dirs written first,
    * one manifest rename as the commit point (readers see old XOR
    * new), writer-fenced, idempotent under replay (a re-run finds
    * nothing to compact or rewrites the same consolidated dirs).
    * Superseded generations linger for pinned readers until vacuum.
    * Cost is O(nodes + fingers) — corpus-proportional but
    * SHUFFLE-FREE (coalesce-style rewrite, no keyed exchange), the
    * classic small-files compaction economics; run it from the
    * stream clock every ~dozens of batches, not per batch. */
  private[graft] def beamIndexCompact(
      s: SparkSession, root: String, minDirs: Int = 2): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    val m = beamManifest(s, root)
    if (m.nodesDirs.size < minDirs && m.fingerDirs.size < minDirs) return
    val gen = m.gen + 1
    // plain re-write of the union frames: no shuffle (the write
    // repartitions nothing), ranks/edges are stored values
    beamNodesOf(s, root, m)
      .write.mode("overwrite").parquet(s"$root/g$gen/nodes")
    s.read.parquet(m.fingerDirs.map(d => s"$root/$d"): _*)
      .write.mode("overwrite").parquet(s"$root/g$gen/fingers")
    commitBeamManifest(s, root, BeamManifest(gen, m.planes, m.n,
      Seq(s"g$gen/nodes"), Seq(s"g$gen/fingers"), m.knDirs), Some(lease))
   }

  /** In-bucket top-3 kNN rows (vec_id, nbr_id, bucket) for a bucketed
    * normEmb frame — the [[knnGraphPlan]] dataflow, keeping the src
    * bucket as the partition column of the persisted edge table. */
  private def knRowsOf(b: DataFrame): DataFrame =
    // same grouped per-bucket kNN as [[knnGraphPlan]] (r15) — one
    // exchange, pair scoring inside graft_bucket_knn, edge rows out,
    // dense buckets routed to the join fallback (r16)
    bucketKnnEdges(b, 3)
      .select(col("e.vec_id").as("vec_id"), col("e.nbr_id").as("nbr_id"),
        col("bucket"))

  /** Finger rows (src, dst) for the given source nodes against a
    * target rank table — CLIP semantics (r12 v2): src_rk + 2^j links
    * only if that rank EXISTS; no wraparound. Clip is what makes
    * appends-at-the-end topology-INCREMENTAL (mod-n fingers re-aim
    * every edge whenever n changes; clipped edges never change once
    * both endpoints exist — the delta of growing n_old → n_new is
    * exactly the edges with a new endpoint, O(batch·log n) rows).
    * Navigability is preserved by symmetrizing finger edges in the
    * search frame (kn edges always were): backward long jumps come
    * from the reversed direction instead of the wrap. */
  private def fingerRows(
      srcNodes: DataFrame, targets: DataFrame, nVecs: Long): DataFrame = {
    val pows = (0 until 62).map(1L << _).filter(_ < nVecs)
    if (pows.isEmpty)
      srcNodes.select(col("vec_id").as("src"), col("vec_id").as("dst")).limit(0)
    else
      srcNodes.select(col("vec_id").as("src"),
          explode(array(pows.map(p => col("rk") + lit(p)): _*)).as("dst_rk"))
        .join(targets.select(col("vec_id").as("dst"), col("rk").as("dst_rk")),
          Seq("dst_rk"))
        .select(col("src"), col("dst"))
  }

  /** Rewrite the index topology from a (vec_id, bucket) frame into
    * generation `gen`: rank ([[denseRankByKey]] — no single-task
    * stage), then clipped Chord links in RANK space mapped back to
    * vec_ids, then the manifest commit. `beforeCommit` is the spec's
    * deterministic interleave point (a reader between the data writes
    * and the commit must see the PREVIOUS snapshot). */
  private def writeTopology(
      s: SparkSession, assigned: DataFrame, planeCount: Int, root: String,
      gen: Long, knDirs: Map[Int, String],
      beforeCommit: () => Unit = () => (),
      lease: Option[WriterFence.Lease]): Unit = {
    val nodes = denseRankByKey(
        assigned.select(col("vec_id"), col("bucket")), "vec_id", "rk", base = 0L)
      .localCheckpoint(true)
    val nVecs = nodes.count()
    fingerRows(nodes, nodes, nVecs)
      .write.mode("overwrite").parquet(s"$root/g$gen/fingers")
    nodes.write.mode("overwrite").parquet(s"$root/g$gen/nodes")
    beforeCommit()
    commitBeamManifest(s, root, BeamManifest(gen, planeCount, nVecs,
      Seq(s"g$gen/nodes"), Seq(s"g$gen/fingers"), knDirs), lease)
  }

  /** Build a beam index at `root` over a [[normEmb]]-shaped frame
    * (vec_id, v, nrm), freezing the sign-LSH width. Starts the
    * manifest history at generation 0 (any stale history under a
    * recycled root is discarded first — create means create). */
  private[graft] def beamIndexCreate(
      s: SparkSession, ne: DataFrame, planeCount: Int, root: String,
      kn: Option[DataFrame] = None): Unit =
    WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
      beamFs(s, root).delete(beamGenPath(root), true)
      // DISK_ONLY: corpus-scale vectors, build-lifetime pin (r17 —
      // the streaming/serving sweep of the r16 storage-pool rule)
      val b = signBuckets(ne, planeCount)
        .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // kn: optionally precomputed (vec_id, nbr_id, bucket) edge rows —
      // the corpus build ([[beamIndexFor]]) passes the persisted kNN
      // artifact so the O(Σ bucket²) pair loop runs once per dataset,
      // not once per consumer (r17 verdict #7); ad-hoc/streaming
      // callers compute their own frame's edges as before.
      kn.getOrElse(knRowsOf(b))
        .write.partitionBy("bucket").mode("overwrite").parquet(s"$root/g0/kn")
      writeTopology(s, b.select(col("vec_id"), col("bucket")), planeCount, root,
        gen = 0L, knDirs = knLeafDirs(s, root, 0L), lease = Some(lease))
    }

  /** Append every vector of `ne` not yet in the index at `root`,
    * rewriting only the kn leaves of buckets that received new vectors
    * (old vectors never change bucket, so all other edges are exact
    * already), then re-ranking nodes and regenerating fingers.
    * Idempotent: a crash mid-append leaves the new ids absent from
    * `nodes`, so a re-run redoes the same (overwrite-style) writes. */
  private[graft] def beamIndexAppend(
      s: SparkSession, ne: DataFrame, root: String,
      beforeCommit: () => Unit = () => ()): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    // parent manifest resolves INSIDE the lease: gen = parent + 1 is
    // only safe when no other writer can commit between the resolve
    // and our own commit (r13 verdict #1)
    val m = beamManifest(s, root)
    val planeCount = m.planes
    val gen = m.gen + 1
    val oldNodes = beamNodesOf(s, root, m)
    val newVecs = ne.join(oldNodes.select(col("vec_id")), Seq("vec_id"), "left_anti")
    if (newVecs.isEmpty) return
    val newB = signBuckets(newVecs, planeCount)
      .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
      .localCheckpoint(true)
    // members of affected buckets = their old vectors (vectors joined
    // back in from the corpus frame) + the batch
    val affected = newB.select(col("bucket")).distinct()
    val oldAffected = oldNodes.join(broadcast(affected), Seq("bucket"))
      .select(col("vec_id"), col("bucket"))
    // Contract guard: `ne` must be the FULL corpus (old + new), not
    // just the batch — the affected buckets' old members need their
    // vectors to recompute exact top-3 edges, and the inner join below
    // would silently DROP any member missing from `ne`, degrading
    // recall with no error. One bounded count per append buys a loud
    // failure instead.
    val missing = oldAffected.join(ne, Seq("vec_id"), "left_anti").count()
    require(missing == 0,
      s"beamIndexAppend: ne lacks $missing affected corpus vectors — " +
        "pass the full surviving corpus frame, not just the batch")
    val members = oldAffected
      .join(ne, Seq("vec_id"))
      .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
      .unionByName(newB)
    // affected leaves land in THIS generation's kn dir; unaffected
    // buckets keep their old manifest entries (no dynamic-overwrite
    // dance, and old-snapshot readers keep their files)
    knRowsOf(members).write.partitionBy("bucket")
      .mode("overwrite").parquet(s"$root/g$gen/kn")
    val knMap = m.knDirs ++ knLeafDirs(s, root, gen)
    // Topology update. FAST PATH (the streaming shape: every new id
    // sorts after the whole corpus): old ranks are untouched, so the
    // clipped finger DELTA is exactly the edges with a new endpoint —
    // a delta dir of O(batch·log n) rows with the explode pruned to
    // the sources that can reach the new rank range — and the node
    // table extends by a batch-sized DELTA dir too: the manifest's
    // ordered dir lists make both artifacts additive, so a monotone
    // append never rewrites corpus-sized data (r12's full node
    // rewrite per streaming batch is gone). Non-monotone ids
    // (backfill) take the full re-rank path.
    val bounds = oldNodes.agg(max(col("vec_id")), count(lit(1))).head()
    val nOld = bounds.getLong(1)
    // empty index (seeded from scratch): max is null; MinValue makes
    // every batch "monotone" and the fast path degenerates to a clean
    // first build
    val maxOld = if (bounds.isNullAt(0)) Long.MinValue else bounds.getLong(0)
    val minNew = newB.agg(min(col("vec_id"))).head().getLong(0)
    if (minNew > maxOld) {
      val newNodes = denseRankByKey(
          newB.select(col("vec_id"), col("bucket")), "vec_id", "rk", base = nOld)
        .localCheckpoint(true)
      val nNew = nOld + newNodes.count()
      val pows = (0 until 62).map(1L << _).filter(_ < nNew)
      val oldReachers = oldNodes.filter(
        pows.map(p => col("rk") >= lit(nOld - p) && col("rk") < lit(nNew - p))
          .reduceOption(_ || _).getOrElse(lit(false)))
      // new sources' targets are provably new too (src rank ≥ nOld ⇒
      // dst rank > nOld), so the delta join never touches the old
      // node table — batch-sized on both sides
      fingerRows(newNodes, newNodes, nNew)
        .unionByName(fingerRows(oldReachers, newNodes, nNew))
        .write.mode("overwrite").parquet(s"$root/g$gen/fingers")
      newNodes.write.mode("overwrite").parquet(s"$root/g$gen/nodes")
      beforeCommit()
      commitBeamManifest(s, root, BeamManifest(gen, planeCount, nNew,
        m.nodesDirs :+ s"g$gen/nodes", m.fingerDirs :+ s"g$gen/fingers", knMap),
        Some(lease))
    } else
      writeTopology(s,
        oldNodes.select(col("vec_id"), col("bucket"))
          .unionByName(newB.select(col("vec_id"), col("bucket"))), planeCount, root,
        gen, knMap, beforeCommit, Some(lease))
   }

  /** Delete vectors from a beam index — the append's mirror image,
    * completing the ANN lifecycle (create/append/stream/DELETE;
    * BeamIndexSpec proves delete ≡ rebuild). Unlike the dedup
    * signature index, where a tombstone overlay is exact (tombstoned
    * rows only ever produce EXTRA candidates that an anti-join
    * removes), the kNN edge list must be RECOMPUTED: deleting a
    * vector changes its surviving neighbors' top-3, so an overlay
    * would silently degrade the graph's navigability forever. Only
    * the affected buckets (those that held deleted ids) are
    * recomputed — every kn row referencing a deleted id lives in that
    * id's own bucket (in-bucket kNN), so unaffected leaves are exact
    * already. Leaves whose members are ALL deleted drop out of the
    * new manifest (their files linger for old-snapshot readers until
    * [[beamIndexVacuum]]). `ne` is the surviving corpus's normEmb
    * frame. */
  private[graft] def beamIndexDelete(
      s: SparkSession, ne: DataFrame, deletedIds: DataFrame, root: String,
      beforeCommit: () => Unit = () => ()): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    val m = beamManifest(s, root)
    val oldNodes = beamNodesOf(s, root, m)
    val del = deletedIds.select(col("vec_id")).distinct().localCheckpoint(true)
    if (del.isEmpty) return
    // bounded collect: one bucket id per deleted vector at most —
    // batch-sized, like the IVF/PQ training reads
    val affected = oldNodes.join(del, Seq("vec_id"))
      .select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    // none of the ids are present (e.g. a crash-replayed delete batch
    // whose commit already landed): the snapshot is already correct
    if (affected.isEmpty) return
    val gen = m.gen + 1
    val affectedDf = { import s.implicits._; affected.toSeq.toDF("bucket") }
    val surviving = oldNodes.join(del, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val survAffected = surviving
      .join(broadcast(affectedDf), Seq("bucket"))
      .select(col("vec_id"), col("bucket"))
    // same contract guard as beamIndexAppend: `ne` must cover every
    // surviving member of the affected buckets or the inner join
    // silently drops them from the recomputed leaves
    val missing = survAffected.join(ne, Seq("vec_id"), "left_anti").count()
    require(missing == 0,
      s"beamIndexDelete: ne lacks $missing surviving affected vectors — " +
        "pass the full surviving corpus frame")
    val members = survAffected
      .join(ne, Seq("vec_id"))
      .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
    knRowsOf(members).write.partitionBy("bucket")
      .mode("overwrite").parquet(s"$root/g$gen/kn")
    // fully-emptied buckets simply drop out of the manifest (no leaf
    // deletes — the old snapshot keeps its files until vacuum); the
    // surviving affected buckets remap to this generation's leaves
    val knMap = (m.knDirs -- affected) ++ knLeafDirs(s, root, gen)
    writeTopology(s, surviving.select(col("vec_id"), col("bucket")), m.planes,
      root, gen, knMap, beforeCommit, Some(lease))
   }

  /** Semantic version of the [[beamIndexFor]] graph (k=3 kNN + clipped
    * Chord fingers) — key material of the index and its warm frames. */
  private val BeamIndexVersion = "beam-knn3-chordclip-v2"

  /** The dataset's persisted beam-index root, shared by every session
    * (plain parquet paths, no catalog tables); a hit is valid while a
    * committed generation exists. */
  private[graft] def beamIndexFor(s: SparkSession, dir: String): String =
    ArtifactCache.persistedRoot("beam", s"$dir/embeddings.parquet", BeamIndexVersion)(
        r => Option(new java.io.File(r, "_gen").list()).exists(_.nonEmpty)) { root =>
      ArtifactCache.deleteRecursively(root)
      // the persisted embedding artifact replaces the r16 DISK_ONLY
      // checkpoint (r17): the build's repeated ne reads are pruned
      // parquet scans of the artifact, parking nothing in the session.
      // The kn leaves read the persisted kNN-edge artifact (same rows
      // as knRowsOf at the native width — EmbBucketArtifactSpec pins
      // the grouped/artifact bit-identity) joined back to the bucket
      // column: an n·k skinny-row join instead of re-running the
      // in-bucket pair loop per index build (r17 verdict #7).
      beamIndexCreate(s, normEmbArtifact(s, dir), embAutoWidth(s, dir),
        root.getPath,
        kn = Some(knnEdgesAuto(s, dir)
          .join(embBucketTable(s, dir).select(col("vec_id"), col("bucket")),
            Seq("vec_id"))
          .select(col("vec_id"), col("nbr_id"), col("bucket"))))
    }

  /** Graph-navigating ANN — the HNSW/NSW-family fourth ANN path beside
    * sign-LSH multiprobe, IVF and PQ-ADC, and the one modern vector
    * stores default to. Two layers, both deterministic:
    *
    *  1. ENTRY (the "upper layer"): score the query against the ~√n
    *     hub vectors ([[annBeamHubStride]]) exactly — the bounded
    *     global scan that replaces HNSW's random upper-layer descent
    *     with something both engines can replay bit-for-bit — PLUS
    *     the query's own sign-LSH bucket members (bounded by the
    *     target bucket population). The bucket seeds are the locality
    *     signal the query vector itself carries (what multiprobe LSH
    *     uses); the hubs are global coverage; the graph walk then
    *     refines both. This hybrid is what makes the planted-twin
    *     recall floor STRUCTURAL at any scale: a near-identical twin
    *     shares the query's bucket (up to one plane straddle), so it
    *     is scored at entry without depending on the walk finding a
    *     gradient in unstructured data.
    *  2. BEAM over a navigable graph: the symmetrized auto-width kNN
    *     edges ([[knnGraphPlanAuto]], k=3 each way — LOCAL refinement)
    *     plus CLIPPED Chord-style finger edges `i → i + 2^j` (both
    *     directions after symmetrization, every 2^j while the target
    *     rank exists — r12 v2: no wraparound, so appends-at-the-end
    *     never re-aim existing edges; see [[fingerRows]]) — the
    *     deterministic LONG links that make the graph a navigable
    *     small world (Kleinberg/NSW; HNSW gets the same property from
    *     random layer links, which an oracle cannot replay). [[BeamHops]] hops of best-first search at width
    *     [[BeamWidth]] — each
    *     hop expands the per-query best nodes along graph edges,
    *     scores the new candidates exactly, and folds them into the
    *     visited set. The frontier is the best-scored UNEXPANDED
    *     nodes (HNSW's ef-search rule) — expanding top-of-visited
    *     without that filter re-expands the same nodes and stalls
    *     after one hop (measured at sf0.01: recall@5 0.20 stalled →
    *     0.52 with the rule at 3 hops → 0.64 at 4 hops → 0.72 with
    *     the bucket entry seeds, vs 0.64 for q_ann_recall's multiprobe
    *     LSH on the same corpus at a comparable scored-candidate
    *     budget; 1.0 on SimilaritySpec's planted clusters). Monotone visited + fixed
    *     hops ⇒ the result is a pure function of the graph, no tie
    *     depends on visit order (ties break on vec_id everywhere).
    *     Degree is k·2 + log2(n) per node, so per-hop work is
    *     O(B·(k + log n)) per query. Finger and hub geometry live in
    *     RANK space (ids ranked once at index build — see the index
    *     lifecycle block above), so sparse/non-contiguous vec_id
    *     corpora navigate correctly; on dense corpora rk == vec_id
    *     and results are unchanged.
    *
    * Answer = top-5 of the final visited set (self excluded) — like
    * the other ANN paths, recall vs [[bruteTopK]] is the tuning
    * number (gated in ScaleSmoke via the planted twins).
    *
    * Scale shape: the graph IS the persisted index (k·n + n·log n
    * edges) — PHYSICALLY persisted since r12 ([[beamIndexFor]]):
    * searches read the edge/node tables, never rebuild them, and new
    * vectors append via [[beamIndexAppend]] (affected-bucket rewrite,
    * no full re-sign — BeamIndexSpec proves append ≡ rebuild). A
    * search touches hubs (√n, map-side
    * vs the broadcast query batch) plus ≤ beam·degree·hops candidates
    * per query — per-query work is O(√n + B·k·H) independent of
    * corpus size beyond the hub scan, and the per-hop joins carry only
    * (q_id, cand) pairs, never vectors, until the bounded score step.
    * The hop iterations are driver-side loop unrolling over
    * checkpointed frames (the Pregel idiom), ~tens of rows per query.
    */
  /** The session's checkpointed (normEmb, edges) frames of the
    * [[beamIndexFor]] index, so repeated warm searches (bench
    * iterations, repeated plan builds) skip even the two
    * materialization jobs. SAFE only for
    * [[beamIndexFor]]-managed roots, whose path changes with the
    * dataset digest: a MAINTAINED index (append/delete/stream at a
    * fixed root) mutates in place, so its consumers
    * ([[graft.streaming.AnnIndexStream]], the specs) search through
    * [[beamSearchPlan]] directly and never this cache. */
  private val beamWarm =
    ArtifactCache.sessionScoped[(DataFrame, DataFrame)]("beam-warm")

  private[graft] def annBeamPlan(s: SparkSession, dir: String): DataFrame = {
    // the persisted artifact supplies topology (edges, buckets, ranks);
    // only exact scoring touches the vectors, via the corpus scan below
    val idxRoot = beamIndexFor(s, dir)
    val (ne, edges) = beamWarm(s, s"$dir/embeddings.parquet", BeamIndexVersion) {
      // vectors ride the persisted embedding artifact (r17 — nothing
      // to checkpoint, parquet-backed already); edges keep the r16
      // DISK_ONLY checkpoint: the warm cache pins them for the
      // SESSION, and they must live on disk, not in the storage pool
      // every later query competes with
      (normEmbArtifact(s, dir),
        beamEdgesFrame(s, idxRoot).localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY))
    }
    beamSearchPlan(s, idxRoot, ne, Some(edges))
  }

  /** The warm search's symmetrized edge frame — pure reads of the
    * persisted kn/fingers tables, exposed separately so
    * PlanContractSpec can pin that a warm search never re-signs the
    * corpus (no zip_with hyperplane dots, no embeddings scan). */
  private[graft] def beamEdgesFrame(s: SparkSession, idxRoot: String): DataFrame =
    beamEdgesOf(s, idxRoot, beamManifest(s, idxRoot))

  /** As [[beamEdgesFrame]] but against an already-resolved manifest,
    * so a caller pinning a snapshot (the serving stream) reads edges
    * from exactly that generation. */
  private[graft] def beamEdgesFrame(
      s: SparkSession, idxRoot: String, m: BeamManifest): DataFrame =
    beamEdgesOf(s, idxRoot, m)

  private def beamEdgesOf(
      s: SparkSession, idxRoot: String, m: BeamManifest): DataFrame = {
    // kn leaf dirs are read directly (the bucket partition value is
    // never needed search-side — buckets come from the node table), so
    // one multi-path relation covers every generation's leaves
    val kn =
      if (m.knDirs.isEmpty)
        { import s.implicits._
          Seq.empty[(Long, Long)].toDF("vec_id", "nbr_id") }
      else s.read.parquet(m.knDirs.values.toSeq.sorted.map(d => s"$idxRoot/$d"): _*)
        .select(col("vec_id"), col("nbr_id"))
    val fingers = s.read.parquet(m.fingerDirs.map(d => s"$idxRoot/$d"): _*)
    kn.select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      .union(kn.select(col("nbr_id").as("src"), col("vec_id").as("dst")))
      // fingers symmetrize like kn: clipped links have no wraparound,
      // so backward long jumps come from the reversed direction; the
      // distinct() folds edges that exist in both directions already
      .union(fingers.select(col("src"), col("dst")))
      .union(fingers.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Beam search over a persisted index root + the corpus's normEmb
    * frame (queries = vec_id < `queryLimit`; the oracle family's fixed
    * probe set is the default 5 — ScaleSmoke widens it to measure
    * query-batch scaling). Split from [[annBeamPlan]] so BeamIndexSpec
    * can drive explicit create/append lifecycles on synthetic corpora. */
  private[graft] def beamSearchPlan(
      s: SparkSession, idxRoot: String, ne: DataFrame,
      edgesOpt: Option[DataFrame] = None,
      queryLimit: Long = 5L): DataFrame = {
    // ONE manifest resolution pins the whole search to a snapshot:
    // nodes, edges and the hub stride all derive from it, so a commit
    // racing this search flips the result atomically (old index or
    // new), never partially
    val m = beamManifest(s, idxRoot)
    val q = ne.filter(col("vec_id") < queryLimit)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    // corpus queries read their bucket straight from the node table —
    // a pure index read, no hyperplane re-sign on the warm path
    val qb = beamNodesOf(s, idxRoot, m).filter(col("vec_id") < queryLimit)
      .select(col("vec_id").as("q_id"), col("bucket"))
    beamSearchCore(s, idxRoot, m, ne, q, qb, edgesOpt)
  }

  /** Beam search for EXTERNAL probe vectors — the serving entry
    * ([[graft.streaming.AnnServeStream]]): probes are a normEmb-shaped
    * frame (vec_id, v, nrm) that need NOT be corpus members, so their
    * entry bucket is assigned from the probe's own vector at the
    * index's frozen LSH width (the same [[signBuckets]] the build
    * used; the hyperplanes are deterministic literals). Probe ids from
    * a fresh id space (e.g. negative, or beyond the corpus ids) are
    * never self-excluded, so the top-5 can include an exact corpus
    * match; a probe REUSING a corpus vec_id keeps the batch query
    * family's self-exclusion semantics. */
  private[graft] def beamSearchProbes(
      s: SparkSession, idxRoot: String, ne: DataFrame, probes: DataFrame,
      edgesOpt: Option[DataFrame] = None,
      manifestOpt: Option[BeamManifest] = None): DataFrame = {
    // a caller that pinned frames at an earlier snapshot (the serving
    // stream) passes ITS manifest too — resolving a fresh one here
    // would mix new nodes/hub-stride with old edges/vectors, matching
    // neither snapshot
    val m = manifestOpt.getOrElse(beamManifest(s, idxRoot))
    val q = probes
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val qb = signBuckets(probes, m.planes)
      .select(col("vec_id").as("q_id"), col("bucket"))
    beamSearchCore(s, idxRoot, m, ne, q, qb, edgesOpt)
  }

  private def beamSearchCore(
      s: SparkSession, idxRoot: String, m: BeamManifest, ne: DataFrame,
      q: DataFrame, qb: DataFrame,
      edgesOpt: Option[DataFrame]): DataFrame = {
    val nVecs = m.n
    val stride = annBeamHubStride(nVecs)
    val edges = edgesOpt.getOrElse(beamEdgesOf(s, idxRoot, m)
      .localCheckpoint(true, // DISK_ONLY: corpus-cardinality edge rows
        org.apache.spark.storage.StorageLevel.DISK_ONLY))
    // exact cosine for a (q_id, cand) pair set — vectors join in here,
    // AFTER the candidate set is bounded
    def score(cands: DataFrame): DataFrame =
      cands
        .join(ne, cands("cand") === ne("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("cand"),
          (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("sim"))
    val byBest = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand"))
    val nodes = beamNodesOf(s, idxRoot, m)
    val bucketSeeds = nodes.select(col("vec_id").as("cand"), col("bucket"))
      .join(broadcast(qb), Seq("bucket"))
      .select(col("q_id"), col("cand"))
    val hubSeeds = nodes.filter(col("rk") % stride === 0)
      .select(col("vec_id").as("cand"))
      .crossJoin(broadcast(q.select(col("q_id"))))
      .select(col("q_id"), col("cand"))
    // ONE state frame per hop: (q_id, cand, sim, expanded) — the
    // ef-search "checked" flag rides IN the frame instead of as a
    // separate anti-joined set, so each hop is a single checkpointed
    // job (window → frontier → grow → score → fold) rather than three.
    // Frontier selection is unchanged: ranking unexpanded rows first
    // (expanded ASC, sim DESC, cand ASC) makes the first ≤BeamWidth
    // unexpanded rows exactly the best-unexpanded beam. The warm
    // search is BeamHops+2 jobs; the checkpoint-per-frame version
    // measured 2.6s warm at sf0.1 — job overhead, not data, was the
    // cost.
    val byFrontier = Window.partitionBy(col("q_id"))
      .orderBy(col("expanded").asc, col("sim").desc, col("cand"))
    var state = score(bucketSeeds.union(hubSeeds).distinct())
      .withColumn("expanded", lit(false))
      .localCheckpoint(true)
    for (_ <- 1 to BeamHops) {
      val st = state
        .withColumn("bn", row_number().over(byFrontier))
        .withColumn("isFrontier", !col("expanded") && col("bn") <= BeamWidth)
      val frontier = st.filter(col("isFrontier"))
        .select(col("q_id"), col("cand"))
      val grown = frontier
        .join(edges, frontier("cand") === edges("src"))
        .select(col("q_id"), col("dst").as("cand"))
        .distinct()
      state = st.select(col("q_id"), col("cand"), col("sim"),
          (col("expanded") || col("isFrontier")).as("expanded"))
        .unionByName(score(grown).withColumn("expanded", lit(false)))
        .groupBy(col("q_id"), col("cand"))
        // sims for one pair are identical; the flag folds with OR (max)
        .agg(max(col("sim")).as("sim"), max(col("expanded")).as("expanded"))
        // one checkpoint per hop: the state subplan is referenced twice
        // per hop (fold + frontier), so laziness doubles the plan per
        // hop (measured 4.2s warm; every-other-hop checkpoints 1.8s;
        // per-hop 1.65s — the barrier count times local-mode job
        // latency is the floor, data volume is irrelevant here).
        .localCheckpoint(true)
    }
    state
      .filter(col("cand") =!= col("q_id"))
      .withColumn("rn", row_number().over(byBest).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("cand").as("vec_id"),
        round(col("sim"), 6).as("sim_r"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Oracle twin of [[annBeamPlan]]: the [[BeamHops]] beam hops unroll into CTE
    * triples (frontier fH → expand cH → score sH → fold vH), generated
    * by the same loop the Spark side runs, over the width-adaptive kNN
    * CTEs — so the oracle tracks BOTH derived knobs (LSH width, hub
    * stride) at any corpus size. */
  private lazy val annBeamOracleSql: String = {
    def simSql(n: String, qq: String): String =
      s"""list_sum(list_transform(list_zip($n.v, $qq.qv),
                   z -> struct_extract(z, 1) * struct_extract(z, 2)))
          / ($n.nrm * $qq.qnrm)"""
    // xH = expanded-set CTEs (ef-search "checked" nodes); fH only
    // draws from visited \ expanded, mirroring the Spark loop
    val hops = (1 to BeamHops).map { h =>
      val notExpanded =
        if (h == 1) ""
        else s"""WHERE NOT EXISTS (
                   SELECT 1 FROM x${h - 1} x
                   WHERE x.q_id = v.q_id AND x.cand = v.cand)"""
      val expandedNext =
        if (h == 1) s"x1 AS (SELECT q_id, cand FROM f0)"
        else s"""x$h AS (SELECT q_id, cand FROM x${h - 1}
                  UNION SELECT q_id, cand FROM f${h - 1})"""
      s"""f${h - 1} AS (
            SELECT q_id, cand FROM (
              SELECT v.q_id, v.cand,
                     row_number() OVER (PARTITION BY v.q_id
                                        ORDER BY v.sim DESC, v.cand) AS bn
              FROM v${h - 1} v $notExpanded) WHERE bn <= $BeamWidth),
          $expandedNext,
          c$h AS (
            SELECT DISTINCT f.q_id, ed.dst AS cand
            FROM f${h - 1} f JOIN ed ON f.cand = ed.src),
          s$h AS (
            SELECT c.q_id, c.cand, ${simSql("n", "qq")} AS sim
            FROM c$h c JOIN n ON c.cand = n.vec_id
            JOIN qq ON c.q_id = qq.q_id),
          v$h AS (
            SELECT q_id, cand, max(sim) AS sim
            FROM (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM s$h)
            GROUP BY q_id, cand)"""
    }.mkString(",\n      ")
    s"""
      WITH $knnSqlCtes,
      cnt AS (SELECT count(*) AS cn FROM embeddings),
      rk AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS rk
             FROM n),
      fe AS (
        SELECT r1.vec_id AS src, r2.vec_id AS dst
        FROM rk r1
        CROSS JOIN (SELECT unnest(range(62)) AS j) fj
        CROSS JOIN cnt
        JOIN rk r2
          ON r2.rk = r1.rk + CAST(power(2, fj.j) AS BIGINT)
        WHERE power(2, fj.j) < cnt.cn),
      ed AS (SELECT vec_id AS src, nbr_id AS dst FROM kn
             UNION
             SELECT nbr_id AS src, vec_id AS dst FROM kn
             UNION
             SELECT src, dst FROM fe
             UNION
             SELECT dst, src FROM fe),
      qq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
      st AS (SELECT CAST(power(2, greatest(2, round(log2(sqrt(count(*))))))
                    AS BIGINT) AS s
             FROM embeddings),
      qb AS (SELECT vec_id AS q_id, bucket FROM b WHERE vec_id < 5),
      sd AS (
        SELECT qq.q_id, rk.vec_id AS cand
        FROM rk CROSS JOIN qq CROSS JOIN st
        WHERE rk.rk % st.s = 0
        UNION
        SELECT qb.q_id, b.vec_id AS cand
        FROM b JOIN qb ON b.bucket = qb.bucket),
      v0 AS (
        SELECT sd.q_id, sd.cand, ${simSql("n", "qq")} AS sim
        FROM sd JOIN n ON sd.cand = n.vec_id
        JOIN qq ON sd.q_id = qq.q_id),
      $hops
      SELECT q_id, cand AS vec_id, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rn
      FROM (SELECT q_id, cand, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, cand) AS rn
            FROM v$BeamHops WHERE cand != q_id)
      WHERE rn <= 5 ORDER BY q_id, rn"""
  }

  val annBeam = Q("q_ann_beam", (s, dir) => annBeamPlan(s, dir),
    Some(annBeamOracleSql))

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

  /** The IVF coarse quantizer's trained centroids (8 bounded rows):
    * training runs a few small Spark jobs the first time a dataset is
    * queried, then re-invocations are pure plan construction. */
  private val ivfCentroids =
    ArtifactCache.datasetScoped[Array[(Long, Array[Double], Double)]]("ivf-centroids")

  /** k-means training for the IVF coarse quantizer:
    * k = [[ivfCellCount]] cells (corpus-derived; the demo corpora
    * land on 8), [[lloydRounds]] Lloyd iterations, seeded with the k
    * smallest vec_ids. All arithmetic is
    * FIXED-POINT — components scaled ×1e6 to BIGINT — because integer
    * sums are order-independent and means are exact floor-divides, so
    * the trained centroids are bit-identical to the oracle's SQL replica
    * of the same two iterations at ANY partitioning/parallelism. That
    * exactness is what lets both engines embed the quantizer as
    * literals. (The oracle computes each mean as floor(sum·1.0/count) —
    * exact for |sum| < 2^53, which the trainer enforces with a loud
    * require.) Assignment metric: squared euclidean distance in ints
    * (exact), smallest-cell tiebreak via lexicographic array_sort min;
    * a cell that loses all members keeps its previous centroid (same
    * COALESCE rule in the oracle).
    *
    * Scale shape: each iteration is a map-side assignment against k
    * broadcast literal centroids plus one (cell, dim) sum aggregation;
    * only the k×64 sums + counts reach the driver — the bounded
    * trained-artifact collect every ANN index build does.
    */
  private[similarity] def trainIvfCentroids(s: SparkSession, dir: String): Array[(Long, Array[Long])] = {
    val n = embCount(s, dir)
    val k = ivfCellCount(n)
    val vi = t(s, dir, "embeddings")
      .select(
        col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast(DoubleType) * 1e6).cast(LongType)).as("vi"))
    var cents: Array[(Long, Array[Long])] = vi
      .filter(col("vec_id") < k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    for (_ <- 1 to lloydRounds(n)) {
      // graft_cell_argmin (r14): the fused codegen'd argmin — same
      // (d2 asc, cell asc) winner as the struct-sort HOF it replaces,
      // at primitive-loop speed (functions/CellAssign.scala)
      val centsLit = array(cents.map { case (_, ci) =>
        array(ci.map(lit(_)): _*) }: _*)
      val idsLit = array(cents.map { case (id, _) => lit(id) }: _*)
      val sums = vi
        .select(col("vi"), call_function("graft_cell_argmin",
          col("vi"), centsLit, idsLit).as("cell"))
        .select(col("cell"), posexplode(col("vi")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      cents = cents.map { case (id, old) =>
        byCell.get(id).fold((id, old)) { rows =>
          val next = new Array[Long](old.length)
          rows.foreach { r =>
            // The oracle's mean is floor(sum * 1.0 / count): exact only
            // while |sum| < 2^53 (a cell would need ~9e9 members at the
            // 1e6 scale). Fail loudly at the bound instead of letting
            // engine and oracle centroids silently diverge.
            require(math.abs(r.getLong(2)) < (1L << 53),
              s"IVF training: cell $id component sum ${r.getLong(2)} exceeds " +
                "the 2^53 exact-double bound the oracle's mean relies on")
            next(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3))
          }
          (id, next)
        }
      }
    }
    cents
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
    * the signature/beam indexes, exactly the [[beamIndexFor]]
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
      val scored = assigned.join(broadcast(qprobe), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim",
          expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      scored
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), col("cell"),
          round(col("sim"), 6).as("sim_r"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
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
    * ([[ngramJaccard]]/[[minhashLsh]]) and hyperplane buckets
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
    * the [[knnEdgesFor]] write-once-read-many shape, and the pair set
    * is even smaller than the n·k edge rows). Build = one grouped
    * pair pass over [[embBucketTable]]; warm q_embed_dedup reads the
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
    // ([[knnBucketSql]]), so the oracle stays exact at every scale.
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
      WITH $normEmbSql,
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
      p AS (
        SELECT n.vec_id, q.q_id,
               list_sum(list_transform(list_zip(n.v, q.qv),
                                       z -> struct_extract(z, 1) * struct_extract(z, 2)))
                 / (n.nrm * q.qnrm) AS sim
        FROM n CROSS JOIN q WHERE n.vec_id != q.q_id),
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

  /** Fixed-point (×1e6 BIGINT) embedding vectors — the shared integer
    * domain both PQ training and encoding run in ([[trainIvfCentroids]]
    * uses the same bridge). */
  private[similarity] def fixedVi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * 1e6).cast(LongType)).as("vi"))

  /** Nested literal of the full codebook: cbLit[m+1][cell+1] is the
    * sub-centroid vector of cell `cell` in subspace `m`. */
  private def pqCbLit(cb: Array[Array[Array[Long]]]): Column =
    array(cb.map(sub =>
      array(sub.map(ci => array(ci.map(lit(_)): _*)): _*)): _*)


  /** PQ codebook training: per-subspace k-means
    * (K = [[pqCodebookSize]], seeds = the K smallest vec_ids'
    * sub-slices, [[lloydRounds]] Lloyd iterations), run for ALL
    * M subspaces in ONE dataflow — assignment is a map-side argmin over
    * the (m, cell) literal codebook, then a single (m, cell, pos)
    * integer-sum aggregation; only M·K·sub sums reach the driver.
    * All arithmetic is the same ×1e6 fixed-point as
    * [[trainIvfCentroids]], so the oracle's SQL replica of the two
    * iterations produces bit-identical codebooks at any parallelism
    * (means are floor-divides of exact integer sums; the require below
    * guards the 2^53 bound the oracle's `floor(sum·1.0/cnt)` needs).
    * Empty cells keep their previous centroid (COALESCE in the oracle).
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

    var cb: Array[Array[Array[Long]]] = {
      val seeds = sv.filter(col("vec_id") < pqK).collect()
        .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Long](2).toArray))
      Array.tabulate(PqM, pqK)((m, c) =>
        seeds.find(x => x._1 == m && x._2 == c.toLong).get._3)
    }
    for (_ <- 1 to lloydRounds(n)) {
      val cbLit = pqCbLit(cb)
      // graft_cell_argmin (r14): fused codegen'd argmin, same
      // (d2 asc, cell asc) winner as the struct-sort HOF it replaces;
      // the per-row cents arg is this subspace's slice of the nested
      // codebook literal (the expression does not require a literal)
      val cellOf = call_function("graft_cell_argmin",
        col("svi"), element_at(cbLit, col("m") + 1),
        array((0 until pqK).map(c => lit(c.toLong)): _*))
        .cast(IntegerType)
      val sums = sv
        .withColumn("cell", cellOf)
        .select(col("m"), col("cell"), posexplode(col("svi")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg(sum(col("col")).as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val byKey = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      cb = Array.tabulate(PqM, pqK) { (m, c) =>
        byKey.get((m, c)).fold(cb(m)(c)) { rows =>
          val next = new Array[Long](PqSub)
          rows.foreach { r =>
            require(math.abs(r.getLong(3)) < (1L << 53),
              s"PQ training: subspace $m cell $c sum ${r.getLong(3)} exceeds " +
                "the 2^53 exact-double bound the oracle's mean relies on")
            next(r.getInt(2)) = Math.floorDiv(r.getLong(3), r.getLong(4))
          }
          next
        }
      }
    }
    cb
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

  override def all: Seq[Q] =
    Seq(cosineTopK, ngramJaccard, minhashLsh, minhashEst, editDist,
      simhash, simhashPairs,
      annLsh, annLshShuffle, knnGraph,
      annIvf, kmeansCluster, semanticDedup, embedDedup, dedupComponents,
      dedupKeepBest, dedupIncremental, dedupFunnel, embedQuant, knnClassify,
      clusterIncremental, annRecall, annBeam, rrf, ndcg, pqAdc, embedDrift,
      silhouette)
}
