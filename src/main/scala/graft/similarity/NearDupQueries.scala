package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Q, QueryModule}
import graft.util.{ArtifactCache, Tables}
import graft.util.ArtifactCache.{Bucketed, persistedDir, sessionTable}
import graft.util.Tables._
import graft.text.TextQueries.{toks, wordNgrams}

/** Near-duplicate text detection: word 3-gram shingles and their
  * inverted index, Jaccard, MinHash+LSH, SimHash, edit distance, and
  * the components, keep-best and funnel stages over candidate pairs.
  * Candidates always come from a key-grouped join, never all-pairs. */
object NearDupQueries extends QueryModule {

  /** Per-invocation scale telemetry (the SCALE.md round censuses)
    * goes to the log4j2 logger `graft` at INFO: quiet under every
    * session's WARN root, printed when Bench raises that logger under
    * a tier. One-time per-dataset events (artifact builds, the
    * bucket-census histogram) print unconditionally instead. */
  private val log = org.apache.logging.log4j.LogManager.getLogger("graft")

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
    * corpus's repeated chrome — the [[VectorQueries.denseBucketsCached]]
    * driver-census class, guarded by the same loud require), so it
    * collects once and the capped view becomes a pure filter — no
    * census job, no anti-join, bit-identical rows (s is never null, so
    * NOT-IN on a literal set ≡ the left-anti join). */
  private val hotShingles = ArtifactCache.datasetScoped[Option[Seq[String]]]("hot-shingles")

  /** Ceiling on the driver-collected hot-shingle set. Above it the
    * capped view falls back to the [[capShingleDf]] anti-join (same
    * rows, one extra census job per query) instead of refusing to run
    * (ADVICE r18 — a boilerplate-heavy corpus or a tiny caller maxDf
    * must degrade to the slower plan, not crash). [[shingles]]' `maxHot`
    * defaults to it; a spec passes a tiny one to force the fallback. */
  private val MaxHotShingles = 100000

  private[graft] def shingles(s: SparkSession, dir: String,
      maxDf: Int = MaxShingleDf, maxHot: Int = MaxHotShingles): DataFrame = {
    // Full-corpus shingles ride the persisted artifact (r16): the
    // uncapped distinct set is read back bucketed on s, so the one
    // census the dataset ever pays runs with ZERO exchange.
    // maxHot is key material too (ADVICE r19): the cached
    // value is a VERDICT (Some(set) vs None=overflow) taken against
    // the ceiling, so a cap change mid-session must re-census, not be
    // served the other cap's verdict
    val hot = hotShingles(s"$dir/documents.parquet", s"hot$maxDf",
        s"cap$maxHot") {
      // collect one past the cap so overflow is detected without
      // pulling an unbounded set onto the driver; None = overflow,
      // cached so warm calls skip straight to the anti-join plan
      val h = hotShinglesOf(shingleTable(s, dir), maxDf)
        .limit(maxHot + 1)
        .collect().map(_.getString(0)).toSeq
      if (h.size > maxHot) {
        System.err.println(
          s"[hot-shingles] WARNING: census exceeds $maxHot entries " +
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
        explode(wordNgrams(col("ws"), 3)).as("s"))
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
  private[similarity] def capShingleDf(sh: DataFrame, maxDf: Int): DataFrame =
    sh.join(hotShinglesOf(sh, maxDf), Seq("s"), "left_anti")

  /** The shingles of `sh` whose document frequency exceeds `maxDf`. */
  private def hotShinglesOf(sh: DataFrame, maxDf: Int): DataFrame =
    sh.groupBy(col("s")).agg(count(lit(1)).as("df")).filter(col("df") > maxDf).select(col("s"))

  /** Oracle-side twin of [[shinglesOf]] as a CTE body (including the
    * per-batch DF cap), parameterized: `pred` filters the documents
    * scan, `sfx` suffixes every CTE name so two differently-filtered
    * copies (index side / new-batch side) coexist in one oracle
    * query. */
  private[similarity] def shinglesSqlFor(sfx: String, pred: String): String = s"""
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

  /** Every ordered pair (id1 < id2) of a sorted doc list `ds`, as the
    * struct column `p` — the map-side HOF pair expansion. */
  private def docListPairs: Column = explode(expr(
    """flatten(transform(ds,
         (x, i) -> transform(slice(ds, i + 2, size(ds)),
                             y -> named_struct('id1', x, 'id2', y))))""")).as("p")

  /** Ordered candidate pairs + intersection counts from the inverted
    * index (ONE aggregation, HOF pair expansion — no shingle
    * self-join), plus per-doc shingle counts off the same grouping. */
  private def shinglePairStats(grouped: DataFrame): (DataFrame, DataFrame) = {
    val cnt = grouped
      .select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = grouped
      .filter(size(col("ds")) >= 2)
      .select(docListPairs)
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

  /** The one base hash per shingle: 7 hex chars of md5, h < 2^28. */
  private[similarity] def shingleHash(sh: Column): Column =
    conv(substring(md5(sh), 1, 7), 16, 10).cast(LongType)

  /** The k-th minhash of base hash `h`: (a_k·h + 7919k) mod 268435399. */
  private[similarity] def minhashOf(h: Column, k: Int): Column =
    (h * lit(mhA(k)) + lit(7919L * k)) % lit(268435399L)

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
    val mhCols = (0 until 8).map(k => min(minhashOf(col("h"), k)).as(s"mh$k"))
    sh.select(col("doc_id"), shingleHash(col("s")).as("h"))
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
    * by [[DedupIndex.signatureIndex]], so a width/encoding change must hit all
    * consumers at once or candidate generation silently desyncs. */
  private def bandExplode(mhAt: Int => Column): Column =
    explode(array((0 until 4).map(b => struct(
      lit(b).as("band"),
      concat_ws("|", mhAt(2 * b), mhAt(2 * b + 1)).as("sig"))): _*))

  /** Band rows (doc_id, band, sig) off a signature frame — 4 bands of
    * 2 hashes each. This is also the PERSISTED row format of the
    * incremental dedup index ([[DedupIndex.signatureIndex]]). */
  private[similarity] def bandsOf(mh: DataFrame): DataFrame =
    mh.select(
        col("doc_id"),
        bandExplode(k => col(s"mh$k")).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** LSH banding + candidate pairs over a [[minhashFrame]]. */
  private[similarity] def pairsFromMh(mh: DataFrame): DataFrame = {
    val bands = bandsOf(mh)
    bandCollisions(bands, "sig")
  }

  /** Band-collision candidate pairs of a band-row frame: rows sharing
    * a (band, `sig`) bucket with a.doc_id < b.doc_id, one row per
    * (id1, id2) with its n_bands and any `extra` aggregates. */
  private[similarity] def bandCollisions(
      bands: DataFrame, sig: String, extra: Column*): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col(s"a.$sig") === col(s"b.$sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_bands"), extra: _*)

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
    bandCollisions(bands, "bsig", first(col("a.sig")).as("sa"), first(col("b.sig")).as("sb"))
      .select(col("id1"), col("id2"), col("n_bands"), matches.as("n_matches"))
  }

  private def minhashPairsPlan(s: SparkSession, dir: String): DataFrame =
    pairsFromMh(minhashFrame(s, dir))

  /** Oracle twin of hash→minhash→band over `sh$sfx` (suffixed like
    * [[shinglesSqlFor]]), ending in `band$sfx(doc_id, band, sig)`. */
  private[similarity] def mhBandSqlFor(sfx: String): String = s"""
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
        .select(docListPairs)
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
    // query's iterative cost model at any corpus size. Logged, not
    // printed: this runs per INVOCATION (every unit test, every timed
    // bench query), not once per dataset.
    log.info(s"[labelComponents] converged in $round rounds")
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

  /** Oracle twin of [[labelComponents]] over the undirected edge CTE
    * `pairs(id1, id2)`: the recursive `cc(n, lbl)` CTE, whose
    * min(lbl) per n is the component. */
  private[similarity] def labelComponentsSql(pairs: String): String =
    s"""sym AS (
        SELECT id1 AS src, id2 AS dst FROM $pairs
        UNION SELECT id2, id1 FROM $pairs),
      cc(n, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, c.lbl FROM cc c JOIN sym s ON s.src = c.n WHERE c.lbl < s.dst)"""

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
      ${labelComponentsSql("pairs")}
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
      ${labelComponentsSql("pairs")},
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
      bandCollisions(bands, "sig",
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
    * knob pays — the embeddings twin is [[VectorQueries.embCount]]). */
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

  override def all: Seq[Q] = Seq(
    ngramJaccard, minhashLsh, minhashEst, editDist, simhash, simhashPairs,
    dedupComponents, dedupKeepBest, dedupFunnel)
}
