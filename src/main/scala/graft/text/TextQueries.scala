package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.Column
import graft.{Q, QueryModule}
import graft.util.{ArtifactCache, Tables}
import graft.util.Tables._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: exact dedup, token counting, quality stats,
  * language-ID scoring, and document fingerprinting.
  *
  * All are embarrassingly parallel per-row expressions plus one
  * hash-partitioned aggregation — the shapes that scale linearly to
  * 100 TB (no cross-document work except key-grouped dedup).
  */
object TextQueries extends QueryModule {

  /** Tokens of `text`: whitespace split after trim. Kept as a helper so
    * every query tokenizes identically (and identically to the oracle's
    * `string_split_regex(trim(text), '\s+')`).
    *
    * Cross-engine contract: Java `\s` and RE2 `\s` agree on space, tab,
    * LF, CR, FF — but NOT vertical tab (0x0B: Java matches, RE2
    * doesn't). The driver corpus contains none; a corpus that does
    * needs an explicit character class here and in every oracle.
    */
  private[graft] def toks(c: Column): Column = split(trim(c), "\\s+")

  /** The word n-grams of a token array, in order, one per start
    * position: `n` consecutive tokens joined by one space. Empty when
    * there are fewer than `n` tokens. A text n-gram and a near-dup
    * shingle (n = 3) are this one expression. */
  private[graft] def wordNgrams(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(
        sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (1 to n).map(o => element_at(ws, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Word n-grams per document, ONE ROW PER OCCURRENCE with its
    * 1-based token position (callers dedup or count as needed): pure
    * map-side HOF expression — sequence → element_at → concat_ws —
    * shared by [[contamination]] (n=8), [[bigramScore]] (n=2) and
    * [[substrDedup]] (n=20, which needs `pos`) so the extraction and
    * its oracle twin [[ngramSql]] can never drift apart per query.
    * Docs with fewer than n tokens produce no rows (matching the
    * oracle's null-lead filter). */
  private def ngrams(df: org.apache.spark.sql.DataFrame, n: Int) = df
    .select(col("doc_id"), toks(col("text")).as("ws"))
    .select(
      col("doc_id"),
      posexplode(wordNgrams(col("ws"), n)))
    .select(
      col("doc_id"),
      (col("pos") + 1).cast(LongType).as("pos"),
      col("col").as("g"))

  /** Oracle twin of [[ngrams]]: CTEs `tok`, `g0`, `g1(doc_id, pos, g)`
    * — one row per n-gram occurrence (pos 1-based, like
    * `generate_subscripts`), built with a lead-window chain. */
  private def ngramSql(n: Int): String = {
    val parts = ("w" +: (1 until n).map(k => s"lead(w, $k) OVER win")).mkString(" || ' ' || ")
    s"""tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
               generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
        FROM documents),
      g0 AS (
        SELECT doc_id, pos, $parts AS g,
               lead(w, ${n - 1}) OVER win IS NOT NULL AS ok
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      g1 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, g FROM g0 WHERE ok)"""
  }

  /** Canonical text normalization shared by [[textNormalize]] and
    * [[curation]]: NFC (native graft_nfc) → lowercase → whitespace
    * collapse → trim. One definition so the dedup hashes the two
    * queries derive can never drift apart. */
  private def normText(c: Column): Column =
    trim(regexp_replace(lower(call_function("graft_nfc", c)), "\\s+", " "))

  /** Oracle twin of [[normText]]. */
  private def normTextSql(c: String): String =
    s"trim(regexp_replace(lower(nfc_normalize($c)), '\\s+', ' ', 'g'))"

  /** Deterministic cross-engine bucket in [0, mod): salted md5 of the
    * key. Shared by [[sampleStratified]] and [[curation]] (mod 100,
    * different salts) and [[pack]] (mod 8 shards) so the hash-window
    * arithmetic lives in exactly one place per engine. md5, not
    * Spark's murmur `hash()`: the bucket reaches query OUTPUT, so it
    * must be reproducible by the oracle. */
  private def hashBucket(salt: String, key: Column, mod: Int = 100): Column =
    pmod(
      conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8), 16, 10)
        .cast(LongType),
      lit(mod))

  /** Oracle twin of [[hashBucket]]. */
  private def hashBucketSql(salt: String, key: String, mod: Int = 100): String =
    s"CAST(('0x' || substring(md5('$salt' || CAST($key AS VARCHAR)), 1, 8)) AS BIGINT) % $mod"

  /** Exact deduplication — group by content hash, keep the smallest
    * doc_id as canonical (deterministic survivor). At 100 TB this is a
    * single hash-partitioned shuffle on a 16-byte key — never pairwise.
    * Collapse behavior on real duplicates is unit-tested (DedupSpec);
    * the driver corpus is duplicate-free so every group here is size 1.
    */
  val dedup = Q(
    "q_dedup",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("h")),
    Some("""
      SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY h""")
  )

  /** Token counting — whitespace tokenization (the BPE-precursor count
    * every data pipeline runs first). Pure projection: no shuffle at all.
    */
  val textTokens = Q(
    "q_text_tokens",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          lsize(toks(col("text"))).as("n_tokens"),
          length(col("text")).cast(LongType).as("n_chars_m"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars_m
      FROM documents ORDER BY doc_id""")
  )

  /** Quality scoring — stopword count, punctuation count, non-space
    * character mass. Integer outputs only: ratios are left to the
    * consumer so the oracle compare never touches float division.
    */
  val textStats = Q(
    "q_text_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          lsize(toks(col("text"))).as("n_tokens"),
          lsize(filter(toks(col("text")), w => w.isin("the", "a", "of", "and")))
            .as("n_stop"),
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?]", "")))
            .cast(LongType).as("n_punct"),
          length(regexp_replace(col("text"), "\\s", "")).cast(LongType)
            .as("n_nonspace"))
        // sort barrier (r20 audit): 0.54 -> 0.40s at sf0.1, the
        // q_pii_scrub shape — see that query's note
        .repartition(col("doc_id"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
             CAST(length(text) - length(regexp_replace(text, '[.,!?]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace
      FROM documents ORDER BY doc_id""")
  )

  /** Language identification — stopword-family scoring (the n-gram
    * heuristic degenerates to unigram stopwords for whitespace
    * languages). Argmax with a fixed priority order for determinism;
    * the synthetic corpus is one shared vocabulary so accuracy is not
    * the point here — the scoring/argmax mechanism is.
    *
    * Tokenization is staged into its own projection so the regex split
    * runs ONCE per row; the four stopword-family counts then filter the
    * materialized array. `CollapseProject` will not inline a non-cheap
    * alias referenced more than once, so the stages survive
    * optimization (pinned by PlanContractSpec's split-once assertion).
    */
  val langId = Q(
    "q_lang_id",
    (s, dir) => {
      def hits(ws: Seq[String]): Column =
        lsize(filter(col("tk"), w => w.isin(ws: _*)))
      val en = col("en"); val de = col("de"); val fr = col("fr"); val es = col("es")
      t(s, dir, "documents")
        .select(col("lang"), toks(col("text")).as("tk"))
        .select(
          col("lang"),
          hits(Seq("the", "a", "of", "and", "is")).as("en"),
          hits(Seq("der", "die", "und", "das", "ist")).as("de"),
          hits(Seq("le", "la", "et", "les", "est")).as("fr"),
          hits(Seq("el", "los", "las", "es", "y")).as("es"))
        .select(
          col("lang"),
          when(en >= de && en >= fr && en >= es && en > 0, "en")
            .when(de >= fr && de >= es && de > 0, "de")
            .when(fr >= es && fr > 0, "fr")
            .when(es > 0, "es")
            .otherwise("unknown").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },
    Some("""
      WITH sc AS (
        SELECT lang,
               len(list_filter(string_split_regex(trim(text), '\s+'),
                   w -> w IN ('the','a','of','and','is'))) AS en,
               len(list_filter(string_split_regex(trim(text), '\s+'),
                   w -> w IN ('der','die','und','das','ist'))) AS de,
               len(list_filter(string_split_regex(trim(text), '\s+'),
                   w -> w IN ('le','la','et','les','est'))) AS fr,
               len(list_filter(string_split_regex(trim(text), '\s+'),
                   w -> w IN ('el','los','las','es','y'))) AS es
        FROM documents)
      SELECT lang,
             CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                  WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                  WHEN fr >= es AND fr > 0 THEN 'fr'
                  WHEN es > 0 THEN 'es'
                  ELSE 'unknown' END AS predicted,
             count(*) AS n
      FROM sc GROUP BY 1, 2 ORDER BY lang, predicted""")
  )

  /** Document fingerprinting — two deterministic signatures per doc:
    * a prefix fingerprint (md5 of the first 8 tokens — cheap
    * near-head-dup key) and an order-independent xor-fold of per-token
    * 60-bit hashes (content-set signature; xor makes the aggregation
    * commutative, so it needs no sort and is exact at any parallelism).
    */
  val fingerprint = Q(
    "q_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        // prefix hash FIRST, then explode — inside one select the
        // per-doc md5 would be re-evaluated once per generated token row
        .select(
          col("doc_id"),
          md5(array_join(slice(toks(col("text")), 1, 8), " ")).as("fp_prefix"),
          toks(col("text")).as("ws"))
        .select(col("doc_id"), col("fp_prefix"), explode(col("ws")).as("w"))
        .withColumn("th", conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType))
        .groupBy(col("doc_id"), col("fp_prefix"))
        .agg(bit_xor(col("th")).as("fp_xor"))
        .orderBy(col("doc_id")),
    Some("""
      WITH tok AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 1, 8),
                                   ' ')) AS fp_prefix,
               unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents)
      SELECT doc_id, fp_prefix,
             bit_xor(CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)) AS fp_xor
      FROM tok GROUP BY doc_id, fp_prefix ORDER BY doc_id""")
  )

  /** BPE-style pre-tokenization count — the GPT-2-ish pretokenizer
    * regex (space-attached word / number / punctuation runs) whose
    * match count approximates subword-token budgets far better than
    * whitespace splitting. Pure per-row regex, no shuffle.
    *
    * Unicode-correct: `\p{L}`/`\p{N}` character classes (letters and
    * digits of ANY script, not `[a-z0-9]`), supported identically by
    * Java regex (Spark) and RE2 (DuckDB) — parity verified on accented
    * and non-Latin input in TextOpsSpec. The pattern is passed as a
    * Column literal, not through `expr`, so no SQL-string escaping
    * layer touches the backslashes.
    */
  val textBpe = Q(
    "q_text_bpe",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          lsize(regexp_extract_all(
            col("text"),
            lit(" ?\\p{L}+| ?\\p{N}+| ?[^\\p{L}\\p{N} ]+"),
            lit(0))).as("n_bpe"),
          lsize(toks(col("text"))).as("n_ws"))
        // sort barrier (r20 audit): 0.41 -> 0.30s at sf0.1, the
        // q_pii_scrub shape — see that query's note
        .repartition(col("doc_id"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} ]+'))
                  AS BIGINT) AS n_bpe,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws
      FROM documents ORDER BY doc_id""")
  )

  /** Rolling (polynomial) hash fingerprint — Rabin-Karp style fold over
    * the UTF-8 BYTE stream: h = fold(h*31 + byte) mod 1e9+7. Byte-level
    * (not codepoint-level) so the fingerprint matches what a Rabin-Karp
    * chunker computes over raw files; multi-byte parity proven on
    * non-ASCII input in TextOpsSpec. Spark side runs the native
    * codegen'd [[graft.functions.RollingHash]] (one pass over the
    * bytes, zero per-byte allocation — the built-in hex/transform/
    * aggregate composition was the engine's slowest query at 7.9s on
    * sf0.1); the oracle folds the hex expansion of the same bytes,
    * two chars per pair — exact integer arithmetic, identical
    * left-to-right fold. Still a pure per-row expression, no shuffle.
    */
  val rollingHash = Q(
    "q_rolling_hash",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          expr("graft_roll(encode(text, 'UTF-8'))").as("fp_roll"))
        .orderBy(col("doc_id")),
    Some("""
      WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents)
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(hx) // 2 + 1),
                                i -> CAST(('0x' || substring(hx, 2*i-1, 2)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
      FROM h ORDER BY doc_id""")
  )

  /** Unicode text normalization — NFC canonical composition (native
    * codegen'd [[graft.functions.NfcNormalize]]), case-fold, whitespace
    * collapse: the preprocessing every cross-source dedup needs,
    * because "café" arrives composed from one crawler and decomposed
    * (e + combining acute) from another and the two hash apart without
    * it. Output is the normalized content hash + length (what the
    * dedup join consumes). Pure per-row expressions, no shuffle.
    * Composed/decomposed convergence is pinned in TextOpsSpec; the
    * oracle runs DuckDB's utf8proc `nfc_normalize` against the JDK
    * normalizer — two independent Unicode implementations must agree.
    */
  val textNormalize = Q(
    "q_text_normalize",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), normText(col("text")).as("norm_text"))
        .select(
          col("doc_id"),
          md5(col("norm_text")).as("norm_hash"),
          length(col("norm_text")).cast(LongType).as("norm_len"))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH n AS (
        SELECT doc_id, ${normTextSql("text")} AS norm_text
        FROM documents)
      SELECT doc_id, md5(norm_text) AS norm_hash,
             CAST(length(norm_text) AS BIGINT) AS norm_len
      FROM n ORDER BY doc_id""")
  )

  /** Stratified deterministic sampling — per-stratum rates (10% for
    * 'en', 30% for the tail languages) decided by a salted md5 of the
    * key, NOT rand(): the same doc is always in or out, so samples are
    * reproducible across runs/retries, train/eval splits never leak
    * when rerun, and downstream joins against the sample are stable.
    * Pure scan-side filter — no shuffle, no driver coordination — the
    * shape that samples 100 TB at scan speed. (Reservoir sampling is
    * the alternative when you need an exact count rather than a rate;
    * a rate + deterministic hash is the distributed-friendly default.)
    */
  val sampleStratified = Q(
    "q_sample_stratified",
    (s, dir) => {
      val rate = when(col("lang") === "en", lit(10)).otherwise(lit(30))
      t(s, dir, "documents")
        .filter(hashBucket("smp:", col("doc_id")) < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id, lang
      FROM documents
      WHERE ${hashBucketSql("smp:", "doc_id")}
            < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
      ORDER BY doc_id""")
  )

  /** Exact-count deterministic split — exactly k=20 docs per language
    * stratum, selected by ranking on a salted md5 of the key (a keyed
    * hash order IS a reproducible shuffle of the stratum). This is the
    * companion to [[sampleStratified]]: rate sampling when proportions
    * matter, exact-k when split sizes must be fixed (eval sets,
    * few-shot pools).
    *
    * TWO-PHASE grouped top-k (the TakeOrdered shape, group-wise): a
    * one-phase rank on `lang` funnels EVERY row of a dominant stratum
    * through one reducer — the scale killer at 100 TB. Phase 1 ranks
    * within (lang, 32-way deterministic subgroup) so the stratum
    * spreads over 32 reducers and each keeps only its local top-20;
    * phase 2 ranks the ≤ 20·32 survivors per stratum. Pruning is
    * lossless — a global top-20 row is top-20 in any subgroup
    * containing it — and the final rank uses the same total order
    * (md5 key, doc_id tiebreak), so results are identical to the
    * one-phase form (the oracle still runs it one-phase).
    */
  val sampleExactK = Q(
    "q_sample_exact_k",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w1 = Window.partitionBy(col("lang"), col("sub"))
        .orderBy(col("k"), col("doc_id"))
      val w2 = Window.partitionBy(col("lang"))
        .orderBy(col("k"), col("doc_id"))
      t(s, dir, "documents")
        .select(
          col("doc_id"), col("lang"),
          md5(concat(lit("k:"), col("doc_id").cast("string"))).as("k"),
          pmod(hash(col("doc_id")), lit(32)).as("sub"))
        .withColumn("rk1", row_number().over(w1))
        .filter(col("rk1") <= 20)
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= 20)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5('k:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT doc_id, lang FROM r WHERE rk <= 20 ORDER BY doc_id""")
  )

  /** End-to-end corpus curation — the complete pretraining-data
    * pipeline as ONE declarative query: NFC-normalize → exact-dedup on
    * the normalized hash (keep smallest doc_id) → quality filter
    * (length + stopword evidence) → deterministic 50% sample. This is
    * the flagship of the text surface: every stage is a per-row
    * expression except the single dedup aggregation, so the whole
    * curation of a 100 TB corpus is one scan + one hash shuffle —
    * Catalyst fuses the normalize/filter/sample projections into the
    * scan and the window never materializes intermediate corpora.
    */
  val curation = Q(
    "q_curation",
    (s, dir) => {
      val normed = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), normText(col("text")).as("norm_text"))
      val surviving = normed
        .withColumn("h", md5(col("norm_text")))
        .withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rk") === 1) // canonical survivor per content hash
        .filter(
          length(col("norm_text")) >= 50 &&
            lsize(filter(split(col("norm_text"), " "),
              w => w.isin("the", "a", "of", "and", "is"))) >= 1)
      surviving
        .filter(hashBucket("cur:", col("doc_id")) < 50)
        .select(col("doc_id"), col("lang"),
          length(col("norm_text")).cast(LongType).as("norm_len"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH normed AS (
        SELECT doc_id, lang, ${normTextSql("text")} AS norm_text
        FROM documents),
      ranked AS (
        SELECT doc_id, lang, norm_text,
               row_number() OVER (PARTITION BY md5(norm_text) ORDER BY doc_id) AS rk
        FROM normed),
      surviving AS (
        SELECT doc_id, lang, norm_text FROM ranked
        WHERE rk = 1
          AND length(norm_text) >= 50
          AND len(list_filter(string_split(norm_text, ' '),
                              w -> w IN ('the', 'a', 'of', 'and', 'is'))) >= 1)
      SELECT doc_id, lang, CAST(length(norm_text) AS BIGINT) AS norm_len
      FROM surviving
      WHERE ${hashBucketSql("cur:", "doc_id")} < 50
      ORDER BY doc_id""")
  )

  /** Email / phone patterns shared by the Spark plan and the oracle.
    * Conservative classes only ([A-Za-z0-9…], \d, \b) so Java regex and
    * DuckDB's RE2 agree on every match. Declared before [[piiScrub]]
    * (val-initialization order). */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrubbing — the redaction pass every pretraining pipeline runs
    * before anything else sees the text: emails and phone numbers are
    * counted and replaced with typed placeholder tokens. Pure per-row
    * projection (regexp_extract_all + regexp_replace, both codegen'd)
    * — zero shuffles before the final sort, linear at any corpus size.
    * The driver corpus is synthetic and PII-free (counts 0, text
    * unchanged — still hash-compared); TextOpsSpec plants real PII to
    * pin the redaction itself.
    */
  val piiScrub = Q(
    "q_pii_scrub",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          lsize(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
          lsize(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("text"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]")).as("scrub_hash"))
        // sort barrier (r20 sort-hazard audit): the range sampler
        // re-ran the 4-regex scan end to end; exchanging the narrow
        // (id + 3 ints + hash) output instead measured 0.64 -> 0.47s
        // at sf0.1 (SCALE.md §r20 — the expensive-map/narrow-output
        // shape, same family as q_text_stats/q_text_bpe/q_embed_quant)
        .repartition(col("doc_id"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
             md5(regexp_replace(regexp_replace(text, '$EmailRe', '[EMAIL]', 'g'),
                 '$PhoneRe', '[PHONE]', 'g')) AS scrub_hash
      FROM documents ORDER BY doc_id""")
  )

  /** Token-repetition profile — the Gopher-style repetition quality
    * signal (Rae et al. 2021 §A1.1: excessive duplicate words/phrases
    * mark low-quality documents): per-document token count, distinct
    * token count, and the highest single-token frequency. Integer
    * outputs only. One explode + two hash aggregations (map-side
    * combine shrinks the (doc, token) stream before either shuffle);
    * at 100 TB this is the same linear histogram shape as q_simhash.
    */
  val repetition = Q(
    "q_repetition",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_freq"))
        .orderBy(col("doc_id")),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      hist AS (
        SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_freq
      FROM hist GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Eval-set decontamination — flag corpus documents sharing any
    * 8-token n-gram with a held-out eval set (here: doc_id < 25 stands
    * in for the benchmark suite). THE deduplication-adjacent check
    * every serious training pipeline runs (e.g. GPT-3 §C, PaLM §D.2:
    * n-gram overlap against benchmarks).
    *
    * Scale shape — SINGLE SCAN, SKEW-BOUNDED: both gram sets derive
    * from the same `documents` table, so the gram stream is extracted
    * ONCE and eval membership becomes a per-gram flag (window `max`
    * over the gram key), not a second scan + broadcast join. The raw
    * occurrence stream is first reduced to DISTINCT (gram, doc) pairs
    * by a hash aggregate: its map-side partial combine removes
    * within-doc multiplicity BEFORE any exchange, and its shuffle key
    * (g, doc_id) is fine-grained — a hot boilerplate gram spreads
    * across reducers by doc. Only distinct pairs reach the flag
    * window, so the window partition for a gram holds df(g) rows
    * (its document frequency), never its raw occurrence count — the
    * r06 shape windowed raw occurrences and one hot 8-gram could pin
    * a whole partition (ADVICE r06). df-bounded residual skew is
    * inherent: eval semantics forbid a MaxShingleDf-style cap (a
    * boilerplate gram shared with eval still contaminates). Four
    * shuffles total: pair-distinct, gram flag window, per-doc count,
    * final sort — one more than r06, each over 16-byte md5 keys, and
    * the extra exchange carries the DEDUPED pair stream. When the
    * eval set is a genuinely separate small table, the broadcast-join
    * form wins instead — that shape lives in
    * [[graft.transform.RefCoreQueries.lookupEnrich]]. The synthetic
    * corpus shares no 8-grams across documents (0 rows — still
    * hash-compared); TextOpsSpec plants a contaminated doc to pin the
    * detection.
    */
  val contamination = Q(
    "q_contamination",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Distinct per (gram, doc): a doc repeating an eval gram counts
      // it once. Eval multiplicity never matters — the flag is 0/1
      // however many eval docs carry the gram.
      val pairs = ngrams(t(s, dir, "documents"), 8)
        .select(md5(col("g")).as("g"), col("doc_id"))
        .distinct()
      pairs
        .withColumn("has_eval",
          max(when(col("doc_id") < 25, 1).otherwise(0))
            .over(Window.partitionBy(col("g"))))
        .filter(col("has_eval") === 1 && col("doc_id") >= 25)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${ngramSql(8)},
      g2 AS (SELECT DISTINCT md5(g) AS g, doc_id FROM g1),
      w AS (
        SELECT doc_id,
               max(CASE WHEN doc_id < 25 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY g) AS has_eval
        FROM g2)
      SELECT doc_id, count(*) AS n_shared_grams
      FROM w WHERE has_eval = 1 AND doc_id >= 25
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Substring-level exact dedup — find every ≥20-token VERBATIM
    * passage shared across documents (the granularity of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better":
    * duplicated substrings, not just whole-document dups, drive
    * memorization). Doc-level exact ([[dedup]]), near-dup pairs and
    * clusters (similarity module) cover the other dedup modalities.
    *
    * Algorithm: a shared substring of L ≥ 20 tokens is exactly a run
    * of L-19 consecutive shared 20-grams at a CONSTANT position offset
    * — so (1) inventory hashed 20-grams with positions, (2) block on
    * the gram hash: ONE aggregation collects each gram's (doc, pos)
    * occurrence list (sorted, so ordered cross-doc pairs fall out of
    * nested HOF transforms — never a self-join of the gram stream),
    * capped at 50 occurrences to kill boilerplate grams (the
    * MaxShingleDf guard from the similarity module), (3) coalesce
    * pair hits into maximal runs with the classic islands trick
    * (pos − row_number per (pair, offset)), (4) one aggregate emits
    * each passage's start positions and token length.
    *
    * 100 TB shape: cost is Σ bucket² over gram buckets (≤ C(50,2)
    * each), never corpus²; singleton grams (the vast majority) die in
    * the aggregation. Three shuffles: gram agg, islands window, final
    * sort — the run aggregate reuses the window's (da, db, diff)
    * hash partitioning (subset clustering), budget-pinned. The
    * synthetic corpus shares no cross-doc 20-grams (0 rows — still
    * hash-compared); TextOpsSpec plants shared passages to pin run
    * coalescing, the 19-token negative, and within-doc repeats.
    */
  /** THE persisted passage-gram inventory (r16 verdict #6, adopted by
    * measurement r17 — SCALE.md): one row per word-n-gram OCCURRENCE
    * of the documents table, (doc_id, pos, gh = 16-byte md5 digest),
    * written once per (documents mtime+length, n) as a parquet table
    * BUCKETED ×64 on gh.
    * Measured at the 500k tier: the gram aggregation (tokenize →
    * 20-gram HOF → hash → 40M-row exchange → per-gram occurrence
    * lists) cost ~8.9s per invocation; the artifact writes in ~11s
    * once and the same aggregation reads it back with ZERO exchange
    * in ~1.6-2.1s. gh is the md5 DIGEST (unhex of the old hex string,
    * 16 bytes vs 32 chars): it is only ever a grouping key, so the
    * grouping sets — and every downstream row — are identical.
    * This is what an iterated substring-dedup pipeline (the Lee et
    * al. 2022 shape) persists between runs: the corpus's passage
    * inventory, rebuilt only when the corpus changes. */
  private def gramTable(s: org.apache.spark.sql.SparkSession,
      dir: String, n: Int): org.apache.spark.sql.DataFrame =
    ArtifactCache.sessionTable(s, s"grams$n", s"$dir/documents.parquet",
        ArtifactCache.Bucketed(64, Seq("gh"), sorted = false), s"grams$n-v1") {
      ngrams(Tables.t(s, dir, "documents"), n)
        .select(col("doc_id"), col("pos"), unhex(md5(col("g"))).as("gh"))
    }

  val substrDedup = Q(
    "q_substr_dedup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // occurrence inventory rides the persisted artifact (r17): the
      // per-gram grouping below runs with zero exchange off the
      // bucketed scan; results are bit-identical (gh only groups)
      val occ = gramTable(s, dir, 20)
      val pairs = occ
        .groupBy(col("gh"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("pos")))).as("os"))
        .filter(size(col("os")).between(2, 50))
        .select(explode(expr(
          """flatten(transform(os,
               (x, i) -> filter(
                 transform(slice(os, i + 2, size(os)),
                           y -> named_struct('da', x.doc_id, 'pa', x.pos,
                                             'db', y.doc_id, 'pb', y.pos)),
                 p -> p.da != p.db)))""")).as("p"))
        .select(col("p.da").as("da"), col("p.db").as("db"),
          col("p.pa").as("pa"), col("p.pb").as("pb"))
      val w = Window.partitionBy(col("da"), col("db"), col("diff"))
        .orderBy(col("pa"))
      pairs
        .withColumn("diff", col("pa") - col("pb"))
        .withColumn("grp", col("pa") - row_number().over(w))
        .groupBy(col("da"), col("db"), col("diff"), col("grp"))
        .agg(
          min(col("pa")).as("a_start"),
          min(col("pb")).as("b_start"),
          (count(lit(1)) + lit(19)).as("n_tokens"))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("a_start"), col("b_start"), col("n_tokens"))
        .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))
    },
    Some(s"""
      WITH ${ngramSql(20)},
      occ AS (SELECT doc_id, pos, md5(g) AS gh FROM g1),
      keep AS (SELECT gh FROM occ GROUP BY gh HAVING count(*) BETWEEN 2 AND 50),
      pr AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        FROM occ a
        JOIN occ b ON a.gh = b.gh AND a.doc_id < b.doc_id
        JOIN keep k ON k.gh = a.gh),
      runs AS (
        SELECT da, db, pa - pb AS diff, pa, pb,
               pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp
        FROM pr)
      SELECT da AS doc_a, db AS doc_b,
             CAST(min(pa) AS BIGINT) AS a_start,
             CAST(min(pb) AS BIGINT) AS b_start,
             CAST(count(*) + 19 AS BIGINT) AS n_tokens
      FROM runs GROUP BY da, db, diff, grp
      ORDER BY doc_a, doc_b, a_start, b_start""")
  )

  /** Sequence packing — assign documents to fixed-capacity training
    * context windows (cap 2048 tokens), the step that turns a curated
    * corpus into dense training sequences. Docs pack by greedy
    * concatenation in deterministic (shard, doc_id) order; a doc's
    * window is the one its FIRST token lands in (concatenation packing
    * — docs may span a boundary, standard for decoder pretraining).
    *
    * Packing is inherently sequential, so at scale it SHARDS: the
    * 8-way deterministic md5 shard is the unit of parallelism (at
    * 100 TB you raise the shard count to the cluster's width), and the
    * cumulative-sum window runs per shard — no global single-reducer
    * ordering anywhere. Integer-only outputs; `div` floor-division
    * matches the oracle's `//` on the non-negative offsets.
    */
  val pack = Q(
    "q_pack",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          hashBucket("pk:", col("doc_id"), 8).as("shard"),
          lsize(toks(col("text"))).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(
          col("doc_id"), col("shard"), col("n_tokens"),
          expr("(cum - n_tokens) div 2048").as("pack_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
               ${hashBucketSql("pk:", "doc_id", 8)} AS shard,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM d)
      SELECT doc_id, shard, n_tokens,
             CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
      FROM c ORDER BY doc_id""")
  )

  /** Corpus vocabulary statistics — per-token document frequency and
    * total occurrence count, top 100 by (df, occurrences, token): the
    * precursor to tokenizer training and vocab pruning. Two-level
    * aggregation (per-(token, doc) counts first) so the final shuffle
    * carries one row per (token, doc), with map-side combine shrinking
    * the exploded token stream before either exchange; the ordered
    * limit plans as TakeOrdered — no global sort materializes. Unique
    * token in the sort key keeps the top-100 deterministic.
    */
  val vocab = Q(
    "q_vocab",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .groupBy(col("w"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("w"))
        .agg(sum(col("c")).as("n_occurrences"), count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("n_occurrences").desc, col("w"))
        .limit(100),
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      perdoc AS (
        SELECT w, doc_id, count(*) AS c FROM tok GROUP BY w, doc_id)
      SELECT w, CAST(sum(c) AS BIGINT) AS n_occurrences, count(*) AS df
      FROM perdoc GROUP BY w
      ORDER BY df DESC, n_occurrences DESC, w LIMIT 100""")
  )

  /** Corpus-LM quality scoring, integer-exact — the train-then-score
    * shape of model-based filtering (the KenLM/CCNet pattern) as pure
    * dataflow: "training" is one aggregation building the corpus bigram
    * table, scoring joins every document's bigrams back against it.
    * A doc whose bigrams are rare in the corpus (low familiarity mass,
    * low rarest-bigram count) is an outlier the quality gate flags.
    * Outputs stay integers (occurrence counts, not log-probs) so the
    * oracle compare is exact — a real deployment maps counts to
    * smoothed log-probs in the consumer.
    *
    * Scale shape: bigram extraction is a map-side HOF expression,
    * immediately collapsed to per-(doc, bigram) COUNTS so repeated
    * bigrams (the norm in web text) shuffle once per distinct bigram
    * per doc, not once per occurrence — the same two-level
    * map-side-combine shape as [[repetition]] and [[vocab]]. The model
    * derives from that same aggregate (one pass over raw occurrences
    * total); scoring is a linear equi-join on the bigram key — every
    * probe row matches exactly one model row — plus a per-doc
    * re-aggregation over exact integer weights.
    */
  val bigramScore = Q(
    "q_bigram_score",
    (s, dir) => {
      val perDoc = ngrams(t(s, dir, "documents"), 2)
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("k"))
      val model = perDoc.groupBy(col("g")).agg(sum(col("k")).as("c"))
      perDoc
        .join(model, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("k")).as("n_bigrams"),
          sum(col("k") * col("c")).as("familiarity"),
          min(col("c")).as("rarest"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${ngramSql(2)},
      perdoc AS (SELECT doc_id, g, count(*) AS k FROM g1 GROUP BY doc_id, g),
      model AS (SELECT g, CAST(sum(k) AS BIGINT) AS c FROM perdoc GROUP BY g)
      SELECT p.doc_id,
             CAST(sum(p.k) AS BIGINT) AS n_bigrams,
             CAST(sum(p.k * m.c) AS BIGINT) AS familiarity,
             CAST(min(m.c) AS BIGINT) AS rarest
      FROM perdoc p JOIN model m ON p.g = m.g
      GROUP BY p.doc_id ORDER BY p.doc_id""")
  )

  /** TF-IDF top terms per document — the classic relevance/keyword
    * signal (salient-term extraction, topic tagging, quality
    * filtering by informativeness). score = tf · ln(N/df), top 5 per
    * doc.
    *
    * Scale shape (r13 verdict #2 rework — the old plan was the only
    * >10× sf1 breadth ratio at 10.2s): the token stream is hash-
    * repartitioned by TERM once, and everything term-keyed rides that
    * single exchange — the (doc, term) tf aggregate (HashPartitioning
    * on term satisfies the agg's ClusteredDistribution on
    * {doc_id, term}, so Catalyst plans NO second exchange) and the df
    * census, which folds into a `count(*) over (partition by term)`
    * window on the aggregated rows instead of a separate vocab-sized
    * aggregate joined back (the join and its exchange disappear; tf
    * rows are (doc, term)-unique, so the window count IS the document
    * frequency). The corpus size N is a 1-row metadata-only count
    * broadcast into the score expression. Top-5 per doc is
    * rank-filtered, so the doc-keyed window prunes before the final
    * sort. Total: two data exchanges (term, doc) + the output range
    * sort, vs four (doc+term agg, term df agg, join, doc window).
    * The term repartition moves RAW tokens (no map-side combine) —
    * measured both orders at the 50k-doc sf1 tier: raw-then-agg
    * 2.75s, agg-then-repartition 2.76s (combine saves nothing here
    * because tf ≈ 1 for almost every (doc, term) pair), and the old
    * join plan 10.2s — a 3.7× win, identical hashes (BASELINE.md
    * §r14). At sf0.1's fixed 500-doc corpus the extra window stage
    * costs ~0.3s of fixed overhead (0.97s vs the 0.66s min-ratchet
    * budget, inside the 2× gate) — the right trade for the tier
    * where the query actually costs something.
    * Cross-engine: the score is 6dp-rounded BEFORE ranking and
    * the tiebreak is (score DESC, term ASC), so Spark's Math.log vs
    * DuckDB's ln can only disagree if two terms' unrounded scores
    * straddle the same half-ulp-of-1e-6 boundary — and ties on the
    * ROUNDED score resolve by term on both sides.
    */
  val tfidf = Q(
    "q_tfidf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .repartition(col("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val n = docs.groupBy().agg(count(lit(1)).as("n"))
      val scored = tf
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("term"))))
        .crossJoin(broadcast(n))
        .withColumn("score_r",
          round(col("tf") * log(col("n") * lit(1.0) / col("df")), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_r").desc, col("term"))
      scored
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score_r"), col("rn"))
        .orderBy(col("doc_id"), col("rn"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM documents),
      s AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
               round(t.tf * ln(nn.n * 1.0 / d.df), 6) AS score_r
        FROM tf t JOIN df d USING (term) CROSS JOIN nn),
      r AS (
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
               score_r,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_r DESC, term) AS rn
        FROM s)
      SELECT doc_id, term, tf, df, score_r, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 5 ORDER BY doc_id, rn""")
  )

  /** Token-entropy quality signal — Shannon entropy of each document's
    * unigram distribution, the standard gibberish/boilerplate filter
    * axis (low entropy = repeated tokens, high = diverse vocabulary;
    * used alongside the Gopher-style [[repetition]] profile).
    *
    * Determinism: entropy is computed as ln(n) − (Σ k·ln k)/n, so the
    * floating sum ranges over PER-TERM contributions that are rounded
    * to 9dp and summed in DECIMAL — aggregation order (Spark partials
    * vs DuckDB) cannot perturb the result; only the final value is
    * rounded to 6dp. Scale shape: one (doc, term) hash aggregate with
    * map-side combine, then one per-doc aggregate that rides the same
    * doc-hashable stream — 3 shuffles including the sort, no window.
    */
  val entropy = Q(
    "q_entropy",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("k"))
      tf.groupBy(col("doc_id"))
        .agg(
          sum(col("k")).as("n_tokens"),
          count(lit(1)).as("n_terms"),
          sum(round(col("k") * log(col("k")), 9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9))).as("s"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_terms"),
          round(log(col("n_tokens")) -
            col("s").cast(org.apache.spark.sql.types.DoubleType) / col("n_tokens"),
            6).as("entropy_r"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS k FROM tok GROUP BY 1, 2),
      agg AS (
        SELECT doc_id,
               CAST(sum(k) AS BIGINT) AS n_tokens,
               count(*) AS n_terms,
               sum(CAST(round(k * ln(k), 9) AS DECIMAL(18,9))) AS s
        FROM tf GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_terms,
             round(ln(n_tokens) - CAST(s AS DOUBLE) / n_tokens, 6) AS entropy_r
      FROM agg ORDER BY doc_id""")
  )

  /** Fixed-window document chunking with overlap — the RAG/embedding
    * ingestion step: 64-token chunks on a 48-token stride (16-token
    * overlap so no boundary sentence is lost), each chunk carrying its
    * position and a content hash ready for the embedding/indexing
    * stage. PURE MAP-SIDE: tokenize once, generate chunk starts with
    * `sequence`, slice + hash per chunk — zero shuffles before the
    * final sort; chunking 100 TB is embarrassingly parallel. Chunk
    * count is the integer closed form 1 + ceil(max(n-64,0)/48) on both
    * engines (div arithmetic, no floats). Empty docs produce no
    * chunks.
    */
  val chunk = Q(
    "q_chunk",
    (s, dir) => {
      val ws = toks(col("text"))
      val nChunks = when(size(ws) > 0,
        lit(1) + floor((greatest(size(ws) - 64, lit(0)) + 47) / 48).cast("int"))
        .otherwise(lit(0))
      t(s, dir, "documents")
        .select(col("doc_id"), ws.as("w"), nChunks.as("nc"))
        .select(col("doc_id"), col("w"),
          posexplode(
            when(col("nc") > 0, sequence(lit(0), col("nc") - 1))
              .otherwise(array().cast("array<int>"))))
        .select(
          col("doc_id"),
          col("col").cast(LongType).as("chunk_idx"),
          (col("col") * 48 + 1).cast(LongType).as("start_tok"),
          least(lit(64), size(col("w")) - col("col") * 48)
            .cast(LongType).as("n_toks"),
          md5(concat_ws(" ", slice(col("w"), col("col") * 48 + 1, lit(64))))
            .as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
               CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
                    THEN 1 + (greatest(len(string_split_regex(trim(text), '\s+')) - 64, 0) + 47) // 48
                    ELSE 0 END AS nc
        FROM documents),
      c AS (
        SELECT doc_id, w, unnest(range(nc)) AS i FROM d WHERE nc > 0)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             CAST(i * 48 + 1 AS BIGINT) AS start_tok,
             CAST(least(64, len(w) - i * 48) AS BIGINT) AS n_toks,
             md5(array_to_string(w[i * 48 + 1 : i * 48 + 64], ' ')) AS chunk_hash
      FROM c ORDER BY doc_id, chunk_idx""")
  )

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS
    * algorithm) — positional local sampling of k-gram hashes: the
    * minimum hash of every w consecutive grams is selected, giving the
    * guarantee that any shared run of ≥ k+w-1 tokens contributes at
    * least one COMMON fingerprint, at ~2/(w+1) sampling density. The
    * plagiarism/near-dup fingerprint family member beside the global
    * MinHash ([[graft.similarity.NearDupQueries.minhashLsh]]) and
    * the content-defined rolling hash ([[rollingHash]]).
    *
    * Shape: gram hashes are map-side (15-hex-digit md5 prefix →
    * BIGINT, reproducible cross-engine); the per-doc sliding min is a
    * rows-frame window; the distinct-fingerprint census rides the SAME
    * doc-hash exchange (groupBy(doc_id) after the doc-partitioned
    * window). Windows are per-document — bounded by doc length, no
    * corpus-wide skew key exists.
    */
  val winnow = Q(
    "q_winnow",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hashed = ngrams(t(s, dir, "documents"), 5)
        .select(col("doc_id"), col("pos"),
          conv(substring(md5(col("g")), 1, 15), 16, 10)
            .cast(LongType).as("h"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, 3)
      val nw = Window.partitionBy(col("doc_id"))
      hashed
        .withColumn("mh", min(col("h")).over(w))
        .withColumn("maxpos", max(col("pos")).over(nw))
        .filter(col("pos") <= col("maxpos") - 3) // full windows only
        .groupBy(col("doc_id"))
        .agg(
          countDistinct(col("mh")).as("n_fp"),
          // XOR, not sum: 60-bit hashes summed over a long doc overflow
          // BIGINT under ANSI; xor is order-independent and width-stable.
          expr("bit_xor(DISTINCT mh)").as("fp_xor"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${ngramSql(5)},
      h AS (
        SELECT doc_id, pos,
               CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h
        FROM g1),
      m AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
               max(pos) OVER (PARTITION BY doc_id) AS maxpos
        FROM h)
      SELECT doc_id,
             CAST(count(DISTINCT mh) AS BIGINT) AS n_fp,
             CAST(bit_xor(DISTINCT mh) AS BIGINT) AS fp_xor
      FROM m WHERE pos <= maxpos - 3
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** One BPE oracle iteration (CTE suffix `$k` over word table
    * `w${k - 1}`): adjacent symbol pairs weighted by word count, the
    * argmax pair (count DESC, pair ASC — the deterministic tiebreak),
    * and the merged word table. Twin of one [[bpeTrain]] round. */
  /** Oracle twin of the encoder's k-th merge application over the
    * per-document symbol frame `d{k-1}` → `d{k}` (same double-replace
    * as [[bpeIterSql]]'s word-count update). */
  private def bpeApplySql(k: Int): String = {
    val pat = s"' ' || (SELECT pair FROM t$k) || ' '"
    val rep = s"' ' || (SELECT merged FROM t$k) || ' '"
    s"""d$k AS (
        SELECT doc_id,
               trim(replace(replace(' ' || sym || ' ', $pat, $rep), $pat, $rep))
                 AS sym
        FROM d${k - 1})"""
  }

  /** DuckDB-only CTE text (the Spark side is the DataFrame trainer):
    * `t$k`/`w$k` are MATERIALIZED because each iteration references
    * its predecessor several times (the word table once, the trained
    * pair twice per replace) — default inlining re-expands the whole
    * chain per reference, going exponential in the merge count (the
    * 8-merge chain exhausted file handles re-opening the parquet
    * thousands of times); materializing evaluates each iteration
    * once, which is also exactly what the Spark side's lazy
    * checkpoints do. */
  private def bpeIterSql(k: Int): String = {
    val prev = s"w${k - 1}"
    val pat = s"' ' || (SELECT pair FROM t$k) || ' '"
    val rep = s"' ' || (SELECT merged FROM t$k) || ' '"
    s"""s$k AS (SELECT sym, cnt, string_split(sym, ' ') AS l FROM $prev),
      p$k AS (
        SELECT cnt, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        FROM s$k),
      c$k AS (
        SELECT struct_extract(z, 1) || ' ' || struct_extract(z, 2) AS pair,
               CAST(sum(cnt) AS BIGINT) AS c
        FROM p$k GROUP BY 1),
      t$k AS MATERIALIZED (
        SELECT CAST($k AS BIGINT) AS it, pair, replace(pair, ' ', '') AS merged, c
        FROM c$k ORDER BY c DESC, pair LIMIT 1),
      w$k AS MATERIALIZED (
        SELECT trim(replace(replace(' ' || sym || ' ', $pat, $rep), $pat, $rep))
                 AS sym,
               cnt
        FROM $prev)"""
  }

  /** BPE merge learning — the first [[BpeTrainMerges]] merge rules of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016), as
    * pure dataflow: count adjacent symbol pairs weighted by word
    * frequency, take the argmax, rewrite the vocabulary with the
    * merged symbol, repeat. Emits the learned merge table (iteration,
    * pair, merged symbol, weighted count) — the artifact a tokenizer
    * ships. The merge count is a parameter of [[bpeTops]] (r09
    * verdict #7), not a structural limit.
    *
    * Scale shape — THE reason BPE training is tractable at 100 TB:
    * after one corpus-wide word-count aggregation, every iteration
    * operates on the DISTINCT-WORD table (vocab-sized, millions of
    * rows at web scale — not the corpus), so k iterations are k
    * vocab-sized aggregations plus a 1-row broadcast argmax each,
    * with the loop state lazily checkpointed so plans stay
    * constant-size at any k. The merge rewrite is a per-row string
    * replace against the broadcast winning pair. The sf40 BPE floor
    * compares merges=4 vs merges=8 at 40× to pin that iterations are
    * vocab-sized, not corpus-sized.
    *
    * Cross-engine exactness: the argmax tiebreak is (count DESC, pair
    * ASC) on both sides; the merge applies via space-delimited literal
    * replace run TWICE, because both engines' replace scans
    * left-to-right consuming the shared delimiter — one pass misses
    * every second merge site in a run of identical symbols (" a a a a "
    * → " aa a a "), the second pass catches it (→ " aa aa "; verified
    * identical in Spark's UTF8String.replace and DuckDB). Runs of 5+
    * identical mergeable symbols would need a third pass — accepted
    * approximation, identical on both engines, pinned by a
    * planted-run unit test.
    */
  /** One BPE merge application: double-replace (overlapping runs need
    * two passes — pinned by the planted-run test) of ` pair ` with
    * ` merged ` inside the space-padded symbol string. Shared by the
    * trainer (over word counts) and the encoder (over documents). */
  private def bpeReplace(symCol: Column): Column = {
    val pat = concat(lit(" "), col("pair"), lit(" "))
    val rep = concat(lit(" "), col("merged"), lit(" "))
    val once = call_function("replace",
      concat(lit(" "), symCol, lit(" ")), pat, rep)
    trim(call_function("replace", once, pat, rep))
  }

  /** Merge count the TRAINER demo registers (oracle CTE chain depth).
    * Real tokenizer training runs tens of thousands of merges; the
    * per-iteration cost here is already the production shape
    * (vocab-sized, see [[bpeTops]]), so the count is a parameter, not
    * a structural limit — the sf40 BPE floor pins that. */
  private[graft] val BpeTrainMerges = 8

  /** The first `merges` trained merges, one single-row frame each
    * (it, pair, merged, c) — shared by [[bpeTrain]] (full depth) and
    * [[bpeApply]] (first 3: merge application is prefix-composable,
    * so an encoder may apply any prefix of the merge table). The
    * word-count frame is lazily checkpointed each iteration, so the
    * plan stays constant-size at ANY merge count (the q_pagerank
    * loop idiom) and each iteration is exactly one vocab-sized pair
    * aggregation + a 1-row argmax + a broadcast rewrite — per-
    * iteration cost scales with the vocabulary, never the corpus,
    * which is what makes 30k-merge production training tractable:
    * the corpus is touched once, by the initial word count. */
  private def bpeTops(
      s: org.apache.spark.sql.SparkSession, dir: String,
      merges: Int = 3): Seq[org.apache.spark.sql.DataFrame] = {
    val syms0 = t(s, dir, "documents")
      .select(explode(toks(col("text"))).as("word"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("sym"))
      .groupBy(col("sym")).agg(count(lit(1)).as("cnt"))
    def pairCounts(wc: org.apache.spark.sql.DataFrame) = {
      val l = split(col("sym"), " ")
      wc.select(col("cnt"),
          explode(
            when(size(l) >= 2,
              transform(sequence(lit(0), size(l) - 2),
                i => concat(element_at(l, i + 1), lit(" "), element_at(l, i + 2))))
              .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
    }
    def argmax(pc: org.apache.spark.sql.DataFrame, it: Int) =
      pc.orderBy(col("c").desc, col("pair")).limit(1)
        .select(lit(it.toLong).as("it"), col("pair"),
          call_function("replace", col("pair"), lit(" "), lit("")).as("merged"),
          col("c"))
    var wc = syms0.localCheckpoint(false)
    (1 to merges).map { it =>
      val top = argmax(pairCounts(wc), it).localCheckpoint(false)
      wc = wc.crossJoin(broadcast(top.select(col("pair"), col("merged"))))
        .select(bpeReplace(col("sym")).as("sym"), col("cnt"))
        .localCheckpoint(false)
      top
    }
  }

  /** The trainer at an arbitrary merge depth — the sf40 BPE floor's
    * marginal-per-iteration probe. */
  private[graft] def bpeTrainPlan(
      s: org.apache.spark.sql.SparkSession, dir: String,
      merges: Int): org.apache.spark.sql.DataFrame =
    bpeTops(s, dir, merges).reduce(_ unionAll _)
      // sort barrier (r20 sort-hazard audit): 1.83 -> 1.67s at sf0.1 —
      // the sampler's extra pass over the checkpointed tops is pure
      // scheduling overhead for a merges-row frame
      .repartition(col("it"))
      .orderBy(col("it"))

  val bpeTrain = Q(
    "q_bpe_train",
    (s, dir) => bpeTrainPlan(s, dir, BpeTrainMerges),
    Some(s"""
      WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents),
      w0 AS (
        SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym,
               count(*) AS cnt
        FROM tok GROUP BY 1),
      ${(1 to BpeTrainMerges).map(bpeIterSql).mkString(",\n      ")}
      ${(1 to BpeTrainMerges).map(k => s"SELECT * FROM t$k")
        .mkString("", " UNION ALL ", "")}
      ORDER BY it""")
  )

  /** BPE ENCODE — the apply side of [[bpeTrain]], closing the
    * train→tokenize loop: run the 3 learned merges over every
    * document (same double-replace, per word) and report the encoded
    * token count next to the character count — the compression a
    * tokenizer buys. Each merge is a single-row broadcast (the
    * trained model IS the dimension table); the per-doc symbol frame
    * is map-side between the tokenize explode and the final per-doc
    * aggregate. Trained merges are checkpointed one-row frames so the
    * training lineage runs once, not once per downstream reference.
    */
  val bpeApply = Q(
    "q_bpe_apply",
    (s, dir) => {
      val tops = bpeTops(s, dir).map(_.localCheckpoint(true))
      var d = t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("word"))
        .select(col("doc_id"),
          trim(regexp_replace(col("word"), "(.)", "$1 ")).as("sym"))
      for (top <- tops)
        d = d.crossJoin(broadcast(top.select(col("pair"), col("merged"))))
          .select(col("doc_id"), bpeReplace(col("sym")).as("sym"))
      d.groupBy(col("doc_id"))
        .agg(sum(lsize(split(col("sym"), " "))).as("n_bpe_tokens"),
          count(lit(1)).as("n_words"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents),
      w0 AS (
        SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym,
               count(*) AS cnt
        FROM tok GROUP BY 1),
      ${bpeIterSql(1)},
      ${bpeIterSql(2)},
      ${bpeIterSql(3)},
      d0 AS (
        SELECT doc_id,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM documents)),
      ${bpeApplySql(1)},
      ${bpeApplySql(2)},
      ${bpeApplySql(3)}
      SELECT doc_id,
             CAST(sum(len(string_split(sym, ' '))) AS BIGINT) AS n_bpe_tokens,
             count(*) AS n_words
      FROM d3 GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Domain-weighted mixture sampling — the static data-mix step every
    * LLM pretraining corpus goes through (The Pile / LLaMA-style
    * per-source weights): a WEIGHTS TABLE drives per-source keep
    * rates, sampling is the deterministic salted-md5 bucket (same
    * primitive as [[sampleStratified]], which hard-codes literal
    * per-lang rates — this is the table-driven twin), and the output
    * is the achieved-mix report (kept vs total per source, with an
    * id-sum checksum pinning WHICH docs were kept, not just how
    * many).
    *
    * Scale shape: the weights dim is broadcast (it is per-source —
    * dozens of rows at any corpus size), the keep decision is
    * scan-side, and the report is one hash aggregate — the corpus
    * never shuffles unsampled. Unknown sources default to rate 10 via
    * the left-join coalesce, so a new upstream source degrades to a
    * trickle instead of vanishing or flooding.
    */
  val mixSample = Q(
    "q_mix_sample",
    (s, dir) => {
      import s.implicits._
      val weights = Seq(("src0", 50L), ("src1", 40L), ("src2", 25L))
        .toDF("source", "rate")
      val kept = hashBucket("mix:", col("doc_id")) < col("rate")
      t(s, dir, "documents")
        .join(broadcast(weights), Seq("source"), "left")
        .withColumn("rate", coalesce(col("rate"), lit(10L)))
        .groupBy(col("source"), col("rate"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(kept, col("doc_id"))), lit(0L)).as("kept_id_sum"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH w AS (
        SELECT * FROM (VALUES ('src0', 50), ('src1', 40), ('src2', 25))
          t(source, rate)),
      d AS (
        SELECT doc_id, d.source, COALESCE(w.rate, 10) AS rate,
               ${hashBucketSql("mix:", "doc_id")} < COALESCE(w.rate, 10) AS kept
        FROM documents d LEFT JOIN w ON d.source = w.source)
      SELECT source, CAST(rate AS BIGINT) AS rate,
             count(*) AS n_total,
             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             COALESCE(CAST(sum(CASE WHEN kept THEN doc_id END) AS BIGINT), 0)
               AS kept_id_sum
      FROM d GROUP BY source, rate ORDER BY source""")
  )

  /** fastText-shaped linear quality classifier: hashed bag-of-words
    * features with a fixed (hash-derived, deterministic) weight table,
    * mean-pooled into a per-document score — the CCNet/fastText "keep
    * or drop" gate as pure dataflow. Per-token weights are INTEGERS in
    * [-1000, 1000] (md5-hash mod), so the pooled sum is an exact
    * BIGINT — order-independent at any parallelism — and only the
    * final mean touches doubles. The mean itself is rounded to 3 dp in
    * PURE INTEGER arithmetic — half-up = ⌊(2s+n)/(2n)⌋, where the
    * intermediate double quotient is a ratio of exactly-representable
    * integers whose distance from the nearest integer is ≥ 1/(2n) ≫
    * one ulp — so no engine-specific decimal `round` semantics ever
    * touch a midpoint (the 6-dp `round(double)` idiom lost a row to
    * exactly that on this dataset). The keep/drop label cuts on the
    * same integer. Shape: token explode is map-side; ONE hash
    * aggregation per doc. (A trained model would broadcast its real
    * weight table in place of the hash — identical plan, different
    * dimension table.)
    */
  /** The classifier core as a frame (doc_id, n_tokens, score_milli) —
    * shared by [[qualityClf]] and the near-dup canonicalizer
    * (NearDupQueries.dedupKeepBest). */
  private[graft] def clfScores(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("w0"))
      .select(col("doc_id"), lower(col("w0")).as("w"))
      .withColumn("wt",
        (conv(substring(md5(col("w")), 1, 6), 16, 10)
          .cast(org.apache.spark.sql.types.IntegerType) % 2001 - 1000)
          .cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("s"))
      .withColumn("score_milli",
        floor((col("s") * 2 + col("n_tokens")) / (col("n_tokens") * 2)))

  /** Oracle twin of [[clfScores]]: CTE names are `c`-prefixed so the
    * chain composes with the similarity module's shingle/minhash CTEs
    * without collisions; yields `sc(doc_id, n_tokens, score_milli)`. */
  private[graft] val clfSqlCtes: String = """ctok0 AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w0
        FROM documents),
      ctok AS (SELECT doc_id, lower(w0) AS w FROM ctok0),
      cwt AS (
        SELECT doc_id,
               CAST(CAST('0x' || substring(md5(w), 1, 6) AS INTEGER) % 2001
                    - 1000 AS BIGINT) AS wt
        FROM ctok),
      cagg AS (
        SELECT doc_id, count(*) AS n_tokens, CAST(sum(wt) AS BIGINT) AS s
        FROM cwt GROUP BY 1),
      sc AS (
        SELECT doc_id, n_tokens,
               CAST(floor((s * 2 + n_tokens) / (n_tokens * 2)) AS BIGINT)
                 AS score_milli
        FROM cagg)"""

  val qualityClf = Q(
    "q_quality_clf",
    (s, dir) =>
      clfScores(s, dir)
        .select(col("doc_id"), col("n_tokens"),
          (col("score_milli").cast("double") / lit(1000.0)).as("score_r"),
          when(col("score_milli") > 0, lit(1L)).otherwise(lit(0L)).as("label"))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $clfSqlCtes
      SELECT doc_id, n_tokens,
             CAST(score_milli AS DOUBLE) / CAST(1000 AS DOUBLE) AS score_r,
             CAST(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
      FROM sc ORDER BY doc_id""")
  )

  /** PMI collocations — the corpus-statistics op behind phrase mining
    * and tokenizer-merge candidates: pointwise mutual information of
    * adjacent word pairs, ln((c_xy/N₂)/((c_x/N₁)(c_y/N₁))), support
    * ≥ 5, top-25. Reuses the shared [[ngrams]] extraction (n=2) so
    * bigrams can never drift from the other n-gram ops. All counts
    * aggregate before any join — the joins carry vocabulary-sized
    * frames, and the two scalar totals ride along as broadcast rows.
    * PMI arithmetic is a fixed textual order of double ops + 6-dp
    * round (transcendental values can't sit on round midpoints, unlike
    * rational scores — see qualityClf).
    */
  val colloc = Q(
    "q_colloc",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val bi = ngrams(docs, 2).select(col("g"))
      val bc = bi.groupBy(col("g")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
        .withColumn("x", split(col("g"), " ").getItem(0))
        .withColumn("y", split(col("g"), " ").getItem(1))
      val tok = docs.select(explode(toks(col("text"))).as("w"))
      val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nb = bi.groupBy().agg(count(lit(1)).as("n_bi"))
      val nu = tok.groupBy().agg(count(lit(1)).as("n_uni"))
      val ux = uni.select(col("w").as("x"), col("c").as("c_x"))
      val uy = uni.select(col("w").as("y"), col("c").as("c_y"))
      bc.join(ux, Seq("x")).join(uy, Seq("y"))
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .select(col("g"), col("c_xy"),
          round(log((col("c_xy") * lit(1.0) * col("n_uni") * col("n_uni"))
            / (col("n_bi") * lit(1.0) * col("c_x") * col("c_y"))), 6)
            .as("pmi_r"))
        .orderBy(col("pmi_r").desc, col("g"))
        .limit(25)
    },
    Some(s"""
      WITH ${ngramSql(2)},
      bc0 AS (SELECT g, count(*) AS c_xy FROM g1 GROUP BY g),
      bc AS (
        SELECT g, c_xy,
               string_split(g, ' ')[1] AS x, string_split(g, ' ')[2] AS y
        FROM bc0 WHERE c_xy >= 5),
      uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      nb AS (SELECT count(*) AS n_bi FROM g1),
      nu AS (SELECT count(*) AS n_uni FROM tok)
      SELECT g, CAST(c_xy AS BIGINT) AS c_xy,
             round(ln((c_xy * CAST(1 AS DOUBLE) * n_uni * n_uni)
                      / (n_bi * CAST(1 AS DOUBLE) * cx.c * cy.c)), 6) AS pmi_r
      FROM bc JOIN uni cx ON bc.x = cx.w JOIN uni cy ON bc.y = cy.w
      CROSS JOIN nb CROSS JOIN nu
      ORDER BY pmi_r DESC, g LIMIT 25""")
  )

  /** Count-Min sketch (d=2 rows × w=256 buckets) — the mergeable
    * heavy-hitter sketch every streaming/telemetry pipeline carries:
    * per-row bucket counts are plain hash aggregations (the sketch IS
    * a groupBy, so it merges across partitions/executors for free),
    * and a term's estimate is the min over its d bucket counters —
    * always ≥ the true count, exactly (one-sided error, pinned in
    * TextOpsSpec). Unlike HLL the whole thing is deterministic
    * integer arithmetic, so the DuckDB oracle verifies it exactly.
    * The 512-row sketch is broadcast back onto the exact top-20 for
    * the error report; at 100 TB the sketch size is unchanged.
    */
  /** Count-Min bucket for hash row `j` — md5-derived, 256-wide. */
  private[graft] def cmBucket(j: Int, c: Column): Column =
    (conv(substring(md5(concat(lit(s"cm$j:"), c)), 1, 6), 16, 10)
      .cast("int") % 256).cast(LongType)

  /** The (j, b, c) Count-Min matrix over a token frame — factored so
    * TextOpsSpec can prove the RE-AGGREGATION property that makes the
    * sketch useful at 100 TB: counters are linear, so per-day (or
    * per-partition, per-datacenter) partial sketches merged by
    * cell-wise addition equal the one-shot sketch exactly. */
  private[graft] def cmSketch(
      tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tok
      .select(explode(array(
        struct(lit(1).as("j"), cmBucket(1, col("w")).as("b")),
        struct(lit(2).as("j"), cmBucket(2, col("w")).as("b")))).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))

  val countMin = Q(
    "q_countmin",
    (s, dir) => {
      val tok = t(s, dir, "documents").select(explode(toks(col("text"))).as("w"))
      def bkt(j: Int, c: Column): Column = cmBucket(j, c)
      val sketch = cmSketch(tok)
      val top = tok.groupBy(col("w")).agg(count(lit(1)).as("true_c"))
        .orderBy(col("true_c").desc, col("w")).limit(20)
      val s1 = sketch.filter(col("j") === 1)
        .select(col("b").as("b1"), col("c").as("c1"))
      val s2 = sketch.filter(col("j") === 2)
        .select(col("b").as("b2"), col("c").as("c2"))
      top
        .withColumn("b1", bkt(1, col("w")))
        .withColumn("b2", bkt(2, col("w")))
        .join(broadcast(s1), Seq("b1")).join(broadcast(s2), Seq("b2"))
        .select(col("w"), col("true_c"),
          least(col("c1"), col("c2")).as("est_c"))
        .orderBy(col("true_c").desc, col("w"))
    },
    Some("""
      WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      b AS (
        SELECT w,
               CAST(CAST('0x' || substring(md5('cm1:' || w), 1, 6) AS INTEGER)
                    % 256 AS BIGINT) AS b1,
               CAST(CAST('0x' || substring(md5('cm2:' || w), 1, 6) AS INTEGER)
                    % 256 AS BIGINT) AS b2
        FROM tok),
      s1 AS (SELECT b1, count(*) AS c1 FROM b GROUP BY 1),
      s2 AS (SELECT b2, count(*) AS c2 FROM b GROUP BY 1),
      top AS (
        SELECT w, count(*) AS true_c FROM tok GROUP BY 1
        ORDER BY true_c DESC, w LIMIT 20),
      topb AS (
        SELECT w, true_c,
               CAST(CAST('0x' || substring(md5('cm1:' || w), 1, 6) AS INTEGER)
                    % 256 AS BIGINT) AS b1,
               CAST(CAST('0x' || substring(md5('cm2:' || w), 1, 6) AS INTEGER)
                    % 256 AS BIGINT) AS b2
        FROM top)
      SELECT w, true_c, least(c1, c2) AS est_c
      FROM topb JOIN s1 USING (b1) JOIN s2 USING (b2)
      ORDER BY true_c DESC, w""")
  )

  /** Per-source duplication report — the data-quality dashboard tile
    * a corpus owner watches: documents vs distinct texts vs dup rows,
    * per source, all integers (no rate division to round). Exact-dup
    * groups come from one (source, md5) aggregate; the per-source
    * roll-up rides the same partitioning prefix.
    */
  val dupeStats = Q(
    "q_dupe_stats",
    (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(
          sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_unique"),
          sum(col("n") - 1).as("n_dup_rows"))
        .orderBy(col("source"))
    },
    Some("""
      WITH g AS (
        SELECT source, md5(text) AS h, count(*) AS n
        FROM documents GROUP BY 1, 2)
      SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
             count(*) AS n_unique,
             CAST(sum(n - 1) AS BIGINT) AS n_dup_rows
      FROM g GROUP BY source ORDER BY source""")
  )

  /** BM25 keyword retrieval — the ranking function search/RAG indexes
    * actually serve (Robertson-Sparck Jones; k1 = 1.2, b = 0.75), for
    * the fixed query {join, hash, scan}:
    * score(D) = Σ_t idf(t) · k·(k1+1) / (k + k1·(1−b+b·|D|/avgdl)),
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Everything derives from ONE (doc, term) aggregate — the tfidf
    * stream: doc length is a window sum over its doc_id partitioning
    * (which the final per-doc aggregate then reuses — no new
    * exchange), avgdl/N is a 1-row scan aggregate broadcast, df a
    * query-terms-only (3-row, broadcast) census. The final top-10 is
    * orderBy+limit → TakeOrdered, never a global sort.
    * Cross-engine: each term's contribution is one textually identical
    * IEEE expression rounded to 9 dp and summed in DECIMAL (the
    * q_entropy idiom), so partial-aggregation order cannot perturb the
    * 6 dp-rounded score; rank ties resolve by doc_id on both engines.
    */
  /** The scored-docs frame behind [[bm25]] (doc_id, n_match, score_r),
    * pre-top-k — package-private so the rank-fusion query
    * (VectorQueries.rrf) ranks the SAME keyword scores the
    * standalone query serves. */
  private[graft] def bm25Scored(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("k"))
        .withColumn("dl", sum(col("k")).over(Window.partitionBy(col("doc_id"))))
      // N and Σdl need no second pass over the token stream: every doc
      // yields ≥1 token row (toks of "" is [""]), so doc count and
      // total token count come straight off ONE documents scan
      val st = t(s, dir, "documents").groupBy()
        .agg(count(lit(1)).as("n"),
          sum(size(toks(col("text"))).cast(LongType)).as("sum_dl"))
      val qt = tf.filter(col("term").isin("join", "hash", "scan"))
      val dfreq = qt.groupBy(col("term")).agg(count(lit(1)).as("df"))
      qt.join(broadcast(dfreq), Seq("term"))
        .crossJoin(broadcast(st))
        // every fractional literal is written in scientific notation
        // (5e-1, 2.2e0, …): both engines parse bare 2.2 as DECIMAL and
        // would run parts of the chain in truncated decimal arithmetic
        // (observed 4e-8 drift) — e0 forces IEEE DOUBLE end to end
        .selectExpr("doc_id",
          """CAST(round(ln((n - df + 5e-1) / (df + 5e-1) + 1e0) * (k * 2.2e0)
               / (k + 1.2e0 * (1e0 - 7.5e-1 + 7.5e-1 * dl / (sum_dl * 1e0 / n))), 9)
             AS DECIMAL(18,9)) AS term_s""")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_match"), sum(col("term_s")).as("s"))
        // round the DECIMAL (exact half-up), THEN cast: rounding the
        // double instead diverges on ...5·10⁻⁷ ties, which the 9 dp
        // per-term grid makes common
        .select(col("doc_id"), col("n_match"),
          round(col("s"), 6).cast("double").as("score_r"))
  }

  /** Oracle twin of [[bm25Scored]]: CTE chain ending in
    * `sc(doc_id, n_match, score_r)`. */
  private[graft] val bm25ScoredSql = """tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS k FROM tok GROUP BY 1, 2),
      len AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS dl FROM tf GROUP BY 1),
      st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl FROM len),
      qt AS (SELECT * FROM tf WHERE term IN ('join', 'hash', 'scan')),
      dfreq AS (SELECT term, count(*) AS df FROM qt GROUP BY 1),
      c AS (
        SELECT q.doc_id,
               CAST(round(ln((n - df + 5e-1) / (df + 5e-1) + 1e0) * (k * 2.2e0)
                 / (k + 1.2e0 * (1e0 - 7.5e-1 + 7.5e-1 * dl / (sum_dl * 1e0 / n))), 9)
               AS DECIMAL(18,9)) AS term_s
        FROM qt q JOIN dfreq USING (term) JOIN len USING (doc_id) CROSS JOIN st),
      sc AS (
        SELECT doc_id, count(*) AS n_match,
               CAST(round(sum(term_s), 6) AS DOUBLE) AS score_r
        FROM c GROUP BY 1)"""

  val bm25 = Q(
    "q_bm25",
    (s, dir) => bm25Scored(s, dir)
      .orderBy(col("score_r").desc, col("doc_id"))
      .limit(10),
    Some(s"""
      WITH $bm25ScoredSql
      SELECT doc_id, n_match, score_r
      FROM sc ORDER BY score_r DESC, doc_id LIMIT 10""")
  )

  /** Deterministic weighted sampling without replacement (Efraimidis-
    * Spirakis A-ES): each doc draws u ∈ (0,1) from a Lehmer-style hash
    * of its id and keeps key = ln(u)/w with weight w = n_chars; the
    * global top-k by key IS a weighted sample without replacement —
    * the token-budget-proportional doc sampling a training-data
    * pipeline runs before packing.
    *
    * Scale shape: ONE scan with a per-row integer hash + TakeOrdered
    * top-k — no global sort, no shuffle of the corpus; at 100 TB each
    * executor keeps a k-row heap and only k rows travel. Determinism:
    * u's numerator is exact 31-bit integer arithmetic on both engines
    * (doc_id folded mod 2^31−1 BEFORE the 2654435761 multiply keeps
    * every product under 2^62 — no overflow at any corpus size);
    * ln(u)/w is one textually identical IEEE expression rounded to
    * 9 dp; ties resolve by doc_id. Production swaps the 31-bit Lehmer
    * hash for a 128-bit digest (collision-free u at corpus scale) —
    * same plan.
    */
  val weightedSample = Q(
    "q_weighted_sample",
    (s, dir) => {
      t(s, dir, "documents")
        .selectExpr("doc_id", "n_chars",
          "((doc_id % 2147483647) * 2654435761) % 2147483647 AS h")
        // 2147483648e0 (not .0): a bare decimal literal would make the
        // division run in truncated DECIMAL arithmetic on both engines
        .selectExpr("doc_id", "n_chars",
          "round(ln((h + 1) / 2147483648e0) / greatest(n_chars, 1), 9) AS key_r")
        .orderBy(col("key_r").desc, col("doc_id"))
        .limit(25)
    },
    Some("""
      WITH h AS (
        SELECT doc_id, n_chars,
               ((doc_id % 2147483647) * 2654435761) % 2147483647 AS h
        FROM documents),
      k AS (
        SELECT doc_id, n_chars,
               round(ln((h + 1) / 2147483648e0) / greatest(n_chars, 1), 9)
                 AS key_r
        FROM h)
      SELECT doc_id, n_chars, key_r
      FROM k ORDER BY key_r DESC, doc_id LIMIT 25""")
  )

  /** Line-level boilerplate dedup (CCNet / RefinedWeb shape): a "line"
    * repeated across ≥ 3 DISTINCT documents is boilerplate (headers,
    * footers, nav chrome, cookie banners) and is dropped from every
    * document; the per-document report counts surviving lines/tokens.
    * The driver corpus has no physical newlines, so the line unit is a
    * non-overlapping 8-token span — the dataflow is identical for
    * `split(text, '\n')`.
    *
    * Scale shape: span extraction is a pure map-side HOF projection;
    * document frequency is ONE hash aggregation on the span key; the
    * hot set (df ≥ 3) is SMALL BY DEFINITION (it's the corpus's
    * repeated chrome, bounded by template count, not corpus size) so it
    * broadcasts and the mark-join adds no shuffle; per-doc re-aggregation
    * is one doc_id-keyed exchange. Never all-pairs, never a window over
    * the corpus. If a pathological corpus made the hot set outgrow the
    * broadcast threshold, dropping the hint degrades to a shuffle join
    * on the span key — same results.
    *
    * Unlike q_substr_dedup (which finds the longest duplicated RUNS via
    * overlapping 20-gram islands), this is the cheap exact-line pass
    * every web-scale pipeline runs FIRST: non-overlapping spans, no
    * position reasoning, 3 shuffles total.
    */
  /** Persisted non-overlapping 8-token SPAN inventory for
    * [[lineDedup]] (r18 — the gramTable pattern's 4th instance): one
    * row per span occurrence, (doc_id, g = span text, n_tok), written
    * once per (documents mtime+length) as a parquet table BUCKETED ×64
    * on g. The line-dedup plan consumes the span frame TWICE (the
    * boilerplate DF census and the mark-join side), so before this the
    * tokenize → span-HOF projection ran twice per invocation and the
    * census paid a full span-keyed exchange; the bucketed read makes
    * the census zero-exchange and the projection once-per-dataset.
    * g is stored as the exact span STRING (strings round-trip parquet
    * exactly; g only ever groups/joins, never reaches the output), so
    * results are bit-identical to the inline projection. */
  private def spanTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    ArtifactCache.sessionTable(s, "spans8", s"$dir/documents.parquet",
        ArtifactCache.Bucketed(64, Seq("g"), sorted = false), "spans8-v1") {
      spansOf(s, dir)
    }

  /** The inline span projection [[spanTable]] persists — factored out
    * so the artifact spec can pin read ≡ recompute. */
  private[text] def spansOf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(transform(
          // Null/empty guard: size() is -1 on NULL text (legacy
          // sizeOfNull) and sequence(0,-1) yields the DESCENDING
          // [0,-1], emitting bogus spans the oracle never sees.
          when(size(col("ws")) > 0,
            sequence(lit(0),
              floor((size(col("ws")) + lit(7)) / lit(8)).cast("int") - 1))
            .otherwise(array().cast("array<int>")),
          i => {
            val sl = slice(col("ws"), i * 8 + 1, lit(8))
            struct(concat_ws(" ", sl).as("g"),
              size(sl).cast(LongType).as("n_tok"))
          })).as("sp"))
      .select(col("doc_id"), col("sp.g").as("g"), col("sp.n_tok").as("n_tok"))

  private[text] def lineDedupSpans(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = spanTable(s, dir)

  val lineDedup = Q(
    "q_line_dedup",
    (s, dir) => {
      // span inventory rides the persisted artifact (r18): the DF
      // census below runs with zero exchange off the bucketed scan,
      // and the tokenize+span projection runs once per dataset
      val spans = lineDedupSpans(s, dir)
      val hot = spans
        .groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 3)
        .select(col("g"), lit(1).as("hot"))
      spans
        .join(broadcast(hot), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("hot").isNull, 1L).otherwise(0L)).as("n_spans_kept"),
          sum(when(col("hot").isNull, col("n_tok")).otherwise(0L))
            .as("n_tokens_kept"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      sp0 AS (
        SELECT doc_id, ws,
               unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        FROM tok),
      sp AS (
        SELECT doc_id,
               array_to_string(ws[i * 8 + 1 : least(len(ws), i * 8 + 8)], ' ') AS g,
               CAST(least(len(ws), i * 8 + 8) - i * 8 AS BIGINT) AS n_tok
        FROM sp0),
      hot AS (SELECT g FROM sp GROUP BY g HAVING count(DISTINCT doc_id) >= 3),
      j AS (
        SELECT s.doc_id, s.n_tok, h.g IS NOT NULL AS is_hot
        FROM sp s LEFT JOIN hot h ON s.g = h.g)
      SELECT doc_id, count(*) AS n_spans,
             CAST(sum(CASE WHEN is_hot THEN 0 ELSE 1 END) AS BIGINT) AS n_spans_kept,
             CAST(sum(CASE WHEN is_hot THEN 0 ELSE n_tok END) AS BIGINT) AS n_tokens_kept
      FROM j GROUP BY doc_id ORDER BY doc_id""")
  )

  override def all: Seq[Q] =
    Seq(dedup, textTokens, textStats, langId, fingerprint, textBpe, rollingHash,
      textNormalize, sampleStratified, sampleExactK, curation, piiScrub,
      repetition, contamination, substrDedup, pack, vocab, bigramScore,
      tfidf, mixSample, bpeTrain, bpeApply, entropy, chunk, winnow,
      qualityClf, colloc, countMin, dupeStats, bm25, weightedSample,
      lineDedup)
}
