package graft.similarity

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Q, QueryModule}
import graft.util.ArtifactCache.{Bucketed, Plain, saveTable, sessionTable}
import graft.util.Tables._
import graft.similarity.NearDupQueries.{bandCollisions, bandsOf, capShingleDf, HashFamilyVersion, incrementalLabels, labelComponents, labelComponentsSql, MaxShingleDf, mhBandSqlFor, minhashFrameFrom, minhashOf, pairsFromMh, shingleHash, shinglesSqlFor, shingleTable}
import graft.text.TextQueries.{toks, wordNgrams}

/** The persisted near-dup signature index and label table, its
  * tombstones and compaction, the streaming band projection, and
  * incremental dedup and clustering of a batch against the index. */
object DedupIndex extends QueryModule {

  /** Documents with doc_id below this are the "existing corpus" for
    * [[dedupIncremental]]; at/above are the incremental batch. */
  private[graft] val IncrementalCutoff = 400L

  /** The PERSISTED dedup signature index — every current dedup query
    * recomputes signatures from the corpus per run; this is the
    * production shape instead: band rows ([[NearDupQueries.bandsOf]]) for the
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
    * [[NearDupQueries.labelComponents]]) and written as a parquet table: exactly the
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
    * [[NearDupQueries.bandsOf]]∘[[NearDupQueries.minhashFrameFrom]] builds with explode + groupBy,
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
    val sh = array_distinct(wordNgrams(col("ws"), 3))
    val hs = transform(col("sh"), shingleHash(_))
    def mh(k: Int): Column = array_min(transform(col("hs"), minhashOf(_, k)))
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
    incrementalCandidates(idx, newSigs).union(bandCollisions(newSigs, "sig"))
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
    * [[NearDupQueries.incrementalLabels]] folds the new pairs in over the contracted
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
      ${labelComponentsSql("allp")}
      SELECT n AS doc_id, min(lbl) AS component
      FROM cc GROUP BY n ORDER BY doc_id""")
  )

  override def all: Seq[Q] = Seq(
    dedupIncremental, clusterIncremental)
}
