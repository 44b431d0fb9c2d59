package graft
import graft.similarity.{BeamIndex, VectorQueries}
import graft.util.{ArtifactCache, GraftSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
/** The synthetic scale corpora behind Bench's tiers (not part of the
  * driver contract) and the planted-structure floors the tiers gate
  * on. [[buildCorpus]] writes all 10 tables at mult× the sf0.01 row
  * counts (40×: 20k docs / 2.4M lineitem / 800k events — the sf40
  * tier; 100× is sf1); [[buildDocsCorpus]] writes the documents +
  * embeddings corpus of the docs tiers. Bench builds a missing tier
  * corpus itself; `sbt "runMain graft.ScaleSmoke <tier>"` builds one
  * ahead of the run.
  */
object ScaleSmoke {

  /** Canonical location of the mult× corpus (shared with Bench's tier
    * knob, which auto-builds a missing corpus via [[buildCorpus]]). */
  def corpusDir(mult: Int): String = s"/tmp/graft_sfbig_${mult}x"

  /** Canonical location of the docs-only mult× corpus (the docs1000
    * bench tier auto-builds a missing one via [[buildDocsCorpus]]). */
  def docsCorpusDir(mult: Int): String = s"/tmp/graft_docs_${mult}x"

  /** Tables a complete corpus dir must hold (docs tier vs full). */
  private val DocsTables = Seq("documents", "embeddings")
  private val AllTables = DocsTables ++ Seq("lineitem", "part", "supplier",
    "region", "events", "orders", "customer", "nation")

  /** Reuse validity (r15 advice): bare dir existence silently served a
    * crashed/partial previous build — the smoke/bench numbers and the
    * recall floors computed from it would be quietly wrong. A corpus
    * is reusable only when EVERY expected table directory carries
    * Spark's `_SUCCESS` commit marker (an interrupted generator leaves
    * the marker missing in the table it died in and writes the tables
    * in a fixed order, so the last table's marker implies the rest —
    * checked individually anyway, markers are free). */
  private[graft] def corpusComplete(dir: String, docsOnly: Boolean): Boolean = {
    val tables = if (docsOnly) DocsTables else AllTables
    tables.forall(t =>
      new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists)
  }

  /** Docs-tier driver-heap pre-flight (r19 verdict #6): the 2.5M-doc
    * stretch died MID-STAGE at the default 8g heap
    * (`SparkOutOfMemoryError: UNABLE_TO_ACQUIRE_MEMORY`; in local mode
    * the context then stops and every subsequent query fails) — minutes
    * of generation and warm-up burned before the crash named the knob.
    * A docs tier at ≥ 2M docs (mult ≥ 4000) must name
    * `SPARK_DRIVER_MEM=32g` (the documented build.sbt knob, SCALE.md
    * §r19) BEFORE any work starts. Threshold 24 GiB, not 32: JVM
    * `maxMemory` under-reports the -Xmx value (survivor-space
    * reservation), so an exact compare would false-trip a genuine 32g
    * JVM. On a real cluster this is per-executor memory sizing — the
    * check guards only the local[32] harness, where driver = executor. */
  private[graft] def requireHeapFor(
      mult: Int, docsOnly: Boolean,
      heapBytes: Long = Runtime.getRuntime.maxMemory): Unit =
    if (docsOnly && mult >= 4000)
      require(heapBytes >= (24L << 30),
        s"docs tier mult=$mult (${mult / 2}k docs) exceeds the default " +
          "driver heap (2.5M docs OOM'd the 8g default mid-stage, SCALE.md " +
          "§r19) — re-run with SPARK_DRIVER_MEM=32g (current max " +
          f"heap ${heapBytes / (1L << 30)}%d GiB)")

  /** Build one Bench tier's corpus (`sf40`, `sf1`, `docs1000`,
    * `docs2000`) unless it is already complete. */
  def main(args: Array[String]): Unit = {
    require(args.length == 1,
      "usage: ScaleSmoke <tier>  (tiers: sf40, sf1, docs1000, docs2000)")
    val t = Bench.tierOf(args(0))
    requireHeapFor(t.mult, t.docsOnly)
    val spark = GraftSession.build("scale-corpus")
    spark.sparkContext.setLogLevel("ERROR")
    try ensureCorpus(spark, t) finally spark.stop()
  }

  /** Build tier `t`'s corpus at its canonical dir unless
    * [[corpusComplete]]. Generation is deterministic, but a rewrite
    * changes the parquet mtimes and so invalidates every mtime-keyed
    * artifact (persisted indexes, centroids, cell assignments) — a
    * complete corpus is reused. */
  private[graft] def ensureCorpus(spark: SparkSession, t: Bench.Tier): Unit =
    if (!corpusComplete(t.sfDir, t.docsOnly)) {
      System.err.println(s"[corpus] ${t.sfDir} missing/incomplete — building " +
        s"(mult=${t.mult}${if (t.docsOnly) ", docs only" else ""})")
      if (t.docsOnly) buildDocsCorpus(spark, t.mult): Unit
      else buildCorpus(spark, t.mult): Unit
    }

  /** kNN planted-twin floor, shared by both tiers' floors: each planted
    * cos ≈ 0.9999 twin (vec n/2+q for probe q < 5) must rank FIRST for
    * its probe in the auto-width kNN graph, ≥ 4/5 (one plane-straddling
    * twin is within tolerance — width scaling is a recall trade by
    * design; the floor pins that the derived width keeps what ANN
    * exists to keep). Failures append to `errs`. */
  private def knnTwinFloor(spark: SparkSession, dir: String, nDocs: Long,
      errs: ArrayBuffer[String]): Unit = {
    val hitProbes = VectorQueries.knnGraphPlanAuto(spark, dir)
      .filter(col("vec_id") < 5 && col("rn") === 1L &&
        col("nbr_id") === col("vec_id") + nDocs / 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val knnHits = hitProbes.size
    System.err.println(s"[floors] knn_recall: $knnHits/5 planted twins ranked first")
    if (knnHits < 4)
      errs += s"knn recall floor: $knnHits/5 planted twins ranked first (need >= 4)"
    // Name the straddler (r16 verdict #5): a twin may miss rank-1 ONLY
    // because its 1%-noise vector landed across a hyperplane from its
    // probe — a DIFFERENT native-width bucket, so the edge cannot exist
    // in the bucket-blocked graph (the documented LSH recall trade). A
    // SAME-bucket miss means in-bucket scoring broke; no recall
    // tolerance forgives that, whatever the 4/5 count says.
    val missing = (0L until 5L).filterNot(hitProbes).map(q => (q, q + nDocs / 2))
    if (missing.nonEmpty)
      VectorQueries.twinBucketAudit(spark, dir, missing).foreach {
        case Right((q, tw, bq, bt, hd, cos)) =>
          System.err.println(
            f"[floors] knn miss audit: probe $q (bucket $bq) vs twin $tw " +
              f"(bucket $bt), plane Hamming distance $hd, cosine $cos%.6f")
          // cos ≥ 0.999 confirms the pair really is a planted twin (a
          // DESTROYED twin — the knn-floor count's job — may share a
          // bucket by chance and legitimately lose rank-1)
          if (hd == 0 && cos >= 0.999)
            errs += s"knn floor: probe $q's genuine twin $tw shares bucket " +
              s"$bq but did not rank first — in-bucket scoring regressed " +
              "(not a plane straddle)"
        // a planted id absent from the embeddings table is itself a
        // floor failure (truncated corpus), named instead of thrown
        // (ADVICE r17)
        case Left(msg) => errs += s"knn floor: $msg"
      }
  }

  /** Planted-twin floor for a top-5 ANN plan (`q_id`, `vec_id` rows):
    * each probe q < 5 must find its twin q + nDocs/2 among its results,
    * ≥ 4/5. */
  private def twinsInTop5(
      name: String, plan: DataFrame, nDocs: Long): Option[String] = {
    val hits = plan.filter(col("vec_id") === col("q_id") + nDocs / 2).count()
    System.err.println(s"[floors] $name recall: $hits/5 planted twins in top-5")
    if (hits >= 4) None
    else Some(s"$name recall floor: $hits/5 planted twins in top-5 (need >= 4)")
  }

  /** Planted-structure ACCURACY floors for a [[buildDocsCorpus]]
    * corpus, returned as failure messages (empty = all floors hold) so
    * the docs1000 bench tier can gate on accuracy as well as time (r16
    * verdict #3): before this, the tier's one command only caught TIME
    * regressions — a change that silently narrowed LSH width or broke
    * candidate generation would pass (probably faster). Three floors,
    * each through the OPERATOR under test, kept in sync with the
    * generator's planted structure:
    *
    *  1. kNN recall — each planted cos ≈ 0.9999 twin must rank FIRST
    *     for its probe in the auto-width kNN graph (≥ 4/5, one
    *     plane-straddling twin is within tolerance — shared with
    *     [[sf40Floors]]).
    *  2. Exact-dedup completeness — q_dedup must collapse EVERY
    *     planted exact copy (id ≡ 0 mod 97 whose successor is not
    *     itself mutated): collapsed-doc mass equals the planted count
    *     exactly (md5 grouping has no tolerance to give).
    *  3. Near-dup pair completeness — ≥ 90% of planted mutated copies
    *     (id ≡ 0 mod 89, first token replaced, shingle Jaccard ≈ 0.94)
    *     must surface as MinHash-LSH candidate pairs; 4-band/2-hash
    *     banding at that similarity misses ~2e-4 of pairs, so a
    *     sub-0.9 hit rate means candidate generation regressed, not
    *     luck.
    */
  def docsFloors(spark: SparkSession, dir: String): Seq[String] = {
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val errs = ArrayBuffer.empty[String]
    knnTwinFloor(spark, dir, nDocs, errs)

    // exact pairs: id ≡ 0 (mod 97) copies id+1's tokens VERBATIM unless
    // doc id+1 is itself a mutated copy ((id+1) ≡ 0 mod 89 — then the
    // copied tokens differ from id+1's actual text and no group forms)
    val plantedExact = spark.range(nDocs)
      .filter(col("id") % 97 === 0 && col("id") + 1 < nDocs &&
        (col("id") + 1) % 89 =!= 0)
      .count()
    val collapsed = graft.text.TextQueries.dedup.run(spark, dir)
      .filter(col("n_copies") >= 2)
      .agg(coalesce(sum(col("n_copies") - 1), lit(0L)))
      .collect()(0).getLong(0)
    System.err.println(
      s"[floors] exact_dedup: $collapsed collapsed of $plantedExact planted copies")
    if (collapsed != plantedExact)
      errs += s"exact-dedup completeness floor: q_dedup collapsed $collapsed docs, " +
        s"planted $plantedExact exact copies"

    // semantic-dedup twin prune floor (r18, gating the constant-
    // population block rule): each planted cos ≈ 0.9999 twin
    // (vec n/2+q for probe q) must be PRUNED by q_semantic_dedup's
    // blocked pair pass — threshold 0.4 is far below twin similarity,
    // so a miss means the twin never met a smaller-id neighbor in its
    // block. Tolerance shape = the kNN floor's: ≥ 4/5, and a miss is
    // forgiven ONLY when the audit shows the twin's block genuinely
    // split from its probe's (IVF cell or sub-plane straddle — the
    // documented recall trade of eb ≥ 1); a same-block survivor means
    // in-block scoring broke, which no tolerance forgives.
    val twinPairs = (0L until 5L).map(q => (q, q + nDocs / 2))
    val prunedTwins = graft.similarity.ClusterQueries
      .semanticPrunedIds(spark, dir)
      .filter(col("id2").isInCollection(twinPairs.map(_._2)))
      .select(col("id2")).collect().map(_.getLong(0)).toSet
    System.err.println(
      s"[floors] semdedup_prune: ${prunedTwins.size}/5 planted twins pruned")
    if (prunedTwins.size < 4)
      errs += s"semantic-dedup prune floor: ${prunedTwins.size}/5 planted " +
        "twins pruned (need >= 4)"
    val unpruned = twinPairs.filterNot(t => prunedTwins(t._2))
    if (unpruned.nonEmpty) {
      val rows = graft.similarity.ClusterQueries
        .semanticBlocked(spark, dir)
        .filter(col("vec_id").isInCollection(
          unpruned.flatMap(t => Seq(t._1, t._2))))
        .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3))).toMap
      unpruned.foreach { case (q, tw) =>
        (rows.get(q), rows.get(tw)) match {
          case (Some((bq, vq, nq)), Some((bt, vt, nt))) =>
            var dot = 0.0
            var i = 0
            while (i < vq.length) { dot += vq(i) * vt(i); i += 1 }
            val cos = dot / (nq * nt)
            System.err.println(
              f"[floors] semdedup miss audit: probe $q (block $bq) vs " +
                f"twin $tw (block $bt), cosine $cos%.6f")
            // cos ≥ 0.999 confirms a genuine twin (the kNN floor's
            // rule): a DESTROYED twin sharing a block by chance is
            // below the 0.4 threshold and legitimately unpruned — the
            // 4/5 count above is what catches destroyed plants.
            if (bq == bt && cos >= 0.999)
              errs += s"semantic-dedup floor: genuine twin $tw shares " +
                s"probe $q's block $bq but was not pruned — in-block " +
                "scoring regressed (not a block straddle)"
          case _ =>
            errs += s"semantic-dedup floor: audit: vec_id $q or $tw absent " +
              "from embeddings (truncated or partial corpus?)"
        }
      }
    }

    // near-dup pairs: (id, id+1) for mutated copies whose successor is
    // itself neither an exact copy nor another mutated copy
    val plantedNear = spark.range(nDocs)
      .filter(col("id") % 89 === 0 && col("id") % 97 =!= 0 &&
        col("id") + 1 < nDocs &&
        (col("id") + 1) % 97 =!= 0 && (col("id") + 1) % 89 =!= 0)
      .select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val nearTotal = plantedNear.count()
    val nearHits = graft.similarity.NearDupQueries.minhashLsh.run(spark, dir)
      .join(plantedNear, Seq("id1", "id2"), "left_semi")
      .count()
    System.err.println(
      s"[floors] neardup_pairs: $nearHits/$nearTotal planted LSH candidates found")
    if (nearTotal > 0 && nearHits.toDouble / nearTotal < 0.9)
      errs += s"near-dup pair completeness floor: $nearHits/$nearTotal planted " +
        "mutated copies surfaced as LSH candidates (need >= 90%)"

    errs.toSeq
  }

  /** Distributed documents+embeddings generator for the docs-scaled
    * tier at `/tmp/graft_docs_<mult>x`. Content is hash-derived (no
    * driver-side Seq — the committed 40×/100× corpora keep their
    * byte-identical driver-side generator), with planted structure
    * the family gates need:
    *  - every doc with id ≡ 0 (mod 97) is an EXACT copy of doc id+1
    *    (exact-dedup signal),
    *  - every doc with id ≡ 0 (mod 89) copies doc id+1 with its first
    *    token replaced (near-dup signal for MinHash/SimHash),
    *  - embeddings plant the standard cos ≈ 0.9999 twins: vec_ids
    *    [n/2, n/2+5) are probe (id − n/2)'s vector + 1% noise — the
    *    recall-floor gates (knn/ivf/beam) work unchanged. */
  def buildDocsCorpus(
      spark: SparkSession, mult: Int,
      dirOverride: Option[String] = None): String = {
    val dir = dirOverride.getOrElse(docsCorpusDir(mult))
    val nDocs = 500L * mult
    // doc id ≡ 0 mod 97 → copy of id+1; mod 89 → near-dup of id+1
    val src = spark.range(nDocs).select(
      col("id"),
      when(col("id") % 97 === 0 && col("id") + 1 < nDocs, col("id") + 1)
        .when(col("id") % 89 === 0 && col("id") + 1 < nDocs, col("id") + 1)
        .otherwise(col("id")).as("src"),
      (col("id") % 89 === 0 && col("id") % 97 =!= 0).as("mut"))
    val toks = transform(sequence(lit(0), lit(99)),
      p => concat(lit("w"),
        pmod(hash(col("src") * 101 + p.cast("long") * 7 + 3), lit(5000))))
    val toksMut = when(col("mut"),
      concat(array(lit("zzq")), slice(toks, 2, 99))).otherwise(toks)
    src.select(
        col("id").as("doc_id"),
        array_join(toksMut, " ").as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("es")),
          (col("id") % 4 + 1).cast("int")).as("lang"),
        lit("src").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: deterministic uniform [-1, 1) per (id, dim) — sign-LSH
    // and Lloyd training only need symmetric spread — with the twins
    // planted by remapping the source id and adding 1% hash noise
    val half = nDocs / 2
    val eSrc = when(col("id") >= half && col("id") < half + 5,
      col("id") - half).otherwise(col("id"))
    val isTwin = col("id") >= half && col("id") < half + 5
    def u(seed: org.apache.spark.sql.Column, salt: Int) =
      pmod(hash(seed * 131 + salt), lit(2000001)) / lit(1000000.0) - lit(1.0)
    spark.range(nDocs).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d => {
          val base = u(eSrc * 67 + d.cast("long") * 17, 7)
          (base + when(isTwin,
            u(col("id") * 71 + d.cast("long") * 19, 11) * lit(0.01))
            .otherwise(lit(0.0))).cast("float")
        }).as("embedding"),
        (col("id") % 8).cast("int").as("label"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Generate the mult× synthetic corpus (all 10 tables) at
    * [[corpusDir]] (or `dirOverride`) and return the dir — Bench's
    * tier gate is ONE command (r13 verdict #6: a missing corpus
    * rebuilds instead of failing the recipe's first step). */
  def buildCorpus(
      spark: SparkSession, mult: Int,
      dirOverride: Option[String] = None): String = {
    import spark.implicits._
    val dir = dirOverride.getOrElse(corpusDir(mult))
    val nDocs = 500 * mult
    val words = (0 until 5000).map(i => s"w$i")
    val rnd = new scala.util.Random(1)
    val docs = (0 until nDocs).map { i =>
      // 100-token random docs (uniform vocab; near-dup structure is the
      // sf corpora's job — the smoke measures collision/shuffle shape)
      val base = Array.fill(100)(words(rnd.nextInt(words.length)))
      // sprinkle the BM25 query terms so q_bm25's 40x check is
      // non-vacuous (every 4th doc carries 1-3 of them)
      if (i % 4 == 0) base(rnd.nextInt(base.length)) = "join"
      if (i % 8 == 0) base(rnd.nextInt(base.length)) = "hash"
      if (i % 16 == 0) base(rnd.nextInt(base.length)) = "scan"
      val text = base.mkString(" ")
      (i.toLong, text, Seq("en","de","fr","es")(i % 4), "src", text.length.toLong)
    }
    docs.toDF("doc_id","text","lang","source","n_chars")
      .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embs0 = (0 until nDocs).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), i % 8)
    }.toArray
    // Planted near-duplicate pairs for the auto-width recall floor:
    // probe i (< 5) gets a twin at i + nDocs/2 = probe + tiny noise
    // (cos ≈ 0.9999), so "does the width-scaled LSH still find what
    // ANN exists to find" is checkable at ANY width — random gaussians
    // alone have near-orthogonal neighbors and no recall to measure.
    val embs = embs0.map { case (id, v, lbl) =>
      if (id >= nDocs / 2 && id < nDocs / 2 + 5) {
        val src = embs0((id - nDocs / 2).toInt)._2
        (id, src.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq, lbl)
      } else (id, v.toSeq, lbl)
    }.toSeq
    embs.toDF("vec_id","embedding","label")
      .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // mult× relational tables for the graph / basket / event-series ops
    // (60k·mult lineitem; 20k·mult events) — generated DISTRIBUTED via
    // spark.range + hash, no driver-side Seq at this size.
    spark.range(60000L * mult).select(
      (col("id") / 6).cast("long").as("l_orderkey"), // ~6 items/basket
      pmod(hash(col("id") * 7 + 1), lit(30000)).cast("long").as("l_partkey"),
      pmod(hash(col("id") * 13 + 5), lit(3000)).cast("long").as("l_suppkey"),
      (pmod(hash(col("id") * 61 + 37), lit(7)) + 1).cast("int").as("l_linenumber"),
      // cent-valued measures for the one-pass correlation matrix
      (pmod(hash(col("id") * 41 + 13), lit(5000)) / lit(100.0) + lit(1.0))
        .as("l_quantity"),
      (pmod(hash(col("id") * 43 + 19), lit(9000000)) / lit(100.0) + lit(900.0))
        .as("l_extendedprice"),
      (pmod(hash(col("id") * 47 + 23), lit(11)) / lit(100.0)).as("l_discount"),
      (pmod(hash(col("id") * 53 + 29), lit(9)) / lit(100.0)).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        pmod(hash(col("id") * 67 + 41), lit(3)) + 1).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        pmod(hash(col("id") * 71 + 43), lit(2)) + 1).as("l_linestatus"),
      (lit(694224000L) + pmod(hash(col("id") * 73 + 47), lit(199152000)))
        .cast("timestamp").as("l_shipdate"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // Dims sized to COVER the fact FK domains (30000 parts / 3000
    // suppliers / 5 regions) rather than scaled by mult — dims grow far
    // slower than facts in production, and keeping the domains fixed
    // preserves every previously-documented 40×/100× graph and basket
    // observation (node domain, degree caps, k-core census).
    spark.range(30000L).select(
      col("id").as("p_partkey"),
      concat(
        element_at(array(lit("blue"), lit("red"), lit("green"), lit("hot"),
          lit("cold"), lit("small"), lit("large"), lit("plain")),
          pmod(hash(col("id") * 11 + 3), lit(8)) + 1),
        lit(" "),
        element_at(array(lit("anvil"), lit("widget"), lit("ring"), lit("bolt"),
          lit("gear"), lit("cog"), lit("pin"), lit("cap")),
          pmod(hash(col("id") * 13 + 7), lit(8)) + 1)).as("p_name"),
      concat(lit("Brand#"),
        (pmod(hash(col("id") * 17 + 11), lit(25)) + 1).cast("string")).as("p_brand"),
      element_at(array(lit("ECONOMY"), lit("STANDARD"), lit("SMALL"),
        lit("MEDIUM"), lit("LARGE"), lit("PROMO")),
        pmod(hash(col("id") * 19 + 13), lit(6)) + 1).as("p_type"),
      (pmod(hash(col("id") * 23 + 17), lit(50)) + 1).cast("int").as("p_size"),
      (pmod(hash(col("id") * 29 + 19), lit(110000)) / lit(100.0) + lit(900.0))
        .as("p_retailprice"))
      .repartition(8).write.mode("overwrite").parquet(s"$dir/part.parquet")
    spark.range(3000L).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pmod(hash(col("id") * 31 + 23), lit(25)).cast("int").as("s_nationkey"),
      (pmod(hash(col("id") * 37 + 29), lit(1100000)) / lit(100.0) - lit(1000.0))
        .as("s_acctbal"))
      .repartition(4).write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(lit("AFRICA"), lit("AMERICA"), lit("ASIA"),
        lit("EUROPE"), lit("MIDDLE EAST")), col("id").cast("int") + 1)
        .as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    spark.range(20000L * mult).select(
      col("id").as("event_id"),
      // user domain scales with the corpus (50·mult = the historical
      // 2000 at 40×): a FIXED domain under growing events densifies
      // the transition graph quadratically — a generator artifact, not
      // an operator property (production user counts grow with data)
      pmod(hash(col("id") * 3 + 11), lit(50 * mult)).cast("long").as("user_id"),
      // micros TimestampType (Spark cannot emit the driver's
      // TIMESTAMP(NANOS); Tables.events handles both): second
      // resolution across 30 days from 2024-01-01
      (lit(1704067200L) + pmod(hash(col("id") * 5 + 3), lit(2592000)))
        .cast("long").cast("timestamp").as("ts"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("idle")),
        pmod(hash(col("id") + 29), lit(4)) + 1).as("event_type"),
      lit("""{"k":1}""").as("props"),
      (pmod(hash(col("id") * 17 + 7), lit(10000)) / lit(100.0)).as("value"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // mult× orders (15k·mult) + customer (1.5k·mult) for the
    // concentration / digit-law / trend ops
    spark.range(15000L * mult).select(
      col("id").as("o_orderkey"),
      pmod(hash(col("id") * 19 + 3), lit(1500 * mult)).cast("long").as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        pmod(hash(col("id") * 79 + 53), lit(3)) + 1).as("o_orderstatus"),
      (pmod(hash(col("id") * 23 + 9), lit(55000000)) / lit(100.0) + lit(900.0))
        .as("o_totalprice"),
      (lit(694224000L) + pmod(hash(col("id") * 29 + 17), lit(199152000)))
        .cast("timestamp").as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        pmod(hash(col("id") * 83 + 59), lit(5)) + 1).as("o_orderpriority"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(1500L * mult).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(hash(col("id") * 31 + 7), lit(25)).cast("int").as("c_nationkey"),
      (pmod(hash(col("id") * 37 + 11), lit(1100000)) / lit(100.0) - lit(1000.0))
        .as("c_acctbal"),
      element_at(
        array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
          lit("HOUSEHOLD"), lit("MACHINERY")),
        pmod(hash(col("id") + 41), lit(5)) + 1).as("c_mktsegment"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // 25-row nation dim (broadcast side of the k-anonymity census)
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    dir
  }

  /** The sf40 tier's floors on a [[buildCorpus]] corpus, returned as
    * failure messages like [[docsFloors]]; `nDocs` comes from the
    * corpus. The accuracy floors check planted structure and exact
    * pair counts; the timing floors compare two runs of one plan in
    * one session, so they need the 40× corpus to rise above per-job
    * overhead. */
  def sf40Floors(spark: SparkSession, dir: String): Seq[String] =
    sf40AccuracyFloors(spark, dir) ++ sf40TimingFloors(spark, dir)

  private[graft] def sf40AccuracyFloors(spark: SparkSession, dir: String): Seq[String] = {
    import graft.similarity.NearDupQueries.{shingles, MaxShingleDf}
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val errs = ArrayBuffer.empty[String]

    // Shingle pair-mass census (r14 verdict #5): the q_ngram_jaccard
    // candidate mass is Σ C(df,2) over DF-capped shingles, provably
    // ≤ (cap−1)/2 × occurrences — LINEAR in corpus size at any shingle
    // distribution (SCALE.md §r15; SimilaritySpec gates the bound).
    // The census checks the curve empirically, not just algebraically.
    val census = shingles(spark, dir).groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .agg(sum(col("df")).as("occ"),
        sum((col("df") * (col("df") - 1) / 2).cast("long")).as("mass"),
        count(lit(1)).as("distinct_sh"))
      .collect()(0) // 1 row: corpus-wide census sums
    val (occ, mass) = (census.getLong(0), census.getLong(1))
    val bound = (MaxShingleDf - 1).toLong * occ / 2
    System.err.println(s"[floors] pairmass_census: occurrences=$occ " +
      s"distinct=${census.getLong(2)} pair_mass=$mass linear_bound=$bound")
    if (mass > bound)
      errs += s"pair-mass floor: capped pair mass $mass exceeded the linear bound $bound"

    knnTwinFloor(spark, dir, nDocs, errs)
    // IVF at the DERIVED cell count (r10 verdict #3): a twin assigns to
    // its probe's cell (or the probe's second) at any k, so it survives
    // the nprobe=2 candidate cut into the ADC-exact top-5. Beam: the
    // hybrid entry layer seeds the beam with the query's own sign-LSH
    // bucket, which a twin shares up to one plane straddle, whether or
    // not the random bulk gives the walk a gradient. PQ-ADC: 8 coarse
    // codes lose plenty of precision, but a near-identical vector
    // encodes to (nearly) the same codes. Losing ≥ 2 of 5 twins means
    // cell training, entry seeding, the ef-search frontier or the ADC
    // lookup broke at scale.
    errs ++= twinsInTop5("IVF", SparkEntry.queries("q_ann_ivf")(spark, dir), nDocs)
    errs ++= twinsInTop5("beam", BeamIndex.annBeamPlan(spark, dir), nDocs)
    errs ++= twinsInTop5("PQ-ADC", SparkEntry.queries("q_pq_adc")(spark, dir), nDocs)

    // KMV: the generator gives every event segment 50·mult = nDocs/10
    // distinct users; the k=64 estimate must land within 3·rsd ≈ 40% of
    // the truth (deterministic given the corpus — a regression pin, not
    // a statistical test).
    val exact = nDocs / 10.0
    SparkEntry.queries("q_kmv")(spark, dir).select(col("event_type"), col("est_r"))
      .collect().foreach { r =>
        val (t, e) = (r.getString(0), r.getDouble(1))
        System.err.println(f"[floors] kmv: $t est=$e%.1f exact=$exact%.0f")
        if (math.abs(e - exact) / exact >= 0.40)
          errs += f"KMV floor: estimate for '$t' strayed " +
            f"${math.abs(e - exact) / exact * 100}%.0f%% from $exact%.0f"
      }

    // Beam-index APPEND and DELETE + CDC upsert economics (r12 verdict
    // #6): both recompute in-bucket kNN only for the buckets the batch
    // touches — the QUADRATIC term is what partiality bounds, so that
    // is what these floors measure (scored-pair counts, exact and
    // deterministic). Exact delete ≡ rebuild / upsert ≡ one-shot
    // equality and the untouched finger files of a monotone append are
    // BeamIndexSpec/AnnIndexStreamSpec's job.
    val ne = beamVectors(spark, dir)
    val planes = VectorQueries.autoPlaneCount(nDocs)
    // batch sized to a quarter of the bucket count, so the touched
    // fraction is stable at any corpus size — a fixed 16 would touch
    // most of the 16 buckets the 4-plane floor yields on a small corpus
    val batchN = math.max(4, (1 << planes) / 4)
    val batchFrom = nDocs - batchN
    def bucketSizes(nodes: DataFrame): Map[Int, Long] =
      nodes.groupBy(col("bucket")).count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
    def bucketsOf(nodes: DataFrame): Set[Int] =
      nodes.filter(col("vec_id") >= batchFrom)
        .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    // Structural partiality (the batch touches at most one bucket per
    // vector, strictly fewer than all of them) and the ≤ 50 % pair-MASS
    // bound. The mass bound is a property of the 40× corpus (12/64
    // buckets, 41 %), not a law: batch ids sample buckets
    // mass-proportionally, so at 100× (25/126 buckets) the touched fifth
    // carries ~62 % of the skew-concentrated pair mass.
    def partiality(op: String, touched: Set[Int], sizes: Map[Int, Long]): Unit = {
      val totalPairs = sizes.values.map(c => c * (c - 1)).sum
      val opPairs = touched.toSeq.map(b => sizes.getOrElse(b, 0L)).map(c => c * (c - 1)).sum
      System.err.println(f"[floors] beam_$op: pairs=${opPairs * 100.0 / totalPairs}%.0f%% " +
        f"of full (${touched.size}/${sizes.size} buckets)")
      if (!(touched.size <= batchN && touched.size < sizes.size && opPairs < totalPairs))
        errs += s"beam $op floor: rescored $opPairs of $totalPairs pairs across " +
          s"${touched.size}/${sizes.size} buckets — partiality broke"
      else if (opPairs * 2 >= totalPairs)
        errs += s"beam $op floor: rescored $opPairs of $totalPairs pairs — " +
          "affected-bucket partiality is not bounding the quadratic term"
    }
    val tmp = java.nio.file.Files.createTempDirectory("beam_floors").toFile
    try {
      val appendIdx = s"$tmp/append"
      BeamIndex.beamIndexCreate(spark, ne.filter(col("vec_id") < batchFrom), planes, appendIdx)
      BeamIndex.beamIndexAppend(spark, ne, appendIdx)
      val appended = BeamIndex.beamNodesFrame(spark, appendIdx)
      partiality("append", bucketsOf(appended), bucketSizes(appended))

      // delete the batch's ids, then upsert them back (monotone re-add,
      // AnnIndexStream's CDC batch shape)
      val cdcIdx = s"$tmp/cdc"
      BeamIndex.beamIndexCreate(spark, ne, planes, cdcIdx)
      val affected = bucketsOf(BeamIndex.beamNodesFrame(spark, cdcIdx))
      BeamIndex.beamIndexDelete(spark,
        ne.filter(col("vec_id") < batchFrom).localCheckpoint(true, StorageLevel.DISK_ONLY),
        spark.range(batchFrom, nDocs).select(col("id").as("vec_id")), cdcIdx)
      partiality("delete", affected, bucketSizes(BeamIndex.beamNodesFrame(spark, cdcIdx)))
      // unaffected buckets still read their ORIGINAL generation's
      // leaves (the manifest remaps only affected ones)
      val stale = BeamIndex.beamManifest(spark, cdcIdx).knDirs.filter {
        case (b, d) => !affected.contains(b) && !d.startsWith("g0/") }
      if (stale.nonEmpty)
        errs += s"beam delete floor: rewrote unaffected kn leaves: ${stale.take(5)}"
      BeamIndex.beamIndexAppend(spark, ne, cdcIdx)
      val restored = BeamIndex.beamMeta(spark, cdcIdx)._2
      if (restored != nDocs)
        errs += s"beam CDC floor: upsert restored $restored of $nDocs vectors"
      errs ++= twinsInTop5("post-CDC beam", BeamIndex.beamSearchPlan(spark, cdcIdx, ne), nDocs)
    } finally ArtifactCache.deleteRecursively(tmp)
    errs.toSeq
  }

  private[graft] def sf40TimingFloors(spark: SparkSession, dir: String): Seq[String] = {
    def secs(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      Bench.force(df)
      (System.nanoTime() - t0) / 1e9
    }
    // Beam query-batch scaling: a production search runs thousands of
    // queries per batch, not the oracle family's 5 — and the per-hop
    // dataflow carries only (q_id, cand) pairs, so 100× the queries
    // must cost FAR less than 100× the time (the hub/bucket entry scan
    // and the edge table are shared across the whole batch). Both runs
    // search the same persisted index; the bound is a generous
    // half-linear to stay robust to job-overhead noise.
    val idx = BeamIndex.beamIndexFor(spark, dir)
    val ne = beamVectors(spark, dir)
    def tSearch(qs: Long) = secs(BeamIndex.beamSearchPlan(spark, idx, ne, queryLimit = qs))
    tSearch(5) // warm-up (graph read + codegen)
    val (t5, t500) = (tSearch(5), tSearch(500))
    System.err.println(f"[floors] beam_batch: t5=$t5%.2fs t500=$t500%.2fs " +
      f"ratio=${t500 / t5}%.1fx for 100x queries")
    // BPE marginal-iteration cost: after the one corpus-wide word
    // count every merge iteration is VOCAB-sized, so the 4 extra
    // iterations of an 8-merge run must cost less than the whole
    // 4-merge run (t8 < 2·t4); corpus-sized iterations would land at
    // ~2× and a quadratic rewrite far above. One warm-up pass first so
    // page cache/JIT don't bias the delta.
    def tTrain(m: Int) = secs(graft.text.TextQueries.bpeTrainPlan(spark, dir, m))
    tTrain(4) // warm-up
    val (t4, t8) = (tTrain(4), tTrain(8))
    System.err.println(f"[floors] bpe_iters: t4=$t4%.2fs t8=$t8%.2fs " +
      f"marginal=${(t8 - t4) / 4}%.2fs/iter")
    Seq(
      Option.when(t500 >= 50 * t5)(f"beam batch floor: 100x queries cost " +
        f"${t500 / t5}%.1fx — beam search scales linearly-or-worse in query count"),
      Option.when(t8 >= 2 * t4)(f"BPE floor: 4 extra merges cost ${t8 - t4}%.2fs " +
        f"vs $t4%.2fs for the whole 4-merge run — iterations are not vocab-sized")
    ).flatten
  }

  /** The normalized-embeddings frame the beam index builders take,
    * checkpointed DISK_ONLY (corpus-scale vectors, the r16 rule). */
  private def beamVectors(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
}
