package graft.similarity

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Behavioral checks the DuckDB oracle can't express: near-dup
  * detection actually fires on planted duplicates (the driver corpus is
  * duplicate-free), and signature properties hold.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Tiny documents table with planted dups: 1 is an exact copy of 0,
    * 2 a one-word edit of 0, 3 unrelated. */
  private lazy val docsDir: String = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (0L, base.trim, "en", "src0", base.trim.length.toLong),
      (1L, base.trim, "en", "src0", base.trim.length.toLong),
      (2L, base.trim.replaceFirst("beta", "BETA"), "en", "src0", base.trim.length.toLong),
      (3L, "totally different words with zero overlap at all here now then", "en",
        "src1", 60L))
    val dir = Files.createTempDirectory("simdocs").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_dedup collapses exact duplicates to the smallest doc_id") {
    val out = graft.text.TextQueries.dedup.run(spark, docsDir)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out.contains((0L, 2L))) // docs 0 and 1 collapse, 0 survives
  }

  test("q_minhash_lsh: exact duplicates collide in all 4 bands; unrelated docs never pair") {
    val full = NearDupQueries.minhashLsh.run(spark, docsDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(full((0L, 1L)) === 4L)
    assert(!full.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("q_ngram_jaccard: near-identical docs pass the 0.1 threshold, unrelated don't") {
    val pairs = NearDupQueries.ngramJaccard.run(spark, docsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("q_embed_dedup: planted duplicate vectors pair with sim 1.0; orthogonal ones don't") {
    val dir = Files.createTempDirectory("embdocs").toString
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val ortho = Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f) * math.cos(i * 0.3).toFloat)
    Seq(
      (0L, base.toSeq, 0), (1L, base.toSeq, 0), // exact duplicates
      (2L, ortho.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = ClusterQueries.embedDedup.run(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((0L, 1L)).contains(1.0)) // same bucket, cosine 1
    assert(!pairs.keySet.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("q_knn_graph: a planted duplicate is its twin's top-1 neighbour at sim 1") {
    val dir = Files.createTempDirectory("knndocs").toString
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val ortho = Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f) * math.cos(i * 0.3).toFloat)
    Seq((0L, base.toSeq, 0), (1L, base.toSeq, 0), (2L, near.toSeq, 0),
      (3L, ortho.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val g = VectorQueries.knnGraph.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val top0 = g.find(e => e._1 == 0L && e._4 == 1L).get
    assert(top0._2 == 1L && top0._3 == 1.0, s"doc 0's top-1 was $top0")
    // k caps the degree
    assert(g.groupBy(_._1).values.forall(_.length <= 3))
    // cosine stays in [-1, 1] (normalized frame)
    assert(g.forall(e => e._3 >= -1.0 - 1e-9 && e._3 <= 1.0 + 1e-9))
  }

  test("planesFor: pairwise-distinct, non-proportional planes at every supported width") {
    // r14 regression: the original weight formula repeated with period
    // 7 in j (119 ≡ 0 mod 7), so plane 7 duplicated plane 0 — widths
    // above 7 silently capped bucket diversity at 128 and the 500k-doc
    // tier re-hit the in-bucket quadratic. Duplicate AND negated/
    // proportional planes both halve diversity, so the gate rejects
    // proportionality, not just equality.
    val ps = VectorQueries.planesFor(26).map(_.toSeq)
    for (a <- ps.indices; b <- (a + 1) until ps.size) {
      val ratios = ps(a).zip(ps(b)).flatMap {
        case (0, 0) => None
        case (x, y) if x == 0 || y == 0 => Some(Double.NaN) // not proportional
        case (x, y) => Some(x.toDouble / y)
      }.distinct
      assert(ratios.size != 1 || ratios.head.isNaN,
        s"planes $a and $b are proportional: the bucket bit is redundant")
    }
    // the first 7 planes are the committed oracle family — frozen
    val legacy = (0 until 7).map(j =>
      (0 until 64).map(i => ((i * 31 + j * 17) % 7) - 3))
    assert(ps.take(7).map(_.toSeq) === legacy,
      "planes 0-6 must stay bit-identical to the committed oracle literals")
    // beyond the verified band the family fails loudly
    assertThrows[IllegalArgumentException](VectorQueries.planesFor(27))
  }

  test("signBuckets: widened widths REFINE the demo buckets (prefix property)") {
    // The scale knob for the embedding family is the sign-LSH plane
    // count (derived per corpus by autoPlaneCount). planesFor(n)
    // extends the same deterministic weight formula, so a wider
    // bucketing must be a refinement of the 4-plane demo bucketing:
    // the top 4 bits agree (bucket6 >> 2 == bucket4), meaning widening
    // only ever SPLITS buckets — candidate sets shrink monotonically,
    // never shift sideways.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        lit(1.0).as("nrm"))
    val b4 = VectorQueries.signBuckets(emb, 4)
      .select(col("vec_id"), col("bucket").as("b4"))
    val b6 = VectorQueries.signBuckets(emb, 6)
      .select(col("vec_id"), col("bucket").as("b6"))
    val joined = b4.join(b6, Seq("vec_id"))
      .as[(Long, Int, Int)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (id, v4, v6) =>
      assert(v6 >= 0 && v6 < 64, s"vec $id: 6-plane bucket $v6 out of range")
      assert(v6 >> 2 === v4, s"vec $id: widening moved the vector across " +
        s"demo buckets ($v6 >> 2 != $v4)")
    }
    assert(joined.map(_._3).distinct.length > joined.map(_._2).distinct.length,
      "6 planes should populate more buckets than 4 on 500 vectors")
  }

  test("q_simhash: identical docs get identical signatures; unrelated docs differ") {
    val sig = NearDupQueries.simhash.run(spark, docsDir)
      .as[(Long, Long)].collect().toMap
    assert(sig(0L) === sig(1L))
    assert(sig(0L) !== sig(3L))
    assert(sig.values.forall(s => s >= 0 && s < (1L << 32)))
  }

  test("q_minhash_est: exact duplicates estimate 8/8 with inter == union") {
    val rows = NearDupQueries.minhashEst.run(spark, docsDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val (m01, i01, u01) = rows((0L, 1L))
    assert(m01 == 8L, "identical docs must agree on every seed")
    assert(i01 == u01, "identical docs: intersection == union")
    // the near-dup (doc 2, one-token edit) estimates high but not
    // necessarily perfect, and its true Jaccard is below 1
    rows.get((0L, 2L)).foreach { case (m, i, u) =>
      assert(m >= 4L && i < u)
    }
  }

  test("q_dedup_keep_best: one keeper per near-dup cluster, quality-ranked, id tiebreak") {
    val rows = NearDupQueries.dedupKeepBest.run(spark, docsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // docs 0,1 (exact copies) + 2 (near-dup) cluster together; 3 alone.
    val clustered = rows.find(_._3 >= 2).get
    assert(clustered._1 == 0L, "cluster labelled by min doc_id")
    // identical text ⇒ identical scores for 0 and 1 ⇒ the keeper is
    // whichever of the cluster scores best, tie-broken by doc_id — so
    // never doc 1 (doc 0 dominates it on the tiebreak)
    assert(clustered._2 != 1L)
    assert(rows.exists(r => r._1 == 3L && r._2 == 3L && r._3 == 1L),
      "singleton keeps itself")
    // exactly one keeper per component
    assert(rows.map(_._1).distinct.size == rows.size)
  }

  test("q_simhash_pairs: banding loses NO pair within Hamming radius 3 (vs brute force)") {
    // Pigeonhole completeness: compare against an all-pairs popcount
    // over the real corpus signatures (500 docs → 125k pairs, trivial
    // in memory, impossible at scale — which is the point of banding).
    val dir = "/root/testdata/sf0.001"
    val sigs = NearDupQueries.simhash.run(spark, dir)
      .as[(Long, Long)].collect()
    val brute = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs
      if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ida, idb, d.toLong)).toSet
    val banded = NearDupQueries.simhashPairs.run(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded === brute)
  }

  test("q_simhash_pairs wide path (16-bit bands, r19): banding loses NO radius-3 pair") {
    // The corpus-derived width only goes wide at >=50k docs, so the
    // unit pin drives the factored pipeline at bb=16 directly and
    // compares against an all-pairs popcount over the band columns —
    // same pigeonhole argument (4 bands, <=3 flips -> >=1 clean band),
    // now at per-band collision 2^-16.
    val dir = "/root/testdata/sf0.001"
    val sigs = NearDupQueries.simhashBands(spark, dir, 16)
      .as[(Long, Long, Long, Long, Long)].collect()
    val brute = (for {
      a <- sigs; b <- sigs
      if a._1 < b._1
      d = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3) +
        java.lang.Long.bitCount(a._4 ^ b._4) +
        java.lang.Long.bitCount(a._5 ^ b._5)
      if d <= 3
    } yield (a._1, b._1, d.toLong)).toSet
    val banded = NearDupQueries.simhashPairsAt(spark, dir, 16)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded === brute)
    // non-circular bb=8 pin (ADVICE r19: asserting simhashPairsAt(8)
    // == simhashPairs.run was circular — at 500 docs the public query
    // derives bb=8 and calls simhashPairsAt itself, and the r18
    // legacy implementation it claimed to match was deleted): drive
    // the factored 8-bit path directly and compare against the same
    // all-pairs popcount brute over the scalar 64-bit digest
    val sigs8 = NearDupQueries.simhash.run(spark, dir)
      .as[(Long, Long)].collect()
    val brute8 = (for {
      (ida, ha) <- sigs8; (idb, hb) <- sigs8
      if ida < idb
      d8 = java.lang.Long.bitCount(ha ^ hb)
      if d8 <= 3
    } yield (ida, idb, d8.toLong)).toSet
    assert(NearDupQueries.simhashPairsAt(spark, dir, 8)
      .as[(Long, Long, Long)].collect().toSet === brute8)
  }

  test("q_simhash_pairs: planted exact duplicate pairs at Hamming 0") {
    val pairs = NearDupQueries.simhashPairs.run(spark, docsDir)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
  }

  test("q_dedup_components clusters transitively and labels with the min doc_id") {
    // docs 0,1 exact copies, 2 a one-word edit of 0: the minhash pair
    // graph connects them (possibly only via 0) -> one cluster labeled
    // 0; doc 3 is unrelated -> its own singleton component.
    val comp = NearDupQueries.dedupComponents.run(spark, docsDir)
      .as[(Long, Long)].collect().toMap
    assert(comp(0L) === 0L)
    assert(comp(1L) === 0L)
    assert(comp(3L) === 3L)
    assert(comp.size === 4) // singletons included
  }

  test("labelComponents converges on a 200-node chain (pointer-doubling shortcut)") {
    // Diameter-199 path graph: plain min-label propagation needs 199
    // rounds and used to trip the 20-round cap; the shortcut halves
    // label-chain depth per round, so this must converge AND label
    // every node 0. A disjoint 3-node chain checks labels don't leak
    // across components.
    val nodes = (0L until 200L).union(Seq(1000L, 1001L, 1002L)).toDF("n")
    val edges = (0L until 199L).map(i => (i, i + 1))
      .union(Seq((1000L, 1001L), (1001L, 1002L)))
      .toDF("src", "dst")
    val lbl = NearDupQueries.labelComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert((0L until 200L).forall(lbl(_) == 0L), "chain must collapse to min id 0")
    assert(Seq(1000L, 1001L, 1002L).forall(lbl(_) == 1000L),
      "disjoint component keeps its own min label")
    assert(lbl.size === 203)
  }

  /** Sequential in-memory Lloyd training for one subspace: the rules
    * [[ClusterQueries.lloydTrain]] claims (squared-euclidean argmin
    * with smallest-cell tiebreak, floorDiv means, empty cells keep
    * their previous centroid) as plain loops, no Spark. */
  private def lloydReplica(vecs: Seq[Array[Long]], seeds: Array[(Long, Array[Long])],
                           rounds: Int): Array[(Long, Array[Long])] = {
    var cents = seeds
    for (_ <- 1 to rounds) {
      val members = scala.collection.mutable.Map.empty[Long, List[Array[Long]]]
      vecs.foreach { v =>
        val best = cents.map { case (cid, c) =>
          (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
        }.min
        members(best._2) = v :: members.getOrElse(best._2, Nil)
      }
      cents = cents.map { case (cid, old) =>
        members.get(cid).fold(cid -> old) { vs =>
          cid -> old.indices.map(d =>
            Math.floorDiv(vs.map(_(d)).sum, vs.size.toLong)).toArray
        }
      }
    }
    cents
  }

  /** Seeded gaussian embeddings of `n` × `dim` written as a
    * deliberately awkwardly partitioned embeddings table; returns the
    * dir and the engine's own ×1e6 scaling of each vector, in vec_id
    * order. The scaling comes from the ENGINE's expression — JVM
    * math.round is half-toward-+inf while Spark round is
    * half-away-from-zero, so replicating it by hand would latently
    * diverge on negative half-integer scalings. The property under
    * test is the training loop's partitioning-independence, not the
    * scaler. */
  private def randomEmbeddings(seed: Int, n: Int, dim: Int): (String, Seq[Array[Long]]) = {
    val rnd = new scala.util.Random(seed)
    val vecs = (0 until n).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * seed).toFloat).toSeq, 0))
    val dir = Files.createTempDirectory(s"kmeans$seed").toString
    vecs.toDF("vec_id", "embedding", "label")
      .repartition(7)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val scaled = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1e6) as bigint))")
          .as("vi"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    (dir, scaled.map(_._2).toSeq)
  }

  test("IVF k-means trainer matches an independent JVM replica on random data") {
    // The cross-engine contract is "fixed-point arithmetic makes the
    // trained centroids partitioning-independent". Verify against the
    // sequential replica on seeded random datasets — Spark's partial
    // aggregation order must not leak into the result. k and the round
    // count come from the corpus size, so n = 10,000 also runs the
    // extra Lloyd round (lloydRounds) with 16 cells.
    Seq(1 -> 187, 2 -> 224, 3 -> 261, 4 -> 10000).foreach { case (seed, n) =>
      val (dir, scaled) = randomEmbeddings(seed, n, 16)
      val k = ClusterQueries.ivfCellCount(n.toLong)
      val cents = lloydReplica(scaled,
        (0 until k).map(id => id.toLong -> scaled(id)).toArray,
        ClusterQueries.lloydRounds(n.toLong))

      val got = ClusterQueries.trainIvfCentroids(spark, dir)
      assert(got.map(_._1).toSeq === cents.map(_._1).toSeq, s"seed $seed ids")
      got.zip(cents).foreach { case ((id, a), (_, b)) =>
        assert(a.toSeq === b.toSeq, s"seed $seed centroid $id diverged")
      }
    }
  }

  test("PQ codebook trainer matches an independent JVM replica per subspace") {
    // Same contract as the IVF trainer, per subspace: 64-dim vectors
    // cut into M = 8 sub-vectors of 8, K = pqCodebookSize(n) codes
    // seeded with the K smallest vec_ids' slices. n = 10,000 runs the
    // extra Lloyd round with K = 8; n = 600 runs two rounds with K = 4.
    Seq(5 -> 600, 6 -> 10000).foreach { case (seed, n) =>
      val (dir, scaled) = randomEmbeddings(seed, n, 64)
      val pqK = ClusterQueries.pqCodebookSize(n.toLong)
      val got = ClusterQueries.trainPqCodebooks(spark, dir)
      assert(got.length === ClusterQueries.PqM && got.forall(_.length === pqK),
        s"seed $seed geometry")
      (0 until ClusterQueries.PqM).foreach { m =>
        val sub = scaled.map(_.slice(m * ClusterQueries.PqSub, (m + 1) * ClusterQueries.PqSub))
        val want = lloydReplica(sub,
          (0 until pqK).map(c => c.toLong -> sub(c)).toArray,
          ClusterQueries.lloydRounds(n.toLong))
        want.foreach { case (c, b) =>
          assert(got(m)(c.toInt).toSeq === b.toSeq, s"seed $seed subspace $m cell $c diverged")
        }
      }
    }
  }

  test("labelComponents returns 0 rows (no NPE) on an empty node set") {
    val nodes = Seq.empty[Long].toDF("n")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(NearDupQueries.labelComponents(nodes, edges).count() === 0L)
  }

  test("shingle DF cap bounds the hot-shingle join blowup") {
    // 40 docs that all share one hot 3-gram ("common hot shingle") but
    // are otherwise disjoint: the uncapped self-join pays C(40,2)=780
    // candidate pairs for a shingle that carries zero near-dup signal;
    // with the cap the bucket disappears and the pair count is 0.
    val dir = Files.createTempDirectory("hotshingle").toString
    (0 until 40).map { i =>
      val text = s"common hot shingle unique$i word$i tail$i extra$i"
      (i.toLong, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def candidatePairs(maxDf: Int): Long = {
      val sh = NearDupQueries.shingles(spark, dir, maxDf)
      sh.as("a")
        .join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .count()
    }
    assert(candidatePairs(maxDf = 100) >= 780L) // uncapped: quadratic in the hot bucket
    assert(candidatePairs(maxDf = 10) === 0L)   // capped: hot shingle never joins
  }

  test("capped pair mass is linear in corpus size: sum C(df,2) <= (cap-1)/2 x occurrences") {
    // The q_ngram_jaccard growth bound (r14 verdict #5, SCALE.md
    // §r15): with the DF cap D, every surviving shingle contributes
    // C(df,2) <= df·(D−1)/2 candidate pairs, so the TOTAL pair mass is
    // bounded by (D−1)/2 × (surviving shingle occurrences) — linear in
    // corpus size at any shingle distribution, Zipf tails included
    // (the tail's hot shingles are exactly the ones the cap DROPS).
    // Gate it on a corpus engineered to stress the bound: many
    // mid-frequency shingles just under the cap (the worst survivors).
    val dir = Files.createTempDirectory("pairmass").toString
    val cap = 8
    // 96 docs in 12 groups of 8: each group shares its own 3-gram
    // (df = 8 = cap boundary... kept at df <= cap), plus unique filler
    (0 until 96).map { i =>
      val g = i / 8
      val text = s"group$g shared shingle$g u${i}a u${i}b u${i}c u${i}d"
      (i.toLong, text, "en", "s", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sh = NearDupQueries.shingles(spark, dir, cap)
    val occurrences = sh.count()
    val pairMass = sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .count()
    assert(pairMass > 0, "fixture must generate in-cap collisions")
    assert(pairMass <= (cap - 1).toLong * occurrences / 2,
      s"capped pair mass $pairMass exceeded the linear bound " +
        s"(cap-1)/2 x occ = ${(cap - 1).toLong * occurrences / 2}")
  }

  /** Planted-cluster embeddings: vec_ids 0-4 are query centers, each
    * with 5 near-duplicate neighbors (center + small noise, cosine
    * ~0.998), plus 200 unrelated background vectors. Deterministic
    * (seeded java.util.Random is spec-stable across JVMs). */
  private lazy val clusterDir: String = {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(5)(unit())
    val rows = Seq.newBuilder[(Long, Seq[Float], Int)]
    centers.zipWithIndex.foreach { case (c, q) => rows += ((q.toLong, c.map(_.toFloat).toSeq, q)) }
    var id = 5L
    centers.zipWithIndex.foreach { case (c, q) =>
      (0 until 5).foreach { _ =>
        val v = c.map(x => x + 0.05 * rnd.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        rows += ((id, v.map(x => (x / n).toFloat).toSeq, q)); id += 1
      }
    }
    (0 until 200).foreach { _ => rows += ((id, unit().map(_.toFloat).toSeq, -1)); id += 1 }
    val dir = Files.createTempDirectory("annclusters").toString
    rows.result().toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }

  /** Brute-force ground truth over the planted fixture, computed once
    * and shared by every ANN-variant recall test. */
  private lazy val bruteTruth: Map[Long, Set[Long]] =
    top5(VectorQueries.cosineTopK.run(spark, clusterDir))

  private def avgRecallAt5(q: graft.Q): Double = {
    val got = top5(q.run(spark, clusterDir))
    val recalls = bruteTruth.map { case (k, t) =>
      t.intersect(got.getOrElse(k, Set.empty)).size.toDouble / t.size
    }
    recalls.sum / recalls.size
  }

  test("q_ann_lsh recall@5 vs brute-force ground truth >= 0.6 on clustered data") {
    val avg = avgRecallAt5(VectorQueries.annLsh)
    assert(avg >= 0.6, s"multi-probe ANN recall degraded: avg=$avg")
  }

  test("q_ann_ivf recall@5 vs brute-force ground truth >= 0.8 on clustered data") {
    // Trained (2-iteration fixed-point k-means) quantizer reaches 1.0
    // on the planted clusters; 0.8 is the floor the untrained
    // first-8-vectors quantizer already met — regression below it
    // means training broke.
    val avg = avgRecallAt5(ClusterQueries.annIvf)
    assert(avg >= 0.8, s"IVF ANN recall degraded: avg=$avg")
  }

  test("q_pq_adc recall@5 vs brute-force ground truth >= 0.6 on clustered data") {
    // PQ compresses the corpus to 8 codes/vector (4 codes per
    // subspace): coarse by design, but planted clusters separate far
    // beyond quantization error, so ADC should still surface mostly
    // true neighbors. The floor is the observed value minus slack;
    // dropping below it means training or the ADC lookup broke.
    val avg = avgRecallAt5(ClusterQueries.pqAdc)
    assert(avg >= 0.6, s"PQ-ADC recall degraded: avg=$avg")
  }

  test("q_ann_beam recall@5 vs brute-force ground truth >= 0.9 on clustered data") {
    // Graph navigation thrives exactly where LSH buckets struggle:
    // each query is a planted cluster center, the kNN edges chain its
    // members together, and one hub (or finger) landing anywhere in
    // the cluster routes the beam to all of it. Measured 1.0 on this
    // fixture; 0.9 is the regression floor. (On the unstructured
    // sf0.01 gaussians it measures 0.72, vs multiprobe LSH's 0.64.)
    val avg = avgRecallAt5(BeamIndex.annBeam)
    assert(avg >= 0.9, s"beam-search ANN recall degraded: avg=$avg")
  }

  test("PQ codebook trainer: codebooks are M x K x sub and iteration reduces distortion") {
    val cb = ClusterQueries.trainPqCodebooks(spark, clusterDir)
    assert(cb.length === 8 && cb.forall(_.length === 4)
      && cb.flatten.forall(_.length === 8), "codebook geometry")
    // every code vector stays inside the fixed-point domain of the data
    assert(cb.flatten.flatten.forall(x => math.abs(x) <= 2000000L),
      "centroid left the +/-2e6 fixed-point data range")
  }

  test("q_embed_quant: codes match a JVM replica; dequant error <= scale/2") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq(
      0L -> Array(0f, 1f, 2f),
      1L -> Array(5f, 5f, 5f), // constant -> scale 0 -> all-zero codes
      2L -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val dir = Files.createTempDirectory("quant").toString
    vecs.map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = ClusterQueries.embedQuant.run(spark, dir)
      .select("vec_id", "q_sum").as[(Long, Long)].collect().toMap
    vecs.foreach { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val (mn, mx) = (v.min, v.max)
      val scale = (mx - mn) / 255.0
      if (scale == 0) assert(got(id) === 0L, s"vec $id")
      else {
        // codes are non-negative, so math.round (HALF_UP toward +inf)
        // matches Spark/DuckDB round (HALF_UP away from zero)
        val codes = v.map(x => math.round((x - mn) / scale))
        assert(got(id) === codes.sum, s"vec $id")
        // the guarantee the 4x memory cut rests on
        val maxErr = v.zip(codes).map { case (x, q) =>
          math.abs(x - (mn + q * scale)) }.max
        assert(maxErr <= scale / 2 + 1e-12, s"vec $id: err $maxErr > ${scale / 2}")
      }
    }
  }

  test("q_kmeans_cluster partitions the whole corpus into k cells with exact cohesion sums") {
    val rows = ClusterQueries.kmeansCluster.run(spark, clusterDir).collect()
    assert(rows.length <= 8, s"more cells than centroids: ${rows.length}")
    assert(rows.map(_.getLong(1)).sum === 230L) // every vector lands in exactly one cell
    rows.foreach { r =>
      val (n, sum, mn, mx) = (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(mn <= mx && sum >= n * mn - 1e-6 && sum <= n * mx + 1e-6,
        s"cell ${r.getLong(0)}: cohesion sum $sum outside [$n*$mn, $n*$mx]")
    }
  }

  test("q_semantic_dedup prunes planted near-duplicates inside their cell, keeps the corpus count") {
    val rows = ClusterQueries.semanticDedup.run(spark, clusterDir).collect()
    assert(rows.map(_.getLong(1)).sum === 230L)
    // The 25 planted neighbors (cosine ~0.998 to their center, which has a
    // smaller vec_id and the same nearest cell on this fixture) must all be
    // pruned; random 64-dim background vectors may add a few more pairs.
    val pruned = rows.map(_.getLong(2)).sum
    assert(pruned >= 25L, s"planted near-duplicates not pruned: only $pruned")
    // A pruned vector is never the keeper: checksum only counts ids >= 5
    // (centers 0-4 are the smallest ids in their cells on this fixture).
    rows.foreach(r => assert(r.getLong(3) >= 0L))
  }

  test("q_ann_lsh_shuffle returns exactly the broadcast variant's rows") {
    val a = VectorQueries.annLsh.run(spark, clusterDir)
      .collect().map(_.toSeq).toSet
    val b = VectorQueries.annLshShuffle.run(spark, clusterDir)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("q_knn_classify: census partitions the corpus, votes match a replica") {
    val dir = "/root/testdata/sf0.001"
    val out = VectorQueries.knnClassify.run(spark, dir)
      .as[(Int, Int, Long)].collect()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.map(_._3).sum == nVecs,
      "confusion cells must partition the vector set")
    // replica: majority vote (tie -> min label) over the SAME kNN edges
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val kn = VectorQueries.knnGraph.run(spark, dir)
      .select(col("vec_id"), col("nbr_id")).as[(Long, Long)].collect()
    val predicted = kn.groupBy(_._1).map { case (v, nbrs) =>
      val byLabel = nbrs.map(n => labels(n._2))
        .groupBy(identity).map { case (l, g) => (l, g.size) }
      v -> byLabel.toSeq.minBy { case (l, c) => (-c, l) }._1
    }
    val confusion = predicted.toSeq
      .groupBy { case (v, p) => (labels(v), p) }
      .map { case (k, g) => (k._1, k._2, g.size.toLong) }.toSet
    assert(out.map(r => (r._1, r._2, r._3)).toSet === confusion)
  }

  test("q_rrf: fused scores are exactly the sum of the per-modality RRF terms") {
    val dir = "/root/testdata/sf0.001"
    val out = VectorQueries.rrf.run(spark, dir).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val rk = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val rd = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(rk.isDefined || rd.isDefined,
        "a fused doc must come from at least one modality")
      val expect = rk.map(v => 1.0 / (60 + v)).getOrElse(0.0) +
        rd.map(v => 1.0 / (60 + v)).getOrElse(0.0)
      val got = r.getDouble(3)
      assert(math.abs(got - expect) < 1e-8, s"id ${r.getLong(0)}: $got vs $expect")
      // bounds: one rank-1 list gives 1/61; both rank-1 gives 2/61
      assert(got > 0.0 && got <= 2.0 / 61 + 1e-12)
    }
    // descending fused order with id tie-break
    val scores = out.map(r => (r.getDouble(3), r.getLong(0)))
    assert(scores.sliding(2).forall { case Array(p, n) =>
      p._1 > n._1 || (p._1 == n._1 && p._2 < n._2) })
  }

  test("q_ndcg matches a sequential replica over the exact top-10 ranking") {
    val dir = "/root/testdata/sf0.001"
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val classCnt = labels.values.groupBy(identity).map { case (l, g) => l -> g.size }
    val ranked = VectorQueries.cosineTopK.run(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rn")).as[(Long, Long, Long)]
      .collect().groupBy(_._1)
    val out = VectorQueries.ndcg.run(spark, dir).collect()
    assert(out.length == 5)
    out.foreach { r =>
      val (q, nRel, dcgR, ndcgR) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      val ql = labels(q)
      val rels = ranked(q).sortBy(_._3)
        .map { case (_, v, _) => if (labels(v) == ql) 1.0 else 0.0 }
      assert(nRel === rels.sum.toLong)
      val dcg = rels.zipWithIndex
        .map { case (rel, i) => rel / (math.log(i + 2) / math.log(2)) }.sum
      val rTotal = classCnt(ql) - 1
      val idcg = (1 to math.min(rTotal, 10))
        .map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum
      assert(math.abs(dcgR - dcg) < 1e-6, s"probe $q: dcg $dcgR vs $dcg")
      assert(math.abs(ndcgR - dcg / idcg) < 1e-6, s"probe $q: ndcg")
      assert(ndcgR >= 0.0 && ndcgR <= 1.0 + 1e-12)
    }
  }

  test("sign-LSH widths nest (bucket(w+Δ) >> Δ == bucket(w)) and autoPlaneCount derives them") {
    // The refinement property is what makes the width safe to DERIVE
    // per corpus: widening only splits buckets, never reshuffles
    // membership, so a corpus growing past a width threshold loses
    // candidates only to the documented recall trade — pinned at 40×
    // by the sf40 tier's planted-twin kNN floor.
    val rnd = new scala.util.Random(7)
    val emb = (0 until 64).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian()))).toDF("vec_id", "v")
    val b4 = VectorQueries.signBuckets(emb, 4)
      .select(col("vec_id"), col("bucket").as("b4"))
    val b6 = VectorQueries.signBuckets(emb, 6)
      .select(col("vec_id"), col("bucket").as("b6"))
    val broken = b4.join(b6, "vec_id")
      .filter(expr("b6 div 4") =!= col("b4")).count()
    assert(broken === 0L, "widening reshuffled bucket membership")
    // The log2 rule lands on the oracle demo width at the 500-doc
    // corpora and on the ScaleSmoke-established widths beyond — the
    // "no knob change between sf0.01 and 100x" contract.
    assert(VectorQueries.autoPlaneCount(500L) === 4)
    assert(VectorQueries.autoPlaneCount(20000L) === 6)
    assert(VectorQueries.autoPlaneCount(50000L) === 7)
  }
}
