package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** PageRank invariants beyond the DuckDB hash compare: probability-mass
  * conservation and an independent sequential JVM replica (same style
  * as the k-means cross-check in SimilaritySpec).
  */
class GraphQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  private def roundAt(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("symEdges carries its hash(a) partitioning through the checkpoint (r21)") {
    // The r21 shared artifact pre-partitions the symmetrized edge list
    // so source-keyed consumers reuse ONE build-time exchange. That
    // only works if the LogicalRDD behind localCheckpoint preserves
    // outputPartitioning — pin it: a groupBy on the partition key must
    // plan WITHOUT an Exchange (a Spark upgrade that drops the
    // propagation would silently re-add 8 queries' shuffles).
    val sym = GraphQueries.symEdges(spark, dir)
    val plan = sym.groupBy(col("a")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"degree census over symEdges re-exchanged:\n$plan")
  }

  test("q_pagerank: top-25 matches a sequential in-memory replica") {
    // Rebuild the undirected supplier↔part graph and iterate the same
    // damped update with the same per-step rounding, single-threaded.
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .distinct().as[(Long, Long)].collect()
    val edges = (li ++ li.map(e => (e._2, e._1))).toSeq
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n = outdeg.size
    var r: Map[Long, Double] = outdeg.map { case (k, _) => k -> roundAt(1.0 / n, 12) }
    for (_ <- 1 to 3) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        // DECIMAL-exact sum of 14-dp-rounded contributions
        dst -> es.map(e => BigDecimal(roundAt(r(e._1) / outdeg(e._1), 14)))
          .sum.toDouble
      }
      r = r.map { case (k, _) =>
        k -> roundAt(0.15 / n + 0.85 * contribs.getOrElse(k, 0.0), 12)
      }
    }
    val expect = r.toSeq.sortBy { case (k, v) => (-v, k) }.take(25)
    val got = GraphQueries.pagerank.run(spark, dir)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) === expect.map(_._1), "top-25 node order differs")
    got.zip(expect).foreach { case ((_, gr), (_, er)) =>
      assert(math.abs(gr - er) < 1e-9, s"rank $gr vs replica $er")
    }
  }

  test("q_triangles matches a brute-force census of the same kNN edge set") {
    val edges = graft.similarity.VectorQueries.knnGraph.run(spark, dir)
      .select(col("vec_id"), col("nbr_id")).as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    // NB: iterate the neighbour set as a Seq — a for-comprehension
    // whose inner generator is a Set would collapse the yielded marks
    // and undercount edges that close more than one triangle
    val tris = (for {
      (a, b) <- edges.toSeq
      c <- adj(a).toSeq if c > b && adj(b).contains(c)
    } yield 1).size.toLong
    val row = GraphQueries.triangles.run(spark, dir)
      .as[(Long, Long, Long, Double)].collect().head
    assert(row._1 == edges.size.toLong, "edge count")
    assert(row._2 == wedges, "wedge count")
    assert(row._3 == tris, "triangle count")
  }

  test("q_bfs: distances match a sequential in-JVM BFS over the same edges") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .distinct().as[(Long, Long)].collect()
    val adj = (li ++ li.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // textbook queue BFS from node 2, capped at 6 hops like the query
    val seen = scala.collection.mutable.Map(2L -> 0L)
    var frontier = Set(2L)
    for (h <- 1L to 6L) {
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen.keySet
      frontier.foreach(seen(_) = h)
    }
    val got = GraphQueries.bfs.run(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got === seen.toMap, "frontier dataflow diverged from sequential BFS")
  }

  test("q_pagerank: ranks are valid probabilities (25 rows, each in (0,1), sum < 1)") {
    val ranks = GraphQueries.pagerank.run(spark, dir).as[(Long, Double)].collect()
    assert(ranks.length == 25)
    assert(ranks.forall { case (_, v) => v > 0 && v < 1 })
    assert(ranks.map(_._2).sum < 1.0 + 1e-9)
  }

  test("label propagation: two disjoint cliques each collapse to their min node id") {
    // K4 on {1,2,3,4} and K4 on {11,12,13,14}: within a clique every
    // node adopts the minimum id within 3 synchronous rounds (round 1
    // is an all-distinct tie broken by MIN; rounds 2-3 flood it), and
    // no label ever crosses the component gap.
    val clique = (ns: Seq[Long]) =>
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)))
      .toDF("src", "dst")
    val got = GraphQueries.labelPropagate(edges, 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L, 14L -> 11L))
  }

  test("label propagation matches a sequential replica on random graphs") {
    // Property-style: 5 seeded Erdős–Rényi graphs; the distributed
    // 3-round propagation must agree with a single-threaded fold of
    // the same synchronous min-mode update on every node.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val nodes = (1L to 12L)
      val base = for {
        a <- nodes; b <- nodes
        if a < b && rnd.nextDouble() < 0.25
      } yield (a, b)
      if (base.nonEmpty) {
        val sym = base ++ base.map { case (a, b) => (b, a) }
        val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var lab: Map[Long, Long] = adj.keySet.map(n => n -> n).toMap
        for (_ <- 1 to 3) {
          lab = adj.map { case (n, nbrs) =>
            val cnt = nbrs.groupBy(lab(_)).map { case (l, g) => (l, g.size) }
            n -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        }
        val got = GraphQueries.labelPropagate(sym.toDF("src", "dst"), 3)
          .as[(Long, Long)].collect().toMap
        assert(got === lab, s"seed $seed diverged")
      }
    }
  }

  test("q_link_predict: a planted hot part is dropped BEFORE pair expansion") {
    // 10 ordinary parts shared by 3 suppliers each (3 pairs per part)
    // plus one part supplied by 200 suppliers (C(200,2) = 19,900 pairs
    // if it ever reached the wedge join). The cap must remove the hot
    // part's entire pair contribution and leave the ordinary wedges
    // untouched.
    val ordinary = for (p <- 1L to 10L; sp <- 1L to 3L) yield (p, sp)
    val hot = (1L to 200L).map(sp => (999L, sp + 1000L))
    val ps = (ordinary ++ hot).toDF("p", "sp")
    val capped = GraphQueries.capPartDegree(ps, 64)
    assert(capped.filter(col("p") === 999L).count() === 0L)
    assert(capped.count() === ordinary.size.toLong)
    assert(GraphQueries.wedgePairs(GraphQueries.capPartDegree(ps, 64))
      .agg(sum(col("c"))).as[Long].collect().head === 30L,
      "10 parts x C(3,2) wedges survive; the hot part contributes zero")
    assert(GraphQueries.wedgePairs(ps)
      .agg(sum(col("c"))).as[Long].collect().head === 30L + 19900L,
      "uncapped blow-up baseline")
  }

  test("q_link_predict matches a sequential Jaccard replica") {
    val ps = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sp"))
      .distinct().as[(Long, Long)].collect()
    val byPart = ps.groupBy(_._1).filter(_._2.length <= 64)
    val deg = byPart.values.flatten.groupBy(_._2).map { case (s, g) => s -> g.size }
    val pairCounts = collection.mutable.Map.empty[(Long, Long), Long]
    byPart.values.foreach { g =>
      val sups = g.map(_._2).sorted
      for (i <- sups.indices; j <- (i + 1) until sups.length)
        pairCounts((sups(i), sups(j))) = pairCounts.getOrElse((sups(i), sups(j)), 0L) + 1
    }
    val expect = pairCounts.toSeq
      .map { case ((s1, s2), c) =>
        val j = BigDecimal(c.toDouble / (deg(s1) + deg(s2) - c))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (s1, s2, c, j)
      }
      .sortBy { case (s1, s2, _, j) => (-j, s1, s2) }
      .take(20)
    val got = GraphQueries.linkPredict.run(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === expect, "top-20 Jaccard pairs diverged from the replica")
  }

  test("q_label_prop: community sizes partition the node set exactly") {
    val nodes = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_suppkey") * 2).as("n"))
      .union(spark.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_partkey") * 2 + 1).as("n")))
      .distinct().count()
    val out = GraphQueries.labelProp.run(spark, dir)
      .as[(Long, Long)].collect()
    assert(out.map(_._2).sum == nodes,
      "community member counts must sum to the node count")
    // every community label is itself a node id from the graph's domain
    assert(out.forall { case (c, n) => c >= 0 && n > 0 })
  }

  test("k-core peel: planted chain sheds one vertex per round, clique survives") {
    // Graph = a 4-clique (every degree 3) + a 4-vertex path hanging off
    // it (10-11-12-13, vertex 10 attached to clique vertex 0). At k=2
    // the path's free end (13, degree 1) falls in round 1, starving 12
    // to degree 1, which falls in round 2, then 11 in round 3 — the
    // cascade in closed form — while the clique (and the attachment
    // vertex while its neighbors last) never drops below degree 2.
    val cliq = for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b)
    val path = Seq((0L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val sym = (cliq ++ path ++ path.map(_.swap)).toDF("a", "b")
    val out = GraphQueries.peel(sym, 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // round 1: 13 (deg 1) drops -> 7 nodes; edges lose (12,13) both ways
    // round 2: 12 drops -> 6 nodes; round 3: 11 drops -> 5 nodes
    assert(out === Array((1L, 7L, 18L), (2L, 6L, 16L), (3L, 5L, 14L)),
      s"cascade mismatch: ${out.mkString(",")}")
  }

  test("q_closeness: hand-computed path graph (2-3-4-5) matches exactly") {
    // lineitem pairs (1,1),(2,2),(2,1) encode the path 2—3—4—5 in the
    // shared node domain (supplier s -> 2s, part p -> 2p+1):
    // (1,1) -> 2—3, (2,2) -> 4—5, (2,1) -> 4—3.
    val dir = java.nio.file.Files.createTempDirectory("clgraph").toString
    Seq((1L, 1L), (2L, 2L), (2L, 1L))
      .toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = GraphQueries.closeness.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // ends reach the other 3 in 1+2+3 = 6 hops (closeness 0.5);
    // middles in 1+1+2 = 4 hops (closeness 0.75)
    assert(got === Seq(
      (2L, 4L, 6L, 0.5), (3L, 4L, 4L, 0.75),
      (4L, 4L, 4L, 0.75), (5L, 4L, 6L, 0.5)))
  }

  test("q_modularity matches a sequential replica over the LPA labels") {
    val e0 = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .distinct().as[(Long, Long)].collect()
    val edges = (e0 ++ e0.map(e => (e._2, e._1))).toSeq
    val edgesDf = edges.toDF("src", "dst")
    val lbl = GraphQueries.labelPropagate(edgesDf, 3)
      .as[(Long, Long)].collect().toMap
    val m2 = edges.size.toDouble
    val byC = edges.groupBy(e => lbl(e._1))
    val q = byC.values.map { es =>
      val dC = es.size.toDouble
      val eC = es.count(e => lbl(e._1) == lbl(e._2)).toDouble
      BigDecimal(roundAt(eC / m2 - (dC / m2) * (dC / m2), 12))
    }.sum.toDouble
    val row = GraphQueries.modularity.run(spark, dir).collect().head
    assert(row.getLong(1) === edges.size.toLong)
    assert(row.getLong(0) === byC.size.toLong)
    assert(row.getDouble(2) === roundAt(q, 9), "modularity diverged from replica")
  }

  test("q_assortativity matches a sequential replica and stays in [-1, 1]") {
    val e0 = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .distinct().as[(Long, Long)].collect()
    val edges = (e0 ++ e0.map(e => (e._2, e._1))).toSeq
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val m2 = edges.size.toLong
    val (sj, sk) = (edges.map(e => deg(e._1)).sum, edges.map(e => deg(e._2)).sum)
    val sjk = edges.map(e => deg(e._1) * deg(e._2)).sum
    val sj2 = edges.map(e => deg(e._1) * deg(e._1)).sum
    val sk2 = edges.map(e => deg(e._2) * deg(e._2)).sum
    val (mj, mk) = (sj.toDouble / m2, sk.toDouble / m2)
    val varj = sj2.toDouble / m2 - mj * mj
    val vark = sk2.toDouble / m2 - mk * mk
    val r = (sjk.toDouble / m2 - mj * mk) / (math.sqrt(varj) * math.sqrt(vark))
    val row = GraphQueries.assortativity.run(spark, dir).collect().head
    assert(row.getLong(0) === m2)
    assert(row.getDouble(1) === roundAt(r, 9), "assortativity diverged from replica")
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
  }

  test("q_kcore: rounds are monotonically non-increasing and end consistent") {
    val out = GraphQueries.kcore.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1) === Array(1L, 2L, 3L))
    assert(out.sliding(2).forall { case Array(p, n) =>
      n._2 <= p._2 && n._3 <= p._3 }, "peeling can never grow the graph")
  }
}
