package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Mechanical audit of the sort-sampling hazard (r19 verdict #4 — the
  * shape that cost q_knn_graph 34.4s→11.9s at r17, q_tfidf at r18 and
  * q_cluster_incremental +3.5s at r19): a GLOBAL Sort plans a range
  * exchange, and the range partitioner SAMPLES its child first — when
  * the child subtree contains no shuffle (bucketed-artifact scans keep
  * whole pipelines exchange-free by design here), there is no
  * materialized stage for AQE to reuse, so the sampling pass re-runs
  * the entire child — pair loops included — end to end, roughly
  * doubling the query. The r17 idiom inserts one hash `repartition` on
  * the sort key below the orderBy: a single exchange of the final
  * (usually k-bounded, vector-free) rows that the sampler then reads.
  *
  * This main finds every registry query whose plan has a global Sort
  * with a ZERO-exchange subtree. A flagged query is a CANDIDATE, not a
  * defect: re-running a bare table scan is cheap, so the barrier is
  * only worth its exchange when the child re-runs real compute
  * (aggregations, HOF pair loops, joins that planned broadcast-only).
  * Verdict per query lands in SCALE.md §r20.
  *
  * Usage: `runMain graft.SortHazardAudit <sfDir> [selection ...]`, each
  * selection a query name, `@<family>` or `@scale` ([[SparkEntry.select]]).
  */
object SortHazardAudit {
  /** Children, descending through AQE wrappers (the initial plan —
    * this audit runs at plan build, before any re-optimization). */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
    case other => other.children
  }

  private def subtreeHasShuffle(p: SparkPlan): Boolean =
    p.isInstanceOf[ShuffleExchangeLike] || kids(p).exists(subtreeHasShuffle)

  /** Count plan nodes below — a proxy for "is the child real compute
    * or a bare scan" that the human audit refines. */
  private def size(p: SparkPlan): Int = 1 + kids(p).map(size).sum

  /** The hazard node is the RANGE exchange a global Sort plans as its
    * child (the sort itself always sits on that exchange, so checking
    * the Sort's subtree for "any shuffle" is vacuously true — the
    * sampler's victim is the range exchange's OWN child). */
  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = {
    val here = p match {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => Seq(e)
      case _ => Nil
    }
    here ++ kids(p).flatMap(rangeExchanges)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = Option(args.drop(1)).filter(_.nonEmpty)
      .map(a => SparkEntry.select(a.mkString(",")))
    val spark = util.GraftSession.build("graft-sort-hazard-audit")
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan
          val bad = rangeExchanges(plan)
            .filterNot(e => subtreeHasShuffle(e.child))
          if (bad.nonEmpty) {
            flagged ::= name
            bad.foreach { e =>
              println(s"[sort-hazard] $name: range exchange over a " +
                s"ZERO-exchange child (${size(e.child)} plan nodes below; " +
                s"partitioning ${e.outputPartitioning})")
            }
          }
        } catch {
          case e: Throwable => println(s"[sort-hazard] $name: AUDIT FAILED ${e.getMessage}")
        }
      }
    }
    println(s"[sort-hazard] flagged ${flagged.size}: ${flagged.sorted.mkString(", ")}")
    spark.stop()
  }
}
