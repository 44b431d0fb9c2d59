package graft

/** Plan audit tool: dumps the formatted physical plan of each query (or
  * a named subset) so scan pruning (ReadSchema), predicate pushdown
  * (PushedFilters), join strategy, and WholeStageCodegen spans can be
  * inspected per round. Usage:
  *   runMain graft.PlanAudit <sfDir> [selection ...]
  * where each selection is a query name, `@<family>` or `@scale`
  * ([[SparkEntry.select]]).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = Option(args.drop(1)).filter(_.nonEmpty)
      .map(a => SparkEntry.select(a.mkString(",")))
    val spark = util.GraftSession.build("graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        println(s"\n================ $name ================")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
