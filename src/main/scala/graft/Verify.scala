package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = util.GraftSession.build("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional subset for fast local iteration (mirrors Bench's ONLY);
    // the driver never sets it, so driver runs always dump everything.
    // Named expansions (r14 verdict #8): `@scale` = the curated
    // scale-sensitive set (SparkEntry.scaleSensitive), `@<family>` =
    // a bench family — so the 40×/100× hash-verify is ONE command:
    //   SPARK_GRAFT_VERIFY_ONLY=@scale \
    //     sbt "runMain graft.Verify /tmp/graft_sfbig_40x /tmp/v40x"
    //   python3 tools/selfcheck.py /tmp/graft_sfbig_40x /tmp/v40x
    // (oracle_sql.json is restricted to the selection below, so
    // selfcheck with no name args checks exactly the dumped subset).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet.flatMap {
        (tok: String) =>
          if (tok == "@scale") SparkEntry.scaleSensitive
          else if (tok.startsWith("@")) {
            val fam = tok.drop(1)
            require(SparkEntry.families.contains(fam),
              s"unknown family in SPARK_GRAFT_VERIFY_ONLY: $tok " +
                s"(known: ${SparkEntry.families.keys.toSeq.sorted.mkString(", ")})")
            SparkEntry.families(fam)
          } else Set(tok)
      })
    only.foreach { sel =>
      val unknown = sel -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries in SPARK_GRAFT_VERIFY_ONLY: $unknown")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
