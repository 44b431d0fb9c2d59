package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every setting main code reads from outside the program: environment
  * variables, JVM properties and `spark.graft.*` session keys. A new
  * knob multiplies the configurations a run can be in, so adding one
  * must be a visible edit here, not a silent read somewhere in a
  * query module. */
class KnobInventorySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (kind, key) for every read, from non-comment lines; a read whose
    * key is not a string literal on the same line reads as "?". */
  private def reads: Set[(String, String)] = {
    val accessor = """(sys\.env|System\.getenv|sys\.props|System\.getProperty)\b(.*)""".r
    val literal = "\"([^\"]*)\"".r
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { (f: Path) =>
      Files.readAllLines(f, UTF_8).asScala.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))
        .flatMap { line =>
          val sysReads = accessor.findAllMatchIn(line).map { m =>
            val kind = if (m.group(1).contains("env")) "env" else "prop"
            kind -> literal.findFirstMatchIn(m.group(2)).fold("?")(_.group(1))
          }
          val confKeys = literal.findAllMatchIn(line).map(_.group(1))
            .filter(_.startsWith("spark.graft")).map("conf" -> _)
          sysReads ++ confKeys
        }
    }.toSet
  }

  test("main code reads exactly the seven env vars, java.io.tmpdir and one spark.graft key") {
    assert(Files.isDirectory(root), s"run from the repository root: $root is missing")
    val env = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_TIER", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_BASELINE",
      "SPARK_GRAFT_VERIFY_ONLY").map("env" -> _)
    val expected = env + ("prop" -> "java.io.tmpdir") +
      ("conf" -> "spark.graft.topk.partialCapRows")
    val found = reads
    assert(found -- expected === Set.empty, "reads no knob list names")
    assert(expected -- found === Set.empty, "listed knobs main code no longer reads")
  }
}
