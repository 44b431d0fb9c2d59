package graft.ingest

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schemas.FhirSchemas

class NdjsonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goodLines = Seq(
    """{"resourceType":"Condition","id":"c1","code":{"coding":[{"system":"s","code":"x","display":"d"}],"text":"t"},"recordedDate":"2020-01-01"}""",
    """{"resourceType":"Condition","id":"c2","recordedDate":"2020-02-02"}""")

  test("schema'd read parses good lines and quarantines corrupt ones") {
    val dir = Files.createTempDirectory("ndjson").toString
    // whitespace-only lines (tab, mixed) are skipped, not parsed to {}
    val lines = goodLines ++ Seq(
      """{"resourceType":"Condition", BROKEN""", "\t", " \t ")
    Files.write(java.nio.file.Paths.get(dir, "Condition-clientA-0001.json"),
      lines.mkString("\n").getBytes)

    val df = Ndjson.read(spark, dir, FhirSchemas.condition)
    assert(Ndjson.good(df).count() === 2)
    assert(Ndjson.corrupt(df).count() === 1)
    // M1: resource type recovered from the filename convention
    assert(df.select("_resource_type").distinct().as[String].collect() === Array("Condition"))
  }

  test("write → read is a fixpoint on parsed content") {
    val dir = Files.createTempDirectory("ndjson_rt").toString
    Files.write(java.nio.file.Paths.get(dir, "Condition-c-1.json"),
      goodLines.mkString("\n").getBytes)
    val first = Ndjson.good(Ndjson.read(spark, dir, FhirSchemas.condition))

    val out = Files.createTempDirectory("ndjson_out").toString + "/roundtrip"
    Ndjson.write(first, out)
    val second = spark.read.schema(FhirSchemas.condition).json(out)

    val a = first.select("id", "recordedDate", "code.text").orderBy("id").collect()
    val b = second.select("id", "recordedDate", "code.text").orderBy("id").collect()
    assert(a === b)
  }
}
