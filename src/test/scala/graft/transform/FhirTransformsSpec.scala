package graft.transform

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ingest.Ndjson
import graft.schemas.FhirSchemas

/** Pins every `process_demo_data` branch (reference
  * `FetchBulkData/__init__.py:357-536`) on FIXTURES.md-shaped records:
  * one record per branch, including the quirky semantics kept on
  * purpose (last-wins servicedDate, positional writes) and the hazards
  * fixed on purpose (claim-type no-match removal).
  */
class FhirTransformsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parse(schema: org.apache.spark.sql.types.StructType, lines: String*): DataFrame =
    spark.read.schema(schema).json(spark.createDataset(lines))

  test("epicPatient: only the demo patient gets the MBI identifier") {
    val df = parse(FhirSchemas.patient,
      s"""{"resourceType":"Patient","id":"${FhirTransforms.EpicDemoPatientId}","identifier":[{"system":"old","value":"v0"}]}""",
      """{"resourceType":"Patient","id":"someone-else","identifier":[{"system":"old","value":"v1"}]}""")
    val out = FhirTransforms.epicPatient(df)
    val demo = out.filter(col("id") === FhirTransforms.EpicDemoPatientId)
      .select(explode(col("identifier")).as("i")).select("i.system", "i.value")
      .as[(String, String)].head()
    assert(demo === ("http://hl7.org/fhir/sid/us-mbi", "1S00E00AA27"))
    val other = out.filter(col("id") === "someone-else")
      .select(element_at(col("identifier"), 1).getField("system")).as[String].head()
    assert(other === "old")
  }

  test("epicCondition: blanket code + recordedDate overwrite") {
    val df = parse(FhirSchemas.condition,
      """{"resourceType":"Condition","id":"c1","code":{"coding":[{"system":"s","code":"old","display":"d"}],"text":"old"},"recordedDate":"1999-01-01"}""")
    val row = FhirTransforms.epicCondition(df)
      .select(col("recordedDate"),
        element_at(col("code.coding"), 1).getField("code").as("c"))
      .as[(String, String)].head()
    assert(row === ("2019-09-04T11:10:27.000Z", "E11.59"))
  }

  test("epicMedicationRequest: drop + nested multi-level sets") {
    val df = parse(FhirSchemas.medicationRequest,
      """{"resourceType":"MedicationRequest","id":"m1","medicationReference":{"reference":"Medication/x"},"authoredOn":"1999-01-01","dispenseRequest":{"validityPeriod":{"start":"1999-01-01","end":"1999-02-01"},"numberOfRepeatsAllowed":9,"quantity":{"value":1.0,"unit":"x","system":"y","code":"z"}}}""")
    val out = FhirTransforms.epicMedicationRequest(df)
    assert(!out.columns.contains("medicationReference")) // P3 drop
    val r = out.select(
      col("authoredOn"),
      col("dispenseRequest.validityPeriod.start"),
      col("dispenseRequest.validityPeriod.end"),
      col("dispenseRequest.numberOfRepeatsAllowed"),
      col("dispenseRequest.quantity.value"),
      col("dispenseRequest.quantity.unit"))
      .as[(String, String, String, Int, Double, String)].head()
    assert(r === ("2019-09-04", "2019-10-30", "2020-01-28", 2, 10.0, "ml"))
  }

  /** The nested-path `dispenseRequest` rewrites, one `withField` per
    * leaf: the reference the rebuild-each-struct-once forms must match. */
  private val nestedValidity: Column => Column = _
    .withField("validityPeriod.start", lit("2019-10-30"))
    .withField("validityPeriod.end", lit("2020-01-28"))
  private val nestedEpicDispense: Column => Column = dr => nestedValidity(dr)
    .withField("numberOfRepeatsAllowed", lit(2))
    .withField("quantity.value", lit(10.0))
    .withField("quantity.unit", lit("ml"))
    .withField("quantity.system", lit("http://unitsofmeasure.org"))
    .withField("quantity.code", lit("ml"))

  test("MedicationRequest dispense rewrites match the nested-path form on null structs") {
    val df = parse(FhirSchemas.medicationRequest,
      """{"resourceType":"MedicationRequest","id":"full","dispenseRequest":{"validityPeriod":{"start":"1999-01-01","end":"1999-02-01"},"numberOfRepeatsAllowed":9,"quantity":{"value":1.0,"unit":"x","system":"y","code":"z"}}}""",
      """{"resourceType":"MedicationRequest","id":"no-dispense"}""",
      """{"resourceType":"MedicationRequest","id":"no-validity","dispenseRequest":{"numberOfRepeatsAllowed":9,"quantity":{"value":1.0,"unit":"x"}}}""",
      """{"resourceType":"MedicationRequest","id":"no-quantity","dispenseRequest":{"validityPeriod":{"end":"1999-02-01"}}}""",
      """{"resourceType":"MedicationRequest","id":"part-quantity","dispenseRequest":{"validityPeriod":{},"quantity":{"system":"y"}}}""")
    Seq(
      "epic" -> (FhirTransforms.epicMedicationRequest _, nestedEpicDispense),
      "cerner" -> (FhirTransforms.cernerMedicationRequest _, nestedValidity)
    ).foreach { case (source, (transform, nested)) =>
      val got = transform(df).select("id", "dispenseRequest")
      val want = df.select(col("id"), nested(col("dispenseRequest")).as("dispenseRequest"))
      assert(got.schema === want.schema, source)
      assert(got.collect().toSet === want.collect().toSet, source)
      assert(got.filter(col("id") === "no-dispense" && col("dispenseRequest").isNull)
        .count() === 1, source)
    }
  }

  test("cernerPatient: demo patient loses meta, others keep it") {
    val df = parse(FhirSchemas.patient,
      s"""{"resourceType":"Patient","id":"${FhirTransforms.CernerDemoPatientId}","meta":{"versionId":"7"},"identifier":[]}""",
      """{"resourceType":"Patient","id":"other","meta":{"versionId":"3"},"identifier":[]}""")
    val out = FhirTransforms.cernerPatient(df)
    assert(out.filter(col("id") === FhirTransforms.CernerDemoPatientId)
      .filter(col("meta").isNull).count() === 1)
    assert(out.filter(col("id") === "other")
      .select("meta.versionId").as[String].head() === "3")
  }

  private val rxDim = TestSpark.spark.createDataFrame(Seq(
    ("00002871501", "Humulin 70/30", "106892"),
    ("11111111111", "KnownDrug", "42"),
    ("22222222222", "", "43") // rxnorm found but no name
  )).toDF("ndc", "name", "rxnorm")

  private def eob(id: String, patient: String = FhirTransforms.BcdaDemoPatientRef,
      claimType: String = "pharmacy", serviced: String = "2019-11-15",
      ndc: String = "11111111111", display: String = """"RxName""""): String =
    s"""{"resourceType":"ExplanationOfBenefit","id":"$id",
        "meta":{"versionId":"1"},
        "patient":{"reference":"$patient"},
        "type":{"coding":[{"system":"other","code":"x"},
                          {"system":"${FhirTransforms.ClaimTypeSystem}","code":"$claimType"}]},
        "supportingInfo":[{"valueQuantity":{"value":5.0}},{"valueQuantity":{"value":6.0}}],
        "item":[{"servicedDate":"$serviced",
                 "productOrService":{"coding":[{"system":"${FhirTransforms.NdcSystem}","code":"$ndc","display":$display}]},
                 "quantity":{"value":1.0,"unit":"u"}}]}""".replaceAll("\n\\s*", "")

  private def runEob(lines: String*): DataFrame =
    FhirTransforms.bcdaEob(parse(FhirSchemas.explanationOfBenefit, lines: _*), rxDim)

  test("bcdaEob: non-demo-patient, non-pharmacy, and stale EOBs are removed") {
    val out = runEob(
      eob("keep"),
      eob("wrong-patient", patient = "Patient/other"),
      eob("not-pharmacy", claimType = "medical"),
      eob("too-old", serviced = "2019-10-29"))
    assert(out.select("id").as[String].collect().toSet === Set("keep"))
  }

  test("bcdaEob: last-wins servicedDate decides the date filter") {
    // first item is stale, last is fresh → kept (ref :477-481 last-wins)
    val twoItems =
      s"""{"resourceType":"ExplanationOfBenefit","id":"e2","meta":{"versionId":"1"},"patient":{"reference":"${FhirTransforms.BcdaDemoPatientRef}"},"type":{"coding":[{"system":"${FhirTransforms.ClaimTypeSystem}","code":"pharmacy"}]},"supportingInfo":[{"valueQuantity":{"value":1.0}},{"valueQuantity":{"value":2.0}}],"item":[{"servicedDate":"2019-01-01","productOrService":{"coding":[{"system":"${FhirTransforms.NdcSystem}","code":"11111111111","display":"N"}]},"quantity":{"value":1.0,"unit":"u"}},{"servicedDate":"2019-12-01","productOrService":{"coding":[{"system":"${FhirTransforms.NdcSystem}","code":"11111111111","display":"N"}]},"quantity":{"value":1.0,"unit":"u"}}]}"""
    assert(runEob(twoItems).count() === 1)
  }

  test("bcdaEob: lookup miss removes the record; no-display+no-name removes too") {
    val noCode = eob("no-code").replace(""""code":"11111111111",""", "")
    assert(!noCode.contains("11111111111"))
    val out = runEob(
      eob("hit"),
      eob("miss", ndc = "99999999999"),                       // not in dim
      eob("no-name", ndc = "22222222222", display = "null"),  // display absent, name ''
      noCode)                                                 // NDC coding with no code
    assert(out.select("id").as[String].collect().toSet === Set("hit"))
  }

  test("bcdaEob: a duplicated ndc in the dim fails on the driver, naming it") {
    val dupDim = Seq(("11111111111", "KnownDrug", "42"), ("11111111111", "Other", "44"))
      .toDF("ndc", "name", "rxnorm")
    val e = intercept[IllegalArgumentException](
      FhirTransforms.bcdaEob(parse(FhirSchemas.explanationOfBenefit, eob("x")), dupDim))
    assert(e.getMessage.contains("11111111111"))
  }

  /** `CreateNamedStruct` nodes each registry transform's optimized plan may
    * hold (a struct of constants folds to a literal and is not counted).
    * Chains of nested-path `withField`s on the same structs plan 89
    * (Epic MedicationRequest), 4 (Cerner MedicationRequest) and 19 (BCDA). */
  private val MaxStructs = Map(
    ("epic", "Patient") -> 0, ("epic", "Condition") -> 0,
    ("epic", "MedicationRequest") -> 1, ("cerner", "Patient") -> 0,
    ("cerner", "MedicationRequest") -> 1, ("bcda", "ExplanationOfBenefit") -> 17)

  test("every registry transform over the NDJSON scan plans no shuffle") {
    val dir = Files.createTempDirectory("shape")
    val lines = Map(
      "Patient" -> s"""{"resourceType":"Patient","id":"${FhirTransforms.EpicDemoPatientId}","identifier":[]}""",
      "Condition" -> """{"resourceType":"Condition","id":"c1","recordedDate":"1999-01-01"}""",
      "MedicationRequest" -> """{"resourceType":"MedicationRequest","id":"m1","dispenseRequest":{"validityPeriod":{"start":"1999-01-01"}}}""",
      "ExplanationOfBenefit" -> Seq(eob("hit"), eob("miss", ndc = "99999999999")).mkString("\n"))
    val schemas = Map("Patient" -> FhirSchemas.patient, "Condition" -> FhirSchemas.condition,
      "MedicationRequest" -> FhirSchemas.medicationRequest,
      "ExplanationOfBenefit" -> FhirSchemas.explanationOfBenefit)
    lines.foreach { case (t, body) =>
      Files.write(Paths.get(dir.toString, s"$t-0001.json"), (body + "\n").getBytes("UTF-8"))
    }
    object aqe extends AdaptiveSparkPlanHelper
    FhirTransforms.registry(rxDim).foreach { case ((source, tpe), f) =>
      val out = f(Ndjson.good(Ndjson.read(spark, s"$dir/$tpe-*.json", schemas(tpe))))
      assert(out.collect().length === 1, s"$source/$tpe")
      val shuffles = aqe.collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty, s"$source/$tpe plans a shuffle:\n${out.queryExecution.executedPlan}")
      // Each struct a transform writes or rewrites is built once per row:
      // a chain of nested-path `withField`s rebuilds a parent per link.
      val structs = out.queryExecution.optimizedPlan.collect { case node =>
        node.expressions.map(_.collect { case c: CreateNamedStruct => c }.size).sum
      }.sum
      assert(structs <= MaxStructs((source, tpe)),
        s"$source/$tpe builds $structs structs:\n${out.queryExecution.optimizedPlan}")
    }
  }

  test("bcdaEob: positional supportingInfo writes + RxNorm append + quantity rewrite") {
    val out = runEob(eob("normal"))
    val si = out.select(
      element_at(col("supportingInfo"), 1).getField("valueQuantity").getField("value"),
      element_at(col("supportingInfo"), 2).getField("valueQuantity").getField("value"))
      .as[(Double, Double)].head()
    assert(si === ((0.0, 90.0))) // [0]:=0, [1]:=90 for non-special id (ref :489-493)

    val item = out.select(element_at(col("item"), 1).as("it"))
    val codings = item
      .select(explode(col("it.productOrService.coding")).as("c"))
      .select("c.system", "c.code", "c.display")
      .as[(String, String, String)].collect()
    assert(codings.length === 2) // original + appended RxNorm coding
    assert(codings.exists(c =>
      c._1 === FhirTransforms.RxNormSystem && c._2 === "42" && c._3 === "KnownDrug"))
    val qty = item.select(col("it.quantity.value"), col("it.quantity.unit"))
      .as[(Double, String)].head()
    assert(qty === ((90.0, "tabs")))
  }

  test("bcdaEob: special id gets NDC overwrite and (10, ml) quantity") {
    val out = runEob(eob(FhirTransforms.SpecialEobId, ndc = "55555555555"))
    // NDC code overwritten to 00002871501 BEFORE lookup → dim hit (ref :501-505)
    val item = out.select(element_at(col("item"), 1).as("it"))
    val ndcCode = item
      .select(explode(col("it.productOrService.coding")).as("c"))
      .filter(col("c.system") === FhirTransforms.NdcSystem)
      .select("c.code").as[String].head()
    assert(ndcCode === "00002871501")
    val si1 = out.select(
      element_at(col("supportingInfo"), 2).getField("valueQuantity").getField("value"))
      .as[Double].head()
    assert(si1 === 30.0)
    val qty = item.select(col("it.quantity.value"), col("it.quantity.unit"))
      .as[(Double, String)].head()
    assert(qty === ((10.0, "ml")))
  }

  test("dispatch: unknown (source, resource) passes through unchanged") {
    val df = parse(FhirSchemas.condition,
      """{"resourceType":"Condition","id":"c1","recordedDate":"1999-01-01"}""")
    val out = FhirTransforms.dispatch("https://bcda.example", "Condition", rxDim)(df)
    assert(out.select("recordedDate").as[String].head() === "1999-01-01")
  }
}
