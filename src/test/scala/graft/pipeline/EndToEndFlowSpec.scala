package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.{JobExecutionStatus, ListenerBusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schemas.FhirSchemas
import graft.transform.FhirTransforms

/** End-to-end replica of the reference's `bulkimport` request (SURVEY
  * §3.1): landing NDJSON → quarantine → transform → promote → manifest,
  * in one `runLocalFlow` call.
  */
class EndToEndFlowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("epic bulkimport flow: transform, quarantine, promote, manifest") {
    val root = Files.createTempDirectory("flow").toString
    val stages = BulkPipeline.Stages(root)

    Files.createDirectories(Paths.get(stages.landing))
    Files.write(Paths.get(stages.landing, "Patient-clientA-0001.json"), Seq(
      s"""{"resourceType":"Patient","id":"${FhirTransforms.EpicDemoPatientId}","identifier":[{"system":"old","value":"v"}]}""",
      """{"resourceType":"Patient","id":"p2","identifier":[]}""",
      """{"resourceType":"Patient", MALFORMED""").mkString("\n").getBytes)
    Files.write(Paths.get(stages.landing, "Condition-clientA-0001.json"), Seq(
      """{"resourceType":"Condition","id":"c1","recordedDate":"1999-01-01"}""",
      """{"resourceType":"Condition","id":"c2","recordedDate":"1999-01-02"}""").mkString("\n").getBytes)

    val rxDim = Seq(("0", "", "")).toDF("ndc", "name", "rxnorm")
    val (manifest, corrupt) = BulkPipeline.runLocalFlow(
      spark, stages, "https://epic.example/fhir",
      Seq("Patient" -> FhirSchemas.patient, "Condition" -> FhirSchemas.condition,
        "MedicationRequest" -> FhirSchemas.medicationRequest),
      rxDim)

    // quarantine counted, not fatal; a type the export left out (no
    // landing file) is skipped, not an abort
    assert(corrupt === Map("Patient" -> 1L, "Condition" -> 0L, "MedicationRequest" -> 0L))

    // transforms applied in the promoted output
    val patients = spark.read.schema(FhirSchemas.patient)
      .json(s"${stages.promoted}/Patient")
    val demoMbi = patients
      .filter(col("id") === FhirTransforms.EpicDemoPatientId)
      .select(element_at(col("identifier"), 1).getField("value")).as[String].head()
    assert(demoMbi === "1S00E00AA27")
    val conditions = spark.read.schema(FhirSchemas.condition)
      .json(s"${stages.promoted}/Condition")
    assert(conditions.select("recordedDate").distinct().as[String].collect() ===
      Array("2019-09-04T11:10:27.000Z"))

    // processed dir was renamed away; manifest lists both types' non-empty
    // part-files in (type, url) order, byte for byte
    assert(!new java.io.File(s"${stages.processed}/Patient").exists())
    val inputs = Seq("Condition", "Patient").flatMap { t =>
      new java.io.File(s"${stages.promoted}/$t").listFiles.toSeq
        .filter(f => f.getName.startsWith("part-") && f.length > 0).map(_.getName).sorted
        .map(p => s"""{"type":"$t","url":"file:${stages.promoted}/$t/$p"}""")
    }
    assert(inputs.size === 2)
    assert(manifest ===
      s"""{"inputFormat":"application/fhir+ndjson","input":[${inputs.mkString(",")}]}""")
    assert(!new java.io.File(s"${stages.promoted}/MedicationRequest").exists())

    // a run whose types all have no files lists nothing, not the
    // earlier run's promoted dirs
    val (empty, emptyCorrupt) = BulkPipeline.runLocalFlow(
      spark, stages, "https://epic.example/fhir",
      Seq("MedicationRequest" -> FhirSchemas.medicationRequest), rxDim)
    assert(emptyCorrupt === Map("MedicationRequest" -> 0L))
    assert(empty === """{"inputFormat":"application/fhir+ndjson","input":[]}""")

    // a landed type with no kept record promotes one empty part-file,
    // which the manifest leaves out
    Files.write(Paths.get(stages.landing, "MedicationRequest-clientA-0001.json"),
      """{"resourceType":"MedicationRequest", MALFORMED""".getBytes)
    val (allBad, allBadCorrupt) = BulkPipeline.runLocalFlow(
      spark, stages, "https://epic.example/fhir",
      Seq("MedicationRequest" -> FhirSchemas.medicationRequest), rxDim)
    assert(allBadCorrupt === Map("MedicationRequest" -> 1L))
    assert(allBad === """{"inputFormat":"application/fhir+ndjson","input":[]}""")
  }

  test("each landed type is one Spark job: the write, with the count observed on it") {
    val root = Files.createTempDirectory("flowjobs").toString
    val epic = BulkPipeline.Stages(s"$root/epic")
    val bcda = BulkPipeline.Stages(s"$root/bcda")
    Files.createDirectories(Paths.get(epic.landing))
    Files.createDirectories(Paths.get(bcda.landing))
    Files.write(Paths.get(epic.landing, "Patient-clientA-0001.json"), Seq(
      """{"resourceType":"Patient","id":"p1","identifier":[]}""",
      """{"resourceType":"Patient", MALFORMED""").mkString("\n").getBytes)
    Files.write(Paths.get(epic.landing, "Condition-clientA-0001.json"),
      """{"resourceType":"Condition","id":"c1"}""".getBytes)
    val ndc = FhirTransforms.NdcSystem
    Files.write(Paths.get(bcda.landing, "ExplanationOfBenefit-clientA-0001.json"), Seq(
      s"""{"resourceType":"ExplanationOfBenefit","id":"e1","patient":{"reference":"${FhirTransforms.BcdaDemoPatientRef}"},"type":{"coding":[{"system":"${FhirTransforms.ClaimTypeSystem}","code":"pharmacy"}]},"supportingInfo":[{"valueQuantity":{"value":1.0}},{"valueQuantity":{"value":2.0}}],"item":[{"servicedDate":"2019-12-01","productOrService":{"coding":[{"system":"$ndc","code":"11111111111"}]},"quantity":{"value":1.0,"unit":"u"}}]}""",
      """{"resourceType":"ExplanationOfBenefit", MALFORMED""").mkString("\n").getBytes)
    val rxDim = Seq(("11111111111", "KnownDrug", "42")).toDF("ndc", "name", "rxnorm")

    val sc = spark.sparkContext
    val group = s"flowjobs-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one job per landed type")
    val (epicCorrupt, bcdaCorrupt) =
      try (
        BulkPipeline.runLocalFlow(spark, epic, "https://epic.example/fhir",
          Seq("Patient" -> FhirSchemas.patient, "Condition" -> FhirSchemas.condition,
            "MedicationRequest" -> FhirSchemas.medicationRequest), rxDim)._2,
        BulkPipeline.runLocalFlow(spark, bcda, "https://bcda.example/fhir",
          Seq("ExplanationOfBenefit" -> FhirSchemas.explanationOfBenefit), rxDim)._2)
      finally {
        sc.clearJobGroup()
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    assert(jobs.get === 3, "two landed Epic types + one landed BCDA type")
    assert(epicCorrupt === Map("Patient" -> 1L, "Condition" -> 0L, "MedicationRequest" -> 0L))
    assert(bcdaCorrupt === Map("ExplanationOfBenefit" -> 1L))
    val eobs = spark.read.schema(FhirSchemas.explanationOfBenefit)
      .json(s"${bcda.promoted}/ExplanationOfBenefit")
      .select(explode(col("item")).as("it"))
      .select(explode(col("it.productOrService.coding")).as("c"))
      .select("c.code", "c.display").as[(String, String)].collect().toSet
    assert(eobs === Set(("11111111111", "KnownDrug"), ("42", "KnownDrug")))
  }

  private val epicUrl = "https://epic.example/fhir"
  private val epicTypes = Seq("Patient" -> FhirSchemas.patient,
    "Condition" -> FhirSchemas.condition, "MedicationRequest" -> FhirSchemas.medicationRequest)

  /** One landing file per Epic type, each with a good and a malformed line. */
  private def landEpic(stages: BulkPipeline.Stages): Unit = {
    Files.createDirectories(Paths.get(stages.landing))
    Seq(
      "Patient" -> s"""{"resourceType":"Patient","id":"${FhirTransforms.EpicDemoPatientId}","identifier":[]}""",
      "Condition" -> """{"resourceType":"Condition","id":"c1","recordedDate":"1999-01-01"}""",
      "MedicationRequest" -> """{"resourceType":"MedicationRequest","id":"m1","dispenseRequest":{"quantity":{"value":1.0}}}"""
    ).foreach { case (t, line) =>
      Files.write(Paths.get(stages.landing, s"$t-clientA-0001.json"),
        Seq(line, s"""{"resourceType":"$t", MALFORMED""").mkString("\n").getBytes)
    }
  }

  /** Sorted lines of a directory's part-files. */
  private def partLines(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted

  /** A manifest as (type, records of the listed file), in listed order. */
  private def listedRecords(manifest: String): Seq[(String, Seq[String])] =
    new ObjectMapper().readTree(manifest).get("input").elements.asScala.toSeq.map { e =>
      e.get("type").asText ->
        Files.readAllLines(Paths.get(new java.net.URI(e.get("url").asText).getPath)).asScala.toSeq
    }

  test("a failed type is rethrown after every sibling is promoted, and a rerun converges") {
    val root = Files.createTempDirectory("flowfail").toString
    val stages = BulkPipeline.Stages(s"$root/failed")
    val clean = BulkPipeline.Stages(s"$root/clean")
    landEpic(stages)
    landEpic(clean)
    val rxDim = Seq(("0", "", "")).toDF("ndc", "name", "rxnorm")
    // Read with the Condition schema, Patient's and MedicationRequest's
    // transforms name columns that do not exist; Condition's succeeds.
    val broken = epicTypes.map { case (t, _) => t -> FhirSchemas.condition }

    val sc = spark.sparkContext
    val group = s"flowfail-${System.nanoTime}"
    sc.setJobGroup(group, "one failed type among several")
    val e =
      try intercept[AnalysisException](
        BulkPipeline.runLocalFlow(spark, stages, epicUrl, broken, rxDim))
      finally sc.clearJobGroup()
    // the first failure in type order, the later one attached to it
    assert(e.getMessage.contains("identifier"), e.getMessage)
    assert(e.getSuppressed.map(_.getMessage).exists(_.contains("dispenseRequest")))
    // the sibling ran as a job of the caller's group, and nothing is left running
    ListenerBusDrain(sc)
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.nonEmpty)
    assert(jobs.forall(id =>
      sc.statusTracker.getJobInfo(id).forall(_.status != JobExecutionStatus.RUNNING)))
    assert(partLines(s"${stages.promoted}/Condition").nonEmpty)
    assert(!new java.io.File(s"${stages.promoted}/Patient").exists())

    // a rerun converges to what one clean run promotes and lists
    val (manifest, corrupt) = BulkPipeline.runLocalFlow(spark, stages, epicUrl, epicTypes, rxDim)
    val (cleanManifest, cleanCorrupt) =
      BulkPipeline.runLocalFlow(spark, clean, epicUrl, epicTypes, rxDim)
    assert(corrupt === Map("Patient" -> 1L, "Condition" -> 1L, "MedicationRequest" -> 1L))
    assert(corrupt === cleanCorrupt)
    epicTypes.foreach { case (t, _) =>
      assert(partLines(s"${stages.promoted}/$t").nonEmpty, t)
      assert(partLines(s"${stages.promoted}/$t") === partLines(s"${clean.promoted}/$t"), t)
    }
    assert(listedRecords(manifest).map(_._1) === Seq("Condition", "MedicationRequest", "Patient"))
    assert(listedRecords(manifest) === listedRecords(cleanManifest))
  }

  test("each type job's executed plan parses every line once") {
    val root = Files.createTempDirectory("flowparse").toString
    val epic = BulkPipeline.Stages(s"$root/epic")
    val bcda = BulkPipeline.Stages(s"$root/bcda")
    landEpic(epic)
    Files.createDirectories(Paths.get(bcda.landing))
    val ndc = FhirTransforms.NdcSystem
    Files.write(Paths.get(bcda.landing, "ExplanationOfBenefit-clientA-0001.json"), Seq(
      s"""{"resourceType":"ExplanationOfBenefit","id":"e1","patient":{"reference":"${FhirTransforms.BcdaDemoPatientRef}"},"type":{"coding":[{"system":"${FhirTransforms.ClaimTypeSystem}","code":"pharmacy"}]},"supportingInfo":[{"valueQuantity":{"value":1.0}},{"valueQuantity":{"value":2.0}}],"item":[{"servicedDate":"2019-12-01","productOrService":{"coding":[{"system":"$ndc","code":"11111111111"}]},"quantity":{"value":1.0,"unit":"u"}}]}""",
      """{"resourceType":"ExplanationOfBenefit", MALFORMED""").mkString("\n").getBytes)
    val rxDim = Seq(("11111111111", "KnownDrug", "42")).toDF("ndc", "name", "rxnorm")

    val executed = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(qe): Unit
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      BulkPipeline.runLocalFlow(spark, epic, epicUrl, epicTypes, rxDim)
      BulkPipeline.runLocalFlow(spark, bcda, "https://bcda.example/fhir",
        Seq("ExplanationOfBenefit" -> FhirSchemas.explanationOfBenefit), rxDim)
    } finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    object aqe extends AdaptiveSparkPlanHelper
    val parses = executed.asScala.toSeq.map(_.executedPlan)
      .filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
      .map(plan => aqe.collectWithSubqueries(plan) { case node =>
        node.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
      }.sum)
    assert(parses === Seq(1, 1, 1, 1), "three Epic type writes and one BCDA write")
  }

  test("a landing file with a UTF-8 BOM and CRLF endings promotes every good record") {
    val stages = BulkPipeline.Stages(Files.createTempDirectory("bomflow").toString)
    Files.createDirectories(Paths.get(stages.landing))
    val body = "\uFEFF" + Seq(
      """{"resourceType":"Patient","id":"p1","identifier":[]}""",
      """{"resourceType":"Patient","id":"p2","identifier":[]}""",
      """{"resourceType":"Patient", MALFORMED""",
      """{"resourceType":"Patient","id":"p3","identifier":[]}""").mkString("\r\n") + "\r\n"
    Files.write(Paths.get(stages.landing, "Patient-clientA-0001.json"), body.getBytes("UTF-8"))
    val rxDim = Seq(("0", "", "")).toDF("ndc", "name", "rxnorm")
    val (_, corrupt) = BulkPipeline.runLocalFlow(spark, stages, "https://epic.example/fhir",
      Seq("Patient" -> FhirSchemas.patient), rxDim)
    assert(corrupt === Map("Patient" -> 1L))
    assert(spark.read.schema(FhirSchemas.patient).json(s"${stages.promoted}/Patient")
      .select("id").as[String].collect().toSet === Set("p1", "p2", "p3"))
  }

  test("a landed type whose only file is empty counts 0 and lists nothing") {
    val stages = BulkPipeline.Stages(Files.createTempDirectory("emptyflow").toString)
    Files.createDirectories(Paths.get(stages.landing))
    Files.write(Paths.get(stages.landing, "Patient-clientA-0001.json"), Array.emptyByteArray)
    val rxDim = Seq(("0", "", "")).toDF("ndc", "name", "rxnorm")
    val (manifest, corrupt) = BulkPipeline.runLocalFlow(spark, stages,
      "https://epic.example/fhir", Seq("Patient" -> FhirSchemas.patient), rxDim)
    assert(corrupt === Map("Patient" -> 0L))
    assert(manifest === """{"inputFormat":"application/fhir+ndjson","input":[]}""")
  }

  test("authorized export: discovery -> JWT -> token -> kickoff -> poll -> land -> flow") {
    // The reference's whole `bulkexport` control flow (`__init__.py`
    // :616-660) with every network leg scripted: the auth chain mints
    // a Bearer token, the kickoff returns a status URL, the poller
    // sees two 202s before the 200 with the output manifest, the file
    // legs land NDJSON, and runLocalFlow takes over exactly as in the
    // test above. This glues Auth (O4-O7) to O1/O2/S3 end-to-end.
    import graft.pipeline.Auth._
    val base = "https://fhir.example.org/r4"
    val tokUrl = "https://as.example.org/token"
    val statusUrl = s"$base/status/42"
    val fileUrl = s"$base/files/patient-1"
    val ndjson =
      """{"resourceType":"Patient","id":"p9","identifier":[]}"""
    var statusPolls = 0
    val transport = new HttpTransport {
      def get(url: String, headers: Map[String, String]): HttpResponse = url match {
        case u if u == smartConfigUrl(base) =>
          HttpResponse(200, s"""{"token_endpoint":"$tokUrl"}""")
        case u if u == s"$base/Patient/$$export" =>
          assert(headers("Prefer") === "respond-async")
          assert(headers("Authorization").startsWith("Bearer "))
          HttpResponse(202, "", Map("Content-Location" -> statusUrl))
        case u if u == statusUrl =>
          statusPolls += 1
          if (statusPolls < 3) HttpResponse(202, "")
          else HttpResponse(200,
            s"""{"output":[{"type":"Patient","url":"$fileUrl"}]}""")
        case u if u == fileUrl => HttpResponse(200, ndjson)
        case u => HttpResponse(404, s"unscripted $u")
      }
      def postForm(url: String, form: Seq[(String, String)],
                   headers: Map[String, String]): HttpResponse = {
        assert(url === tokUrl)
        assert(form.toMap.apply("grant_type") === "client_credentials")
        HttpResponse(200, """{"access_token":"tok-e2e","expires_in":3600}""")
      }
    }
    val kp = {
      val g = java.security.KeyPairGenerator.getInstance("RSA")
      g.initialize(2048); g.generateKeyPair()
    }
    val tokens = authorize(transport, base, "client-e2e",
      new LocalRsaSigner(kp.getPrivate, "kid-e2e"), scope = "system/*.read")

    val status = kickoffExport(transport, s"$base/Patient/$$export", tokens)
    assert(status === statusUrl)
    val body = BulkPipeline.pollUntilComplete[String](
      probe = () => {
        val r = transport.get(status,
          Map("Authorization" -> s"Bearer ${tokens.current()}"))
        if (r.status == 202) Left(()) else Right(r.body)
      },
      maxTries = 10, sleep = _ => ())
    assert(body.isDefined, "poller never saw the 200")
    assert(statusPolls === 3, s"expected 2x202 + 1x200, polled $statusPolls")

    // land each output file as <Type>-<source>-NNNN.json, then the
    // batch flow runs untouched
    val root = Files.createTempDirectory("authflow").toString
    val stages = BulkPipeline.Stages(root)
    Files.createDirectories(Paths.get(stages.landing))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body.get)
    node.path("output").forEach { out =>
      val tpe = out.path("type").asText
      val payload = transport.get(out.path("url").asText,
        Map("Authorization" -> s"Bearer ${tokens.current()}")).body
      Files.write(Paths.get(stages.landing, s"$tpe-clientA-0001.json"),
        payload.getBytes("UTF-8"))
    }
    val rxDim = Seq(("0", "", "")).toDF("ndc", "name", "rxnorm")
    val (manifest, corrupt) = BulkPipeline.runLocalFlow(
      spark, stages, base,
      Seq("Patient" -> FhirSchemas.patient), rxDim)
    assert(corrupt === Map("Patient" -> 0L))
    assert(manifest.contains(""""type":"Patient""""))
    assert(spark.read.schema(FhirSchemas.patient)
      .json(s"${stages.promoted}/Patient").count() === 1L)
  }
}
