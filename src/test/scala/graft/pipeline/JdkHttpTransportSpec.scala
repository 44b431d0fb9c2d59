package graft.pipeline

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Auth._
import graft.schemas.FhirSchemas

/** The production transport adapter against a REAL socket: an
  * in-process `com.sun.net.httpserver` stub on 127.0.0.1 plays the
  * FHIR authorization + bulk-export server, and [[JdkHttpTransport]]
  * drives the same discovery → JWT → token → kickoff → poll → land →
  * flow chain EndToEndFlowSpec proves over a scripted transport —
  * closing the r11 "only the production adapter doesn't exist" gap
  * without egress.
  */
class JdkHttpTransportSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private var server: HttpServer = _
  private var base: String = _
  @volatile private var statusPolls = 0
  @volatile private var sawTokenForm: Map[String, String] = Map.empty
  @volatile private var sawKickoffHeaders: Map[String, String] = Map.empty

  private val ndjson =
    """{"resourceType":"Patient","id":"p9","identifier":[]}"""

  private def respond(x: HttpExchange, status: Int, body: String,
                      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => x.getResponseHeaders.add(k, v) }
    val bytes = body.getBytes("UTF-8")
    // 202-with-empty-body uses -1 (no content) per HttpServer contract
    x.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) x.getResponseBody.write(bytes)
    x.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    server.createContext("/r4/.well-known/smart-configuration",
      (x: HttpExchange) =>
        respond(x, 200, s"""{"token_endpoint":"$base/token"}"""))
    server.createContext("/token", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      sawTokenForm = body.split("&").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      if (x.getRequestHeaders.getFirst("Content-Type") !=
            "application/x-www-form-urlencoded")
        respond(x, 415, "wrong content type")
      else respond(x, 200,
        """{"access_token":"tok-real-socket","expires_in":3600}""")
    })
    server.createContext("/r4/Patient/$export", (x: HttpExchange) => {
      sawKickoffHeaders = Map(
        "Prefer" -> x.getRequestHeaders.getFirst("Prefer"),
        "Authorization" -> x.getRequestHeaders.getFirst("Authorization"))
      // lower-cased header name: proves the case-insensitive lookup
      // against a server that does not canonicalize
      respond(x, 202, "", Map("content-location" -> s"$base/r4/status/42"))
    })
    server.createContext("/r4/status/42", (x: HttpExchange) => {
      statusPolls += 1
      if (statusPolls < 3) respond(x, 202, "")
      else respond(x, 200,
        s"""{"output":[{"type":"Patient","url":"$base/r4/files/patient-1"}]}""")
    })
    server.createContext("/r4/files/patient-1",
      (x: HttpExchange) => respond(x, 200, ndjson))
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("error statuses surface as responses, not exceptions") {
    val t = new JdkHttpTransport()
    val r = t.get(s"$base/nowhere")
    assert(r.status === 404 && !r.ok)
  }

  test("authorized export over a real socket: discovery -> token -> kickoff -> poll -> land -> flow") {
    import spark.implicits._
    statusPolls = 0
    val transport = new JdkHttpTransport()
    val kp = {
      val g = java.security.KeyPairGenerator.getInstance("RSA")
      g.initialize(2048); g.generateKeyPair()
    }
    val tokens = authorize(transport, s"$base/r4", "client-sock",
      new LocalRsaSigner(kp.getPrivate, "kid-sock"), scope = "system/*.read")
    assert(tokens.current() === "tok-real-socket")
    // the token POST really was a form-encoded client_credentials grant
    assert(sawTokenForm("grant_type") === "client_credentials")
    assert(sawTokenForm("scope") === "system/*.read")
    assert(sawTokenForm("client_assertion").count(_ == '.') === 2,
      "client_assertion is not a three-part JWT")

    val status = kickoffExport(transport, s"$base/r4/Patient/$$export", tokens)
    assert(status === s"$base/r4/status/42",
      "Content-Location (lower-cased by the server) was not found")
    assert(sawKickoffHeaders("Prefer") === "respond-async")
    assert(sawKickoffHeaders("Authorization") === "Bearer tok-real-socket")

    val body = BulkPipeline.pollUntilComplete[String](
      probe = () => {
        val r = transport.get(status,
          Map("Authorization" -> s"Bearer ${tokens.current()}"))
        if (r.status == 202) Left(()) else Right(r.body)
      },
      maxTries = 10, sleep = _ => ())
    assert(body.isDefined, "poller never saw the 200")
    assert(statusPolls === 3)

    val root = Files.createTempDirectory("sockflow").toString
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
      spark, stages, s"$base/r4",
      Seq("Patient" -> FhirSchemas.patient), rxDim)
    assert(corrupt === Map("Patient" -> 0L))
    assert(manifest.contains(""""type":"Patient""""))
    assert(spark.read.schema(FhirSchemas.patient)
      .json(s"${stages.promoted}/Patient").count() === 1L)
  }
}
