package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.security.KeyPairGenerator
import java.time.{Duration, Instant}
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Auth._

/** O4–O7 offline verification: discovery parse, RS384 JWT claims +
  * signature (verified with the PUBLIC key — the check the auth server
  * performs), token-exchange form/expiry semantics, and the cached
  * provider's refresh policy. Reference behavior at
  * `/root/reference/FetchBulkData/__init__.py:31-173,244-251`. */
class AuthSpec extends AnyFunSuite {

  /** Records every request; scripted responses per URL. */
  private final class StubTransport(
      gets: Map[String, HttpResponse] = Map.empty,
      posts: Map[String, HttpResponse] = Map.empty) extends HttpTransport {
    val getCalls = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String])]
    val postCalls = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[(String, String)], Map[String, String])]
    def get(url: String, headers: Map[String, String]): HttpResponse = {
      getCalls += ((url, headers))
      gets.getOrElse(url, HttpResponse(404, "not scripted"))
    }
    def postForm(url: String, form: Seq[(String, String)],
                 headers: Map[String, String]): HttpResponse = {
      postCalls += ((url, form, headers))
      posts.getOrElse(url, HttpResponse(404, "not scripted"))
    }
  }

  private lazy val keyPair = {
    val g = KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }

  private val t0 = Instant.parse("2026-08-14T12:00:00Z")

  // ------------------------------------------------------------------ O4

  test("smartConfigUrl appends the well-known path, slash-insensitive") {
    assert(smartConfigUrl("https://fhir.example.org/r4") ===
      "https://fhir.example.org/r4/.well-known/smart-configuration")
    assert(smartConfigUrl("https://fhir.example.org/r4/") ===
      "https://fhir.example.org/r4/.well-known/smart-configuration")
  }

  test("tokenEndpoint parses the discovery document") {
    val url = "https://fhir.example.org/.well-known/smart-configuration"
    val doc = """{"authorization_endpoint":"https://as.example.org/auth",
                  "token_endpoint":"https://as.example.org/token",
                  "capabilities":["client-confidential-asymmetric"]}"""
    val tr = new StubTransport(gets = Map(url -> HttpResponse(200, doc)))
    assert(tokenEndpoint(tr, url) === "https://as.example.org/token")
  }

  test("tokenEndpoint fails loudly on HTTP error and on a missing field") {
    val url = "https://x/.well-known/smart-configuration"
    val bad = new StubTransport(gets = Map(url -> HttpResponse(500, "boom")))
    val e1 = intercept[IllegalArgumentException](tokenEndpoint(bad, url))
    assert(e1.getMessage.contains("500"))
    val noField = new StubTransport(gets = Map(url -> HttpResponse(200, """{"foo":1}""")))
    val e2 = intercept[IllegalArgumentException](tokenEndpoint(noField, url))
    assert(e2.getMessage.contains("token_endpoint"))
  }

  // ------------------------------------------------------------------ O5

  private def decodePart(p: String): String =
    new String(Base64.getUrlDecoder.decode(p), UTF_8)

  test("buildSignedJwt pins the reference's header and claims exactly") {
    val signer = new LocalRsaSigner(keyPair.getPrivate, kid = "kid-1")
    val jwt = buildSignedJwt("client-42", "https://as.example.org/token",
      signer, now = t0, jti = "fixed-jti")
    val parts = jwt.split('.')
    assert(parts.length === 3)
    // base64url, unpadded — the ref strips '=' and uses the url alphabet
    assert(!jwt.contains('='), "JWT segments must be unpadded")
    assert(!jwt.exists(c => c == '+' || c == '/'), "JWT must use the url-safe alphabet")
    assert(decodePart(parts(0)) ===
      """{"alg":"RS384","typ":"JWT","kid":"kid-1"}""")
    // sub = iss = client id, aud = token url, exp = now + 5 min in
    // epoch SECONDS (ref __init__.py:66-81)
    assert(decodePart(parts(1)) ===
      s"""{"sub":"client-42","iss":"client-42","aud":"https://as.example.org/token","jti":"fixed-jti","exp":${t0.getEpochSecond + 300}}""")
  }

  test("a client id with a quote, a backslash and a control character round-trips") {
    val signer = new LocalRsaSigner(keyPair.getPrivate, kid = "k")
    val id = "cli\"ent\\id\u0001\n"
    val jwt = buildSignedJwt(id, "https://t", signer, now = t0)
    val claims = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(decodePart(jwt.split('.')(1)))
    assert(claims.get("sub").asText === id)
    assert(claims.get("iss").asText === id)
    assert(verifyJwtSignature(jwt, keyPair.getPublic))
  }

  test("JWT signature verifies with the public key as genuine SHA384withRSA") {
    // The signer seam receives only the SHA-384 DIGEST (the Key Vault
    // contract); verifying over the FULL signing input with plain
    // SHA384withRSA proves the DigestInfo framing is byte-correct.
    val signer = new LocalRsaSigner(keyPair.getPrivate, kid = "k")
    val jwt = buildSignedJwt("c", "https://t", signer, now = t0)
    assert(verifyJwtSignature(jwt, keyPair.getPublic))
    // ...and a tampered payload must not verify
    val parts = jwt.split('.')
    val tamperedPayload = Base64.getUrlEncoder.withoutPadding.encodeToString(
      decodePart(parts(1)).replace("\"c\"", "\"evil\"").getBytes(UTF_8))
    assert(!verifyJwtSignature(s"${parts(0)}.$tamperedPayload.${parts(2)}",
      keyPair.getPublic))
  }

  test("two assertions differ only in jti (replay protection) given the same clock") {
    val signer = new LocalRsaSigner(keyPair.getPrivate, kid = "k")
    val a = buildSignedJwt("c", "https://t", signer, now = t0)
    val b = buildSignedJwt("c", "https://t", signer, now = t0)
    assert(a !== b, "random jti must make assertions unique")
    assert(decodePart(a.split('.')(0)) === decodePart(b.split('.')(0)))
  }

  // ------------------------------------------------------------------ O6

  test("JWT-assertion exchange posts the reference's exact form fields") {
    val tokUrl = "https://as.example.org/token"
    val tr = new StubTransport(posts = Map(tokUrl ->
      HttpResponse(200, """{"access_token":"tok-1","expires_in":3600}""")))
    val at = fetchAccessToken(tr, tokUrl, JwtAssertion("h.p.s"),
      scope = "system/*.read", now = t0)
    assert(at.token === "tok-1")
    assert(at.expiresAt === t0.plusSeconds(3600))
    val (_, form, _) = tr.postCalls.head
    assert(form === Seq(
      "grant_type" -> "client_credentials",
      "client_assertion_type" -> "urn:ietf:params:oauth:client-assertion-type:jwt-bearer",
      "client_assertion" -> "h.p.s",
      "scope" -> "system/*.read"))
  }

  test("expires_in as a STRING still yields the right absolute expiry") {
    // The ref int()s it (__init__.py:160) because servers send both
    val tokUrl = "https://as/token"
    val tr = new StubTransport(posts = Map(tokUrl ->
      HttpResponse(200, """{"access_token":"t","expires_in":"1800"}""")))
    val at = fetchAccessToken(tr, tokUrl, JwtAssertion("j"), "", t0)
    assert(at.expiresAt === t0.plusSeconds(1800))
  }

  test("Basic-secret exchange sends RFC 7617 standard-alphabet Basic auth") {
    val tokUrl = "https://as/token"
    val tr = new StubTransport(posts = Map(tokUrl ->
      HttpResponse(200, """{"access_token":"t","expires_in":60}""")))
    fetchAccessToken(tr, tokUrl, BasicSecret("id", "s3cret+/=?"), "", t0)
    val (_, _, headers) = tr.postCalls.head
    val expected = "Basic " + Base64.getEncoder.encodeToString(
      "id:s3cret+/=?".getBytes(UTF_8))
    // standard alphabet WITH padding — the ref's urlsafe-unpadded
    // variant (__init__.py:147) is a spec deviation we do not keep
    assert(headers("Authorization") === expected)
  }

  test("token exchange fails loudly on non-2xx and on a missing access_token") {
    val tr1 = new StubTransport(posts = Map("u" -> HttpResponse(401, "denied")))
    val e1 = intercept[IllegalArgumentException](
      fetchAccessToken(tr1, "u", JwtAssertion("j"), "", t0))
    assert(e1.getMessage.contains("401") && e1.getMessage.contains("denied"))
    val tr2 = new StubTransport(posts = Map("u" -> HttpResponse(200, """{"nope":1}""")))
    val e2 = intercept[IllegalArgumentException](
      fetchAccessToken(tr2, "u", JwtAssertion("j"), "", t0))
    assert(e2.getMessage.contains("access_token"))
  }

  test("AccessToken.expired honors the refresh skew") {
    val at = AccessToken("t", t0.plusSeconds(120))
    assert(!at.expired(t0, Duration.ofSeconds(60)))
    assert(at.expired(t0.plusSeconds(61), Duration.ofSeconds(60)))
    assert(at.expired(t0.plusSeconds(120), Duration.ofSeconds(60)))
  }

  // ------------------------------------------------------------------ O7

  test("defaultScope builds the AAD resource scope") {
    assert(defaultScope("https://myfhir.azurehealthcareapis.com/") ===
      "https://myfhir.azurehealthcareapis.com/.default")
  }

  test("CachingTokenProvider refreshes only past expiry-minus-skew") {
    var fetches = 0
    var now = t0
    val p = new CachingTokenProvider(
      refresh = n => { fetches += 1; AccessToken(s"tok-$fetches", n.plusSeconds(600)) },
      clock = () => now,
      skew = Duration.ofSeconds(60))
    assert(p.current() === "tok-1")
    now = t0.plusSeconds(500) // 100s left > 60s skew — still cached
    assert(p.current() === "tok-1")
    assert(fetches === 1)
    now = t0.plusSeconds(545) // 55s left < 60s skew — refresh
    assert(p.current() === "tok-2")
    assert(fetches === 2)
  }

  // --------------------------------------------------- end-to-end chain

  test("authorize: discovery -> signed JWT -> exchange, one chain against stubs") {
    val base = "https://fhir.example.org/r4"
    val cfgUrl = smartConfigUrl(base)
    val tokUrl = "https://as.example.org/token"
    val tr = new StubTransport(
      gets = Map(cfgUrl -> HttpResponse(200, s"""{"token_endpoint":"$tokUrl"}""")),
      posts = Map(tokUrl -> HttpResponse(200, """{"access_token":"live","expires_in":3600}""")))
    var now = t0
    val provider = authorize(tr, base, "client-42",
      new LocalRsaSigner(keyPair.getPrivate, "kid-1"),
      scope = "system/*.read", clock = () => now)
    assert(provider.current() === "live")
    // the assertion that went over the wire verifies with our pubkey
    val assertion = tr.postCalls.head._2.toMap.apply("client_assertion")
    assert(verifyJwtSignature(assertion, keyPair.getPublic))
    // second draw inside the token's lifetime: no extra POST
    now = t0.plusSeconds(1000)
    provider.current()
    assert(tr.postCalls.length === 1)
  }

  test("kickoffExport sends async headers and returns Content-Location") {
    val kUrl = "https://fhir.example.org/$export"
    val tr = new StubTransport(gets = Map(kUrl ->
      HttpResponse(202, "", Map("Content-Location" -> "https://fhir.example.org/status/1"))))
    val tokens = new CachingTokenProvider(
      n => AccessToken("tok", n.plusSeconds(600)), () => t0)
    val statusUrl = kickoffExport(tr, kUrl, tokens)
    assert(statusUrl === "https://fhir.example.org/status/1")
    val (_, headers) = tr.getCalls.head
    assert(headers === Map(
      "Accept" -> "application/fhir+json",
      "Prefer" -> "respond-async",
      "Authorization" -> "Bearer tok"))
    // sync 200 response (no Content-Location): the ref KeyErrors; we
    // raise a real error
    val sync = new StubTransport(gets = Map(kUrl -> HttpResponse(200, "done")))
    intercept[IllegalArgumentException](kickoffExport(sync, kUrl, tokens))
  }
}
