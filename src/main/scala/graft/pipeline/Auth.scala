package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.security.{MessageDigest, PrivateKey, PublicKey, Signature}
import java.time.{Duration, Instant}
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

/** The reference's SMART-on-FHIR auth chain (O4–O7, SURVEY §2.4) as
  * offline-testable components: discovery-document parse, RS384 JWT
  * build + sign, client-credentials token exchange, and a cached
  * resource-scoped token provider.
  *
  * Reference trace (`/root/reference/FetchBulkData/__init__.py`):
  *   - O4 `get_token_url` (:31-39) — GET the SMART configuration
  *     document, read `token_endpoint`.
  *   - O5 `build_crypto_client` + `sign_jwt` (:41-111) — build the
  *     RS384 client-assertion JWT and sign its SHA-384 digest through
  *     a Key Vault `CryptographyClient`.
  *   - O6 `get_access_token` (:118-173) — POST client_credentials with
  *     either the JWT assertion or HTTP Basic, track token expiry.
  *   - O7 `get_fhir_server_access_token` (:244-251) — a second token
  *     scoped to `{fhir_server}/.default` for the managed FHIR API.
  *
  * Design, NOT a port: network and KMS are SEAMS (`HttpTransport`,
  * `JwtSigner`) so every piece of logic — claim construction, base64url
  * framing, PKCS#1 digest signing, form encoding, expiry bookkeeping —
  * runs and is verified offline with JDK crypto; production swaps in a
  * real transport/KMS client without touching this file. This is all
  * driver-side control plane: nothing here ships into Spark tasks.
  */
object Auth {

  // ---------------------------------------------------------------- seams

  /** Minimal blocking HTTP seam — the two verbs the auth chain needs.
    * Implementations: a real client in production, [[StubTransport]]-
    * style fakes in tests (this sandbox has no egress). */
  trait HttpTransport {
    def get(url: String, headers: Map[String, String] = Map.empty): HttpResponse
    def postForm(url: String, form: Seq[(String, String)],
                 headers: Map[String, String] = Map.empty): HttpResponse
  }

  final case class HttpResponse(status: Int, body: String,
                                headers: Map[String, String] = Map.empty) {
    def ok: Boolean = status >= 200 && status < 300
  }

  /** The KMS seam, shaped like the reference's Key Vault client: it
    * receives the SHA-384 DIGEST of the signing input (not the input
    * itself — ref `sign_jwt` pre-hashes at `__init__.py:96` and ships
    * only the digest to `crypto_client.sign(rs384, digest)`) and
    * returns the PKCS#1 v1.5 signature. `kid` goes into the JWT
    * header so the server can pick the verification key. */
  trait JwtSigner {
    def kid: String
    def signDigest(sha384Digest: Array[Byte]): Array[Byte]
  }

  /** ASN.1 DigestInfo prefix for SHA-384 (RFC 8017 §9.2 note 1): what
    * RSASSA-PKCS1-v1_5 wraps around the raw digest before padding. */
  private val Sha384DigestInfoPrefix: Array[Byte] = Array(
    0x30, 0x41, 0x30, 0x0d, 0x06, 0x09, 0x60, 0x86.toByte, 0x48, 0x01,
    0x65, 0x03, 0x04, 0x02, 0x02, 0x05, 0x00, 0x04, 0x30).map(_.toByte)

  /** Local stand-in for the Key Vault signer: same contract (digest in,
    * PKCS#1 v1.5 RS384 signature out), implemented with JDK
    * `NONEwithRSA` over the hand-built DigestInfo — byte-identical to
    * what `SHA384withRSA` produces over the full input, which is what
    * AuthSpec pins by verifying with the public key. */
  final class LocalRsaSigner(priv: PrivateKey, val kid: String) extends JwtSigner {
    def signDigest(sha384Digest: Array[Byte]): Array[Byte] = {
      require(sha384Digest.length == 48,
        s"SHA-384 digest must be 48 bytes, got ${sha384Digest.length}")
      val digestInfo = Sha384DigestInfoPrefix ++ sha384Digest
      val s = Signature.getInstance("NONEwithRSA")
      s.initSign(priv)
      s.update(digestInfo)
      s.sign()
    }
  }

  // ------------------------------------------------------- O4: discovery

  /** SMART configuration document location for a FHIR base URL
    * (SMART App Launch §discovery — public spec). */
  def smartConfigUrl(fhirBase: String): String =
    fhirBase.stripSuffix("/") + "/.well-known/smart-configuration"

  /** O4: fetch + parse the discovery document, return `token_endpoint`
    * (ref `get_token_url`, `__init__.py:31-39` — which swallows the
    * cause into a bare "Could not find token url"; here the status and
    * the missing-field case raise distinct, actionable errors). */
  def tokenEndpoint(transport: HttpTransport, smartUrl: String): String = {
    val r = transport.get(smartUrl)
    require(r.ok, s"SMART discovery GET $smartUrl failed: HTTP ${r.status} ${r.body.take(200)}")
    val node = new ObjectMapper().readTree(r.body)
    val ep = node.path("token_endpoint")
    require(ep.isTextual && ep.asText.nonEmpty,
      s"SMART discovery document at $smartUrl has no token_endpoint")
    ep.asText
  }

  // -------------------------------------------------------- O5: JWT sign

  private val b64url = Base64.getUrlEncoder.withoutPadding

  private def b64(s: Array[Byte]): String = b64url.encodeToString(s)

  /** O5: build and sign the SMART backend-services client-assertion
    * JWT (ref `sign_jwt`, `__init__.py:63-111`): header
    * `{"alg":"RS384","typ":"JWT","kid":…}`, claims
    * `{sub,iss,aud,jti,exp}` with sub = iss = client id, aud = token
    * URL, exp = now + 5 min as epoch SECONDS (the ref's comment says
    * "milliseconds" but `timegm` returns seconds — seconds is what RFC
    * 7519 `exp` requires, so the code was right and the comment wrong).
    * JSON is emitted compact, fields in the reference's order, so the
    * signing input is reproducible byte-for-byte.
    *
    * @param now injected for determinism in tests; production passes
    *            `Instant.now()`
    * @param jti unique per assertion (replay protection); defaults to
    *            a random UUID like the reference
    */
  def buildSignedJwt(
      clientId: String,
      tokenUrl: String,
      signer: JwtSigner,
      now: Instant,
      ttl: Duration = Duration.ofMinutes(5),
      jti: String = java.util.UUID.randomUUID().toString): String = {
    val json = new ObjectMapper()
    val header = json.createObjectNode()
      .put("alg", "RS384").put("typ", "JWT").put("kid", signer.kid)
    val payload = json.createObjectNode()
      .put("sub", clientId).put("iss", clientId).put("aud", tokenUrl)
      .put("jti", jti).put("exp", now.plus(ttl).getEpochSecond)
    val signingInput =
      b64(json.writeValueAsBytes(header)) + "." + b64(json.writeValueAsBytes(payload))
    val digest = MessageDigest.getInstance("SHA-384")
      .digest(signingInput.getBytes(UTF_8))
    signingInput + "." + b64(signer.signDigest(digest))
  }

  /** Verify a compact RS384 JWT signature with a public key — the
    * check the authorization server performs; used by AuthSpec to pin
    * that the digest-seam signature is a real SHA384withRSA one. */
  def verifyJwtSignature(jwt: String, pub: PublicKey): Boolean = {
    val parts = jwt.split('.')
    if (parts.length != 3) false
    else {
      val v = Signature.getInstance("SHA384withRSA")
      v.initVerify(pub)
      v.update((parts(0) + "." + parts(1)).getBytes(UTF_8))
      v.verify(Base64.getUrlDecoder.decode(parts(2)))
    }
  }

  // -------------------------------------------------- O6: token exchange

  /** Which client credential authenticates the token request — the
    * reference's mutually-exclusive kwargs (`__init__.py:122-127`)
    * made a proper sum type, so "both" or "neither" is unrepresentable
    * instead of a runtime branch. */
  sealed trait ClientCredential
  /** SMART backend-services: the signed JWT rides in the form body. */
  final case class JwtAssertion(signedJwt: String) extends ClientCredential
  /** Plain client secret: HTTP Basic per RFC 7617 (the reference
    * base64url-encodes the Basic token at `__init__.py:147` — a
    * deviation from the RFC's standard-alphabet base64 that breaks on
    * servers doing strict decoding; fixed here, standard alphabet WITH
    * padding). The ref also requires client_id with the secret
    * (`:153-155`) — the case class makes that structural. */
  final case class BasicSecret(clientId: String, clientSecret: String) extends ClientCredential

  /** RFC 7617 Basic credentials header value. */
  def basicAuthHeader(clientId: String, clientSecret: String): String =
    "Basic " + Base64.getEncoder.encodeToString(
      s"$clientId:$clientSecret".getBytes(UTF_8))

  /** The exact client_credentials form for the JWT-assertion flow
    * (ref `token_req_params`, `__init__.py:133-138`). */
  def assertionForm(signedJwt: String, scope: String): Seq[(String, String)] = Seq(
    "grant_type"            -> "client_credentials",
    "client_assertion_type" -> "urn:ietf:params:oauth:client-assertion-type:jwt-bearer",
    "client_assertion"      -> signedJwt,
    "scope"                 -> scope)

  /** An access token plus ABSOLUTE expiry. The reference computes
    * `now + timedelta(hours = expires_in/3600)` (`__init__.py:160`) —
    * a round trip through hours that lands back on seconds; here the
    * `expires_in` seconds are added directly. */
  final case class AccessToken(token: String, expiresAt: Instant) {
    def expired(now: Instant, skew: Duration = Duration.ofSeconds(60)): Boolean =
      !now.plus(skew).isBefore(expiresAt)
  }

  /** O6: run the token exchange (ref `get_access_token`,
    * `__init__.py:118-173`). The JWT flow posts the assertion form;
    * the Basic flow posts an empty grant with the Authorization
    * header, mirroring the reference's two branches.
    *
    * @param now injected clock for expiry bookkeeping
    */
  def fetchAccessToken(
      transport: HttpTransport,
      tokenUrl: String,
      credential: ClientCredential,
      scope: String,
      now: Instant): AccessToken = {
    val r = credential match {
      case JwtAssertion(jwt) =>
        transport.postForm(tokenUrl, assertionForm(jwt, scope))
      case BasicSecret(id, secret) =>
        transport.postForm(tokenUrl,
          Seq("grant_type" -> "client_credentials", "scope" -> scope),
          Map("Authorization" -> basicAuthHeader(id, secret),
              "accept"        -> "application/json"))
    }
    require(r.ok, s"token exchange at $tokenUrl failed: HTTP ${r.status} ${r.body.take(500)}")
    val node = new ObjectMapper().readTree(r.body)
    val tok = node.path("access_token")
    require(tok.isTextual && tok.asText.nonEmpty,
      s"token response from $tokenUrl has no access_token")
    // The ref does int(expires_in): servers return it as number OR
    // string; accept both, default to 300s if absent (short-lived,
    // forces an early refresh rather than a stale token).
    val expiresIn = node.path("expires_in") match {
      case n if n.isNumber  => n.asLong
      case n if n.isTextual => n.asText.trim.toLong
      case _                => 300L
    }
    AccessToken(tok.asText, now.plusSeconds(expiresIn))
  }

  // --------------------------------------------- O7: scoped token cache

  /** AAD-style default scope for a resource (ref
    * `get_fhir_server_access_token`, `__init__.py:244-251`). */
  def defaultScope(resourceUrl: String): String =
    resourceUrl.stripSuffix("/") + "/.default"

  /** A token provider that refreshes ONLY when the cached token is
    * within `skew` of expiry — the production behavior the reference
    * lacks (it fetches a fresh token on every function invocation,
    * `__init__.py:244-251`, an avoidable round trip per run and a rate
    * -limit hazard on busy schedules). Not thread-safe by design: the
    * pipeline driver is single-threaded control flow; a duplicate
    * fetch under a rare race would be wasteful, not wrong.
    */
  final class CachingTokenProvider(
      refresh: Instant => AccessToken,
      clock: () => Instant,
      skew: Duration = Duration.ofSeconds(60)) {
    private var cached: Option[AccessToken] = None
    def current(): String = {
      val now = clock()
      cached match {
        case Some(t) if !t.expired(now, skew) => t.token
        case _ =>
          val t = refresh(now)
          cached = Some(t)
          t.token
      }
    }
  }

  // --------------------------------------------------- pipeline wiring

  /** End-to-end chain: discovery → JWT → token exchange, returning a
    * provider [[BulkPipeline]]'s kickoff/poll legs can draw Bearer
    * tokens from. This is the auth seam: `runLocalFlow` stays
    * network-free, and a networked deployment composes
    * `authorize(...)` + [[kickoffExport]] in front of it. */
  def authorize(
      transport: HttpTransport,
      fhirBase: String,
      clientId: String,
      signer: JwtSigner,
      scope: String,
      clock: () => Instant = () => Instant.now()): CachingTokenProvider = {
    val tokenUrl = tokenEndpoint(transport, smartConfigUrl(fhirBase))
    new CachingTokenProvider(
      refresh = now => {
        val jwt = buildSignedJwt(clientId, tokenUrl, signer, now)
        fetchAccessToken(transport, tokenUrl, JwtAssertion(jwt), scope, now)
      },
      clock = clock)
  }

  /** Bulk-export kickoff headers (ref `kickoff_export`,
    * `__init__.py:175-189`). */
  def kickoffHeaders(accessToken: String): Map[String, String] = Map(
    "Accept"        -> "application/fhir+json",
    "Prefer"        -> "respond-async",
    "Authorization" -> s"Bearer $accessToken")

  /** O1's network leg with the auth seam plugged in: GET the kickoff
    * URL with the async-export headers, return the polling URL from
    * `Content-Location` (ref reads the header unconditionally and
    * KeyErrors on a sync response, `__init__.py:186` — here a missing
    * header is a real error message). Compose with
    * [[BulkPipeline.pollUntilComplete]] for the wait loop. */
  def kickoffExport(
      transport: HttpTransport,
      kickoffUrl: String,
      tokens: CachingTokenProvider): String = {
    val r = transport.get(kickoffUrl, kickoffHeaders(tokens.current()))
    require(r.status == 202,
      s"bulk export kickoff at $kickoffUrl not accepted: HTTP ${r.status} ${r.body.take(200)}")
    r.headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("Content-Location") => v
    }.getOrElse(throw new IllegalArgumentException(
      s"kickoff response from $kickoffUrl has no Content-Location header"))
  }
}
