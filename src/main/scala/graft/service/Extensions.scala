package graft.service

import graft.catalog.{CatalogError, TableIdent}
import graft.core.{TableMetadata, TableUpdate}

import java.util.UUID
import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Pluggable service extension traits (SURVEY §2.6) — plain Scala
  * shapes of the reference's pluggable surface (service/auth.rs:15-188,
  * service/contract_verification.rs:104-258,
  * service/event_publisher.rs:157-198), re-expressed; DI at server
  * construction mirrors the reference's generic wiring
  * (iceberg-catalog-bin/src/main.rs:72-89).
  */

// ------------------------------------------------------------- authz
/** Operation classes the catalog authorizes. One check per route
  * family; `Right(())` allows, `Left` carries the HTTP error. */
trait AuthZHandler {
  def checkNamespaceOp(wh: UUID, op: String, namespace: Seq[String])
      : Either[CatalogError, Unit]
  def checkTableOp(wh: UUID, op: String, ident: TableIdent): Either[CatalogError, Unit]
  def checkWarehouseOp(projectId: UUID, op: String): Either[CatalogError, Unit]
}

object AuthZHandler {
  /** Default: allow everything (reference AllowAllAuthZHandler). */
  object AllowAll extends AuthZHandler {
    def checkNamespaceOp(wh: UUID, op: String, ns: Seq[String]): Either[CatalogError, Unit] =
      Right(())
    def checkTableOp(wh: UUID, op: String, ident: TableIdent): Either[CatalogError, Unit] =
      Right(())
    def checkWarehouseOp(projectId: UUID, op: String): Either[CatalogError, Unit] =
      Right(())
  }

  private def denied: Either[CatalogError, Unit] =
    Left(CatalogError(403, "Forbidden", "not authorized"))

  /** Deny catalog-surface operations (management still allowed) — used
    * to prove the wiring actually gates routes. */
  object DenyCatalog extends AuthZHandler {
    def checkNamespaceOp(wh: UUID, op: String, ns: Seq[String]): Either[CatalogError, Unit] =
      denied
    def checkTableOp(wh: UUID, op: String, ident: TableIdent): Either[CatalogError, Unit] =
      denied
    def checkWarehouseOp(projectId: UUID, op: String): Either[CatalogError, Unit] =
      Right(())
  }
}

// -------------------------------------------------------------- authn
/** An authenticated caller (reference `UserID`, service/auth.rs). */
final case class Principal(subject: String, claims: Map[String, String] = Map.empty)

/** Bearer-token verification middleware contract (reference
  * service/token_verification.rs:46-75 — JWKS/OIDC verification mounted
  * ahead of every route when configured). `Right(principal)` admits the
  * request; `Left` is returned verbatim as the HTTP error. */
trait TokenVerifier {
  def verify(bearer: Option[String]): Either[CatalogError, Principal]
}

object TokenVerifier {
  /** Default: no authentication mounted (the reference's behavior when
    * no OIDC provider is configured). */
  object AllowAnonymous extends TokenVerifier {
    def verify(bearer: Option[String]): Either[CatalogError, Principal] =
      Right(Principal("anonymous"))
  }

  private def unauthorized(msg: String): Either[CatalogError, Principal] =
    Left(CatalogError(401, "Unauthorized", msg))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The claim checks every JWT verifier shares after its signature
    * check: `exp` in the future, `iss` matching, non-empty `sub`. */
  private def checkClaims(
      payloadB64: String, issuer: String, clock: () => Long)
      : Either[CatalogError, Principal] = {
    val payload =
      try mapper.readTree(java.util.Base64.getUrlDecoder.decode(payloadB64))
      catch { case _: Exception => return unauthorized("malformed token") }
    val exp = Option(payload.get("exp")).map(_.asLong(0L)).getOrElse(0L)
    val iss = Option(payload.get("iss")).map(_.asText("")).getOrElse("")
    val sub = Option(payload.get("sub")).map(_.asText("")).getOrElse("")
    if (exp * 1000L <= clock()) unauthorized("token expired")
    else if (iss != issuer) unauthorized(s"unknown issuer: $iss")
    else if (sub.isEmpty) unauthorized("token has no subject")
    else Right(Principal(sub))
  }

  /** HS256 JWT verification — the shared-secret sibling of
    * [[RsaJwtVerifier]] (same decode / signature / claim pipeline with
    * an HMAC in place of the RSA signature). */
  final class HmacJwtVerifier(secret: Array[Byte], issuer: String,
      clock: () => Long = () => System.currentTimeMillis()) extends TokenVerifier {

    def verify(bearer: Option[String]): Either[CatalogError, Principal] =
      bearer match {
        case None => unauthorized("missing bearer token")
        case Some(token) =>
          token.split('.') match {
            case Array(h, p, sig) =>
              if (!checkSignature(s"$h.$p", sig)) unauthorized("invalid signature")
              else checkClaims(p, issuer, clock)
            case _ => unauthorized("malformed token")
          }
      }

    private def checkSignature(signingInput: String, sigB64: String): Boolean = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(secret, "HmacSHA256"))
      val expected = mac.doFinal(
        signingInput.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val got =
        try java.util.Base64.getUrlDecoder.decode(sigB64)
        catch { case _: IllegalArgumentException => return false }
      java.security.MessageDigest.isEqual(expected, got)
    }
  }

  /** The shared RS256 token pipeline: the token header's `kid` selects
    * a public key through `resolveKey`, the RSA-SHA256 signature is
    * verified with `java.security.Signature`, then the standard
    * claims. Backs both the offline-injected [[RsaJwtVerifier]] and
    * the discovery-backed [[OidcJwtVerifier]]. */
  /** Key resolution outcome: `Right(None)` = the key set is SETTLED and
    * the kid is genuinely absent (401); `Left(e)` = resolution itself
    * failed retryably (keys still in flight — 503, so clients can
    * distinguish "not yet fetched" from "bad token"). */
  private def rs256Verify(
      bearer: Option[String],
      resolveKey: String => Either[CatalogError,
        Option[java.security.interfaces.RSAPublicKey]],
      issuer: String,
      clock: () => Long): Either[CatalogError, Principal] =
    bearer match {
      case None => unauthorized("missing bearer token")
      case Some(token) =>
        token.split('.') match {
          case Array(h, p, sig) =>
            val header =
              try mapper.readTree(java.util.Base64.getUrlDecoder.decode(h))
              catch { case _: Exception => return unauthorized("malformed token") }
            val alg = Option(header.get("alg")).map(_.asText("")).getOrElse("")
            // pinning the algorithm to the key type kills the classic
            // alg-confusion downgrade (an HS256 token MAC'd with the
            // public key bytes must not verify)
            if (alg != "RS256") unauthorized(s"unsupported alg: $alg")
            else Option(header.get("kid")).map(_.asText) match {
              case None => unauthorized("token has no kid")
              case Some(kid) => resolveKey(kid) match {
                case Left(e) => Left(e)
                case Right(None) => unauthorized(s"unknown signing key: $kid")
                case Right(Some(key)) =>
                  if (!rs256Signature(key, s"$h.$p", sig))
                    unauthorized("invalid signature")
                  else checkClaims(p, issuer, clock)
              }
            }
          case _ => unauthorized("malformed token")
        }
    }

  private def rs256Signature(
      key: java.security.interfaces.RSAPublicKey,
      signingInput: String, sigB64: String): Boolean = {
    val got =
      try java.util.Base64.getUrlDecoder.decode(sigB64)
      catch { case _: IllegalArgumentException => return false }
    try {
      val s = java.security.Signature.getInstance("SHA256withRSA")
      s.initVerify(key)
      s.update(signingInput.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      s.verify(got)
    } catch { case _: java.security.GeneralSecurityException => false }
  }

  /** RS256/JWKS JWT verification with an INJECTED key set (an offline
    * JWKS snapshot) — the test seam under [[OidcJwtVerifier]], and the
    * right shape wherever keys are provisioned out-of-band. Rotation
    * is modeled the way it behaves live: swap the key set, and tokens
    * signed by a rotated-out `kid` fail 401. */
  final class RsaJwtVerifier(
      keys: Map[String, java.security.interfaces.RSAPublicKey],
      issuer: String,
      clock: () => Long = () => System.currentTimeMillis()) extends TokenVerifier {
    def verify(bearer: Option[String]): Either[CatalogError, Principal] =
      rs256Verify(bearer, k => Right(keys.get(k)), issuer, clock)
  }

  /** Live OIDC verification, the reference's actual startup shape
    * (token_verification.rs:84-110): fetch
    * `{providerUrl}/.well-known/openid-configuration`, take `issuer`
    * and `jwks_uri` from it, fetch the JWKS, and verify RS256 tokens
    * against the discovered keys. Discovery failure THROWS at
    * construction — a catalog that cannot resolve its token keys must
    * not start serving (the reference's `Verifier::new` errors the
    * same way).
    *
    * Key refresh piggybacks on requests instead of a timer thread
    * (same observable semantics as the reference's jwks client):
    *  - an UNKNOWN `kid` triggers a JWKS re-fetch, rate-limited to one
    *    per `minRefreshIntervalMs` — rotation is picked up on first
    *    sight of a new key id, and a flood of bogus kids cannot DoS
    *    the issuer;
    *  - a cache older than `cacheTtlMs` refreshes on the next verify,
    *    so revoked keys age out even without new kids appearing.
    * A failed REFRESH keeps the previous key set (verification
    * continues; only startup is fail-fast).
    *
    * A hostile/hung issuer cannot stall request threads: every OIDC
    * HTTP call carries connect+request timeouts (`httpTimeoutMs`, the
    * reference's client is bounded the same way), the fetch itself
    * runs on a dedicated daemon thread (never on a request thread),
    * and the two refresh triggers wait differently by what the caller
    * NEEDS:
    *  - TTL aging (cached kid still present) is fire-and-forget —
    *    verifies with cached keys never wait on the network AT ALL
    *    (pinned in AuthSpec by a stalling-JWKS stub);
    *  - an UNKNOWN kid (key rotation) waits on the in-flight fetch for
    *    at most `unknownKidWaitMs` and then fails 503 with Retry-After
    *    (NOT 401 — the kid's status is unknown, not bad, and REST
    *    clients treat 401 as terminal) — a fast issuer means freshly
    *    rotated tokens verify on first sight, a wedged issuer costs
    *    each unknown-kid request a bounded wait (the client retries
    *    once the background fetch lands) instead of convoying every
    *    verify thread behind one ≤`httpTimeoutMs` fetch. A kid that is
    *    absent AFTER a completed fetch is genuinely unknown → 401. */
  final class OidcJwtVerifier(
      providerUrl: String,
      clock: () => Long = () => System.currentTimeMillis(),
      minRefreshIntervalMs: Long = 30 * 1000L,
      cacheTtlMs: Long = 15 * 60 * 1000L,
      httpTimeoutMs: Long = 10 * 1000L,
      unknownKidWaitMs: Long = 1000L) extends TokenVerifier {

    private def fetch(url: String): String = httpGet(url, httpTimeoutMs)

    private val (issuer, jwksUri) = {
      val base = if (providerUrl.endsWith("/")) providerUrl else providerUrl + "/"
      val doc =
        try mapper.readTree(fetch(base + ".well-known/openid-configuration"))
        catch {
          case e: Exception => throw new IllegalStateException(
            s"OIDC discovery failed for $providerUrl (catalog cannot start " +
              s"without its token keys): ${e.getMessage}", e)
        }
      val iss = Option(doc.get("issuer")).map(_.asText("")).getOrElse("")
      val uri = Option(doc.get("jwks_uri")).map(_.asText("")).getOrElse("")
      if (iss.isEmpty || uri.isEmpty) throw new IllegalStateException(
        s"OIDC discovery document at $providerUrl lacks issuer/jwks_uri")
      (iss, uri)
    }
    @volatile private var keys: Map[String, java.security.interfaces.RSAPublicKey] =
      try parseJwks(fetch(jwksUri))
      catch {
        case e: Exception => throw new IllegalStateException(
          s"JWKS fetch failed from $jwksUri (catalog cannot start without " +
            s"its token keys): ${e.getMessage}", e)
      }
    @volatile private var fetchedAt: Long = clock()
    // ALL refreshes run on this dedicated daemon thread; request
    // threads never perform (or block behind) the network fetch.
    // Single-flight is the `inflight` handle: whoever finds it null
    // schedules one fetch, everyone else shares the same future.
    // core 0 / max 1 with a keepalive: the fetch thread exists only
    // around refreshes and dies idle (a verifier per spec would
    // otherwise pin a thread each for the JVM's lifetime)
    private val fetchPool = new java.util.concurrent.ThreadPoolExecutor(
      0, 1, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-jwks-fetch"); t.setDaemon(true); t
      })
    private val inflight = new java.util.concurrent.atomic.AtomicReference[
      java.util.concurrent.CompletableFuture[Unit]](null)

    def verify(bearer: Option[String]): Either[CatalogError, Principal] = {
      if (clock() - fetchedAt > cacheTtlMs) refresh(waitForResult = false)
      rs256Verify(bearer, resolveKey, issuer, clock)
    }

    private def resolveKey(kid: String): Either[CatalogError,
        Option[java.security.interfaces.RSAPublicKey]] =
      keys.get(kid) match {
        case some @ Some(_) => Right(some)
        case None =>
          val settled = refresh(waitForResult = true)
          keys.get(kid) match {
            case some @ Some(_) => Right(some)
            // fetch completed (or none was needed) and the kid is
            // genuinely not in the set → 401 at the caller
            case None if settled => Right(None)
            // the bounded join TIMED OUT with the fetch still in
            // flight: the kid's status is UNKNOWN, not bad — 503 +
            // Retry-After so clients retry instead of treating a
            // freshly rotated token as an auth failure
            case None => Left(CatalogError(503, "AuthKeysUnavailable",
              s"signing key '$kid' is not cached and the JWKS refresh " +
                "is still in flight; retry shortly"))
          }
      }

    /** Schedule (or join) the single in-flight background fetch.
      * `waitForResult` callers — unknown-`kid` resolution, the only
      * ones that NEED the outcome — wait AT MOST `unknownKidWaitMs`
      * and then give up, returning `false` ("outcome not settled"):
      * the token fails 503/Retry-After and the client retries, which
      * is strictly better than a burst of unknown-kid tokens during a
      * key rotation serializing every verify thread behind one slow
      * (≤ httpTimeoutMs) fetch. Cached-kid verifies never wait at
      * all. Returns `true` when the outcome is settled (the joined
      * fetch completed, or there was nothing to wait for). */
    private def refresh(waitForResult: Boolean): Boolean = {
      val f: java.util.concurrent.CompletableFuture[Unit] =
        if (clock() - fetchedAt < minRefreshIntervalMs) {
          // rate-limited — but doFetch bumps fetchedAt at fetch START,
          // so "recent" may mean a fetch is IN FLIGHT right now. An
          // unknown-kid caller must still join it (bounded below), or
          // valid freshly-rotated tokens that arrive milliseconds
          // behind the fetch-triggering request would 401 for no
          // reason. inflight == null ⇒ genuinely rate-limited ⇒ no wait.
          if (waitForResult) inflight.get() else null
        } else {
          val cur = inflight.get()
          if (cur != null) cur
          else {
            val fut = new java.util.concurrent.CompletableFuture[Unit]()
            if (inflight.compareAndSet(null, fut)) {
              fetchPool.execute { () =>
                try doFetch()
                finally { inflight.set(null); fut.complete(()) }
              }
              fut
            } else inflight.get() // raced: join theirs (null = just done)
          }
        }
      if (waitForResult && f != null)
        try { f.get(unknownKidWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS); true }
        catch {
          // keys may still land later — not settled, caller 503s
          case _: java.util.concurrent.TimeoutException => false
          case _: InterruptedException => Thread.currentThread().interrupt(); false
          // the fetch ran to completion (doFetch swallows its own
          // errors, so this is belt-and-braces): settled
          case _: java.util.concurrent.ExecutionException => true
        }
      else true
    }

    private def doFetch(): Unit =
      if (clock() - fetchedAt >= minRefreshIntervalMs) { // re-check inside
        fetchedAt = clock() // rate-limits failed attempts too
        try keys = parseJwks(fetch(jwksUri))
        catch { case e: Exception => System.err.println(
          s"[graft-auth] JWKS refresh from $jwksUri failed, keeping " +
            s"${keys.size} cached keys: ${e.getMessage}") }
      }
  }

  // one shared client (connection reuse) with a bounded connect; each
  // request additionally carries its own response timeout
  private lazy val oidcHttpClient = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private def httpGet(url: String, timeoutMs: Long = 10 * 1000L): String = {
    val resp = oidcHttpClient.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new IllegalStateException(s"GET $url -> HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** Parse a JWKS document's RSA members (`kty: RSA`, base64url `n`/`e`)
    * into a kid-keyed map; non-RSA entries are skipped. */
  private[service] def parseJwks(json: String)
      : Map[String, java.security.interfaces.RSAPublicKey] = {
    val kf = java.security.KeyFactory.getInstance("RSA")
    val dec = java.util.Base64.getUrlDecoder
    mapper.readTree(json).path("keys").elements().asScala.flatMap { k =>
      val kty = k.path("kty").asText("")
      val kid = k.path("kid").asText("")
      if (kty != "RSA" || kid.isEmpty) None
      else try {
        val n = new java.math.BigInteger(1, dec.decode(k.path("n").asText("")))
        val e = new java.math.BigInteger(1, dec.decode(k.path("e").asText("")))
        Some(kid -> kf.generatePublic(
          new java.security.spec.RSAPublicKeySpec(n, e))
          .asInstanceOf[java.security.interfaces.RSAPublicKey])
      } catch { case _: Exception => None }
    }.toMap
  }

  /** Render a kid-keyed RSA key map as a JWKS document — the issuer
    * side of [[parseJwks]] (stub servers in specs, key export). */
  def jwksJson(keys: Map[String, java.security.interfaces.RSAPublicKey]): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    def b64(b: java.math.BigInteger): String = {
      val raw = b.toByteArray
      // strip the sign byte BigInteger prepends for high-bit values
      enc.encodeToString(if (raw.length > 1 && raw(0) == 0) raw.drop(1) else raw)
    }
    val root = mapper.createObjectNode()
    val arr = root.putArray("keys")
    keys.toSeq.sortBy(_._1).foreach { case (kid, key) =>
      val k = arr.addObject()
      k.put("kty", "RSA"); k.put("kid", kid); k.put("alg", "RS256")
      k.put("use", "sig")
      k.put("n", b64(key.getModulus)); k.put("e", b64(key.getPublicExponent))
    }
    mapper.writeValueAsString(root)
  }

  /** Test/demo helper: mint an RS256 JWT the [[RsaJwtVerifier]]
    * accepts (the issuer side of the offline JWKS pair). */
  def signRs256(priv: java.security.PrivateKey, kid: String, issuer: String,
      subject: String, expEpochSec: Long): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    def b64(s: String) = enc.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = b64(s"""{"alg":"RS256","typ":"JWT","kid":"$kid"}""")
    val p = b64(s"""{"sub":"$subject","iss":"$issuer","exp":$expEpochSec}""")
    val s = java.security.Signature.getInstance("SHA256withRSA")
    s.initSign(priv)
    s.update(s"$h.$p".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    s"$h.$p.${enc.encodeToString(s.sign())}"
  }

  /** Test/demo helper: mint an HS256 JWT the [[HmacJwtVerifier]]
    * accepts. */
  def signHs256(secret: Array[Byte], issuer: String, subject: String,
      expEpochSec: Long): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    def b64(s: String) = enc.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = b64("""{"alg":"HS256","typ":"JWT"}""")
    val p = b64(s"""{"sub":"$subject","iss":"$issuer","exp":$expEpochSec}""")
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(secret, "HmacSHA256"))
    val sig = enc.encodeToString(mac.doFinal(
      s"$h.$p".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    s"$h.$p.$sig"
  }
}

/** Reference `AuthConfigHandler` (service/auth.rs:200-249): contributes
  * auth-related entries to the GET /config response so clients learn
  * how to authenticate (token endpoint, client id, ...). */
trait AuthConfigHandler {
  def authConfig(warehouseId: UUID): Map[String, String]
}

object AuthConfigHandler {
  /** No auth advertised (reference default without OIDC). */
  object None extends AuthConfigHandler {
    def authConfig(warehouseId: UUID): Map[String, String] = Map.empty
  }

  /** Static config entries (the OIDC case: token endpoint etc.). */
  final case class Static(entries: Map[String, String]) extends AuthConfigHandler {
    def authConfig(warehouseId: UUID): Map[String, String] = entries
  }
}

// --------------------------------------------------- contract checks
sealed trait ContractOutcome
object ContractOutcome {
  case object Clear extends ContractOutcome
  final case class Violation(errorType: String, message: String) extends ContractOutcome
}

/** External contract verification on table evolution (e.g. schema
  * registries vetoing breaking changes). */
trait ContractVerifier {
  def name: String
  def checkCommit(updates: Seq[TableUpdate], current: TableMetadata): ContractOutcome
  def checkDrop(tableId: UUID): ContractOutcome = ContractOutcome.Clear
  def checkRename(source: TableIdent, destination: TableIdent): ContractOutcome =
    ContractOutcome.Clear
}

/** Verifier chain: first Violation short-circuits (reference chain
  * behavior) and surfaces as 409 ContractViolation. */
final class ContractVerifiers(chain: Seq[ContractVerifier]) {
  def isEmpty: Boolean = chain.isEmpty
  private def run(f: ContractVerifier => ContractOutcome): Either[CatalogError, Unit] = {
    for (v <- chain) f(v) match {
      case ContractOutcome.Clear =>
      case ContractOutcome.Violation(tpe, msg) =>
        return Left(CatalogError(409, tpe, s"[${v.name}] $msg"))
    }
    Right(())
  }
  def checkCommit(updates: Seq[TableUpdate], current: TableMetadata): Either[CatalogError, Unit] =
    run(_.checkCommit(updates, current))
  def checkDrop(tableId: UUID): Either[CatalogError, Unit] = run(_.checkDrop(tableId))
  def checkRename(source: TableIdent, destination: TableIdent): Either[CatalogError, Unit] =
    run(_.checkRename(source, destination))
}

object ContractVerifiers {
  val Empty = new ContractVerifiers(Nil)
  def apply(chain: ContractVerifier*): ContractVerifiers = new ContractVerifiers(chain)
}

// ------------------------------------------------------ change events
/** Catalog change event (CloudEvents-shaped payload; reference emits
  * createTable/updateTable/dropTable/renameTable). */
final case class CatalogEvent(
    eventType: String,
    warehouseId: UUID,
    ident: TableIdent,
    tableId: UUID,
    sequenceNumber: Long,
    timestampMs: Long)

trait CloudEventBackend {
  def publish(event: CatalogEvent): Unit
}

object CloudEventBackend {
  /** Default sink: drop (reference default wiring publishes to tracing
    * only). */
  object Noop extends CloudEventBackend {
    def publish(event: CatalogEvent): Unit = ()
  }

  /** Test backend: collects events in order. */
  final class Collecting extends CloudEventBackend {
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[CatalogEvent]()
    def publish(event: CatalogEvent): Unit = buf.add(event)
    def events: Seq[CatalogEvent] = buf.toArray(Array.empty[CatalogEvent]).toSeq
  }

  /** Durable sink: one JSON line per event appended to a local file
    * (the at-most-once stand-in for the reference's NATS backend,
    * event_publisher.rs:157-198 — delivery semantics are identical:
    * the publisher's bounded queue drops on overflow, a publish
    * failure here logs-and-drops upstream, and whatever was published
    * survives process restarts). Thread-safe; flushed per event so a
    * crash loses at most the in-flight line. */
  final class FileBacked(path: java.nio.file.Path)
      extends CloudEventBackend with AutoCloseable {
    private val out = java.nio.file.Files.newBufferedWriter(
      path, java.nio.charset.StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    def publish(event: CatalogEvent): Unit = synchronized {
      out.write(FileBacked.toJson(event)); out.newLine(); out.flush()
    }
    def close(): Unit = synchronized(out.close())
  }

  /** Network sink: POST each event as a CloudEvents 1.0 structured
    * JSON envelope to a fixed endpoint — the HTTP sibling of the
    * reference's NATS backend (event_publisher.rs:173-198: serialize,
    * publish, errors logged-and-dropped by the queueing publisher
    * upstream). End-to-end delivery is at-most-once, matching the
    * reference's contract: the publisher's bounded queue drops on
    * overflow after the 50 ms offer timeout, and a slow consumer
    * stalls the single worker so the queue fills and subsequent emits
    * drop — commits never block on the sink. `timeoutMs` bounds each
    * request so one hung consumer cannot wedge the worker forever. */
  final class HttpBacked(
      endpoint: String,
      timeoutMs: Long = 5000,
      client: java.net.http.HttpClient = java.net.http.HttpClient.newHttpClient())
      extends CloudEventBackend {
    def publish(event: CatalogEvent): Unit = {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
          .timeout(java.time.Duration.ofMillis(timeoutMs))
          .header("Content-Type", "application/cloudevents+json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            HttpBacked.toCloudEvent(event)))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.discarding())
      if (resp.statusCode() / 100 != 2)
        throw new IllegalStateException(
          s"event POST $endpoint -> HTTP ${resp.statusCode()}")
    }
  }

  /** NATS-protocol sink: each event's CloudEvents 1.0 JSON published
    * to a fixed subject over the real NATS client wire protocol — the
    * exact sibling of the reference's NatsBackend
    * (event_publisher.rs:163-182: `client.publish(topic,
    * serde_json::to_vec(&event))`). The protocol is public plaintext
    * (docs.nats.io): server greets `INFO {...}`, client answers
    * `CONNECT {...}`, messages are `PUB <subject> <#bytes>\r\n<payload>
    * \r\n`, liveness is `PING`/`PONG`. Delivery semantics match the
    * reference end to end: at-most-once — a failed publish throws, the
    * queueing publisher upstream logs-and-drops, and the next publish
    * reconnects. All socket ops are timeout-bounded so a hung broker
    * stalls at most the single publisher worker, never a commit. */
  final class NatsBacked(
      host: String, port: Int, subject: String, timeoutMs: Int = 5000)
      extends CloudEventBackend with AutoCloseable {
    private var sock: java.net.Socket = _
    private var in: java.io.BufferedInputStream = _
    private var out: java.io.OutputStream = _

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder()
      var c = in.read()
      while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
      if (c == -1 && sb.length() == 0)
        throw new java.io.EOFException("NATS connection closed")
      sb.toString
    }

    private def connect(): Unit = {
      val s = new java.net.Socket()
      s.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
      s.setSoTimeout(timeoutMs)
      in = new java.io.BufferedInputStream(s.getInputStream)
      out = s.getOutputStream
      sock = s
      val greeting = readLine()
      if (!greeting.startsWith("INFO "))
        throw new IllegalStateException(s"not a NATS server: $greeting")
      out.write(("CONNECT {\"verbose\":false,\"pedantic\":false," +
        "\"tls_required\":false,\"name\":\"graft-catalog\"," +
        "\"lang\":\"scala\",\"version\":\"1\"}\r\nPING\r\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.flush()
      // the PONG proves the broker ACCEPTED the CONNECT — a rejecting
      // broker (auth required, bad options) answers -ERR and closes,
      // which must fail HERE, not surface as a silently lost first PUB
      // written into a dying socket
      var l = readLine()
      while (l != "PONG") {
        if (l.startsWith("-ERR"))
          throw new IllegalStateException(s"NATS CONNECT rejected: $l")
        if (l == "PING")
          out.write("PONG\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        l = readLine() // +OK / INFO updates: ignore
      }
    }

    /** Answer any control traffic the server pushed since the last
      * publish (PING keep-alives must be PONGed or the server drops
      * the connection); never blocks — only already-buffered bytes. */
    private def drainControl(): Unit =
      while (in.available() > 0) {
        val line = readLine()
        if (line == "PING")
          out.write("PONG\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        else if (line.startsWith("-ERR"))
          throw new IllegalStateException(s"NATS server error: $line")
        // +OK / INFO updates: ignore
      }

    def publish(event: CatalogEvent): Unit = synchronized {
      try {
        if (sock == null || sock.isClosed) connect()
        drainControl()
        val payload = HttpBacked.toCloudEvent(event)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.write(s"PUB $subject ${payload.length}\r\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write(payload)
        out.write("\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.flush()
      } catch {
        case e: Exception =>
          close() // next publish reconnects
          throw new IllegalStateException(
            s"NATS publish to $host:$port/$subject failed: ${e.getMessage}", e)
      }
    }

    def close(): Unit = synchronized {
      if (sock != null) { try sock.close() catch { case _: Exception => () } }
      sock = null
    }
  }

  object HttpBacked {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    /** CloudEvents 1.0 structured mode: spec attributes in the
      * envelope, the catalog payload under `data`. */
    private[service] def toCloudEvent(e: CatalogEvent): String = {
      val o = mapper.createObjectNode()
      o.put("specversion", "1.0")
      o.put("id", UUID.randomUUID().toString)
      o.put("type", e.eventType)
      o.put("source", "graft-catalog")
      o.put("time", java.time.Instant.ofEpochMilli(e.timestampMs).toString)
      o.set[com.fasterxml.jackson.databind.node.ObjectNode](
        "data", mapper.readTree(FileBacked.toJson(e))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      mapper.writeValueAsString(o)
    }
  }

  object FileBacked {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    private[service] def toJson(e: CatalogEvent): String = {
      val o = mapper.createObjectNode()
      o.put("event-type", e.eventType)
      o.put("warehouse-id", e.warehouseId.toString)
      val ns = o.putArray("namespace")
      e.ident.namespace.foreach(ns.add)
      o.put("name", e.ident.name)
      o.put("table-id", e.tableId.toString)
      o.put("sequence-number", e.sequenceNumber)
      o.put("timestamp-ms", e.timestampMs)
      mapper.writeValueAsString(o)
    }

    /** Replay a sink file (consumer side / tests). */
    def readAll(path: java.nio.file.Path): Seq[CatalogEvent] = {
      if (!java.nio.file.Files.exists(path)) return Nil
      java.nio.file.Files.readAllLines(path).asScala.toSeq
        .filter(_.nonEmpty).map { line =>
          val n = mapper.readTree(line)
          CatalogEvent(
            n.get("event-type").asText(),
            UUID.fromString(n.get("warehouse-id").asText()),
            TableIdent(
              n.get("namespace").elements().asScala.map(_.asText()).toSeq,
              n.get("name").asText()),
            UUID.fromString(n.get("table-id").asText()),
            n.get("sequence-number").asLong(),
            n.get("timestamp-ms").asLong())
        }
    }
  }
}

/** Bounded async publisher: the commit path never blocks on the event
  * sink — a full queue drops the event after a short offer timeout and
  * logs, exactly the reference's fire-and-forget contract (1000-slot
  * channel, 50 ms enqueue timeout, event_publisher.rs:16-53). Drops and
  * backend failures are also counted ([[dropped]], [[failed]]). */
final class QueueingEventPublisher(
    backend: CloudEventBackend,
    capacity: Int = 1000,
    enqueueTimeoutMs: Long = 50) extends AutoCloseable {

  private val queue = new ArrayBlockingQueue[CatalogEvent](capacity)
  private val seq = new AtomicLong(0)
  private val drops = new AtomicLong(0)
  private val failures = new AtomicLong(0)
  @volatile private var running = true

  private val worker = new Thread(() => {
    while (running || !queue.isEmpty) {
      val e = queue.poll(20, TimeUnit.MILLISECONDS)
      if (e != null)
        try backend.publish(e)
        catch { case ex: Exception =>
          failures.incrementAndGet()
          System.err.println(s"[graft-events] backend failed: ${ex.getMessage}")
        }
    }
  }, "graft-event-publisher")
  worker.setDaemon(true)
  worker.start()

  def nextSequenceNumber(): Long = seq.incrementAndGet()

  /** Events dropped because the queue stayed full. */
  def dropped: Long = drops.get()

  /** Events the backend failed to publish. */
  def failed: Long = failures.get()

  /** Fire-and-forget: drops with a log line when the queue stays full
    * past the timeout. */
  def emit(event: CatalogEvent): Unit =
    if (!queue.offer(event, enqueueTimeoutMs, TimeUnit.MILLISECONDS)) {
      drops.incrementAndGet()
      System.err.println(
        s"[graft-events] queue full, dropping ${event.eventType} for ${event.ident.name}")
    }

  def close(): Unit = { running = false; worker.join(2000) }
}
