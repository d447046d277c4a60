package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.catalog._

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.Executors
import scala.util.Try

/** Iceberg REST catalog server over the JDK HTTP server (zero extra
  * dependencies). Routes mirror the reference's /catalog/v1 +
  * /management/v1 surface (/root/reference/crates/iceberg-catalog/src/
  * api/router.rs:50-51); every handler follows the same
  * VALIDATIONS → (authz) → BUSINESS LOGIC discipline with the uniform
  * error envelope. The server holds no state beyond the injected store —
  * N replicas in front of one store scale horizontally exactly like the
  * reference claims (README.md:21).
  */
final class CatalogServer(
    store: CatalogStore,
    defaultProjectId: UUID,
    port: Int = 0,
    clock: () => Long = () => System.currentTimeMillis(),
    secrets: SecretStore = new InMemorySecretStore,
    authz: graft.service.AuthZHandler = graft.service.AuthZHandler.AllowAll,
    contracts: graft.service.ContractVerifiers = graft.service.ContractVerifiers.Empty,
    events: graft.service.QueueingEventPublisher =
      new graft.service.QueueingEventPublisher(graft.service.CloudEventBackend.Noop),
    auth: graft.service.TokenVerifier = graft.service.TokenVerifier.AllowAnonymous,
    authConfig: graft.service.AuthConfigHandler = graft.service.AuthConfigHandler.None,
    /** loopback by default (safe for tests/dev); deployments pass
      * "0.0.0.0" like the reference's bind_addr (main.rs:136-138) */
    bindHost: String = "127.0.0.1",
    /** the URI ADVERTISED to clients (config `uri`, `s3.signer.uri`) —
      * the reference's explicit `base_uri` config (config.rs:38,85).
      * Required when binding beyond loopback: "http://127.0.0.1:port"
      * is only addressable by the client that computed it. None →
      * loopback + bound port (correct for tests/dev). */
    advertisedUri: Option[String] = None) {
  import graft.service.CatalogEvent
  import CatalogServer._

  TcpNoDelay.ensureSet()
  private val server: HttpServer = HttpServer.create(new InetSocketAddress(bindHost, port), 0)
  // keep the handle: HttpServer.stop does NOT shut down a user-supplied
  // executor, and its non-daemon workers would pin an embedding JVM
  // alive after stop() (surfaced by the MV-tick rehearsal main, which
  // starts several servers in one process)
  private val pool = Executors.newFixedThreadPool(16)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => route(ex))

  def start(): CatalogServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort
  /** Loopback address of the bound port — always reachable from this
    * machine (tests, the healthcheck subcommand, local clients). */
  def baseUri: String = s"http://127.0.0.1:$boundPort"

  /** What clients are TOLD to call back (config `uri`,
    * `s3.signer.uri`): the configured advertised URI, else loopback. */
  private def advertised: String = advertisedUri.getOrElse(baseUri).stripSuffix("/")

  // ------------------------------------------------------------ plumbing
  private def respond(ex: HttpExchange, status: Int, body: String = ""): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    if (body.nonEmpty)
      ex.getResponseHeaders.set("Content-Type", "application/json")
    // HEAD and 204 must not carry a body (send -1 = no content)
    if (bytes.isEmpty || ex.getRequestMethod == "HEAD") {
      ex.sendResponseHeaders(status, -1)
    } else {
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    ex.close()
  }

  private def respondError(ex: HttpExchange, e: CatalogError): Unit = {
    // 503s are RETRYABLE by contract (auth keys mid-fetch, transient
    // backend unavailability) — say so in a header so clients
    // distinguish them from terminal failures without parsing bodies
    if (e.code == 503) ex.getResponseHeaders.set("Retry-After", "1")
    respond(ex, e.code, RestCodecs.errorResponse(e))
  }

  private def ok[A](ex: HttpExchange, r: Either[CatalogError, A])(f: A => String): Unit =
    r match {
      case Left(e) => respondError(ex, e)
      case Right(a) =>
        val body = f(a)
        respond(ex, if (body.isEmpty) 204 else 200, body)
    }

  /** The request body, or 413 when it is longer than [[MaxRequestBodyBytes]]. */
  private def readBody(ex: HttpExchange): String = {
    val bytes = ex.getRequestBody.readNBytes(MaxRequestBodyBytes + 1)
    if (bytes.length > MaxRequestBodyBytes)
      throw CatalogError(413, "RequestEntityTooLarge",
        s"request body exceeds $MaxRequestBodyBytes bytes")
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, "UTF-8") ->
          URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  /** Iceberg REST pagination (`pageToken`/`pageSize`) over a SORTED
    * listing: the token is an opaque base64 of the last-returned key,
    * `next-page-token` is present while more remain. The reference
    * currently ignores PageToken (catalog/tables.rs:64-67); a 15k-table
    * warehouse needs it, so we implement the spec behavior. */
  private def paginate[A](ex: HttpExchange, items: Seq[A])(key: A => String)
      : (Seq[A], Option[String]) = {
    val params = queryParams(ex)
    val size = params.get("pageSize").flatMap(_.toIntOption).filter(_ > 0)
    val after = params.get("pageToken").filter(_.nonEmpty).map { t =>
      val decoded =
        try java.util.Base64.getUrlDecoder.decode(t)
        catch { case _: IllegalArgumentException =>
          throw CatalogError.badRequest(s"malformed pageToken: $t") }
      new String(decoded, StandardCharsets.UTF_8)
    }
    val fromStart = after.fold(items)(a => items.dropWhile(key(_) <= a))
    size match {
      case None => (fromStart, None)
      case Some(n) =>
        val page = fromStart.take(n)
        val token =
          if (fromStart.size > n)
            Some(java.util.Base64.getUrlEncoder.withoutPadding()
              .encodeToString(key(page.last).getBytes(StandardCharsets.UTF_8)))
          else None
        (page, token)
    }
  }

  /** Multipart namespaces arrive %1F (unit separator) joined per the
    * public REST spec; depth is 1 here but decode faithfully. */
  private def decodeNs(segment: String): Seq[String] =
    URLDecoder.decode(segment, "UTF-8").split(0x1f.toChar).toSeq

  private def uuid(s: String): Either[CatalogError, UUID] =
    Try(UUID.fromString(s)).toOption
      .toRight(CatalogError.badRequest(s"malformed uuid: $s"))

  // -------------------------------------------------------------- router
  private def route(ex: HttpExchange): Unit =
    try {
      // liveness probe OUTSIDE the auth middleware (reference mounts
      // /health as a GET route on the root router, api/router.rs:53 —
      // load balancers and the healthcheck subcommand carry no token)
      if (ex.getRequestURI.getPath == "/health") {
        ex.getRequestMethod match {
          case "GET" =>
            ex.getResponseHeaders.set("Content-Type", "text/plain")
            val okBytes = "OK".getBytes(StandardCharsets.UTF_8)
            ex.sendResponseHeaders(200, okBytes.length.toLong)
            val os = ex.getResponseBody
            try os.write(okBytes) finally os.close()
            ex.close()
          case "HEAD" => ex.sendResponseHeaders(200, -1); ex.close()
          case _ => ex.sendResponseHeaders(405, -1); ex.close()
        }
        return
      }
      // authn middleware: every route behind bearer verification when a
      // verifier is mounted (reference token_verification.rs:46-75)
      val bearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.regionMatches(true, 0, "Bearer ", 0, 7)).map(_.substring(7).trim)
      auth.verify(bearer) match {
        case Left(e) => respondError(ex, e); return
        case Right(_) => ()
      }
      val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
      val segs = if (path.isEmpty) Array.empty[String] else path.split("/")
      (ex.getRequestMethod, segs.toList) match {
        case (m, "catalog" :: "v1" :: rest) => catalogRoute(ex, m, rest)
        case (m, "management" :: "v1" :: rest) => managementRoute(ex, m, rest)
        case _ => respondError(ex, CatalogError.notFound("NotFound", "no such route"))
      }
    } catch {
      case e: CatalogError => respondError(ex, e)
      case e: Exception =>
        respond(ex, 500, RestCodecs.errorResponse(
          CatalogError(500, "InternalError", String.valueOf(e.getMessage))))
    }

  private def catalogRoute(ex: HttpExchange, method: String, rest: List[String]): Unit =
    (method, rest) match {
      // -- session bootstrap (§2.1 #1)
      case ("GET", "config" :: Nil) =>
        val arg = queryParams(ex).getOrElse("warehouse", "")
        ok(ex, resolveWarehouse(arg)) { w =>
          // auth entries merged into the bootstrap config (reference
          // catalog/config.rs:115-126 token-exchange merge)
          RestCodecs.configResponse(Map(
            "prefix" -> w.id.toString,
            "uri" -> s"$advertised/catalog") ++ authConfig.authConfig(w.id))
        }

      // -- namespaces (§2.1 #2-7)
      case ("GET", prefix :: "namespaces" :: Nil) =>
        val parent = queryParams(ex).get("parent").filter(_.nonEmpty).map(decodeNs)
        withWh(ex, prefix) { wh =>
          ok(ex, authz.checkNamespaceOp(wh, "list", parent.getOrElse(Nil))
            .flatMap(_ => store.listNamespaces(wh, parent))) { all =>
            val (page, next) = paginate(ex, all)(_.mkString("\u001f"))
            RestCodecs.listNamespacesResponse(page, next)
          }
        }
      case ("POST", prefix :: "namespaces" :: Nil) =>
        withWh(ex, prefix) { wh =>
          ok(ex, RestCodecs.createNamespaceRequest(readBody(ex))
            .flatMap(r => authz.checkNamespaceOp(wh, "create", r.namespace)
              .flatMap(_ => store.createNamespace(wh, r.namespace, r.properties))))(
            RestCodecs.namespaceResponse)
        }
      case ("GET", prefix :: "namespaces" :: ns :: Nil) =>
        withWh(ex, prefix) { wh =>
          ok(ex, store.getNamespace(wh, decodeNs(ns)))(RestCodecs.namespaceResponse)
        }
      case ("HEAD", prefix :: "namespaces" :: ns :: Nil) =>
        withWh(ex, prefix) { wh =>
          store.namespaceExists(wh, decodeNs(ns)) match {
            case Right(true) => respond(ex, 204)
            case Right(false) => respond(ex, 404)
            case Left(e) => respondError(ex, e)
          }
        }
      case ("DELETE", prefix :: "namespaces" :: ns :: Nil) =>
        withWh(ex, prefix) { wh =>
          ok(ex, store.dropNamespace(wh, decodeNs(ns)))(_ => "")
        }
      case ("POST", prefix :: "namespaces" :: ns :: "properties" :: Nil) =>
        withWh(ex, prefix) { wh =>
          ok(ex, RestCodecs.updatePropertiesRequest(readBody(ex)).flatMap(r =>
            store.updateNamespaceProperties(wh, decodeNs(ns), r.removals, r.updates)))(
            RestCodecs.propertyUpdateResponse)
        }

      // -- tables (§2.1 #8-16)
      case ("GET", prefix :: "namespaces" :: ns :: "tables" :: Nil) =>
        withWh(ex, prefix) { wh =>
          ok(ex, store.listTables(wh, decodeNs(ns))) { all =>
            val (page, next) = paginate(ex, all)(_.name)
            RestCodecs.listTablesResponse(page, next)
          }
        }
      case ("POST", prefix :: "namespaces" :: ns :: "tables" :: Nil) =>
        withWh(ex, prefix) { wh =>
          val result = RestCodecs.createTableRequest(readBody(ex)).flatMap { r =>
            // server-assigned locations only (reference catalog/
            // tables.rs:965-975 rejects client-specified locations)
            if (r.location.isDefined)
              Left(CatalogError.badRequest("client-specified location is not allowed"))
            else authz.checkTableOp(wh, "create", TableIdent(decodeNs(ns), r.name))
              .flatMap(_ => store.createTable(wh, decodeNs(ns), r.name, r.schema,
                r.spec, r.sortOrder, r.properties, r.stageCreate, clock()))
          }
          result.foreach(rec => events.emit(CatalogEvent("createTable", wh,
            TableIdent(rec.namespace, rec.name), rec.tableId,
            events.nextSequenceNumber(), clock())))
          ok(ex, result)(RestCodecs.loadTableResponse(_))
        }
      case ("POST", prefix :: "namespaces" :: ns :: "register" :: Nil) =>
        // BEYOND the reference (it 501s, catalog/tables.rs:211-225):
        // adopt an existing Iceberg table from its metadata file — the
        // path every catalog migration hits. The metadata is read
        // through the FileIO seam and validated by the strict codecs;
        // unreadable/malformed/foreign-scheme locations are 400s, and
        // the table keeps its uuid/location/file untouched.
        withWh(ex, prefix) { wh =>
          val result = RestCodecs.registerTableRequest(readBody(ex)).flatMap { r =>
            if (r.overwrite)
              Left(CatalogError.badRequest("overwrite on register is not supported"))
            else authz.checkTableOp(wh, "create", TableIdent(decodeNs(ns), r.name))
              .flatMap(_ => store.getWarehouse(wh))
              .flatMap { w =>
                // CONTAINMENT before any read: the location is
                // client-supplied and FileIO serves local paths, so an
                // unchecked read would hand any create-authorized
                // client an arbitrary server-filesystem read/probe
                // oracle. Same rule as the reference's storage-profile
                // validation: metadata must live under THIS warehouse.
                val whPrefix = w.location.stripSuffix("/") + "/"
                // normalize BEFORE the prefix check: a raw startsWith
                // is bypassable with `..` segments ('wh/../../etc/x'
                // shares the prefix but resolves outside), re-opening
                // the read oracle the check closes
                val normalized =
                  try java.net.URI.create(r.metadataLocation).normalize().toString
                  catch { case _: IllegalArgumentException => "" }
                // The string check alone is still bypassable: FileIO
                // resolves via Paths.get(URI.create(...)) which
                // percent-DECODES, so '%2E%2E' segments pass the string
                // normalize+startsWith yet resolve outside the
                // warehouse. Authoritative check: resolve BOTH sides
                // the way LocalFileIO will and compare decoded,
                // normalized absolute paths segment-wise.
                def resolved(loc: String): Option[java.nio.file.Path] =
                  try Some(graft.catalog.LocalFileIO.toPath(loc)
                    .toAbsolutePath.normalize())
                  catch { case _: Exception => None }
                val pathContained = (for {
                  whP <- resolved(w.location)
                  mdP <- resolved(normalized)
                } yield mdP.startsWith(whP)).getOrElse(false)
                if (normalized.isEmpty || normalized.contains("/../") ||
                    !normalized.startsWith(whPrefix) || !pathContained)
                  Left(CatalogError.badRequest(
                    s"metadata-location must be under the warehouse location ${w.location}"))
                else {
                  // read and record the NORMALIZED form only
                  val parsed =
                    try MetadataIO.read(normalized)
                    catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
                  parsed match {
                    case Left(msg) => Left(CatalogError.badRequest(
                      s"cannot read table metadata at $normalized: $msg"))
                    case Right(md) =>
                      store.registerTable(wh, decodeNs(ns), r.name, md, normalized)
                  }
                }
              }
          }
          result.foreach(rec => events.emit(CatalogEvent("registerTable", wh,
            TableIdent(rec.namespace, rec.name), rec.tableId,
            events.nextSequenceNumber(), clock())))
          ok(ex, result)(RestCodecs.loadTableResponse(_))
        }
      case ("GET", prefix :: "namespaces" :: ns :: "tables" :: tbl :: Nil) =>
        withWh(ex, prefix) { wh =>
          val ident = TableIdent(decodeNs(ns), tbl)
          // the tag is computed only after authz and the store load, so a
          // denied or missing table answers 403/404 whatever the client holds
          authz.checkTableOp(wh, "load", ident).flatMap(_ => store.loadTable(wh, ident)) match {
            case Left(e) => respondError(ex, e)
            case Right(rec) =>
              val config = tableConfig(wh, parseDataAccess(ex))
              val tag = rec.metadataLocation.map(loadETag(_, config))
              tag.foreach(ex.getResponseHeaders.set("ETag", _))
              if (tag.exists(ifNoneMatch(ex, _))) respond(ex, 304)
              else respond(ex, 200, RestCodecs.loadTableResponse(rec, config))
          }
        }
      case ("HEAD", prefix :: "namespaces" :: ns :: "tables" :: tbl :: Nil) =>
        withWh(ex, prefix) { wh =>
          store.tableExists(wh, TableIdent(decodeNs(ns), tbl)) match {
            case Right(true) => respond(ex, 204)
            case Right(false) => respond(ex, 404)
            case Left(e) => respondError(ex, e)
          }
        }
      case ("DELETE", prefix :: "namespaces" :: ns :: "tables" :: tbl :: Nil) =>
        withWh(ex, prefix) { wh =>
          val ident = TableIdent(decodeNs(ns), tbl)
          val result = authz.checkTableOp(wh, "drop", ident).flatMap { _ =>
            // contract check + event need the table id; staged tables
            // have no external consumers, so only loadable tables are
            // contract-gated
            store.loadTable(wh, ident).toOption match {
              case Some(rec) =>
                contracts.checkDrop(rec.tableId)
                  .flatMap(_ => store.dropTable(wh, ident))
                  .map(_ => Some(rec))
              case None => store.dropTable(wh, ident).map(_ => None)
            }
          }
          result.foreach(_.foreach(rec => events.emit(CatalogEvent("dropTable", wh,
            ident, rec.tableId, events.nextSequenceNumber(), clock()))))
          ok(ex, result)(_ => "")
        }
      case ("POST", prefix :: "namespaces" :: ns :: "tables" :: tbl :: Nil) =>
        withWh(ex, prefix) { wh =>
          val ident = TableIdent(decodeNs(ns), tbl)
          val result = RestCodecs.commitTableRequest(readBody(ex)).flatMap { r =>
            // path/body identifier reconciliation (catalog/tables.rs:326-361)
            if (r.identifier.exists(_ != ident))
              Left(CatalogError.badRequest(
                "identifier in body does not match request path"))
            else authz.checkTableOp(wh, "commit", ident)
              // contract verifiers may veto the update diff (409),
              // reference catalog/tables.rs:458-463; with none mounted
              // there is nothing to check the current metadata against
              .flatMap(_ =>
                if (contracts.isEmpty) Right(())
                else store.loadTable(wh, ident).toOption
                  .map(rec => contracts.checkCommit(r.updates, rec.metadata))
                  .getOrElse(Right(())))
              .flatMap(_ => store.commitTable(wh, ident, r.requirements, r.updates, clock()))
          }
          result.foreach(rec => events.emit(CatalogEvent("updateTable", wh, ident,
            rec.tableId, events.nextSequenceNumber(), clock())))
          ok(ex, result)(RestCodecs.commitTableResponse)
        }
      case ("POST", prefix :: "namespaces" :: _ :: "tables" :: _ :: "metrics" :: Nil) =>
        // accepted, not persisted (reference no-op, catalog/metrics.rs:9-21)
        withWh(ex, prefix)(_ => respond(ex, 204))
      case ("POST", prefix :: "tables" :: "rename" :: Nil) =>
        withWh(ex, prefix) { wh =>
          val result = RestCodecs.renameTableRequest(readBody(ex)).flatMap(r =>
            authz.checkTableOp(wh, "rename", r.source)
              .flatMap(_ => contracts.checkRename(r.source, r.destination))
              .flatMap(_ => store.renameTable(wh, r.source, r.destination))
              .flatMap(_ => store.loadTable(wh, r.destination)))
          result.foreach(rec => events.emit(CatalogEvent("renameTable", wh,
            TableIdent(rec.namespace, rec.name), rec.tableId,
            events.nextSequenceNumber(), clock())))
          ok(ex, result)(_ => "")
        }
      // -- views: BEYOND the reference (it serves an empty list and
      //    501s every mutation, catalog/views.rs:43-189). Full CRUD +
      //    commit over Iceberg view-spec metadata; routes mirror the
      //    reference's router shape (api/iceberg/v1/views.rs:80-234).
      case ("GET", prefix :: "namespaces" :: ns :: "views" :: Nil) =>
        withWh(ex, prefix) { wh =>
          ok(ex, store.listViews(wh, decodeNs(ns))) { all =>
            val (page, next) = paginate(ex, all)(_.name)
            RestCodecs.listTablesResponse(page, next)
          }
        }
      case ("POST", prefix :: "namespaces" :: ns :: "views" :: Nil) =>
        withWh(ex, prefix) { wh =>
          val result = RestCodecs.createViewRequest(readBody(ex)).flatMap { r =>
            // server-assigned locations only, same rule as tables
            if (r.location.isDefined)
              Left(CatalogError.badRequest("client-specified location is not allowed"))
            else authz.checkTableOp(wh, "create", TableIdent(decodeNs(ns), r.name))
              .flatMap(_ => store.createView(wh, decodeNs(ns), r.name, r.schema,
                r.version, r.properties, clock()))
          }
          result.foreach(rec => events.emit(CatalogEvent("createView", wh,
            TableIdent(rec.namespace, rec.name), rec.viewId,
            events.nextSequenceNumber(), clock())))
          ok(ex, result)(RestCodecs.loadViewResponse)
        }
      case ("GET", prefix :: "namespaces" :: ns :: "views" :: v :: Nil) =>
        withWh(ex, prefix) { wh =>
          val ident = TableIdent(decodeNs(ns), v)
          ok(ex, authz.checkTableOp(wh, "load", ident)
            .flatMap(_ => store.loadView(wh, ident)))(RestCodecs.loadViewResponse)
        }
      case ("HEAD", prefix :: "namespaces" :: ns :: "views" :: v :: Nil) =>
        withWh(ex, prefix) { wh =>
          store.viewExists(wh, TableIdent(decodeNs(ns), v)) match {
            case Right(true) => respond(ex, 204)
            case Right(false) => respond(ex, 404)
            case Left(e) => respondError(ex, e)
          }
        }
      case ("DELETE", prefix :: "namespaces" :: ns :: "views" :: v :: Nil) =>
        withWh(ex, prefix) { wh =>
          val ident = TableIdent(decodeNs(ns), v)
          val result = authz.checkTableOp(wh, "drop", ident).flatMap { _ =>
            val rec = store.loadView(wh, ident).toOption
            store.dropView(wh, ident).map(_ => rec)
          }
          result.foreach(_.foreach(rec => events.emit(CatalogEvent("dropView", wh,
            ident, rec.viewId, events.nextSequenceNumber(), clock()))))
          ok(ex, result)(_ => "")
        }
      case ("POST", prefix :: "namespaces" :: ns :: "views" :: v :: Nil) =>
        withWh(ex, prefix) { wh =>
          val ident = TableIdent(decodeNs(ns), v)
          val result = RestCodecs.commitViewRequest(readBody(ex)).flatMap { r =>
            if (r.identifier.exists(_ != ident))
              Left(CatalogError.badRequest(
                "identifier in body does not match request path"))
            else authz.checkTableOp(wh, "commit", ident)
              .flatMap(_ => store.commitView(wh, ident, r.requirements,
                r.updates, clock()))
          }
          result.foreach(rec => events.emit(CatalogEvent("updateView", wh, ident,
            rec.viewId, events.nextSequenceNumber(), clock())))
          ok(ex, result)(RestCodecs.loadViewResponse)
        }
      case ("POST", prefix :: "views" :: "rename" :: Nil) =>
        withWh(ex, prefix) { wh =>
          val result = RestCodecs.renameTableRequest(readBody(ex)).flatMap(r =>
            authz.checkTableOp(wh, "rename", r.source)
              .flatMap(_ => store.renameView(wh, r.source, r.destination))
              .flatMap(_ => store.loadView(wh, r.destination)))
          result.foreach(rec => events.emit(CatalogEvent("renameView", wh,
            TableIdent(rec.namespace, rec.name), rec.viewId,
            events.nextSequenceNumber(), clock())))
          ok(ex, result)(_ => "")
        }

      // -- S3 remote signing (§2.1 #19 / §2.4)
      case ("POST", prefix :: "v1" :: "aws" :: "s3" :: "sign" :: Nil) =>
        withWh(ex, prefix)(wh => ok(ex, signS3Request(wh, readBody(ex)))(identity))

      case ("POST", prefix :: "transactions" :: "commit" :: Nil) =>
        withWh(ex, prefix) { wh =>
          ok(ex, RestCodecs.commitTransactionRequest(readBody(ex)).flatMap { changes =>
            val withIdents = changes.map { c =>
              c.identifier match {
                case Some(id) => Right(TableChange(id, c.requirements, c.updates))
                case None => Left(CatalogError.badRequest(
                  "transaction table-change requires an identifier"))
              }
            }
            withIdents.collectFirst { case Left(e) => e } match {
              case Some(e) => Left(e)
              case None => store.commitTransaction(
                wh, withIdents.collect { case Right(c) => c }, clock())
            }
          })(_ => "")
        }
      case _ => respondError(ex, CatalogError.notFound("NotFound", "no such route"))
    }

  private def withWh(ex: HttpExchange, prefix: String)(f: UUID => Unit): Unit =
    uuid(prefix) match {
      case Left(e) => respondError(ex, e)
      case Right(id) => f(id)
    }

  /** `X-Iceberg-Access-Delegation` request modes (reference
    * tables.rs:282-303 parses the same two tokens from all header
    * values; engines may send either, both, or none). */
  private[server] final case class DataAccess(
      vendedCredentials: Boolean, remoteSigning: Boolean)

  private def parseDataAccess(ex: com.sun.net.httpserver.HttpExchange): DataAccess = {
    import scala.jdk.CollectionConverters._
    val values = Option(ex.getRequestHeaders.get("X-iceberg-access-delegation"))
      .map(_.asScala.toSeq).getOrElse(Nil)
      .flatMap(_.split(',').map(_.trim))
    DataAccess(
      vendedCredentials = values.contains("vended-credentials"),
      remoteSigning = values.contains("remote-signing"))
  }

  /** Whether the request's `If-None-Match` lists `tag` (or `*`). Weak
    * comparison, as RFC 9110 §13.1.2 asks of this header. */
  private def ifNoneMatch(ex: HttpExchange, tag: String): Boolean = {
    import scala.jdk.CollectionConverters._
    Option(ex.getRequestHeaders.get("If-None-Match")).map(_.asScala.toSeq).getOrElse(Nil)
      .flatMap(_.split(',')).map(_.trim.stripPrefix("W/"))
      .exists(t => t == tag || t == "*")
  }

  /** Per-table client config attached to LoadTableResult, shaped by the
    * requested access-delegation mode (reference storage/s3.rs:318-374):
    * no header defaults to remote signing; `vended-credentials` is
    * served the reference's way — steer the client onto the REST signer
    * (`s3.signer`/`py-io-impl` overrides + remote signing forced), since
    * no STS is mounted to mint scoped credentials. */
  private def tableConfig(wh: UUID, access: DataAccess): Map[String, String] =
    store.getWarehouse(wh).toOption
      .filter(_.properties.contains("s3.region"))
      .map { w =>
        // remote signing ends up on in every mode, exactly like the
        // reference: requested → on; vended-credentials → forced on
        // (the signer serves the data path); no header → the default
        Map("s3.region" -> w.properties("s3.region"),
          "s3.signer.uri" -> s"$advertised/catalog/v1/${w.id}",
          "s3.remote-signing-enabled" -> "true") ++
          w.properties.get("s3.endpoint").map("s3.endpoint" -> _) ++
          (if (access.vendedCredentials)
            Map("s3.signer" -> "S3V4RestSigner",
              "py-io-impl" -> "pyiceberg.io.fsspec.FsspecFileIO")
          else Map.empty)
      }
      .getOrElse(Map.empty)

  /** Only these request headers participate in signing (reference
    * s3_signer.rs:25-32 whitelist). */
  private val SignableHeaders = Set(
    "amz-sdk-invocation-id", "amz-sdk-request", "content-length",
    "content-type", "expect", "host")

  /** POST /:prefix/v1/aws/s3/sign — §2.4: resolve the table by request
    * location, enforce verb/region/URI rules, then SigV4-sign with the
    * warehouse credential. Data still flows directly to storage; only
    * the signature transits the catalog. */
  private def signS3Request(wh: UUID, body: String): Either[CatalogError, String] = {
    import S3SignerValidation._
    import scala.jdk.CollectionConverters._
    for {
      n <- RestCodecs.parse(body)
      method <- Option(n.get("method")).filter(!_.isNull).map(_.asText())
        .toRight(CatalogError.badRequest("missing field: method"))
      region <- Option(n.get("region")).filter(!_.isNull).map(_.asText())
        .toRight(CatalogError.badRequest("missing field: region"))
      uriStr <- Option(n.get("uri")).filter(!_.isNull).map(_.asText())
        .toRight(CatalogError.badRequest("missing field: uri"))
      uri = java.net.URI.create(uriStr)
      _ <- methodAccess(method) // read ⇒ load rights, write ⇒ commit rights (AllowAll authz)
      warehouse <- store.getWarehouse(wh)
      profile = S3Profile(
        bucket = warehouse.properties.getOrElse("s3.bucket", ""),
        region = warehouse.properties.getOrElse("s3.region", ""),
        endpoint = warehouse.properties.get("s3.endpoint"))
      _ <- validateRegion(region, profile)
      loc <- parseS3UrlToLocation(uri)
      rec <- store.tableByLocation(wh, loc)
      _ <- validateUri(uri, rec.tableLocation, profile)
      decoded <- partiallyDecodePath(uri)
      cred <- secrets.getS3Credential(wh).toRight(CatalogError(404,
        "CredentialNotFound", s"no S3 credential stored for warehouse $wh"))
    } yield {
      val requestHeaders: Map[String, Seq[String]] =
        Option(n.get("headers")).filter(!_.isNull).map(h =>
          h.properties().asScala.map { e =>
            val vs = if (e.getValue.isArray)
              e.getValue.elements().asScala.map(_.asText()).toSeq
            else Seq(e.getValue.asText())
            e.getKey.toLowerCase -> vs
          }.toMap).getOrElse(Map.empty)
      val payloadHash = Option(n.get("body")).filter(!_.isNull)
        .map(b => SigV4.sha256Hex(b.asText())).getOrElse("UNSIGNED-PAYLOAD")
      val toSign = requestHeaders.view.filterKeys(SignableHeaders).toMap ++
        Map(
          "host" -> Seq(Option(uri.getAuthority).getOrElse("")),
          "x-amz-content-sha256" -> Seq(payloadHash))
      val signed = SigV4.sign(method, decoded, toSign, payloadHash,
        cred.accessKeyId, cred.secretAccessKey, region, "s3",
        java.time.Instant.ofEpochMilli(clock()))
      val o = graft.core.JsonCodecs.mapperRef.createObjectNode()
      o.put("uri", decoded.toString)
      val hs = graft.core.JsonCodecs.mapperRef.createObjectNode()
      (signed.signedHeaders + ("authorization" -> Seq(signed.authorization)))
        .toSeq.sortBy(_._1).foreach { case (k, vs) =>
          val arr = graft.core.JsonCodecs.mapperRef.createArrayNode()
          vs.foreach(arr.add)
          hs.set[com.fasterxml.jackson.databind.node.ObjectNode](k, arr)
        }
      o.set[com.fasterxml.jackson.databind.node.ObjectNode]("headers", hs)
      RestCodecs.render(o)
    }
  }

  /** `?warehouse=` grammar: `[project_uuid/]warehouse_name`, or a bare
    * warehouse UUID (reference catalog/config.rs:145-177). */
  private def resolveWarehouse(arg: String): Either[CatalogError, Warehouse] =
    arg.split("/", 2) match {
      case Array("") => Left(CatalogError.badRequest("warehouse argument is required"))
      case Array(projectId, name) =>
        uuid(projectId).flatMap(store.warehouseByName(_, name))
      case Array(single) =>
        Try(UUID.fromString(single)).toOption match {
          case Some(id) => store.getWarehouse(id)
          case None => store.warehouseByName(defaultProjectId, single)
        }
    }

  private def managementRoute(ex: HttpExchange, method: String, rest: List[String]): Unit =
    (method, rest) match {
      case ("POST", "warehouse" :: Nil) =>
        ok(ex, RestCodecs.parse(readBody(ex)).flatMap { n =>
          def field(name: String): Either[CatalogError, String] =
            Option(n.get(name)).filter(!_.isNull).map(_.asText())
              .toRight(CatalogError.badRequest(s"missing field: $name"))
          val spOpt = Option(n.get("storage-profile")).filter(!_.isNull)
          for {
            name <- field("warehouse-name")
            // reference clients send NO location field — the warehouse
            // base derives from the storage profile
            // (s3://bucket[/key-prefix], warehouse.rs:474-507 shape)
            location <- field("location").orElse(spOpt
              .flatMap(sp => Option(sp.get("bucket")).filter(!_.isNull).map { b =>
                val kp = Option(sp.get("key-prefix")).filter(!_.isNull)
                  .map(p => "/" + p.asText().stripPrefix("/")).getOrElse("")
                s"s3://${b.asText()}$kp"
              })
              .toRight(CatalogError.badRequest(
                "missing field: location (or storage-profile.bucket)")))
            // storage validation: a live write→read→delete probe under
            // the location (reference storage/s3.rs:438-487) — runs
            // whenever a FileIO backend serves the scheme; signer-only
            // warehouses on unconfigured schemes skip (the reference
            // equivalent of "no storage profile yet")
            _ <-
              if (!graft.catalog.FileIO.canHandle(location)) Right(())
              else graft.catalog.FileIO.probe(location)
                .left.map(CatalogError.badRequest)
            projectId = Option(n.get("project-id")).filter(!_.isNull)
              .map(p => UUID.fromString(p.asText())).getOrElse(defaultProjectId)
            // optional storage-profile kept as warehouse properties;
            // bucket/region/endpoint are consumed by the S3 signer
            props = spOpt.map { sp =>
              Seq("region", "endpoint", "bucket", "key-prefix", "path-style-access")
                .flatMap(k => Option(sp.get(k)).filter(!_.isNull)
                  .map(v => s"s3.$k" -> v.asText())).toMap
            }.getOrElse(Map.empty[String, String])
            // a PRESENT credential must decode — both our plain keys
            // and the reference's aws- prefixed wire names
            // (warehouse.rs:474-507); a partial/unrecognized one is a
            // 400 here, not a deferred signing failure with a
            // credential the operator believes was stored
            cred <- Option(n.get("storage-credential")).filter(!_.isNull) match {
              case None => Right(None)
              case Some(c) =>
                def credField(k: String): Option[String] =
                  Option(c.get(k)).orElse(Option(c.get(s"aws-$k")))
                    .filter(!_.isNull).map(_.asText())
                (credField("access-key-id"), credField("secret-access-key")) match {
                  case (Some(ak), Some(sk)) => Right(Some(S3Credential(ak, sk)))
                  case _ => Left(CatalogError.badRequest(
                    "storage-credential must carry access-key-id and " +
                      "secret-access-key (aws- prefix accepted)"))
                }
            }
            w <- store.createWarehouse(projectId, name, location, props)
            _ = cred.foreach(secrets.putS3Credential(w.id, _))
          } yield w
        })(RestCodecs.warehouseResponse)
      case ("POST", "warehouse" :: id :: "storage" :: Nil) =>
        withWh(ex, id) { w =>
          ok(ex, RestCodecs.parse(readBody(ex)).flatMap { n =>
            store.getWarehouse(w).flatMap { existing =>
              Option(n.get("storage-profile")).filter(!_.isNull)
                .toRight(CatalogError.badRequest("missing field: storage-profile"))
                .flatMap { sp =>
              val next = Seq("region", "endpoint", "bucket").flatMap(k =>
                Option(sp.get(k)).filter(!_.isNull).map(v => s"s3.$k" -> v.asText())).toMap
              // bucket/region are immutable on update (reference
              // s3.rs:184-220); endpoint may change
              val frozen = Seq("s3.bucket", "s3.region").find(k =>
                existing.properties.get(k).exists(old => next.get(k).exists(_ != old)))
              frozen match {
                case Some(k) => Left(CatalogError.badRequest(
                  s"${k.stripPrefix("s3.")} is immutable on storage update"))
                case None =>
                  Option(n.get("storage-credential")).filter(!_.isNull).foreach { c =>
                    secrets.putS3Credential(w, S3Credential(
                      c.get("access-key-id").asText(), c.get("secret-access-key").asText()))
                  }
                  store.setWarehouseProperties(w, next)
              }
              }
            }
          })(RestCodecs.warehouseResponse)
        }
      case ("POST", "warehouse" :: id :: "storage-credential" :: Nil) =>
        withWh(ex, id) { w =>
          ok(ex, RestCodecs.parse(readBody(ex)).flatMap { n =>
            (for {
              ak <- Option(n.get("access-key-id")).filter(!_.isNull).map(_.asText())
              sk <- Option(n.get("secret-access-key")).filter(!_.isNull).map(_.asText())
            } yield S3Credential(ak, sk))
              .toRight(CatalogError.badRequest(
                "access-key-id and secret-access-key are required"))
              .flatMap(c => store.getWarehouse(w).map { _ =>
                secrets.putS3Credential(w, c); ""
              })
          })(identity)
        }
      case ("GET", "warehouse" :: Nil) =>
        val params = queryParams(ex)
        val projectId = params.get("project-id").map(UUID.fromString)
          .getOrElse(defaultProjectId)
        val includeInactive = params.get("status").contains("all")
        // same keyset pagination as the catalog lists (the management
        // spec is ours to extend — the reference returns everything;
        // sort by name so the keyset token is stable under concurrent
        // creates: an insert before the cursor is simply not revisited)
        val all = store.listWarehouses(projectId, includeInactive)
          .sortBy(_.name)
        val (page, next) = paginate(ex, all)(_.name)
        respond(ex, 200, RestCodecs.listWarehousesResponse(page, next))
      case ("GET", "warehouse" :: id :: Nil) =>
        withWh(ex, id)(w => ok(ex, store.getWarehouse(w))(RestCodecs.warehouseResponse))
      case ("DELETE", "warehouse" :: id :: Nil) =>
        withWh(ex, id)(w => ok(ex, store.deleteWarehouse(w))(_ => ""))
      case ("POST", "warehouse" :: id :: "rename" :: Nil) =>
        withWh(ex, id) { w =>
          ok(ex, RestCodecs.parse(readBody(ex)).flatMap { n =>
            Option(n.get("new-name")).map(_.asText())
              .toRight(CatalogError.badRequest("missing field: new-name"))
              .flatMap(store.renameWarehouse(w, _))
          })(RestCodecs.warehouseResponse)
        }
      case ("POST", "warehouse" :: id :: "activate" :: Nil) =>
        withWh(ex, id)(w => ok(ex, store.setWarehouseActive(w, active = true))(
          RestCodecs.warehouseResponse))
      case ("POST", "warehouse" :: id :: "deactivate" :: Nil) =>
        withWh(ex, id)(w => ok(ex, store.setWarehouseActive(w, active = false))(
          RestCodecs.warehouseResponse))
      case ("GET", "project" :: Nil) =>
        respond(ex, 200, RestCodecs.listProjectsResponse(store.listProjects()))
      case _ => respondError(ex, CatalogError.notFound("NotFound", "no such route"))
    }
}

object CatalogServer {

  /** Longest request body a route reads. Clients send updates, never a
    * table's whole metadata document, and even that document is about
    * 1.1 MB of JSON at 2000 snapshots; 8 MiB leaves room for a
    * multi-table transaction of large updates while a runaway or hostile
    * body cannot make a handler buffer without bound. */
  private[server] val MaxRequestBodyBytes: Int = 8 << 20

  /** Strong ETag of a table load: the SHA-256 of the metadata location
    * and the sorted per-table config, the two inputs of the 200 body
    * besides the metadata itself. It is sound because a metadata
    * location is write-once: every commit writes a new file under a
    * fresh name and never rewrites an old one, so a location names one
    * metadata document forever (the JDBC store's parsed-metadata cache
    * keys on the same rule). The config depends on the warehouse and on
    * `X-Iceberg-Access-Delegation`. */
  private[server] def loadETag(metadataLocation: String, config: Map[String, String]): String =
    "\"" + SigV4.sha256Hex((metadataLocation +: config.toSeq.sorted.flatMap {
      case (k, v) => Seq(k, v) }).mkString("\u0000")) + "\""

  /** Every server socket runs with TCP_NODELAY. With Nagle on, a reply
    * shorter than one loopback segment (about 64 KB) waits for the
    * client's delayed ACK, about 40 ms per round trip. The JDK's
    * `HttpServer` reads `sun.net.httpserver.nodelay` once per JVM, when
    * its first server is created, so the property must be set before
    * that; every `CatalogServer` touches this object in its constructor,
    * which covers `ServerMain`, `ForeignReaderFixture` and
    * `ScalingRehearsal`. A JVM that created some other `HttpServer`
    * first keeps that setting. */
  private object TcpNoDelay {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    def ensureSet(): Unit = ()
  }
}
