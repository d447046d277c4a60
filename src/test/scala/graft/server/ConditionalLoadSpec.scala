package graft.server

import graft.catalog._
import graft.core._
import graft.engine.RestCatalogClient
import graft.service.AuthZHandler
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.UUID

/** Conditional table loads: every 200 load carries a strong ETag, a
  * request whose `If-None-Match` names it gets a bodiless 304, and
  * `RestCatalogClient` answers a 304 from the table it holds. */
class ConditionalLoadSpec extends AnyFunSuite {
  import IType._

  private val project = UUID.randomUUID()
  private val http = HttpClient.newHttpClient()
  private val schema = Schema(0, Seq(NestedField.required(1, "id", TLong)))
  private val ident = TableIdent(Seq("ns"), "t")

  /** Allows everything, except table loads while `denyLoads` is set. */
  private final class ToggledAuthz extends AuthZHandler {
    @volatile var denyLoads = false
    def checkNamespaceOp(wh: UUID, op: String, ns: Seq[String]): Either[CatalogError, Unit] =
      Right(())
    def checkTableOp(wh: UUID, op: String, ident: TableIdent): Either[CatalogError, Unit] =
      if (denyLoads && op == "load") Left(CatalogError(403, "Forbidden", "load denied"))
      else Right(())
    def checkWarehouseOp(projectId: UUID, op: String): Either[CatalogError, Unit] = Right(())
  }

  private final case class Catalog(server: CatalogServer, store: CatalogStore,
      authz: ToggledAuthz, prefix: String) {
    def client(): RestCatalogClient = new RestCatalogClient(server.baseUri)
    def uri(table: TableIdent): String =
      s"${server.baseUri}/catalog/v1/$prefix/namespaces/ns/tables/${table.name}"
  }

  private def withCatalog(warehouseProps: Map[String, String] = Map.empty)(
      f: Catalog => Unit): Unit = {
    val store = new InMemoryCatalogStore
    val authz = new ToggledAuthz
    val loc = Files.createTempDirectory("graft-etag").toUri.toString.stripSuffix("/")
    val wh = store.createWarehouse(project, "wh", loc, warehouseProps)
      .fold(e => fail(e.message), identity)
    val server = new CatalogServer(store, project, authz = authz).start()
    try {
      val cat = Catalog(server, store, authz, wh.id.toString)
      val setup = cat.client()
      setup.createNamespace(cat.prefix, Seq("ns"))
      setup.createTable(cat.prefix, ident, schema)
      f(cat)
    } finally server.stop()
  }

  private def get(uri: String, headers: (String, String)*): HttpResponse[Array[Byte]] = {
    val req = HttpRequest.newBuilder(URI.create(uri)).GET()
    headers.foreach { case (k, v) => req.header(k, v) }
    http.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def etag(resp: HttpResponse[_]): Option[String] = {
    val v = resp.headers().firstValue("ETag")
    if (v.isPresent) Some(v.get) else None
  }

  private def setProperty(client: RestCatalogClient, prefix: String, v: String): Unit =
    client.commitTable(prefix, ident, Nil, Seq(TableUpdate.SetProperties(Map("k" -> v))))

  test("a 200 load carries a strong tag, and that tag gets a bodiless 304") {
    withCatalog() { cat =>
      val first = get(cat.uri(ident))
      assert(first.statusCode() === 200)
      val tag = etag(first).getOrElse(fail("200 load without an ETag"))
      assert(tag.matches("\"[0-9a-f]{64}\""), tag)

      val again = get(cat.uri(ident), "If-None-Match" -> tag)
      assert(again.statusCode() === 304)
      assert(again.body().isEmpty)
      assert(etag(again) === Some(tag))
      assert(get(cat.uri(ident), "If-None-Match" -> s"\"other\", $tag")
        .statusCode() === 304)
      assert(get(cat.uri(ident), "If-None-Match" -> "\"other\"").statusCode() === 200)

      val client = cat.client()
      val loaded = client.loadTable(cat.prefix, ident)
      assert(client.heldTag(cat.prefix, ident) === Some(tag))
      assert(client.loadTable(cat.prefix, ident) eq loaded, "a 304 returns the held table")
    }
  }

  test("another client's commit makes the next load a 200 with a new tag") {
    withCatalog() { cat =>
      val reader = cat.client()
      val before = reader.loadTable(cat.prefix, ident)
      val oldTag = reader.heldTag(cat.prefix, ident).getOrElse(fail("no tag held"))

      setProperty(cat.client(), cat.prefix, "v1")
      val stale = get(cat.uri(ident), "If-None-Match" -> oldTag)
      assert(stale.statusCode() === 200)
      assert(etag(stale).exists(_ != oldTag))

      val after = reader.loadTable(cat.prefix, ident)
      assert(after.metadata.properties.get("k") === Some("v1"))
      assert(after.metadataLocation !== before.metadataLocation)
      assert(after.metadata === cat.store.loadTable(UUID.fromString(cat.prefix), ident)
        .fold(e => fail(e.message), _.metadata))
      assert(reader.heldTag(cat.prefix, ident) === etag(stale))
    }
  }

  test("the access-delegation header is part of the tag on an s3.region warehouse") {
    withCatalog(Map("s3.region" -> "eu-west-1")) { cat =>
      val signing = etag(get(cat.uri(ident))).getOrElse(fail("no ETag"))
      val vended = get(cat.uri(ident), "X-Iceberg-Access-Delegation" -> "vended-credentials")
      assert(etag(vended).exists(_ != signing))
      assert(get(cat.uri(ident), "If-None-Match" -> signing,
        "X-Iceberg-Access-Delegation" -> "vended-credentials").statusCode() === 200)
    }
  }

  test("a denied load is a 403 and a dropped table a 404, even with a matching tag") {
    withCatalog() { cat =>
      val client = cat.client()
      client.loadTable(cat.prefix, ident)
      val tag = client.heldTag(cat.prefix, ident).getOrElse(fail("no tag held"))

      cat.authz.denyLoads = true
      val denied = get(cat.uri(ident), "If-None-Match" -> tag)
      assert(denied.statusCode() === 403)
      assert(etag(denied) === None)
      assert(intercept[CatalogError](client.loadTable(cat.prefix, ident)).code === 403)
      cat.authz.denyLoads = false

      assert(cat.store.dropTable(UUID.fromString(cat.prefix), ident).isRight)
      val gone = get(cat.uri(ident), "If-None-Match" -> tag)
      assert(gone.statusCode() === 404)
      assert(etag(gone) === None)
      assert(intercept[CatalogError](client.loadTable(cat.prefix, ident)).code === 404)
    }
  }

  test("a client forgets the tables it drops and renames") {
    withCatalog() { cat =>
      val client = cat.client()
      val moved = TableIdent(Seq("ns"), "moved")
      client.loadTable(cat.prefix, ident)
      client.renameTable(cat.prefix, ident, moved)
      assert(client.heldTag(cat.prefix, ident) === None)
      client.loadTable(cat.prefix, moved)
      assert(client.heldTag(cat.prefix, moved).nonEmpty)
      client.dropTable(cat.prefix, moved)
      assert(client.heldTag(cat.prefix, moved) === None)
    }
  }

  test("a staged table has no tag") {
    withCatalog() { cat =>
      val staged = TableIdent(Seq("ns"), "staged")
      val created = cat.client().createTable(cat.prefix, staged, schema, stageCreate = true)
      assert(created.metadataLocation === None)
      val resp = get(cat.uri(staged))
      assert(resp.statusCode() === 404)
      assert(etag(resp) === None)
    }
  }

  test("a client holds at most HeldTables tables, evicting the least recently loaded") {
    withCatalog() { cat =>
      val n = RestCatalogClient.HeldTables
      assert(n === 64)
      val setup = cat.client()
      val tables = (0 to n).map(i => TableIdent(Seq("ns"), s"t$i"))
      tables.foreach(t => setup.createTable(cat.prefix, t, schema))
      val client = cat.client()
      tables.init.foreach(client.loadTable(cat.prefix, _))
      assert(tables.init.forall(client.heldTag(cat.prefix, _).nonEmpty))
      client.loadTable(cat.prefix, tables.last)
      assert(client.heldTag(cat.prefix, tables.head) === None)
      assert(tables.tail.forall(client.heldTag(cat.prefix, _).nonEmpty))
    }
  }
}
