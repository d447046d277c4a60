package graft.engine

import com.fasterxml.jackson.databind.JsonNode
import graft.catalog.{CatalogError, TableIdent}
import graft.core._
import graft.server.RestCodecs

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder

/** Client side of the Iceberg REST protocol against our own server —
  * the role iceberg-spark's RESTCatalog plays against the reference
  * (conftest.py:208-217). The engine keeps ONLY metadata traffic on
  * this channel; data files move directly between Spark executors and
  * storage, never through the catalog (reference §3.3 step 1).
  */
final class RestCatalogClient(baseUri: String) {
  import RestCatalogClient._

  private val http = HttpClient.newHttpClient()

  /** Table URI → (ETag, table) of its last 200 load, least recently
    * used first; guarded by its own monitor. */
  private val held = new java.util.LinkedHashMap[String, (String, LoadedTable)](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, (String, LoadedTable)]): Boolean =
      size() > HeldTables
  }

  final case class LoadedTable(
      metadataLocation: Option[String],
      metadata: TableMetadata)

  /** Session bootstrap: resolve warehouse → prefix for all later calls. */
  def config(warehouse: String): String = {
    val n = getJson(s"$baseUri/catalog/v1/config?warehouse=" +
      URLEncoder.encode(warehouse, "UTF-8"))
    n.get("overrides").get("prefix").asText()
  }

  def createNamespace(prefix: String, ns: Seq[String],
      props: Map[String, String] = Map.empty): Unit = {
    val propsJson = props.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val nsJson = ns.map(p => s""""$p"""").mkString("[", ",", "]")
    postJson(s"$baseUri/catalog/v1/$prefix/namespaces",
      s"""{"namespace":$nsJson,"properties":$propsJson}""")
    ()
  }

  def listNamespaces(prefix: String): Seq[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    getJson(s"$baseUri/catalog/v1/$prefix/namespaces").get("namespaces")
      .elements().asScala.map(_.elements().asScala.map(_.asText()).toSeq).toSeq
  }

  def getNamespaceProperties(prefix: String, ns: Seq[String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val n = getJson(s"$baseUri/catalog/v1/$prefix/namespaces/${encodeNs(ns)}")
    Option(n.get("properties")).filter(!_.isNull).map(p =>
      p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
  }

  /** POST namespaces/{ns}/properties — atomic set/remove (the endpoint
    * behind SQL ALTER NAMESPACE ... SET/UNSET PROPERTIES). */
  def updateNamespaceProperties(prefix: String, ns: Seq[String],
      removals: Seq[String], updates: Map[String, String]): Unit = {
    val remJson = removals.map(r => s""""$r"""").mkString("[", ",", "]")
    val updJson = updates.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    postJson(s"$baseUri/catalog/v1/$prefix/namespaces/${encodeNs(ns)}/properties",
      s"""{"removals":$remJson,"updates":$updJson}""")
    ()
  }

  def dropNamespace(prefix: String, ns: Seq[String]): Unit = {
    send(HttpRequest.newBuilder(URI.create(
      s"$baseUri/catalog/v1/$prefix/namespaces/${encodeNs(ns)}")).DELETE().build())
    ()
  }

  def listTables(prefix: String, ns: Seq[String]): Seq[TableIdent] = {
    import scala.jdk.CollectionConverters._
    getJson(s"${tablesUri(prefix, ns)}").get("identifiers").elements().asScala
      .map(i => TableIdent(
        i.get("namespace").elements().asScala.map(_.asText()).toSeq,
        i.get("name").asText())).toSeq
  }

  def renameTable(prefix: String, source: TableIdent, dest: TableIdent): Unit = {
    def identJson(id: TableIdent) =
      s"""{"namespace":${id.namespace.map(p => s""""$p"""").mkString("[", ",", "]")},"name":"${id.name}"}"""
    postJson(s"$baseUri/catalog/v1/$prefix/tables/rename",
      s"""{"source":${identJson(source)},"destination":${identJson(dest)}}""")
    held.synchronized(held.remove(tableUri(prefix, source)))
    ()
  }

  def createTable(
      prefix: String, ident: TableIdent, schema: Schema,
      spec: UnboundPartitionSpec = UnboundPartitionSpec.Unpartitioned,
      props: Map[String, String] = Map.empty,
      stageCreate: Boolean = false): LoadedTable = {
    val o = JsonCodecs.mapperRef.createObjectNode()
    o.put("name", ident.name)
    o.set[JsonNode]("schema", JsonCodecs.schemaToJson(schema))
    if (spec.fields.nonEmpty) {
      val sp = RestCodecs.updateToJson(TableUpdate.AddSpec(spec)).get("spec")
      o.set[JsonNode]("partition-spec", sp)
    }
    if (props.nonEmpty) {
      val p = JsonCodecs.mapperRef.createObjectNode()
      props.foreach { case (k, v) => p.put(k, v) }
      o.set[JsonNode]("properties", p)
    }
    if (stageCreate) o.put("stage-create", true)
    parseLoaded(postJson(tablesUri(prefix, ident.namespace), RestCodecs.render(o)))
  }

  /** Every load asks the server. When this client holds the table from
    * an earlier 200, the request carries that load's ETag, and a 304 for
    * exactly that tag returns the held table without a metadata
    * document crossing the wire. */
  def loadTable(prefix: String, ident: TableIdent): LoadedTable = {
    val uri = tableUri(prefix, ident)
    val mine = held.synchronized(Option(held.get(uri)))
    val req = HttpRequest.newBuilder(URI.create(uri)).GET()
    mine.foreach { case (tag, _) => req.header("If-None-Match", tag) }
    val resp = send(req.build())
    val tag = resp.headers().firstValue("ETag").orElse(null)
    mine match {
      case Some((sent, table)) if resp.statusCode() == 304 && sent == tag => table
      case _ if resp.statusCode() == 304 =>
        held.synchronized(held.remove(uri))
        throw CatalogError(502, "UnexpectedNotModified",
          s"304 for ${ident.name} carries ETag $tag, not the one sent")
      case _ =>
        val table = parseLoaded(JsonCodecs.mapperRef.readTree(resp.body()))
        held.synchronized(if (tag == null) held.remove(uri) else held.put(uri, (tag, table)))
        table
    }
  }

  /** The ETag this client holds for the table, if any. */
  private[graft] def heldTag(prefix: String, ident: TableIdent): Option[String] =
    held.synchronized(Option(held.get(tableUri(prefix, ident))).map(_._1))

  def tableExists(prefix: String, ident: TableIdent): Boolean =
    send(HttpRequest.newBuilder(URI.create(tableUri(prefix, ident)))
      .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      expectError = true).statusCode() == 204

  def dropTable(prefix: String, ident: TableIdent): Unit = {
    send(HttpRequest.newBuilder(URI.create(tableUri(prefix, ident))).DELETE().build())
    held.synchronized(held.remove(tableUri(prefix, ident)))
    ()
  }

  /** Commit; 409s surface as CatalogError so callers run the
    * refresh-and-retry loop. */
  def commitTable(
      prefix: String, ident: TableIdent,
      requirements: Seq[TableRequirement],
      updates: Seq[TableUpdate]): LoadedTable = {
    val body = RestCodecs.commitRequestJson(Some(ident), requirements, updates)
    val n = postJson(tableUri(prefix, ident), body)
    LoadedTable(
      Option(n.get("metadata-location")).map(_.asText()).filter(_.nonEmpty),
      decodeMetadata(n))
  }

  // -------------------------------------------------------------- views
  final case class LoadedView(metadataLocation: String, metadata: ViewMetadata)

  def listViews(prefix: String, ns: Seq[String]): Seq[TableIdent] = {
    import scala.jdk.CollectionConverters._
    getJson(viewsUri(prefix, ns)).get("identifiers").elements().asScala
      .map(i => TableIdent(
        i.get("namespace").elements().asScala.map(_.asText()).toSeq,
        i.get("name").asText())).toSeq
  }

  def createView(prefix: String, ident: TableIdent, schema: Schema,
      version: ViewVersion, props: Map[String, String]): LoadedView =
    parseLoadedView(postJson(viewsUri(prefix, ident.namespace),
      RestCodecs.createViewRequestJson(ident.name, schema, version, props)))

  def loadView(prefix: String, ident: TableIdent): LoadedView =
    parseLoadedView(getJson(viewUri(prefix, ident)))

  def viewExists(prefix: String, ident: TableIdent): Boolean =
    send(HttpRequest.newBuilder(URI.create(viewUri(prefix, ident)))
      .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      expectError = true).statusCode() == 204

  def dropView(prefix: String, ident: TableIdent): Unit = {
    send(HttpRequest.newBuilder(URI.create(viewUri(prefix, ident))).DELETE().build())
    ()
  }

  def renameView(prefix: String, source: TableIdent, dest: TableIdent): Unit = {
    def identJson(id: TableIdent) =
      s"""{"namespace":${id.namespace.map(p => s""""$p"""").mkString("[", ",", "]")},"name":"${id.name}"}"""
    postJson(s"$baseUri/catalog/v1/$prefix/views/rename",
      s"""{"source":${identJson(source)},"destination":${identJson(dest)}}""")
    ()
  }

  def commitView(prefix: String, ident: TableIdent,
      requirements: Seq[ViewRequirement], updates: Seq[ViewUpdate]): LoadedView =
    parseLoadedView(postJson(viewUri(prefix, ident),
      RestCodecs.commitViewRequestJson(Some(ident), requirements, updates)))

  private def viewsUri(prefix: String, ns: Seq[String]): String =
    s"$baseUri/catalog/v1/$prefix/namespaces/${encodeNs(ns)}/views"
  private def viewUri(prefix: String, ident: TableIdent): String =
    s"${viewsUri(prefix, ident.namespace)}/${URLEncoder.encode(ident.name, "UTF-8")}"

  private def parseLoadedView(n: JsonNode): LoadedView =
    LoadedView(
      n.get("metadata-location").asText(),
      ViewJsonCodecs.metadataFromNode(n.get("metadata"))
        .fold(e => throw CatalogError(500, "MalformedMetadata", e), identity))

  // ------------------------------------------------------------ helpers
  private def tablesUri(prefix: String, ns: Seq[String]): String =
    s"$baseUri/catalog/v1/$prefix/namespaces/${encodeNs(ns)}/tables"
  private def tableUri(prefix: String, ident: TableIdent): String =
    s"${tablesUri(prefix, ident.namespace)}/${URLEncoder.encode(ident.name, "UTF-8")}"
  private def encodeNs(ns: Seq[String]): String =
    URLEncoder.encode(ns.mkString(0x1f.toChar.toString), "UTF-8")

  private def parseLoaded(n: JsonNode): LoadedTable =
    LoadedTable(
      Option(n.get("metadata-location")).filter(!_.isNull).map(_.asText()),
      decodeMetadata(n))

  /** Decodes the response's `metadata` subtree in place: the body was
    * parsed once, and the subtree is never rendered back to text. */
  private def decodeMetadata(n: JsonNode): TableMetadata =
    JsonCodecs.metadataFromNode(n.get("metadata"))
      .fold(e => throw CatalogError(500, "MalformedMetadata", e), identity)

  private def getJson(uri: String): JsonNode =
    JsonCodecs.mapperRef.readTree(send(HttpRequest.newBuilder(URI.create(uri)).GET().build()).body())

  private def postJson(uri: String, body: String): JsonNode = {
    val resp = send(HttpRequest.newBuilder(URI.create(uri))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
    if (resp.body() == null || resp.body().isEmpty) JsonCodecs.mapperRef.createObjectNode()
    else JsonCodecs.mapperRef.readTree(resp.body())
  }

  /** Sends and reads the body as bytes, which the JSON parser takes
    * without an intermediate `String`. */
  private def send(req: HttpRequest, expectError: Boolean = false): HttpResponse[Array[Byte]] = {
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() >= 400 && !expectError) {
      val err = try {
        val e = JsonCodecs.mapperRef.readTree(resp.body()).get("error")
        CatalogError(e.get("code").asInt(), e.get("type").asText(),
          e.get("message").asText())
      } catch { case _: Exception =>
        CatalogError(resp.statusCode(), "HttpError",
          new String(resp.body(), java.nio.charset.StandardCharsets.UTF_8))
      }
      throw err
    }
    resp
  }
}

object RestCatalogClient {

  /** Most tables one client holds for conditional loads; the same bound
    * as the JDBC store's parsed-metadata cache. */
  val HeldTables: Int = 64
}
