package graft.server

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.catalog._
import graft.core._

import java.util.UUID
import scala.jdk.CollectionConverters._

/** Wire codecs for the Iceberg REST catalog protocol (public spec
  * shapes; same kebab-case forms the reference serves,
  * /root/reference/crates/iceberg-ext/src/catalog/rest/table.rs).
  * Request parsing returns Either so handler code maps malformed input
  * to 400 rather than 500.
  */
object RestCodecs {
  import graft.core.JsonCodecs.{mapperRef => M}

  def parse(body: String): Either[CatalogError, JsonNode] =
    try {
      val n = M.readTree(body)
      // every REST request body is a JSON OBJECT; Jackson's readTree
      // maps "" to MissingNode and "null"/arrays parse fine, which
      // would otherwise flow through optional-field lookups as a
      // silent no-op 200 (found by the MalformedInputSpec fuzz sweep)
      if (n == null || !n.isObject)
        Left(CatalogError.badRequest("request body must be a JSON object"))
      else Right(n)
    } catch { case e: Exception =>
      Left(CatalogError.badRequest(s"malformed JSON: ${e.getMessage}")) }

  private def objNode(): ObjectNode = M.createObjectNode()
  private def arrNode(): ArrayNode = M.createArrayNode()
  def render(n: JsonNode): String = M.writeValueAsString(n)

  private def optField(n: JsonNode, name: String): Option[JsonNode] =
    Option(n.get(name)).filter(!_.isNull)
  private def requireField(n: JsonNode, name: String): Either[CatalogError, JsonNode] =
    optField(n, name).toRight(CatalogError.badRequest(s"missing field: $name"))
  private def stringSeq(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq
  private def stringMap(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  // ------------------------------------------------------- namespaces
  final case class CreateNamespaceRequest(namespace: Seq[String], properties: Map[String, String])

  def createNamespaceRequest(body: String): Either[CatalogError, CreateNamespaceRequest] =
    for {
      n <- parse(body)
      ns <- requireField(n, "namespace").map(stringSeq)
    } yield CreateNamespaceRequest(ns,
      optField(n, "properties").map(stringMap).getOrElse(Map.empty))

  final case class UpdatePropertiesRequest(removals: Seq[String], updates: Map[String, String])

  def updatePropertiesRequest(body: String): Either[CatalogError, UpdatePropertiesRequest] =
    parse(body).map { n =>
      UpdatePropertiesRequest(
        optField(n, "removals").map(stringSeq).getOrElse(Nil),
        optField(n, "updates").map(stringMap).getOrElse(Map.empty))
    }

  def namespaceResponse(rec: NamespaceRecord): String = {
    val o = objNode()
    val ns = arrNode(); rec.name.foreach(ns.add); o.set[ObjectNode]("namespace", ns)
    val props = objNode()
    rec.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    o.set[ObjectNode]("properties", props)
    render(o)
  }

  def listNamespacesResponse(
      names: Seq[Seq[String]], nextPageToken: Option[String] = None): String = {
    val o = objNode()
    val arr = arrNode()
    names.foreach { n => val e = arrNode(); n.foreach(e.add); arr.add(e) }
    o.set[ObjectNode]("namespaces", arr)
    nextPageToken.foreach(o.put("next-page-token", _))
    render(o)
  }

  def propertyUpdateResponse(r: PropertyUpdateResult): String = {
    val o = objNode()
    def put(name: String, xs: Seq[String]): Unit = {
      val a = arrNode(); xs.foreach(a.add); o.set[ObjectNode](name, a)
    }
    put("updated", r.updated); put("removed", r.removed); put("missing", r.missing)
    render(o)
  }

  // ----------------------------------------------------------- tables
  final case class CreateTableRequest(
      name: String,
      schema: Schema,
      spec: UnboundPartitionSpec,
      sortOrder: Option[SortOrder],
      properties: Map[String, String],
      stageCreate: Boolean,
      location: Option[String])

  def createTableRequest(body: String): Either[CatalogError, CreateTableRequest] =
    for {
      n <- parse(body)
      name <- requireField(n, "name").map(_.asText())
      schemaNode <- requireField(n, "schema")
      schema <- JsonCodecs.schemaFromJson(schemaNode).left.map(CatalogError.badRequest)
      spec <- optField(n, "partition-spec") match {
        case None => Right(UnboundPartitionSpec.Unpartitioned)
        case Some(sn) => JsonCodecs.unboundSpecFromJson(sn).left.map(CatalogError.badRequest)
      }
      order <- optField(n, "write-order") match {
        case None => Right(None)
        case Some(on) => JsonCodecs.sortOrderFromJson(on)
          .map(Some(_)).left.map(CatalogError.badRequest)
      }
    } yield CreateTableRequest(
      name, schema, spec, order,
      optField(n, "properties").map(stringMap).getOrElse(Map.empty),
      optField(n, "stage-create").exists(_.asBoolean(false)),
      optField(n, "location").map(_.asText()))

  def listTablesResponse(
      idents: Seq[TableIdent], nextPageToken: Option[String] = None): String = {
    val o = objNode()
    val arr = arrNode()
    idents.foreach { id =>
      val e = objNode()
      val ns = arrNode(); id.namespace.foreach(ns.add)
      e.set[ObjectNode]("namespace", ns)
      e.put("name", id.name)
      arr.add(e)
    }
    o.set[ObjectNode]("identifiers", arr)
    nextPageToken.foreach(o.put("next-page-token", _))
    render(o)
  }

  /** LoadTableResult {metadata-location?, metadata, config} (staged
    * creates have no metadata-location yet). */
  def loadTableResponse(rec: TableRecord, config: Map[String, String] = Map.empty): String = {
    val o = objNode()
    rec.metadataLocation.foreach(o.put("metadata-location", _))
    o.set[ObjectNode]("metadata", JsonCodecs.metadataToNode(rec.metadata))
    val cfg = objNode()
    config.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
    o.set[ObjectNode]("config", cfg)
    render(o)
  }

  final case class RegisterTableRequest(
      name: String, metadataLocation: String, overwrite: Boolean)

  def registerTableRequest(body: String): Either[CatalogError, RegisterTableRequest] =
    for {
      n <- parse(body)
      name <- requireField(n, "name").map(_.asText())
      loc <- requireField(n, "metadata-location").map(_.asText())
    } yield RegisterTableRequest(
      name, loc, optField(n, "overwrite").exists(_.asBoolean(false)))

  final case class RenameTableRequest(source: TableIdent, destination: TableIdent)

  def renameTableRequest(body: String): Either[CatalogError, RenameTableRequest] = {
    def ident(n: JsonNode): Either[CatalogError, TableIdent] =
      for {
        ns <- requireField(n, "namespace").map(stringSeq)
        name <- requireField(n, "name").map(_.asText())
      } yield TableIdent(ns, name)
    for {
      n <- parse(body)
      src <- requireField(n, "source").flatMap(ident)
      dst <- requireField(n, "destination").flatMap(ident)
    } yield RenameTableRequest(src, dst)
  }

  // ------------------------------------------------------ commit path
  /** Serialize for the client side of the same wire (round-trips with
    * requirementFromJson). */
  def requirementToJson(r: TableRequirement): ObjectNode = {
    import TableRequirement._
    val o = objNode()
    o.put("type", r.requirementType)
    r match {
      case AssertCreate =>
      case AssertTableUuid(u) => o.put("uuid", u.toString)
      case AssertCurrentSchemaId(id) => o.put("current-schema-id", id)
      case AssertDefaultSortOrderId(id) => o.put("default-sort-order-id", id)
      case AssertRefSnapshotId(ref, sid) =>
        o.put("ref", ref); sid.foreach(o.put("snapshot-id", _))
      case AssertDefaultSpecId(id) => o.put("default-spec-id", id)
      case AssertLastAssignedPartitionId(id) => o.put("last-assigned-partition-id", id)
      case AssertLastAssignedFieldId(id) => o.put("last-assigned-field-id", id)
    }
    o
  }

  def updateToJson(u: TableUpdate): ObjectNode = {
    import TableUpdate._
    val o = objNode()
    o.put("action", u.action)
    u match {
      case AssignUuid(uuid) => o.put("uuid", uuid.toString)
      case UpgradeFormatVersion(v) => o.put("format-version", v)
      case AddSchema(s, lastColumnId) =>
        o.set[ObjectNode]("schema", JsonCodecs.schemaToJson(s))
        lastColumnId.foreach(o.put("last-column-id", _))
      case SetCurrentSchema(id) => o.put("schema-id", id)
      case AddSpec(spec) =>
        val sp = objNode()
        spec.specId.foreach(sp.put("spec-id", _))
        val fs = arrNode()
        spec.fields.foreach { f =>
          val fo = objNode()
          fo.put("source-id", f.sourceId)
          f.fieldId.foreach(fo.put("field-id", _))
          fo.put("name", f.name)
          fo.put("transform", f.transform.wireName)
          fs.add(fo)
        }
        sp.set[ObjectNode]("fields", fs)
        o.set[ObjectNode]("spec", sp)
      case SetDefaultSpec(id) => o.put("spec-id", id)
      case AddSortOrder(order) =>
        o.set[ObjectNode]("sort-order", JsonCodecs.sortOrderToJson(order))
      case SetDefaultSortOrder(id) => o.put("sort-order-id", id)
      case AddSnapshot(s) => o.set[ObjectNode]("snapshot", JsonCodecs.snapshotToJson(s))
      case RemoveSnapshots(ids) =>
        val a = arrNode(); ids.foreach(a.add); o.set[ObjectNode]("snapshot-ids", a)
      case RemovePartitionSpecs(ids) =>
        val a = arrNode(); ids.foreach(a.add); o.set[ObjectNode]("spec-ids", a)
      case SetSnapshotRef(name, sid, tpe, minKeep, maxSnapAge, maxRefAge) =>
        o.put("ref-name", name); o.put("snapshot-id", sid); o.put("type", tpe)
        minKeep.foreach(o.put("min-snapshots-to-keep", _))
        maxSnapAge.foreach(o.put("max-snapshot-age-ms", _))
        maxRefAge.foreach(o.put("max-ref-age-ms", _))
      case RemoveSnapshotRef(name) => o.put("ref-name", name)
      case SetLocation(loc) => o.put("location", loc)
      case SetProperties(updates) =>
        val m = objNode()
        updates.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
        o.set[ObjectNode]("updates", m)
      case RemoveProperties(removals) =>
        val a = arrNode(); removals.foreach(a.add); o.set[ObjectNode]("removals", a)
    }
    o
  }

  def commitRequestJson(
      ident: Option[TableIdent],
      requirements: Seq[TableRequirement],
      updates: Seq[TableUpdate]): String = {
    val o = objNode()
    ident.foreach { id =>
      val i = objNode()
      val ns = arrNode(); id.namespace.foreach(ns.add)
      i.set[ObjectNode]("namespace", ns)
      i.put("name", id.name)
      o.set[ObjectNode]("identifier", i)
    }
    val reqs = arrNode(); requirements.foreach(r => reqs.add(requirementToJson(r)))
    o.set[ObjectNode]("requirements", reqs)
    val ups = arrNode(); updates.foreach(u => ups.add(updateToJson(u)))
    o.set[ObjectNode]("updates", ups)
    render(o)
  }

  def requirementFromJson(n: JsonNode): Either[CatalogError, TableRequirement] = {
    import TableRequirement._
    def int(name: String) = requireField(n, name).map(_.asInt())
    requireField(n, "type").map(_.asText()).flatMap {
      case "assert-create" => Right(AssertCreate)
      case "assert-table-uuid" =>
        requireField(n, "uuid").map(u => AssertTableUuid(UUID.fromString(u.asText())))
      case "assert-current-schema-id" =>
        int("current-schema-id").map(AssertCurrentSchemaId)
      case "assert-default-sort-order-id" =>
        int("default-sort-order-id").map(AssertDefaultSortOrderId)
      case "assert-ref-snapshot-id" =>
        requireField(n, "ref").map(_.asText()).map(ref =>
          AssertRefSnapshotId(ref, optField(n, "snapshot-id").map(_.asLong())))
      case "assert-default-spec-id" => int("default-spec-id").map(AssertDefaultSpecId)
      case "assert-last-assigned-partition-id" =>
        int("last-assigned-partition-id").map(AssertLastAssignedPartitionId)
      case "assert-last-assigned-field-id" =>
        int("last-assigned-field-id").map(AssertLastAssignedFieldId)
      case other => Left(CatalogError.badRequest(s"unknown requirement type: $other"))
    }
  }

  def updateFromJson(n: JsonNode): Either[CatalogError, TableUpdate] = {
    import TableUpdate._
    requireField(n, "action").map(_.asText()).flatMap {
      case "assign-uuid" =>
        requireField(n, "uuid").map(u => AssignUuid(UUID.fromString(u.asText())))
      case "upgrade-format-version" =>
        requireField(n, "format-version").map(v => UpgradeFormatVersion(v.asInt()))
      case "add-schema" =>
        requireField(n, "schema").flatMap(s =>
          JsonCodecs.schemaFromJson(s).left.map(CatalogError.badRequest))
          .map(AddSchema(_, optField(n, "last-column-id").map(_.asInt())))
      case "set-current-schema" =>
        requireField(n, "schema-id").map(id => SetCurrentSchema(id.asInt()))
      case "add-spec" =>
        requireField(n, "spec").flatMap(s =>
          JsonCodecs.unboundSpecFromJson(s).left.map(CatalogError.badRequest)).map(AddSpec)
      case "set-default-spec" =>
        requireField(n, "spec-id").map(id => SetDefaultSpec(id.asInt()))
      case "add-sort-order" =>
        requireField(n, "sort-order").flatMap(s =>
          JsonCodecs.sortOrderFromJson(s).left.map(CatalogError.badRequest)).map(AddSortOrder)
      case "set-default-sort-order" =>
        requireField(n, "sort-order-id").map(id => SetDefaultSortOrder(id.asInt()))
      case "add-snapshot" =>
        requireField(n, "snapshot").map(s => AddSnapshot(JsonCodecs.snapshotFromJson(s)))
      case "remove-snapshots" =>
        requireField(n, "snapshot-ids").map(ids =>
          RemoveSnapshots(ids.elements().asScala.map(_.asLong()).toSeq))
      case "remove-partition-specs" =>
        requireField(n, "spec-ids").map(ids =>
          RemovePartitionSpecs(ids.elements().asScala.map(_.asInt()).toSeq))
      case "set-snapshot-ref" =>
        for {
          ref <- requireField(n, "ref-name").map(_.asText())
          sid <- requireField(n, "snapshot-id").map(_.asLong())
          tpe <- requireField(n, "type").map(_.asText())
        } yield SetSnapshotRef(ref, sid, tpe,
          optField(n, "min-snapshots-to-keep").map(_.asInt()),
          optField(n, "max-snapshot-age-ms").map(_.asLong()),
          optField(n, "max-ref-age-ms").map(_.asLong()))
      case "remove-snapshot-ref" =>
        requireField(n, "ref-name").map(r => RemoveSnapshotRef(r.asText()))
      case "set-location" =>
        requireField(n, "location").map(l => SetLocation(l.asText()))
      case "set-properties" =>
        requireField(n, "updates").map(u => SetProperties(stringMap(u)))
      case "remove-properties" =>
        requireField(n, "removals").map(r => RemoveProperties(stringSeq(r)))
      case other => Left(CatalogError.badRequest(s"unknown update action: $other"))
    }
  }

  final case class CommitTableRequest(
      identifier: Option[TableIdent],
      requirements: Seq[TableRequirement],
      updates: Seq[TableUpdate])

  def commitTableRequest(body: String): Either[CatalogError, CommitTableRequest] =
    parse(body).flatMap(commitTableRequest)

  def commitTableRequest(n: JsonNode): Either[CatalogError, CommitTableRequest] = {
    val ident = optField(n, "identifier").map(i => TableIdent(
      stringSeq(i.get("namespace")), i.get("name").asText()))
    val reqs = Vector.newBuilder[TableRequirement]
    for (r <- optField(n, "requirements").map(_.elements().asScala).getOrElse(Iterator.empty))
      requirementFromJson(r) match {
        case Left(e) => return Left(e)
        case Right(req) => reqs += req
      }
    val ups = Vector.newBuilder[TableUpdate]
    for (u <- optField(n, "updates").map(_.elements().asScala).getOrElse(Iterator.empty))
      updateFromJson(u) match {
        case Left(e) => return Left(e)
        case Right(up) => ups += up
      }
    Right(CommitTableRequest(ident, reqs.result(), ups.result()))
  }

  /** Multi-table commit: {"table-changes": [CommitTableRequest…]}. */
  def commitTransactionRequest(body: String)
      : Either[CatalogError, Seq[CommitTableRequest]] =
    for {
      n <- parse(body)
      changesNode <- requireField(n, "table-changes")
      changes <- changesNode.elements().asScala.foldLeft(
        Right(Vector.empty): Either[CatalogError, Vector[CommitTableRequest]]) {
        case (acc, c) => acc.flatMap(v => commitTableRequest(c).map(v :+ _))
      }
    } yield changes

  def commitTableResponse(rec: TableRecord): String = {
    val o = objNode()
    o.put("metadata-location", rec.metadataLocation.getOrElse(""))
    o.set[ObjectNode]("metadata", JsonCodecs.metadataToNode(rec.metadata))
    render(o)
  }

  // ------------------------------------------------- config/warehouse
  def configResponse(overrides: Map[String, String]): String = {
    val o = objNode()
    val over = objNode()
    overrides.toSeq.sortBy(_._1).foreach { case (k, v) => over.put(k, v) }
    o.set[ObjectNode]("overrides", over)
    o.set[ObjectNode]("defaults", objNode())
    render(o)
  }

  def warehouseResponse(w: Warehouse): String = {
    val o = objNode()
    o.put("id", w.id.toString)
    o.put("project-id", w.projectId.toString)
    o.put("name", w.name)
    o.put("location", w.location)
    o.put("status", if (w.active) "active" else "inactive")
    render(o)
  }

  def listWarehousesResponse(
      ws: Seq[Warehouse], nextPageToken: Option[String] = None): String = {
    val o = objNode()
    val arr = arrNode()
    ws.foreach(w => arr.add(M.readTree(warehouseResponse(w))))
    o.set[ObjectNode]("warehouses", arr)
    nextPageToken.foreach(o.put("next-page-token", _))
    render(o)
  }

  def listProjectsResponse(ids: Seq[UUID]): String = {
    val o = objNode()
    val arr = arrNode()
    ids.foreach(id => arr.add(id.toString))
    o.set[ObjectNode]("project-ids", arr)
    render(o)
  }

  // ------------------------------------------------------------- views
  final case class CreateViewRequest(
      name: String, schema: Schema, version: ViewVersion,
      properties: Map[String, String], location: Option[String])

  def createViewRequest(body: String): Either[CatalogError, CreateViewRequest] =
    for {
      n <- parse(body)
      name <- requireField(n, "name").map(_.asText())
      schemaNode <- requireField(n, "schema")
      schema <- JsonCodecs.schemaFromJson(schemaNode).left.map(CatalogError.badRequest)
      verNode <- requireField(n, "view-version")
      version <- ViewJsonCodecs.versionFromJson(verNode)
        .left.map(CatalogError.badRequest)
    } yield CreateViewRequest(name, schema, version,
      optField(n, "properties").map(stringMap).getOrElse(Map.empty),
      optField(n, "location").map(_.asText()))

  /** LoadViewResult {metadata-location, metadata} — views always have a
    * metadata location (no staged state). */
  def loadViewResponse(rec: ViewRecord): String = {
    val o = objNode()
    o.put("metadata-location", rec.metadataLocation)
    o.set[ObjectNode]("metadata", ViewJsonCodecs.metadataToNode(rec.metadata))
    render(o)
  }

  def viewRequirementToJson(r: ViewRequirement): ObjectNode = {
    val o = objNode()
    r match {
      case ViewRequirement.AssertViewUuid(u) =>
        o.put("type", "assert-view-uuid"); o.put("uuid", u.toString)
    }
    o
  }

  def viewRequirementFromJson(n: JsonNode): Either[CatalogError, ViewRequirement] =
    requireField(n, "type").map(_.asText()).flatMap {
      case "assert-view-uuid" =>
        requireField(n, "uuid").flatMap { u =>
          try Right(ViewRequirement.AssertViewUuid(UUID.fromString(u.asText())))
          catch { case _: IllegalArgumentException =>
            Left(CatalogError.badRequest("malformed uuid in assert-view-uuid")) }
        }
      case other =>
        Left(CatalogError.badRequest(s"unknown view requirement type: $other"))
    }

  def viewUpdateToJson(u: ViewUpdate): ObjectNode = {
    import ViewUpdate._
    val o = objNode()
    u match {
      case AssignUuid(uuid) =>
        o.put("action", "assign-uuid"); o.put("uuid", uuid.toString)
      case UpgradeFormatVersion(v) =>
        o.put("action", "upgrade-format-version"); o.put("format-version", v)
      case AddSchema(schema) =>
        o.put("action", "add-schema")
        o.set[ObjectNode]("schema", JsonCodecs.schemaToJson(schema))
      case SetLocation(l) =>
        o.put("action", "set-location"); o.put("location", l)
      case SetProperties(props) =>
        o.put("action", "set-properties")
        val p = objNode(); props.foreach { case (k, v) => p.put(k, v) }
        o.set[ObjectNode]("updates", p)
      case RemoveProperties(keys) =>
        o.put("action", "remove-properties")
        val a = arrNode(); keys.foreach(a.add)
        o.set[ObjectNode]("removals", a)
      case AddViewVersion(v) =>
        o.put("action", "add-view-version")
        o.set[ObjectNode]("view-version", ViewJsonCodecs.versionToJson(v))
      case SetCurrentViewVersion(id) =>
        o.put("action", "set-current-view-version"); o.put("view-version-id", id)
    }
    o
  }

  def viewUpdateFromJson(n: JsonNode): Either[CatalogError, ViewUpdate] = {
    import ViewUpdate._
    requireField(n, "action").map(_.asText()).flatMap {
      case "assign-uuid" => requireField(n, "uuid").flatMap { u =>
        try Right(AssignUuid(UUID.fromString(u.asText())))
        catch { case _: IllegalArgumentException =>
          Left(CatalogError.badRequest("malformed uuid in assign-uuid")) }
      }
      case "upgrade-format-version" =>
        requireField(n, "format-version").map(v => UpgradeFormatVersion(v.asInt()))
      case "add-schema" => requireField(n, "schema").flatMap(s =>
        JsonCodecs.schemaFromJson(s).map(AddSchema(_))
          .left.map(CatalogError.badRequest))
      case "set-location" =>
        requireField(n, "location").map(l => SetLocation(l.asText()))
      case "set-properties" =>
        requireField(n, "updates").map(p => SetProperties(stringMap(p)))
      case "remove-properties" =>
        requireField(n, "removals").map(r => RemoveProperties(stringSeq(r)))
      case "add-view-version" => requireField(n, "view-version").flatMap(v =>
        ViewJsonCodecs.versionFromJson(v).map(AddViewVersion(_))
          .left.map(CatalogError.badRequest))
      case "set-current-view-version" =>
        requireField(n, "view-version-id").map(v => SetCurrentViewVersion(v.asInt()))
      case other =>
        Left(CatalogError.badRequest(s"unknown view update action: $other"))
    }
  }

  final case class CommitViewRequest(
      identifier: Option[TableIdent],
      requirements: Seq[ViewRequirement],
      updates: Seq[ViewUpdate])

  def commitViewRequest(body: String): Either[CatalogError, CommitViewRequest] =
    for {
      n <- parse(body)
      ident <- optField(n, "identifier") match {
        case None => Right(None)
        case Some(in) => for {
          ns <- requireField(in, "namespace").map(stringSeq)
          name <- requireField(in, "name").map(_.asText())
        } yield Some(TableIdent(ns, name))
      }
      reqs <- {
        val parsed = optField(n, "requirements")
          .map(_.elements().asScala.toSeq).getOrElse(Nil)
          .map(viewRequirementFromJson)
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(r) => r }))
      }
      ups <- {
        val parsed = optField(n, "updates")
          .map(_.elements().asScala.toSeq).getOrElse(Nil)
          .map(viewUpdateFromJson)
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(u) => u }))
      }
    } yield CommitViewRequest(ident, reqs, ups)

  /** Client-side serializer for the same wire (round-trips with
    * commitViewRequest). */
  def commitViewRequestJson(
      ident: Option[TableIdent],
      requirements: Seq[ViewRequirement],
      updates: Seq[ViewUpdate]): String = {
    val o = objNode()
    ident.foreach { id =>
      val in = objNode()
      val ns = arrNode(); id.namespace.foreach(ns.add)
      in.set[ObjectNode]("namespace", ns)
      in.put("name", id.name)
      o.set[ObjectNode]("identifier", in)
    }
    val reqs = arrNode(); requirements.foreach(r => reqs.add(viewRequirementToJson(r)))
    o.set[ObjectNode]("requirements", reqs)
    val ups = arrNode(); updates.foreach(u => ups.add(viewUpdateToJson(u)))
    o.set[ObjectNode]("updates", ups)
    render(o)
  }

  /** Client-side serializer for create-view. */
  def createViewRequestJson(
      name: String, schema: Schema, version: ViewVersion,
      properties: Map[String, String]): String = {
    val o = objNode()
    o.put("name", name)
    o.set[ObjectNode]("schema", JsonCodecs.schemaToJson(schema))
    o.set[ObjectNode]("view-version", ViewJsonCodecs.versionToJson(version))
    val p = objNode(); properties.foreach { case (k, v) => p.put(k, v) }
    o.set[ObjectNode]("properties", p)
    render(o)
  }

  /** Uniform error envelope (reference IcebergErrorResponse shape). */
  def errorResponse(e: CatalogError): String = {
    val o = objNode()
    val err = objNode()
    err.put("message", e.message)
    err.put("type", e.errorType)
    err.put("code", e.code)
    o.set[ObjectNode]("error", err)
    render(o)
  }
}
