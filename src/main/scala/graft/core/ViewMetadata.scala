package graft.core

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import java.util.UUID

/** One SQL text of a view version. The Iceberg view spec allows several
  * representations per version keyed by dialect; only `type: "sql"` is
  * defined by the spec, so that is all we model. */
final case class ViewRepresentation(dialect: String, sql: String)

/** A point-in-time definition of the view (view spec: `versions[]`).
  * `schemaId` points into [[ViewMetadata.schemas]]; `summary` must carry
  * the `operation` key (`create` / `replace`). */
final case class ViewVersion(
    versionId: Int,
    timestampMs: Long,
    schemaId: Int,
    summary: Map[String, String],
    representations: Seq[ViewRepresentation],
    defaultCatalog: Option[String],
    defaultNamespace: Seq[String]) {
  def sqlFor(dialect: String): Option[ViewRepresentation] =
    representations.find(_.dialect.equalsIgnoreCase(dialect))
      .orElse(representations.headOption)
}

final case class ViewVersionLogEntry(timestampMs: Long, versionId: Int)

/** The view's whole metadata document (Iceberg view spec, format
  * version 1) — the view-side twin of [[TableMetadata]]. The reference
  * serves 501 for every view mutation (catalog/views.rs:84-189); we
  * implement the surface for real, so the authoritative copy lives in
  * the catalog store and a gzip'd metadata.json mirror lands next to
  * the (virtual) view location, exactly like tables. */
final case class ViewMetadata(
    viewUuid: UUID,
    formatVersion: Int,
    location: String,
    schemas: Map[Int, Schema],
    currentVersionId: Int,
    versions: Map[Int, ViewVersion],
    versionLog: Seq[ViewVersionLogEntry],
    properties: Map[String, String]) {

  def currentVersion: ViewVersion = versions(currentVersionId)
  def currentSchema: Schema = schemas(currentVersion.schemaId)
}

object ViewMetadata {
  val SupportedFormatVersions: Set[Int] = Set(1)

  /** A fresh single-version view document (operation=create). */
  def newView(
      viewUuid: UUID,
      location: String,
      schema: Schema,
      version: ViewVersion,
      properties: Map[String, String],
      timestampMs: Long): Either[String, ViewMetadata] = {
    if (version.representations.isEmpty)
      Left("view version requires at least one representation")
    else if (!version.summary.contains("operation"))
      Left("view version summary requires an `operation` key")
    else {
      val sch = schema.copy(schemaId = 0)
      val ver = version.copy(versionId = 1, schemaId = 0, timestampMs = timestampMs)
      Right(ViewMetadata(
        viewUuid = viewUuid,
        formatVersion = 1,
        location = location,
        schemas = Map(0 -> sch),
        currentVersionId = 1,
        versions = Map(1 -> ver),
        versionLog = Seq(ViewVersionLogEntry(timestampMs, 1)),
        properties = properties))
    }
  }

  /** Append a new version (operation=replace): new schema + SQL become
    * current; prior versions/schemas are retained for history, bounded
    * by `version-history-size` should a caller ever set it. */
  def replaceVersion(
      m: ViewMetadata,
      schema: Schema,
      version: ViewVersion,
      properties: Map[String, String],
      timestampMs: Long): Either[String, ViewMetadata] = {
    if (version.representations.isEmpty)
      Left("view version requires at least one representation")
    else {
      // structural schema dedup, same rule as tables: an identical
      // struct re-uses its id instead of minting a new one
      val existing = m.schemas.find(_._2.sameStructure(schema)).map(_._1)
      val schemaId = existing.getOrElse(m.schemas.keys.max + 1)
      val newSchemas =
        if (existing.isDefined) m.schemas
        else m.schemas + (schemaId -> schema.copy(schemaId = schemaId))
      val versionId = m.versions.keys.max + 1
      val ver = version.copy(
        versionId = versionId, schemaId = schemaId, timestampMs = timestampMs,
        summary = version.summary + ("operation" -> "replace"))
      Right(m.copy(
        schemas = newSchemas,
        currentVersionId = versionId,
        versions = m.versions + (versionId -> ver),
        versionLog = m.versionLog :+ ViewVersionLogEntry(timestampMs, versionId),
        properties = properties))
    }
  }
}

/** View-commit requirements (REST spec `ViewRequirement`): only
  * assert-view-uuid is defined — the optimistic-concurrency anchor. */
sealed trait ViewRequirement
object ViewRequirement {
  final case class AssertViewUuid(uuid: UUID) extends ViewRequirement
}

/** View-commit updates (REST spec `ViewUpdate`) — the view-side subset
  * of the table commit algebra, applied with the same sentinel rules
  * (`-1` = last added) the table builder uses. */
sealed trait ViewUpdate
object ViewUpdate {
  final case class AssignUuid(uuid: UUID) extends ViewUpdate
  final case class UpgradeFormatVersion(formatVersion: Int) extends ViewUpdate
  final case class AddSchema(schema: Schema) extends ViewUpdate
  final case class SetLocation(location: String) extends ViewUpdate
  final case class SetProperties(updates: Map[String, String]) extends ViewUpdate
  final case class RemoveProperties(removals: Seq[String]) extends ViewUpdate
  final case class AddViewVersion(version: ViewVersion) extends ViewUpdate
  /** `versionId == -1` means "the version added by this commit". */
  final case class SetCurrentViewVersion(versionId: Int) extends ViewUpdate

  /** Fold a commit's updates over current metadata. Mirrors the table
    * builder's contract: assign-uuid may only re-assert the current
    * uuid, set-location may not move the view, `-1` sentinels resolve
    * to the id added within THIS commit, and schema ids referenced by
    * an added version must exist (or be `-1` for the one just added). */
  def applyAll(
      m: ViewMetadata,
      updates: Seq[ViewUpdate],
      timestampMs: Long): Either[CommitError, ViewMetadata] = {
    var cur = m
    var lastAddedSchema: Option[Int] = None
    var lastAddedVersion: Option[Int] = None
    for (u <- updates) u match {
      case AssignUuid(uuid) =>
        if (uuid != cur.viewUuid)
          return Left(CommitError.validation(
            "assign-uuid cannot change the view uuid on commit"))
      case UpgradeFormatVersion(v) =>
        if (!ViewMetadata.SupportedFormatVersions(v))
          return Left(CommitError.validation(s"unsupported view format-version: $v"))
      case SetLocation(l) =>
        if (l != cur.location)
          return Left(CommitError.validation(
            "set-location cannot change the view location on commit"))
      case SetProperties(props) =>
        cur = cur.copy(properties = cur.properties ++ props)
      case RemoveProperties(keys) =>
        cur = cur.copy(properties = cur.properties -- keys)
      case AddSchema(schema) =>
        // structural dedup, same rule as tables
        cur.schemas.find(_._2.sameStructure(schema)).map(_._1) match {
          case Some(id) => lastAddedSchema = Some(id)
          case None =>
            val id = cur.schemas.keys.max + 1
            cur = cur.copy(schemas = cur.schemas + (id -> schema.copy(schemaId = id)))
            lastAddedSchema = Some(id)
        }
      case AddViewVersion(v) =>
        if (v.representations.isEmpty)
          return Left(CommitError.validation(
            "view version requires at least one representation"))
        val schemaId = v.schemaId match {
          case -1 => lastAddedSchema.getOrElse(
            return Left(CommitError.validation(
              "add-view-version schema-id -1 requires a preceding add-schema")))
          case id if cur.schemas.contains(id) => id
          case id => return Left(CommitError.validation(
            s"add-view-version references missing schema $id"))
        }
        val id = cur.versions.keys.max + 1
        val stamped = v.copy(versionId = id, schemaId = schemaId,
          timestampMs = timestampMs,
          summary = if (v.summary.contains("operation")) v.summary
                    else v.summary + ("operation" -> "replace"))
        cur = cur.copy(versions = cur.versions + (id -> stamped))
        lastAddedVersion = Some(id)
      case SetCurrentViewVersion(versionId) =>
        val id = versionId match {
          case -1 => lastAddedVersion.getOrElse(
            return Left(CommitError.validation(
              "set-current-view-version -1 requires a preceding add-view-version")))
          case v if cur.versions.contains(v) => v
          case v => return Left(CommitError.validation(
            s"set-current-view-version references missing version $v"))
        }
        cur = cur.copy(
          currentVersionId = id,
          versionLog = cur.versionLog :+ ViewVersionLogEntry(timestampMs, id))
    }
    Right(cur)
  }
}

/** JSON (de)serialization per the Iceberg view spec. Kept beside the
  * model rather than in [[JsonCodecs]] so the table codec file stays
  * focused; schema nodes delegate to [[JsonCodecs]]. */
object ViewJsonCodecs {
  private def M = JsonCodecs.mapperRef

  def versionToJson(v: ViewVersion): ObjectNode = {
    val o = M.createObjectNode()
    o.put("version-id", v.versionId)
    o.put("timestamp-ms", v.timestampMs)
    o.put("schema-id", v.schemaId)
    val s = M.createObjectNode()
    // sorted emission → canonical JSON (round-trip is a fixed point)
    v.summary.toSeq.sortBy(_._1).foreach { case (k, value) => s.put(k, value) }
    o.set[JsonNode]("summary", s)
    val reps = M.createArrayNode()
    v.representations.foreach { r =>
      val ro = M.createObjectNode()
      ro.put("type", "sql")
      ro.put("sql", r.sql)
      ro.put("dialect", r.dialect)
      reps.add(ro)
    }
    o.set[JsonNode]("representations", reps)
    v.defaultCatalog.foreach(o.put("default-catalog", _))
    val ns = M.createArrayNode()
    v.defaultNamespace.foreach(ns.add)
    o.set[JsonNode]("default-namespace", ns)
    o
  }

  def versionFromJson(n: JsonNode): Either[String, ViewVersion] = {
    import scala.jdk.CollectionConverters._
    def req(name: String): Either[String, JsonNode] =
      Option(n.get(name)).filter(!_.isNull).toRight(s"view version missing `$name`")
    for {
      id <- req("version-id").map(_.asInt())
      ts <- req("timestamp-ms").map(_.asLong())
      schemaId <- req("schema-id").map(_.asInt())
      summary <- req("summary").map(s =>
        s.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      repsNode <- req("representations")
      reps <- {
        val parsed = repsNode.elements().asScala.toSeq.map { r =>
          (Option(r.get("type")).map(_.asText()),
            Option(r.get("sql")).map(_.asText()),
            Option(r.get("dialect")).map(_.asText())) match {
            case (Some("sql"), Some(sql), Some(d)) => Right(ViewRepresentation(d, sql))
            case (Some(other), _, _) if other != "sql" =>
              Left(s"unsupported view representation type: $other")
            case _ => Left("malformed view representation")
          }
        }
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(r) => r }))
      }
      ns <- req("default-namespace").map(_.elements().asScala.map(_.asText()).toSeq)
    } yield ViewVersion(id, ts, schemaId, summary, reps,
      Option(n.get("default-catalog")).filter(!_.isNull).map(_.asText()), ns)
  }

  def metadataToNode(m: ViewMetadata): ObjectNode = {
    val o = M.createObjectNode()
    o.put("view-uuid", m.viewUuid.toString)
    o.put("format-version", m.formatVersion)
    o.put("location", m.location)
    val schemas = M.createArrayNode()
    m.schemas.toSeq.sortBy(_._1).foreach { case (_, s) =>
      schemas.add(JsonCodecs.schemaToJson(s))
    }
    o.set[JsonNode]("schemas", schemas)
    o.put("current-version-id", m.currentVersionId)
    val versions = M.createArrayNode()
    m.versions.toSeq.sortBy(_._1).foreach { case (_, v) =>
      versions.add(versionToJson(v))
    }
    o.set[JsonNode]("versions", versions)
    val log = M.createArrayNode()
    m.versionLog.foreach { e =>
      val eo = M.createObjectNode()
      eo.put("timestamp-ms", e.timestampMs)
      eo.put("version-id", e.versionId)
      log.add(eo)
    }
    o.set[JsonNode]("version-log", log)
    val props = M.createObjectNode()
    m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    o.set[JsonNode]("properties", props)
    o
  }

  def metadataToJson(m: ViewMetadata): String = M.writeValueAsString(metadataToNode(m))

  def metadataFromJson(json: String): Either[String, ViewMetadata] = {
    val n = try JsonCodecs.parse(json) catch {
      case e: Exception => return Left(s"malformed view metadata JSON: ${e.getMessage}")
    }
    metadataFromNode(n)
  }

  def metadataFromNode(n: JsonNode): Either[String, ViewMetadata] = {
    import scala.jdk.CollectionConverters._
    if (n == null || !n.isObject)
      return Left(s"malformed view metadata node: ${String.valueOf(n).take(80)}")
    def req(name: String): Either[String, JsonNode] =
      Option(n.get(name)).filter(!_.isNull).toRight(s"view metadata missing `$name`")
    for {
      uuid <- req("view-uuid").flatMap(u =>
        try Right(UUID.fromString(u.asText()))
        catch { case _: IllegalArgumentException => Left("malformed view-uuid") })
      fv <- req("format-version").map(_.asInt())
      _ <- if (ViewMetadata.SupportedFormatVersions(fv)) Right(())
           else Left(s"unsupported view format-version: $fv")
      location <- req("location").map(_.asText())
      schemasNode <- req("schemas")
      schemas <- {
        val parsed = schemasNode.elements().asScala.toSeq
          .map(JsonCodecs.schemaFromJson)
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(s) => s.schemaId -> s }.toMap))
      }
      currentId <- req("current-version-id").map(_.asInt())
      versionsNode <- req("versions")
      versions <- {
        val parsed = versionsNode.elements().asScala.toSeq.map(versionFromJson)
        parsed.collectFirst { case Left(e) => Left(e) }
          .getOrElse(Right(parsed.collect { case Right(v) => v.versionId -> v }.toMap))
      }
      _ <- if (versions.contains(currentId)) Right(())
           else Left(s"current-version-id $currentId not in versions")
      _ <- versions.values.find(v => !schemas.contains(v.schemaId))
        .map(v => Left(s"version ${v.versionId} references missing schema ${v.schemaId}"))
        .getOrElse(Right(()))
      log <- req("version-log").map(_.elements().asScala.toSeq.map(e =>
        ViewVersionLogEntry(e.get("timestamp-ms").asLong(), e.get("version-id").asInt())))
    } yield ViewMetadata(uuid, fv, location, schemas, currentId, versions, log,
      Option(n.get("properties")).filter(!_.isNull)
        .map(p => p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty))
  }
}
