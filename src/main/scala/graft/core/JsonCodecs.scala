package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import java.util.UUID
import scala.jdk.CollectionConverters._

/** JSON codecs for the metadata model in the Iceberg kebab-case wire
  * format (matching the public spec; same shape the reference emits via
  * serde rename_all = "kebab-case",
  * /root/reference/crates/iceberg-ext/src/catalog/rest/table.rs:10).
  * Tree-built explicitly: field names are part of the protocol, so no
  * reflective naming.
  */
object JsonCodecs {
  private val mapper = new ObjectMapper()
  /** Shared mapper for the REST wire layer (same node factory). */
  private[graft] def mapperRef: ObjectMapper = mapper

  def parse(json: String): JsonNode = mapper.readTree(json)
  def render(node: JsonNode): String = mapper.writeValueAsString(node)

  // ------------------------------------------------------------- types
  def typeToJson(t: IType): JsonNode = t match {
    case p: PrimitiveType => mapper.getNodeFactory.textNode(p.wireName)
    case IType.TStruct(fields) =>
      val o = mapper.createObjectNode()
      o.put("type", "struct")
      o.set[ObjectNode]("fields", fieldsToJson(fields))
      o
    case IType.TList(eid, elem, req) =>
      val o = mapper.createObjectNode()
      o.put("type", "list")
      o.put("element-id", eid)
      o.set[ObjectNode]("element", typeToJson(elem))
      o.put("element-required", req)
      o
    case IType.TMap(kid, k, vid, v, vreq) =>
      val o = mapper.createObjectNode()
      o.put("type", "map")
      o.put("key-id", kid)
      o.set[ObjectNode]("key", typeToJson(k))
      o.put("value-id", vid)
      o.set[ObjectNode]("value", typeToJson(v))
      o.put("value-required", vreq)
      o
  }

  private def fieldsToJson(fields: Seq[NestedField]): ArrayNode = {
    val arr = mapper.createArrayNode()
    fields.foreach { f =>
      val o = mapper.createObjectNode()
      o.put("id", f.id)
      o.put("name", f.name)
      o.put("required", f.required)
      o.set[ObjectNode]("type", typeToJson(f.fieldType))
      f.doc.foreach(o.put("doc", _))
      arr.add(o)
    }
    arr
  }

  def typeFromJson(node: JsonNode): Either[String, IType] =
    if (node == null) Left("malformed type node: null")
    else if (node.isTextual) IType.parsePrimitive(node.asText())
    else if (node.isObject && !node.hasNonNull("type"))
      Left(s"malformed type node (no `type`): ${String.valueOf(node).take(80)}")
    else if (node.isObject) node.get("type").asText() match {
      case "struct" => fieldsFromJson(node.get("fields")).map(IType.TStruct)
      case "list" =>
        typeFromJson(node.get("element")).map(e =>
          IType.TList(node.get("element-id").asInt(), e,
            node.get("element-required").asBoolean()))
      case "map" =>
        for {
          k <- typeFromJson(node.get("key"))
          v <- typeFromJson(node.get("value"))
        } yield IType.TMap(node.get("key-id").asInt(), k,
          node.get("value-id").asInt(), v, node.get("value-required").asBoolean())
      case other => Left(s"unknown nested type: $other")
    }
    else Left(s"malformed type node: $node")

  private def fieldsFromJson(node: JsonNode): Either[String, Seq[NestedField]] = {
    if (node == null || !node.isArray)
      return Left(s"malformed fields node: ${String.valueOf(node).take(80)}")
    val out = Vector.newBuilder[NestedField]
    for (f <- node.elements().asScala) {
      if (!f.isObject || !f.hasNonNull("id") || !f.hasNonNull("name") ||
          !f.hasNonNull("required") || !f.hasNonNull("type"))
        return Left(s"malformed field node: ${String.valueOf(f).take(80)}")
      typeFromJson(f.get("type")) match {
        case Left(e) => return Left(e)
        case Right(t) =>
          out += NestedField(
            f.get("id").asInt(), f.get("name").asText(),
            f.get("required").asBoolean(), t,
            Option(f.get("doc")).filter(!_.isNull).map(_.asText()))
      }
    }
    Right(out.result())
  }

  // ------------------------------------------------------------ schema
  def schemaToJson(s: Schema): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("type", "struct")
    o.put("schema-id", s.schemaId)
    if (s.identifierFieldIds.nonEmpty) {
      val ids = mapper.createArrayNode()
      s.identifierFieldIds.toSeq.sorted.foreach(ids.add)
      o.set[ObjectNode]("identifier-field-ids", ids)
    }
    o.set[ObjectNode]("fields", fieldsToJson(s.fields))
    o
  }

  def schemaFromJson(node: JsonNode): Either[String, Schema] =
    // shape-check BEFORE touching members: a string/array/null here
    // must be a 400 at the codec seam, not an NPE escaping as a 500
    // (found by the MalformedInputSpec fuzz sweep)
    if (node == null || !node.isObject || !node.hasNonNull("fields") ||
        !node.get("fields").isArray)
      Left(s"malformed schema node: ${String.valueOf(node).take(80)}")
    else fieldsFromJson(node.get("fields")).map { fs =>
      val ids = Option(node.get("identifier-field-ids"))
        .filter(!_.isNull)
        .map(_.elements().asScala.map(_.asInt()).toSet)
        .getOrElse(Set.empty[Int])
      Schema(Option(node.get("schema-id")).map(_.asInt()).getOrElse(0), fs, ids)
    }

  // ------------------------------------------------------------- specs
  def specToJson(spec: PartitionSpec): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("spec-id", spec.specId)
    val arr = mapper.createArrayNode()
    spec.fields.foreach { f =>
      val fo = mapper.createObjectNode()
      fo.put("source-id", f.sourceId)
      fo.put("field-id", f.fieldId)
      fo.put("name", f.name)
      fo.put("transform", f.transform.wireName)
      arr.add(fo)
    }
    o.set[ObjectNode]("fields", arr)
    o
  }

  def specFromJson(node: JsonNode): Either[String, PartitionSpec] = {
    val fields = Vector.newBuilder[PartitionField]
    for (f <- node.get("fields").elements().asScala) {
      Transform.parse(f.get("transform").asText()) match {
        case Left(e) => return Left(e)
        case Right(t) => fields += PartitionField(
          f.get("source-id").asInt(), f.get("field-id").asInt(),
          f.get("name").asText(), t)
      }
    }
    Right(PartitionSpec(node.get("spec-id").asInt(), fields.result()))
  }

  def unboundSpecFromJson(node: JsonNode): Either[String, UnboundPartitionSpec] = {
    val fields = Vector.newBuilder[UnboundPartitionField]
    for (f <- node.get("fields").elements().asScala) {
      Transform.parse(f.get("transform").asText()) match {
        case Left(e) => return Left(e)
        case Right(t) => fields += UnboundPartitionField(
          f.get("source-id").asInt(),
          Option(f.get("field-id")).filter(!_.isNull).map(_.asInt()),
          f.get("name").asText(), t)
      }
    }
    Right(UnboundPartitionSpec(
      Option(node.get("spec-id")).filter(!_.isNull).map(_.asInt()),
      fields.result()))
  }

  // -------------------------------------------------------- sort order
  def sortOrderToJson(order: SortOrder): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("order-id", order.orderId)
    val arr = mapper.createArrayNode()
    order.fields.foreach { f =>
      val fo = mapper.createObjectNode()
      fo.put("transform", f.transform.wireName)
      fo.put("source-id", f.sourceId)
      fo.put("direction", f.direction.wireName)
      fo.put("null-order", f.nullOrder.wireName)
      arr.add(fo)
    }
    o.set[ObjectNode]("fields", arr)
    o
  }

  def sortOrderFromJson(node: JsonNode): Either[String, SortOrder] = {
    val fields = Vector.newBuilder[SortField]
    for (f <- node.get("fields").elements().asScala) {
      val parsed = for {
        t <- Transform.parse(f.get("transform").asText())
        d <- SortDirection.parse(f.get("direction").asText())
        n <- NullOrder.parse(f.get("null-order").asText())
      } yield SortField(f.get("source-id").asInt(), t, d, n)
      parsed match {
        case Left(e) => return Left(e)
        case Right(sf) => fields += sf
      }
    }
    Right(SortOrder(node.get("order-id").asInt(), fields.result()))
  }

  // --------------------------------------------------------- snapshots
  def snapshotToJson(s: Snapshot): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("snapshot-id", s.snapshotId)
    s.parentSnapshotId.foreach(o.put("parent-snapshot-id", _))
    o.put("sequence-number", s.sequenceNumber)
    o.put("timestamp-ms", s.timestampMs)
    o.put("manifest-list", s.manifestList)
    val sum = mapper.createObjectNode()
    s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sum.put(k, v) }
    o.set[ObjectNode]("summary", sum)
    s.schemaId.foreach(o.put("schema-id", _))
    o
  }

  def snapshotFromJson(node: JsonNode): Snapshot =
    Snapshot(
      node.get("snapshot-id").asLong(),
      Option(node.get("parent-snapshot-id")).filter(!_.isNull).map(_.asLong()),
      Option(node.get("sequence-number")).filter(!_.isNull).map(_.asLong()).getOrElse(0L),
      node.get("timestamp-ms").asLong(),
      Option(node.get("manifest-list")).filter(!_.isNull).map(_.asText()).getOrElse(""),
      Option(node.get("summary")).filter(!_.isNull).map(s =>
        s.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      Option(node.get("schema-id")).filter(!_.isNull).map(_.asInt()))

  def refToJson(r: SnapshotReference): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("snapshot-id", r.snapshotId)
    o.put("type", r.refType)
    r.minSnapshotsToKeep.foreach(o.put("min-snapshots-to-keep", _))
    r.maxSnapshotAgeMs.foreach(o.put("max-snapshot-age-ms", _))
    r.maxRefAgeMs.foreach(o.put("max-ref-age-ms", _))
    o
  }

  def refFromJson(node: JsonNode): SnapshotReference =
    SnapshotReference(
      node.get("snapshot-id").asLong(),
      node.get("type").asText(),
      Option(node.get("min-snapshots-to-keep")).filter(!_.isNull).map(_.asInt()),
      Option(node.get("max-snapshot-age-ms")).filter(!_.isNull).map(_.asLong()),
      Option(node.get("max-ref-age-ms")).filter(!_.isNull).map(_.asLong()))

  // ---------------------------------------------------- table metadata
  /** The metadata document as a tree, for callers that embed it in a
    * larger document (the REST responses) without a string round trip. */
  def metadataToNode(m: TableMetadata): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("format-version", m.formatVersion)
    o.put("table-uuid", m.tableUuid.toString)
    o.put("location", m.location)
    o.put("last-sequence-number", m.lastSequenceNumber)
    o.put("last-updated-ms", m.lastUpdatedMs)
    o.put("last-column-id", m.lastColumnId)

    // v1 compat: the v1 spec REQUIRES the single `schema` and flattened
    // `partition-spec` fields (spec-compliant v1 readers ignore the v2
    // arrays). Writers targeting v1 must emit both forms.
    if (m.formatVersion == 1) {
      o.set[ObjectNode]("schema", schemaToJson(m.currentSchema))
      val legacyFields = mapper.createArrayNode()
      m.partitionSpecs.get(m.defaultSpecId).toSeq.flatMap(_.fields).foreach { f =>
        val fo = mapper.createObjectNode()
        fo.put("source-id", f.sourceId)
        fo.put("field-id", f.fieldId)
        fo.put("name", f.name)
        fo.put("transform", f.transform.wireName)
        legacyFields.add(fo)
      }
      o.set[ObjectNode]("partition-spec", legacyFields)
    }

    val schemas = mapper.createArrayNode()
    m.schemas.toSeq.sortBy(_._1).foreach { case (_, s) => schemas.add(schemaToJson(s)) }
    o.set[ObjectNode]("schemas", schemas)
    o.put("current-schema-id", m.currentSchemaId)

    val specs = mapper.createArrayNode()
    m.partitionSpecs.toSeq.sortBy(_._1).foreach { case (_, s) => specs.add(specToJson(s)) }
    o.set[ObjectNode]("partition-specs", specs)
    o.put("default-spec-id", m.defaultSpecId)
    o.put("last-partition-id", m.lastPartitionId)

    val props = mapper.createObjectNode()
    m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    o.set[ObjectNode]("properties", props)

    m.currentSnapshotId.foreach(o.put("current-snapshot-id", _))
    val snaps = mapper.createArrayNode()
    m.snapshots.toSeq.sortBy(_._1).foreach { case (_, s) => snaps.add(snapshotToJson(s)) }
    o.set[ObjectNode]("snapshots", snaps)

    val slog = mapper.createArrayNode()
    m.snapshotLog.foreach { e =>
      val eo = mapper.createObjectNode()
      eo.put("snapshot-id", e.snapshotId)
      eo.put("timestamp-ms", e.timestampMs)
      slog.add(eo)
    }
    o.set[ObjectNode]("snapshot-log", slog)

    val mlog = mapper.createArrayNode()
    m.metadataLog.foreach { e =>
      val eo = mapper.createObjectNode()
      eo.put("metadata-file", e.metadataFile)
      eo.put("timestamp-ms", e.timestampMs)
      mlog.add(eo)
    }
    o.set[ObjectNode]("metadata-log", mlog)

    val orders = mapper.createArrayNode()
    m.sortOrders.toSeq.sortBy(_._1).foreach { case (_, s) => orders.add(sortOrderToJson(s)) }
    o.set[ObjectNode]("sort-orders", orders)
    o.put("default-sort-order-id", m.defaultSortOrderId)

    val refs = mapper.createObjectNode()
    m.refs.toSeq.sortBy(_._1).foreach { case (k, r) => refs.set[ObjectNode](k, refToJson(r)) }
    o.set[ObjectNode]("refs", refs)
    o
  }

  /** The stored and mirrored form: [[metadataToNode]] pretty-printed. */
  def metadataToJson(m: TableMetadata): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(metadataToNode(m))

  def metadataFromJson(json: String): Either[String, TableMetadata] =
    metadataFromNode(parse(json))

  def metadataFromNode(n: JsonNode): Either[String, TableMetadata] = {
    if (n == null || !n.isObject)
      return Left(s"malformed metadata node: ${String.valueOf(n).take(80)}")
    def arr(name: String): Iterator[JsonNode] =
      Option(n.get(name)).filter(!_.isNull).map(_.elements().asScala)
        .getOrElse(Iterator.empty)

    // Legacy v1 documents may carry only the single `schema` /
    // `partition-spec` fields; fall back to those when the v2 arrays
    // are absent rather than NPE-ing (ADVICE r2 finding a).
    val schemas = scala.collection.mutable.Map[Int, Schema]()
    for (s <- arr("schemas"))
      schemaFromJson(s) match {
        case Left(e) => return Left(e)
        case Right(sc) => schemas(sc.schemaId) = sc
      }
    if (schemas.isEmpty)
      Option(n.get("schema")).filter(!_.isNull) match {
        case Some(legacy) => schemaFromJson(legacy) match {
          case Left(e) => return Left(e)
          case Right(sc) => schemas(sc.schemaId) = sc
        }
        case None => return Left("metadata has neither `schemas` nor legacy `schema`")
      }

    val specs = scala.collection.mutable.Map[Int, PartitionSpec]()
    for (s <- arr("partition-specs"))
      specFromJson(s) match {
        case Left(e) => return Left(e)
        case Right(sp) => specs(sp.specId) = sp
      }
    if (specs.isEmpty)
      Option(n.get("partition-spec")).filter(!_.isNull).foreach { legacy =>
        // Flattened v1 form: a bare field array; ids may be absent in
        // very old documents — assign 1000+ordinal like Iceberg readers.
        val fields = Vector.newBuilder[PartitionField]
        for ((f, i) <- legacy.elements().asScala.zipWithIndex) {
          Transform.parse(f.get("transform").asText()) match {
            case Left(e) => return Left(e)
            case Right(t) => fields += PartitionField(
              f.get("source-id").asInt(),
              Option(f.get("field-id")).filter(!_.isNull).map(_.asInt())
                .getOrElse(PartitionSpec.StartFieldId + i),
              f.get("name").asText(), t)
          }
        }
        specs(0) = PartitionSpec(0, fields.result())
      }
    if (specs.isEmpty) specs(0) = PartitionSpec.Unpartitioned

    val orders = scala.collection.mutable.Map[Int, SortOrder]()
    for (s <- arr("sort-orders"))
      sortOrderFromJson(s) match {
        case Left(e) => return Left(e)
        case Right(so) => orders(so.orderId) = so
      }
    if (orders.isEmpty) orders(0) = SortOrder.Unsorted
    // absent/null snapshots is legal (a just-created table) — and this
    // codec also faces ADOPTED files, where nothing is guaranteed
    val snaps = arr("snapshots")
      .map(snapshotFromJson).map(s => s.snapshotId -> s).toMap
    val refs = Option(n.get("refs")).filter(!_.isNull).map(r =>
      r.properties().asScala.map(e => e.getKey -> refFromJson(e.getValue)).toMap)
      .getOrElse(Map.empty[String, SnapshotReference])

    Right(TableMetadata(
      formatVersion = n.get("format-version").asInt(),
      tableUuid = UUID.fromString(n.get("table-uuid").asText()),
      location = n.get("location").asText(),
      lastSequenceNumber = Option(n.get("last-sequence-number")).filter(!_.isNull)
        .map(_.asLong()).getOrElse(0L),
      lastUpdatedMs = n.get("last-updated-ms").asLong(),
      lastColumnId = n.get("last-column-id").asInt(),
      schemas = schemas.toMap,
      currentSchemaId = Option(n.get("current-schema-id")).filter(!_.isNull)
        .map(_.asInt()).getOrElse(schemas.keys.max),
      partitionSpecs = specs.toMap,
      defaultSpecId = Option(n.get("default-spec-id")).filter(!_.isNull)
        .map(_.asInt()).getOrElse(specs.keys.min),
      lastPartitionId = Option(n.get("last-partition-id")).filter(!_.isNull)
        .map(_.asInt()).getOrElse(specs.values.map(_.maxFieldId).max),
      properties = Option(n.get("properties")).filter(!_.isNull).map(p =>
        p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      currentSnapshotId = Option(n.get("current-snapshot-id")).filter(!_.isNull)
        .map(_.asLong()).filter(_ != -1L),
      snapshots = snaps,
      snapshotLog = Option(n.get("snapshot-log")).filter(!_.isNull).map(_.elements().asScala
        .map(e => SnapshotLogEntry(e.get("snapshot-id").asLong(), e.get("timestamp-ms").asLong()))
        .toSeq).getOrElse(Nil),
      metadataLog = Option(n.get("metadata-log")).filter(!_.isNull).map(_.elements().asScala
        .map(e => MetadataLogEntry(e.get("metadata-file").asText(), e.get("timestamp-ms").asLong()))
        .toSeq).getOrElse(Nil),
      sortOrders = orders.toMap,
      defaultSortOrderId = Option(n.get("default-sort-order-id")).filter(!_.isNull)
        .map(_.asInt()).getOrElse(0),
      refs = refs))
  }

  /** Semantic validation for ADOPTED metadata (register): the decoder
    * above accepts any well-shaped JSON, but a hostile or corrupted
    * tree can be well-shaped and still structurally impossible —
    * duplicate field ids, a snapshot parent cycle, sequence numbers
    * past the recorded high-water mark, dangling current/ref pointers.
    * Our OWN commit path can never produce these (the builder enforces
    * them), so this runs only at the adoption seam, where the file is
    * client-supplied. Every finding is a `Left` → 400, never a throw.
    *
    * Deliberately ALLOWED: a parent-snapshot-id that is absent from
    * `snapshots` — expiring old snapshots legitimately drops parents
    * while children retain the pointer (the cycle walk just stops
    * there). */
  def validateAdopted(md: TableMetadata): Either[String, TableMetadata] = {
    def fieldIds(t: IType): Seq[Int] = t match {
      case IType.TStruct(fs) =>
        fs.flatMap(f => f.id +: fieldIds(f.fieldType))
      case IType.TList(eid, e, _) => eid +: fieldIds(e)
      case IType.TMap(kid, k, vid, v, _) =>
        Seq(kid, vid) ++ fieldIds(k) ++ fieldIds(v)
      case _ => Nil
    }
    for (s <- md.schemas.values.toSeq.sortBy(_.schemaId)) {
      val ids = fieldIds(s.struct)
      val dups = ids.groupBy(identity).collect { case (id, g) if g.size > 1 => id }
      if (dups.nonEmpty) return Left(
        s"schema ${s.schemaId} repeats field id(s) ${dups.toSeq.sorted.mkString(", ")}")
    }
    if (!md.schemas.contains(md.currentSchemaId))
      return Left(s"current-schema-id ${md.currentSchemaId} names no schema")
    if (!md.partitionSpecs.contains(md.defaultSpecId))
      return Left(s"default-spec-id ${md.defaultSpecId} names no partition spec")
    if (!md.sortOrders.contains(md.defaultSortOrderId))
      return Left(s"default-sort-order-id ${md.defaultSortOrderId} names no sort order")
    if (md.lastSequenceNumber < 0)
      return Left(s"last-sequence-number ${md.lastSequenceNumber} is negative")
    for (sn <- md.snapshots.values.toSeq.sortBy(_.snapshotId)) {
      if (sn.sequenceNumber < 0 || sn.sequenceNumber > md.lastSequenceNumber)
        return Left(s"snapshot ${sn.snapshotId} sequence-number " +
          s"${sn.sequenceNumber} outside [0, ${md.lastSequenceNumber}]")
      if (sn.parentSnapshotId.contains(sn.snapshotId))
        return Left(s"snapshot ${sn.snapshotId} is its own parent")
    }
    // parent-chain cycles among PRESENT snapshots: walk each chain with
    // a step bound of |snapshots| — revisiting means a loop
    for (start <- md.snapshots.keys.toSeq.sorted) {
      var cur = md.snapshots.get(start).flatMap(_.parentSnapshotId)
      var steps = 0
      while (cur.isDefined && steps <= md.snapshots.size) {
        if (cur.contains(start))
          return Left(s"snapshot parent chain cycles through $start")
        cur = cur.flatMap(md.snapshots.get).flatMap(_.parentSnapshotId)
        steps += 1
      }
    }
    for (id <- md.currentSnapshotId if !md.snapshots.contains(id))
      return Left(s"current-snapshot-id $id names no snapshot")
    for ((name, ref) <- md.refs.toSeq.sortBy(_._1)
         if !md.snapshots.contains(ref.snapshotId))
      return Left(s"ref '$name' points at missing snapshot ${ref.snapshotId}")
    Right(md)
  }
}
