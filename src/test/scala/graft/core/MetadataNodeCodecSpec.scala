package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.util.UUID

/** The node-level metadata codecs decode what they encode. */
class MetadataNodeCodecSpec extends AnyFunSuite {
  import IType._
  import TableUpdate._

  private val schema = Schema(0, Seq(
    NestedField.required(1, "id", TInt),
    NestedField.required(2, "name", TString),
    NestedField.optional(3, "ts", TTimestamptz)))
  private val uuid = UUID.fromString("3b1f0c9e-2a57-4e0f-9d6b-7c41a8e2f5d0")
  private val t0 = 1700000000000L

  private def built(formatVersion: Int, updates: TableUpdate*): TableMetadata =
    TableMetadataBuilder.newTable(uuid, "file:///tmp/wh/ns/t", schema, t0, formatVersion)
      .flatMap(_.applyAll(updates)).flatMap(_.build())
      .fold(e => fail(e.message), identity)

  private def snap(id: Long, parent: Option[Long], seq: Long): Snapshot =
    Snapshot(id, parent, seq, t0 + id, s"manifests/$id.avro",
      Map("operation" -> "append"), Some(0))

  private def assertNodeRoundTrip(m: TableMetadata): Unit = {
    assert(JsonCodecs.metadataFromNode(JsonCodecs.metadataToNode(m)) === Right(m))
    assert(JsonCodecs.metadataFromJson(JsonCodecs.metadataToJson(m)) === Right(m))
  }

  test("v1 metadata (legacy schema/partition-spec fields) round-trips through the node codec") {
    val m = built(1,
      AddSpec(UnboundPartitionSpec(None, Seq(
        UnboundPartitionField(3, None, "ts_day", Transform.Day)))),
      SetDefaultSpec(-1))
    val node = JsonCodecs.metadataToNode(m)
    assert(node.hasNonNull("schema") && node.hasNonNull("partition-spec"))
    assertNodeRoundTrip(m)

    // a legacy document that carries ONLY the v1 single-value fields
    val legacy = JsonCodecs.parse(
      """{"format-version":1,
        |"table-uuid":"3b1f0c9e-2a57-4e0f-9d6b-7c41a8e2f5d0",
        |"location":"file:///tmp/wh/ns/t",
        |"last-updated-ms":1700000000000,
        |"last-column-id":3,
        |"schema":{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"id","required":true,"type":"int"},
        |  {"id":3,"name":"ts","required":false,"type":"timestamptz"}]},
        |"partition-spec":[{"source-id":3,"name":"ts_day","transform":"day"}]}""".stripMargin)
    val fromLegacy = JsonCodecs.metadataFromNode(legacy).fold(e => fail(e), identity)
    assert(JsonCodecs.metadataFromJson(JsonCodecs.render(legacy)) === Right(fromLegacy))
    assert(fromLegacy.partitionSpecs(0).fields.map(_.fieldId) === Seq(1000))
    assertNodeRoundTrip(fromLegacy)
  }

  test("v2 metadata with no snapshots round-trips through the node codec") {
    val m = built(2, SetProperties(Map("owner" -> "alice")))
    assert(m.formatVersion === 2 && m.snapshots.isEmpty && m.currentSnapshotId.isEmpty)
    assert(!JsonCodecs.metadataToNode(m).has("schema"))
    assertNodeRoundTrip(m)
  }

  test("v2 metadata with snapshots, branches and tags round-trips through the node codec") {
    val m = built(2,
      AddSpec(UnboundPartitionSpec(None, Seq(
        UnboundPartitionField(1, None, "id_bucket", Transform.Bucket(16))))),
      SetDefaultSpec(-1),
      AddSortOrder(SortOrder(1, Seq(SortField(2, Transform.Identity,
        SortDirection.Desc, NullOrder.NullsLast)))),
      SetDefaultSortOrder(-1),
      AddSnapshot(snap(10, None, 1)),
      SetSnapshotRef("main", 10, SnapshotRefType.Branch),
      AddSnapshot(snap(11, Some(10), 2)),
      SetSnapshotRef("main", 11, SnapshotRefType.Branch),
      SetSnapshotRef("audit", 10, SnapshotRefType.Branch, minSnapshotsToKeep = Some(2)),
      SetSnapshotRef("v1", 10, SnapshotRefType.Tag, maxRefAgeMs = Some(86400000L)))
    assert(m.refs.keySet === Set("main", "audit", "v1"))
    assert(m.snapshots.size === 2)
    assertNodeRoundTrip(m
      .copy(metadataLog = Seq(MetadataLogEntry("file:///tmp/wh/ns/t/metadata/a.json", t0))))
  }

  test("node decoders reject a missing or non-object metadata node") {
    assert(JsonCodecs.metadataFromNode(null).isLeft)
    assert(JsonCodecs.metadataFromNode(JsonCodecs.parse("[1]")).isLeft)
    assert(ViewJsonCodecs.metadataFromNode(null).isLeft)
    assert(ViewJsonCodecs.metadataFromNode(JsonCodecs.parse("\"v\"")).isLeft)
  }

  test("view metadata round-trips through the node codec") {
    val version = ViewVersion(1, t0, 0, Map("operation" -> "create"),
      Seq(ViewRepresentation("spark", "SELECT id FROM ns.t")), Some("cat"), Seq("ns"))
    val v = ViewMetadata.newView(uuid, "file:///tmp/wh/ns/v", schema, version,
      Map("team" -> "data"), t0).fold(e => fail(e), identity)
    assert(ViewJsonCodecs.metadataFromNode(ViewJsonCodecs.metadataToNode(v)) === Right(v))
  }
}
