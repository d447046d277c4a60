package graft.server

import graft.catalog._
import graft.core._
import graft.engine.RestCatalogClient
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.UUID

/** The load and commit responses embed the metadata tree directly, and
  * the client decodes it from the parsed body: the wire payload is the
  * one the string round trip produced, and a client load returns exactly
  * the store's metadata. */
class MetadataWireSpec extends AnyFunSuite {
  import IType._

  private val t0 = 1700000000000L
  private val schema = Schema(0, Seq(
    NestedField.required(1, "id", TLong),
    NestedField.optional(2, "s", TString)))

  private def metadataWithHistory(): TableMetadata = {
    val snaps = (1L to 3L).map(i => TableUpdate.AddSnapshot(Snapshot(i,
      if (i == 1) None else Some(i - 1), i, t0 + i, s"manifests/$i.avro",
      Map("operation" -> "append", "added-records" -> s"${i * 10}"), Some(0))))
    TableMetadataBuilder.newTable(UUID.randomUUID(), "file:///tmp/wh/ns/t", schema, t0)
      .flatMap(_.applyAll(snaps ++ Seq(
        TableUpdate.SetSnapshotRef("main", 3L, SnapshotRefType.Branch),
        TableUpdate.SetSnapshotRef("v1", 1L, SnapshotRefType.Tag),
        TableUpdate.SetProperties(Map("k" -> "v \"quoted\" é")))))
      .flatMap(_.build())
      .fold(e => fail(e.message), identity)
  }

  /** The response shape as it was built before: the metadata encoded to
    * its pretty string and parsed back into the response tree. */
  private def viaString(location: Option[String], metadataJson: String,
      config: Option[Map[String, String]]): String = {
    val o = JsonCodecs.mapperRef.createObjectNode()
    location.foreach(o.put("metadata-location", _))
    o.set[com.fasterxml.jackson.databind.JsonNode]("metadata", JsonCodecs.parse(metadataJson))
    config.foreach { cfg =>
      val c = JsonCodecs.mapperRef.createObjectNode()
      cfg.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v) }
      o.set[com.fasterxml.jackson.databind.JsonNode]("config", c)
    }
    RestCodecs.render(o)
  }

  test("loadTableResponse and commitTableResponse carry the same JSON as the string round trip") {
    val m = metadataWithHistory()
    val rec = TableRecord(m.tableUuid, Seq("ns"), "t", m,
      Some("file:///tmp/wh/ns/t/metadata/x.gz.metadata.json"), m.location)
    val cfg = Map("s3.region" -> "eu-west-1", "prefix" -> "p")

    val load = RestCodecs.loadTableResponse(rec, cfg)
    val loadBefore = viaString(rec.metadataLocation, JsonCodecs.metadataToJson(m), Some(cfg))
    assert(JsonCodecs.parse(load) === JsonCodecs.parse(loadBefore))
    assert(load === loadBefore)

    val staged = rec.copy(metadataLocation = None)
    assert(JsonCodecs.parse(RestCodecs.loadTableResponse(staged)) ===
      JsonCodecs.parse(viaString(None, JsonCodecs.metadataToJson(m), Some(Map.empty))))

    val commit = RestCodecs.commitTableResponse(rec)
    val commitBefore = viaString(rec.metadataLocation, JsonCodecs.metadataToJson(m), None)
    assert(JsonCodecs.parse(commit) === JsonCodecs.parse(commitBefore))
    assert(commit === commitBefore)
  }

  test("loadViewResponse carries the same JSON as the string round trip") {
    val version = ViewVersion(1, t0, 0, Map("operation" -> "create"),
      Seq(ViewRepresentation("spark", "SELECT id FROM ns.t")), None, Seq("ns"))
    val v = ViewMetadata.newView(UUID.randomUUID(), "file:///tmp/wh/ns/v", schema,
      version, Map("team" -> "data"), t0).fold(e => fail(e), identity)
    val rec = ViewRecord(v.viewUuid, Seq("ns"), "v", v,
      "file:///tmp/wh/ns/v/metadata/y.gz.metadata.json", v.location)
    val resp = RestCodecs.loadViewResponse(rec)
    val before = viaString(Some(rec.metadataLocation), ViewJsonCodecs.metadataToJson(v), None)
    assert(JsonCodecs.parse(resp) === JsonCodecs.parse(before))
    assert(resp === before)
  }

  test("RestCatalogClient loads and commits return the JDBC store's metadata") {
    val store = JdbcCatalogStore.embedded(
      Files.createTempDirectory("graft-wire-db").resolve("db"))
    val project = UUID.randomUUID()
    val whLoc = Files.createTempDirectory("graft-wire-wh").toUri.toString.stripSuffix("/")
    val wh = store.createWarehouse(project, "wire", whLoc)
      .fold(e => fail(e.message), identity).id
    val server = new CatalogServer(store, project).start()
    try {
      val client = new RestCatalogClient(server.baseUri)
      val prefix = wh.toString
      val ident = TableIdent(Seq("ns"), "t")
      client.createNamespace(prefix, Seq("ns"))
      client.createTable(prefix, ident, schema, props = Map("owner" -> "a"))

      def storeRec(): TableRecord =
        store.loadTable(wh, ident).fold(e => fail(e.message), identity)

      var last: Option[Long] = None
      for (i <- 1L to 3L) {
        val committed = client.commitTable(prefix, ident,
          Seq(TableRequirement.AssertRefSnapshotId("main", last)),
          Seq(TableUpdate.AddSnapshot(Snapshot(i, last, i, t0 + i,
            s"manifests/$i.avro", Map("operation" -> "append"), Some(0))),
            TableUpdate.SetSnapshotRef("main", i, SnapshotRefType.Branch)))
        assert(committed.metadata === storeRec().metadata)
        assert(committed.metadataLocation === storeRec().metadataLocation)
        last = Some(i)
      }

      val loaded = client.loadTable(prefix, ident)
      val rec = storeRec()
      assert(loaded.metadata === rec.metadata)
      assert(loaded.metadataLocation === rec.metadataLocation)
      assert(loaded.metadata.metadataLog.size === 3)
      assert(loaded.metadata.currentSnapshotId === Some(3L))

      val version = ViewVersion(1, t0, 0, Map("operation" -> "create"),
        Seq(ViewRepresentation("spark", "SELECT id FROM ns.t")), None, Seq("ns"))
      client.createView(prefix, TableIdent(Seq("ns"), "v"), schema, version, Map.empty)
      assert(client.loadView(prefix, TableIdent(Seq("ns"), "v")).metadata ===
        store.loadView(wh, TableIdent(Seq("ns"), "v")).fold(e => fail(e.message), identity)
          .metadata)
    } finally server.stop()
  }
}
