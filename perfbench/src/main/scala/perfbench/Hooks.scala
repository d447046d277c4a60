package perfbench

import graft.catalog._
import graft.core._
import graft.server.CatalogServer
import graft.service.{CatalogEvent, CloudEventBackend, QueueingEventPublisher}

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** One store call as the traced run sees it. */
final case class StoreCall(kind: String, table: String, start: Long, end: Long,
    ok: Boolean, code: Int) {
  def ms: Double = (end - start) / 1e6
}

/** `CatalogStore` decorator: times every call into the `catalog` layer
  * and records it as a span. Behaviour is the wrapped store's. */
final class TimedStore(inner: CatalogStore, trace: Trace) extends CatalogStore {
  val calls = new ConcurrentLinkedQueue[StoreCall]()
  /** Successful mutations, counted per table changed. */
  val mutations = new LongAdder

  private def rec[A](kind: String, table: String, mutates: Boolean = false,
      tables: Int = 1)(f: => Either[CatalogError, A]): Either[CatalogError, A] = {
    val t0 = System.nanoTime()
    val r = try f catch { case e: Throwable =>
      calls.add(StoreCall(kind, table, t0, System.nanoTime(), ok = false, 500)); throw e }
    val t1 = System.nanoTime()
    trace.hook {
      calls.add(StoreCall(kind, table, t0, t1, r.isRight, r.left.toOption.fold(200)(_.code)))
      if (mutates && r.isRight) mutations.add(tables)
    }
    trace.add(kind, "catalog", t0, t1, table = table)
    r
  }
  private def plain[A](kind: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    trace.hook(calls.add(StoreCall(kind, "", t0, t1, ok = true, 200)))
    trace.add(kind, "catalog", t0, t1)
    r
  }
  private def name(i: TableIdent): String = i.name

  def createWarehouse(projectId: UUID, name: String, location: String,
      properties: Map[String, String]) =
    rec("createWarehouse", "")(inner.createWarehouse(projectId, name, location, properties))
  def listWarehouses(projectId: UUID, includeInactive: Boolean) =
    plain("listWarehouses")(inner.listWarehouses(projectId, includeInactive))
  def getWarehouse(id: UUID) = rec("getWarehouse", "")(inner.getWarehouse(id))
  def warehouseByName(projectId: UUID, name: String) =
    rec("warehouseByName", "")(inner.warehouseByName(projectId, name))
  def deleteWarehouse(id: UUID) = rec("deleteWarehouse", "")(inner.deleteWarehouse(id))
  def renameWarehouse(id: UUID, newName: String) =
    rec("renameWarehouse", "")(inner.renameWarehouse(id, newName))
  def setWarehouseActive(id: UUID, active: Boolean) =
    rec("setWarehouseActive", "")(inner.setWarehouseActive(id, active))
  def setWarehouseProperties(id: UUID, props: Map[String, String]) =
    rec("setWarehouseProperties", "")(inner.setWarehouseProperties(id, props))
  def listProjects() = plain("listProjects")(inner.listProjects())
  def createNamespace(wh: UUID, name: Seq[String], props: Map[String, String]) =
    rec("createNamespace", "")(inner.createNamespace(wh, name, props))
  def listNamespaces(wh: UUID, parent: Option[Seq[String]]) =
    rec("listNamespaces", "")(inner.listNamespaces(wh, parent))
  def getNamespace(wh: UUID, name: Seq[String]) =
    rec("getNamespace", "")(inner.getNamespace(wh, name))
  def namespaceExists(wh: UUID, name: Seq[String]) =
    rec("namespaceExists", "")(inner.namespaceExists(wh, name))
  def dropNamespace(wh: UUID, name: Seq[String]) =
    rec("dropNamespace", "")(inner.dropNamespace(wh, name))
  def updateNamespaceProperties(wh: UUID, name: Seq[String], removals: Seq[String],
      updates: Map[String, String]) =
    rec("updateNamespaceProperties", "")(
      inner.updateNamespaceProperties(wh, name, removals, updates))
  def createTable(wh: UUID, ns: Seq[String], name: String, schema: Schema,
      spec: UnboundPartitionSpec, sortOrder: Option[SortOrder], props: Map[String, String],
      stageCreate: Boolean, timestampMs: Long, formatVersion: Int) =
    rec("createTable", name, mutates = true)(inner.createTable(wh, ns, name, schema, spec,
      sortOrder, props, stageCreate, timestampMs, formatVersion))
  def registerTable(wh: UUID, ns: Seq[String], name: String, metadata: TableMetadata,
      metadataLocation: String) =
    rec("registerTable", name, mutates = true)(
      inner.registerTable(wh, ns, name, metadata, metadataLocation))
  def loadTable(wh: UUID, ident: TableIdent) =
    rec("loadTable", name(ident))(inner.loadTable(wh, ident))
  def tableExists(wh: UUID, ident: TableIdent) =
    rec("tableExists", name(ident))(inner.tableExists(wh, ident))
  def listTables(wh: UUID, ns: Seq[String]) = rec("listTables", "")(inner.listTables(wh, ns))
  def dropTable(wh: UUID, ident: TableIdent) =
    rec("dropTable", name(ident), mutates = true)(inner.dropTable(wh, ident))
  def renameTable(wh: UUID, source: TableIdent, dest: TableIdent) =
    rec("renameTable", name(source), mutates = true)(inner.renameTable(wh, source, dest))
  override def commitTable(wh: UUID, ident: TableIdent,
      requirements: Seq[TableRequirement], updates: Seq[TableUpdate], timestampMs: Long) =
    rec("commitTable", name(ident), mutates = true)(
      inner.commitTable(wh, ident, requirements, updates, timestampMs))
  def commitTransaction(wh: UUID, changes: Seq[TableChange], timestampMs: Long) =
    rec("commitTransaction", changes.headOption.fold("")(c => name(c.ident)),
      mutates = true, tables = changes.size)(
      inner.commitTransaction(wh, changes, timestampMs))
  def tableByLocation(wh: UUID, location: String) =
    rec("tableByLocation", "")(inner.tableByLocation(wh, location))
  def createView(wh: UUID, ns: Seq[String], name: String, schema: Schema,
      version: ViewVersion, props: Map[String, String], timestampMs: Long) =
    rec("createView", name, mutates = true)(
      inner.createView(wh, ns, name, schema, version, props, timestampMs))
  def loadView(wh: UUID, ident: TableIdent) = rec("loadView", name(ident))(inner.loadView(wh, ident))
  def viewExists(wh: UUID, ident: TableIdent) =
    rec("viewExists", name(ident))(inner.viewExists(wh, ident))
  def listViews(wh: UUID, ns: Seq[String]) = rec("listViews", "")(inner.listViews(wh, ns))
  def dropView(wh: UUID, ident: TableIdent) =
    rec("dropView", name(ident), mutates = true)(inner.dropView(wh, ident))
  def renameView(wh: UUID, source: TableIdent, dest: TableIdent) =
    rec("renameView", name(source), mutates = true)(inner.renameView(wh, source, dest))
  def commitView(wh: UUID, ident: TableIdent, requirements: Seq[ViewRequirement],
      updates: Seq[ViewUpdate], timestampMs: Long) =
    rec("commitView", name(ident), mutates = true)(
      inner.commitView(wh, ident, requirements, updates, timestampMs))

  def isLoad(c: StoreCall): Boolean = c.kind == "loadTable"
  def isCommit(c: StoreCall): Boolean = c.kind == "commitTable" || c.kind == "commitTransaction"
  def snapshot: Seq[StoreCall] = calls.asScala.toSeq
}

/** Event sink behind the `QueueingEventPublisher` that only counts. */
final class CountingBackend extends CloudEventBackend {
  val received = new AtomicLong(0)
  def publish(event: CatalogEvent): Unit = received.incrementAndGet()
}

/** The durable catalog as `ServerMain.build` assembles it when
  * `GRAFT_DB_PATH` is set: embedded-Derby JDBC store, loopback
  * `CatalogServer`, event publisher. The traced run wraps the store and
  * counts events; the untraced run uses the store and the no-op sink as
  * they are. */
final class Catalog(root: Path, traced: Boolean, trace: Trace) extends AutoCloseable {
  val project: UUID = new UUID(0L, 0L)
  private val dbDir = root.resolve("derby")
  private val jdbc = JdbcCatalogStore.embedded(dbDir)
  val timed: Option[TimedStore] = if (traced) Some(new TimedStore(jdbc, trace)) else None
  val store: CatalogStore = timed.getOrElse(jdbc)
  val events: Option[CountingBackend] = if (traced) Some(new CountingBackend) else None
  private val publisher = new QueueingEventPublisher(events.getOrElse(CloudEventBackend.Noop))
  val server: CatalogServer = new CatalogServer(store, project, port = 0,
    events = publisher).start()
  val warehouseDir: Path = Files.createDirectories(root.resolve("warehouse"))
  val warehouse: Warehouse = jdbc.createWarehouse(project, "wh",
    warehouseDir.toUri.toString.stripSuffix("/")).fold(e => throw e, identity)
  def baseUri: String = server.baseUri

  /** Stops the server, then drains the publisher so every enqueued event
    * has reached the sink. */
  private var open = true
  def close(): Unit = if (open) {
    open = false
    server.stop()
    publisher.close()
  }

  /** Shuts the embedded database down (Derby signals success by throwing). */
  def shutdownDb(): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:${dbDir.toAbsolutePath};shutdown=true")
    catch { case _: java.sql.SQLException => () }
}

/** Files under the warehouse, by kind, for bytes-per-commit accounting. */
object WarehouseWalk {
  def list(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def kind(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    if (name.contains(".metadata.json")) "metadata"
    else if (name.endsWith(".avro")) "avro"
    else if (name.endsWith(".json") || name.endsWith(".json.gz")) "manifest"
    else if (name.endsWith(".parquet")) "data"
    else "other"
  }

  /** Count and bytes of files present in `after` but not in `before`. */
  def added(before: Map[String, Long], after: Map[String, Long]): Map[String, (Long, Long)] =
    after.iterator.filterNot { case (p, _) => before.contains(p) }
      .toSeq.groupBy { case (p, _) => kind(p) }
      .map { case (k, fs) => k -> (fs.size.toLong, fs.map(_._2).sum) }
}

/** End-of-run probes of the `core` codecs on one table's metadata. */
object CoreProbes {
  final case class Result(encodeMs: Double, decodeMs: Double, buildMs: Double, jsonBytes: Long)

  def run(m: TableMetadata, trace: Trace, reps: Int = 7): Result = {
    def median(f: () => Unit, name: String): Double = Samples.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f(); val t1 = System.nanoTime()
      trace.add(name, "core", t0, t1)
      (t1 - t0) / 1e6
    })
    val json = JsonCodecs.metadataToJson(m)
    val parent = m.currentSnapshot
    val next = Snapshot(
      snapshotId = Long.MaxValue - 7,
      parentSnapshotId = parent.map(_.snapshotId),
      sequenceNumber = m.lastSequenceNumber + 1,
      timestampMs = m.lastUpdatedMs + 1,
      manifestList = s"${m.location}/metadata/probe.json",
      summary = Map("operation" -> "append"),
      schemaId = Some(m.currentSchemaId))
    val append = Seq(TableUpdate.AddSnapshot(next),
      TableUpdate.SetSnapshotRef(TableMetadata.MainBranch, next.snapshotId, SnapshotRefType.Branch))
    val enc = median(() => JsonCodecs.metadataToJson(m), "encode")
    val dec = median(() => JsonCodecs.metadataFromJson(json).fold(e => sys.error(e), identity),
      "decode")
    val bld = median(() => TableMetadataBuilder.from(m).applyAll(append)
      .flatMap(_.build()).fold(e => throw e, identity), "build")
    Result(enc, dec, bld, json.getBytes("UTF-8").length.toLong)
  }
}
