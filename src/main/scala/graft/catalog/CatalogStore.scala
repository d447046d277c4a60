package graft.catalog

import graft.core._

import java.util.UUID

/** Catalog-store error carrying the REST error contract (status code +
  * machine-readable type), mirroring the reference's uniform
  * IcebergErrorResponse (/root/reference/crates/iceberg-ext/src/catalog/
  * rest/error.rs).
  */
final case class CatalogError(code: Int, errorType: String, message: String)
    extends RuntimeException(s"$errorType ($code): $message")

object CatalogError {
  def notFound(tpe: String, msg: String): CatalogError = CatalogError(404, tpe, msg)
  def conflict(tpe: String, msg: String): CatalogError = CatalogError(409, tpe, msg)
  def badRequest(msg: String): CatalogError = CatalogError(400, "ValidationError", msg)
  def fromCommit(e: CommitError): CatalogError =
    if (e.errorType == "ValidationError") badRequest(e.message)
    else conflict(e.errorType, e.message)
}

/** Warehouse = tenant root (reference service/mod.rs:162; status gating
  * per migrations/02_warehouse.sql). `location` is the storage root all
  * table locations are assigned under. */
final case class Warehouse(
    id: UUID,
    projectId: UUID,
    name: String,
    location: String,
    active: Boolean,
    properties: Map[String, String] = Map.empty)

final case class NamespaceRecord(
    id: UUID,
    name: Seq[String],
    properties: Map[String, String])

/** `metadataLocation == None` marks a STAGED table (reference
  * migrations/05_table.sql: "metadata_location NULL => staged"): it is
  * invisible to load/list/exists, overwritable by the next create, and
  * finalized by its first commit. */
final case class TableRecord(
    tableId: UUID,
    namespace: Seq[String],
    name: String,
    metadata: TableMetadata,
    metadataLocation: Option[String],
    tableLocation: String) {
  def staged: Boolean = metadataLocation.isEmpty
}

final case class TableIdent(namespace: Seq[String], name: String)

/** A catalog view row — the view-side twin of [[TableRecord]]. Views
  * are metadata-only (no data files): the record is the authoritative
  * copy and a gzip'd view-metadata.json mirror lands under the view's
  * server-assigned location, exactly like tables. BEYOND the reference,
  * which 501s every view mutation (catalog/views.rs:84-189). */
final case class ViewRecord(
    viewId: UUID,
    namespace: Seq[String],
    name: String,
    metadata: ViewMetadata,
    metadataLocation: String,
    viewLocation: String)

final case class PropertyUpdateResult(
    updated: Seq[String], removed: Seq[String], missing: Seq[String])

/** One table's change set inside a (multi-table) commit. */
final case class TableChange(
    ident: TableIdent,
    requirements: Seq[TableRequirement],
    updates: Seq[TableUpdate])

/** The catalog contract (reference `Catalog` trait, service/catalog.rs:
  * 104-305, re-expressed): every namespace/table operation is gated on an
  * ACTIVE warehouse (inactive ⇒ 404, like the `w.status = 'active'` join
  * on every reference query, postgres/table.rs:47), and commit
  * requirements are asserted against current metadata INSIDE the commit
  * critical section so optimistic-concurrency losers observe a 409.
  */
/** S3 access credential vended to the signer (reference §1.4: stored
  * encrypted; encryption is a backend concern behind this trait). */
final case class S3Credential(accessKeyId: String, secretAccessKey: String)

/** Pluggable secret storage (reference `SecretStore` trait,
  * service/secrets.rs; Postgres pgcrypto impl there). */
trait SecretStore {
  def putS3Credential(warehouseId: UUID, cred: S3Credential): Unit
  def getS3Credential(warehouseId: UUID): Option[S3Credential]
  def deleteS3Credential(warehouseId: UUID): Unit
}

final class InMemorySecretStore extends SecretStore {
  private val secrets = new java.util.concurrent.ConcurrentHashMap[UUID, S3Credential]()
  def putS3Credential(warehouseId: UUID, cred: S3Credential): Unit =
    secrets.put(warehouseId, cred)
  def getS3Credential(warehouseId: UUID): Option[S3Credential] =
    Option(secrets.get(warehouseId))
  def deleteS3Credential(warehouseId: UUID): Unit = secrets.remove(warehouseId)
}

trait CatalogStore {
  // ---- management surface (§2.2)
  def createWarehouse(projectId: UUID, name: String, location: String,
      properties: Map[String, String] = Map.empty): Either[CatalogError, Warehouse]
  def listWarehouses(projectId: UUID, includeInactive: Boolean = false): Seq[Warehouse]
  def getWarehouse(id: UUID): Either[CatalogError, Warehouse]
  def warehouseByName(projectId: UUID, name: String): Either[CatalogError, Warehouse]
  def deleteWarehouse(id: UUID): Either[CatalogError, Unit]
  def renameWarehouse(id: UUID, newName: String): Either[CatalogError, Warehouse]
  def setWarehouseActive(id: UUID, active: Boolean): Either[CatalogError, Warehouse]
  /** Merge properties (storage-profile updates); caller enforces
    * immutability rules. */
  def setWarehouseProperties(id: UUID, props: Map[String, String])
      : Either[CatalogError, Warehouse]
  def listProjects(): Seq[UUID]

  // ---- namespaces (§2.1 #2-7)
  def createNamespace(wh: UUID, name: Seq[String], props: Map[String, String])
      : Either[CatalogError, NamespaceRecord]
  def listNamespaces(wh: UUID, parent: Option[Seq[String]]): Either[CatalogError, Seq[Seq[String]]]
  def getNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, NamespaceRecord]
  def namespaceExists(wh: UUID, name: Seq[String]): Either[CatalogError, Boolean]
  def dropNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, Unit]
  def updateNamespaceProperties(
      wh: UUID, name: Seq[String],
      removals: Seq[String], updates: Map[String, String])
      : Either[CatalogError, PropertyUpdateResult]

  // ---- tables (§2.1 #8-16)
  def createTable(
      wh: UUID,
      ns: Seq[String],
      name: String,
      schema: Schema,
      spec: UnboundPartitionSpec,
      sortOrder: Option[SortOrder],
      props: Map[String, String],
      stageCreate: Boolean,
      timestampMs: Long,
      formatVersion: Int = 2): Either[CatalogError, TableRecord]
  /** Register an EXISTING Iceberg table from its already-validated
    * metadata + metadata file location — the migration path (BEYOND
    * the reference, which 501s register, catalog/tables.rs:211-225;
    * real users moving tables between catalogs hit it immediately).
    * The table keeps its original uuid, location, and metadata file
    * (nothing is rewritten); registering a uuid already present in
    * the warehouse is a 409 — two catalog rows commit-racing one
    * metadata tree would corrupt it. */
  def registerTable(wh: UUID, ns: Seq[String], name: String,
      metadata: TableMetadata, metadataLocation: String)
      : Either[CatalogError, TableRecord]
  def loadTable(wh: UUID, ident: TableIdent): Either[CatalogError, TableRecord]
  def tableExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean]
  def listTables(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]]
  def dropTable(wh: UUID, ident: TableIdent): Either[CatalogError, Unit]
  def renameTable(wh: UUID, source: TableIdent, dest: TableIdent): Either[CatalogError, Unit]

  /** Single-table commit = 1-element transaction (reference
    * catalog/tables.rs:317-510 delegates exactly this way). */
  def commitTable(
      wh: UUID, ident: TableIdent,
      requirements: Seq[TableRequirement], updates: Seq[TableUpdate],
      timestampMs: Long): Either[CatalogError, TableRecord] =
    commitTransaction(wh, Seq(TableChange(ident, requirements, updates)), timestampMs)
      .map(_.head)

  /** Multi-table ATOMIC commit: all requirements asserted against current
    * metadata inside one critical section, then all updates applied and
    * swapped together, or nothing at all. */
  def commitTransaction(wh: UUID, changes: Seq[TableChange], timestampMs: Long)
      : Either[CatalogError, Seq[TableRecord]]

  /** Reverse lookup for the S3 signer: the table whose location is a
    * prefix of `location` (longest match; staged excluded) — reference
    * LIKE-prefix query postgres/table.rs:430-505. */
  def tableByLocation(wh: UUID, location: String): Either[CatalogError, TableRecord]

  // -- views (BEYOND the reference: catalog/views.rs 501s all of these).
  // Views share the namespace's name space with tables: a create 409s
  // against an existing table OR view of the same name, matching the
  // REST spec's create-view conflict contract.
  def createView(wh: UUID, ns: Seq[String], name: String, schema: Schema,
      version: ViewVersion, props: Map[String, String], timestampMs: Long)
      : Either[CatalogError, ViewRecord]
  def loadView(wh: UUID, ident: TableIdent): Either[CatalogError, ViewRecord]
  def viewExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean]
  def listViews(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]]
  def dropView(wh: UUID, ident: TableIdent): Either[CatalogError, Unit]
  def renameView(wh: UUID, source: TableIdent, dest: TableIdent)
      : Either[CatalogError, Unit]
  /** View commit: requirements asserted against current metadata inside
    * the critical section (losers 409), updates folded via
    * [[ViewUpdate.applyAll]], new metadata mirror written, row swapped. */
  def commitView(wh: UUID, ident: TableIdent,
      requirements: Seq[ViewRequirement], updates: Seq[ViewUpdate],
      timestampMs: Long): Either[CatalogError, ViewRecord]
}

/** In-memory store for dev/tests. One global monitor plays the role of
  * the reference's Postgres transaction (its single serialization
  * point, README.md:21) — commits are serializable, asserts run under
  * the same lock that performs the swap. A production backend implements
  * the same trait over a JDBC store with row-locking transactions and a
  * batched multi-row UPDATE (reference postgres/table.rs:801-849); the
  * server layer is stateless either way and scales horizontally.
  */
final class InMemoryCatalogStore extends CatalogStore {
  import CatalogError._

  private val lock = new Object
  private var warehouses = Map.empty[UUID, Warehouse]
  /** (warehouse, namespace path) → record */
  private var namespaces = Map.empty[(UUID, Seq[String]), NamespaceRecord]
  /** (warehouse, ident) → record */
  private var tables = Map.empty[(UUID, TableIdent), TableRecord]
  /** (warehouse, ident) → view record (same ident space as tables) */
  private var views = Map.empty[(UUID, TableIdent), ViewRecord]

  /** Reserved namespaces (reference catalog/config.rs:15). */
  private val ReservedNamespaces = Set("system", "examples")
  /** Namespaces are single-level (reference MAX_NAMESPACE_DEPTH=1,
    * catalog/namespace.rs:19). */
  private val MaxNamespaceDepth = 1

  // ------------------------------------------------------- management
  def createWarehouse(projectId: UUID, name: String, location: String,
      properties: Map[String, String]): Either[CatalogError, Warehouse] =
    lock.synchronized {
      if (name.trim.isEmpty) Left(badRequest("warehouse name cannot be empty"))
      else if (warehouses.values.exists(w => w.projectId == projectId && w.name == name))
        Left(conflict("WarehouseAlreadyExists",
          s"warehouse $name already exists in project $projectId"))
      else {
        val w = Warehouse(UUID.randomUUID(), projectId, name,
          location.stripSuffix("/"), active = true, properties)
        warehouses += w.id -> w
        Right(w)
      }
    }

  def listWarehouses(projectId: UUID, includeInactive: Boolean): Seq[Warehouse] =
    lock.synchronized {
      warehouses.values.toSeq
        .filter(w => w.projectId == projectId && (includeInactive || w.active))
        .sortBy(_.name)
    }

  def getWarehouse(id: UUID): Either[CatalogError, Warehouse] = lock.synchronized {
    warehouses.get(id).filter(_.active)
      .toRight(notFound("WarehouseNotFound", s"warehouse $id not found"))
  }

  def warehouseByName(projectId: UUID, name: String): Either[CatalogError, Warehouse] =
    lock.synchronized {
      warehouses.values
        .find(w => w.projectId == projectId && w.name == name && w.active)
        .toRight(notFound("WarehouseNotFound", s"warehouse $name not found"))
    }

  def deleteWarehouse(id: UUID): Either[CatalogError, Unit] = lock.synchronized {
    if (!warehouses.contains(id))
      Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
    else {
      warehouses -= id
      namespaces = namespaces.filterNot(_._1._1 == id)
      tables = tables.filterNot(_._1._1 == id)
      Right(())
    }
  }

  def renameWarehouse(id: UUID, newName: String): Either[CatalogError, Warehouse] =
    lock.synchronized {
      warehouses.get(id) match {
        case None => Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
        case Some(w) =>
          if (newName.trim.isEmpty) Left(badRequest("warehouse name cannot be empty"))
          else if (warehouses.values.exists(o =>
            o.id != id && o.projectId == w.projectId && o.name == newName))
            Left(conflict("WarehouseAlreadyExists", s"warehouse $newName already exists"))
          else {
            val renamed = w.copy(name = newName)
            warehouses += id -> renamed
            Right(renamed)
          }
      }
    }

  def setWarehouseActive(id: UUID, active: Boolean): Either[CatalogError, Warehouse] =
    lock.synchronized {
      warehouses.get(id) match {
        case None => Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
        case Some(w) =>
          val flipped = w.copy(active = active)
          warehouses += id -> flipped
          Right(flipped)
      }
    }

  def setWarehouseProperties(id: UUID, props: Map[String, String])
      : Either[CatalogError, Warehouse] = lock.synchronized {
    warehouses.get(id) match {
      case None => Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
      case Some(w) =>
        val updated = w.copy(properties = w.properties ++ props)
        warehouses += id -> updated
        Right(updated)
    }
  }

  def listProjects(): Seq[UUID] = lock.synchronized {
    warehouses.values.map(_.projectId).toSeq.distinct.sortBy(_.toString)
  }

  /** Every catalog op starts here: inactive or unknown warehouse ⇒ 404. */
  private def activeWarehouse(id: UUID): Either[CatalogError, Warehouse] =
    warehouses.get(id).filter(_.active)
      .toRight(notFound("WarehouseNotFound", s"warehouse $id not found"))

  // ------------------------------------------------------- namespaces
  def createNamespace(wh: UUID, name: Seq[String], props: Map[String, String])
      : Either[CatalogError, NamespaceRecord] = lock.synchronized {
    for {
      _ <- activeWarehouse(wh)
      _ <- validateNamespaceName(name)
      _ <- validateNamespaceProps(props.keys)
      _ <- if (namespaces.contains((wh, name)))
        Left(conflict("NamespaceAlreadyExists",
          s"namespace ${name.mkString(".")} already exists"))
      else Right(())
    } yield {
      val rec = NamespaceRecord(UUID.randomUUID(), name, props)
      namespaces += (wh, name) -> rec
      rec
    }
  }

  private def validateNamespaceName(name: Seq[String]): Either[CatalogError, Unit] =
    if (name.isEmpty || name.exists(_.isEmpty))
      Left(badRequest("namespace parts cannot be empty"))
    else if (name.size > MaxNamespaceDepth)
      Left(badRequest(s"namespace depth is limited to $MaxNamespaceDepth"))
    else if (ReservedNamespaces.contains(name.head))
      Left(badRequest(s"namespace ${name.head} is reserved"))
    else Right(())

  /** Property keys must be lowercase; `location` is catalog-managed
    * (reference catalog/namespace.rs:16-19,252-302). */
  private def validateNamespaceProps(keys: Iterable[String]): Either[CatalogError, Unit] =
    keys.find(k => k != k.toLowerCase) match {
      case Some(k) => Left(badRequest(s"property key must be lowercase: $k"))
      case None =>
        if (keys.exists(_ == "location"))
          Left(badRequest("namespace property `location` is catalog-managed"))
        else Right(())
    }

  def listNamespaces(wh: UUID, parent: Option[Seq[String]])
      : Either[CatalogError, Seq[Seq[String]]] = lock.synchronized {
    activeWarehouse(wh).flatMap { _ =>
      parent match {
        case None =>
          Right(namespaces.keys.collect { case (`wh`, n) if n.size == 1 => n }
            .toSeq.sortBy(_.mkString(".")))
        case Some(p) =>
          // one level under parent (array-slice match in the reference,
          // postgres/namespace.rs:52-135); must 404 on unknown parent
          if (!namespaces.contains((wh, p)))
            Left(notFound("NamespaceNotFound", s"namespace ${p.mkString(".")} not found"))
          else Right(namespaces.keys.collect {
            case (`wh`, n) if n.size == p.size + 1 && n.startsWith(p) => n
          }.toSeq.sortBy(_.mkString(".")))
      }
    }
  }

  def getNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, NamespaceRecord] =
    lock.synchronized {
      activeWarehouse(wh).flatMap(_ => namespaces.get((wh, name))
        .toRight(notFound("NamespaceNotFound", s"namespace ${name.mkString(".")} not found")))
    }

  def namespaceExists(wh: UUID, name: Seq[String]): Either[CatalogError, Boolean] =
    lock.synchronized {
      activeWarehouse(wh).map(_ => namespaces.contains((wh, name)))
    }

  def dropNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, Unit] =
    lock.synchronized {
      activeWarehouse(wh).flatMap { _ =>
        if (!namespaces.contains((wh, name)))
          Left(notFound("NamespaceNotFound", s"namespace ${name.mkString(".")} not found"))
        else if (tables.keys.exists { case (w, id) => w == wh && id.namespace == name } ||
                 views.keys.exists { case (w, id) => w == wh && id.namespace == name })
          // FK-violation behavior (reference postgres/namespace.rs:243-297)
          Left(conflict("NamespaceNotEmpty",
            s"namespace ${name.mkString(".")} is not empty"))
        else { namespaces -= ((wh, name)); Right(()) }
      }
    }

  def updateNamespaceProperties(
      wh: UUID, name: Seq[String],
      removals: Seq[String], updates: Map[String, String])
      : Either[CatalogError, PropertyUpdateResult] = lock.synchronized {
    for {
      _ <- activeWarehouse(wh)
      rec <- namespaces.get((wh, name))
        .toRight(notFound("NamespaceNotFound", s"namespace ${name.mkString(".")} not found"))
      _ <- validateNamespaceProps(updates.keys)
    } yield {
      val missing = removals.filterNot(rec.properties.contains)
      val removed = removals.filter(rec.properties.contains)
      val next = rec.properties -- removals ++ updates
      namespaces += (wh, name) -> rec.copy(properties = next)
      PropertyUpdateResult(
        updated = updates.keys.toSeq.sorted, removed = removed, missing = missing)
    }
  }

  // ----------------------------------------------------------- tables
  def createTable(
      wh: UUID, ns: Seq[String], name: String,
      schema: Schema, spec: UnboundPartitionSpec, sortOrder: Option[SortOrder],
      props: Map[String, String], stageCreate: Boolean, timestampMs: Long,
      formatVersion: Int): Either[CatalogError, TableRecord] = lock.synchronized {
    for {
      warehouse <- activeWarehouse(wh)
      nsRec <- namespaces.get((wh, ns))
        .toRight(notFound("NamespaceNotFound", s"namespace ${ns.mkString(".")} not found"))
      ident = TableIdent(ns, name)
      // existing non-staged row: 409. Existing STAGED row: idempotent
      // overwrite (reference ON CONFLICT ... DO UPDATE WHERE
      // metadata_location IS NULL, postgres/table.rs:226-259).
      _ <- tables.get((wh, ident)) match {
        case Some(existing) if !existing.staged =>
          Left(conflict("TableAlreadyExists", s"table $name already exists"))
        case _ => Right(())
      }
      _ <- if (views.contains((wh, ident)))
        Left(conflict("ViewAlreadyExists", s"a view named $name already exists"))
      else Right(())
      tableId = UUID.randomUUID()
      // server-assigned location {wh}/{ns_uuid}/{table_uuid} (reference
      // storage/s3.rs:291-305); client-specified locations are rejected
      // at the HTTP layer.
      location = s"${warehouse.location}/${nsRec.id}/$tableId"
      builder <- TableMetadataBuilder
        .newTable(tableId, location, schema, timestampMs, formatVersion)
        .left.map(fromCommit)
      _ <- builder.applyAll(
        (if (spec.fields.nonEmpty)
          Seq(TableUpdate.AddSpec(spec), TableUpdate.SetDefaultSpec(-1)) else Nil) ++
        sortOrder.toSeq.flatMap(o =>
          Seq(TableUpdate.AddSortOrder(o), TableUpdate.SetDefaultSortOrder(-1))) ++
        (if (props.nonEmpty) Seq(TableUpdate.SetProperties(props)) else Nil)
      ).left.map(fromCommit)
      metadata <- builder.build().left.map(fromCommit)
    } yield {
      val metadataLocation =
        if (stageCreate) None
        else {
          val loc = newMetadataLocation(location)
          MetadataIO.write(loc, metadata)
          Some(loc)
        }
      val rec = TableRecord(tableId, ns, name, metadata, metadataLocation, location)
      tables += (wh, ident) -> rec
      rec
    }
  }

  private def newMetadataLocation(tableLocation: String): String =
    s"$tableLocation/metadata/${UUID.randomUUID()}.gz.metadata.json"

  def registerTable(wh: UUID, ns: Seq[String], name: String,
      metadata: TableMetadata, metadataLocation: String)
      : Either[CatalogError, TableRecord] = lock.synchronized {
    for {
      _ <- activeWarehouse(wh)
      _ <- namespaces.get((wh, ns))
        .toRight(notFound("NamespaceNotFound", s"namespace ${ns.mkString(".")} not found"))
      ident = TableIdent(ns, name)
      _ <- tables.get((wh, ident)) match {
        case Some(existing) if !existing.staged =>
          Left(conflict("TableAlreadyExists", s"table $name already exists"))
        case _ => Right(())
      }
      _ <- tables.collectFirst {
        case ((`wh`, id), rec) if rec.tableId == metadata.tableUuid => id
      } match {
        case Some(other) => Left(conflict("TableAlreadyExists",
          s"table uuid ${metadata.tableUuid} is already registered as ${other.name}"))
        case None => Right(())
      }
    } yield {
      val rec = TableRecord(metadata.tableUuid, ns, name, metadata,
        Some(metadataLocation), metadata.location)
      tables += (wh, ident) -> rec
      rec
    }
  }

  def loadTable(wh: UUID, ident: TableIdent): Either[CatalogError, TableRecord] =
    lock.synchronized {
      activeWarehouse(wh).flatMap(_ => tables.get((wh, ident)).filter(!_.staged)
        .toRight(notFound("TableNotFound", s"table ${ident.name} not found")))
    }

  def tableExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean] =
    lock.synchronized {
      activeWarehouse(wh).map(_ => tables.get((wh, ident)).exists(!_.staged))
    }

  def listTables(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]] =
    lock.synchronized {
      activeWarehouse(wh).flatMap { _ =>
        if (!namespaces.contains((wh, ns)))
          Left(notFound("NamespaceNotFound", s"namespace ${ns.mkString(".")} not found"))
        else Right(tables.collect {
          case ((`wh`, id), rec) if id.namespace == ns && !rec.staged => id
        }.toSeq.sortBy(_.name))
      }
    }

  /** Hard delete incl. staged; data/metadata files are NOT deleted
    * (reference leaves them too, catalog/tables.rs:556 ToDo). */
  def dropTable(wh: UUID, ident: TableIdent): Either[CatalogError, Unit] =
    lock.synchronized {
      activeWarehouse(wh).flatMap { _ =>
        if (tables.contains((wh, ident))) { tables -= ((wh, ident)); Right(()) }
        else Left(notFound("TableNotFound", s"table ${ident.name} not found"))
      }
    }

  def renameTable(wh: UUID, source: TableIdent, dest: TableIdent)
      : Either[CatalogError, Unit] = lock.synchronized {
    for {
      _ <- activeWarehouse(wh)
      rec <- tables.get((wh, source)).filter(!_.staged)
        .toRight(notFound("TableNotFound", s"table ${source.name} not found"))
      _ <- namespaces.get((wh, dest.namespace))
        .toRight(notFound("NamespaceNotFound",
          s"namespace ${dest.namespace.mkString(".")} not found"))
      _ <- if (tables.get((wh, dest)).exists(!_.staged))
        Left(conflict("TableAlreadyExists", s"table ${dest.name} already exists"))
      else if (views.contains((wh, dest)))
        Left(conflict("ViewAlreadyExists", s"a view named ${dest.name} already exists"))
      else Right(())
    } yield {
      tables -= ((wh, source))
      tables += (wh, dest) -> rec.copy(namespace = dest.namespace, name = dest.name)
    }
  }

  def commitTransaction(wh: UUID, changes: Seq[TableChange], timestampMs: Long)
      : Either[CatalogError, Seq[TableRecord]] = lock.synchronized {
    activeWarehouse(wh).flatMap { _ =>
      if (changes.isEmpty) return Right(Nil)
      val dup = changes.groupBy(_.ident).collectFirst { case (id, cs) if cs.size > 1 => id }
      dup.foreach(id => return Left(badRequest(
        s"duplicate table ${id.name} in transaction")))

      // Phase 1 — assert every requirement against CURRENT metadata,
      // then fold updates, all before any visible mutation: this whole
      // method body is the reference's Postgres transaction
      // (postgres/table.rs:639-852).
      val applied = Vector.newBuilder[(TableIdent, TableRecord)]
      for (change <- changes) {
        val existing = tables.get((wh, change.ident))
        for (req <- change.requirements)
          req.check(existing.map(_.metadata)) match {
            case Some(err) => return Left(fromCommit(err))
            case None =>
          }
        val rec = existing.getOrElse(
          return Left(notFound("TableNotFound", s"table ${change.ident.name} not found")))

        // assign-uuid may only RE-assign the same identity; set-location
        // may not change it (reference postgres/table.rs:728-747)
        for (u <- change.updates) u match {
          case TableUpdate.AssignUuid(u2) if u2 != rec.metadata.tableUuid =>
            return Left(badRequest("assign-uuid cannot change the table uuid on commit"))
          case TableUpdate.SetLocation(l) if l != rec.metadata.location =>
            return Left(badRequest("set-location cannot change the table location on commit"))
          case _ =>
        }

        val builder = TableMetadataBuilder.from(rec.metadata)
        builder.applyAll(change.updates).flatMap(_.build()) match {
          case Left(e) => return Left(fromCommit(e))
          case Right(next) =>
            val stamped =
              if (next.lastUpdatedMs < timestampMs) next.copy(lastUpdatedMs = timestampMs)
              else next
            val newLoc = newMetadataLocation(rec.tableLocation)
            val withLog = rec.metadataLocation.fold(stamped)(prev =>
              TableMetadata.appendMetadataLog(stamped,
                MetadataLogEntry(prev, rec.metadata.lastUpdatedMs)))
            applied += change.ident -> rec.copy(
              metadata = withLog, metadataLocation = Some(newLoc))
        }
      }

      // Phase 2 — write metadata files, then swap ALL rows at once (the
      // reference writes files before txn commit; the batched UPDATE is
      // the atomic commit point, postgres/table.rs:801-849).
      val results = applied.result()
      results.foreach { case (_, rec) =>
        MetadataIO.write(rec.metadataLocation.get, rec.metadata)
      }
      tables ++= results.map { case (id, rec) => (wh, id) -> rec }
      Right(results.map(_._2))
    }
  }

  def tableByLocation(wh: UUID, location: String): Either[CatalogError, TableRecord] =
    lock.synchronized {
      activeWarehouse(wh).flatMap { _ =>
        tables.collect {
          case ((`wh`, _), rec)
            if !rec.staged && location.startsWith(rec.tableLocation) => rec
        }.toSeq.sortBy(-_.tableLocation.length).headOption
          .toRight(notFound("TableNotFound", s"no table owns location $location"))
      }
    }

  // ------------------------------------------------------------- views
  def createView(wh: UUID, ns: Seq[String], name: String, schema: Schema,
      version: ViewVersion, props: Map[String, String], timestampMs: Long)
      : Either[CatalogError, ViewRecord] = lock.synchronized {
    for {
      warehouse <- activeWarehouse(wh)
      nsRec <- namespaces.get((wh, ns))
        .toRight(notFound("NamespaceNotFound", s"namespace ${ns.mkString(".")} not found"))
      ident = TableIdent(ns, name)
      _ <- if (views.contains((wh, ident)))
        Left(conflict("ViewAlreadyExists", s"view $name already exists"))
      else if (tables.get((wh, ident)).exists(!_.staged))
        Left(conflict("TableAlreadyExists", s"a table named $name already exists"))
      else Right(())
      viewId = UUID.randomUUID()
      location = s"${warehouse.location}/${nsRec.id}/$viewId"
      metadata <- ViewMetadata
        .newView(viewId, location, schema, version, props, timestampMs)
        .left.map(badRequest)
    } yield {
      val loc = newViewMetadataLocation(location)
      ViewMetadataIO.write(loc, metadata)
      val rec = ViewRecord(viewId, ns, name, metadata, loc, location)
      views += (wh, ident) -> rec
      rec
    }
  }

  private def newViewMetadataLocation(viewLocation: String): String =
    s"$viewLocation/metadata/${UUID.randomUUID()}.gz.metadata.json"

  def loadView(wh: UUID, ident: TableIdent): Either[CatalogError, ViewRecord] =
    lock.synchronized {
      activeWarehouse(wh).flatMap(_ => views.get((wh, ident))
        .toRight(notFound("ViewNotFound", s"view ${ident.name} not found")))
    }

  def viewExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean] =
    lock.synchronized {
      activeWarehouse(wh).map(_ => views.contains((wh, ident)))
    }

  def listViews(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]] =
    lock.synchronized {
      activeWarehouse(wh).flatMap { _ =>
        if (!namespaces.contains((wh, ns)))
          Left(notFound("NamespaceNotFound", s"namespace ${ns.mkString(".")} not found"))
        else Right(views.collect {
          case ((`wh`, id), _) if id.namespace == ns => id
        }.toSeq.sortBy(_.name))
      }
    }

  def dropView(wh: UUID, ident: TableIdent): Either[CatalogError, Unit] =
    lock.synchronized {
      activeWarehouse(wh).flatMap { _ =>
        if (views.contains((wh, ident))) { views -= ((wh, ident)); Right(()) }
        else Left(notFound("ViewNotFound", s"view ${ident.name} not found"))
      }
    }

  def renameView(wh: UUID, source: TableIdent, dest: TableIdent)
      : Either[CatalogError, Unit] = lock.synchronized {
    for {
      _ <- activeWarehouse(wh)
      rec <- views.get((wh, source))
        .toRight(notFound("ViewNotFound", s"view ${source.name} not found"))
      _ <- namespaces.get((wh, dest.namespace))
        .toRight(notFound("NamespaceNotFound",
          s"namespace ${dest.namespace.mkString(".")} not found"))
      _ <- if (views.contains((wh, dest)))
        Left(conflict("ViewAlreadyExists", s"view ${dest.name} already exists"))
      else if (tables.get((wh, dest)).exists(!_.staged))
        Left(conflict("TableAlreadyExists", s"a table named ${dest.name} already exists"))
      else Right(())
    } yield {
      views -= ((wh, source))
      views += (wh, dest) -> rec.copy(namespace = dest.namespace, name = dest.name)
    }
  }

  def commitView(wh: UUID, ident: TableIdent,
      requirements: Seq[ViewRequirement], updates: Seq[ViewUpdate],
      timestampMs: Long): Either[CatalogError, ViewRecord] = lock.synchronized {
    for {
      _ <- activeWarehouse(wh)
      rec <- views.get((wh, ident))
        .toRight(notFound("ViewNotFound", s"view ${ident.name} not found"))
      // requirements asserted against CURRENT metadata inside the lock —
      // optimistic-concurrency losers observe a 409, same contract as
      // table commits
      _ <- requirements.collectFirst {
        case ViewRequirement.AssertViewUuid(u) if u != rec.metadata.viewUuid =>
          conflict("CommitFailedException",
            s"requirement failed: view uuid is ${rec.metadata.viewUuid}, asserted $u")
      }.toLeft(())
      next <- ViewUpdate.applyAll(rec.metadata, updates, timestampMs)
        .left.map(fromCommit)
    } yield {
      val loc = newViewMetadataLocation(rec.viewLocation)
      ViewMetadataIO.write(loc, next)
      val out = rec.copy(metadata = next, metadataLocation = loc)
      views += (wh, ident) -> out
      out
    }
  }
}
