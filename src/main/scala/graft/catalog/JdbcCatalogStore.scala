package graft.catalog

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core._

import java.sql.{Connection, DriverManager, ResultSet}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Durable [[CatalogStore]] over embedded JDBC (Derby) — the role the
  * reference's Postgres layer plays (implementations/postgres/
  * table.rs:639-852, migrations/05_table.sql), re-expressed: rows hold
  * identity + the table's metadata document, commits run inside a real
  * DB transaction with `SELECT ... FOR UPDATE` row locks so requirement
  * asserts and the swap share one critical section, and a server
  * restart loses nothing.
  *
  * Row bytes: `tbls.metadata` holds the gzip'd JSON of the version
  * ([[MetadataIO.encode]]). Create and commit encode and gzip each
  * version once and hand the same bytes to the file at
  * `metadata_location` and to the row; register encodes the document it
  * adopted once for the row. A 1 MB document is about 100 KB gzip'd,
  * and Derby's cost to update the column follows its size.
  * Databases written with the older text column are converted on open
  * (see `upgradeTableMetadataColumn`).
  *
  * Concurrency model: reads use per-operation auto-commit connections
  * (no global monitor — unlike [[InMemoryCatalogStore]], readers never
  * serialize behind writers); `commitTransaction` locks exactly the
  * touched rows in sorted ident order (deadlock-free), asserts against
  * the CURRENT row inside the lock, writes the metadata files, then
  * updates all rows and commits — racing writers block on the row lock
  * and the loser's requirement assert observes the winner's metadata
  * (409 → client retry), the same linearization the reference gets from
  * Postgres row locks.
  *
  * Parsed-metadata cache: a `metadata_location` names one immutable
  * document. Creates and commits write a fresh UUID-named location every
  * time and never rewrite an old one; register adopts the document read
  * from the file it names. So each store keeps a bounded map from
  * location to parsed [[TableMetadata]] ([[JdbcCatalogStore.MetadataCacheEntries]]
  * entries, least recently used evicted), and a row read gunzips and
  * parses its metadata bytes only when the row's location is not in the
  * map. The location itself is always read from the row, under the same
  * isolation as before, so a cached entry can never stand in for a newer
  * row, even with several servers on one database. Staged rows (no
  * location) are never cached; a commit records the version it wrote
  * after its DB COMMIT and drops the one it replaced.
  *
  * Derby stands in for Postgres because it ships with Spark; the SQL is
  * vanilla enough that a postgres:// URL needs only the DDL tweaked.
  */
final class JdbcCatalogStore(jdbcUrl: String) extends CatalogStore {
  import CatalogError._
  import JdbcCatalogStore._

  /** Parsed metadata by `metadata_location`; see the class header. */
  private val parsedMetadata: java.util.Map[String, TableMetadata] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, TableMetadata](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, TableMetadata]): Boolean =
          size() > MetadataCacheEntries
      })

  /** The locations whose parsed metadata this store holds. */
  private[catalog] def cachedMetadataLocations: Set[String] =
    parsedMetadata.synchronized(parsedMetadata.keySet.asScala.toSet)

  bootstrap()

  private def bootstrap(): Unit = {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    withConn { c =>
      val ddl = Seq(
        """CREATE TABLE warehouses(
          |  id VARCHAR(36) PRIMARY KEY,
          |  project_id VARCHAR(36) NOT NULL,
          |  name VARCHAR(255) NOT NULL,
          |  location VARCHAR(2048) NOT NULL,
          |  active BOOLEAN NOT NULL,
          |  props CLOB NOT NULL,
          |  CONSTRAINT wh_name_uniq UNIQUE (project_id, name))""".stripMargin,
        """CREATE TABLE namespaces(
          |  wh VARCHAR(36) NOT NULL,
          |  id VARCHAR(36) NOT NULL,
          |  name VARCHAR(1024) NOT NULL,
          |  props CLOB NOT NULL,
          |  PRIMARY KEY (wh, name))""".stripMargin,
        """CREATE TABLE tbls(
          |  wh VARCHAR(36) NOT NULL,
          |  ns VARCHAR(1024) NOT NULL,
          |  name VARCHAR(255) NOT NULL,
          |  table_id VARCHAR(36) NOT NULL,
          |  metadata BLOB NOT NULL,
          |  metadata_location VARCHAR(2048),
          |  table_location VARCHAR(2048) NOT NULL,
          |  PRIMARY KEY (wh, ns, name))""".stripMargin,
        // one metadata tree, one catalog row: registerTable's
        // uuid-uniqueness 409 needs a CONSTRAINT behind its
        // read-then-insert (two concurrent registers of the same
        // metadata file under different names race past the SELECT;
        // the name PK cannot catch them). Safe for every other writer:
        // create/rename/commit never reuse a table_id within a wh.
        "CREATE UNIQUE INDEX tbls_uuid_uniq ON tbls(wh, table_id)",
        """CREATE TABLE vws(
          |  wh VARCHAR(36) NOT NULL,
          |  ns VARCHAR(1024) NOT NULL,
          |  name VARCHAR(255) NOT NULL,
          |  view_id VARCHAR(36) NOT NULL,
          |  metadata CLOB NOT NULL,
          |  metadata_location VARCHAR(2048) NOT NULL,
          |  view_location VARCHAR(2048) NOT NULL,
          |  PRIMARY KEY (wh, ns, name))""".stripMargin)
      ddl.foreach { sql =>
        try execute(c, sql)
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
      }
      upgradeTableMetadataColumn(c)
    }
  }

  /** A database written before the row held gzip bytes has
    * `tbls.metadata` as a CLOB of JSON text. Convert it in place, in one
    * transaction: gzip each row's text into a new BLOB column, drop the
    * CLOB, and take over its name. The gzip of the text is the file's
    * bytes, since both came from one encode. */
  private def upgradeTableMetadataColumn(c: Connection): Unit = {
    val cols = c.getMetaData.getColumns(null, c.getSchema, "TBLS", "METADATA")
    val isClob = try cols.next() && cols.getString("TYPE_NAME") == "CLOB" finally cols.close()
    if (!isClob) return
    c.setAutoCommit(false)
    try {
      execute(c, "ALTER TABLE tbls ADD COLUMN metadata_gz BLOB")
      // one document in memory at a time: keys first, then row by row
      val keys = query(c, "SELECT wh, ns, name FROM tbls", Nil)(rs =>
        Seq[AnyRef](rs.getString(1), rs.getString(2), rs.getString(3)))
      keys.foreach { key =>
        val json = query(c,
          "SELECT metadata FROM tbls WHERE wh = ? AND ns = ? AND name = ?", key)(_.getString(1))
        update(c, "UPDATE tbls SET metadata_gz = ? WHERE wh = ? AND ns = ? AND name = ?",
          MetadataIO.gzip(json.head) +: key)
      }
      execute(c, "ALTER TABLE tbls DROP COLUMN metadata")
      execute(c, "RENAME COLUMN tbls.metadata_gz TO metadata")
      execute(c, "ALTER TABLE tbls ALTER COLUMN metadata NOT NULL")
      c.commit()
    } catch {
      case e: Throwable => c.rollback(); throw e
    } finally c.setAutoCommit(true)
  }

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(jdbcUrl)
    try f(c) finally c.close()
  }

  /** Concurrent check-then-act creators race to the DB's unique/primary
    * key; the loser's duplicate-key violation (SQLState 23505) maps to
    * the contract's 409 rather than surfacing as a 500. */
  private def onDuplicate[A](conflict: => CatalogError)(body: => Either[CatalogError, A])
      : Either[CatalogError, A] =
    try body
    catch { case e: java.sql.SQLException if e.getSQLState == "23505" => Left(conflict) }

  // ------------------------------------------------------- management
  def createWarehouse(projectId: UUID, name: String, location: String,
      properties: Map[String, String]): Either[CatalogError, Warehouse] = withConn { c =>
    if (name.trim.isEmpty) Left(badRequest("warehouse name cannot be empty"))
    else if (query(c, "SELECT id FROM warehouses WHERE project_id = ? AND name = ?",
      Seq(projectId.toString, name))(_ => ()).nonEmpty)
      Left(conflict("WarehouseAlreadyExists",
        s"warehouse $name already exists in project $projectId"))
    else onDuplicate[Warehouse](conflict("WarehouseAlreadyExists",
      s"warehouse $name already exists in project $projectId")) {
      val w = Warehouse(UUID.randomUUID(), projectId, name,
        location.stripSuffix("/"), active = true, properties)
      update(c, "INSERT INTO warehouses VALUES (?,?,?,?,?,?)", Seq(
        w.id.toString, w.projectId.toString, w.name, w.location,
        java.lang.Boolean.valueOf(w.active), toJson(w.properties)))
      Right(w)
    }
  }

  def listWarehouses(projectId: UUID, includeInactive: Boolean): Seq[Warehouse] =
    withConn { c =>
      query(c, "SELECT * FROM warehouses WHERE project_id = ? ORDER BY name",
        Seq(projectId.toString))(readWarehouse)
        .filter(w => includeInactive || w.active)
    }

  def getWarehouse(id: UUID): Either[CatalogError, Warehouse] = withConn { c =>
    warehouseRow(c, id).filter(_.active)
      .toRight(notFound("WarehouseNotFound", s"warehouse $id not found"))
  }

  def warehouseByName(projectId: UUID, name: String): Either[CatalogError, Warehouse] =
    withConn { c =>
      query(c, "SELECT * FROM warehouses WHERE project_id = ? AND name = ?",
        Seq(projectId.toString, name))(readWarehouse)
        .find(_.active)
        .toRight(notFound("WarehouseNotFound", s"warehouse $name not found"))
    }

  def deleteWarehouse(id: UUID): Either[CatalogError, Unit] = withConn { c =>
    if (update(c, "DELETE FROM warehouses WHERE id = ?", Seq(id.toString)) == 0)
      Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
    else {
      update(c, "DELETE FROM namespaces WHERE wh = ?", Seq(id.toString))
      update(c, "DELETE FROM tbls WHERE wh = ?", Seq(id.toString))
      Right(())
    }
  }

  def renameWarehouse(id: UUID, newName: String): Either[CatalogError, Warehouse] =
    withConn { c =>
      warehouseRow(c, id) match {
        case None => Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
        case Some(w) =>
          if (newName.trim.isEmpty) Left(badRequest("warehouse name cannot be empty"))
          else if (query(c,
            "SELECT id FROM warehouses WHERE project_id = ? AND name = ? AND id <> ?",
            Seq(w.projectId.toString, newName, id.toString))(_ => ()).nonEmpty)
            Left(conflict("WarehouseAlreadyExists", s"warehouse $newName already exists"))
          else onDuplicate[Warehouse](conflict("WarehouseAlreadyExists",
            s"warehouse $newName already exists")) {
            update(c, "UPDATE warehouses SET name = ? WHERE id = ?",
              Seq(newName, id.toString))
            Right(w.copy(name = newName))
          }
      }
    }

  def setWarehouseActive(id: UUID, active: Boolean): Either[CatalogError, Warehouse] =
    withConn { c =>
      warehouseRow(c, id) match {
        case None => Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
        case Some(w) =>
          update(c, "UPDATE warehouses SET active = ? WHERE id = ?",
            Seq(java.lang.Boolean.valueOf(active), id.toString))
          Right(w.copy(active = active))
      }
    }

  def setWarehouseProperties(id: UUID, props: Map[String, String])
      : Either[CatalogError, Warehouse] = withConn { c =>
    warehouseRow(c, id) match {
      case None => Left(notFound("WarehouseNotFound", s"warehouse $id not found"))
      case Some(w) =>
        val next = w.properties ++ props
        update(c, "UPDATE warehouses SET props = ? WHERE id = ?",
          Seq(toJson(next), id.toString))
        Right(w.copy(properties = next))
    }
  }

  def listProjects(): Seq[UUID] = withConn { c =>
    query(c, "SELECT DISTINCT project_id FROM warehouses ORDER BY project_id", Nil)(
      rs => UUID.fromString(rs.getString(1)))
  }

  private def warehouseRow(c: Connection, id: UUID): Option[Warehouse] =
    query(c, "SELECT * FROM warehouses WHERE id = ?", Seq(id.toString))(readWarehouse)
      .headOption

  private def activeWarehouse(c: Connection, id: UUID): Either[CatalogError, Warehouse] =
    warehouseRow(c, id).filter(_.active)
      .toRight(notFound("WarehouseNotFound", s"warehouse $id not found"))

  // ------------------------------------------------------- namespaces
  def createNamespace(wh: UUID, name: Seq[String], props: Map[String, String])
      : Either[CatalogError, NamespaceRecord] = withConn { c =>
    val checks = for {
      _ <- activeWarehouse(c, wh)
      _ <- validateNamespaceName(name)
      _ <- validateNamespaceProps(props.keys)
      _ <- if (nsRow(c, wh, name).isDefined)
        Left(conflict("NamespaceAlreadyExists",
          s"namespace ${name.mkString(".")} already exists"))
      else Right(())
    } yield ()
    checks match {
      case Left(e) => Left(e)
      case Right(_) => onDuplicate[NamespaceRecord](conflict("NamespaceAlreadyExists",
        s"namespace ${name.mkString(".")} already exists")) {
        val rec = NamespaceRecord(UUID.randomUUID(), name, props)
        update(c, "INSERT INTO namespaces VALUES (?,?,?,?)",
          Seq(wh.toString, rec.id.toString, encodeNs(name), toJson(props)))
        Right(rec)
      }
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

  private def validateNamespaceProps(keys: Iterable[String]): Either[CatalogError, Unit] =
    keys.find(k => k != k.toLowerCase) match {
      case Some(k) => Left(badRequest(s"property key must be lowercase: $k"))
      case None =>
        if (keys.exists(_ == "location"))
          Left(badRequest("namespace property `location` is catalog-managed"))
        else Right(())
    }

  def listNamespaces(wh: UUID, parent: Option[Seq[String]])
      : Either[CatalogError, Seq[Seq[String]]] = withConn { c =>
    activeWarehouse(c, wh).flatMap { _ =>
      val all = query(c, "SELECT name FROM namespaces WHERE wh = ? ORDER BY name",
        Seq(wh.toString))(rs => decodeNs(rs.getString(1)))
      parent match {
        case None => Right(all.filter(_.size == 1))
        case Some(p) =>
          if (!all.contains(p))
            Left(notFound("NamespaceNotFound", s"namespace ${p.mkString(".")} not found"))
          else Right(all.filter(n => n.size == p.size + 1 && n.startsWith(p)))
      }
    }
  }

  def getNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, NamespaceRecord] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap(_ => nsRow(c, wh, name)
        .toRight(notFound("NamespaceNotFound",
          s"namespace ${name.mkString(".")} not found")))
    }

  def namespaceExists(wh: UUID, name: Seq[String]): Either[CatalogError, Boolean] =
    withConn { c =>
      activeWarehouse(c, wh).map(_ => nsRow(c, wh, name).isDefined)
    }

  def dropNamespace(wh: UUID, name: Seq[String]): Either[CatalogError, Unit] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap { _ =>
        if (nsRow(c, wh, name).isEmpty)
          Left(notFound("NamespaceNotFound", s"namespace ${name.mkString(".")} not found"))
        else if (query(c, "SELECT name FROM tbls WHERE wh = ? AND ns = ?",
          Seq(wh.toString, encodeNs(name)))(_ => ()).nonEmpty ||
          query(c, "SELECT name FROM vws WHERE wh = ? AND ns = ?",
            Seq(wh.toString, encodeNs(name)))(_ => ()).nonEmpty)
          Left(conflict("NamespaceNotEmpty",
            s"namespace ${name.mkString(".")} is not empty"))
        else {
          update(c, "DELETE FROM namespaces WHERE wh = ? AND name = ?",
            Seq(wh.toString, encodeNs(name)))
          Right(())
        }
      }
    }

  def updateNamespaceProperties(
      wh: UUID, name: Seq[String],
      removals: Seq[String], updates: Map[String, String])
      : Either[CatalogError, PropertyUpdateResult] = withConn { c =>
    for {
      _ <- activeWarehouse(c, wh)
      rec <- nsRow(c, wh, name).toRight(notFound("NamespaceNotFound",
        s"namespace ${name.mkString(".")} not found"))
      _ <- validateNamespaceProps(updates.keys)
    } yield {
      val missing = removals.filterNot(rec.properties.contains)
      val removed = removals.filter(rec.properties.contains)
      val next = rec.properties -- removals ++ updates
      update(c, "UPDATE namespaces SET props = ? WHERE wh = ? AND name = ?",
        Seq(toJson(next), wh.toString, encodeNs(name)))
      PropertyUpdateResult(
        updated = updates.keys.toSeq.sorted, removed = removed, missing = missing)
    }
  }

  private def nsRow(c: Connection, wh: UUID, name: Seq[String]): Option[NamespaceRecord] =
    query(c, "SELECT id, name, props FROM namespaces WHERE wh = ? AND name = ?",
      Seq(wh.toString, encodeNs(name))) { rs =>
      NamespaceRecord(UUID.fromString(rs.getString(1)), decodeNs(rs.getString(2)),
        fromJson(rs.getString(3)))
    }.headOption

  // ----------------------------------------------------------- tables
  def createTable(
      wh: UUID, ns: Seq[String], name: String,
      schema: Schema, spec: UnboundPartitionSpec, sortOrder: Option[SortOrder],
      props: Map[String, String], stageCreate: Boolean, timestampMs: Long,
      formatVersion: Int): Either[CatalogError, TableRecord] = withConn { c =>
    for {
      warehouse <- activeWarehouse(c, wh)
      nsRec <- nsRow(c, wh, ns).toRight(notFound("NamespaceNotFound",
        s"namespace ${ns.mkString(".")} not found"))
      ident = TableIdent(ns, name)
      existing = tableRow(c, wh, ident)
      _ <- existing match {
        case Some(rec) if !rec.staged =>
          Left(conflict("TableAlreadyExists", s"table $name already exists"))
        case _ => Right(())
      }
      _ <- if (viewRow(c, wh, ident).isDefined)
        Left(conflict("ViewAlreadyExists", s"a view named $name already exists"))
      else Right(())
      tableId = UUID.randomUUID()
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
      val bytes = MetadataIO.encode(metadata)
      val metadataLocation =
        if (stageCreate) None
        else {
          val loc = newMetadataLocation(location)
          MetadataIO.writeBytes(loc, bytes)
          Some(loc)
        }
      val rec = TableRecord(tableId, ns, name, metadata, metadataLocation, location)
      // stage-create upsert over an existing staged row (reference ON
      // CONFLICT ... DO UPDATE WHERE metadata_location IS NULL) —
      // delete+insert run in ONE transaction so a crash or race never
      // loses the row; a concurrent create racing to the PK maps to 409
      c.setAutoCommit(false)
      try {
        if (existing.isDefined)
          update(c, "DELETE FROM tbls WHERE wh = ? AND ns = ? AND name = ?",
            Seq(wh.toString, encodeNs(ns), name))
        insertTable(c, wh, rec, bytes)
        c.commit()
      } catch {
        case e: java.sql.SQLException if e.getSQLState == "23505" =>
          c.rollback()
          throw CatalogError.conflict("TableAlreadyExists",
            s"table $name already exists")
        case e: Throwable => c.rollback(); throw e
      } finally c.setAutoCommit(true)
      rec
    }
  }

  /** `bytes` is `MetadataIO.encode(rec.metadata)`, encoded once by the
    * caller. Columns are named: an upgraded table has them in another
    * order. */
  private def insertTable(c: Connection, wh: UUID, rec: TableRecord, bytes: Array[Byte]): Unit =
    update(c, "INSERT INTO tbls (wh, ns, name, table_id, metadata, metadata_location, " +
      "table_location) VALUES (?,?,?,?,?,?,?)", Seq(
      wh.toString, encodeNs(rec.namespace), rec.name, rec.tableId.toString,
      bytes, rec.metadataLocation.orNull, rec.tableLocation))

  private def newMetadataLocation(tableLocation: String): String =
    s"$tableLocation/metadata/${UUID.randomUUID()}.gz.metadata.json"

  def registerTable(wh: UUID, ns: Seq[String], name: String,
      metadata: TableMetadata, metadataLocation: String)
      : Either[CatalogError, TableRecord] = withConn { c =>
    for {
      _ <- activeWarehouse(c, wh)
      _ <- nsRow(c, wh, ns).toRight(notFound("NamespaceNotFound",
        s"namespace ${ns.mkString(".")} not found"))
      ident = TableIdent(ns, name)
      existing = tableRow(c, wh, ident)
      _ <- existing match {
        case Some(rec) if !rec.staged =>
          Left(conflict("TableAlreadyExists", s"table $name already exists"))
        case _ => Right(())
      }
      sameUuid = query(c, "SELECT name FROM tbls WHERE wh = ? AND table_id = ?",
        Seq(wh.toString, metadata.tableUuid.toString))(_.getString(1))
      _ <- sameUuid.headOption match {
        case Some(other) => Left(conflict("TableAlreadyExists",
          s"table uuid ${metadata.tableUuid} is already registered as $other"))
        case None => Right(())
      }
    } yield {
      val rec = TableRecord(metadata.tableUuid, ns, name, metadata,
        Some(metadataLocation), metadata.location)
      // same one-transaction staged-overwrite shape as createTable
      c.setAutoCommit(false)
      try {
        if (existing.isDefined)
          update(c, "DELETE FROM tbls WHERE wh = ? AND ns = ? AND name = ?",
            Seq(wh.toString, encodeNs(ns), name))
        insertTable(c, wh, rec, MetadataIO.encode(metadata))
        c.commit()
      } catch {
        // name PK or the (wh, table_id) unique index — the latter is
        // the backstop for concurrent registers of one metadata tree
        // racing past the uuid SELECT above
        case e: java.sql.SQLException if e.getSQLState == "23505" =>
          c.rollback()
          throw CatalogError.conflict("TableAlreadyExists",
            s"table $name (or its metadata tree's uuid) is already registered")
        case e: Throwable => c.rollback(); throw e
      } finally c.setAutoCommit(true)
      // a location may be registered again after a drop: replace any
      // entry an earlier registration of it left
      parsedMetadata.put(metadataLocation, metadata)
      rec
    }
  }

  def loadTable(wh: UUID, ident: TableIdent): Either[CatalogError, TableRecord] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap(_ => tableRow(c, wh, ident).filter(!_.staged)
        .toRight(notFound("TableNotFound", s"table ${ident.name} not found")))
    }

  def tableExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean] =
    withConn { c =>
      activeWarehouse(c, wh).map(_ => tableRow(c, wh, ident).exists(!_.staged))
    }

  def listTables(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap { _ =>
        if (nsRow(c, wh, ns).isEmpty)
          Left(notFound("NamespaceNotFound", s"namespace ${ns.mkString(".")} not found"))
        else Right(query(c,
          "SELECT name FROM tbls WHERE wh = ? AND ns = ? AND metadata_location IS NOT NULL ORDER BY name",
          Seq(wh.toString, encodeNs(ns)))(rs => TableIdent(ns, rs.getString(1))))
      }
    }

  def dropTable(wh: UUID, ident: TableIdent): Either[CatalogError, Unit] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap { _ =>
        if (update(c, "DELETE FROM tbls WHERE wh = ? AND ns = ? AND name = ?",
          Seq(wh.toString, encodeNs(ident.namespace), ident.name)) == 0)
          Left(notFound("TableNotFound", s"table ${ident.name} not found"))
        else Right(())
      }
    }

  def renameTable(wh: UUID, source: TableIdent, dest: TableIdent)
      : Either[CatalogError, Unit] = withConn { c =>
    val checks = for {
      _ <- activeWarehouse(c, wh)
      _ <- tableRow(c, wh, source).filter(!_.staged)
        .toRight(notFound("TableNotFound", s"table ${source.name} not found"))
      _ <- nsRow(c, wh, dest.namespace).toRight(notFound("NamespaceNotFound",
        s"namespace ${dest.namespace.mkString(".")} not found"))
      _ <- if (tableRow(c, wh, dest).exists(!_.staged))
        Left(conflict("TableAlreadyExists", s"table ${dest.name} already exists"))
      else if (viewRow(c, wh, dest).isDefined)
        Left(conflict("ViewAlreadyExists", s"a view named ${dest.name} already exists"))
      else Right(())
    } yield ()
    checks match {
      case Left(e) => Left(e)
      case Right(_) => onDuplicate[Unit](conflict("TableAlreadyExists",
        s"table ${dest.name} already exists")) {
        update(c, "UPDATE tbls SET ns = ?, name = ? WHERE wh = ? AND ns = ? AND name = ?",
          Seq(encodeNs(dest.namespace), dest.name, wh.toString,
            encodeNs(source.namespace), source.name))
        Right(())
      }
    }
  }

  def commitTransaction(wh: UUID, changes: Seq[TableChange], timestampMs: Long)
      : Either[CatalogError, Seq[TableRecord]] = withConn { c =>
    activeWarehouse(c, wh).flatMap { _ =>
      if (changes.isEmpty) return Right(Nil)
      val dup = changes.groupBy(_.ident).collectFirst { case (id, cs) if cs.size > 1 => id }
      dup.foreach(id => return Left(badRequest(
        s"duplicate table ${id.name} in transaction")))

      c.setAutoCommit(false)
      // SERIALIZABLE so FOR UPDATE row locks persist to COMMIT (under
      // read-committed Derby drops update locks at cursor close, which
      // would let two writers commit off the same base row)
      c.setTransactionIsolation(java.sql.Connection.TRANSACTION_SERIALIZABLE)
      try {
        // Phase 1 — lock every touched row in SORTED ident order
        // (deadlock-free), assert requirements against the row as
        // locked, fold updates. This is the reference's Postgres
        // transaction (postgres/table.rs:639-852).
        // (ident, location the commit replaces, next record)
        val applied = Vector.newBuilder[(TableIdent, Option[String], TableRecord)]
        for (change <- changes.sortBy(ch =>
          (ch.ident.namespace.mkString("\u0000"), ch.ident.name))) {
          val existing = lockTableRow(c, wh, change.ident)
          for (req <- change.requirements)
            req.check(existing.map(_.metadata)) match {
              case Some(err) => c.rollback(); return Left(fromCommit(err))
              case None =>
            }
          val rec = existing.getOrElse {
            c.rollback()
            return Left(notFound("TableNotFound", s"table ${change.ident.name} not found"))
          }
          for (u <- change.updates) u match {
            case TableUpdate.AssignUuid(u2) if u2 != rec.metadata.tableUuid =>
              c.rollback()
              return Left(badRequest("assign-uuid cannot change the table uuid on commit"))
            case TableUpdate.SetLocation(l) if l != rec.metadata.location =>
              c.rollback()
              return Left(badRequest("set-location cannot change the table location on commit"))
            case _ =>
          }
          val builder = TableMetadataBuilder.from(rec.metadata)
          builder.applyAll(change.updates).flatMap(_.build()) match {
            case Left(e) => c.rollback(); return Left(fromCommit(e))
            case Right(next) =>
              val stamped =
                if (next.lastUpdatedMs < timestampMs) next.copy(lastUpdatedMs = timestampMs)
                else next
              val newLoc = newMetadataLocation(rec.tableLocation)
              val withLog = rec.metadataLocation.fold(stamped)(prev =>
                TableMetadata.appendMetadataLog(stamped,
                  MetadataLogEntry(prev, rec.metadata.lastUpdatedMs)))
              applied += ((change.ident, rec.metadataLocation,
                rec.copy(metadata = withLog, metadataLocation = Some(newLoc))))
          }
        }

        // Phase 2 — encode and gzip each version once, write those
        // bytes to its metadata file and its row; the DB COMMIT is the
        // atomic visibility point.
        val results = applied.result()
        results.foreach { case (id, _, rec) =>
          val bytes = MetadataIO.encode(rec.metadata)
          MetadataIO.writeBytes(rec.metadataLocation.get, bytes)
          update(c,
            "UPDATE tbls SET metadata = ?, metadata_location = ? WHERE wh = ? AND ns = ? AND name = ?",
            Seq(bytes, rec.metadataLocation.get,
              wh.toString, encodeNs(id.namespace), id.name))
        }
        c.commit()
        results.foreach { case (_, replaced, rec) =>
          replaced.foreach(l => parsedMetadata.remove(l))
          parsedMetadata.put(rec.metadataLocation.get, rec.metadata)
        }
        Right(results.map(_._3))
      } catch {
        case e: Throwable => c.rollback(); throw e
      } finally c.setAutoCommit(true)
    }
  }

  // ------------------------------------------------------------- views
  def createView(wh: UUID, ns: Seq[String], name: String, schema: Schema,
      version: ViewVersion, props: Map[String, String], timestampMs: Long)
      : Either[CatalogError, ViewRecord] = withConn { c =>
    for {
      warehouse <- activeWarehouse(c, wh)
      nsRec <- nsRow(c, wh, ns).toRight(notFound("NamespaceNotFound",
        s"namespace ${ns.mkString(".")} not found"))
      ident = TableIdent(ns, name)
      _ <- if (viewRow(c, wh, ident).isDefined)
        Left(conflict("ViewAlreadyExists", s"view $name already exists"))
      else if (tableRow(c, wh, ident).exists(!_.staged))
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
      onDuplicate[ViewRecord](conflict("ViewAlreadyExists",
        s"view $name already exists")) {
        update(c, "INSERT INTO vws VALUES (?,?,?,?,?,?,?)", Seq(
          wh.toString, encodeNs(ns), name, viewId.toString,
          ViewJsonCodecs.metadataToJson(metadata), loc, location))
        Right(rec)
      }.fold(e => throw e, identity)
    }
  }

  private def newViewMetadataLocation(viewLocation: String): String =
    s"$viewLocation/metadata/${UUID.randomUUID()}.gz.metadata.json"

  def loadView(wh: UUID, ident: TableIdent): Either[CatalogError, ViewRecord] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap(_ => viewRow(c, wh, ident)
        .toRight(notFound("ViewNotFound", s"view ${ident.name} not found")))
    }

  def viewExists(wh: UUID, ident: TableIdent): Either[CatalogError, Boolean] =
    withConn { c =>
      activeWarehouse(c, wh).map(_ => viewRow(c, wh, ident).isDefined)
    }

  def listViews(wh: UUID, ns: Seq[String]): Either[CatalogError, Seq[TableIdent]] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap { _ =>
        if (nsRow(c, wh, ns).isEmpty)
          Left(notFound("NamespaceNotFound", s"namespace ${ns.mkString(".")} not found"))
        else Right(query(c,
          "SELECT name FROM vws WHERE wh = ? AND ns = ? ORDER BY name",
          Seq(wh.toString, encodeNs(ns)))(rs => TableIdent(ns, rs.getString(1))))
      }
    }

  def dropView(wh: UUID, ident: TableIdent): Either[CatalogError, Unit] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap { _ =>
        if (update(c, "DELETE FROM vws WHERE wh = ? AND ns = ? AND name = ?",
          Seq(wh.toString, encodeNs(ident.namespace), ident.name)) == 0)
          Left(notFound("ViewNotFound", s"view ${ident.name} not found"))
        else Right(())
      }
    }

  def renameView(wh: UUID, source: TableIdent, dest: TableIdent)
      : Either[CatalogError, Unit] = withConn { c =>
    val checks = for {
      _ <- activeWarehouse(c, wh)
      _ <- viewRow(c, wh, source)
        .toRight(notFound("ViewNotFound", s"view ${source.name} not found"))
      _ <- nsRow(c, wh, dest.namespace).toRight(notFound("NamespaceNotFound",
        s"namespace ${dest.namespace.mkString(".")} not found"))
      _ <- if (viewRow(c, wh, dest).isDefined)
        Left(conflict("ViewAlreadyExists", s"view ${dest.name} already exists"))
      else if (tableRow(c, wh, dest).exists(!_.staged))
        Left(conflict("TableAlreadyExists",
          s"a table named ${dest.name} already exists"))
      else Right(())
    } yield ()
    checks match {
      case Left(e) => Left(e)
      case Right(_) => onDuplicate[Unit](conflict("ViewAlreadyExists",
        s"view ${dest.name} already exists")) {
        update(c, "UPDATE vws SET ns = ?, name = ? WHERE wh = ? AND ns = ? AND name = ?",
          Seq(encodeNs(dest.namespace), dest.name, wh.toString,
            encodeNs(source.namespace), source.name))
        Right(())
      }
    }
  }

  def commitView(wh: UUID, ident: TableIdent,
      requirements: Seq[ViewRequirement], updates: Seq[ViewUpdate],
      timestampMs: Long): Either[CatalogError, ViewRecord] = withConn { c =>
    activeWarehouse(c, wh).flatMap { _ =>
      c.setAutoCommit(false)
      c.setTransactionIsolation(java.sql.Connection.TRANSACTION_SERIALIZABLE)
      try {
        // same commit shape as tables: lock the row, assert
        // requirements against it AS LOCKED, fold updates, swap
        val existing = lockViewRow(c, wh, ident)
        val rec = existing.getOrElse {
          c.rollback()
          return Left(notFound("ViewNotFound", s"view ${ident.name} not found"))
        }
        requirements.collectFirst {
          case ViewRequirement.AssertViewUuid(u) if u != rec.metadata.viewUuid =>
            conflict("CommitFailedException",
              s"requirement failed: view uuid is ${rec.metadata.viewUuid}, asserted $u")
        } match {
          case Some(e) => c.rollback(); return Left(e)
          case None =>
        }
        ViewUpdate.applyAll(rec.metadata, updates, timestampMs) match {
          case Left(e) => c.rollback(); Left(fromCommit(e))
          case Right(next) =>
            val loc = newViewMetadataLocation(rec.viewLocation)
            ViewMetadataIO.write(loc, next)
            update(c,
              "UPDATE vws SET metadata = ?, metadata_location = ? WHERE wh = ? AND ns = ? AND name = ?",
              Seq(ViewJsonCodecs.metadataToJson(next), loc,
                wh.toString, encodeNs(ident.namespace), ident.name))
            c.commit()
            Right(rec.copy(metadata = next, metadataLocation = loc))
        }
      } catch {
        case e: Throwable => c.rollback(); throw e
      } finally c.setAutoCommit(true)
    }
  }

  private def viewRow(c: Connection, wh: UUID, ident: TableIdent): Option[ViewRecord] =
    query(c, "SELECT * FROM vws WHERE wh = ? AND ns = ? AND name = ?",
      Seq(wh.toString, encodeNs(ident.namespace), ident.name))(readView).headOption

  private def lockViewRow(c: Connection, wh: UUID, ident: TableIdent)
      : Option[ViewRecord] = {
    val ps = c.prepareStatement(
      "SELECT * FROM vws WHERE wh = ? AND ns = ? AND name = ? FOR UPDATE",
      ResultSet.TYPE_FORWARD_ONLY, ResultSet.CONCUR_UPDATABLE)
    try {
      ps.setString(1, wh.toString)
      ps.setString(2, encodeNs(ident.namespace))
      ps.setString(3, ident.name)
      val rs = ps.executeQuery()
      try { if (rs.next()) Some(readView(rs)) else None } finally rs.close()
    } finally ps.close()
  }

  private def readView(rs: ResultSet): ViewRecord = {
    val metadata = ViewJsonCodecs.metadataFromJson(rs.getString("metadata"))
      .fold(e => sys.error(s"corrupt view metadata row: $e"), identity)
    ViewRecord(
      UUID.fromString(rs.getString("view_id")),
      decodeNs(rs.getString("ns")),
      rs.getString("name"),
      metadata,
      rs.getString("metadata_location"),
      rs.getString("view_location"))
  }

  def tableByLocation(wh: UUID, location: String): Either[CatalogError, TableRecord] =
    withConn { c =>
      activeWarehouse(c, wh).flatMap { _ =>
        // prefix-match on the slim identity columns only; the metadata
        // of the single winner is parsed afterwards — the lookup
        // never deserializes the warehouse's whole metadata
        query(c,
          "SELECT ns, name, table_location FROM tbls WHERE wh = ? AND metadata_location IS NOT NULL",
          Seq(wh.toString))(rs => (rs.getString(1), rs.getString(2), rs.getString(3)))
          .filter { case (_, _, loc) => location.startsWith(loc) }
          .sortBy { case (_, _, loc) => -loc.length }.headOption
          .flatMap { case (ns, name, _) =>
            tableRow(c, wh, TableIdent(decodeNs(ns), name)) }
          .toRight(notFound("TableNotFound", s"no table owns location $location"))
      }
    }

  private def tableRow(c: Connection, wh: UUID, ident: TableIdent): Option[TableRecord] =
    query(c, "SELECT * FROM tbls WHERE wh = ? AND ns = ? AND name = ?",
      Seq(wh.toString, encodeNs(ident.namespace), ident.name))(readTable).headOption

  /** Row-locked read inside the commit transaction. */
  private def lockTableRow(c: Connection, wh: UUID, ident: TableIdent)
      : Option[TableRecord] = {
    val ps = c.prepareStatement(
      "SELECT * FROM tbls WHERE wh = ? AND ns = ? AND name = ? FOR UPDATE",
      ResultSet.TYPE_FORWARD_ONLY, ResultSet.CONCUR_UPDATABLE)
    try {
      ps.setString(1, wh.toString)
      ps.setString(2, encodeNs(ident.namespace))
      ps.setString(3, ident.name)
      val rs = ps.executeQuery()
      try { if (rs.next()) Some(readTable(rs)) else None } finally rs.close()
    } finally ps.close()
  }

  /** Reads the metadata bytes only when the row's location misses the
    * parsed-metadata cache. */
  private def readTable(rs: ResultSet): TableRecord = {
    val location = Option(rs.getString("metadata_location"))
    val metadata = location.flatMap(l => Option(parsedMetadata.get(l))).getOrElse {
      val m = MetadataIO.decode(rs.getBytes("metadata"))
        .fold(e => sys.error(s"corrupt metadata row: $e"), identity)
      location.foreach(parsedMetadata.put(_, m))
      m
    }
    TableRecord(
      UUID.fromString(rs.getString("table_id")),
      decodeNs(rs.getString("ns")),
      rs.getString("name"),
      metadata,
      location,
      rs.getString("table_location"))
  }

  private def readWarehouse(rs: ResultSet): Warehouse =
    Warehouse(
      UUID.fromString(rs.getString("id")),
      UUID.fromString(rs.getString("project_id")),
      rs.getString("name"),
      rs.getString("location"),
      rs.getBoolean("active"),
      fromJson(rs.getString("props")))

  // -------------------------------------------------------------- jdbc
  private def query[A](c: Connection, sql: String, args: Seq[AnyRef])(
      read: ResultSet => A): Seq[A] = {
    val ps = c.prepareStatement(sql)
    try {
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      val rs = ps.executeQuery()
      try {
        val out = Seq.newBuilder[A]
        while (rs.next()) out += read(rs)
        out.result()
      } finally rs.close()
    } finally ps.close()
  }

  private def execute(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def update(c: Connection, sql: String, args: Seq[AnyRef]): Int = {
    val ps = c.prepareStatement(sql)
    try {
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      ps.executeUpdate()
    } finally ps.close()
  }
}

object JdbcCatalogStore {
  /** Reserved namespaces (reference catalog/config.rs:15). */
  private val ReservedNamespaces = Set("system", "examples")
  /** Namespaces are single-level (reference MAX_NAMESPACE_DEPTH=1). */
  private val MaxNamespaceDepth = 1

  /** Bound of each store's parsed-metadata cache. An entry is one table
    * version; at 2000 snapshots its JSON is about 1 MB. */
  private[catalog] val MetadataCacheEntries = 64

  /** Namespace path ↔ one column (unit-separator join — never appears
    * in valid namespace parts). */
  private val NsSep = "\u001f"
  private def encodeNs(name: Seq[String]): String = name.mkString(NsSep)
  private def decodeNs(s: String): Seq[String] = s.split(NsSep).toSeq

  private val mapper = new ObjectMapper()
  private def toJson(m: Map[String, String]): String = {
    val o = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }
  private def fromJson(s: String): Map[String, String] =
    mapper.readTree(s).properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  /** Embedded-Derby store rooted at `dir` (created on first use). */
  def embedded(dir: java.nio.file.Path): JdbcCatalogStore =
    new JdbcCatalogStore(s"jdbc:derby:${dir.toAbsolutePath};create=true")
}
