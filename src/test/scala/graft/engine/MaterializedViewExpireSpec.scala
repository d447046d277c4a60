package graft.engine

import graft.SparkTestSession
import graft.catalog._
import graft.server.CatalogServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.UUID

/** MV refresh after `expire_snapshots` removed the source snapshot the
  * MV's checkpoint names: the tick cannot read a changelog from a
  * snapshot that is gone, so it recomputes at the head, re-stamps the
  * checkpoint there, and the next tick is incremental again. */
class MaterializedViewExpireSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  private val project = UUID.randomUUID()
  private val store = new InMemoryCatalogStore
  private var server: CatalogServer = _
  private val cat = "mvexp"
  private var whId: UUID = _

  override def beforeAll(): Unit = {
    server = new CatalogServer(store, project).start()
    val whLoc = Files.createTempDirectory("graft-mv-expire").toUri.toString.stripSuffix("/")
    whId = store.createWarehouse(project, "wh", whLoc)
      .fold(e => fail(e.message), identity).id
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.uri", server.baseUri)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "wh")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.orders (id BIGINT, status STRING, amount DOUBLE)")
    spark.sql(s"INSERT INTO $cat.db.orders VALUES (1,'open',10.0),(2,'done',20.0)")
    spark.sql(s"CREATE TABLE $cat.db.dims (status STRING, label STRING)")
    spark.sql(s"INSERT INTO $cat.db.dims VALUES ('open','O'),('done','D')")
  }

  override def afterAll(): Unit = server.stop()

  private def graftCatalog: GraftSparkCatalog =
    org.apache.spark.sql.GraftShims.catalogPlugin(spark, Some(cat))
      .asInstanceOf[GraftSparkCatalog]

  private def refresh(mv: String): GraftMaterializedViews.RefreshMode =
    GraftMaterializedViews.refresh(spark, graftCatalog, TableIdent(Seq("db"), mv))

  private def rows(sql: String): Set[Seq[Any]] =
    spark.sql(sql).collect().map(_.toSeq).toSet

  private def metadata(name: String) =
    store.loadTable(whId, TableIdent(Seq("db"), name))
      .fold(e => fail(e.message), identity).metadata

  /** Expires every snapshot of `table` but its head. */
  private def expireAllButHead(table: String): Unit = {
    assert(metadata(table).snapshots.size > 1)
    spark.sql(s"CALL $cat.system.expire_snapshots(table => 'db.$table', " +
      s"older_than_ms => ${System.currentTimeMillis() + 60000L}, retain_last => 1)")
    assert(metadata(table).snapshots.size === 1)
  }

  test("aggregate MVs: a checkpoint expired from the source recomputes, re-stamps, then refreshes incrementally") {
    // with count(amount) the refresh folds the changelog; without it the
    // touched groups are rebuilt: two paths that read the checkpoint
    val shapes = Seq(
      "mv_fold" -> "count(*) AS n, sum(amount) AS total, count(amount) AS nv",
      "mv_rebuild" -> "count(*) AS n, sum(amount) AS total")
    shapes.foreach { case (mv, aggs) =>
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.db.$mv AS " +
        s"SELECT status, $aggs FROM $cat.db.orders GROUP BY status")
    }
    val expected = s"SELECT status, count(*), sum(amount) FROM $cat.db.orders GROUP BY status"
    def actual(mv: String) = s"SELECT status, n, total FROM $cat.db.$mv"
    val key = ChangelogApply.ckptKey(s"$cat.db.orders")
    val checkpoints = shapes.map { case (mv, _) => metadata(mv).properties(key).toLong }

    spark.sql(s"INSERT INTO $cat.db.orders VALUES (3,'open',5.0)")
    spark.sql(s"INSERT INTO $cat.db.orders VALUES (4,'new',1.0)")
    expireAllButHead("orders")
    assert(checkpoints.forall(c => !metadata("orders").snapshots.contains(c)))

    shapes.foreach { case (mv, _) =>
      assert(refresh(mv) === GraftMaterializedViews.Full)
      assert(rows(actual(mv)) === rows(expected))
      assert(metadata(mv).properties.get(key) ===
        metadata("orders").currentSnapshotId.map(_.toString))
    }

    spark.sql(s"DELETE FROM $cat.db.orders WHERE id = 1")
    shapes.foreach { case (mv, _) =>
      assert(refresh(mv) === GraftMaterializedViews.Incremental)
      assert(rows(actual(mv)) === rows(expected))
    }
  }

  test("join MV: one side's checkpoint expired recomputes both sides at their heads") {
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.db.mv_join AS
         |SELECT d.label AS label, count(*) AS n
         |FROM $cat.db.orders o JOIN $cat.db.dims d ON o.status = d.status
         |GROUP BY d.label""".stripMargin)
    val expected = s"""SELECT d.label, count(*) FROM $cat.db.orders o
                      |JOIN $cat.db.dims d ON o.status = d.status GROUP BY d.label""".stripMargin
    val actual = s"SELECT label, n FROM $cat.db.mv_join"

    spark.sql(s"INSERT INTO $cat.db.dims VALUES ('new','N')")
    spark.sql(s"INSERT INTO $cat.db.dims VALUES ('gone','G')")
    expireAllButHead("dims")

    assert(refresh("mv_join") === GraftMaterializedViews.Full)
    assert(rows(actual) === rows(expected))
    assert(metadata("mv_join").properties.get(ChangelogApply.ckptKey(s"$cat.db.dims")) ===
      metadata("dims").currentSnapshotId.map(_.toString))

    spark.sql(s"INSERT INTO $cat.db.orders VALUES (5,'new',2.0)")
    assert(refresh("mv_join") === GraftMaterializedViews.Incremental)
    assert(rows(actual) === rows(expected))
  }
}
