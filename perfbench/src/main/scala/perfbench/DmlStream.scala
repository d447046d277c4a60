package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** `dml_stream`: one Spark session through `GraftSparkCatalog` runs the
  * generator's seeded write sequence against two orders tables (default
  * write mode, and `write.delete.mode=merge-on-read`), with a
  * read-your-write query after each write, and maintenance
  * (rewrite_data_files, expire_snapshots) plus an aggregate MV refresh
  * every few writes. */
object DmlStream {
  val Classes = Seq("insert", "merge", "update", "delete", "maintenance", "mv_refresh")
  val WarmReads = 4
  val Columns = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING"

  final class Env(val cat: Catalog, val name: String)

  def run(args: Args, report: Report, trace: Trace): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sparkMs) = Clock.timed(SparkRig.session(cores))
    val script = report.mapper.readTree(Files.readString(
      args.dataDir.resolve(s"dml_script_${args.work}.json")))
    val stmts = script.get("statements").asScala.toSeq
    spark.read.parquet(args.dataDir.resolve("orders.parquet").toString)
      .createOrReplaceTempView("src_orders")

    def setupOne(rep: Int, traced: Boolean): Env = {
      val env = new Env(new Catalog(args.runDir.resolve(s"rep$rep"), traced, trace), s"bench$rep")
      SparkRig.attachCatalog(spark, env.name, env.cat)
      val c = env.name
      spark.sql(s"CREATE NAMESPACE $c.db")
      // the two tables share nothing, so they load concurrently
      implicit val ec: ExecutionContext = ExecutionContext.global
      Seq("orders_cow" -> "", "orders_mor" ->
        " TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')").map { case (t, props) =>
        Future {
          spark.sql(s"CREATE TABLE $c.db.$t ($Columns)$props")
          spark.sql(s"INSERT INTO $c.db.$t SELECT o_orderkey, o_custkey, o_orderstatus, " +
            "o_totalprice, CAST(o_orderdate AS DATE), o_orderpriority FROM src_orders")
          spark.sql(s"CREATE MATERIALIZED VIEW $c.db.mv_${t.stripPrefix("orders_")} AS " +
            s"${script.get("mv_select").asText()} FROM $c.db.$t GROUP BY o_orderstatus")
        }
      }.foreach(Await.result(_, Duration.Inf))
      env
    }
    def exec(sqls: JsonNode, c: String): Unit =
      sqls.asScala.foreach { q =>
        try spark.sql(q.asText().replace("{cat}", c)).collect()
        catch { case e: Exception =>
          throw new IllegalStateException(s"statement failed: ${q.asText().take(160)}", e) }
      }
    def close(env: Env): Unit = { env.cat.close(); env.cat.shutdownDb() }

    // warm-up: the script's reads, on the measured set-up's tables (that
    // set-up follows a full one, which warms the write path)
    def readsOf(st: JsonNode): Seq[JsonNode] = Option(st.get("reads")).toSeq.flatMap(_.asScala)
    // the first writes' reads touch both tables
    def warm(env: Env): Unit = stmts.flatMap(readsOf).take(WarmReads)
      .foreach(r => spark.sql(r.get("spark").asText().replace("{cat}", env.name)).collect())
    val reps = Reps.run[Env](args, setupOne, warm, close)

    /** The measured phase; read-your-write results go to the probes. */
    def measure(env: Env): (StmtClock, Double) = {
      val clock = new StmtClock(trace, args.trace)
      val ryw = report.probes.putArray("ryw")
      val t0 = System.nanoTime()
      stmts.foreach { st =>
        clock(st.get("kind").asText(), isWrite = true)(exec(st.get("spark"), env.name))
        readsOf(st).foreach { r =>
          val rows = clock("read", isWrite = false)(
            spark.sql(r.get("spark").asText().replace("{cat}", env.name)).collect())
          SparkRig.rowsJson(ryw.addArray(), rows.toSeq)
        }
      }
      (clock, Clock.ms(t0, System.nanoTime()))
    }

    val env = reps.measured
    val probe = new SparkProbe(trace)
    if (args.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    trace.reset()
    val before = WarehouseWalk.list(env.cat.warehouseDir)
    val mutations0 = env.cat.timed.map(_.mutations.sum()).getOrElse(0L)
    val events0 = env.cat.events.map(_.received.get()).getOrElse(0L)
    val gc0 = Jvm.gcMs
    val w0 = System.nanoTime()
    val (clock, wallMs) = measure(env)
    val w1 = System.nanoTime()
    Clock.log(f"measured ${Clock.ms(w0, w1)}%.0f ms")
    if (args.trace) org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    val gc = Jvm.gcMs - gc0
    val heap = Jvm.liveHeapMb()
    val added = WarehouseWalk.added(before, WarehouseWalk.list(env.cat.warehouseDir))

    val all = clock.stmts.toSeq
    val writes = all.filter(_.isWrite)
    val reads = all.filterNot(_.isWrite)
    report.attempted = all.size
    report.failed = 0
    report.metric("setup_s", (sparkMs + Samples.median(reps.setupMs) + reps.warmMs) / 1000.0, "s")
    report.metric("read_p50_ms", SparkRig.samplesPct(reads, 0.5), "ms")
    report.metric("read_p95_ms", SparkRig.samplesPct(reads, 0.95), "ms")
    report.metric("ops_per_s", all.size / (wallMs / 1000.0), "1/s")
    report.metric("heap_live_mb", heap, "MB")
    report.metric("commit_p50_ms", SparkRig.samplesPct(writes, 0.5), "ms")
    report.metric("commit_p95_ms", SparkRig.samplesPct(writes, 0.95), "ms")
    report.metric("failed_ratio", 0.0, "ratio")
    report.metric("read_samples", reads.size, "count")
    report.metric("commit_samples", writes.size, "count")
    report.metric("setup.warmup_s", reps.warmMs / 1000.0, "s")
    report.metric("setup.spark_s", sparkMs / 1000.0, "s")
    SparkLayers.classLatencies(report, "commit_p50_ms", writes, Classes)
    SparkLayers.recordOps(report, all)

    val fin = report.probes.putObject("final")
    script.get("final").asScala.foreach { p =>
      SparkRig.rowsJson(fin.putArray(p.get("name").asText()),
        spark.sql(p.get("spark").asText().replace("{cat}", env.name)).collect().toSeq)
    }

    if (args.trace) {
      val timed = env.cat.timed.get
      val commits = timed.snapshot.count(c => Layers.Window(w0, w1).contains(c) &&
        timed.isCommit(c) && c.ok)
      Layers.files(report, added, commits, engine = true)
      Layers.catalog(report, timed, Layers.Window(w0, w1), all.size)
      val loads = timed.snapshot.count(c => Layers.Window(w0, w1).contains(c) && timed.isLoad(c))
      report.metric("engine.loads_per_stmt", loads.toDouble / all.size, "count")
      val metas = Seq("orders_cow", "orders_mor").map(t => t -> env.cat.store.loadTable(
        env.cat.warehouse.id, graft.catalog.TableIdent(Seq("db"), t)).fold(e => throw e, _.metadata))
      val manifests = metas.map { case (_, m) =>
        m.currentSnapshot.map(s => graft.engine.Manifests.readEntries(s.manifestList).size)
          .getOrElse(0) }
      report.metric("engine.snapshot_manifests", manifests.sum.toDouble / manifests.size, "count")
      val dataBytes = metas.map { case (_, m) => SparkRig.dataBytes(m) }.sum / metas.size
      SparkLayers.report(report, probe, all, Classes :+ "read", dataBytes)
      env.cat.close()
      val events = env.cat.events.get.received.get() - events0
      report.metric("service.event_ratio",
        events.toDouble / math.max(1L, timed.mutations.sum() - mutations0), "ratio")
      Layers.core(report, CoreProbes.run(metas.map(_._2)
        .maxBy(m => graft.core.JsonCodecs.metadataToJson(m).length), trace))
      probe.jobSpans(trace, all)
      trace.parentByContainment("catalog", "op")
      Layers.selfTimes(report, trace, Layers.Window(w0, w1), all.size)
      Layers.jvmAndOverhead(report, trace, gc, Clock.ms(w0, w1))
    }
    env.cat.close()
    env.cat.shutdownDb()
  }
}
