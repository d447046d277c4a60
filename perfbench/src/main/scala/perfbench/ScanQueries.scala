package perfbench

import graft.catalog.TableIdent
import graft.core.SnapshotRefType
import graft.engine.{GraftTable, RestCatalogClient}

import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** `scan_queries`: one read-only Spark session over catalog tables.
  * `lineitem` is partitioned by `months(l_shipdate)` and loaded through
  * many date-ranged appends (so its snapshot references many manifests),
  * with a tag at the mid-load snapshot and two merge-on-read key deletes.
  * The measured phase runs a fixed query set (selective, full scans and
  * joins, metadata-answered counts, time travel to the tag, the `.files`
  * metadata table) and commits nothing. */
object ScanQueries {
  val Classes = Seq("selective", "full", "metadata", "time_travel")
  /** Query rounds before the measured phase. The first measured round still
    * runs 10-25% slower than the later ones (JIT warm-up); the measured phase
    * has enough rounds that one slow round's slowest queries lie above the
    * 95th percentile. */
  val WarmRounds = 1
  val LineitemCols = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
    "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate DATE"
  val OrdersCols = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING"

  final class Env(val cat: Catalog, val name: String)

  def run(args: Args, report: Report, trace: Trace): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sparkMs) = Clock.timed(SparkRig.session(cores))
    val script = report.mapper.readTree(Files.readString(args.dataDir.resolve("scan_script.json")))
    val bounds = script.get("bounds").asScala.map(_.asText()).toIndexedSeq
    val tagAfter = script.get("tag_after").asInt()
    val queries = script.get("queries").asScala.toSeq
    spark.read.parquet(args.dataDir.resolve("lineitem.parquet").toString)
      .createOrReplaceTempView("src_lineitem")
    spark.read.parquet(args.dataDir.resolve("orders.parquet").toString)
      .createOrReplaceTempView("src_orders")

    def setupOne(rep: Int, traced: Boolean): Env = {
      val env = new Env(new Catalog(args.runDir.resolve(s"rep$rep"), traced, trace), s"bench$rep")
      SparkRig.attachCatalog(spark, env.name, env.cat)
      val li = s"${env.name}.db.lineitem"
      spark.sql(s"CREATE NAMESPACE ${env.name}.db")
      spark.sql(s"CREATE TABLE $li ($LineitemCols) PARTITIONED BY (months(l_shipdate)) " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      // orders shares nothing with lineitem, so it loads concurrently
      val orders = Future {
        spark.sql(s"CREATE TABLE ${env.name}.db.orders ($OrdersCols)")
        spark.sql(s"INSERT INTO ${env.name}.db.orders SELECT o_orderkey, o_custkey, " +
          "o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE), o_orderpriority FROM src_orders")
      }(ExecutionContext.global)
      val client = new RestCatalogClient(env.cat.baseUri)
      val table = new GraftTable(client, client.config("wh"), TableIdent(Seq("db"), "lineitem"))
      bounds.indices.init.foreach { i =>
        spark.sql(s"INSERT INTO $li SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, " +
          "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, " +
          "CAST(l_shipdate AS DATE) FROM src_lineitem " +
          s"WHERE CAST(l_shipdate AS DATE) >= DATE '${bounds(i)}' " +
          s"AND CAST(l_shipdate AS DATE) < DATE '${bounds(i + 1)}'")
        if (i + 1 == tagAfter) table.createRef("mid", SnapshotRefType.Tag)
      }
      script.get("deletes").asScala.foreach(d => spark.sql(s"DELETE FROM $li WHERE ${d.asText()}"))
      Await.result(orders, Duration.Inf)
      env
    }
    def sql(env: Env, q: String): String = q
      .replace("{li_mid}", s"${env.name}.db.lineitem VERSION AS OF 'mid'")
      .replace("{li}", s"${env.name}.db.lineitem")
      .replace("{orders}", s"${env.name}.db.orders")
      .replace("{files}", s"${env.name}.db.lineitem.files")
    def round(env: Env, clock: Option[StmtClock]): Seq[Seq[org.apache.spark.sql.Row]] =
      queries.map { q =>
        val text = sql(env, q.get("sql").asText())
        val run = () => spark.sql(text).collect().toSeq
        try clock.fold(run())(c => c(q.get("class").asText(), isWrite = false)(run()))
        catch { case e: Exception =>
          throw new IllegalStateException(s"query ${q.get("name").asText()} failed", e) }
      }
    def close(env: Env): Unit = { env.cat.close(); env.cat.shutdownDb() }

    val reps = Reps.run[Env](args, setupOne, env => (1 to WarmRounds).foreach(_ => round(env, None)), close)

    val env = reps.measured
    val probe = new SparkProbe(trace)
    if (args.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    trace.reset()
    val clock = new StmtClock(trace, args.trace)
    val gc0 = Jvm.gcMs
    val w0 = System.nanoTime()
    val results = (0 until args.work).map(_ => round(env, Some(clock)))
    val w1 = System.nanoTime()
    val wallMs = Clock.ms(w0, w1)
    Clock.log(f"measured ${Clock.ms(w0, w1)}%.0f ms")
    if (args.trace) org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    val gc = Jvm.gcMs - gc0
    val heap = Jvm.liveHeapMb()

    val all = clock.stmts.toSeq
    report.attempted = all.size
    report.failed = 0
    report.metric("setup_s", (sparkMs + Samples.median(reps.setupMs) + reps.warmMs) / 1000.0, "s")
    report.metric("read_p50_ms", SparkRig.samplesPct(all, 0.5), "ms")
    report.metric("read_p95_ms", SparkRig.samplesPct(all, 0.95), "ms")
    report.metric("ops_per_s", all.size / (wallMs / 1000.0), "1/s")
    report.metric("heap_live_mb", heap, "MB")
    report.metric("read_samples", all.size, "count")
    report.metric("setup.warmup_s", reps.warmMs / 1000.0, "s")
    report.metric("setup.spark_s", sparkMs / 1000.0, "s")
    SparkLayers.classLatencies(report, "read_p50_ms", all, Classes)
    SparkLayers.recordOps(report, all)

    val unstable = results.indices.filter(r => results(r) != results.head)
    report.check("scan_queries.repeatable", unstable.isEmpty,
      s"rounds ${unstable.mkString(",")} differ from round 0")
    val qs = report.probes.putObject("queries")
    queries.zip(results.head).foreach { case (q, rows) =>
      SparkRig.rowsJson(qs.putArray(q.get("name").asText()), rows)
    }

    if (args.trace) {
      val timed = env.cat.timed.get
      val w = Layers.Window(w0, w1)
      Layers.catalog(report, timed, w, all.size)
      val loads = timed.snapshot.count(c => w.contains(c) && timed.isLoad(c))
      report.metric("engine.loads_per_stmt", loads.toDouble / all.size, "count")
      val m = env.cat.store.loadTable(env.cat.warehouse.id, TableIdent(Seq("db"), "lineitem"))
        .fold(e => throw e, _.metadata)
      report.metric("engine.snapshot_manifests", m.currentSnapshot.map(s =>
        graft.engine.Manifests.readEntries(s.manifestList).size).getOrElse(0).toDouble, "count")
      SparkLayers.report(report, probe, all, Classes, SparkRig.dataBytes(m))
      Layers.core(report, CoreProbes.run(m, trace))
      probe.jobSpans(trace, all)
      trace.parentByContainment("catalog", "op")
      Layers.selfTimes(report, trace, w, all.size)
      Layers.jvmAndOverhead(report, trace, gc, wallMs)
    }
    env.cat.close()
    env.cat.shutdownDb()
  }
}
