package perfbench

import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed workload operation (a statement or a query execution). */
final case class Stmt(cls: String, isWrite: Boolean, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, opId: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

object SparkRig {
  /** The session the engine runs in: `local[nproc]`, the graft SQL
    * extensions and the parquet field-id settings the catalog tables
    * need, as in the repository's own sessions. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Clock.log("spark session up")
    s
  }

  def samplesPct(stmts: Seq[Stmt], p: Double): Double =
    Samples.pct(stmts.map(_.ms).sorted.toArray, p)

  /** Bytes of the data files (not delete files) a snapshot references. */
  def dataBytes(m: graft.core.TableMetadata): Long =
    m.currentSnapshot.fold(0L) { s =>
      graft.engine.Manifests.filesOf(graft.engine.Manifests.readEntries(s.manifestList))
        .filterNot(_.isDeleteFile).map(_.sizeBytes).sum
    }

  def attachCatalog(spark: SparkSession, name: String, cat: Catalog): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.engine.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.uri", cat.baseUri)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", "wh")
  }

  /** Rows as JSON arrays (numbers stay numbers, everything else a string)
    * for the launcher's comparison against the oracle. */
  def rowsJson(out: ArrayNode, rows: Seq[Row]): ArrayNode = {
    rows.foreach { r =>
      val a = out.addArray()
      (0 until r.length).foreach { i =>
        r.get(i) match {
          case null => a.addNull()
          case v: java.lang.Long => a.add(v.longValue)
          case v: java.lang.Integer => a.add(v.longValue)
          case v: java.lang.Double => a.add(v.doubleValue)
          case v: java.lang.Float => a.add(v.doubleValue)
          case v: java.math.BigDecimal => a.add(v.doubleValue)
          case v => a.add(v.toString)
        }
      }
    }
    out
  }
}

/** Spark-side counters for the traced run: a `SparkListener` (jobs,
  * stages, tasks and their metrics) and a `QueryExecutionListener`
  * (planning phases). Attributed to statements by time when the run ends. */
final class SparkProbe(trace: Trace) extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var bytesRead = 0L; var recordsRead = 0L
    var shuffleBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** (callback wall ms, planning ms) of every finished query execution. */
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    trace.hook(jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds)))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    trace.hook(Option(jobs.get(e.jobId)).foreach(_.end = e.time))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = trace.hook {
    val agg = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    val m = e.taskMetrics
    agg.synchronized {
      agg.tasks += 1
      if (m != null) {
        agg.cpuNs += m.executorCpuTime
        agg.bytesRead += m.inputMetrics.bytesRead
        agg.recordsRead += m.inputMetrics.recordsRead
        agg.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    trace.hook {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get)
        .map(_.durationMs.toDouble).sum
      plans.add((System.currentTimeMillis(), ms))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  final case class PerStmt(jobs: Int, stages: Int, tasks: Long, cpuMs: Double,
      bytesRead: Long, recordsRead: Long, shuffleKb: Double, jobMs: Double, planMs: Double)

  /** Counters of the jobs started, and plans finished, inside each
    * statement's wall-clock interval. */
  def attribute(stmts: Seq[Stmt]): Seq[PerStmt] = {
    val js = jobs.values().asScala.toSeq.sortBy(_.start)
    val ps = plans.asScala.toSeq
    stmts.map { s =>
      val mine = js.filter(j => j.start >= s.startMs && j.start <= s.endMs)
      val st = mine.flatMap(_.stages).flatMap(id => Option(stages.get(id)))
      // union of job intervals, clipped to the statement
      val ivs = mine.map(j => (math.max(j.start, s.startMs),
        math.min(if (j.end < 0) s.endMs else j.end, s.endMs))).filter(i => i._2 > i._1)
        .sortBy(_._1)
      var covered = 0L; var cs = Long.MinValue; var ce = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b } else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      PerStmt(mine.size, st.size, st.map(_.tasks).sum, st.map(_.cpuNs).sum / 1e6,
        st.map(_.bytesRead).sum, st.map(_.recordsRead).sum, st.map(_.shuffleBytes).sum / 1024.0,
        covered.toDouble,
        ps.filter(p => p._1 >= s.startMs && p._1 <= s.endMs + 50).map(_._2).sum)
    }
  }

  def jobSpans(trace: Trace, stmts: Seq[Stmt]): Unit = {
    // epoch ms -> nanoTime offset, measured once
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    jobs.values().asScala.filter(_.end > 0).foreach { j =>
      val owner = stmts.find(s => j.start >= s.startMs && j.start <= s.endMs)
      trace.add(s"job-${j.id}", "spark", j.start * 1000000L + offset, j.end * 1000000L + offset,
        parent = owner.map(_.opId).getOrElse(0L), op = owner.map(_.opId).getOrElse(0L))
    }
  }
}

/** The Spark-side per-layer metrics of a traced pass over `stmts`. */
object SparkLayers {
  def report(report: Report, probe: SparkProbe, stmts: Seq[Stmt], classes: Seq[String],
      dataBytes: Long): Unit = {
    val per = probe.attribute(stmts)
    val n = math.max(1, stmts.size).toDouble
    def avg(f: SparkProbe#PerStmt => Double, sel: Seq[Int] = per.indices): Double =
      if (sel.isEmpty) 0.0 else sel.map(i => f(per(i))).sum / sel.size
    val wallMs = stmts.map(_.ms).sum
    val driverMs = stmts.zip(per).map { case (s, p) => math.max(0.0, s.ms - p.jobMs) }
    report.metric("spark.plan_ms", avg(_.planMs), "ms")
    report.metric("spark.jobs_per_stmt", avg(_.jobs.toDouble), "count")
    report.metric("spark.stages_per_stmt", avg(_.stages.toDouble), "count")
    report.metric("spark.tasks_per_stmt", avg(_.tasks.toDouble), "count")
    report.metric("spark.task_cpu_ms_per_stmt", avg(_.cpuMs), "ms")
    report.metric("spark.shuffle_kb_per_stmt", avg(_.shuffleKb), "KB")
    report.metric("engine.driver_ms", driverMs.sum / n, "ms")
    report.metric("engine.driver_share", if (wallMs > 0) driverMs.sum / wallMs else 0.0, "ratio")
    val reads = stmts.indices.filterNot(i => stmts(i).isWrite)
    report.metric("scan.bytes_read", avg(_.bytesRead.toDouble, reads), "B")
    report.metric("scan.records_read", avg(_.recordsRead.toDouble, reads), "count")
    report.metric("scan.read_share",
      if (dataBytes > 0) avg(_.bytesRead.toDouble, reads) / dataBytes else 0.0, "ratio")
    classes.foreach { c =>
      val sel = stmts.indices.filter(i => stmts(i).cls == c)
      report.metric(s"spark.tasks_per_stmt.$c", avg(_.tasks.toDouble, sel), "count")
      report.metric(s"spark.shuffle_kb_per_stmt.$c", avg(_.shuffleKb, sel), "KB")
      report.metric(s"engine.driver_ms.$c",
        if (sel.isEmpty) 0.0 else sel.map(driverMs).sum / sel.size, "ms")
    }
  }

  /** p50 latency of each statement class. */
  def classLatencies(report: Report, prefix: String, stmts: Seq[Stmt], classes: Seq[String]): Unit =
    classes.foreach { c =>
      val s = new Samples
      stmts.filter(_.cls == c).foreach(x => s.add(x.ms))
      report.metric(s"$prefix.$c", s.pct(0.5), "ms")
    }

  def recordOps(report: Report, stmts: Seq[Stmt]): Unit =
    stmts.foreach { s => val o = report.ops.addObject(); o.put("class", s.cls); o.put("ms", s.ms) }
}

/** Times statements and keeps their intervals. */
final class StmtClock(trace: Trace, traced: Boolean) {
  val stmts = mutable.ArrayBuffer.empty[Stmt]
  def apply[A](cls: String, isWrite: Boolean)(f: => A): A = {
    val opId = if (traced) trace.nextId() else 0L
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
    stmts += Stmt(cls, isWrite, t0, t1, ms0, ms1, opId)
    // no table on the span: one statement runs at a time, so every store
    // call inside its interval belongs to it, whichever table it touches
    if (traced) trace.hook(trace.spans.add(Span(opId, cls, "op", t0, t1, 0, opId, "")))
    r
  }
}
