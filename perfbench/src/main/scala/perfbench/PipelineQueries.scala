package perfbench

import graft.{SparkEntry, Tables}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** `pipeline_queries`: a fixed subset of `SparkEntry.queries`, one query
  * per family, over the generated parquet tables (no catalog). Each
  * execution constructs the query, plans it and runs it to the `noop`
  * sink. The subset mixes a construct-heavy family (connected-components
  * dedup) with execute-heavy ones (ANN, n-gram dedup); it is kept to three
  * queries so a run fits the benchmark's time budget. */
object PipelineQueries {
  val Subset: Seq[String] = Seq(
    "q_dedup_clusters",       // connected-components dedup: label rounds at construction
    "q_ann_ivf_topk",         // ANN: IVF probe + top-k
    "q_dedup_ngram_jaccard")  // n-gram dedup: pair expansion
  val Inputs: Seq[String] = Seq("documents", "embeddings")

  def run(args: Args, report: Report, trace: Trace): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sparkMs) = Clock.timed(SparkRig.session(cores))
    val dir = args.dataDir.toString
    val queries = Subset.map(n => n -> SparkEntry.queries(n))

    // a set-up resolves the input tables (schemas, file listings)
    def setupOne(rep: Int, traced: Boolean): Unit =
      Inputs.foreach(t => Tables.load(spark, dir, t).schema)
    // The warm-up execution writes each result for the oracle check. The
    // queries warm up concurrently: a first execution is mostly
    // single-threaded JIT and planning work, so this shortens set-up.
    def warm(u: Unit): Unit = {
      implicit val ec: ExecutionContext = ExecutionContext.global
      queries.map { case (name, f) =>
        Future(f(spark, dir).write.mode("overwrite").parquet(args.runDir.resolve(s"out/$name").toString))
      }.foreach(Await.result(_, Duration.Inf))
    }
    val reps = Reps.run[Unit](args, setupOne, warm, _ => ())

    final case class Exec(construct: Double, plan: Double, exec: Double)
    val probe = new SparkProbe(trace)
    if (args.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    trace.reset()
    val clock = new StmtClock(trace, args.trace)
    val gc0 = Jvm.gcMs
    val w0 = System.nanoTime()
    val execs = (0 until args.work).flatMap { _ =>
      queries.map { case (name, f) =>
        clock(name, isWrite = false) {
          val a = System.nanoTime()
          val df = f(spark, dir)
          val b = System.nanoTime()
          df.queryExecution.executedPlan
          val d = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val g = System.nanoTime()
          if (args.trace) {
            trace.add("construct", "pipeline", a, b, table = name)
            trace.add("plan", "pipeline", b, d, table = name)
            trace.add("execute", "pipeline", d, g, table = name)
          }
          Exec(Clock.ms(a, b), Clock.ms(b, d), Clock.ms(d, g))
        }
      }
    }
    val w1 = System.nanoTime()
    val wallMs = Clock.ms(w0, w1)
    Clock.log(f"measured $wallMs%.0f ms")
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
    SparkLayers.classLatencies(report, "read_p50_ms", all, Subset)
    SparkLayers.recordOps(report, all)
    report.metric("pipeline.construct_ms", Samples.median(execs.map(_.construct)), "ms")
    report.metric("pipeline.plan_ms", Samples.median(execs.map(_.plan)), "ms")
    report.metric("pipeline.exec_ms", Samples.median(execs.map(_.exec)), "ms")

    val qs = report.probes.putObject("queries")
    Subset.foreach { name =>
      val o = qs.putObject(name)
      o.put("oracle_sql", SparkEntry.oracleSql(name))
      o.put("out_dir", args.runDir.resolve(s"out/$name").toString)
    }

    if (args.trace) {
      SparkLayers.report(report, probe, all, Nil, 0L)
      probe.jobSpans(trace, all)
      trace.parentByContainment("pipeline", "op")
      Layers.selfTimes(report, trace, Layers.Window(w0, w1), all.size)
      Layers.jvmAndOverhead(report, trace, gc, wallMs)
    }
  }
}
