package perfbench

import java.nio.file.Files

/** One benchmark run in one JVM: set up, measure, check, and write
  * `jvm_result.json` (metrics, checks, probes for the launcher's oracle,
  * `bench_env`) into the run directory. The launcher `run.py` starts it. */
object Main {
  def main(a: Array[String]): Unit = {
    val args = Args.parse(a)
    Files.createDirectories(args.runDir)
    val report = new Report
    val trace = new Trace
    val env = report.env
    env.put("workload", args.workload)
    env.put("seed", args.seed)
    env.put("work", args.work)
    env.put("sf", args.sf)
    env.put("traced", args.trace)
    env.put("nproc", Runtime.getRuntime.availableProcessors())
    env.put("loadavg_before", Jvm.loadAvg)
    env.put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    env.put("heap_max_mb", Runtime.getRuntime.maxMemory() / (1024 * 1024))
    env.put("store", "jdbc (embedded Derby, default durability)")
    val code =
      try {
        args.workload match {
          case "commit_stream" => CommitStream.run(args, report, trace)
          case "dml_stream" => DmlStream.run(args, report, trace)
          case "scan_queries" => ScanQueries.run(args, report, trace)
          case "pipeline_queries" => PipelineQueries.run(args, report, trace)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          report.check("run.completed", ok = false, String.valueOf(e))
          3
      }
    Clock.log("done")
    env.put("loadavg_after", Jvm.loadAvg)
    if (args.trace) trace.write(args.runDir.resolve("spans.jsonl"))
    report.write(args.runDir.resolve("jvm_result.json"))
    System.out.flush()
    // the catalog server pools and Spark leave non-daemon threads behind
    Runtime.getRuntime.halt(code)
  }
}
