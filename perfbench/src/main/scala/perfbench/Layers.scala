package perfbench

/** Per-layer metrics shared by the workloads of the traced run. */
object Layers {
  final case class Window(startNs: Long, endNs: Long) {
    def wallMs: Double = (endNs - startNs) / 1e6
    def contains(c: StoreCall): Boolean = c.start >= startNs && c.end <= endNs
  }

  /** `catalog` metrics from the store decorator's calls inside the window. */
  def catalog(report: Report, store: TimedStore, w: Window, ops: Long): Unit = {
    val calls = store.snapshot.filter(w.contains)
    val loads = new Samples; calls.filter(store.isLoad).foreach(c => loads.add(c.ms))
    val commits = new Samples; calls.filter(store.isCommit).foreach(c => commits.add(c.ms))
    val conflicts = calls.count(c => store.isCommit(c) && c.code == 409)
    report.metric("catalog.load_ms", loads.mean, "ms")
    report.metric("catalog.load_p95_ms", loads.pct(0.95), "ms")
    report.metric("catalog.commit_ms", commits.mean, "ms")
    report.metric("catalog.commit_p95_ms", commits.pct(0.95), "ms")
    report.metric("catalog.loads_per_op", loads.size.toDouble / math.max(1L, ops), "count")
    report.metric("catalog.commits_per_op", commits.size.toDouble / math.max(1L, ops), "count")
    report.metric("catalog.conflict_ratio",
      if (commits.size == 0) 0.0 else conflicts.toDouble / commits.size, "ratio")
    report.metric("catalog.busy_share", calls.map(_.ms).sum / w.wallMs, "ratio")
  }

  /** Bytes of new warehouse objects per committed snapshot, by kind. */
  def files(report: Report, added: Map[String, (Long, Long)], commits: Long,
      engine: Boolean): Unit = {
    def n(k: String) = added.get(k).fold(0L)(_._1).toDouble / math.max(1L, commits)
    def b(k: String) = added.get(k).fold(0L)(_._2).toDouble / math.max(1L, commits)
    report.metric("bytes_per_commit", added.values.map(_._2).sum.toDouble / math.max(1L, commits), "B")
    report.metric("catalog.meta_bytes_per_commit", b("metadata"), "B")
    report.metric("engine.manifest_files_per_commit", if (engine) n("manifest") else 0.0, "count")
    report.metric("engine.avro_files_per_commit", if (engine) n("avro") else 0.0, "count")
    report.metric("engine.manifest_bytes_per_commit",
      if (engine) b("manifest") + b("avro") else 0.0, "B")
    report.metric("engine.data_files_per_commit", if (engine) n("data") else 0.0, "count")
    report.metric("engine.data_bytes_per_commit", if (engine) b("data") else 0.0, "B")
  }

  def core(report: Report, r: CoreProbes.Result): Unit = {
    report.metric("core.encode_ms", r.encodeMs, "ms")
    report.metric("core.decode_ms", r.decodeMs, "ms")
    report.metric("core.build_ms", r.buildMs, "ms")
    report.metric("catalog.meta_kb", r.jsonBytes / 1024.0, "KB")
  }

  /** Self time per layer over the ops of the traced pass. */
  def selfTimes(report: Report, trace: Trace, w: Window, ops: Long): Unit = {
    val self = trace.selfTimeByLayer(w.startNs, w.endNs)
    Seq("op" -> "engine.self_ms_per_op", "server" -> "server.self_ms_per_op",
      "catalog" -> "catalog.self_ms_per_op", "spark" -> "spark.self_ms_per_op",
      "pipeline" -> "pipeline.self_ms_per_op").foreach { case (layer, name) =>
      report.metric(name, self.getOrElse(layer, 0L) / 1e6 / math.max(1L, ops), "ms")
    }
    report.metric("trace.spans", trace.spans.size.toDouble, "count")
  }

  /** GC share of the measured phase, and the tracing overhead: time spent
    * in the hooks' own bookkeeping (listener thread included) per wall
    * second of it. */
  def jvmAndOverhead(report: Report, trace: Trace, gcMs: Long, wallMs: Double): Unit = {
    report.metric("jvm.gc_share", gcMs / wallMs, "ratio")
    report.metric("trace.overhead_share", trace.hookNs.sum() / 1e6 / wallMs, "ratio")
  }
}
