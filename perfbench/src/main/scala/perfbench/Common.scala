package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark run. `work` scales the fixed
  * amount of work (ops, statements, query rounds); it is derived from
  * `--seconds` by the launcher and never from a measured speed, so the
  * history a table ends with does not depend on how fast the code is. */
final case class Args(
    workload: String,
    seed: Long,
    work: Int,
    trace: Boolean,
    runDir: Path,
    dataDir: Path,
    sf: Double,
    reps: Int,
    /** Self-test only: perturb the expected result so the check must fail. */
    corrupt: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("work").toInt,
      need("trace") == "1", Path.of(need("run-dir")).toAbsolutePath,
      Path.of(need("data-dir")).toAbsolutePath, need("sf").toDouble,
      need("reps").toInt, m.get("corrupt").contains("1"))
  }
}

/** Set-up repetitions: each one builds a fresh catalog and tables (their
  * median is `setup_s`); the last one, traced in a traced run, is warmed
  * up and measured. Warming the measured tables themselves keeps the
  * first touch of each table (its first loads and plans) out of the
  * measured phase. */
object Reps {
  final class Result[E](val setupMs: Seq[Double], val warmMs: Double, val measured: E)

  def run[E](args: Args, setupOne: (Int, Boolean) => E, warm: E => Unit,
      close: E => Unit): Result[E] = {
    var warmMs = 0.0
    val setupMs = Seq.newBuilder[Double]
    val envs = (0 until args.reps).map { rep =>
      val last = rep == args.reps - 1
      val (e, ms) = Clock.timed(setupOne(rep, args.trace && last))
      setupMs += ms
      Clock.log(f"set-up $rep took $ms%.0f ms")
      if (last) {
        warmMs = Clock.timed(warm(e))._2
        Clock.log(f"warm-up took $warmMs%.0f ms")
      }
      if (!last) close(e)
      e
    }
    new Result(setupMs.result(), warmMs, envs.last)
  }
}

/** Latency samples in milliseconds. */
final class Samples {
  private val buf = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(ms: Double): Unit = buf.add(ms)
  def values: Array[Double] = buf.asScala.map(_.doubleValue).toArray.sorted
  def size: Int = buf.size
  def sum: Double = values.sum
  def mean: Double = if (size == 0) 0.0 else sum / size
  /** Linear interpolation between closest ranks (the numpy default). */
  def pct(p: Double): Double = Samples.pct(values, p)
}

object Samples {
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = p * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 0.5)
}

/** One traced interval. Times are `System.nanoTime`; `parent` is 0 for a
  * root span and `op` groups every span of one workload operation. */
final case class Span(id: Long, name: String, layer: String, start: Long, end: Long,
    var parent: Long, var op: Long, table: String) {
  def dur: Long = end - start
}

/** In-memory span store; written out once, when the run ends. */
final class Trace {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Time spent in the tracing hooks' own bookkeeping: the tracing overhead. */
  val hookNs = new java.util.concurrent.atomic.LongAdder
  def hook[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally hookNs.add(System.nanoTime() - t0)
  }
  def nextId(): Long = ids.incrementAndGet()
  /** Forget the set-up: only the measured phase is reported. */
  def reset(): Unit = { spans.clear(); hookNs.reset() }
  def add(name: String, layer: String, start: Long, end: Long,
      parent: Long = 0, op: Long = 0, table: String = ""): Long = hook {
    val id = nextId()
    spans.add(Span(id, name, layer, start, end, parent, op, table))
    id
  }
  def all: Seq[Span] = spans.asScala.toSeq

  /** Parent each span of `childLayer` that has none to the tightest span
    * of `parentLayer` whose interval contains it (same table when the
    * child names one and the parent does too). */
  def parentByContainment(childLayer: String, parentLayer: String): Unit = {
    val parents = all.filter(_.layer == parentLayer).sortBy(_.start).toArray
    val starts = parents.map(_.start)
    all.iterator.filter(s => s.layer == childLayer && s.parent == 0).foreach { c =>
      var i = java.util.Arrays.binarySearch(starts, c.start)
      if (i < 0) i = -i - 2
      var best: Span = null
      while (i >= 0 && best == null && c.start - parents(i).start < 120_000_000_000L) {
        val p = parents(i)
        if (p.start <= c.start && p.end >= c.end &&
            (c.table.isEmpty || p.table.isEmpty || p.table == c.table)) best = p
        i -= 1
      }
      if (best != null) { c.parent = best.id; c.op = best.op }
    }
  }

  /** Self time of each layer in ns: span time minus the part of it that
    * its children cover. */
  def selfTimeByLayer(fromNs: Long, toNs: Long): Map[String, Long] = {
    val inside = all.filter(s => s.start >= fromNs && s.end <= toNs)
    val byParent = inside.filter(_.parent != 0).groupBy(_.parent)
    inside.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        s.dur - covered
      }.sum
    }
  }

  def write(path: Path): Unit = {
    val sb = new java.lang.StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""")
        .append(s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},""")
        .append(s""""op":${s.op},"table":"${s.table}"}""").append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }
}

/** Collected output of one run; serialized for the launcher. */
final class Report {
  val mapper = new ObjectMapper()
  private val metrics = mapper.createObjectNode()
  val probes: ObjectNode = mapper.createObjectNode()
  private val checks = mapper.createArrayNode()
  val env: ObjectNode = mapper.createObjectNode()
  /** Every timed operation, in order: class and milliseconds. */
  val ops = mapper.createArrayNode()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = {
    val o = metrics.putObject(name)
    o.put("value", if (value.isNaN || value.isInfinite) 0.0 else value)
    o.put("unit", unit)
  }
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    val o = checks.addObject()
    o.put("name", name); o.put("ok", ok); o.put("detail", detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
  def write(path: Path): Unit = {
    val root = mapper.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.set[ObjectNode]("metrics", metrics)
    root.set("checks", checks)
    root.set[ObjectNode]("probes", probes)
    root.set[ObjectNode]("bench_env", env)
    root.set("ops", ops)
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root), StandardCharsets.UTF_8)
  }
}

object Clock {
  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the driver started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%6.1fs $msg")
  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Process-level measurements: GC time, live heap after a full GC. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  /** Smallest used heap over three full GCs a moment apart: objects held
    * only by weak references (Spark's context cleaner) are cleared by a
    * background thread between collections. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(150)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
