package perfbench

import graft.catalog.{CatalogError, TableIdent}
import graft.core._
import graft.engine.RestCatalogClient

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `commit_stream`: the catalog alone, no Spark. `nproc` REST clients each
  * loop over "3 x loadTable, then one append commit" (AddSnapshot +
  * SetSnapshotRef guarded by AssertRefSnapshotId; a 409 reloads and
  * retries). Half the cycles go to one hot table that every client
  * shares, so commits conflict; the rest spread over a tail of tables
  * whose histories run from tens to a couple of thousand snapshots. */
object CommitStream {
  val Ns: Seq[String] = Seq("bench")
  val TailTables = 11
  val MaxAttempts = 50
  val WarmCommits = 10
  private val IdType = IType.TLong
  val schema: Schema = Schema(0, Seq(
    NestedField.required(1, "id", IdType),
    NestedField.optional(2, "payload", IType.TString)))

  /** Table names and history lengths; index 0 is the hot table. The tail
    * histories form a fixed geometric ladder from 20 to 2000 snapshots,
    * so every seed sees the same spread of history lengths. */
  def tables: IndexedSeq[(String, Int)] =
    ("hot", 200) +: (1 to TailTables).map { i =>
      val n = 20 * math.pow(100.0, (i - 1).toDouble / (TailTables - 1))
      (f"tail_$i%02d", math.round(n).toInt)
    }

  /** A linear history of `n` appends, built by the benchmark (the
    * generator side), written with the program's metadata writer and
    * adopted through REST register. Returns the seeded snapshot ids. */
  def seedTable(cat: Catalog, http: HttpClient, prefix: String, name: String, n: Int,
      rnd: scala.util.Random): Seq[Long] = {
    val loc = s"${cat.warehouse.location}/bench/$name"
    val t0 = 1_700_000_000_000L
    val base = TableMetadataBuilder.newTable(new UUID(rnd.nextLong(), rnd.nextLong()),
      loc, schema, t0).flatMap(_.build()).fold(e => throw e, identity)
    val ids = mutable.ArrayBuffer.empty[Long]
    val snaps = mutable.Map.empty[Long, Snapshot]
    var parent: Option[Long] = None
    (1 to n).foreach { i =>
      var id = rnd.nextLong() & Long.MaxValue
      while (snaps.contains(id)) id = rnd.nextLong() & Long.MaxValue
      snaps(id) = Snapshot(id, parent, i.toLong, t0 + i * 1000L,
        s"$loc/metadata/snap-$id.json",
        Map("operation" -> "append", "added-data-files" -> "1",
          "added-records" -> (100 + i % 50).toString, "total-records" -> (i * 120L).toString),
        Some(0))
      ids += id
      parent = Some(id)
    }
    val md = base.copy(
      lastSequenceNumber = n.toLong,
      lastUpdatedMs = t0 + n * 1000L,
      currentSnapshotId = parent,
      snapshots = snaps.toMap,
      snapshotLog = ids.toSeq.map(id => SnapshotLogEntry(id, snaps(id).timestampMs)),
      refs = parent.map(p => TableMetadata.MainBranch ->
        SnapshotReference(p, SnapshotRefType.Branch)).toMap)
    val mdLoc = s"$loc/metadata/00000-${UUID.randomUUID()}.gz.metadata.json"
    graft.catalog.MetadataIO.write(mdLoc, md)
    val body = s"""{"name":"$name","metadata-location":"$mdLoc"}"""
    val resp = http.send(HttpRequest.newBuilder(
      URI.create(s"${cat.baseUri}/catalog/v1/$prefix/namespaces/bench/register"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"register $name: ${resp.statusCode()} ${resp.body()}")
    ids.toSeq
  }

  final class Env(val cat: Catalog, val prefix: String,
      val names: IndexedSeq[String], val seeded: Map[String, Seq[Long]])

  def setup(root: Path, args: Args, traced: Boolean, trace: Trace): Env = {
    val cat = new Catalog(root, traced, trace)
    val client = new RestCatalogClient(cat.baseUri)
    val prefix = client.config("wh")
    client.createNamespace(prefix, Ns)
    val http = HttpClient.newHttpClient()
    val rnd = new scala.util.Random(args.seed)
    val ts = tables
    val seeded = ts.map { case (name, n) => name -> seedTable(cat, http, prefix, name, n, rnd) }
    // warm-up: a short commit loop on a table outside the measured set
    seedTable(cat, http, prefix, "warmup", 50, rnd)
    var base = client.loadTable(prefix, TableIdent(Ns, "warmup")).metadata
    (1 to WarmCommits).foreach { i =>
      base = commitOnce(client, prefix, TableIdent(Ns, "warmup"), base, 1_000_000L + i)
      client.loadTable(prefix, TableIdent(Ns, "warmup"))
    }
    new Env(cat, prefix, ts.map(_._1), seeded.toMap)
  }

  private def appendUpdates(base: TableMetadata, id: Long)
      : (Seq[TableRequirement], Seq[TableUpdate]) = {
    val snap = Snapshot(id, base.currentSnapshotId, base.lastSequenceNumber + 1,
      System.currentTimeMillis(), s"${base.location}/metadata/snap-$id.json",
      Map("operation" -> "append", "added-data-files" -> "1", "added-records" -> "100"),
      Some(base.currentSchemaId))
    (Seq(TableRequirement.AssertRefSnapshotId(TableMetadata.MainBranch, base.currentSnapshotId)),
      Seq(TableUpdate.AddSnapshot(snap),
        TableUpdate.SetSnapshotRef(TableMetadata.MainBranch, id, SnapshotRefType.Branch)))
  }

  private def commitOnce(client: RestCatalogClient, prefix: String, ident: TableIdent,
      base: TableMetadata, id: Long): TableMetadata = {
    val (req, upd) = appendUpdates(base, id)
    client.commitTable(prefix, ident, req, upd).metadata
  }

  def run(args: Args, report: Report, trace: Trace): Unit = {
    def close(e: Env): Unit = { e.cat.close(); e.cat.shutdownDb() }
    // each set-up ends with a short commit loop, so no separate warm-up
    val reps = Reps.run[Env](args,
      (rep, traced) => setup(args.runDir.resolve(s"rep$rep"), args, traced, trace), _ => (), close)
    val env = reps.measured
    val clients = Runtime.getRuntime.availableProcessors()
    trace.reset()
    val before = WarehouseWalk.list(env.cat.warehouseDir)
    val gc0 = Jvm.gcMs
    val mutations0 = env.cat.timed.map(_.mutations.sum()).getOrElse(0L)
    val events0 = env.cat.events.map(_.received.get()).getOrElse(0L)
    val w0 = System.nanoTime()
    val out = measure(env, args, trace, clients)
    val w1 = System.nanoTime()
    Clock.log(f"measured ${Clock.ms(w0, w1)}%.0f ms")
    val gc = Jvm.gcMs - gc0
    val heap = Jvm.liveHeapMb()
    val acked = out.acked.values.map(_.size).sum.toLong
    val added = WarehouseWalk.added(before, WarehouseWalk.list(env.cat.warehouseDir))

    report.attempted = out.loads.size.toLong + out.commits.size
    report.failed = out.failed.get()
    report.metric("setup_s", Samples.median(reps.setupMs) / 1000.0, "s")
    report.metric("read_p50_ms", out.loads.pct(0.5), "ms")
    report.metric("read_p95_ms", out.loads.pct(0.95), "ms")
    report.metric("ops_per_s", report.attempted / (out.wallMs / 1000.0), "1/s")
    report.metric("heap_live_mb", heap, "MB")
    report.metric("commit_p50_ms", out.commits.pct(0.5), "ms")
    report.metric("commit_p95_ms", out.commits.pct(0.95), "ms")
    report.metric("failed_ratio", out.failed.get().toDouble / math.max(1, out.commits.size), "ratio")
    report.metric("read_samples", out.loads.size, "count")
    report.metric("commit_samples", out.commits.size, "count")
    report.metric("read_p50_ms.load", out.loads.pct(0.5), "ms")
    report.metric("commit_p50_ms.commit", out.commits.pct(0.5), "ms")
    Layers.files(report, added, acked, engine = false)

    if (args.trace) {
      val timed = env.cat.timed.get
      val w = Layers.Window(w0, w1)
      val ops = args.work.toLong * clients
      Layers.catalog(report, timed, w, ops)
      val storeMs = timed.snapshot.filter(w.contains).map(_.ms).sum
      report.metric("server.overhead_ms",
        (out.restMs.sum - storeMs) / math.max(1, out.restMs.size), "ms")
      env.cat.close()
      val events = env.cat.events.get.received.get() - events0
      val mutations = timed.mutations.sum() - mutations0
      report.metric("service.event_ratio", events.toDouble / math.max(1L, mutations), "ratio")
      val largest = env.names.map(n => env.cat.store.loadTable(env.cat.warehouse.id,
        TableIdent(Ns, n)).fold(e => throw e, _.metadata)).maxBy(_.snapshots.size)
      Layers.core(report, CoreProbes.run(largest, trace))
      trace.parentByContainment("catalog", "server")
      Layers.selfTimes(report, trace, w, ops)
      Layers.jvmAndOverhead(report, trace, gc, Clock.ms(w0, w1))
    }
    check(env, out, args.work.toLong * clients, report, args.corrupt)
    close(env)
  }

  final class Outcome {
    val loads = new Samples
    val commits = new Samples
    /** Client-observed time of every REST request (loads, commit attempts). */
    val restMs = new Samples
    val conflicts = new AtomicLong
    val failed = new AtomicLong
    /** Errors other than a 409, one per cycle they ended. */
    val errors = new ConcurrentLinkedQueue[String]
    val acked: mutable.Map[String, mutable.ArrayBuffer[Long]] = mutable.Map.empty
    var wallMs = 0.0
  }

  /** The measured phase: `work` cycles per client, closed loop. */
  def measure(env: Env, args: Args, trace: Trace, clients: Int): Outcome = {
    val out = new Outcome
    env.names.foreach(n => out.acked(n) = mutable.ArrayBuffer.empty)
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val th = new Thread(() =>
        try client(env, args, trace, c, out)
        catch { case e: Throwable => out.errors.add(s"client $c: $e") },
        s"commit-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    out.wallMs = Clock.ms(t0, System.nanoTime())
    out
  }

  private def client(env: Env, args: Args, trace: Trace, c: Int, out: Outcome): Unit = {
    val rnd = new scala.util.Random(args.seed * 1000003L + c)
    val client = new RestCatalogClient(env.cat.baseUri)
    val used = mutable.Set.empty[Long]
    // Every other cycle goes to the hot table, the rest to the tail tables
    // in turn, in a seeded order: a run always makes the same number of
    // cycles on each table, and the seed decides only the interleaving.
    val schedule: IndexedSeq[Int] = {
      val tail = rnd.shuffle((0 until args.work / 2).map(j => 1 + (j + c) % TailTables))
      rnd.shuffle(IndexedSeq.fill(args.work - tail.size)(0) ++ tail)
    }
    def rest[A](name: String, table: String, op: Long)(f: => A): A = {
      val s = System.nanoTime()
      try f finally {
        val e = System.nanoTime()
        out.restMs.add(Clock.ms(s, e))
        if (args.trace) trace.add(name, "server", s, e, parent = op, op = op, table = table)
      }
    }
    (0 until args.work).foreach { k =>
      val name = env.names(schedule(k))
      val ident = TableIdent(Ns, name)
      val opId = if (args.trace) trace.nextId() else 0L
      val opStart = System.nanoTime()
      // Any error but a 409 fails the cycle; the run's completeness check
      // then fails too, so a partial run is never reported as correct.
      try {
        var base: TableMetadata = null
        (1 to 3).foreach { _ =>
          val s = System.nanoTime()
          base = rest("loadTable", name, opId)(client.loadTable(env.prefix, ident)).metadata
          out.loads.add(Clock.ms(s, System.nanoTime()))
        }
        var id = rnd.nextLong() & Long.MaxValue
        while (used.contains(id)) id = rnd.nextLong() & Long.MaxValue
        used += id
        val cs = System.nanoTime()
        var attempt = 0
        var done = false
        while (!done && attempt < MaxAttempts) {
          attempt += 1
          val (req, upd) = appendUpdates(base, id)
          try {
            rest("commitTable", name, opId)(client.commitTable(env.prefix, ident, req, upd))
            done = true
          } catch {
            case e: CatalogError if e.code == 409 =>
              out.conflicts.incrementAndGet()
              base = rest("loadTable", name, opId)(client.loadTable(env.prefix, ident)).metadata
          }
        }
        out.commits.add(Clock.ms(cs, System.nanoTime()))
        if (done) out.acked.synchronized { out.acked(name) += id }
        else out.failed.incrementAndGet()
      } catch {
        case e: Throwable =>
          out.failed.incrementAndGet()
          out.errors.add(s"client $c cycle $k on $name: $e")
      }
      if (args.trace) {
        val e = System.nanoTime()
        trace.spans.add(Span(opId, "cycle", "op", opStart, e, 0, opId, name))
      }
    }
  }

  /** Every table's main chain is linear and holds every seeded and every
    * acknowledged snapshot exactly once, and nothing else. */
  def check(env: Env, out: Outcome, cycles: Long, report: Report, corrupt: Boolean): Unit = {
    var bad = List.empty[String]
    val expectedAcks = out.acked.map { case (k, v) => k -> v.toSeq }.toMap
    val expected = if (!corrupt) expectedAcks else {
      val (k, v) = expectedAcks.maxBy(_._2.size)
      expectedAcks.updated(k, v.drop(1))
    }
    env.names.foreach { name =>
      val m = env.cat.store.loadTable(env.cat.warehouse.id, TableIdent(Ns, name))
        .fold(e => throw e, _.metadata)
      val chain = mutable.ArrayBuffer.empty[Long]
      var cur = m.currentSnapshotId
      while (cur.isDefined && chain.size <= m.snapshots.size) {
        chain += cur.get
        cur = m.snapshots.get(cur.get).flatMap(_.parentSnapshotId)
      }
      val want = env.seeded(name) ++ expected.getOrElse(name, Nil)
      val chainSet = chain.toSet
      if (chain.size != chainSet.size) bad ::= s"$name: main chain repeats a snapshot"
      if (chain.size != m.snapshots.size) bad ::= s"$name: ${m.snapshots.size - chain.size} snapshots off the main chain"
      if (chainSet != want.toSet || want.size != want.toSet.size)
        bad ::= s"$name: chain has ${chain.size} snapshots, expected ${want.size} " +
          s"(missing ${(want.toSet -- chainSet).size}, unexpected ${(chainSet -- want.toSet).size})"
      if (chain.reverse.take(env.seeded(name).size) != env.seeded(name))
        bad ::= s"$name: seeded prefix of the chain changed"
    }
    report.check("commit_stream.linear_history", bad.isEmpty, bad.take(5).mkString("; "))
    // fixed work: every client made all its cycles (3 loads and one commit each)
    val errors = out.errors.asScala.toSeq
    report.check("commit_stream.all_cycles_completed",
      errors.isEmpty && out.commits.size == cycles && out.loads.size == 3 * cycles,
      s"${out.commits.size}/$cycles commits, ${out.loads.size}/${3 * cycles} loads" +
        errors.take(3).map("; " + _).mkString)
  }
}
