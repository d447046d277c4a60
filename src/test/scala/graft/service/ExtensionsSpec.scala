package graft.service

import graft.catalog._
import graft.core._
import graft.server.CatalogServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.UUID

/** §2.6 extension traits: AuthZ gating, contract-verification chain
  * with short-circuit, and the bounded fire-and-forget event publisher
  * wired through the commit path. */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import IType._

  private val project = UUID.randomUUID()
  private val client = HttpClient.newHttpClient()

  private val schemaJson =
    """{"type":"struct","schema-id":0,"fields":[
      |{"id":1,"name":"id","required":true,"type":"int"}]}""".stripMargin

  private def post(base: String, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def newServer(
      authz: AuthZHandler = AuthZHandler.AllowAll,
      contracts: ContractVerifiers = ContractVerifiers.Empty,
      events: QueueingEventPublisher =
        new QueueingEventPublisher(CloudEventBackend.Noop)): (CatalogServer, String, String) = {
    val store = new InMemoryCatalogStore
    val server = new CatalogServer(store, project,
      authz = authz, contracts = contracts, events = events).start()
    val wh = Files.createTempDirectory("graft-ext").toUri.toString.stripSuffix("/")
    val created = store.createWarehouse(project, "wh", wh)
      .fold(e => fail(e.message), identity)
    (server, server.baseUri, created.id.toString)
  }

  test("deny-all authz gates catalog routes with 403; management unaffected") {
    val (server, base, prefix) = newServer(authz = AuthZHandler.DenyCatalog)
    try {
      assert(post(base, s"/catalog/v1/$prefix/namespaces",
        """{"namespace":["ns"]}""").statusCode() === 403)
      assert(post(base, s"/catalog/v1/$prefix/namespaces/ns/tables",
        s"""{"name":"t","schema":$schemaJson}""").statusCode() === 403)
      // management stays open (separate checkWarehouseOp)
      assert(post(base, "/management/v1/warehouse",
        s"""{"warehouse-name":"w2","location":"file:///tmp/w2","project-id":"$project"}""")
        .statusCode() === 200)
    } finally server.stop()
  }

  test("contract verifier chain vetoes commits and short-circuits in order") {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    def verifier(n: String, veto: Boolean): ContractVerifier = new ContractVerifier {
      val name = n
      def checkCommit(updates: Seq[TableUpdate], current: TableMetadata): ContractOutcome = {
        calls += n
        if (veto && updates.exists(_.isInstanceOf[TableUpdate.SetProperties]))
          ContractOutcome.Violation("ContractViolation", "property changes are frozen")
        else ContractOutcome.Clear
      }
    }
    val (server, base, prefix) = newServer(
      contracts = ContractVerifiers(
        verifier("first", veto = true), verifier("second", veto = false)))
    try {
      assert(post(base, s"/catalog/v1/$prefix/namespaces",
        """{"namespace":["ns"]}""").statusCode() === 200)
      assert(post(base, s"/catalog/v1/$prefix/namespaces/ns/tables",
        s"""{"name":"t","schema":$schemaJson}""").statusCode() === 200)

      val veto = post(base, s"/catalog/v1/$prefix/namespaces/ns/tables/t",
        """{"updates":[{"action":"set-properties","updates":{"k":"v"}}]}""")
      assert(veto.statusCode() === 409)
      assert(veto.body().contains("[first] property changes are frozen"))
      // first verifier vetoed → second never ran for this commit
      assert(calls.count(_ == "first") === 1)
      assert(calls.count(_ == "second") === 0)

      // non-vetoed updates pass the whole chain
      val ok = post(base, s"/catalog/v1/$prefix/namespaces/ns/tables/t",
        """{"updates":[{"action":"remove-properties","removals":["ghost"]}]}""")
      assert(ok.statusCode() === 200)
      assert(calls.count(_ == "second") === 1)
    } finally server.stop()
  }

  test("commit route loads the table before the commit only for a mounted verifier") {
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val inner = new InMemoryCatalogStore
    // forwards every call to `inner` and counts the loadTable calls
    val counting = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[CatalogStore]),
      (_: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]) => {
        if (m.getName == "loadTable") loads.incrementAndGet()
        try m.invoke(inner, Option(args).getOrElse(Array.empty[AnyRef]): _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      }).asInstanceOf[CatalogStore]
    val wh = Files.createTempDirectory("graft-ext").toUri.toString.stripSuffix("/")
    val prefix = counting.createWarehouse(project, "wh", wh)
      .fold(e => fail(e.message), identity).id.toString
    val clear = new ContractVerifier {
      val name = "clear"
      def checkCommit(updates: Seq[TableUpdate], current: TableMetadata): ContractOutcome =
        ContractOutcome.Clear
    }
    def commitLoads(contracts: ContractVerifiers, value: String): Int = {
      val server = new CatalogServer(counting, project, contracts = contracts).start()
      try {
        loads.set(0)
        assert(post(server.baseUri, s"/catalog/v1/$prefix/namespaces/ns/tables/t",
          s"""{"updates":[{"action":"set-properties","updates":{"k":"$value"}}]}""")
          .statusCode() === 200)
        loads.get()
      } finally server.stop()
    }
    val setup = new CatalogServer(counting, project).start()
    try {
      assert(post(setup.baseUri, s"/catalog/v1/$prefix/namespaces",
        """{"namespace":["ns"]}""").statusCode() === 200)
      assert(post(setup.baseUri, s"/catalog/v1/$prefix/namespaces/ns/tables",
        s"""{"name":"t","schema":$schemaJson}""").statusCode() === 200)
    } finally setup.stop()
    assert(commitLoads(ContractVerifiers.Empty, "a") === 0)
    assert(commitLoads(ContractVerifiers(clear), "b") === 1)
  }

  test("commit path emits createTable/updateTable/dropTable events in order") {
    val sink = new CloudEventBackend.Collecting
    val publisher = new QueueingEventPublisher(sink)
    val (server, base, prefix) = newServer(events = publisher)
    try {
      assert(post(base, s"/catalog/v1/$prefix/namespaces",
        """{"namespace":["ns"]}""").statusCode() === 200)
      assert(post(base, s"/catalog/v1/$prefix/namespaces/ns/tables",
        s"""{"name":"t","schema":$schemaJson}""").statusCode() === 200)
      assert(post(base, s"/catalog/v1/$prefix/namespaces/ns/tables/t",
        """{"updates":[{"action":"set-properties","updates":{"k":"v"}}]}""")
        .statusCode() === 200)
      val del = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/catalog/v1/$prefix/namespaces/ns/tables/t")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() === 204)

      // drain the async queue
      val deadline = System.nanoTime() + 5e9.toLong
      while (sink.events.size < 3 && System.nanoTime() < deadline) Thread.sleep(10)
      val evts = sink.events
      assert(evts.map(_.eventType) === Seq("createTable", "updateTable", "dropTable"))
      assert(evts.map(_.sequenceNumber) === Seq(1L, 2L, 3L))
      assert(evts.forall(_.ident.name == "t"))
      assert(evts.map(_.tableId).distinct.size === 1)
    } finally { server.stop(); publisher.close() }
  }

  test("publisher never blocks the caller: full queue drops after timeout") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slow = new CloudEventBackend {
      def publish(e: CatalogEvent): Unit = gate.await() // wedge the worker
    }
    val p = new QueueingEventPublisher(slow, capacity = 2, enqueueTimeoutMs = 10)
    try {
      val ident = TableIdent(Seq("ns"), "t")
      def evt(i: Long) = CatalogEvent("updateTable", UUID.randomUUID(), ident,
        UUID.randomUUID(), i, i)
      val t0 = System.nanoTime()
      (1L to 10L).foreach(i => p.emit(evt(i))) // 1 wedged + 2 queued + 7 dropped
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      // 7 drops × ≤10ms timeout — far below a blocking publisher
      assert(elapsedMs < 2000, s"emit path blocked for ${elapsedMs}ms")
    } finally { gate.countDown(); p.close() }
  }

  test("publisher counts every queue-full drop and every backend failure") {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val blocked = new CloudEventBackend {
      def publish(e: CatalogEvent): Unit = { entered.countDown(); gate.await() }
    }
    val ident = TableIdent(Seq("ns"), "t")
    def evt(i: Long) = CatalogEvent("updateTable", UUID.randomUUID(), ident,
      UUID.randomUUID(), i, i)
    val p = new QueueingEventPublisher(blocked, capacity = 1, enqueueTimeoutMs = 1)
    try {
      p.emit(evt(1L))
      assert(entered.await(5, java.util.concurrent.TimeUnit.SECONDS))
      p.emit(evt(2L)) // fills the one slot while the worker is blocked
      (3L to 12L).foreach(i => p.emit(evt(i)))
      assert(p.dropped === 10L)
      assert(p.failed === 0L)
    } finally { gate.countDown(); p.close() }

    val failing = new CloudEventBackend {
      def publish(e: CatalogEvent): Unit = throw new java.io.IOException("sink down")
    }
    val q = new QueueingEventPublisher(failing)
    (1L to 3L).foreach(i => q.emit(evt(i)))
    q.close() // drains the queue
    assert(q.failed === 3L)
    assert(q.dropped === 0L)
  }

  test("file-backed sink: durable delivery through the publisher, append across reopen") {
    val f = Files.createTempFile("graft-events", ".jsonl")
    val ident = TableIdent(Seq("db"), "t")
    val e1 = CatalogEvent("createTable", UUID.randomUUID(), ident,
      UUID.randomUUID(), 1L, 100L)
    val e2 = e1.copy(eventType = "updateTable", sequenceNumber = 2L)

    val sink = new CloudEventBackend.FileBacked(f)
    val p = new QueueingEventPublisher(sink)
    try { p.emit(e1); p.emit(e2) } finally { p.close(); sink.close() }
    assert(CloudEventBackend.FileBacked.readAll(f) === Seq(e1, e2))

    // reopening appends — the log survives the process that wrote it
    val sink2 = new CloudEventBackend.FileBacked(f)
    try sink2.publish(e1.copy(eventType = "dropTable", sequenceNumber = 3L))
    finally sink2.close()
    assert(CloudEventBackend.FileBacked.readAll(f).map(_.eventType) ===
      Seq("createTable", "updateTable", "dropTable"))
    assert(CloudEventBackend.FileBacked.readAll(
      Files.createTempDirectory("none").resolve("absent.jsonl")) === Nil)
  }

  test("HTTP sink: CloudEvents POSTs delivered; failures logged-and-dropped; slow consumer sheds") {
    import com.sun.net.httpserver.HttpServer
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var failNext = false
    @volatile var delayMs = 0L
    val http = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/events", ex => {
      if (delayMs > 0) Thread.sleep(delayMs)
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      if (failNext) { failNext = false; ex.sendResponseHeaders(500, -1) }
      else { received.add(body); ex.sendResponseHeaders(204, -1) }
      ex.close()
    })
    // serialize handler calls like a real single consumer
    http.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
    http.start()
    val endpoint = s"http://127.0.0.1:${http.getAddress.getPort}/events"
    val ident = TableIdent(Seq("db"), "t")
    def evt(tpe: String, i: Long) =
      CatalogEvent(tpe, UUID.randomUUID(), ident, UUID.randomUUID(), i, 1700000000000L + i)
    def drain(p: QueueingEventPublisher): Unit = p.close()
    try {
      // delivery: CloudEvents 1.0 structured envelopes with our payload
      val p1 = new QueueingEventPublisher(new CloudEventBackend.HttpBacked(endpoint))
      p1.emit(evt("createTable", 1L)); p1.emit(evt("updateTable", 2L))
      drain(p1)
      val bodies = received.toArray(Array.empty[String]).toSeq
      assert(bodies.size === 2)
      val n = graft.core.JsonCodecs.parse(bodies.head)
      assert(n.get("specversion").asText() === "1.0")
      assert(n.get("type").asText() === "createTable")
      assert(n.get("source").asText() === "graft-catalog")
      assert(n.get("data").get("name").asText() === "t")
      assert(n.get("data").get("sequence-number").asLong() === 1L)
      assert(graft.core.JsonCodecs.parse(bodies(1)).get("type").asText() === "updateTable")

      // a non-2xx response is logged and dropped; the publisher survives
      received.clear()
      failNext = true
      val p2 = new QueueingEventPublisher(new CloudEventBackend.HttpBacked(endpoint))
      p2.emit(evt("dropTable", 3L)) // 500 → dropped
      p2.emit(evt("createTable", 4L)) // delivered
      drain(p2)
      val after = received.toArray(Array.empty[String]).toSeq
      assert(after.size === 1 &&
        graft.core.JsonCodecs.parse(after.head).get("type").asText() === "createTable")

      // slow consumer: the worker stalls on in-flight requests, the
      // bounded queue fills, and emits DROP after the offer timeout
      // instead of blocking the commit path
      received.clear()
      delayMs = 300L
      val p3 = new QueueingEventPublisher(new CloudEventBackend.HttpBacked(endpoint),
        capacity = 2, enqueueTimeoutMs = 10)
      val t0 = System.nanoTime()
      (1L to 10L).foreach(i => p3.emit(evt("updateTable", i)))
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(elapsedMs < 2000, s"emit path blocked for ${elapsedMs}ms")
      drain(p3)
      val slow = received.toArray(Array.empty[String]).toSeq
      assert(slow.nonEmpty && slow.size < 10,
        s"expected shed load: delivered ${slow.size}/10")
    } finally http.stop(0)
  }

  /** Line-oriented stub NATS broker: speaks the real wire protocol
    * (INFO greeting, CONNECT, PUB framing, PING/PONG) and records what
    * it sees. Handles sequential reconnects. */
  private final class NatsStub {
    val connects = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pubs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val pongs = new java.util.concurrent.atomic.AtomicInteger(0)
    val pingAfterNextPub = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pingSent = new java.util.concurrent.Semaphore(0)
    @volatile var dropAfterNextPub = false
    @volatile var rejectConnect = false
    private val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    def port: Int = server.getLocalPort
    private val thread = new Thread(() => {
      try while (!server.isClosed) {
        val s = server.accept()
        try {
          val in = new java.io.DataInputStream(
            new java.io.BufferedInputStream(s.getInputStream))
          val out = s.getOutputStream
          def line(): String = {
            val sb = new java.lang.StringBuilder()
            var c = in.read()
            while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
            if (c == -1) null else sb.toString
          }
          out.write("INFO {\"server_id\":\"stub\"}\r\n".getBytes("UTF-8"))
          var l = line()
          var open = true
          while (open && l != null) {
            if (l.startsWith("CONNECT ")) {
              if (rejectConnect) {
                out.write("-ERR 'Authorization Violation'\r\n".getBytes("UTF-8"))
                out.flush()
                open = false
              } else connects.add(l.drop(8))
            }
            else if (l == "PING") { // handshake liveness probe
              out.write("PONG\r\n".getBytes("UTF-8")); out.flush()
            }
            else if (l.startsWith("PUB ")) {
              val Array(_, subj, n) = l.split(" ")
              val buf = new Array[Byte](n.toInt)
              in.readFully(buf)
              line() // trailing CRLF
              pubs.add(subj -> new String(buf, "UTF-8"))
              if (pingAfterNextPub.getAndSet(false)) {
                out.write("PING\r\n".getBytes("UTF-8")); out.flush()
                pingSent.release()
              }
              if (dropAfterNextPub) {
                dropAfterNextPub = false
                out.write("-ERR forced disconnect\r\n".getBytes("UTF-8"))
                out.flush()
                open = false
              }
            } else if (l == "PONG") pongs.incrementAndGet()
            if (open) l = line()
          }
        } catch { case _: Exception => () } finally s.close()
      } catch { case _: Exception => () }
    })
    thread.setDaemon(true); thread.start()
    def close(): Unit = server.close()
  }

  test("NATS sink: wire-protocol publish, PING answered, reconnect after drop") {
    val stub = new NatsStub
    val ident = TableIdent(Seq("db"), "t")
    def evt(tpe: String, i: Long) =
      CatalogEvent(tpe, UUID.randomUUID(), ident, UUID.randomUUID(), i, 1700000000000L + i)
    val sink = new CloudEventBackend.NatsBacked(
      "127.0.0.1", stub.port, "graft.events", timeoutMs = 3000)
    try {
      // delivery: CONNECT handshake then CloudEvents payloads on the
      // configured subject (ref event_publisher.rs:172-177 — serialized
      // event to a fixed topic)
      val p = new QueueingEventPublisher(sink)
      stub.pingAfterNextPub.set(true)
      p.emit(evt("createTable", 1L))
      assert(stub.pingSent.tryAcquire(5, java.util.concurrent.TimeUnit.SECONDS))
      p.emit(evt("updateTable", 2L)) // drains the PING → PONG first
      p.close()
      // writes are fire-and-forget over TCP: wait for the broker side
      def await(cond: => Boolean): Boolean = {
        val t0 = System.currentTimeMillis()
        while (!cond && System.currentTimeMillis() - t0 < 5000) Thread.sleep(20)
        cond
      }
      assert(await(stub.pubs.size == 2 && stub.pongs.get() == 1),
        s"broker saw ${stub.pubs.size} pubs / ${stub.pongs.get()} pongs")
      assert(stub.connects.size === 1)
      val seen = stub.pubs.toArray(Array.empty[(String, String)]).toSeq
      assert(seen.map(_._1) === Seq("graft.events", "graft.events"))
      val n = graft.core.JsonCodecs.parse(seen.head._2)
      assert(n.get("specversion").asText() === "1.0")
      assert(n.get("type").asText() === "createTable")
      assert(n.get("data").get("name").asText() === "t")
      assert(stub.pongs.get() === 1, "keep-alive PING must be PONGed")

      // broker sends -ERR and drops the connection: publishes caught
      // mid-drop fail loudly (at-most-once — logged-and-dropped
      // upstream), and a LATER publish reconnects and delivers.
      // Bounded retry because TCP close propagation is asynchronous —
      // which specific event is lost is explicitly not the contract.
      val pubsBefore = stub.pubs.size
      stub.dropAfterNextPub = true
      sink.publish(evt("dropTable", 3L)) // delivered, then broker hangs up
      var attempts = 0
      // a write into the dying socket can "succeed" into the OS buffer,
      // so recovery is judged by what the BROKER received, not by
      // publish() not throwing
      while (stub.pubs.size < pubsBefore + 2 && attempts < 20) {
        attempts += 1
        try sink.publish(evt("createTable", 100L + attempts))
        catch { case _: IllegalStateException => () }
        if (stub.pubs.size < pubsBefore + 2) Thread.sleep(100)
      }
      assert(stub.pubs.size >= pubsBefore + 2,
        s"publish never recovered after the broker drop ($attempts attempts)")
      assert(stub.connects.size >= 2, "expected a reconnect after the drop")

      // a broker that REJECTS the CONNECT (auth required) must fail the
      // publish loudly at handshake time — never a silently lost first
      // PUB written into a dying socket
      stub.rejectConnect = true
      sink.close() // force a fresh handshake
      val rejected = intercept[IllegalStateException](
        sink.publish(evt("createTable", 6L)))
      assert(rejected.getMessage.contains("failed"), rejected.getMessage)
      stub.rejectConnect = false

      // dead broker: publish throws (the publisher's log-and-drop
      // contract), emit never blocks the caller. The broker's port is one
      // held by a socket that is bound but not listening: every connect
      // to it is refused, and no other process can take it meanwhile (a
      // freed port could be reused by anything listening on this host).
      stub.close()
      sink.close()
      val held = new java.net.Socket()
      try {
        held.bind(new java.net.InetSocketAddress("127.0.0.1", 0))
        val dead = new CloudEventBackend.NatsBacked(
          "127.0.0.1", held.getLocalPort, "graft.events", timeoutMs = 500)
        intercept[IllegalStateException](dead.publish(evt("createTable", 7L)))
      } finally held.close()
    } finally { stub.close(); sink.close() }
  }
}
