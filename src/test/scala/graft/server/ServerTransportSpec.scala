package graft.server

import graft.catalog._
import org.scalatest.funsuite.AnyFunSuite

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.TimeUnit

/** The server's transport contract: small replies are not held back by
  * Nagle's algorithm, and request bodies are bounded. */
class ServerTransportSpec extends AnyFunSuite {

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def get(uri: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(uri)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("small replies from a server in its own JVM take no delayed-ACK stall") {
    // the JDK reads the TCP_NODELAY setting once per JVM, at its first
    // HttpServer: a fresh JVM running ServerMain sees only what
    // CatalogServer itself sets, whatever else this suite's JVM created
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(java, "-Xmx256m", "-cp",
      System.getProperty("java.class.path"), "graft.server.ServerMain", "serve")
    pb.environment().keySet().removeIf(_.startsWith("GRAFT_"))
    pb.environment().put("GRAFT_PORT", "0")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    try {
      val out = new BufferedReader(
        new InputStreamReader(proc.getInputStream, StandardCharsets.UTF_8))
      val Listening = """.*listening on (http://\S+).*""".r
      val base = Iterator.continually(out.readLine()).takeWhile(_ != null)
        .collectFirst { case Listening(uri) => uri }
        .getOrElse(fail(s"server exited before listening (exit ${proc.waitFor()})"))
      val drain = new Thread(() => while (out.readLine() != null) ())
      drain.setDaemon(true)
      drain.start()

      val millis = (1 to 21).map { _ =>
        val t0 = System.nanoTime()
        val resp = get(s"$base/health")
        val ms = (System.nanoTime() - t0) / 1e6
        assert(resp.statusCode() === 200)
        assert(resp.body() === "OK")
        ms
      }.sorted
      val median = millis(millis.size / 2)
      assert(median < 20.0, s"round trips (ms, sorted): ${millis.map(m => f"$m%.1f")}")
    } finally {
      proc.destroy()
      if (!proc.waitFor(10, TimeUnit.SECONDS)) proc.destroyForcibly()
    }
  }

  test("a request body of the limit is read; one byte more gets 413 in the error envelope") {
    val server = new CatalogServer(new InMemoryCatalogStore, UUID.randomUUID()).start()
    try {
      val limit = CatalogServer.MaxRequestBodyBytes
      val whLoc = Files.createTempDirectory("graft-body-cap").toUri.toString
      def createWarehouse(name: String, size: Int): HttpResponse[String] = {
        val json = s"""{"warehouse-name":"$name","location":"$whLoc"}"""
        val body = json + " " * (size - json.length)
        assert(body.getBytes(StandardCharsets.UTF_8).length === size)
        client.send(HttpRequest.newBuilder(URI.create(s"${server.baseUri}/management/v1/warehouse"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      }

      val atLimit = createWarehouse("at-limit", limit)
      assert(atLimit.statusCode() === 200, atLimit.body())

      val over = createWarehouse("over-limit", limit + 1)
      assert(over.statusCode() === 413)
      val err = graft.core.JsonCodecs.parse(over.body()).get("error")
      assert(err.get("code").asInt() === 413)
      assert(err.get("type").asText() === "RequestEntityTooLarge")
      assert(err.get("message").asText().contains(limit.toString))
      // nothing of the refused request was applied
      assert(get(s"${server.baseUri}/catalog/v1/config?warehouse=over-limit").statusCode() === 404)
      assert(get(s"${server.baseUri}/catalog/v1/config?warehouse=at-limit").statusCode() === 200)
    } finally server.stop()
  }
}
