package graft.serving

import java.io.{BufferedInputStream, InputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.{InMemoryKVStore, KVClient}

/** The HTTP serving contract: 200 with the reference response envelope for
  * a synced user, 404 with a detail message otherwise, 500 with a detail
  * message when the lookup itself fails. No Spark involved — this is the
  * request-time path.
  */
class FeatureServerSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private var server: FeatureServer = _
  private val http = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    InMemoryKVStore.clear()
    InMemoryKVStore.set("features:u1",
      """{"day":"2024-01-05","event_count_7d":"2","event_count_30d":"2","last_event_days_ago":null,"event_type_counts":"2"}""")
    server = FeatureServer.start(0, InMemoryKVStore, clock = () => "2024-01-06T00:00:00Z")
  }

  override def afterAll(): Unit = server.stop()

  private def get(path: String, port: Int = server.port): HttpResponse[String] =
    http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** Reads one HTTP/1.1 response off a keep-alive stream: the status code
    * from the status line, then exactly Content-Length body bytes.
    */
  private def readResponse(in: InputStream): Int = {
    def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed mid-response")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }
    val status = line().split(' ')(1).toInt
    var length = 0
    var h = line()
    while (h.nonEmpty) {
      val Array(name, value) = h.split(":", 2)
      if (name.trim.equalsIgnoreCase("Content-Length")) length = value.trim.toInt
      h = line()
    }
    in.readNBytes(length).length shouldBe length
    status
  }

  test("synced user: 200 with user_id, as_of, parsed features, source=online") {
    val r = get("/features/online/u1")
    r.statusCode() shouldBe 200
    r.body() should include(""""user_id":"u1"""")
    r.body() should include(""""as_of":"2024-01-06T00:00:00Z"""")
    r.body() should include(""""event_count_7d":"2"""")
    r.body() should include(""""last_event_days_ago":null""")
    r.body() should include(""""source":"online"""")
  }

  test("missing user: 404 with reference detail message") {
    val r = get("/features/online/ghost")
    r.statusCode() shouldBe 404
    r.body() should include("Features not found for user_id: ghost")
  }

  test("bare prefix: 404") {
    get("/features/online/").statusCode() shouldBe 404
  }

  test("keep-alive lookups do not stall on delayed ACKs (TCP_NODELAY)") {
    // one connection, requests sent back to back as a load client sends
    // them: with Nagle on, each response body waits ~40 ms for the
    // client's delayed ACK of the head, so 200 lookups take ~8 s
    val socket = new Socket("localhost", server.port)
    try {
      socket.setTcpNoDelay(true)
      val out = socket.getOutputStream
      val in = new BufferedInputStream(socket.getInputStream)
      val t0 = System.nanoTime()
      (0 until 200).foreach { i =>
        val (id, expected) = if (i % 2 == 0) ("u1", 200) else ("ghost", 404)
        out.write(s"GET /features/online/$id HTTP/1.1\r\nHost: localhost\r\n\r\n"
          .getBytes(StandardCharsets.US_ASCII))
        out.flush()
        readResponse(in) shouldBe expected
      }
      val ms = (System.nanoTime() - t0) / 1e6
      ms should be < 2000.0
    } finally socket.close()
  }

  test("a failing lookup answers 500 with a detail message, not a dropped connection") {
    val broken = new KVClient {
      override def set(key: String, value: String): Unit = ()
      override def get(key: String): Option[String] = key match {
        case "features:down" => throw new java.io.IOException("connection refused")
        case "features:garbled" => Some("{not json")
        case "features:u1" => InMemoryKVStore.get(key)
        case _ => None
      }
    }
    val s = FeatureServer.start(0, broken, clock = () => "2024-01-06T00:00:00Z")
    try {
      val down = get("/features/online/down", s.port)
      down.statusCode() shouldBe 500
      down.body() should include(""""detail":""")
      down.body() should include("connection refused")
      val garbled = get("/features/online/garbled", s.port)
      garbled.statusCode() shouldBe 500
      garbled.body() should include(""""detail":""")
      // the other paths are unchanged on the same server
      get("/features/online/u1", s.port).statusCode() shouldBe 200
      get("/features/online/ghost", s.port).statusCode() shouldBe 404
      http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:${s.port}/features/online/u1"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 405
    } finally s.stop()
  }
}
