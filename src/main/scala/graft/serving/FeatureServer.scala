package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.KVClient

/** Minimal HTTP front for online feature serving — the reference's FastAPI
  * endpoint re-expressed over the JDK's built-in HttpServer (zero extra
  * dependencies; reference: api/online.py:19-51, response model
  * models.py:5-10).
  *
  * `GET /features/online/{user_id}` returns
  * `{"user_id", "as_of", "features": {...}, "source": "online"}` with the
  * KV payload parsed into the features map, or 404
  * `{"detail": "Features not found for user_id: ..."}` when the key is
  * absent — the same contract the reference serves. A lookup that fails
  * (the KV client throws, or the stored payload is not JSON) answers 500
  * `{"detail": ...}`, as the reference's FastAPI does for an unhandled
  * error, instead of closing the connection with no response.
  *
  * This is a serving-path sidecar, not a Spark component: one KV GET and
  * one JSON encode per request. Start it next to any [[KVClient]]
  * implementation; `port = 0` binds an ephemeral port (tests).
  */
class FeatureServer private (server: HttpServer) {
  def port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

/** TCP_NODELAY: the JDK HttpServer writes a response's head and body as two
  * segments. With Nagle's algorithm on, the body waits for the client to
  * acknowledge the head, and a client that delays its ACKs (~40 ms on
  * Linux) stalls every response on a busy keep-alive connection — about
  * 25 requests/s per connection. This object therefore sets
  * `sun.net.httpserver.nodelay=true` before it creates a server, unless the
  * property is already set. The JDK reads the property once per JVM, when
  * it builds its first HttpServer, so a JDK HttpServer created elsewhere
  * before the first [[FeatureServer.start]] fixes the setting for this one.
  */
object FeatureServer {

  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  private val mapper = new ObjectMapper()
  private val Prefix = "/features/online/"

  def start(port: Int, client: KVClient, keyPrefix: String = "features:",
      clock: () => String = () => java.time.Instant.now().toString): FeatureServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/features/online", (exchange: HttpExchange) => {
      // getPath is already percent-DECODED by URI, so an encoded id
      // (u%311) resolves to the same KV key the sync wrote
      val path = exchange.getRequestURI.getPath
      def detail(msg: String): String = {
        val node = mapper.createObjectNode()
        node.put("detail", msg) // Jackson-escaped: ids can't break the JSON
        mapper.writeValueAsString(node)
      }
      val (status, body) =
        if (!"GET".equals(exchange.getRequestMethod)) 405 -> detail("method not allowed")
        else if (!path.startsWith(Prefix) || path.length <= Prefix.length) 404 -> detail("not found")
        else {
          val userId = path.substring(Prefix.length)
          try client.get(keyPrefix + userId) match {
            case None =>
              404 -> detail(s"Features not found for user_id: $userId")
            case Some(json) =>
              val root = mapper.createObjectNode()
              root.put("user_id", userId)
              root.put("as_of", clock())
              root.set[com.fasterxml.jackson.databind.JsonNode]("features", mapper.readTree(json))
              root.put("source", "online")
              200 -> mapper.writeValueAsString(root)
          } catch {
            case NonFatal(e) =>
              500 -> detail(s"Internal Server Error: lookup of user_id $userId failed: $e")
          }
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(status, bytes.length.toLong)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    })
    server.start()
    new FeatureServer(server)
  }
}
