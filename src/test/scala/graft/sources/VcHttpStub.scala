package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A live local VisualCrossing timeline endpoint over in-memory day rows
  * (keyed by their `datetime`): it answers the `/{location}/{start}` and
  * `/{location}/{start}/{end}` requests `HttpVcFetcher` sends with
  * `{"days":[...]}` for the range, so specs count the requests a daily
  * weather leg makes against the metered API.
  */
final class VcHttpStub(days: Seq[ObjectNode]) extends AutoCloseable {

  private val mapper = new ObjectMapper()

  val requests = new AtomicInteger

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/vc", handle _)
  server.start()

  /** The reader options of an http-mode visualcrossing read. */
  val options: Map[String, String] = Map("mode" -> "http",
    "url" -> s"http://127.0.0.1:${server.getAddress.getPort}/vc",
    "location" -> "dc", "key" -> "test-key")

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    // /vc/dc/<start>[/<end>]
    val span = ex.getRequestURI.getPath.split("/").drop(3)
    val (start, end) = (span.head, span.last)
    val root = mapper.createObjectNode()
    val arr = root.putArray("days")
    days.filter { d =>
      val dt = d.get("datetime").asText
      dt >= start && dt <= end
    }.foreach(arr.add)
    val bytes = mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def close(): Unit = server.stop(0)
}
