package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A live local ArcGIS query endpoint over in-memory feature attributes:
  * it speaks the count-then-page protocol `HttpArcGisFetcher` sends
  * (ref: etl/daily_load/violation_etl_daily.py:153-194) — the pushed
  * `where=ISSUE_DATE >= lo AND ISSUE_DATE < hi` range, `returnCountOnly`,
  * `resultOffset`/`resultRecordCount` — so specs drive the real HTTP
  * stack instead of a Scala-level fake.
  *
  * `reject` answers 500 for every request whose pushed range it selects
  * (None = no range pushed); `countRequests` counts the count probes.
  */
final class ArcGisHttpStub(features: Seq[ObjectNode]) extends AutoCloseable {

  private val mapper = new ObjectMapper()

  @volatile var reject: Option[(Long, Long)] => Boolean = _ => false
  val countRequests = new AtomicInteger

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/arcgis", handle _)
  server.start()

  /** The `url` option of an http-mode arcgis read. */
  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/arcgis"

  private def handle(ex: HttpExchange): Unit = {
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    // a "1=1" where — no pushdown — must read as no range, not (1,1)
    val range = "ISSUE_DATE >= (\\d+) AND ISSUE_DATE < (\\d+)".r.findFirstMatchIn(
      params.getOrElse("where", "")).map(m => (m.group(1).toLong, m.group(2).toLong))
    val countOnly = params.get("returnCountOnly").contains("true")
    if (countOnly) countRequests.incrementAndGet()
    val (code, body) =
      if (reject(range)) (500, "injected outage")
      else {
        val matched = range match {
          case Some((lo, hi)) => features.filter { a =>
            val t = a.get("ISSUE_DATE").asLong; t >= lo && t < hi
          }
          case None => features
        }
        if (countOnly) (200, s"""{"count":${matched.size}}""")
        else {
          val off = params.getOrElse("resultOffset", "0").toInt
          val lim = params.getOrElse("resultRecordCount", "1000").toInt
          val root = mapper.createObjectNode()
          val arr = root.putArray("features")
          matched.slice(off, off + lim).foreach { a =>
            arr.add(mapper.createObjectNode().set[ObjectNode]("attributes", a))
          }
          (200, mapper.writeValueAsString(root))
        }
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def close(): Unit = server.stop(0)
}
