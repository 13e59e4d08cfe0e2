package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Presto/Trino coordinator stub: serves `GET /v1/query` (the
  * done-query listing) and `GET /v1/query/{id}` (one QueryInfo document)
  * from memory, so `Collector` is timed against HTTP, not against disk or
  * a network.
  *
  * One dispatcher thread handles every exchange. `sun.net.httpserver.nodelay`
  * must be on before the first server is created: without it each response
  * waits for the client's delayed ACK (about 40 ms per request on Linux),
  * and collect would measure the kernel's ACK timer instead of `Collector`.
  */
final class StubCoordinator(docs: IndexedSeq[StubCoordinator.Doc]) {
  import StubCoordinator._

  System.setProperty("sun.net.httpserver.nodelay", "true")

  val requests = new AtomicLong
  val bytesServed = new AtomicLong

  private val byId: Map[String, Array[Byte]] = docs.map(d => d.queryId -> d.body).toMap
  private val listing: Array[Byte] =
    docs.map(d => s"""{"queryId":"${d.queryId}","state":"${d.state}"}""")
      .mkString("[", ",", "]").getBytes(UTF_8)

  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.createContext("/v1/query", (ex: HttpExchange) => {
    val path = ex.getRequestURI.getPath
    val body =
      if (path == "/v1/query" || path == "/v1/query/") Some(listing)
      else byId.get(path.stripPrefix("/v1/query/"))
    requests.incrementAndGet()
    body match {
      case Some(b) =>
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
        bytesServed.addAndGet(b.length.toLong)
      case None =>
        ex.sendResponseHeaders(404, -1)
    }
    ex.close()
  })
  server.setExecutor(null) // the dispatcher thread serves each exchange
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)
}

object StubCoordinator {
  final case class Doc(queryId: String, state: String, body: Array[Byte])

  private val QueryId = "\"queryId\":\"([^\"]+)\"".r

  /** Document `i` of the synthetic corpus as the coordinator serves it
    * (the corrupt drop class is served truncated, as collected).
    */
  def doc(i: Long): Doc = {
    val text = graft.ingest.QueryInfoCorpus.documentBytes(i)
    val id = QueryId.findFirstMatchIn(text).map(_.group(1))
      .getOrElse(throw new IllegalStateException(s"document $i has no queryId"))
    val state = if (graft.ingest.QueryInfoCorpus.failed(i)) "FAILED" else "FINISHED"
    Doc(id, state, text.getBytes(UTF_8))
  }
}
