package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A `_bulk` endpoint for the app's `--http-index` sink, on one
  * handler thread. It answers every action with status 201 in the
  * per-action response shape `HttpBulkTransport` parses, keeps the
  * first arrival of each document id, and counts repeat deliveries.
  * Served paths are `<base>/<doc_type>/_bulk`. */
class BulkStub {
  import BulkStub._

  val docs = new ConcurrentHashMap[String, Doc]()
  val requests = new ConcurrentLinkedQueue[Request]()
  val redelivered = new AtomicLong(0)

  private val ActionId = """"_id"\s*:\s*"([^"]+)"""".r

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    val start = Clock.nowMs()
    val raw = ex.getRequestBody.readAllBytes()
    val docType = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty)
      .headOption.getOrElse("")
    val lines = new String(raw, StandardCharsets.UTF_8).split('\n')
      .filter(_.nonEmpty)
    val arrival = System.currentTimeMillis()
    val items = new StringBuilder
    var repeats = 0
    var i = 0
    while (i + 1 < lines.length) {
      val id = ActionId.findFirstMatchIn(lines(i)).map(_.group(1)).getOrElse("")
      if (docs.putIfAbsent(id, Doc(docType, lines(i + 1), arrival)) != null)
        repeats += 1
      if (items.nonEmpty) items.append(',')
      items.append(s"""{"index":{"_id":"$id","status":201}}""")
      i += 2
    }
    redelivered.addAndGet(repeats)
    val body = s"""{"took":0,"errors":false,"items":[$items]}"""
      .getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.close()
    requests.add(Request(docType, start, Clock.nowMs(), lines.length / 2,
      raw.length.toLong, repeats))
  })
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def reset(): Unit = { docs.clear(); requests.clear(); redelivered.set(0) }

  def stop(): Unit = server.stop(0)
}

object BulkStub {
  final case class Doc(docType: String, source: String, arrivalMs: Long)
  final case class Request(docType: String, startMs: Double, endMs: Double,
      docs: Int, bytes: Long, redelivered: Int)
}
