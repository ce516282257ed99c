package graft.sources.rest

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/**
 * A paginated deals API on the loopback interface (JDK built-in HTTP
 * server) that counts the requests for every page.
 *
 * `GET /deals?page=N` answers `{"deals": [...]}` with one object per id
 * in `pages(N - 1)`, or the empty envelope past the end. Each object is
 * rendered at request time and stamped with `"served": n`, the number of
 * requests page N has had so far, this one included — so a row read from
 * a re-fetched page is distinguishable from the first read.
 */
final class CountingPageServer(pages: Seq[Seq[Long]]) extends AutoCloseable {
  private val counts = new ConcurrentHashMap[Int, AtomicInteger]()
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 16)
  server.createContext("/deals", (ex: HttpExchange) => handle(ex))
  server.start()

  /** URL template for [[PaginatedJsonSource]]'s `{page}`/`{count}` slots. */
  val url: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/deals?page={page}&count={count}"

  /** Requests so far, by page number. */
  def requests: Map[Int, Int] =
    counts.asScala.map { case (p, n) => p -> n.get }.toMap

  private def handle(ex: HttpExchange): Unit =
    try {
      val page = ex.getRequestURI.getRawQuery.split('&')
        .collectFirst { case kv if kv.startsWith("page=") => kv.drop(5).toInt }
        .get
      val served = counts.computeIfAbsent(page, _ => new AtomicInteger)
        .incrementAndGet()
      val ids = if (page >= 1 && page <= pages.size) pages(page - 1) else Nil
      val body = ids.map { id =>
        s"""{"id": $id, "created_at": "2024-01-01 00:00:${"%02d".format(id % 60)}", """ +
          s""""served": $served}"""
      }.mkString("""{"deals": [""", ",", "]}").getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
    } finally ex.close()

  override def close(): Unit = server.stop(0)
}
