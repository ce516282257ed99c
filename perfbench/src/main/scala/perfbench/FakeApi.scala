package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/**
 * The fake Caresoft deals API the benchmark owns: pre-rendered pages
 * served on the loopback interface by at most `threads` handler threads.
 *
 * `GET /deals?page=N` answers page N of the current feed, or the empty
 * envelope past its end (the reference's stop condition). A seeded one in
 * [[FailEvery]] requests answers HTTP 503 instead, so the engine's retry
 * loop runs in every job; whether a request fails depends only on
 * (seed, page, how often that page was requested before), never on
 * timing.
 */
final class FakeApi(threads: Int, seed: Long) extends AutoCloseable {
  import FakeApi._

  @volatile private var pages: Vector[Array[Byte]] = Vector.empty
  private val perPage = new ConcurrentHashMap[Long, AtomicInteger]()
  private val requests = new AtomicLong
  private val failures = new AtomicLong
  private val bytes = new AtomicLong
  private val busyNanos = new AtomicLong

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server: HttpServer =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 128)
  server.createContext("/deals", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  /** URL template for the engine's `{page}`/`{count}` slots. */
  val urlTemplate: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/deals?page={page}&count={count}"

  /** Replace the feed (a new job's increment). */
  def serve(feed: Vector[Array[Byte]]): Unit = pages = feed
  /** Append pages to the feed (a change stream's next batch). */
  def append(more: Seq[Array[Byte]]): Unit = pages = pages ++ more
  def pageCount: Int = pages.size

  def stats: ApiStats =
    ApiStats(requests.get, failures.get, bytes.get, busyNanos.get)

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val page = pageParam(ex.getRequestURI.getRawQuery)
      val nth = perPage.computeIfAbsent(page, _ => new AtomicInteger).getAndIncrement()
      requests.incrementAndGet()
      if (Deals.mix(seed, page, nth.toLong) % FailEvery == 0) {
        failures.incrementAndGet()
        ex.sendResponseHeaders(503, -1)
      } else {
        val feed = pages
        val body =
          if (page >= 1 && page <= feed.size) feed((page - 1).toInt) else EmptyPage
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        bytes.addAndGet(body.length.toLong)
      }
    } finally {
      ex.close()
      busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object FakeApi {
  val FailEvery: Long = 50
  private val EmptyPage: Array[Byte] = "{\"deals\":[]}".getBytes(UTF_8)

  private def pageParam(query: String): Long =
    Option(query).toSeq.flatMap(_.split('&'))
      .collectFirst { case kv if kv.startsWith("page=") => kv.drop(5).toLong }
      .getOrElse(0L)
}

/** Cumulative server counters; subtract two snapshots for one job. */
final case class ApiStats(requests: Long, failures: Long, bytes: Long,
                          busyNanos: Long) {
  def -(o: ApiStats): ApiStats = ApiStats(requests - o.requests,
    failures - o.failures, bytes - o.bytes, busyNanos - o.busyNanos)
}
