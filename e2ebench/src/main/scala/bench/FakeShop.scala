package bench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.OffsetDateTime
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the shop's paginated orders endpoint
  * (`GET /admin/orders.json?updated_at_min=..&limit=..&page=..` answering
  * `{"orders":[...]}`), serving the latest version of every order sorted by
  * (updated_at, id). It never answers 429 or 5xx: the connector's retry
  * path sleeps for seconds, which would turn the timed phase into a timer.
  *
  * It is also the source-layer probe: it counts requests, non-empty pages,
  * bytes, time spent answering, and whether each served record is a first
  * delivery of that version (useful) or a re-delivery.
  */
final class FakeShop(threads: Int) extends AutoCloseable {
  private final class Snapshot(val updated: Array[Long], val versions: Array[Gen.Version])

  private val current = new AtomicReference(new Snapshot(Array.empty, Array.empty))
  private val latest = scala.collection.mutable.HashMap.empty[Long, Gen.Version]
  private val served = new ConcurrentHashMap[Long, Integer]()

  val requests, pagesNonEmpty, bytes, records, useful, serverNanos = new AtomicLong()

  /** Make `vs` visible (each replaces any older version of its order). */
  def publish(vs: Iterable[Gen.Version]): Unit = {
    vs.foreach(v => latest.update(v.id, v))
    val sorted = latest.valuesIterator.toArray.sortBy(v => (v.updatedS, v.id))
    current.set(new Snapshot(sorted.map(_.updatedS), sorted))
  }

  def resetCounters(): Unit =
    Seq(requests, pagesNonEmpty, bytes, records, useful, serverNanos).foreach(_.set(0))

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/admin/orders.json", (ex: HttpExchange) => answer(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/admin/orders.json"

  private def answer(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").iterator
        .filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('=')
          kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
        }.toMap
      val snap = current.get()
      val from = q.get("updated_at_min").map { m =>
        val min = OffsetDateTime.parse(m).toEpochSecond
        val i = java.util.Arrays.binarySearch(snap.updated, min)
        // first index whose updated_at >= min (binarySearch finds any equal one)
        var j = if (i >= 0) i else -i - 1
        while (j > 0 && snap.updated(j - 1) == min) j -= 1
        j
      }.getOrElse(0)
      val limit = q("limit").toInt
      val lo = math.min(snap.versions.length, from + (q("page").toInt - 1) * limit)
      val hi = math.min(snap.versions.length, lo + limit)
      val sb = new java.lang.StringBuilder("{\"orders\":[")
      (lo until hi).foreach { k =>
        val v = snap.versions(k)
        if (k > lo) sb.append(',')
        sb.append(v.json)
        if (served.put(v.id, v.v) != v.v) useful.incrementAndGet()
      }
      val body = sb.append("]}").toString.getBytes(UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      requests.incrementAndGet()
      if (hi > lo) pagesNonEmpty.incrementAndGet()
      records.addAndGet(hi - lo)
      bytes.addAndGet(body.length)
    } finally {
      ex.close()
      serverNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Stops the listener and its worker threads and waits for them to end;
    * the workers are not daemons, so a skipped close keeps the JVM alive. */
  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.SECONDS)) pool.shutdownNow()
  }

  def terminated: Boolean = pool.isTerminated
}
