package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A paginated SRI list API over loopback, serving a [[Feed]].
  *
  * `GET /things?limit=L&offset=O[&modifiedSince=ISO|millis]` returns
  * `{"$$meta":{"count":N,"next":...},"results":[{"href","$$expanded"}]}`
  * with `$$meta.next` on every page but the last. Tombstones stay in the
  * list as `$$meta.deleted` rows. Each response waits `delayMs` first, a
  * fixed stand-in for network and API latency. Counters record what was
  * served; `serveNanos` excludes the fixed delay.
  */
final class FakeSriApi(threads: Int, delayMs: Long, defaultLimit: Int) {

  import FakeSriApi.Snapshot
  private val snap = new AtomicReference(Snapshot(Array.empty, Array.empty))

  val gets = new AtomicLong
  val firstPageGets = new AtomicLong
  val rowsServed = new AtomicLong
  val bytesServed = new AtomicLong
  val serveNanos = new AtomicLong
  val maxModifiedServed = new AtomicLong(Long.MinValue)

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext(Feed.Path, (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def firstPageUrl: String =
    s"http://127.0.0.1:${server.getAddress.getPort}${Feed.Path}?limit=$defaultLimit"

  /** Serve `entries` from now on. */
  def publish(entries: Seq[Entry]): Unit =
    snap.set(Snapshot(
      entries.map(e => s"""{"href":"${e.href}","$$$$expanded":${e.json}}""").toArray,
      entries.map(_.modifiedMs).toArray))

  /** Total bytes of one walk over the whole list. */
  def listBytes: Long = snap.get.items.iterator.map(_.length.toLong + 1).sum

  def listSize: Int = snap.get.items.length

  /** Zero the per-request counters; `maxModifiedServed` is kept. */
  def resetCounters(): Unit =
    Seq(gets, firstPageGets, rowsServed, bytesServed, serveNanos).foreach(_.set(0))

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  /** Body of one page: a pure function of the snapshot and the query. */
  def page(query: Map[String, String]): (String, Int, Long) = {
    val s = snap.get
    val limit = query.get("limit").map(_.toInt).getOrElse(defaultLimit)
    val offset = query.get("offset").map(_.toInt).getOrElse(0)
    val since = query.get("modifiedSince").map(FakeSriApi.parseSince)
    val idx = since match {
      case None => s.items.indices
      case Some(t) => s.items.indices.filter(i => s.modified(i) >= t)
    }
    val slice = idx.slice(offset, offset + limit)
    val sb = new StringBuilder
    sb.append("""{"$$meta":{"count":""").append(idx.length)
    if (offset + limit < idx.length) {
      sb.append(""","next":"""").append(Feed.Path)
        .append("?limit=").append(limit).append("&offset=").append(offset + limit)
      query.get("modifiedSince").foreach(v => sb.append("&modifiedSince=").append(v))
      sb.append('"')
    }
    sb.append("""},"results":[""")
    var maxMod = Long.MinValue
    slice.iterator.zipWithIndex.foreach { case (i, j) =>
      if (j > 0) sb.append(',')
      sb.append(s.items(i))
      maxMod = math.max(maxMod, s.modified(i))
    }
    sb.append("]}")
    (sb.toString, slice.length, maxMod)
  }

  private def handle(ex: HttpExchange): Unit = {
    try {
      if (delayMs > 0) Thread.sleep(delayMs)
      val t0 = System.nanoTime()
      val query = FakeSriApi.parseQuery(ex.getRequestURI.getRawQuery)
      val (body, rows, maxMod) = page(query)
      val bytes = body.getBytes(UTF_8)
      gets.incrementAndGet()
      if (query.getOrElse("offset", "0") == "0") firstPageGets.incrementAndGet()
      rowsServed.addAndGet(rows)
      bytesServed.addAndGet(bytes.length)
      maxModifiedServed.accumulateAndGet(maxMod, math.max)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      serveNanos.addAndGet(System.nanoTime() - t0)
    } finally ex.close()
  }
}

object FakeSriApi {
  /** Pre-rendered list items of the current batch, in serving order. */
  private final case class Snapshot(items: Array[String], modified: Array[Long])

  def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
      else URLDecoder.decode(kv.take(i), UTF_8) ->
        URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap

  /** `modifiedSince` as epoch millis or an ISO-8601 instant. */
  def parseSince(v: String): Long =
    if (v.nonEmpty && v.forall(c => c.isDigit || c == '-')) v.toLong
    else java.time.Instant.parse(v).toEpochMilli
}
