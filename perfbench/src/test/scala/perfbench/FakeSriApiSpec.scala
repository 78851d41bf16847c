package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.source.HttpPageStore

class FakeSriApiSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def withApi[A](feed: Feed, limit: Int = 50)(body: FakeSriApi => A): A = {
    val api = new FakeSriApi(threads = 2, delayMs = 0, defaultLimit = limit)
    try { api.publish(feed.list); body(api) } finally api.stop()
  }

  private def feed(seed: Long) = new Feed(seed, initialKeys = 300,
    payloadChars = 120, changeShare = 0.05)

  /** Every page of one walk, following `$$meta.next` with graft's walker. */
  private def walk(api: FakeSriApi, first: String): Seq[String] = {
    val store = new HttpPageStore(first, retryBackoffMs = 0)
    store.listPages().map(store.fetch)
  }

  private def results(page: String): Seq[(String, String, Boolean)] = {
    val it = mapper.readTree(page).get("results").elements()
    val b = Seq.newBuilder[(String, String, Boolean)]
    while (it.hasNext) {
      val r = it.next()
      val meta = r.get("$$expanded").get("$$meta")
      b += ((r.get("href").asText(), meta.get("modified").asText(),
        meta.path("deleted").asBoolean(false)))
    }
    b.result()
  }

  test("the same seed gives byte-identical pages") {
    def pages(seed: Long): Seq[String] = {
      val f = feed(seed)
      (1 to 3).foreach(_ => f.advance())
      withApi(f)(api => walk(api, api.firstPageUrl))
    }
    val a = pages(7)
    assert(a.length > 3)
    assert(a === pages(7))
    assert(a !== pages(8))
  }

  test("the $$meta.next chain yields every listed resource exactly once") {
    val f = feed(3)
    withApi(f) { api =>
      val initial = walk(api, api.firstPageUrl).flatMap(results)
      assert(initial.map(_._1).sorted === f.list.map(_.href).sorted)
      assert(initial.map(_._1).distinct.length === initial.length)

      f.advance(); f.advance()
      api.publish(f.list)
      val later = walk(api, api.firstPageUrl).flatMap(results)
      // a key changed twice in a row is listed twice, each version once
      val versions = later.map(r => (r._1, r._2))
      assert(versions.distinct.length === versions.length)
      assert(versions.length === f.list.length)
      assert(later.map(_._1).distinct.sorted === f.list.map(_.href).distinct.sorted)
      assert(later.length > later.map(_._1).distinct.length)
    }
  }

  test("modifiedSince keeps rows modified at or after it, on every page") {
    val f = feed(5)
    (1 to 4).foreach(_ => f.advance())
    withApi(f, limit = 5) { api =>
      val since = Feed.batchStart(3)
      val first = api.firstPageUrl +
        "&modifiedSince=" + java.time.Instant.ofEpochMilli(since)
      val rows = walk(api, first).flatMap(results)
      val want = f.list.filter(_.modifiedMs >= since)
      assert(rows.length === want.length)
      assert(rows.length > 5, "the filtered list spans several pages")
      assert(rows.forall(r => java.time.Instant.parse(r._2).toEpochMilli >= since))
      val millis = walk(api, api.firstPageUrl + s"&modifiedSince=$since")
        .flatMap(results)
      assert(millis === rows)
    }
  }

  test("tombstones stay in the list as $$meta.deleted rows") {
    val f = feed(9)
    val change = f.advance()
    assert(change.tombstones > 0)
    withApi(f) { api =>
      val rows = walk(api, api.firstPageUrl).flatMap(results)
      val deleted = rows.filter(_._3).map(_._1).toSet
      assert(deleted === f.list.filter(_.deleted).map(_.href).toSet)
      assert(deleted.size === change.tombstones)
      assert(f.liveSet.map(_.href).toSet.intersect(deleted).isEmpty)
    }
  }

  test("successive batches are a day apart, rows of a batch within 100 ms") {
    val f = feed(11)
    f.advance(); f.advance()
    val b2 = f.list.filter(_.modifiedMs >= Feed.batchStart(2))
    assert(b2.nonEmpty)
    assert(b2.forall(e => e.modifiedMs - Feed.batchStart(2) < 100))
    assert(Feed.batchStart(2) - Feed.batchStart(1) === Feed.BatchSpacingMs)
  }
}

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19) === None)
    assert(Stats.tailPercentile(20) === Some(50.0))
    assert(Stats.tailPercentile(39) === Some(50.0))
    assert(Stats.tailPercentile(40) === Some(75.0))
    assert(Stats.tailPercentile(99) === Some(75.0))
    assert(Stats.tailPercentile(100) === Some(90.0))
    assert(Stats.tailPercentile(200) === Some(95.0))
    assert(Stats.tailPercentile(1000) === Some(99.0))
    assert(Stats.tailPercentile(10000) === Some(99.9))
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 75) === 30.0)
    assert(xs.count(_ > Stats.percentile(xs, 75)) === 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }
}

class DigestSpec extends AnyFunSuite {
  test("the row digest ignores row order") {
    val rows = Seq(("/t/2", 5L, "{\"b\":1}"), ("/t/1", 7L, "{\"a\":2}"))
    assert(Digest.ofRows(rows) === Digest.ofRows(rows.reverse))
    assert(Digest.ofRows(rows) !== Digest.ofRows(rows.take(1)))
  }
}
