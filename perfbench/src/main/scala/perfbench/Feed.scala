package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.collection.mutable

/** One resource as the list serves it: the newest version of a key, a
  * tombstone (`$$meta.deleted`), or a stale copy of a key updated while a
  * client walked the pages. `json` is the compact `$$expanded` body. */
final case class Entry(key: Long, modifiedMs: Long, deleted: Boolean,
                       json: String) {
  def href: String = Feed.hrefOf(key)
}

/** What one batch changed, in rows and in payload bytes. */
final case class BatchChange(updates: Int, inserts: Int, tombstones: Int,
                             duplicates: Int, payloadBytes: Long) {
  def rows: Int = updates + inserts + tombstones
}

/** A seeded SRI resource collection and the change batches applied to it.
  *
  * Batch 0 is the initial collection, its rows modified a minute apart
  * before `T0`. Batch b >= 1 changes about
  * `changeShare` of the live keys: updates, inserts and tombstones. A few
  * of its updates hit keys batch b-1 changed, and their batch b-1 version
  * is listed too, at the end of the list: a key seen twice because it
  * moved while the pages were walked. Every row of
  * batch b is stamped `T0 + b days + (i % 100) ms`. Batches lie far apart
  * compared with the watermark's overlap of 1.01 x sync duration, so the
  * rows a delta re-reads (its batch and the one before) do not depend on
  * wall time.
  *
  * The same seed gives the same batches. `drift()` applies a final change
  * that only a membership reconcile can see: keys removed from the list
  * without a tombstone, and keys that appear with an old timestamp.
  */
final class Feed(seed: Long, initialKeys: Int, payloadChars: Int,
                 changeShare: Double) {
  import Feed._

  private val mapper = new ObjectMapper()
  private val current = mutable.TreeMap[Long, Entry]()
  private var stale = Vector.empty[Entry]
  private var lastChanged = Vector.empty[Long]
  private var nextKey = 0L
  private var batchNo = 0

  reset()

  def batch: Int = batchNo

  /** Back to batch 0: the initial collection. */
  def reset(): Unit = {
    current.clear(); stale = Vector.empty; lastChanged = Vector.empty
    batchNo = 0
    // the initial collection was modified over time, a minute apart
    (0 until initialKeys).foreach { i =>
      current(i.toLong) = version(i.toLong, 0, T0 - (initialKeys - i) * 60000L)
    }
    nextKey = initialKeys.toLong
  }

  /** The list in serving order: every key once in key order, stale
    * copies appended. */
  def list: Vector[Entry] = current.valuesIterator.toVector ++ stale

  /** The newest version of every key that is not deleted. */
  def liveSet: Vector[Entry] = current.valuesIterator.filterNot(_.deleted).toVector

  /** Entries whose modification lies in batches `from` and later. */
  def since(fromBatch: Int): Vector[Entry] = {
    val t = batchStart(fromBatch)
    list.filter(_.modifiedMs >= t)
  }

  /** Apply batch `batch + 1`. */
  def advance(): BatchChange = {
    batchNo += 1
    val b = batchNo
    val rnd = new scala.util.Random(seed * 1000003L + b)
    val alive = current.valuesIterator.filterNot(_.deleted).map(_.key).toArray
    val n = math.max(4, math.round(alive.length * changeShare).toInt)
    val picked = rnd.shuffle(alive.toSeq).take(n)
    val nTomb = math.max(1, n * 15 / 100)
    val nIns = math.max(1, n * 30 / 100)
    val (tomb, upd0) = picked.splitAt(nTomb)
    // keys changed again right after their previous change: their previous
    // version, still inside a delta's overlap window, is listed as well
    val tombSet = tomb.toSet
    val again = rnd.shuffle(lastChanged.filterNot(tombSet)).take(math.max(1, upd0.length / 5))
    val upd = again ++ upd0.filterNot(again.contains)
    stale = again.map(current).toVector
    var i = 0
    var bytes = 0L
    val changed = Vector.newBuilder[Long]
    upd.foreach { k =>
      val e = version(k, b, stamp(b, i)); i += 1
      current(k) = e; bytes += e.json.length; changed += k
    }
    tomb.foreach { k =>
      val e = Entry(k, stamp(b, i), deleted = true,
        tombstoneJson(k, stamp(b, i))); i += 1
      current(k) = e; bytes += e.json.length
    }
    (0 until nIns).foreach { _ =>
      val k = nextKey; nextKey += 1
      val e = version(k, b, stamp(b, i)); i += 1
      current(k) = e; bytes += e.json.length; changed += k
    }
    lastChanged = changed.result()
    BatchChange(upd.length, nIns, tomb.length, stale.length, bytes)
  }

  /** Keys dropped from the list without a tombstone, and keys listed with
    * a timestamp older than any watermark. Returns (dropped, late). */
  def drift(): (Int, Int) = {
    val rnd = new scala.util.Random(seed * 1000003L - 1)
    val alive = current.valuesIterator.filterNot(_.deleted).map(_.key).toArray
    val n = math.max(2, alive.length / 500)
    rnd.shuffle(alive.toSeq).take(n).foreach(current.remove)
    stale = Vector.empty
    (0 until n).foreach { i =>
      val k = nextKey; nextKey += 1
      current(k) = version(k, 0, T0 - 86400000L + i)
    }
    (n, n)
  }

  private def stamp(b: Int, i: Int): Long = batchStart(b) + (i % 100)

  private def version(key: Long, v: Int, modified: Long): Entry = {
    val rnd = new scala.util.Random(seed ^ (key * 0x9E3779B97F4A7C15L) ^ v)
    val words = new StringBuilder
    while (words.length < payloadChars) {
      if (words.nonEmpty) words.append(' ')
      words.append(Vocabulary(rnd.nextInt(Vocabulary.length)))
    }
    val node = mapper.createObjectNode()
    val meta = node.putObject("$$meta")
    meta.put("permalink", hrefOf(key))
    meta.put("modified", java.time.Instant.ofEpochMilli(modified).toString)
    meta.put("type", "THING")
    node.put("key", key.toString)
    node.put("version", v)
    node.put("title", s"thing $key v$v")
    node.put("score", rnd.nextInt(1000000))
    node.put("body", words.toString)
    Entry(key, modified, deleted = false, mapper.writeValueAsString(node))
  }

  private def tombstoneJson(key: Long, modified: Long): String = {
    val node = mapper.createObjectNode()
    val meta = node.putObject("$$meta")
    meta.put("permalink", hrefOf(key))
    meta.put("modified", java.time.Instant.ofEpochMilli(modified).toString)
    meta.put("deleted", true)
    node.put("key", key.toString)
    mapper.writeValueAsString(node)
  }
}

object Feed {
  /** 2024-01-01T00:00:00Z: batch 0's timestamps. */
  val T0: Long = 1704067200000L
  val BatchSpacingMs: Long = 86400000L
  val Path = "/things"

  def hrefOf(key: Long): String = s"$Path/$key"
  def batchStart(b: Int): Long = T0 + b * BatchSpacingMs

  private val Vocabulary = Array("sync", "delta", "page", "merge", "school",
    "class", "pupil", "teacher", "course", "watermark", "tombstone", "key",
    "offset", "limit", "modified", "resource", "list", "commit", "stage",
    "target", "vlaanderen", "onderwijs", "curriculum", "grade", "address")
}
