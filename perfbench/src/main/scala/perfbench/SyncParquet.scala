package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runner.{SyncConfig, SyncRunner}

/** Sizes of the sync workloads' change feed. */
final case class FeedShape(keys: Int, payloadChars: Int, changeShare: Double,
                           deltasPerPass: Int, pageLimit: Int, delayMs: Long)

/** `sync_parquet`: the product path end to end. A seeded fake SRI API on
  * loopback; `SyncRunner` does a fullSync, the first deltaSync (no DELTA
  * watermark yet, so it re-stages the whole list), `deltasPerPass` deltas
  * and one safeDeltaSync into a [[TimedTarget]] over `ParquetTarget`. The
  * source is composed as `graft.Main.run` composes it. */
object SyncParquet {

  def run(r: Run, shape: FeedShape): Unit = {
    var feed: Feed = null
    var api: FakeSriApi = null
    val setups = (1 to 3).map { _ =>
      if (api != null) api.stop()
      val t0 = System.nanoTime()
      feed = new Feed(r.seed, shape.keys, shape.payloadChars, shape.changeShare)
      api = new FakeSriApi(r.cpus, shape.delayMs, shape.pageLimit)
      api.publish(feed.list)
      (System.nanoTime() - t0) / 1e9
    }
    try {
      val warmS = r.warmPass(
        pass(r, feed, api, shape.copy(deltasPerPass = 1), s"${r.workDir}/warm",
          new SyncRecord))
      r.report("setup.feed_and_server_s") = Stats.median(setups)
      r.report("setup.warm_pass_s") = warmS
      val rec = new SyncRecord
      val (e0, _) = r.snapshot()
      r.measure(n => pass(r, feed, api, shape, s"${r.workDir}/pass$n", rec))
      val (e1, _) = r.snapshot()
      // the list as the last delta saw it: bytes against the page cache,
      // which counts two bytes a character
      r.report("list.rows") = api.listSize
      r.report("list.chars") = api.listBytes
      r.report("list.size_per_page_cache") = api.listBytes * 2.0 / (8L << 20)
      rec.publish(r, e1 - e0, setups, warmS)
    } finally api.stop()
  }

  private def pass(r: Run, feed: Feed, api: FakeSriApi, shape: FeedShape,
                   dir: String, rec: SyncRecord): Unit = {
    import r.spark
    Files.rmTree(dir)
    feed.reset()
    api.publish(feed.list)
    api.maxModifiedServed.set(Long.MinValue)
    val statePath = s"$dir/state"
    val target = new TimedTarget(spark, s"$dir/target", r.spans)
    val runner = new SyncRunner(spark, SyncConfig("things", statePath))

    // the source exactly as graft.Main.run composes it
    def source(): (DataFrame, DataFrame) = {
      val src = spark.read.format("sri").option("pages", api.firstPageUrl).load()
      (src.where(col("resourcetype") =!= "deleted" || col("resourcetype").isNull),
        src.where(col("resourcetype") === "deleted").select("href"))
    }
    /** Keep the target and state as this sync left them, with what they
      * must hold, for `run.py` to check after the run: the target equals
      * the live set and the DELTA watermark does not pass the largest
      * modified the API served. */
    def check(what: String): Unit = {
      val dir = s"${r.workDir}/checks/${r.targetChecks.size}"
      Files.copyTree(target.path, s"$dir/target")
      if (new java.io.File(statePath).exists) Files.copyTree(statePath, s"$dir/state")
      r.targetChecks += TargetCheck(what, dir, Digest.ofEntries(feed.liveSet),
        api.maxModifiedServed.get)
    }
    var syncTotal = 0.0
    /** One sync: timed and attributed to the probes. */
    def sync(kind: String)(body: => Unit): Double = {
      api.resetCounters(); target.resetCounters()
      val (e0, p0) = r.snapshot()
      val t0 = System.nanoTime()
      r.spans(s"sync.$kind")(body)
      val t1 = System.nanoTime()
      val s = (t1 - t0) / 1e9
      syncTotal += s
      if (r.traced) {
        val (e1, p1) = r.snapshot()
        val e = e1 - e0; val p = p1 - p0
        if (kind != "first_delta") rec.add(s"runner.jobs_per_$kind", e.jobs)
        if (kind == "delta") {
          val walks = api.firstPageGets.get.toDouble
          // pages of the list as this sync was served it
          val pages = math.ceil(api.listSize.toDouble / shape.pageLimit)
          rec.add("source.gets", api.gets.get)
          rec.add("source.pages", pages)
          rec.add("source.gets_per_page", api.gets.get / math.max(1.0, walks * pages))
          rec.add("source.list_walks_per_sync", walks)
          rec.add("source.rows_served", api.rowsServed.get)
          rec.add("source.rows_served_per_row_kept",
            api.rowsServed.get.toDouble / math.max(1L, p.sourceRowsKept))
          rec.add("source.bytes_served", api.bytesServed.get)
          rec.add("source.serve_s", api.serveNanos.get / 1e9)
          rec.add("ops.target_rows_scanned", p.targetRowsScanned)
          rec.add("ops.dedup_rows_in", p.dedupRowsIn)
          rec.add("ops.dedup_rows_out", p.dedupRowsOut)
          rec.add("ops.shuffle_write_bytes", e.shuffleWriteBytes)
          rec.add("ops.spill_bytes", e.spillBytes)
          rec.add("runner.target_reads_per_sync", target.reads)
          rec.add("runner.pre_commit_s", (target.overwriteStartNs - t0) / 1e9)
          rec.add("runner.overwrite_s",
            (target.overwriteEndNs - target.overwriteStartNs) / 1e9)
          rec.add("runner.post_commit_s", (t1 - target.overwriteEndNs) / 1e9)
        }
      }
      s
    }

    var fullS = 0.0
    r.op("fullSync") {
      fullS += sync("full") { val (staged, _) = source(); runner.fullSync(staged, target) }
      check("fullSync")
    }
    r.op("deltaSync first") {
      fullS += sync("first_delta") {
        val (staged, tombs) = source(); runner.deltaSync(staged, tombs, target)
      }
      check("first deltaSync")
    }
    (1 to shape.deltasPerPass).foreach { _ =>
      val change = feed.advance()
      api.publish(feed.list)
      r.op(s"deltaSync ${feed.batch}") {
        val s = sync("delta") {
          val (staged, tombs) = source(); runner.deltaSync(staged, tombs, target)
        }
        val written = target.bytesWritten + Files.bytesUnder(statePath)
        check(s"deltaSync ${feed.batch}")
        rec.deltaS += s
        rec.deltaBytes += written
        rec.changedPayloadBytes += change.payloadBytes
        if (r.traced) rec.add("runner.bytes_written", written)
      }
    }
    feed.drift()
    api.publish(feed.list)
    r.op("safeDeltaSync") {
      val s = sync("safe") {
        val (staged, tombs) = source()
        // members = the live resources only, as graft.Main.run builds them
        runner.safeDeltaSync(staged, tombs, staged.select("href"),
          missing => staged.join(missing, Seq("href"), "left_semi"), target)
      }
      check("safeDeltaSync")
      rec.safeS += s
    }
    rec.fullS += fullS
    rec.passS += syncTotal
    Files.rmTree(dir)
  }
}

/** Samples of the sync workloads over their measured passes. */
final class SyncRecord {
  val passS = mutable.ArrayBuffer[Double]()
  val fullS = mutable.ArrayBuffer[Double]()
  val deltaS = mutable.ArrayBuffer[Double]()
  val safeS = mutable.ArrayBuffer[Double]()
  val deltaBytes = mutable.ArrayBuffer[Long]()
  var changedPayloadBytes = 0L
  val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  def publish(r: Run, engine: EngineCounts, setups: Seq[Double],
              warmS: Double): Unit = {
    r.e2e("setup_s", r.setupSeconds(warmS, setups))
    r.e2e("pass_s", Stats.medianOr0(passS.toSeq))
    r.e2e("op_p50_s", Stats.medianOr0(deltaS.toSeq))
    // the lifecycle figures; the delta tail is the highest percentile with
    // at least ten samples beyond it
    r.report("full_sync_s") = Stats.medianOr0(fullS.toSeq)
    r.report("delta_sync_p50_s") = Stats.medianOr0(deltaS.toSeq)
    Stats.tailPercentile(deltaS.length) match {
      case Some(p) =>
        r.report("delta_sync_tail_s") = Stats.percentile(deltaS.toSeq, p)
        r.report("delta_sync_tail_pct") = p
      case None =>
        r.report("delta_sync_tail_s") = "n/a (fewer than 20 deltas)"
    }
    r.report("delta_sync_n") = deltaS.length
    r.report("safe_sync_s") = Stats.medianOr0(safeS.toSeq)
    // bytes on disk per changed payload byte, where a target keeps files
    val amp = if (deltaBytes.isEmpty) None
      else Some(deltaBytes.sum.toDouble / math.max(1L, changedPayloadBytes))
    amp.foreach(a => r.report("write_amp") = a)
    if (r.traced) {
      layer.foreach { case (k, vs) => r.layer(k, Stats.median(vs.toSeq)) }
      amp.foreach(a => r.layer("write_amp", a))
      r.sparkLayer(engine)
    }
  }
}
