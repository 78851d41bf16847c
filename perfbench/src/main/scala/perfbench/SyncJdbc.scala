package perfbench

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.DataFrame
import graft.ops.{Dedup, Diff}
import graft.sink.JdbcMergeSink
import graft.sink.JdbcMergeSink.{Derby, SinkConfig}

/** `sync_jdbc`: the same seeded change feed handed to `JdbcMergeSink` as
  * DataFrames, so the source and the runner are bypassed. The target is an
  * in-memory Derby table with a unique key index. A pass is a full arm,
  * `deltasPerPass` delta arms (stageBatch + mergeAndCommit with deletes and
  * the state row) and one safeSyncAndCommit. Each delta stages its batch
  * and the batch before it, which a watermark overlap re-reads. */
object SyncJdbc {
  private val Cols = Seq("href", "modified_ms", "jsondata")

  def run(r: Run, shape: FeedShape): Unit = {
    var feed: Feed = null
    var n = 0
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      feed = new Feed(r.seed, shape.keys, shape.payloadChars, shape.changeShare)
      n += 1
      val url = dbUrl(s"setup$n")
      createSchema(url)
      val s = (System.nanoTime() - t0) / 1e9
      dropDb(s"setup$n")
      s
    }
    val warmS = r.warmPass(
      pass(r, feed, shape.copy(deltasPerPass = 1), "warm", new SyncRecord))
    r.report("setup.feed_and_db_s") = Stats.median(setups)
    r.report("setup.warm_pass_s") = warmS
    val rec = new SyncRecord
    val (e0, _) = r.snapshot()
    r.measure(n => pass(r, feed, shape, s"pass$n", rec))
    val (e1, _) = r.snapshot()
    rec.publish(r, e1 - e0, setups, warmS)
  }

  private def dbUrl(name: String) = s"jdbc:derby:memory:perfbench_$name;create=true"

  private def dropDb(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:perfbench_$name;drop=true").close()
    catch { case _: java.sql.SQLException => } // Derby reports a drop as an exception

  private def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); sqls.foreach(st.executeUpdate) }
    finally c.close()
  }

  /** The reference's write table with its unique key index, the staging
    * tables the sink reads, and the state table. */
  private def createSchema(url: String): Unit = {
    val row = "href VARCHAR(64) NOT NULL, modified_ms BIGINT, jsondata VARCHAR(4000)"
    exec(url,
      s"CREATE TABLE things ($row)",
      "CREATE UNIQUE INDEX things_key ON things (href)",
      s"CREATE TABLE staging ($row)",
      "CREATE INDEX staging_key ON staging (href)",
      s"CREATE TABLE missing ($row)",
      "CREATE INDEX missing_key ON missing (href)",
      "CREATE TABLE deletes (href VARCHAR(64) NOT NULL)",
      "CREATE INDEX deletes_key ON deletes (href)",
      "CREATE TABLE members (href VARCHAR(64) NOT NULL)",
      "CREATE INDEX members_key ON members (href)",
      "CREATE TABLE sri2db_synctimes (tablename VARCHAR(64), " +
        "synctype VARCHAR(16), lastmodified BIGINT, syncstart BIGINT)")
  }

  private def pass(r: Run, feed: Feed, shape: FeedShape, name: String,
                   rec: SyncRecord): Unit = {
    import r.spark
    import spark.implicits._
    feed.reset()
    val url = dbUrl(name)
    createSchema(url)
    val cfg = SinkConfig(url = url, table = "things", stagingTable = "staging",
      keys = Seq("href"), dialect = Derby, batchSize = 1000)
    val probe = new JdbcProbe(() => DriverManager.getConnection(url), "things",
      enabled = r.traced)
    def conn(): Connection = DriverManager.getConnection(url)

    def frame(es: Seq[Entry]): DataFrame =
      es.filterNot(_.deleted).map(e => (e.href, e.modifiedMs, e.json))
        .toDF(Cols: _*)
    def stage(df: DataFrame, table: String): Long = {
      exec(url, s"TRUNCATE TABLE $table")
      r.spans("sink.stageBatch")(JdbcMergeSink.stageBatch(df,
        cfg.copy(stagingTable = table)))
      val c = conn()
      try {
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }
    def checkTarget(what: String): Unit = {
      val c = conn()
      val got = try Digest.ofJdbc(c, "things") finally c.close()
      val want = Digest.ofEntries(feed.liveSet)
      r.require(got == want, s"$what: target $got != live set $want")
    }
    /** The DELTA state row holds exactly the watermark the arm passed. */
    def checkStateRow(what: String, watermark: Long): Unit = {
      val c = conn()
      try {
        val rs = c.createStatement().executeQuery("SELECT lastmodified FROM " +
          "sri2db_synctimes WHERE tablename = 'things' AND synctype = 'DELTA'")
        val rows = Iterator.continually(rs).takeWhile(_.next()).map(_.getLong(1)).toList
        r.require(rows == List(watermark),
          s"$what: DELTA state rows $rows, expected one with $watermark")
      } finally c.close()
    }

    var syncTotal = 0.0
    /** One arm: staging and merge timed apart, attributed to the probes. */
    def arm(kind: String, changeRows: Int)(stageAll: => Long)(merge: => Unit): Double = {
      probe.reset()
      val (e0, p0) = r.snapshot()
      val t0 = System.nanoTime()
      val staged = r.spans(s"sync.$kind")(stageAll)
      val t1 = System.nanoTime()
      r.spans(s"sink.merge")(merge)
      val t2 = System.nanoTime()
      val s = (t2 - t0) / 1e9
      syncTotal += s
      if (r.traced) {
        val (e1, p1) = r.snapshot()
        val e = e1 - e0; val p = p1 - p0
        // only the full arm prunes keys missing from its snapshot
        if (kind == "full") rec.add("sink.stmt.prune_s", probe.seconds("prune"))
        if (kind == "delta") {
          val stageS = (t1 - t0) / 1e9
          rec.add("sink.stage_s", stageS)
          rec.add("sink.stage_rows_per_s", staged / math.max(1e-9, stageS))
          rec.add("sink.merge_s", (t2 - t1) / 1e9)
          Seq("delete", "update", "insert", "state").foreach(k =>
            rec.add(s"sink.stmt.${k}_s", probe.seconds(k)))
          rec.add("sink.commit_s", probe.seconds("commit"))
          val d = probe.rows("delete"); val u = probe.rows("update")
          val i = probe.rows("insert")
          rec.add("sink.rows_deleted", d)
          rec.add("sink.rows_updated", u)
          rec.add("sink.rows_inserted", i)
          rec.add("sink.noop_share", 1.0 - (u + i).toDouble / math.max(1L, staged))
          rec.add("sink.rows_written_per_change",
            (d + u + i).toDouble / math.max(1, changeRows))
          rec.add("ops.shuffle_write_bytes", e.shuffleWriteBytes)
          rec.add("ops.spill_bytes", e.spillBytes)
          rec.add("ops.dedup_rows_in", p.dedupRowsIn)
          rec.add("ops.dedup_rows_out", p.dedupRowsOut)
        }
      }
      s
    }
    var fullS = 0.0
    r.op("full arm") {
      val live = feed.liveSet
      fullS = arm("full", live.length)(
        stage(Dedup.keepLatest(frame(live)), "staging")) {
        JdbcMergeSink.mergeAndCommit(cfg.copy(fullSync = true), Cols, None,
          Some(("things", "FULL", live.map(_.modifiedMs).max, System.currentTimeMillis())),
          probe.factory)
      }
      checkTarget("full arm")
    }
    (1 to shape.deltasPerPass).foreach { _ =>
      val change = feed.advance()
      r.op(s"delta arm ${feed.batch}") {
        val window = feed.since(feed.batch - 1)
        val tombs = window.filter(_.deleted).map(_.href)
        val watermark = window.map(_.modifiedMs).max
        val s = arm("delta", change.rows) {
          stage(tombs.toDF("href"), "deletes")
          stage(Dedup.keepLatest(frame(window)), "staging")
        } {
          JdbcMergeSink.mergeAndCommit(cfg, Cols, Some("deletes"),
            Some(("things", "DELTA", watermark, System.currentTimeMillis())),
            probe.factory)
        }
        checkTarget(s"delta arm ${feed.batch}")
        checkStateRow(s"delta arm ${feed.batch}", watermark)
        rec.deltaS += s
      }
    }
    feed.drift()
    r.op("safe arm") {
      val live = feed.liveSet
      val s = arm("safe", live.length) {
        val members = live.map(_.href).toDF("href")
        stage(members, "members")
        val target = spark.read.format("jdbc").option("url", url)
          .option("dbtable", "things").load().select("href")
        val missing = Diff.missingMembers(members, target, Seq("href"))
        stage(Dedup.keepLatest(frame(live).join(missing, Seq("href"), "left_semi")),
          "missing")
      } {
        JdbcMergeSink.safeSyncAndCommit(cfg, Cols, "members", "missing",
          Some(("things", "SAFEDELTA", live.map(_.modifiedMs).max,
            System.currentTimeMillis())), probe.factory)
      }
      checkTarget("safe arm")
      rec.safeS += s
    }
    rec.fullS += fullS
    rec.passS += syncTotal
    dropDb(name)
  }
}
