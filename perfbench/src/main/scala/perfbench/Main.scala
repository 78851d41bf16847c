package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (started by `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload sync_parquet|sync_jdbc|queries_hot --seed N
  *   --seconds S --trace 0|1 --cpus C --work <dir> --out <result.json>
  *   [--data <dir> --queries a,b,c [--diagnostic-queries d,e]]
  *   [--gen-seconds s1,s2,s3] [--rev <git revision>]
  * }}}
  *
  * It sets up, measures for about `--seconds`, checks every operation's
  * output and writes one JSON document to `--out`: operation tally,
  * end-to-end and per-layer metrics, named figures and load context.
  * With `--trace 1` the probes and spans are on and the span tree is
  * written next to it.
  */
object Main {

  /** The sync workloads' feed: 2,000 resources of about 1 KB in pages of
    * 500, 1 % changed per batch, 2 ms per response. A parquet delta costs
    * about six JDBC deltas, so the JDBC pass runs more of them. */
  private val SyncFeed = FeedShape(keys = 2000, payloadChars = 900,
    changeShare = 0.01, deltasPerPass = 2, pageLimit = 500, delayMs = 2)
  private val JdbcDeltasPerPass = 16

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val cpus = opts.getOrElse("cpus", "4").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    JFiles.createDirectories(Paths.get(work))

    val main0 = System.nanoTime()
    val cal0 = Calibration.seconds(cpus)
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val r = new Run(spark, opts("seed").toLong, traced,
      opts("seconds").toDouble, cpus, work)
    r.sessionSeconds = sessionS
    opts.get("gen-seconds").foreach(v =>
      r.generatorSeconds = v.split(',').toSeq.map(_.toDouble))
    try workload match {
      case "sync_parquet" => SyncParquet.run(r, SyncFeed)
      case "sync_jdbc" =>
        SyncJdbc.run(r, SyncFeed.copy(deltasPerPass = JdbcDeltasPerPass))
      case "queries_hot" =>
        HotQueries.run(r, opts("data"), opts("queries").split(',').toSeq,
          opts.get("diagnostic-queries").toSeq.flatMap(_.split(',')))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        r.attempted += 1; r.failed += 1
        r.failures += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val cal1 = Calibration.seconds(cpus)

    r.report("context.nproc") = cpus
    r.report("context.git_rev") = opts.getOrElse("rev", "unknown")
    r.report("context.xmx_mb") = Runtime.getRuntime.maxMemory / 1048576
    r.report("context.spark_version") = spark.version
    r.report("context.calibration_before_s") = cal0
    r.report("context.calibration_after_s") = cal1
    r.report("context.session_start_s") = sessionS
    r.report("context.harness_wall_s") = (System.nanoTime() - main0) / 1e9

    if (traced) {
      r.probes.unregister()
      JsonOut.mapper.writeValue(new File(opts("out") + ".spans.json"), r.spans.toJava)
    }
    JsonOut.mapper.writeValue(new File(opts("out")), JsonOut.obj(
      "workload" -> workload,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failures.asJava,
      "end_to_end" -> r.endToEnd.asJava,
      "per_layer" -> r.perLayer.asJava,
      "report" -> r.report.asJava,
      "target_checks" -> r.targetChecks.map(c => JsonOut.obj("what" -> c.what,
        "dir" -> c.dir, "digest" -> c.digest,
        "max_modified_served" -> c.maxModifiedServed)).asJava,
      "oracle_checks" -> r.oracleChecks.map { case (k, (dir, sql)) =>
        k -> JsonOut.obj("dir" -> dir, "sql" -> sql) }.asJava))
    spark.stop()
  }
}

/** Fixed CPU work (an xorshift loop on every core) timed before and after
  * a run, after `graft.Bench`'s load probe: it reads about the same on a
  * quiet box and longer when other work shares the cores. */
object Calibration {
  def seconds(threads: Int, iters: Long = 100000000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var n = 0L
        while (n < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        sink.addAndGet(x)
        ()
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** The result document and the span file are written with Jackson; an
  * object keeps its keys in the order given. */
object JsonOut {
  val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}
