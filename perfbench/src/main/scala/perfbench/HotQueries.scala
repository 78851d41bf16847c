package perfbench

import scala.collection.mutable
import graft.SparkEntry

/** `queries_hot`: passes over graded top-cost queries on generated tables.
  * Each query is fully materialized by writing its result as parquet,
  * which also keeps it for the oracle check `run.py` makes against the
  * query's DuckDB SQL after the run. A warm pass goes first (see
  * [[Run.warmPass]]). After the measured passes [[OpQuery]]
  * runs [[OpRepeats]] more times; the median of those runs is `op_p50_s`,
  * the steady cost of one query. `diagnostic` queries run once after that,
  * on traced runs only: they give per-layer counts (`queries.<name>.*`) but
  * take no part in `pass_s` or `op_p50_s`. */
object HotQueries {
  val OpQuery = "dd_ppjoin"
  val OpRepeats = 5

  def run(r: Run, dataDir: String, names: Seq[String],
          diagnostic: Seq[String]): Unit = {
    import r.spark
    val missing = (names ++ diagnostic :+ OpQuery).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val oracle = SparkEntry.oracleSql

    val seconds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val counts = mutable.LinkedHashMap[String, Double]()

    /** One query: timed, output kept; with `record`, its time and counts
      * go to the query's per-layer figures. */
    def query(name: String, record: Boolean = true): Option[Double] = r.op(name) {
      val out = s"${r.workDir}/out/$name"
      val (q0, _) = r.snapshot()
      val t0 = System.nanoTime()
      try r.spans(s"query.$name") {
        SparkEntry.queries(name)(spark, dataDir)
          .write.mode("overwrite").parquet(out)
      } finally
        // drop pinned blocks between queries, as graft.Bench does
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      val s = (System.nanoTime() - t0) / 1e9
      if (record) seconds.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += s
      if (record && r.traced) {
        val (q1, _) = r.snapshot()
        val d = q1 - q0
        counts(s"queries.$name.jobs") = d.jobs
        counts(s"queries.$name.task_s") = d.taskMs / 1e3
        counts(s"queries.$name.shuffle_bytes") = d.shuffleWriteBytes
      }
      oracle.get(name).foreach(sql => r.oracleChecks(name) = (out, sql))
      s
    }

    val warmS = r.warmPass(names.foreach(query(_, record = false)))
    r.report("setup.warm_pass_s") = warmS
    r.probes.resetStreaming()

    val passS = mutable.ArrayBuffer[Double]()
    val (e0, _) = r.snapshot()
    val passes = r.measure(_ => passS += names.flatMap(query(_)).sum)
    val streamBatches = r.probes.streamBatches.get
    val (e1, _) = r.snapshot()
    val opS = (1 to OpRepeats).flatMap(_ => query(OpQuery, record = false))
    if (r.traced) diagnostic.foreach(query(_))

    r.e2e("setup_s", r.setupSeconds(warmS, r.generatorSeconds))
    r.e2e("pass_s", Stats.median(passS.toSeq))
    r.e2e("op_p50_s", Stats.medianOr0(opS))
    r.report("op_n") = opS.length
    (names ++ diagnostic).foreach(n => seconds.get(n).foreach(v =>
      r.report(s"query.$n.s") = Stats.median(v.toSeq)))
    if (r.traced) {
      (names ++ diagnostic).foreach { n =>
        r.layer(s"queries.$n.s", Stats.medianOr0(seconds.getOrElse(n, Nil).toSeq))
        Seq("jobs", "task_s", "shuffle_bytes").foreach(k =>
          r.layer(s"queries.$n.$k", counts.getOrElse(s"queries.$n.$k", 0.0)))
      }
      val batchMs = r.probes.streamBatchMs.synchronized(r.probes.streamBatchMs.toSeq)
      r.layer("streaming.batches", streamBatches.toDouble / passes)
      r.layer("streaming.batch_p50_s", Stats.medianOr0(batchMs) / 1e3)
      r.layer("streaming.state_rows", r.probes.streamStateRows.toDouble)
      r.sparkLayer(e1 - e0)
    }
  }
}
