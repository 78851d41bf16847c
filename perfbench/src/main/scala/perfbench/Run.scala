package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** A target and state kept after a sync, with the digest of the rows the
  * target must hold and the largest modified the API had served. */
final case class TargetCheck(what: String, dir: String, digest: String,
                             maxModifiedServed: Long)

/** State of one benchmark run: the session, the probes of a traced run,
  * the operation tally and the metrics reported at the end. */
final class Run(val spark: SparkSession, val seed: Long, val traced: Boolean,
                val seconds: Double, val cpus: Int, val workDir: String) {
  val spans = new Spans(traced)
  val probes = new Probes(spark)
  if (traced) probes.register()

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** Gated end-to-end metrics (printed on untraced runs); their units are
    * in BENCHMARK.json. */
  val endToEnd = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics (printed on traced runs). */
  val perLayer = mutable.LinkedHashMap[String, Double]()
  /** Context fields and the workload's own named figures, both modes. */
  val report = mutable.LinkedHashMap[String, Any]()
  /** Targets kept for the post-run check of a sync. */
  val targetChecks = mutable.ArrayBuffer[TargetCheck]()
  /** Query outputs for the oracle check: name -> (output dir, SQL). */
  val oracleChecks = mutable.LinkedHashMap[String, (String, String)]()

  /** Seconds the session took to start; part of `setup_s`. */
  var sessionSeconds = 0.0
  /** Seconds each generation of the query tables took, when generated
    * before the run. */
  var generatorSeconds: Seq[Double] = Seq(0.0)

  /** `setup_s`: session start, the median of the repeated input and
    * server set-ups, and the warm pass. */
  def setupSeconds(warmPass: Double, setups: Seq[Double]): Double =
    sessionSeconds + Stats.median(setups) + warmPass

  /** One pass of the workload before measuring (the sync workloads do a
    * single steady delta in it), its figures discarded, so the measured
    * passes do not pay for the JVM's and the engine's first runs of its
    * code paths. Its operations are checked like any other.
    * Returns its seconds, which are part of `setup_s`. */
  def warmPass(pass: => Unit): Double = {
    val t0 = System.nanoTime()
    spans("setup.warm_pass")(pass)
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `pass` (given its number) until `seconds` have passed, at
    * least once, and returns how many passes ran. */
  def measure(pass: Int => Unit): Int = {
    val m0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - m0) / 1e9 < seconds) { n += 1; pass(n) }
    report("passes") = n
    report("measure_wall_s") = (System.nanoTime() - m0) / 1e9
    n
  }

  /** One attempted operation; a throw or a failed check is a failure. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** A correctness check inside an operation. */
  def require(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"check failed: $what")

  def e2e(name: String, value: Double): Unit = endToEnd(name) = value

  def layer(name: String, value: Double): Unit = perLayer(name) = value

  def snapshot(): (EngineCounts, PlanCounts) =
    if (traced) probes.snapshot() else (EngineCounts(), PlanCounts())

  /** Engine totals of the measured region as `spark.*` metrics. */
  def sparkLayer(e: EngineCounts): Unit = {
    layer("spark.jobs", e.jobs)
    layer("spark.stages", e.stages)
    layer("spark.tasks", e.tasks)
    layer("spark.task_s", e.taskMs / 1e3)
    layer("spark.gc_s", e.gcMs / 1e3)
    layer("spark.shuffle_write_bytes", e.shuffleWriteBytes)
    layer("spark.spill_bytes", e.spillBytes)
    layer("spark.tasks_failed", e.tasksFailed)
    layer("spark.scheduler_delay_s", e.schedulerDelayMs / 1e3)
    layer("spark.shuffle_fetch_wait_s", e.fetchWaitMs / 1e3)
    layer("spark.storage_peak_mb", probes.storagePeakBytes / 1048576.0)
  }
}
