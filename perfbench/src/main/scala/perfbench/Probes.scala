package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters, summed from task and stage events. */
final case class EngineCounts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    gcMs: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    tasksFailed: Long = 0, schedulerDelayMs: Long = 0,
    fetchWaitMs: Long = 0) {
  def -(o: EngineCounts): EngineCounts = EngineCounts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, tasksFailed - o.tasksFailed,
    schedulerDelayMs - o.schedulerDelayMs, fetchWaitMs - o.fetchWaitMs)
}

/** Counts read from the executed plans of finished actions. */
final case class PlanCounts(
    sourceRowsKept: Long = 0, targetRowsScanned: Long = 0,
    dedupRowsIn: Long = 0, dedupRowsOut: Long = 0) {
  def -(o: PlanCounts): PlanCounts = PlanCounts(
    sourceRowsKept - o.sourceRowsKept,
    targetRowsScanned - o.targetRowsScanned,
    dedupRowsIn - o.dedupRowsIn, dedupRowsOut - o.dedupRowsOut)
}

/** The benchmark's probes into Spark: a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`. They are
  * registered only for a traced run. `snapshot()` waits for the listener
  * bus, so a snapshot taken after an action includes it. */
final class Probes(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var engine = EngineCounts()
  @volatile private var plans = PlanCounts()
  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  @volatile var storagePeakBytes = 0L

  val streamBatches = new AtomicLong
  val streamBatchMs = mutable.ArrayBuffer[Double]()
  @volatile var streamStateRows = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      engine = engine.copy(jobs = engine.jobs + 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      engine = engine.copy(stages = engine.stages + 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val failed = if (info.successful) 0 else 1
      engine =
        if (m == null) engine.copy(tasks = engine.tasks + 1,
          tasksFailed = engine.tasksFailed + failed)
        else {
          val delay = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
          engine.copy(
            tasks = engine.tasks + 1,
            taskMs = engine.taskMs + m.executorRunTime,
            gcMs = engine.gcMs + m.jvmGCTime,
            shuffleWriteBytes = engine.shuffleWriteBytes +
              m.shuffleWriteMetrics.bytesWritten,
            spillBytes = engine.spillBytes + m.memoryBytesSpilled +
              m.diskBytesSpilled,
            tasksFailed = engine.tasksFailed + failed,
            schedulerDelayMs = engine.schedulerDelayMs + delay,
            fetchWaitMs = engine.fetchWaitMs +
              m.shuffleReadMetrics.fetchWaitTime)
        }
    }
    // storage memory held by cached and locally checkpointed RDD blocks
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val id = b.blockId.name
        val now = b.memSize + b.diskSize
        blockBytes += now - blocks.getOrElse(id, 0L)
        if (now == 0) blocks.remove(id) else blocks(id) = now
        storagePeakBytes = math.max(storagePeakBytes, blockBytes)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit =
      plans = add(plans, Probes.planCounts(qe.executedPlan))
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 || p.batchId >= 0) {
        streamBatches.incrementAndGet()
        streamBatchMs.synchronized(streamBatchMs += p.batchDuration.toDouble)
        streamStateRows = math.max(streamStateRows,
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  private def add(a: PlanCounts, b: PlanCounts) = PlanCounts(
    a.sourceRowsKept + b.sourceRowsKept,
    a.targetRowsScanned + b.targetRowsScanned,
    a.dedupRowsIn + b.dedupRowsIn, a.dedupRowsOut + b.dedupRowsOut)

  def register(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Forget the streams seen so far (the warm pass's). */
  def resetStreaming(): Unit = {
    snapshot()
    streamBatches.set(0)
    streamBatchMs.synchronized(streamBatchMs.clear())
    streamStateRows = 0
  }

  def snapshot(): (EngineCounts, PlanCounts) = {
    org.apache.spark.ListenerDrain(sc)
    (engine, plans)
  }
}

object Probes {
  private def rows(p: SparkPlan): Option[Long] =
    Seq("numOutputRows", "shuffleRecordsWritten", "recordsRead")
      .flatMap(p.metrics.get).headOption.map(_.value)

  /** Every node of an executed plan, through adaptive wrappers and query
    * stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Nodes a keep-latest dedup adds around its window: the sort, the
    * shuffle, Spark's per-partition `WindowGroupLimit` and codegen
    * wrappers. */
  private val DedupChain = Seq("Window", "WindowGroupLimit", "Sort", "Exchange",
    "AQEShuffleRead", "ShuffleQueryStage", "InputAdapter", "WholeStageCodegen")

  /** Rows entering the dedup whose window is `w`: the row count of the
    * first counting node below its chain. */
  private def dedupInput(w: SparkPlan): Long = {
    def down(x: SparkPlan, inChain: Boolean): Option[Long] = x match {
      case a: AdaptiveSparkPlanExec => down(a.executedPlan, inChain)
      case q: QueryStageExec => down(q.plan, inChain)
      case y if inChain && DedupChain.exists(y.nodeName.startsWith) =>
        y.children.headOption.flatMap(down(_, inChain = true))
      case y => rows(y).orElse(
        if (y.children.length == 1) down(y.children.head, inChain = false) else None)
    }
    w.children.headOption.flatMap(down(_, inChain = true)).getOrElse(0L)
  }

  private def reachesWindow(p: SparkPlan): Boolean = p match {
    case _: WindowExec => true
    case a: AdaptiveSparkPlanExec => reachesWindow(a.executedPlan)
    case q: QueryStageExec => reachesWindow(q.plan)
    case x if x.children.length == 1 && rows(x).isEmpty =>
      reachesWindow(x.children.head)
    case _ => false
  }

  /** Source rows kept by SRI scans, rows read from sync targets (parquet
    * directories named `target`), and rows into and out of keep-latest
    * dedups. */
  def planCounts(plan: SparkPlan): PlanCounts = {
    val all = nodes(plan)
    val kept = all.collect {
      case s: BatchScanExec if s.scan.getClass.getName.contains("SriScan") =>
        rows(s).getOrElse(0L)
    }.sum
    val scanned = all.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "target") =>
        rows(f).getOrElse(0L)
    }.sum
    val windows = all.collect { case w: WindowExec => w }
    val dedupIn = windows.map(dedupInput).sum
    val dedupOut = all.collect {
      case f: FilterExec if reachesWindow(f.child) => rows(f).getOrElse(0L)
    }.sum
    PlanCounts(kept, scanned, dedupIn, dedupOut)
  }
}

/** Spans recorded at each public-call boundary of a traced run: name,
  * start, end and parent, kept in memory and written out at the end. */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** The spans in start order, as JSON values. */
  def toJava: java.util.List[java.util.Map[String, Any]] =
    done.sortBy(_.startNs).map(s => JsonOut.obj("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)).asJava
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long)
}
