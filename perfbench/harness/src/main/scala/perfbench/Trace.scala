package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `op`; `parent` is the
  * enclosing span's id (-1 for an operation's root span). */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long)

/** Spans plus Spark counters, keyed by operation id.
  *
  * Untraced (`on = false`) it only runs the bodies: no job group, no
  * listener, no span, so the timed runs pay nothing for it. Traced, each
  * operation's Spark jobs carry the operation id as their job group, and
  * the listener files every job/stage/task event under that group. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private val stack = mutable.Stack.empty[Int]
  private var currentOp = ""
  /** Time spent on the tracer's own work: planning for the exchange
    * count and waiting for listener events. */
  var ownNs = 0L

  private val rec = new Recorder
  if (on) {
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec.qeListener(() => currentOp))
  }

  def counters: Map[String, Map[String, Double]] =
    rec.byGroup.asScala.map { case (g, c) => g -> c.asScala.toMap.map { case (k, v) => k -> v.doubleValue } }.toMap

  /** Run `body` as operation `op`: root span `name`, jobs in group `op`.
    * Waits for the group's events to be delivered before returning. */
  def op[T](op: String, name: String)(body: => T): T =
    if (!on) body
    else {
      currentOp = op
      spark.sparkContext.setJobGroup(op, name, interruptOnCancel = false)
      try span(name)(body)
      finally {
        spark.sparkContext.clearJobGroup()
        drain()
      }
    }

  /** Plan `df` under a `plan` span and count its exchanges. An untraced
    * run leaves planning to the write, so this is tracing's own work. */
  def plan(op: String, df: DataFrame): Unit = if (on) {
    val t0 = System.nanoTime()
    span("plan") {
      val ns = Recorder.nodes(df.queryExecution.executedPlan)
      rec.add(op, "plan.exchanges", ns.count(_.isInstanceOf[ShuffleExchangeLike]))
      rec.add(op, "plan.broadcasts", ns.count(_.isInstanceOf[BroadcastExchangeLike]))
    }
    ownNs += System.nanoTime() - t0
  }

  /** A child span of the innermost open span of the current operation. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
        stack.pop()
      }
    }

  /** Events reach listeners asynchronously, in order, on the shared queue.
    * A one-task job in its own group is queued behind everything the
    * operation posted, so once its end event arrives the operation's
    * events have all been counted. */
  private def drain(): Unit = {
    val t0 = System.nanoTime()
    val latch = new CountDownLatch(1)
    rec.drainLatch = latch
    spark.sparkContext.setJobGroup(Recorder.DrainGroup, "drain", interruptOnCancel = false)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    if (!latch.await(60, TimeUnit.SECONDS))
      System.err.println("perfbench: listener drain timed out")
    ownNs += System.nanoTime() - t0
  }
}

object Recorder {
  val DrainGroup = "perfbench-drain"
  private val GroupProp = "spark.jobGroup.id"

  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Seq.empty
    }
    plan +: (inner ++ plan.children ++ plan.subqueries).flatMap(nodes)
  }
}

/** Sums Spark's scheduler, task and SQL events per job group. */
final class Recorder extends SparkListener {
  import Recorder._

  val byGroup = new ConcurrentHashMap[String, ConcurrentHashMap[String, java.lang.Double]]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var drainLatch: CountDownLatch = new CountDownLatch(0)

  def add(group: String, name: String, v: Double): Unit =
    byGroup.computeIfAbsent(group, _ => new ConcurrentHashMap())
      .merge(name, v, (a: java.lang.Double, b: java.lang.Double) => a + b)

  private val drainJobs = ConcurrentHashMap.newKeySet[Int]()
  private val cutJobs = ConcurrentHashMap.newKeySet[Int]()
  private val memoJobs = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupProp))).getOrElse("")
    if (g == DrainGroup) drainJobs.add(e.jobId)
    if (g == DrainGroup || g.isEmpty) return
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    add(g, "spark.jobs", 1)
    add(g, "spark.stages", e.stageInfos.size)
    // the graft layer a job was launched from, read off its call site
    val sites = e.stageInfos.map(_.details)
    if (sites.exists(_.contains("graft.Ckpt$.cut"))) {
      cutJobs.add(e.jobId)
      add(g, "Ckpt.cut_jobs", 1)
    }
    if (sites.exists(_.contains("graft.ext.Graph$.coPurchaseEdges"))) memoJobs.add(e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (drainJobs.remove(e.jobId)) drainLatch.countDown()
    val g = jobGroup.remove(e.jobId)
    if (g == null) return
    val secs = (e.time - jobStart.remove(e.jobId)) / 1e3
    if (cutJobs.remove(e.jobId)) add(g, "Ckpt.cut_s", secs)
    if (memoJobs.remove(e.jobId)) add(g, "Graph.edge_memo_fill_s", secs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    val info = e.taskInfo
    add(g, "spark.tasks", 1)
    if (info.failed || info.killed) add(g, "spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m == null) return
    add(g, "spark.task_run_s", m.executorRunTime / 1e3)
    add(g, "spark.task_cpu_s", m.executorCpuTime / 1e9)
    add(g, "spark.gc_s", m.jvmGCTime / 1e3)
    add(g, "spark.sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3)
    add(g, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add(g, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
    add(g, "spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add(g, "spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    byGroup.computeIfAbsent(g, _ => new ConcurrentHashMap())
      .merge("spark.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble,
        (a: java.lang.Double, b: java.lang.Double) => math.max(a, b))
    add(g, "store.bytes_written", m.outputMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(g => g != DrainGroup).foreach(add(_, "spark.sql_executions", 1))
    case _ =>
  }

  /** Parquet scan metrics per SQL execution, filed under the operation
    * running when the execution finished (operations run one at a time). */
  def qeListener(current: () => String): QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = current()
      if (op.nonEmpty) Recorder.nodes(qe.executedPlan).collect { case f: FileSourceScanExec => f }.foreach { s =>
        Seq("numFiles" -> "Tables.files_read", "filesSize" -> "Tables.bytes_read",
          "numOutputRows" -> "Tables.rows_read").foreach { case (m, name) =>
          s.metrics.get(m).foreach(v => add(op, name, v.value))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
