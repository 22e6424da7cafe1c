package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, Semaphore, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * resolution, so they line up with the timestamps Spark puts on its own
  * listener events.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double,
    end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Spans of one run, kept in memory and written out when the run ends. */
final class Spans(val traceId: String) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val buf = ArrayBuffer.empty[Span]

  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def add(parent: Int, name: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Int = synchronized {
    val id = buf.size + 1
    buf += Span(id, parent, name, start, end, attrs)
    id
  }

  def close(id: Int): Unit = synchronized { buf(id - 1) = buf(id - 1).copy(end = now()) }

  /** Runs `f` inside a span; the span is recorded even when `f` throws. */
  def time[T](parent: Int, name: String)(f: Int => T): T = {
    val id = synchronized { buf += Span(buf.size + 1, parent, name, now(), Double.NaN); buf.size }
    try f(id)
    finally close(id)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Duration of `s` minus the part of it its children cover. */
  def selfMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    s.dur - covered
  }
}

/** Operator-level numbers read from one executed plan's SQL metrics. */
final case class PlanStats(
    startMs: Double,        // first planning phase start
    planMs: Double,         // analysis + optimization + planning
    execMs: Double,
    metrics: Map[String, Double],
    metricIds: Map[String, Long]) // operator role -> id of one of its metric accumulators

final case class Job(id: Int, group: String, start: Double, var end: Double,
    stageIds: Seq[Int])
final case class Stage(id: Int, submit: Double, done: Double, tasks: Int,
    shuffleWriteBytes: Long)
final case class Task(stageId: Int, durMs: Long, ok: Boolean, accumIds: Set[Long])

/** Everything the traced run collects through Spark's public listener
  * APIs. Nothing here runs inside the program under test; it is
  * registered on the session from outside and removed afterwards.
  */
final class SparkTrace(spark: SparkSession) {

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[PlanStats]()
  @volatile private var drainLatch: CountDownLatch = _
  private val DrainGroup = "perfbench.drain"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, g, e.time.toDouble, Double.NaN, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        j.end = e.time.toDouble
        if (j.group == DrainGroup && drainLatch != null) drainLatch.countDown()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages.put((s.stageId, s.attemptNumber()), Stage(s.stageId,
        s.submissionTime.getOrElse(0L).toDouble, s.completionTime.getOrElse(0L).toDouble,
        s.numTasks, if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ok = e.reason == org.apache.spark.Success
      tasks.add(Task(e.stageId, e.taskInfo.duration, ok,
        e.taskInfo.accumulables.map(_.id).toSet))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(planStats(qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until every event posted before this call has reached the
    * listeners: a marker job is posted after them on the same queue, and
    * its end event is delivered after theirs.
    */
  def drain(): Unit = {
    drainLatch = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setJobGroup(DrainGroup, "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!drainLatch.await(120, TimeUnit.SECONDS))
      throw new IllegalStateException("listener events did not drain within 120 s")
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case _ => p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes)
  })

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  private def planStats(qe: QueryExecution, durationNs: Long): PlanStats = {
    val phases = qe.tracker.phases
    val planMs = phases.values.map(ph => (ph.endTimeMs - ph.startTimeMs).toDouble).sum
    val startMs = if (phases.isEmpty) Double.NaN
      else phases.values.map(_.startTimeMs).min.toDouble
    val all = nodes(qe.executedPlan)
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ids = scala.collection.mutable.Map.empty[String, Long]
    // a shuffle's role in the hourly job, told by its partitioning key
    def keyRole(p: Partitioning) = p match {
      case _: RangePartitioning => "range"
      case h: HashPartitioning if h.references.exists(_.name == "user_id") => "user"
      case h: HashPartitioning if h.references.exists(_.name == "session_id") => "session"
      case _ => "other"
    }
    all.foreach {
      case w: DataWritingCommandExec =>
        m("write.files") += metric(w, "numFiles")
        m("write.rows") += metric(w, "numOutputRows")
        m("write.job_commit_ms") += metric(w, "jobCommitTime")
      case e: ShuffleExchangeExec =>
        val role = keyRole(e.outputPartitioning)
        m(s"exchange.$role.bytes") += metric(e, "dataSize")
        m(s"exchange.$role.write_ms") += metric(e, "shuffleWriteTime") / 1e6
        e.metrics.get("shuffleRecordsWritten").foreach(a => ids(s"exchange.$role") = a.id)
      case s: SortExec =>
        val role = if (s.global) "range" else nodes(s.child).collectFirst {
          case e: ShuffleExchangeExec => keyRole(e.outputPartitioning)
        }.getOrElse("other")
        m(s"sort.$role.ms") += metric(s, "sortTime")
        m(s"sort.$role.spill") += metric(s, "spillSize")
        s.metrics.get("sortTime").foreach(a => ids(s"sort.$role") = a.id)
      case w: WindowExec =>
        val key = w.partitionSpec.flatMap(_.references.map(_.name)).headOption.getOrElse("")
        m(s"window.$key.spill") += metric(w, "spillSize")
      case f: FilterExec if f.condition.references.exists(_.name == "__rank") =>
        m("carry.rows") += metric(f, "numOutputRows")
      case s: FileSourceScanExec =>
        val role = if (s.output.exists(_.name == "session_id")) "sessions" else "logs"
        m(s"scan.$role.rows") += metric(s, "numOutputRows")
      case _ =>
    }
    PlanStats(startMs, planMs, durationNs / 1e6, m.toMap, ids.toMap)
  }
}

final case class Progress(batchId: Long, timestampMs: Double,
    durations: Map[String, Long], inputRows: Long, stateRows: Long,
    stateMemory: Long, stateCommitMs: Long, dropped: Long, watermark: String)

/** The streaming queries' progress reports. Registered on every
  * `stream_relaunch` run, traced or not: the output check needs the
  * watermark drop counter, and a report arrives once per micro-batch.
  */
final class StreamProgress(spark: SparkSession) extends StreamingQueryListener {
  val reports = new ConcurrentLinkedQueue[Progress]()
  private val terminated = new Semaphore(0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    reports.add(Progress(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
      Option(p.eventTime).flatMap(m => Option(m.get("watermark"))).getOrElse("")))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.release()

  def register(): Unit = spark.streams.addListener(this)
  def unregister(): Unit = spark.streams.removeListener(this)

  /** Waits for the terminated events of `runs` finished queries; each is
    * posted after that query's last progress report.
    */
  def awaitTerminated(runs: Int): Unit =
    if (!terminated.tryAcquire(runs, 120, TimeUnit.SECONDS))
      throw new IllegalStateException("streaming listener events did not drain within 120 s")
}
