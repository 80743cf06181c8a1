package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one job group: what Spark did on behalf of one phase of
  * one op. Every field is a plain sum except `peakExecMem` (a max). */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L
  var queryExecutions, exchanges, reusedExchanges = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var filesRead, partitionsRead, filesWritten = 0L
}

/** A closed interval on the wall clock, in epoch milliseconds. */
final case class Span(name: String, layer: String, startMs: Double,
    endMs: Double)

/** The traced run's recorder. It listens through Spark's public listener
  * APIs only and attributes everything by the job group that the
  * benchmark sets on its calling thread before each phase of an op — never
  * by time window, since the listener bus is asynchronous. Counts and
  * spans stay in memory; [[fence]] waits until the bus has delivered every
  * event posted before it. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val counts = mutable.HashMap[String, Counts]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobGroup = mutable.HashMap[Int, String]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val execGroup = mutable.HashMap[Long, String]()
  private val spansByGroup = mutable.HashMap[String, mutable.ArrayBuffer[Span]]()
  private val blockBytes = mutable.HashMap[String, Long]()
  private var storedBytes = 0L
  private var storagePeak = 0L
  private var unattributed = 0L
  @volatile private var fenceSeen = -1

  private def of(g: String): Counts = counts.getOrElseUpdate(g, new Counts)
  private def spans(g: String) =
    spansByGroup.getOrElseUpdate(g, mutable.ArrayBuffer[Span]())

  /** Counts of group `g`, after a [[fence]]. */
  def get(g: String): Counts = synchronized(counts.getOrElse(g, new Counts))
  def spansOf(g: String): Seq[Span] =
    synchronized(spansByGroup.get(g).map(_.toList).getOrElse(Nil))
  def storagePeakBytes: Long = synchronized(storagePeak)
  /** Forget the blocks seen so far: block events are missed while the
    * tracer is not installed. The peak is kept. */
  def resetStorage(): Unit = synchronized {
    blockBytes.clear()
    storedBytes = 0L
  }
  def unattributedEvents: Long = synchronized(unattributed)

  /** The query-execution listener goes in first: the session's execution
    * listener bus then sits before this listener in the shared queue, so
    * for every SQL execution end event `onSuccess` runs just before this
    * listener sees the same event and pairs the two. The `QueryExecution`
    * id is not the SQL execution id, so the pairing is what links a
    * planning tracker to the job group of the op that ran it. */
  def install(): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
  }

  def uninstall(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * run one tiny job under a fence group and wait for its end event. The
    * bus keeps the order of events within its queue, and this listener
    * and the query-execution listeners share one queue. */
  def fence(): Unit = {
    val sc = spark.sparkContext
    val id = fenceSeen + 1
    sc.setJobGroup(s"pbfence/$id", "perfbench fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (fenceSeen < id && System.nanoTime() < deadline) Thread.sleep(1)
    require(fenceSeen >= id, "listener bus did not drain within 30 s")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g match {
      case Some(gid) =>
        jobGroup(e.jobId) = gid
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(s => stageGroup(s) = gid)
        of(gid).jobs += 1
      case None => unattributed += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val fenceId = synchronized {
      jobGroup.remove(e.jobId).flatMap { g =>
        val start = jobStartMs.remove(e.jobId).getOrElse(e.time)
        spans(g) += Span(s"job ${e.jobId}", "exec", start.toDouble,
          e.time.toDouble)
        if (g.startsWith("pbfence/")) Some(g.stripPrefix("pbfence/").toInt)
        else None
      }
    }
    fenceId.foreach(id => fenceSeen = math.max(fenceSeen, id))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(g => of(g).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      val key = info.blockId.name
      storedBytes -= blockBytes.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val b = info.memSize + info.diskSize
        blockBytes(key) = b
        storedBytes += b
      }
      storagePeak = math.max(storagePeak, storedBytes)
    }

  private var pendingQe: Option[QueryExecution] = None

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(s.jobGroupId.foreach(g => execGroup(s.executionId) = g))
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val g = execGroup.remove(end.executionId)
      pendingQe.foreach(qe => g match {
        case Some(group) => record(group, qe)
        case None => unattributed += 1
      })
      pendingQe = None
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { pendingQe = Some(qe) }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized { pendingQe = Some(qe) }

  private def record(g: String, qe: QueryExecution): Unit = {
    val c = of(g)
    c.queryExecutions += 1
    qe.tracker.phases.foreach { case (phase, s) =>
      val ms = s.endTimeMs - s.startTimeMs
      phase match {
        case "analysis" => c.analysisMs += ms
        case "optimization" => c.optimizationMs += ms
        case "planning" => c.planningMs += ms
        case _ =>
      }
      if (phase != "parsing")
        spans(g) += Span(phase, "catalyst", s.startTimeMs.toDouble,
          s.endTimeMs.toDouble)
    }
    Tracer.nodes(qe.executedPlan).foreach {
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec =>
        c.exchanges += 1
      case _: ReusedExchangeExec => c.reusedExchanges += 1
      case w: DataWritingCommandExec =>
        c.filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case p if p.nodeName.startsWith("Scan") =>
        c.filesRead += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
        c.partitionsRead +=
          p.metrics.get("numPartitions").map(_.value).getOrElse(0L)
      case _ =>
    }
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Total length of the union of `spans`, minus the part covered by the
    * union of `minus`: a layer's self time when `minus` holds its
    * children's spans. */
  def selfMs(spans: Seq[Span], minus: Seq[Span]): Double = {
    def union(xs: Seq[Span]): List[(Double, Double)] =
      xs.map(s => (s.startMs, s.endMs)).filter(x => x._2 > x._1)
        .sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
          case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
          case (acc, x) => x :: acc
        }
    val cut = union(minus)
    union(spans).map { case (s, e) =>
      val covered = cut.map { case (cs, ce) =>
        math.max(0.0, math.min(e, ce) - math.max(s, cs))
      }.sum
      (e - s) - covered
    }.sum
  }
}
