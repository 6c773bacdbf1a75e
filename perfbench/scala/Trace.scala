package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One trigger of a streaming query, from its `StreamingQueryProgress`. */
final case class Trigger(query: String, triggerMs: Long, planMs: Long,
    addBatchMs: Long, walMs: Long, inputRows: Long, stateRows: Long,
    stateBytes: Long)

/** What the Spark listeners saw during one timed call. Listener queues
  * deliver on their own threads, so every update locks the instance. */
final class Counters {
  val jobs = mutable.Map.empty[Int, Array[Long]]  // job id -> [start ms, end ms]
  var tasks, runMs, cpuNs, scanBytes, scanRows = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  var scanTasksMin = Int.MaxValue
  var sqlActions = 0
  var planMs = 0L
  // output path -> [seconds, bytes, files, rows]
  val writes = mutable.Map.empty[String, Array[Double]]
  val triggers = mutable.ArrayBuffer.empty[Trigger]

  /** Milliseconds of `[from, to]` covered by at least one job. */
  def jobBusyMs(from: Long, to: Long): Long = synchronized {
    val iv = jobs.values.map(j => (math.max(j(0), from),
      math.min(if (j(1) < 0) to else j(1), to))).filter(p => p._2 > p._1)
      .toSeq.sortBy(_._1)
    var busy = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case _ => cur.foreach { case (cs, ce) => busy += ce - cs }; cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => busy += ce - cs }
    busy
  }
}

/** A timed interval: workload, pass or day, call. `group` is the Spark
  * job group the call ran under. */
final case class Span(id: Int, parent: Int, name: String, group: String,
    startMs: Long, startNs: Long) {
  var endNs: Long = -1L
  var counters: Counters = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans for every timed call and, when `listen` is set, the public Spark
  * listeners (SparkListener, QueryExecutionListener,
  * StreamingQueryListener) that fill each call's [[Counters]]. Each call
  * runs under its own job group; events carrying another group (a
  * streaming query sets its own) go to the call that is open, which is
  * exact because the bus is drained before a call closes. */
final class Tracer(spark: SparkSession, listen: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: Counters = null
  private val byGroup = new ConcurrentHashMap[String, Counters]
  private val byStage = new ConcurrentHashMap[Integer, Counters]
  private val byJob = new ConcurrentHashMap[Integer, Counters]

  def begin(name: String, parent: Int): Span = synchronized {
    val s = Span(spans.size, parent, name, s"perfbench-${spans.size}",
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    s
  }

  def end(s: Span): Span = { s.endNs = System.nanoTime(); s }

  /** Time `body` as one call under `parent`. A throw is returned, not
    * raised, so the caller records it and the loop goes on. */
  def call[T](name: String, parent: Int)(body: => T): (Span, scala.util.Try[T]) = {
    val s = begin(name, parent)
    if (listen) {
      byGroup.put(s.group, s.counters)
      open = s.counters
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
    }
    val r = try scala.util.Try(body) finally {
      end(s)
      if (listen) {
        sc.clearJobGroup()
        org.apache.spark.BusDrain(sc)
        open = null
      }
    }
    (s, r)
  }

  /** Triggers of every streaming query of the run; kept in the untraced
    * run too, for the trigger-latency figures. */
  val triggers = mutable.ArrayBuffer.empty[Trigger]

  private def owner(props: java.util.Properties): Counters = {
    val g = if (props == null) null else props.getProperty("spark.jobGroup.id")
    val c = if (g == null) null else byGroup.get(g)
    if (c != null) c else open
  }

  if (listen) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val c = owner(e.properties)
        if (c != null) {
          c.synchronized { c.jobs(e.jobId) = Array(e.time, -1L) }
          byJob.put(e.jobId, c)
          e.stageIds.foreach(id => byStage.put(id, c))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val c = byJob.remove(e.jobId)
        if (c != null) c.synchronized { c.jobs.get(e.jobId).foreach(_(1) = e.time) }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val c = byStage.remove(info.stageId)
        val m = info.taskMetrics
        if (c != null && m != null) c.synchronized {
          c.tasks += info.numTasks
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillDisk += m.diskBytesSpilled
          if (m.inputMetrics.bytesRead > 0) {
            c.scanBytes += m.inputMetrics.bytesRead
            c.scanRows += m.inputMetrics.recordsRead
            c.scanTasksMin = math.min(c.scanTasksMin, info.numTasks)
          }
        }
      }
    })

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = record(qe, durationNs)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = record(qe, 0L)
    })
  }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val t = Trigger(p.id.toString, d("triggerExecution"), d("queryPlanning"),
        d("addBatch"), d("walCommit"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
      triggers.synchronized { triggers += t }
      val c = open
      if (c != null) c.synchronized { c.triggers += t }
    }
  })

  private def writeOf(plan: SparkPlan): Option[DataWritingCommandExec] =
    plan.collectFirst { case w: DataWritingCommandExec => w }.orElse(
      plan.collectFirst { case r: CommandResultExec => r.commandPhysicalPlan }
        .flatMap(writeOf))

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val c = open
    if (c == null) return
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val write = scala.util.Try(writeOf(qe.executedPlan)).toOption.flatten
    c.synchronized {
      c.sqlActions += 1
      c.planMs += planMs
      write.foreach { w =>
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            def metric(k: String) = i.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
            val a = c.writes.getOrElseUpdate(i.outputPath.toString, Array(0.0, 0.0, 0.0, 0.0))
            a(0) += durationNs / 1e9
            a(1) += metric("numOutputBytes")
            a(2) += metric("numFiles")
            a(3) += metric("numOutputRows")
          case _ => ()
        }
      }
    }
  }
}
