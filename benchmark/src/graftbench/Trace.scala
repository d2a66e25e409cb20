package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock spans recorded by the benchmark around its calls into the
  * program. Always on: the end-to-end metrics are built from them. While
  * a span runs, the Spark jobs it submits carry the span's name in the
  * local property [[Spans.PhaseKey]], which is how the traced run
  * attributes listener events to the calling layer. */
object Spans {
  val PhaseKey = "graftbench.phase"

  final case class Span(name: String, startMs: Long, endMs: Long)

  private val recorded = new ConcurrentLinkedQueue[Span]()

  def apply[T](spark: SparkSession, name: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try {
      val out = body
      val dt = (System.nanoTime() - t0) / 1e9
      recorded.add(Span(name, startMs, System.currentTimeMillis()))
      (out, dt)
    } finally sc.setLocalProperty(PhaseKey, outer)
  }

  /** Spans with the given name that started at or after `sinceMs`. */
  def all(name: String, sinceMs: Long): Seq[Span] =
    recorded.asScala.filter(s => s.name == name && s.startMs >= sinceMs).toSeq

  /** Total collection time of every JVM garbage collector, in ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

/** The traced run's listeners: one SparkListener (jobs, stages, task
  * metrics, task intervals, and every streaming query's per-micro-batch
  * progress) and one QueryExecutionListener (Catalyst phase times from
  * each query's planning tracker). Installed only
  * with `--trace 1`; everything is kept in memory and summarized at the
  * end of the run. */
final class Trace private (spark: SparkSession) {

  final class JobRec(val id: Int, val startMs: Long, val phase: String,
      stageSite: String, execId: Option[Long], val stageIds: Seq[Int]) {
    /** The call site of the job's SQL execution (which also names the jobs
      * adaptive execution submits from its own threads), else the call
      * site of its result stage. */
    def site: String =
      execId.flatMap(execSites.get).getOrElse(stageSite)
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outputBytes = 0L
    def seconds: Double = (endMs - startMs) / 1e3
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val execSites = mutable.HashMap.empty[Long, String]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stagesRun = mutable.HashSet.empty[(Int, Int)]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // (start of analysis, Catalyst time) of every query execution
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val phase = props.flatMap(p => Option(p.getProperty(Spans.PhaseKey)))
        .getOrElse("")
      // the result stage is created last, so it has the largest id; its
      // name is the job's call site ("head at ERState.scala:229")
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val rec = new JobRec(e.jobId, e.time, phase, site, execId, e.stageIds)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { execSites(x.executionId) = x.description }
      // progress of every session's streaming queries: the streaming gates
      // run on isolated child sessions, whose query managers do not call
      // listeners registered on the parent session
      case x: StreamingQueryListener.QueryProgressEvent =>
        synchronized {
          batches += x.progress.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap
        }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stagesRun += ((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val info = e.taskInfo
      if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  private def register(): Trace = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    this
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchListenerBus.drain(spark.sparkContext)

  /** Jobs started inside spans with the given name, from `sinceMs` on. */
  def jobsIn(phase: String, sinceMs: Long): Seq[JobRec] = { drain(); synchronized {
    jobs.values.filter(j => j.phase == phase && j.startMs >= sinceMs).toSeq
  } }

  /** Spark runtime totals over the given spans, divided by `ops`. */
  def runtime(spans: Seq[Spans.Span], ops: Int, gcMs: Long): Seq[(String, Double)] = {
    drain()
    synchronized {
      def inside(t: Long) = spans.exists(s => t >= s.startMs && t <= s.endMs)
      val js = jobs.values.filter(j => inside(j.startMs)).toSeq
      val jobStages = js.flatMap(_.stageIds).toSet
      val stages = stagesRun.count { case (s, _) => jobStages(s) }
      val busy = spans.map { s =>
        Trace.covered(taskIntervals.toSeq, s.startMs, s.endMs) }.sum
      val wall = spans.map(s => s.endMs - s.startMs).sum
      val n = math.max(ops, 1).toDouble
      Seq(
        "spark.jobs" -> js.size / n,
        "spark.stages" -> stages / n,
        "spark.tasks" -> js.map(_.tasks).sum / n,
        "spark.planning_s" ->
          planning.collect { case (t, ms) if inside(t) => ms }.sum / 1e3 / n,
        "spark.no_task_s" -> (wall - busy) / 1e3 / n,
        "spark.task_run_s" -> js.map(_.runMs).sum / 1e3 / n,
        "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9 / n,
        "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum / n,
        "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum / n,
        "spark.spill_bytes" -> js.map(_.spill).sum / n,
        "spark.gc_s" -> gcMs / 1e3 / n)
    }
  }

  /** Micro-batches reported so far. */
  def streamMark(): Int = { drain(); synchronized(batches.size) }

  /** Totals of the micro-batches reported after `mark`, divided by `ops`. */
  def streaming(mark: Int, ops: Int): Seq[(String, Double)] = {
    drain()
    synchronized {
      val n = math.max(ops, 1).toDouble
      val bs = batches.drop(mark)
      def sum(k: String) = bs.map(_.getOrElse(k, 0L)).sum / n
      Seq("stream.batches" -> bs.size / n,
        "stream.planning_ms" -> sum("queryPlanning"),
        "stream.add_batch_ms" -> sum("addBatch"),
        "stream.commit_ms" -> (sum("commitOffsets") + sum("walCommit")))
    }
  }

  /** Layer metrics a workload adds to the record. */
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  def put(kvs: Iterable[(String, Double)]): Unit = synchronized { layers ++= kvs }

  def report(): String = synchronized {
    Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })
  }
}

object Trace {
  def install(spark: SparkSession): Trace = new Trace(spark).register()

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
