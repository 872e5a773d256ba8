package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `unit` is the stream round or the day the call
  * belongs to; spans of one unit share it.
  */
final case class Span(id: Long, parent: Long, unit: String, layer: String,
    name: String, startMs: Long, endMs: Long, durMs: Double)

final case class JobRec(jobId: Int, span: Long, unit: String, queryId: String,
    batchId: String, startMs: Long, var endMs: Long = -1L)

/** Task-level totals for a group of jobs. */
final class TaskAcc {
  var tasks, failedTasks, emptyTasks = 0L
  var taskMs, gcMs, schedMs = 0.0
  var shuffleW, shuffleR, spill, input = 0L
  def add(o: TaskAcc): Unit = {
    tasks += o.tasks; failedTasks += o.failedTasks; emptyTasks += o.emptyTasks
    taskMs += o.taskMs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleW += o.shuffleW; shuffleR += o.shuffleR; spill += o.spill; input += o.input
  }
}

/** One micro-batch's progress, as the StreamingQueryListener saw it. */
final case class Progress(query: String, name: String, batchId: Long, startMs: Long, endMs: Long,
    inputRows: Long, endOffset: Long, durations: Map[String, Long],
    stateful: Boolean, stateRows: Long, stateMem: Long, stateCommitMs: Long)

/** Times every call the harness makes into a layer. With tracing on it also
  * keeps spans in memory, tags Spark jobs with the enclosing span through
  * the job group, and attaches Spark, query-execution listeners; streaming
  * progress is always recorded (latency is computed from it).
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val samples = new Samples
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  @volatile var unit: String = "setup"
  /** Timing the harness records are kept only while this is on (set-up
    * and warm-up calls are not measured).
    */
  @volatile var measuring = false
  /** Spans, job tags and listener records are kept only while this is on:
    * the traced half of a traced run.
    */
  @volatile var enabled = false

  // ---- listener state (written on the listener-bus thread)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Double]]()
  private val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAcc]()
  val planMs = new ConcurrentLinkedQueue[Double]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val span = prop("spark.jobGroup.id")
      jobs.put(e.jobId, JobRec(e.jobId,
        if (span.startsWith("pb-")) span.drop(3).toLong else 0L,
        prop("perfbench.unit"), prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId"), e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val job = Option(stageJob.get(e.stageId)).getOrElse(-1)
      val acc = jobTasks.computeIfAbsent(job, _ => new TaskAcc)
      val m = e.taskMetrics
      val info = e.taskInfo
      acc.synchronized {
        acc.tasks += 1
        if (!info.successful) acc.failedTasks += 1
        if (m != null) {
          val run = m.executorRunTime.toDouble
          acc.taskMs += run
          acc.gcMs += m.jvmGCTime
          acc.schedMs += math.max(0.0, info.duration - run - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          acc.shuffleW += m.shuffleWriteMetrics.bytesWritten
          acc.shuffleR += m.shuffleReadMetrics.totalBytesRead
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          acc.input += m.inputMetrics.bytesRead
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            acc.emptyTasks += 1
          stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Double]).add(run)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) planMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + d.getOrElse("triggerExecution", 0L)
      val off = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
      val st = p.stateOperators
      val rec = Progress(p.id.toString, p.name, p.batchId, start, end, p.numInputRows, off, d,
        st.nonEmpty, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum, st.map(_.commitTimeMs).sum)
      progress.add(rec)
    }
  }

  spark.streams.addListener(streamListener)
  if (traced) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.streams.removeListener(streamListener)
    if (traced) {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.SparkBus.drain(sc)

  /** Time one call into `layer`; `name` is the operation (spec id, verb). */
  def call[T](layer: String, name: String)(f: => T): T = {
    val on = enabled
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    if (on) {
      stack = id :: stack
      sc.setJobGroup(s"pb-$id", s"$layer:$name")
      sc.setLocalProperty("perfbench.unit", unit)
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      if (measuring) {
        samples.add(layer, ms)
        samples.add(s"$layer.$name", ms)
      } else samples.add(s"setup.$layer", ms)
      if (on) {
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        if (measuring) spans += Span(id, parent, unit, layer, name, startMs,
          System.currentTimeMillis(), ms)
      }
    }
  }

  // ---------------------------------------------------------------- report
  def spanList: Seq[Span] = spans.toSeq

  private def jobsOf(keep: JobRec => Boolean): Seq[JobRec] =
    jobs.values().asScala.filter(keep).toSeq

  /** Jobs started inside the span or any of its descendants. */
  def jobsUnder(span: Span): Seq[JobRec] = {
    val ids = descendants(span.id) + span.id
    jobsOf(j => ids.contains(j.span))
  }

  private lazy val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent).map {
    case (k, v) => k -> v.toSeq }
  private def descendants(id: Long): Set[Long] =
    children.getOrElse(id, Nil).flatMap(c => descendants(c.id) + c.id).toSet

  /** Self time per layer: span time minus the time of its child spans. */
  def selfMsByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum).sum
    }

  def tasksOf(js: Seq[JobRec]): TaskAcc = {
    val acc = new TaskAcc
    js.foreach(j => Option(jobTasks.get(j.jobId)).foreach(acc.add))
    acc
  }

  /** Per stage of the given jobs: slowest task over the median task. */
  def stageSkews(js: Seq[JobRec]): Seq[Double] = {
    val ids = js.map(_.jobId).toSet
    stageTasks.asScala.collect {
      case (stage, ts) if ids.contains(stageJob.getOrDefault(stage, -1)) && ts.size > 1 =>
        val xs = ts.asScala.toSeq
        val med = Stats.median(xs)
        if (med > 0) xs.max / med else 1.0
    }.toSeq
  }

  def stagesOf(js: Seq[JobRec]): Int = {
    val ids = js.map(_.jobId).toSet
    stageJob.asScala.count { case (_, j) => ids.contains(j) }
  }

  /** Wall time in [from, to] during which no job of `js` was running. */
  def uncoveredMs(js: Seq[JobRec], from: Long, to: Long): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (math.max(j.startMs, from), math.min(j.endMs, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (to - from - covered).toDouble)
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
      "unit" -> s.unit, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))) ++
      jobs.values().asScala.toSeq.sortBy(_.jobId).map(j => Json(Map(
        "job" -> j.jobId, "span" -> j.span, "unit" -> j.unit,
        "query" -> j.queryId, "batch" -> j.batchId,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
