package graftbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call into one layer. Times are epoch ms, the clock Spark's
  * listener events use, so spans and jobs line up.
  */
final case class Span(id: Long, name: String, layer: String, parent: Long, start: Long, end: Long) {
  def ms: Double = (end - start).toDouble
}
final case class JobRec(id: Int, span: Long, start: Long, end: Long, stages: Seq[Int])
final case class StageRec(id: Int, submitted: Long, completed: Long, tasks: Int)
final case class TaskRec(
    stage: Int, durationMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputBytes: Long, ok: Boolean, attempt: Int)

/** Span recorder plus Spark listener. A span sets a local property on the
  * calling thread; every job that call submits carries it, which maps jobs
  * (and their stages and tasks) to the span. Everything stays in memory
  * until [[drain]] and the analysis at the end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 0L

  private val jobStarts = mutable.Map.empty[Int, (Long, Long, Seq[Int])]
  private val jobEnds = mutable.Map.empty[Int, Long]
  private val stageRecs = mutable.Map.empty[Int, StageRec]
  private val taskRecs = mutable.ArrayBuffer.empty[TaskRec]
  @volatile private var drainLatch: (String, CountDownLatch) = ("", new CountDownLatch(0))

  sc.addSparkListener(this)

  /** Runs `body` as a span of `layer`; nested calls record their parent. */
  def span[T](name: String, layer: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    stack = id :: stack
    val start = Clock.nowMs
    try body
    finally {
      spans += Span(id, name, layer, parent, start, Clock.nowMs)
      stack = stack.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse("0")
    val spanId = if (sp.startsWith("drain-")) -1L else sp.toLong
    jobStarts(e.jobId) = (spanId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized { jobEnds(e.jobId) = e.time }
    // the drain job is the last event this listener's queue delivers
    // before drain() returns; its properties were seen at job start
    val (tag, latch) = drainLatch
    if (tag.nonEmpty && synchronized(jobStarts.get(e.jobId).exists(_._1 == -1L))) latch.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageRecs(s.stageId) = StageRec(s.stageId, s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L), s.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    taskRecs += TaskRec(e.stageId, e.taskInfo.duration,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      ok, e.taskInfo.attemptNumber)
  }

  /** Waits until the listener has seen every event posted so far: the bus
    * delivers a queue's events in order, so once a marker job's end
    * arrives, all earlier jobs, stages and tasks have been recorded.
    */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    val tag = s"drain-${System.nanoTime()}"
    drainLatch = (tag, latch)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, prev)
    require(latch.await(60, TimeUnit.SECONDS), "Spark listener bus did not drain")
    drainLatch = ("", new CountDownLatch(0))
  }

  def close(): Unit = sc.removeSparkListener(this)

  /** Snapshot for analysis; call after [[drain]]. */
  def snapshot(): TraceData = synchronized {
    val jobs = jobStarts.iterator.collect {
      case (id, (sp, st, stages)) if sp >= 0 && jobEnds.contains(id) =>
        JobRec(id, sp, st, jobEnds(id), stages)
    }.toSeq.sortBy(_.start)
    TraceData(spans.toVector, jobs, stageRecs.toMap, taskRecs.toVector)
  }
}

/** Resolved trace: spans with their jobs, stages and tasks. */
final case class TraceData(
    spans: Vector[Span], jobs: Seq[JobRec], stages: Map[Int, StageRec], tasks: Vector[TaskRec]) {
  private lazy val jobsBySpan = jobs.groupBy(_.span)
  private lazy val tasksByStage = tasks.groupBy(_.stage)

  def named(name: String): Vector[Span] = spans.filter(_.name == name)
  def jobsOf(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
  def stagesOf(s: Span): Seq[StageRec] = jobsOf(s).flatMap(_.stages).distinct.flatMap(stages.get)
  def tasksOf(s: Span): Seq[TaskRec] = stagesOf(s).flatMap(st => tasksByStage.getOrElse(st.id, Nil))
  def tasksOfStage(st: StageRec): Seq[TaskRec] = tasksByStage.getOrElse(st.id, Nil)
  def children(s: Span): Vector[Span] = spans.filter(_.parent == s.id)

  /** Call start to the first job start. */
  def headMs(s: Span): Double =
    jobsOf(s).headOption.map(j => (j.start - s.start).toDouble).getOrElse(s.ms)

  /** Last job end to the call's return. */
  def tailMs(s: Span): Double =
    if (jobsOf(s).isEmpty) 0.0 else (s.end - jobsOf(s).map(_.end).max).toDouble

  /** The call's wall time minus the union of its job intervals. */
  def driverGapMs(s: Span): Double = s.ms - TraceData.unionMs(jobsOf(s).map(j => (j.start, j.end)), s)

  /** Self time by layer: a span keeps its duration minus what its child
    * spans and its Spark jobs cover; job time belongs to layer `spark`.
    */
  def selfTimeByLayer(s: Span): Map[String, Double] = {
    val kids = children(s)
    val jobIv = jobsOf(s).map(j => (j.start, j.end))
    val covered = TraceData.unionMs(kids.map(k => (k.start, k.end)) ++ jobIv, s)
    val own = Map(s.layer -> (s.ms - covered))
    val jobMs = TraceData.unionMs(jobIv, s) -
      TraceData.unionMs(TraceData.intersect(jobIv, kids.map(k => (k.start, k.end))), s)
    val withJobs = if (jobMs > 0) TraceData.plus(own, Map("spark" -> jobMs)) else own
    kids.foldLeft(withJobs)((acc, k) => TraceData.plus(acc, selfTimeByLayer(k)))
  }

  /** Σ task time ÷ (wall of the stages × cores). */
  def coreUtil(stagesIn: Seq[StageRec], nproc: Int): Double = {
    val ts = stagesIn.flatMap(tasksOfStage)
    val wall = TraceData.unionMs(stagesIn.map(st => (st.submitted, st.completed)), null)
    if (wall <= 0) 0.0 else ts.map(_.durationMs).sum.toDouble / (wall * nproc)
  }

  /** Max ÷ median task time of a stage. */
  def taskSkew(st: StageRec): Double = {
    val d = tasksOfStage(st).map(_.durationMs.toDouble)
    if (d.isEmpty) 0.0 else { val m = Stats.median(d); if (m <= 0) 0.0 else d.max / m }
  }
}

object TraceData {
  /** Length of the union of intervals, clipped to `within` when given. */
  def unionMs(iv: Seq[(Long, Long)], within: Span): Double = {
    val clipped = iv.map { case (a, b) =>
      if (within == null) (a, b) else (math.max(a, within.start), math.min(b, within.end))
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  def intersect(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for ((a, b) <- xs; (c, d) <- ys if math.min(b, d) > math.max(a, c)) yield (math.max(a, c), math.min(b, d))

  def plus(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).iterator.map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
}
