package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call. `parent` is -1 for a root span; `cycle` is the
  * workload cycle the call belongs to (-1 outside the timed loop). */
final case class Span(id: Int, name: String, parent: Int, cycle: Int,
                      traced: Boolean, startNs: Long, startMs: Long,
                      var endNs: Long = 0L, var endMs: Long = 0L,
                      var failed: Boolean = false) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Every span records its wall time; while `tracing` is
  * on, each span also tags the Spark jobs it starts (job group plus the
  * `perfbench.span` local property, which threads started inside the
  * span, such as a streaming query's, inherit) so [[JobTrace]] can
  * charge their work to it. Spans are kept in memory and written out
  * when the run ends. */
final class Spans(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var cycle: Int = -1
  var tracing: Boolean = false

  def all: Seq[Span] = spans.toSeq

  def apply[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, cycle, tracing,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val saved = if (tracing) Some(tag(s)) else None
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      if (Spans.verbose) System.err.println(f"[span] ${s.name} ${s.wallS}%.3f s")
      stack = stack.tail
      saved.foreach(restore)
    }
  }

  // SparkContext.SPARK_JOB_GROUP_ID / SPARK_JOB_DESCRIPTION (private[spark])
  private val GroupId = "spark.jobGroup.id"
  private val Description = "spark.job.description"
  private val keys = Seq("perfbench.span", GroupId, Description)

  private def tag(s: Span): Seq[(String, String)] = {
    val old = keys.map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty("perfbench.span", s.id.toString)
    sc.setLocalProperty(GroupId, s"perfbench-${s.id}")
    sc.setLocalProperty(Description, s.name)
    old
  }

  private def restore(old: Seq[(String, String)]): Unit =
    old.foreach { case (k, v) => sc.setLocalProperty(k, v) }
}

object Spans {
  /** Print every span as it ends (set PERFBENCH_VERBOSE=1). */
  val verbose: Boolean = sys.env.get("PERFBENCH_VERBOSE").contains("1")
}

/** Spark work charged to one span (summed over its jobs' tasks). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  /** Task durations per (stage, attempt). */
  val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
    shuffleWrite += o.shuffleWrite; inputBytes += o.inputBytes
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max ÷ median task time in the stage with the largest total task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = math.max(ts(ts.size / 2), 1L).toDouble
      ts.last / med
    }
}

/** The benchmark's one SparkListener: maps jobs and stages to the span
  * that started them and sums task metrics per span. Registered only in
  * traced runs. */
final class JobTrace extends SparkListener {
  val perSpan = mutable.Map.empty[Int, Work]
  val jobSpan = mutable.Map.empty[Int, Int]
  val jobTimes = mutable.Map.empty[Int, (Long, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  @volatile private var lastJobEnd = -1

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(-1)

  private def work(span: Int): Work = perSpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(JobTrace.Marker) != null)) return
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    jobTimes(e.jobId) = (e.time, e.time)
    e.stageIds.foreach(stageSpan(_) = s)
    work(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (st, _) => jobTimes(e.jobId) = (st, e.time) }
    lastJobEnd = e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!stageSpan.contains(e.stageId)) return // the drain marker's stage
    val s = stageSpan(e.stageId)
    val w = work(s)
    val info = e.taskInfo
    w.tasks += 1
    if (info.failed || info.killed) w.failedTasks += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      w.waitMs += math.max(0L, info.launchTime - sub)
    }
    w.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def sawJobEnd(jobId: Int): Boolean = lastJobEnd >= jobId
}

object JobTrace {
  /** Local property of the marker job that flushes the listener bus. */
  val Marker = "perfbench.marker"
}

/** One micro-batch as the streaming listener saw it. */
final case class Batch(query: String, triggerMs: Long, addBatchMs: Long)

/** The benchmark's one StreamingQueryListener: records every
  * micro-batch's `triggerExecution` and `addBatch` durations. Always
  * registered — the ingest workload's batch latencies come from it. */
final class BatchTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0)
      batches += Batch(p.name, d("triggerExecution"), d("addBatch"))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
}

/** Per-span aggregation of a traced run. */
object Attribution {

  /** Length of the union of `[s, e]` intervals clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Each span with its descendants (inclusive). */
  def subtree(spans: Seq[Span]): Map[Int, Seq[Int]] = {
    val kids = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(walk)
    spans.map(s => s.id -> walk(s.id)).toMap
  }

  /** Span wall minus the part of it its children cover. */
  def selfS(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
  }

  /** Span wall during which none of its (or its descendants') jobs ran. */
  def driverS(s: Span, ids: Seq[Int], jt: JobTrace): Double = {
    val mine = ids.toSet
    val jobs = jt.jobSpan.collect { case (j, sp) if mine(sp) => jt.jobTimes(j) }.toSeq
    val wallMs = s.endMs - s.startMs
    math.max(0L, wallMs - covered(jobs, s.startMs, s.endMs)) / 1e3
  }

  def work(ids: Seq[Int], jt: JobTrace): Work = {
    val w = new Work
    ids.foreach(i => jt.perSpan.get(i).foreach(w += _))
    w
  }
}
