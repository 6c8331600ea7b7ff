package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** One timed call the benchmark made. Ids start at 1; `parent` 0 is a
  * top-level span. Spans of one request share `request`.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Intervals {
  /** Length of the union of half-open intervals `ivs`, each clipped to
    * [lo, hi).
    */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children counted once).
    */
  def selfNs(span: Span, children: Seq[(Long, Long)]): Long =
    span.durNs - covered(span.startNs, span.endNs, children)
}

/** In-memory span recorder. While a span is open its id is the calling
  * thread's Spark local property [[Tracer.SpanKey]], so every job the
  * call submits carries it to the [[JobListener]]. Disabled tracers run
  * the body and record nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** Clock pair converting listener event times (epoch ms) to span time. */
  val baseNs: Long = System.nanoTime()
  val baseEpochMs: Long = System.currentTimeMillis()
  def epochMsToNs(ms: Long): Long = baseNs + (ms - baseEpochMs) * 1000000L

  def span[T](name: String, request: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
        stack.set(outer)
        done.add(Span(id, name, outer.headOption.getOrElse(0L), request, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-job aggregates the listener collects. Times in ms unless named. */
final class JobRec(val jobId: Int, val spanProp: Long, val background: Boolean,
                   val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  var bytesRead = 0L
}

/** Registered by the benchmark in traced runs only: records every job
  * with the span id it was submitted under and folds task metrics into
  * it. Jobs the engine's background absorption submits (its low-weight
  * scheduler pool or its job group) are marked background whatever span
  * property their thread inherited.
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val bg = prop("spark.scheduler.pool").contains(graft.Graft.BackgroundPool) ||
      prop("spark.jobGroup.id").exists(_.startsWith("graft-absorb"))
    val span = prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, span, bg, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    lastEventNs.set(System.nanoTime())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastEventNs.set(System.nanoTime())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    val m = e.taskMetrics
    rec.foreach { r =>
      if (m != null) r.synchronized {
        val info = e.taskInfo
        r.tasks += 1
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.bytesWritten += m.outputMetrics.bytesWritten
        r.bytesRead += m.inputMetrics.bytesRead
        r.schedDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
      }
    }
    lastEventNs.set(System.nanoTime())
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment (events arrive asynchronously), at most `maxMs`.
    */
  def drain(maxMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def settled = jobs.values.asScala.forall(_.endMs >= 0) &&
      System.nanoTime() - lastEventNs.get() > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}

/** Sums over a set of jobs. */
final case class JobAgg(jobs: Int, tasks: Int, cpuMs: Double, runMs: Double,
                        gcMs: Double, schedDelayMs: Double, shuffleWrite: Long,
                        spill: Long, bytesWritten: Long, bytesRead: Long)

object JobAgg {
  def of(js: Seq[JobRec]): JobAgg = JobAgg(js.size, js.map(_.tasks).sum,
    js.map(_.cpuNs).sum / 1e6, js.map(_.runMs).sum.toDouble, js.map(_.gcMs).sum.toDouble,
    js.map(_.schedDelayMs).sum.toDouble, js.map(_.shuffleWrite).sum, js.map(_.spill).sum,
    js.map(_.bytesWritten).sum, js.map(_.bytesRead).sum)
}

/** Joins the tracer's spans with the listener's jobs after a run:
  * attributes each job to a span (or to background work), and derives
  * per-span self times with the span's jobs counted as its children.
  */
final class TraceReport(tracer: Tracer, val spans: Seq[Span], jobs: Seq[JobRec]) {
  private val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap
  private val slackNs = 2L * 1000000L // event times are whole ms

  private def jobIv(j: JobRec): (Long, Long) =
    (tracer.epochMsToNs(j.startMs), tracer.epochMsToNs(math.max(j.endMs, j.startMs)))

  private def contains(s: Span, tNs: Long) =
    tNs >= s.startNs - slackNs && tNs <= s.endNs + slackNs

  /** Span a job belongs to; None = background. A job whose inherited
    * span property names a span that was not open at submission (a
    * pooled engine thread created under an earlier call) falls back to
    * the innermost span open at that moment.
    */
  val attribution: Map[Int, Option[Long]] = jobs.map { j =>
    val t = jobIv(j)._1
    val owner =
      if (j.background) None
      else if (j.spanProp == 0L) None
      else byId.get(j.spanProp).filter(contains(_, t)).map(_.id).orElse {
        val open = spans.filter(contains(_, t))
        if (open.isEmpty) None else Some(open.maxBy(_.startNs).id)
      }
    j.jobId -> owner
  }.toMap

  val background: Seq[JobRec] = jobs.filter(j => attribution(j.jobId).isEmpty)

  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val directJobs: Map[Long, Seq[JobRec]] =
    jobs.flatMap(j => attribution(j.jobId).map(_ -> j)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }

  def jobsUnder(s: Span): Seq[JobRec] =
    directJobs.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(jobsUnder)

  /** Self time: the span minus its child spans and its own jobs. */
  def selfMs(s: Span): Double =
    Intervals.selfNs(s, children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
      directJobs.getOrElse(s.id, Nil).map(jobIv)) / 1e6

  /** Wall covered by the jobs under a span (including its children's). */
  def jobWallMs(s: Span): Double =
    Intervals.covered(s.startNs, s.endNs, jobsUnder(s).map(jobIv)) / 1e6

  /** Foreground time spent while background jobs were running. */
  def overlapMs(fg: Seq[Span]): Double = {
    val bg = background.map(jobIv)
    fg.map(s => Intervals.covered(s.startNs, s.endNs, bg)).sum / 1e6
  }

  /** Per span name: calls, wall, self time and the jobs under it. */
  def byName: Map[String, Any] = {
    val groups = spans.groupBy(_.name).toSeq.sortBy(_._1)
    Json.obj(groups.map { case (name, ss) =>
      val agg = JobAgg.of(ss.flatMap(jobsUnder))
      name -> Json.obj(
        "calls" -> ss.size,
        "wall_ms" -> Stats.summary(ss.map(_.durNs / 1e6)),
        "self_ms_mean" -> Stats.mean(ss.map(selfMs)),
        "job_wall_ms_mean" -> Stats.mean(ss.map(jobWallMs)),
        "jobs" -> agg.jobs, "tasks" -> agg.tasks,
        "executor_cpu_ms" -> agg.cpuMs, "scheduler_delay_ms" -> agg.schedDelayMs,
        "gc_ms" -> agg.gcMs, "shuffle_write_bytes" -> agg.shuffleWrite,
        "spill_bytes" -> agg.spill, "bytes_written" -> agg.bytesWritten)
    }: _*)
  }

  def spanLines: Iterator[String] = spans.iterator.map { s =>
    Json.mapper.writeValueAsString(Json.obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "request" -> s.request, "start_ms" -> (s.startNs - tracer.baseNs) / 1e6,
      "end_ms" -> (s.endNs - tracer.baseNs) / 1e6, "self_ms" -> selfMs(s)))
  }
}
