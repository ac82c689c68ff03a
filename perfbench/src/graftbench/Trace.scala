package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with microsecond resolution — the
  * same clock Spark stamps its events with and file mtimes are set by. */
object Clock {
  def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Double, end: Double)

/** Spans around every call the benchmark makes into a layer. Timing is
  * always on (the end-to-end metrics need it); spans are kept only in a
  * traced run. Single-threaded: only the benchmark's main thread opens
  * spans. */
final class Tracer(val on: Boolean) {
  val root = Span(0, -1, "run", "bench", Clock.nowMs, 0)
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List(0)

  /** Run `body`; return its result and wall milliseconds. */
  def timed[T](name: String, layer: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val start = Clock.nowMs
    try {
      val r = body
      (r, Clock.nowMs - start)
    } finally {
      stack = stack.tail
      if (on) buf += Span(id, parent, name, layer, start, Clock.nowMs)
    }
  }

  def spans: Seq[Span] = buf.toSeq
}

/** Jobs, stages and tasks as a SparkListener sees them. */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, start: Long, end: Long, stages: Seq[Int])
  final case class Stage(id: Int, submit: Long, done: Long)
  final case class Task(finish: Long, runMs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, failed: Boolean)

  private val started = scala.collection.mutable.Map.empty[Int, Job]
  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; d <- i.completionTime)
        stages += Stage(i.stageId, s, d)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += (if (m == null)
      Task(e.taskInfo.finishTime, 0, 0, 0, 0, 0, failed = true)
    else Task(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, !e.taskInfo.successful))
  }

  def jobsIn(from: Double, to: Double): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= from && j.start <= to).toSeq
  }

  /** The `exec.*` metrics over a wall window (epoch ms). */
  def execMetrics(from: Double, to: Double, cores: Int): Seq[(String, Double, String)] =
    synchronized {
      val js = jobsIn(from, to)
      val stageIds = js.flatMap(_.stages).toSet
      val ts = tasks.filter(t => t.finish >= from && t.finish <= to)
      val wall = to - from
      val taskMs = ts.map(_.runMs).sum.toDouble
      val covered = Stats.unionLength(
        js.map(j => (math.max(j.start, from), math.min(j.end, to))))
      Seq(
        ("exec.jobs", js.size.toDouble, "count"),
        ("exec.stages", stages.count(s => stageIds(s.id)).toDouble, "count"),
        ("exec.tasks", ts.size.toDouble, "count"),
        ("exec.task_ms_sum", taskMs, "ms"),
        ("exec.gc_ms_sum", ts.map(_.gcMs).sum.toDouble, "ms"),
        ("exec.shuffle_write_bytes", ts.map(_.shuffleWrite).sum.toDouble,
          "bytes"),
        ("exec.shuffle_read_bytes", ts.map(_.shuffleRead).sum.toDouble,
          "bytes"),
        ("exec.spill_bytes", ts.map(_.spill).sum.toDouble, "bytes"),
        ("exec.driver_gap_ms", wall - covered, "ms"),
        ("exec.busy_ratio", if (wall > 0) taskMs / (wall * cores) else 0,
          "ratio"),
        ("exec.tasks_failed", ts.count(_.failed).toDouble, "count"))
    }
}

/** Every StreamingQueryProgress of a traced run. */
final class ProgressListener extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def in(from: Double, to: Double): Seq[StreamingQueryProgress] =
    synchronized {
      progress.filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        t >= from && t <= to
      }.toSeq
    }
}

/** Builds the span tree of a traced run — benchmark calls, then
  * triggers, jobs and stages as children of the innermost span open
  * when they started — and reports each layer's self time. */
object SelfTime {
  def tree(bench: Seq[Span], root: Span,
           triggers: Seq[StreamingQueryProgress],
           exec: ExecListener): Seq[Span] = {
    var next = (bench.map(_.id) :+ 0).max + 1
    def fresh(): Int = { next += 1; next }
    val all = ArrayBuffer.empty[Span]
    all += root
    all ++= bench
    def innermost(t: Double): Int = {
      val open = all.filter(s => s.start <= t && t <= s.end &&
        s.layer != "exec")
      if (open.isEmpty) 0 else open.maxBy(_.start).id
    }
    triggers.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      all += Span(fresh(), innermost(s), s"trigger ${p.batchId}",
        "streaming", s, s + d)
    }
    val (jobs, stages) = exec.synchronized((exec.jobs.toSeq, exec.stages.toSeq))
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    jobs.filter(j => j.start >= root.start && j.start <= root.end)
      .foreach { j =>
        val id = fresh()
        all += Span(id, innermost(j.start.toDouble), s"job ${j.id}", "exec",
          j.start, j.end)
        j.stages.foreach(s => stageJob(s) = id)
      }
    stages.foreach { st =>
      stageJob.get(st.id).foreach { parent =>
        all += Span(fresh(), parent, s"stage ${st.id}", "exec", st.submit,
          st.done)
      }
    }
    all.toSeq
  }

  /** Each instant of the run goes to the deepest span open at it (the
    * latest started among equals, e.g. parallel stages), so a layer's
    * self time is its share of the blocking path and the layers add up
    * to the run's wall time. */
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val depth = scala.collection.mutable.Map.empty[Int, Int]
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).map(depthOf(_) + 1).getOrElse(0))
    val root = spans.minBy(_.parent)
    val cuts = spans.flatMap(s => Seq(s.start, s.end))
      .filter(t => t >= root.start && t <= root.end).distinct.sorted
    cuts.sliding(2).collect { case Seq(from, to) if to > from =>
      val mid = (from + to) / 2
      spans.filter(s => s.start <= mid && mid < s.end)
        .maxBy(s => (depthOf(s), s.start)).layer -> (to - from)
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above
    * it: (value, percentile, samples beyond). Fewer than eleven samples
    * give the maximum, reported as p100 with none beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size < 11) (s.last, 100.0, 0)
    else {
      val k = s.size - 11
      (s(k), 100.0 * (k + 1) / s.size, s.size - k - 1)
    }
  }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
