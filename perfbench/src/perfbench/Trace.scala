package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed span. `parent` is -1 for an operation's root span. Times are
  * epoch-aligned nanoseconds, so they line up with listener job times.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records nested spans on the Spark driver thread that runs the operations.
  * Disabled, `span` only runs its body: the untraced run pays nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = Trace.nowNs()
      try body
      finally {
        open = open.tail
        done += Span(id, parent, name, t0, Trace.nowNs())
      }
    }

  /** Spans closed since the last drain, in start order. */
  def drain(): Vector[Span] = {
    val v = done.sortBy(_.startNs).toVector
    done.clear()
    v
  }
}

object Trace {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  def nowNs(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  /** Self time per span id: its duration minus the union of its direct
    * children's intervals (clipped to the parent). Over one operation's
    * tree the self times sum to the root's duration.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - unionNs(covered, Some((s.startNs, s.endNs))))
    }.toMap
  }

  /** Length of the union of half-open intervals, optionally clipped. */
  def unionNs(iv: Seq[(Long, Long)], clip: Option[(Long, Long)] = None): Long = {
    val clipped = clip match {
      case Some((lo, hi)) => iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      case None => iv
    }
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time of the operation rooted at `root` that no build, plan or job
    * interval covers: driver work the benchmark cannot attribute to a
    * layer. Build counts only its self time, since materialisations the
    * benchmark asks for may run nested inside an engine call.
    */
  def gapNs(spans: Seq[Span], root: Span, jobs: Seq[(Long, Long)]): Long = {
    val kids = spans.groupBy(_.parent)
    val builds = spans.filter(_.name == "client.build")
    val buildSelf = builds.flatMap { b =>
      val cs = kids.getOrElse(b.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      // the gaps between a build span's children are its self intervals
      val cuts = (b.startNs +: cs.flatMap { case (s, e) => Seq(s, e) }) :+ b.endNs
      cuts.grouped(2).collect { case Seq(s, e) if e > s => (s, e) }.toSeq
    }
    val plans = spans.filter(_.name == "catalyst.plan").map(s => (s.startNs, s.endNs))
    root.durNs - unionNs(buildSelf ++ plans ++ jobs, Some((root.startNs, root.endNs)))
  }
}

/** Counters one operation left in the scheduler and executors. */
final case class Counters(
    jobs: Int = 0,
    stages: Int = 0,
    tasks: Int = 0,
    jobIntervalsNs: Vector[(Long, Long)] = Vector.empty,
    taskMs: Vector[Double] = Vector.empty,
    stageSkews: Vector[Double] = Vector.empty,
    runMs: Double = 0,
    cpuMs: Double = 0,
    gcMs: Double = 0,
    shuffleWriteB: Long = 0,
    shuffleReadB: Long = 0,
    spillB: Long = 0,
    inRows: Long = 0,
    inBytes: Long = 0)

/** SparkListener that accumulates `Counters` until `take()`. Callers drain
  * the listener bus first (`org.apache.spark.BenchBus.drain`), so every
  * event of the finished operation has arrived.
  */
final class LayerListener extends SparkListener {
  private var c = Counters()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
    c = c.copy(jobs = c.jobs + 1, jobIntervalsNs = c.jobIntervalsNs :+ ((t0 * 1000000L, e.time * 1000000L)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val ts = stageTasks.remove(e.stageInfo.stageId).getOrElse(mutable.ArrayBuffer.empty[Double])
    val skew =
      if (ts.length >= 2) {
        val med = Stats.median(ts.toSeq)
        if (med > 0) Vector(ts.max / med) else Vector.empty
      } else Vector.empty
    c = c.copy(stages = c.stages + 1, stageSkews = c.stageSkews ++ skew)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val dur = e.taskInfo.duration.toDouble
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Double]) += dur
    c =
      if (m == null) c.copy(tasks = c.tasks + 1, taskMs = c.taskMs :+ dur)
      else c.copy(
        tasks = c.tasks + 1,
        taskMs = c.taskMs :+ dur,
        runMs = c.runMs + m.executorRunTime,
        cpuMs = c.cpuMs + m.executorCpuTime / 1e6,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = c.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
        spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
        inRows = c.inRows + m.inputMetrics.recordsRead,
        inBytes = c.inBytes + m.inputMetrics.bytesRead)
  }

  def take(): Counters = synchronized {
    val out = c
    c = Counters()
    out
  }
}
