package fmbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer. Times are epoch milliseconds, so they line
  * up with the listener's job times. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, traceId: Int,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Records spans in memory around calls the benchmark makes into the
  * engine. While a span is open its id is the thread's `fmbench.span`
  * local property, which Spark copies into every job the call submits, so
  * the listener can attribute each job to the innermost open span. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var traceId = -1
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** A root span that starts a new trace (one per op). */
  def root[A](name: String)(body: => A): A = {
    require(stack.isEmpty, s"root span $name opened inside another span")
    traceId += 1
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(Tracer.Property, id.toString)
    val t0 = nowMs
    try body
    finally {
      spans += Span(id, name, parent, traceId, t0, nowMs)
      stack = stack.tail
      sc.setLocalProperty(Tracer.Property, stack.headOption.map(_.toString).orNull)
    }
  }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  val Property = "fmbench.span"

  /** Time covered by the union of `intervals`, clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    for ((a0, b0) <- intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (curLo.isNaN || a0 > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a0; curHi = b0
      } else curHi = math.max(curHi, b0)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfMs(span: Span, all: Seq[Span]): Double =
    span.durMs - covered(span.startMs, span.endMs,
      all.filter(_.parent == span.id).map(c => (c.startMs, c.endMs)))
}

/** One Spark job as the listener saw it. `span` is the id of the innermost
  * benchmark span open when it was submitted, -1 when none was. */
final case class JobRec(id: Int, span: Int, startMs: Double, endMs: Double,
    succeeded: Boolean, tasks: Int, taskMs: Double, maxTaskMs: Double,
    shuffleWriteBytes: Long, spillBytes: Long, failedTasks: Int)

/** Aggregates per-job task counts, task time, shuffle writes and spill from
  * Spark's public listener events. Events arrive on the listener bus
  * thread; [[barrier]] makes every job submitted before it visible. */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val span: Int, val startMs: Double) {
    var endMs = Double.NaN
    var succeeded = false
    var tasks = 0
    var taskMs = 0.0
    var maxTaskMs = 0.0
    var shuffleWrite = 0L
    var spill = 0L
    var failed = 0
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val barrierJobs = mutable.HashMap.empty[Int, CountDownLatch]
  @volatile private var pendingBarrier: CountDownLatch = _

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).contains(JobListener.BarrierGroup))
      barrierJobs(e.jobId) = pendingBarrier
    else {
      val span = props.flatMap(p => Option(p.getProperty(Tracer.Property))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new Acc(e.jobId, span, e.time.toDouble)
      // a stage shared by a later job ran its tasks under the first one
      e.stageIds.foreach(s => if (!stageToJob.contains(s)) stageToJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    barrierJobs.remove(e.jobId) match {
      case Some(latch) => latch.countDown()
      case None => jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time.toDouble
        j.succeeded = e.jobResult == JobSucceeded
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val ms = e.taskInfo.duration.toDouble
      j.tasks += 1
      j.taskMs += ms
      j.maxTaskMs = math.max(j.maxTaskMs, ms)
      if (!e.taskInfo.successful) j.failed += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  /** Runs a one-task marker job and waits until the listener has seen it
    * end. The bus delivers events in order, so every job submitted before
    * the marker has been recorded by then. */
  def barrier(sc: SparkContext): Unit = {
    val latch = new CountDownLatch(1)
    pendingBarrier = latch
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevSpan = sc.getLocalProperty(Tracer.Property)
    sc.setLocalProperty(Tracer.Property, null)
    sc.setJobGroup(JobListener.BarrierGroup, "fmbench listener barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.clearJobGroup()
      if (prevGroup != null) sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty(Tracer.Property, prevSpan)
    }
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not deliver the barrier job")
  }

  /** Jobs recorded since the last call, in submission order. */
  def drain(): Seq[JobRec] = synchronized {
    val out = jobs.values.map(j => JobRec(j.id, j.span, j.startMs, j.endMs, j.succeeded,
      j.tasks, j.taskMs, j.maxTaskMs, j.shuffleWrite, j.spill, j.failed)).toSeq
    jobs.clear()
    out
  }
}

object JobListener {
  val BarrierGroup = "fmbench-barrier"
}

/** Cost of one layer over a traced pass. */
final case class LayerCost(wallS: Double, jobs: Int, tasks: Int, taskS: Double,
    maxTaskS: Double, driverGapS: Double, shuffleWriteBytes: Long, spillBytes: Long,
    failedTasks: Int)

object Attribution {

  /** Per-layer cost of a pass. A layer is the set of spans with one name;
    * its jobs are those submitted while one of its spans, or a span nested
    * in one, was open, so the root layer `op` holds every job of an op.
    * `driverGapS` is span time not covered by any of the layer's jobs. */
  def layers(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, LayerCost] = {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestry(id: Int): List[Span] = byId.get(id) match {
      case Some(s) => s :: ancestry(s.parent)
      case None => Nil
    }
    val jobSpans = jobs.map(j => j -> ancestry(j.span))
    spans.groupBy(_.name).map { case (name, ss) =>
      val ids = ss.map(_.id).toSet
      val js = jobSpans.collect { case (j, anc) if anc.exists(a => ids(a.id)) => j }
      val gap = ss.map { s =>
        s.durMs - Tracer.covered(s.startMs, s.endMs, js.map(j => (j.startMs, j.endMs)))
      }.sum
      name -> LayerCost(
        wallS = ss.map(_.durMs).sum / 1e3,
        jobs = js.size,
        tasks = js.map(_.tasks).sum,
        taskS = js.map(_.taskMs).sum / 1e3,
        maxTaskS = if (js.isEmpty) 0.0 else js.map(_.maxTaskMs).max / 1e3,
        driverGapS = gap / 1e3,
        shuffleWriteBytes = js.map(_.shuffleWriteBytes).sum,
        spillBytes = js.map(_.spillBytes).sum,
        failedTasks = js.map(_.failedTasks).sum)
    }
  }

  /** Task seconds by the innermost span name of each job: these add up to
    * the listener's total exactly when every job is attributed. */
  def selfTaskS(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val nameOf = spans.map(s => s.id -> s.name).toMap
    jobs.groupBy(j => nameOf.getOrElse(j.span, "(unattributed)"))
      .map { case (n, js) => n -> js.map(_.taskMs).sum / 1e3 }
  }

  /** (sum of the per-layer task seconds, listener total). The layers below
    * the `roots` hold their nested jobs and each root holds only its own,
    * so the two agree exactly when no job is counted twice or lost. */
  def reconcile(spans: Seq[Span], jobs: Seq[JobRec], roots: Set[String]): (Double, Double) = {
    val self = selfTaskS(spans, jobs)
    val layerSum = layers(spans, jobs).collect { case (n, c) if !roots(n) => c.taskS }.sum +
      roots.toSeq.map(self.getOrElse(_, 0.0)).sum
    (layerSum, jobs.map(_.taskMs).sum / 1e3)
  }

  /** Jobs that ran outside every span of the pass. */
  def unattributed(spans: Seq[Span], jobs: Seq[JobRec]): Seq[JobRec] = {
    val ids = spans.map(_.id).toSet
    jobs.filterNot(j => ids(j.span))
  }
}
