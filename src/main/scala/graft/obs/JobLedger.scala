package graft.obs

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** What a set of Spark tasks cost: task-s is summed `executorRunTime`, dur-s
  * summed task wall time (`taskInfo.duration`, launch to finish as the
  * scheduler saw it — fmbench's `task_s`), the longest task is the serial
  * floor, `stages` counts the stages that ran tasks. */
final case class Cost(jobs: Int = 0, stages: Int = 0, tasks: Int = 0, failedTasks: Int = 0,
    taskS: Double = 0, durS: Double = 0, cpuS: Double = 0, gcS: Double = 0, maxTaskS: Double = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Cost): Cost = Cost(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    failedTasks + o.failedTasks, taskS + o.taskS, durS + o.durS, cpuS + o.cpuS, gcS + o.gcS,
    math.max(maxTaskS, o.maxTaskS), shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes)

  def row: String =
    f"jobs=$jobs%3d stages=$stages%3d tasks=$tasks%5d failed=$failedTasks task_s=$taskS%.2f " +
      f"dur_s=$durS%.2f cpu_s=$cpuS%.2f gc_s=$gcS%.2f max_task_s=$maxTaskS%.2f " +
      f"shuffle_write_bytes=$shuffleWriteBytes spill_bytes=$spillBytes"
}

/** One Spark job of a ledger window: its `spark.job.description` label
  * (`<none>` when unset), its stage names, the cost of the tasks of the
  * stages it was first to submit (a stage shared with a later job ran under
  * this one), and the updates its successful tasks made to named Long
  * accumulators (Spark's SQL operator metrics among them;
  * `internal.metrics.*` left out). */
final case class JobEntry(id: Int, label: String, stages: String, cost: Cost,
    accumulators: Map[String, Long])

/** The jobs a block of driver code started, in start order. `total` sums
  * every task that ended in the window, attributed to a job or not, so
  * per-label sums that equal it attribute each task once. */
final case class Ledger(jobs: Seq[JobEntry], total: Cost, driverAdds: Map[String, Long]) {
  def labels: Seq[String] = jobs.map(_.label)

  /** Cost per label, labels in first-start order. */
  def byLabel: Seq[(String, Cost)] =
    labels.distinct.map(l => l -> jobs.filter(_.label == l).map(_.cost).reduce(_ + _))

  /** The window's updates to the named accumulator `name`: its tasks'
    * updates plus the driver-side [[JobLedger.add]]s. */
  def accumulator(name: String): Long =
    jobs.map(_.accumulators.getOrElse(name, 0L)).sum + driverAdds.getOrElse(name, 0L)

  /** One line per label (`label=<l> jobs=… task_s=…`) and a `label=*` total. */
  def rows: Seq[String] =
    byLabel.map { case (l, c) => s"label=$l ${c.row}" } :+ s"label=* ${total.row}"
}

/** The engine's one job instrument. [[withStage]] labels the jobs a block
  * starts; [[of]] records what the jobs a block started cost, per job and per
  * label. Tests, tools and CI tripwires all read it. */
object JobLedger {
  private val Description = "spark.job.description"
  private val Sentinel = "graft.obs.sentinel"

  /** Run `body` with every Spark job it starts labelled `label` (the
    * `spark.job.description`), then restore the caller's label, not null:
    * under `foreachBatch` the stream's own attribution survives. It leaves
    * the job group alone. */
  def withStage[A](sc: SparkContext, label: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Description)
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  private val windows = new AtomicLong
  private val open = ConcurrentHashMap.newKeySet[Window]()

  /** `acc.add(n)` for a count the driver takes (a hot-bucket valve counts
    * the keys it collected): task-end events carry only executor updates,
    * so the driver-side ones are also recorded in every open window. */
  def add(acc: LongAccumulator, n: Long): Unit = {
    acc.add(n)
    acc.name.foreach(name => open.forEach(_.driverAdds.merge(name, n, _ + _)))
  }

  /** `body`'s result and the ledger of the jobs started while it ran. The
    * window is cut by two one-task sentinel jobs run just before and just
    * after `body`: the listener bus delivers events in order, so the events
    * between them are exactly the window's (events still queued from
    * earlier work land before it). Jobs other threads start in the window
    * are in it too. */
  def of[T](spark: SparkSession)(body: => T): (T, Ledger) = {
    val sc = spark.sparkContext
    val w = new Window(windows.incrementAndGet().toString)
    def sentinel(side: String): Unit = {
      val prev = sc.getLocalProperty(Sentinel)
      sc.setLocalProperty(Sentinel, s"${w.id}:$side")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Sentinel, prev)
    }
    sc.addSparkListener(w)
    try {
      sentinel("start")
      open.add(w)
      val r = try body finally open.remove(w)
      sentinel("end")
      (r, w.ledger())
    } finally sc.removeSparkListener(w)
  }

  /** One window's listener. It records from the start sentinel's start to
    * the end sentinel's start, and attributes each task end to the job that
    * first submitted its stage; sentinel jobs, this window's or a nested
    * one's, are left out. */
  private final class Window(val id: String) extends SparkListener {
    private final class Job(val id: Int, val label: String, val stages: String,
        val sentinel: Boolean) {
      var cost = Cost(jobs = 1)
      val ran = mutable.Set.empty[Int]
      val accumulators = mutable.Map.empty[String, Long].withDefaultValue(0L)
    }
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val byStage = mutable.HashMap.empty[Int, Job]
    private var total = Cost()
    private var recording = false
    @volatile private var endJob = -1
    private val ended = new CountDownLatch(1)
    val driverAdds = new ConcurrentHashMap[String, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val mark = props.flatMap(p => Option(p.getProperty(Sentinel)))
      if (mark.contains(s"$id:start")) recording = true
      if (mark.contains(s"$id:end")) { recording = false; endJob = e.jobId }
      if (recording) {
        val j = new Job(e.jobId, props.flatMap(p => Option(p.getProperty(Description)))
          .getOrElse("<none>"), e.stageInfos.map(_.name).mkString(", "), mark.isDefined)
        if (!j.sentinel) jobs += j
        e.stageIds.foreach(byStage.getOrElseUpdate(_, j))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == endJob) ended.countDown()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val job = byStage.get(e.stageId)
      if (recording && !job.exists(_.sentinel)) {
        val m = Option(e.taskMetrics)
        val ok = e.taskInfo.successful
        val runS = m.fold(0L)(_.executorRunTime) / 1e3
        val c = Cost(tasks = 1, failedTasks = if (ok) 0 else 1, taskS = runS,
          durS = e.taskInfo.duration / 1e3, cpuS = m.fold(0L)(_.executorCpuTime) / 1e9,
          gcS = m.fold(0L)(_.jvmGCTime) / 1e3, maxTaskS = runS,
          shuffleWriteBytes = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          spillBytes = m.fold(0L)(_.diskBytesSpilled))
        total += c
        job.foreach { j =>
          j.cost += c
          j.ran += e.stageId
          if (ok) e.taskInfo.accumulables.foreach { a =>
            (a.name, a.update) match {
              case (Some(n), Some(v: java.lang.Long)) if !n.startsWith("internal.metrics.") =>
                j.accumulators(n) += v
              case _ =>
            }
          }
        }
      }
    }

    def ledger(): Ledger = {
      require(ended.await(60, TimeUnit.SECONDS),
        "the listener bus did not deliver the end sentinel within 60 s")
      synchronized {
        val js = jobs.toSeq.map(j => JobEntry(j.id, j.label, j.stages,
          j.cost.copy(stages = j.ran.size), j.accumulators.toMap))
        Ledger(js, total.copy(jobs = js.size, stages = js.map(_.cost.stages).sum),
          driverAdds.asScala.toMap)
      }
    }
  }
}
