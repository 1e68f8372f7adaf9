package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs a block of driver code starts, told apart by sentinel
  * jobs run just before and just after it: the listener bus delivers job
  * events in start order, so the slice between the sentinels is exactly the
  * block's jobs (events still queued from earlier work land before it). */
object JobLog {

  /** `body`'s result and, per job it started in start order, its
    * `spark.job.description` ("<none>" when unset) and its stage names. */
  def of[T](spark: SparkSession)(body: => T): (T, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.add((
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("<none>"),
          js.stageInfos.map(_.name).mkString(", ")))
    }
    val prev = sc.getLocalProperty("spark.job.description")
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("joblog-start")
      spark.range(1).count()
      sc.setJobDescription(prev)
      val r = body
      sc.setJobDescription("joblog-end")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!started.asScala.exists(_._1 == "joblog-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val all = started.asScala.toSeq
      val from = all.lastIndexWhere(_._1 == "joblog-start") // a count can be 2 jobs
      val to = all.indexWhere(_._1 == "joblog-end")
      require(from >= 0 && to > from, s"sentinel jobs not seen: ${all.map(_._1)}")
      (r, all.slice(from + 1, to))
    } finally {
      sc.setJobDescription(prev)
      sc.removeSparkListener(listener)
    }
  }
}
