package fmbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, name: String, parent: Int, a: Double, b: Double) =
    Span(id, name, parent, 0, a, b)
  private def job(id: Int, span: Int, a: Double, b: Double, taskMs: Double) =
    JobRec(id, span, a, b, succeeded = true, tasks = 2, taskMs = taskMs, maxTaskMs = taskMs / 2,
      shuffleWriteBytes = 10, spillBytes = 0, failedTasks = 0)

  test("covered merges overlaps and clips to the window") {
    assert(Tracer.covered(0, 100, Seq((10.0, 30.0), (20.0, 50.0), (90.0, 120.0))) == 50.0)
    assert(Tracer.covered(0, 100, Seq((-20.0, -10.0), (100.0, 110.0))) == 0.0)
    assert(Tracer.covered(0, 100, Seq.empty) == 0.0)
  }

  test("self time is the span minus what its children cover") {
    val root = span(0, "op", -1, 0, 100)
    val spans = Seq(root, span(1, "a", 0, 10, 30), span(2, "b", 0, 20, 50),
      span(3, "c", 0, 90, 120), span(4, "grandchild", 1, 0, 100))
    assert(Tracer.selfMs(root, spans) == 50.0)
    assert(Tracer.selfMs(spans(1), spans) == 0.0)
    assert(Tracer.selfMs(spans(2), spans) == 30.0)
  }

  private val spans = Seq(span(0, "op", -1, 0, 100), span(1, "dedup.tokenize", 0, 0, 40),
    span(2, "dedup.verify", 0, 50, 90))
  private val jobs = Seq(job(1, 1, 5, 35, 100), job(2, 2, 55, 85, 200), job(3, 0, 92, 98, 50))

  test("layers hold the jobs submitted under their spans") {
    val l = Attribution.layers(spans, jobs)
    assert(l("op").jobs == 3 && l("op").tasks == 6 && l("op").shuffleWriteBytes == 30)
    assert(math.abs(l("op").taskS - 0.35) < 1e-12)
    assert(math.abs(l("op").driverGapS - 0.034) < 1e-12)
    assert(l("dedup.tokenize").jobs == 1 && math.abs(l("dedup.tokenize").driverGapS - 0.010) < 1e-12)
    assert(l("dedup.verify").maxTaskS == 0.1)
  }

  test("per-layer task seconds reconcile with the listener total") {
    val (layerSum, total) = Attribution.reconcile(spans, jobs, Set("op"))
    assert(math.abs(layerSum - 0.35) < 1e-12 && math.abs(total - 0.35) < 1e-12)
    // a job outside every span is reported and breaks reconciliation
    val stray = jobs :+ job(4, -1, 99, 99.5, 40)
    assert(Attribution.unattributed(spans, stray).map(_.id) == Seq(4))
    val (s2, t2) = Attribution.reconcile(spans, stray, Set("op"))
    assert(math.abs(t2 - s2 - 0.04) < 1e-12)
  }

  test("the listener attributes real Spark jobs to the innermost span") {
    val spark = SparkSession.builder().master("local[2]").appName("fmbench-trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    val sc = spark.sparkContext
    try {
      val listener = new JobListener
      sc.addSparkListener(listener)
      listener.barrier(sc)
      listener.drain()
      val tracer = new Tracer(sc)
      tracer.root("op") {
        tracer.span("narrow")(sc.parallelize(1 to 1000, 4).map(_ * 2).count())
        tracer.span("shuffle")(sc.parallelize(1 to 1000, 4).map(i => (i % 7, i)).reduceByKey(_ + _, 3).count())
        sc.parallelize(1 to 10, 1).count()
      }
      listener.barrier(sc)
      val js = listener.drain()
      val ss = tracer.recorded
      sc.removeSparkListener(listener)
      assert(js.size == 3 && js.forall(_.succeeded))
      assert(Attribution.unattributed(ss, js).isEmpty)
      val l = Attribution.layers(ss, js)
      assert(l("narrow").jobs == 1 && l("narrow").tasks == 4 && l("narrow").shuffleWriteBytes == 0)
      assert(l("shuffle").jobs == 1 && l("shuffle").tasks == 7 && l("shuffle").shuffleWriteBytes > 0)
      assert(l("op").jobs == 3 && l("op").tasks == 12)
      val (layerSum, total) = Attribution.reconcile(ss, js, Set("op"))
      assert(math.abs(layerSum - total) < 1e-9)
      assert(sc.getLocalProperty(Tracer.Property) == null)
    } finally spark.stop()
  }
}
