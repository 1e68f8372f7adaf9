package fmbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.dedup.DedupPipeline

/** The benchmark's JVM entry point; fmbench/run.py builds and launches it.
  *
  * One closed-loop client: a single driver thread sends the next op only
  * after the previous one returned, against Spark `local[cores]`. A run is
  * set-up (repeated, median kept), oracle truth, untimed warm-up passes,
  * then whole passes of ops until `--seconds` have elapsed. With `--trace 1` two traced
  * passes follow, which give the per-layer metrics. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String)

  val SetupReps = 3

  /** End-to-end metrics of the final JSON line: the ones every workload has
    * and that are never 0. The other figures of the table are gates or are
    * defined on some workloads only. */
  val EndToEnd = Seq("setup_s", "clips_per_s", "op_p50_s")

  val Layers = Seq("dedup.tokenize", "dedup.signatures", "dedup.candidates", "dedup.verify",
    "dedup.broadcast_verify", "dedup.cluster", "dedup.increment", "dedup.chain",
    "dedup.compact", "retrieval.load_index", "retrieval.topk", "op")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, get("work"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.names.contains(o.workload), s"unknown workload ${o.workload}")
    val t0 = System.nanoTime()
    val spark = DedupPipeline.sessionDefaults(
      SparkSession.builder().master(s"local[${o.cores}]").appName(s"fmbench-${o.workload}"),
      o.cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try new Runner(Workload(o.workload, spark, o.seed, o.cores, o.work), o).run(sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}

final class Runner(wl: Workload, o: Main.Opts) {
  private val sc = wl.spark.sparkContext
  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]

  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One guarded op: a failure counts as attempted, failed, and as a sample
    * beyond every latency (+Inf). Returns the op's time and output. */
  private def runOp(i: Int, t: Option[Tracer]): (Double, Option[wl.Out]) = {
    attempted += 1
    try {
      val (h, dt) = secs(t.fold(wl.op(i, None))(tr => tr.root("op")(wl.op(i, t))))
      val out = t.fold(wl.collect(i, h))(_.root("check")(wl.collect(i, h)))
      problems ++= wl.check(i, out)
      (dt, Some(out))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[fmbench] op $i failed: $e")
        e.printStackTrace()
        (Double.PositiveInfinity, None)
    }
  }

  def run(sessionS: Double): Int = {
    val reps = (1 to Main.SetupReps).map(_ => secs(wl.setup())._2)
    val truthS = secs(wl.truth())._2
    // ops of a fresh JVM keep getting faster for several seconds of work,
    // so whole untimed passes run first for the workload's warm-up time
    val warmS = secs {
      val until = System.nanoTime() + wl.warmupSeconds * 1000000000L
      var k = 0
      while (System.nanoTime() < until) {
        wl.startPass(s"warmup$k", None)
        (0 until wl.opsPerPass).foreach(i => wl.collect(i, wl.op(i, None)))
        k += 1
      }
    }._2
    val setupS = sessionS + Stats.median(reps) + warmS

    // timed passes, each from the same starting state
    val samples = mutable.ArrayBuffer.empty[Double]
    var reference: Option[Seq[wl.Out]] = None
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var pass = 0
    val loopT0 = System.nanoTime()
    while (pass == 0 || System.nanoTime() < deadline) {
      wl.startPass(s"p$pass", None)
      val res = (0 until wl.opsPerPass).map(i => runOp(i, None))
      samples ++= res.map(_._1)
      if (reference.isEmpty && res.forall(_._2.isDefined)) reference = Some(res.flatMap(_._2))
      pass += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val finishS = secs(problems ++= wl.finish())._2

    val ok = samples.filterNot(_.isInfinite)
    val opS = ok.sum
    val tail = Stats.tail(samples.toSeq)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "clips_per_s" -> (wl.clipsPerOp * ok.size / opS, "1/s"),
      "queries_per_s" -> (wl.clipsPerOp * ok.size / opS, "1/s"),
      "op_p50_s" -> (Stats.median(samples.toSeq), "s"))
    tail.foreach(tl => e2e("op_tail_s") = (tl.value, "s"))
    wl.quality.foreach { case (k, v) => e2e(k) = (v, if (k.startsWith("bytes")) "B/clip" else "ratio") }
    e2e("failed_frac") = (failed.toDouble / attempted, "ratio")
    e2e("peak_rss_mb") = (Main.peakRssMb(), "MB")

    println(s"# workload ${o.workload} seed ${o.seed}: ${samples.size} timed ops in $pass passes, " +
      f"set-up $setupS%.3f s (session $sessionS%.3f + median of ${reps.size} set-ups " +
      f"${Stats.median(reps)}%.3f + warm-up $warmS%.3f); oracle $truthS%.3f s, " +
      f"timed loop $loopS%.3f s, post-checks $finishS%.3f s")
    println(s"# op seconds: ${samples.map(x => f"$x%.3f").mkString(" ")}")
    tail match {
      case Some(tl) => println(f"# op_tail_s is p${tl.percentile}%.1f over n=${tl.n} ops")
      case None => println(s"# op_tail_s omitted: ${samples.size} ops leave fewer than 10 beyond any percentile")
    }
    Report.table(o.workload, e2e)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Main.EndToEnd.flatMap(k => e2e.get(k).map { case (v, u) => (k, v, u) })
      else traced(reference, samples.toSeq)
    if (!o.trace) Main.EndToEnd.filterNot(e2e.contains)
      .foreach(k => problems += s"end-to-end metric $k could not be measured in this run")
    problems.foreach(p => println(s"# CHECK FAILED: $p"))
    val correct = problems.isEmpty
    println(Report.json(correct, attempted, failed, metrics))
    if (correct && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)) 0 else 1
  }

  /** Two traced passes: per-layer metrics from the first, host-independent
    * counts compared between the two, outputs compared with the untraced
    * pass. */
  private def traced(reference: Option[Seq[wl.Out]], untracedS: Seq[Double]): Seq[(String, Double, String)] = {
    val listener = new JobListener
    sc.addSparkListener(listener)
    val passes = try (1 to 2).map { k =>
      wl.counters.clear()
      val tracer = new Tracer(sc)
      listener.barrier(sc)
      listener.drain()
      tracer.root("pass_setup")(wl.startPass(s"traced$k", Some(tracer)))
      val res = (0 until wl.opsPerPass).map(i => runOp(i, Some(tracer)))
      listener.barrier(sc)
      val jobs = listener.drain()
      val spans = tracer.recorded
      for (ref <- reference; (out, i) <- res.map(_._2).zipWithIndex; got <- out)
        if (!wl.sameResult(ref(i), got))
          problems += s"traced pass $k op $i differs from the untraced op"
      val lost = Attribution.unattributed(spans, jobs)
      if (lost.nonEmpty) problems += s"traced pass $k: jobs ${lost.map(_.id).mkString(",")} ran outside every layer span"
      val costs = Attribution.layers(spans, jobs)
      val (layerSum, total) = Attribution.reconcile(spans, jobs, Set("op", "pass_setup", "check"))
      if (math.abs(layerSum - total) > 1e-6 * math.max(1.0, total))
        problems += f"traced pass $k: per-layer task_s sums to $layerSum%.6f, listener total $total%.6f"
      TracedPass(spans, jobs, costs, wl.counters.toMap, res.map(_._1))
    } finally sc.removeSparkListener(listener)

    Report.writeTrace(s"${Paths.get(o.work).getParent}/traces/${o.workload}-seed${o.seed}.json",
      o.workload, o.seed, passes)
    val mismatches = Report.repeatMismatches(passes(0), passes(1))
    mismatches.foreach(m => println(s"# REPEAT-MISMATCH $m"))
    val overhead = Stats.median(passes(0).opS ++ passes(1).opS) - Stats.median(untracedS)
    println(f"# tracing overhead: traced op median minus untraced op median = $overhead%.4f s")
    val out = Report.perLayer(passes(0), wl.clipsPerOp * wl.opsPerPass) ++ Seq(
      ("op.trace_overhead_s", overhead, "s"),
      ("op.repeat_mismatches", mismatches.size.toDouble, "count"))
    Report.layerTable(out)
    out
  }
}

final case class TracedPass(spans: Seq[Span], jobs: Seq[JobRec], costs: Map[String, LayerCost],
    counters: Map[String, Double], opS: Seq[Double])

object Report {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  /** Twelve end-to-end figures, n/a where a workload does not define one. */
  def table(workload: String, e2e: collection.Map[String, (Double, String)]): Unit = {
    val all = Seq("setup_s", "clips_per_s", "queries_per_s", "op_p50_s", "op_tail_s",
      "dup_pair_recall", "dup_pair_precision", "cluster_agreement", "topk_agreement",
      "bytes_written_per_clip", "failed_frac", "peak_rss_mb")
    all.foreach { k =>
      e2e.get(k) match {
        case Some((v, u)) => println(f"# e2e $k%-24s $v%16.6f $u")
        case None => println(f"# e2e $k%-24s ${"n/a"}%16s (not defined for $workload)")
      }
    }
  }

  def perLayer(p: TracedPass, queries: Long): Seq[(String, Double, String)] = {
    val none = LayerCost(0, 0, 0, 0, 0, 0, 0, 0, 0)
    val base = Main.Layers.flatMap { l =>
      val c = p.costs.getOrElse(l, none)
      Seq(("wall_s", c.wallS, "s"), ("jobs", c.jobs.toDouble, "count"), ("tasks", c.tasks.toDouble, "count"),
        ("task_s", c.taskS, "s"), ("max_task_s", c.maxTaskS, "s"), ("driver_gap_s", c.driverGapS, "s"),
        ("shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes"),
        ("spill_bytes", c.spillBytes.toDouble, "bytes"), ("failed_tasks", c.failedTasks.toDouble, "count"))
        .map { case (m, v, u) => (s"$l.$m", v, u) }
    }
    def ctr(k: String) = p.counters.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val op = p.costs.getOrElse("op", none)
    base ++ Seq(
      ("dedup.candidates.pairs_per_clip", ratio(ctr("dedup.candidates.pairs"), ctr("op.clips")), "pairs/clip"),
      ("dedup.candidates.capped_buckets", ctr("dedup.candidates.capped_buckets"), "count"),
      ("dedup.verify.yield", ratio(ctr("dedup.verify.edges"), ctr("dedup.candidates.pairs")), "edges/pair"),
      ("dedup.increment.bytes_written", ctr("dedup.increment.bytes_written"), "bytes"),
      ("dedup.compact.bytes_rewritten", ctr("dedup.compact.bytes_rewritten"), "bytes"),
      ("retrieval.topk.matches_per_query", ratio(ctr("retrieval.topk.matches"), queries), "matches/query"),
      ("op.serial_share", ratio(op.driverGapS, op.wallS), "ratio"),
      ("op.max_task_share", ratio(op.maxTaskS, op.taskS), "ratio"))
  }

  def layerTable(ms: Seq[(String, Double, String)]): Unit =
    ms.filter(_._2 != 0).foreach { case (n, v, u) => println(f"# layer $n%-40s $v%18.6f $u") }

  /** Host-independent counts that differ between two traced passes. */
  def repeatMismatches(a: TracedPass, b: TracedPass): Seq[String] = {
    def counts(p: TracedPass): Map[String, Double] =
      p.costs.flatMap { case (l, c) =>
        Seq(s"$l.jobs" -> c.jobs.toDouble, s"$l.tasks" -> c.tasks.toDouble,
          s"$l.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble)
      } ++ p.counters
    val (ca, cb) = (counts(a), counts(b))
    (ca.keySet ++ cb.keySet).toSeq.sorted.flatMap { k =>
      val (x, y) = (ca.get(k), cb.get(k))
      if (x == y) None else Some(s"$k pass1=${x.getOrElse("-")} pass2=${y.getOrElse("-")}")
    }
  }

  /** Spans and jobs of both traced passes, written once at the end. */
  def writeTrace(path: String, workload: String, seed: Long, passes: Seq[TracedPass]): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"workload": "$workload", "seed": $seed, "passes": ["""
    sb ++= passes.map { p =>
      val spans = p.spans.map { s =>
        s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "trace": ${s.traceId}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "self_ms": ${Tracer.selfMs(s, p.spans)}}"""
      }.mkString(",\n    ")
      val jobs = p.jobs.map { j =>
        s"""{"job": ${j.id}, "span": ${j.span}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
          s""""ok": ${j.succeeded}, "tasks": ${j.tasks}, "task_ms": ${j.taskMs}, "max_task_ms": ${j.maxTaskMs}, """ +
          s""""shuffle_write_bytes": ${j.shuffleWriteBytes}, "spill_bytes": ${j.spillBytes}, "failed_tasks": ${j.failedTasks}}"""
      }.mkString(",\n    ")
      s"""{"spans": [\n    $spans],\n  "jobs": [\n    $jobs]}"""
    }.mkString(",\n  ")
    sb ++= "]}\n"
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"# trace written to $path")
  }
}
