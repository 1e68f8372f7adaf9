package graft.tools

import graft.data.SynthCorpus
import graft.dedup.{DedupConfig, DedupPipeline}
import graft.obs.JobLedger

/** Two-cluster-size scaling evidence (sandbox proxy for the N vs 4N executor
  * criterion): run the IDENTICAL dedup job on the IDENTICAL input at two
  * local parallelism levels and report throughput at both. Invoke once per
  * level: `SPARK_GRAFT_CPUS=8|32 runMain graft.tools.ScalingBench [nClips]`.
  * Efficiency = (throughput_32 / throughput_8) / 4 — computed in BASELINE.md.
  * `SCALING_LEDGER` rows split the run's cost by stage label (`dedup:<stage>`,
  * the final count under `<none>`). */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val nClips = if (args.nonEmpty) args(0).toLong else 60000L
    val spark = DedupPipeline.sessionBuilder(s"graft-scaling-$cpus", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // identical input at every parallelism: row i is a pure function of (seed, i);
    // fixed 64 input partitions regardless of cores
    val clips = SynthCorpus.generate(spark, nClips, partitions = 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    clips.count() // materialize outside the timed window

    // the shuffle (LSH) strategy is the representative beyond-memory path —
    // the broadcast fast path has a deliberate serial index-build component.
    // shufflePartitions is FIXED across parallelism levels (like input
    // partitions): an N vs 4N cluster comparison varies executor count, not
    // the work decomposition — tying partitions to cores would hand the
    // low-parallelism run fewer, cheaper tasks and corrupt the ratio.
    val cfg = DedupConfig(strategy = sys.env.getOrElse("SPARK_GRAFT_STRATEGY", "shuffle"),
      shufflePartitions = 64,
      verifySalts = sys.env.getOrElse("SPARK_GRAFT_SALTS", "1").toInt,
      // cap knobs for candidate-hump experiments (BASELINE.md round-4):
      // lower caps trade bucket-join wall for counted drops recovered by
      // the band channel
      shingleDfCap = sys.env.getOrElse("SPARK_GRAFT_SHINGLE_CAP", "64").toInt,
      bandDfCap = sys.env.getOrElse("SPARK_GRAFT_BAND_CAP", "256").toInt)

    // warm JIT/codegen with a small throwaway run
    DedupPipeline.run(SynthCorpus.generate(spark, 800, partitions = 8), cfg)

    // work-conservation instrumentation: on a host whose shared CPU capacity
    // swings several-fold within seconds, wall-clock ratios between runs
    // measure the host, not the job. Aggregate task time (the work) and the
    // longest single task (the serial floor / critical-path lower bound) are
    // host-noise-robust: a job whose total task-seconds stay flat across
    // parallelism levels and whose max task ≪ total parallelizes on a real
    // cluster — wall there is ≈ total/cores + shuffle latency.
    val ((out, n, sec), ledger) = JobLedger.of(spark) {
      val t0 = System.nanoTime()
      val out = DedupPipeline.run(clips, cfg)
      val n = out.clusters.count()
      (out, n, (System.nanoTime() - t0) / 1e9)
    }
    val t = ledger.total
    println(f"""SCALING {"cpus":$cpus,"clips":$nClips,"rows_out":$n,"sec":$sec%.2f,"clips_per_sec":${nClips / sec}%.1f,"task_sec_total":${t.taskS}%.1f,"cpu_sec_total":${t.cpuS}%.1f,"gc_sec_total":${t.gcS}%.1f,"max_task_sec":${t.maxTaskS}%.2f,"n_tasks":${t.tasks}}""")
    out.metrics.foreach(m => println(s"SCALING_METRIC cpus=$cpus stage=${m.stage} wall_ms=${m.wall_ms} rows_out=${m.rows_out}"))
    ledger.rows.foreach(r => println(s"SCALING_LEDGER cpus=$cpus $r"))
    spark.stop()
  }
}
