package graft.tools

import graft.data.SynthCorpus
import graft.dedup.{DedupConfig, DedupPipeline, IncrementalDedup}
import graft.obs.JobLedger

/** Steady-state ingest-chain benchmark: bootstrap committed state, then fold
  * `nBatches` successive batches through [[IncrementalDedup.ingestStep]] —
  * the periodic-drop production loop — printing per-batch wall, chain length,
  * the compaction trigger and the batch's per-label ledger rows
  * (`INGEST_LEDGER batch=<i> label=inc:<stage> jobs=… task_s=… dur_s=…`;
  * task_s sums executor run time, dur_s task wall time). The claim under
  * test is the O(new) ingest story END TO END: per-batch wall must stay
  * flat as the chain (and the accumulated corpus) grows, and
  * auto-compaction must bound chain length without a visible wall cliff on
  * the following batch. A batch of 150 into 1,500 clips with compaction
  * (`IngestBench 1500 150 3 1`, local[4]) runs 13 jobs: `inc:precheck` 2,
  * `inc:inc_tokenize` 1, `inc:inc_verify` 2, `inc:touched_labels` 2,
  * `inc:commit` 4, `inc:compact` 2; `inc:prior_state`, `inc:inc_cluster`
  * and `inc:merged_labels` start none below `ccLocalEdgeCap`.
  *
  * Usage: IngestBench [nBase] [nBatch] [nBatches] [compactAfter]
  * (env SPARK_GRAFT_CPUS). Finishes with a full-pipeline re-run over the
  * same total corpus for the cluster-count cross-check (counts may diverge
  * a few parts in 10^5 when hot-bucket caps are active — see the
  * IncrementalDedup equality caveats — and must match exactly when not). */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 24000L
    val nBatch = if (args.length > 1) args(1).toLong else nBase / 10
    val nBatches = if (args.length > 2) args(2).toInt else 8
    val compactAfter = if (args.length > 3) args(3).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = DedupPipeline.sessionBuilder("graft-ingest-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = DedupConfig(shufflePartitions = cpus)
    val state = java.nio.file.Files.createTempDirectory("ingestbench").toString + "/state"

    var t0 = System.nanoTime()
    IncrementalDedup.ingestStep(
      SynthCorpus.generate(spark, nBase, partitions = cpus * 2), 0L, cfg, state, compactAfter)
    println(f"INGEST batch=0 kind=bootstrap rows=$nBase wall=${(System.nanoTime() - t0) / 1e9}%.1fs")

    for (i <- 1 to nBatches) {
      val batch = SynthCorpus.generate(spark, nBatch, partitions = cpus * 2,
        firstId = nBase + (i - 1) * nBatch)
      val (wall, ledger) = JobLedger.of(spark) {
        val t0 = System.nanoTime()
        IncrementalDedup.ingestStep(batch, i.toLong, cfg, state, compactAfter)
        (System.nanoTime() - t0) / 1e9
      }
      val (chain, _) = IncrementalDedup.readChain(spark, state).get
      println(f"INGEST batch=$i kind=${if (chain.size == 1) "inc+compact" else "inc"} " +
        f"rows=$nBatch wall=$wall%.1fs chain=${chain.size} rate=${nBatch / wall}%.0f clips/s")
      ledger.rows.foreach(r => println(s"INGEST_LEDGER batch=$i $r"))
    }

    val total = nBase + nBatches * nBatch
    val incClusters = IncrementalDedup.currentClusters(spark, state)
    val incN = incClusters.select("cluster_id").distinct().count()
    val incRows = incClusters.count()
    t0 = System.nanoTime()
    val full = DedupPipeline.run(SynthCorpus.generate(spark, total, partitions = cpus * 2), cfg)
    val fullN = full.clusters.select("cluster_id").distinct().count()
    val fullWall = (System.nanoTime() - t0) / 1e9
    println(f"INGEST_TOTAL rows=$incRows clusters=$incN full_rerun_clusters=$fullN " +
      f"full_rerun_wall=$fullWall%.1fs match=${incN == fullN}")
    spark.stop()
  }
}
