package graft.tools

import graft.dedup.DedupPipeline
import graft.obs.JobLedger

/** Round-6 measurement harness (guide §1: measure first; §1.4 noop sink;
  * §1.5 labeled jobs). SEPARATE from the frozen graft.Bench: times each
  * named SparkEntry query through the noop sink (computes every column,
  * no optimizer pruning), dumps `.explain("formatted")` to plans/r06/ and
  * prints per-query wall + summed executor task time + job/stage counts so
  * fixed scheduling floors are distinguishable from real compute, then the
  * best rep's per-label ledger rows (`LEDGER <query> label=…`).
  *
  * Usage: runMain graft.tools.BenchExtra <tag> [query ...]
  *   tag   — suffix for the plan dump files (e.g. "before", "after")
  *   query — SparkEntry query names; default = the 15 bench headline queries.
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_REPS (default 2, min-of), SPARK_GRAFT_PLANS=0 to skip
  *      plan dumps.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "probe"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val dumpPlans = !sys.env.get("SPARK_GRAFT_PLANS").contains("0")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q_doc_freq", "q_exact_dedup", "q_token_count", "q_fingerprint",
        "q_jaccard_pairs", "q_len_window_pairs", "q_ann_topk", "q_embed_norm",
        "q_minhash_sigs", "q_simhash_pairs", "q_ann_lsh", "q_fuzzy_topk",
        "q_audio_dup_pairs", "q_audio_contained")

    val spark = DedupPipeline.sessionBuilder("bench-extra", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.range(1000).selectExpr("sum(id)").collect() // warm session

    val planDir = java.nio.file.Paths.get("plans/r06")
    if (dumpPlans) java.nio.file.Files.createDirectories(planDir)

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      if (dumpPlans) {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out)) {
          fn(spark, sfDir).explain("formatted")
        }
        java.nio.file.Files.write(planDir.resolve(s"${name}_$tag.txt"), out.toByteArray)
      }
      // min-of-reps wall; its ledger gives the work columns and per-label rows
      val (best, ledger) = (1 to reps).map { _ =>
        JobLedger.of(spark)(JobLedger.withStage(spark.sparkContext, s"bench-extra:$name") {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        })
      }.minBy(_._1)
      val t = ledger.total
      println(f"EXTRA $name%-22s wall=$best%7.3f task_s=${t.taskS}%8.2f " +
        f"gc_s=${t.gcS}%6.2f jobs=${t.jobs}%3d stages=${t.stages}%3d " +
        f"shuffle_mb=${t.shuffleWriteBytes / 1e6}%8.2f")
      ledger.rows.foreach(r => println(s"  LEDGER $name $r"))
    }
    spark.stop()
  }
}
