package graft.tools

import graft.data.SynthCorpus
import graft.dedup._
import graft.kernel.Matcher
import graft.oracle.FuzzyMatcher

/** Dev tool: recall vs the oracle under the capped scale config for a grid
  * of MinHash (perms, bands) choices — picks the default band shape on
  * measurement, not folklore. */
object ProfileRecall {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2400
    val spark = DedupPipeline.sessionBuilder("graft-recall", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = DedupConfig(threshold = 0.8f, strategy = "shuffle",
      shingleDfCap = 24, bandDfCap = 96)

    def norm(a: String, b: String) = if (a < b) (a, b) else (b, a)
    val clips = SynthCorpus.generate(spark, n).persist()
    clips.count()

    // truth: the single-node oracle below 10k rows, else the broadcast
    // strategy (proven edge-set-equal to the oracle in DedupPipelineSpec)
    val want: Set[(String, String)] =
      if (n <= 10000) {
        val fm = new FuzzyMatcher(base.pt, base.maxTokensInPattern)
        SynthCorpus.transcripts(n).foreach { case (id, t) => fm.addTm(id, t) }
        fm.allDupPairs(Matcher.Params(
          fuzzy = base.threshold, minSubseqLength = base.minSubseqLength,
          minSubseqRatio = base.minSubseqRatio, editCosts = base.editCosts,
          maxTokensInPattern = base.maxTokensInPattern))
      } else {
        DedupPipeline.run(clips, base.copy(strategy = "broadcast"))
          .edges.collect().map(e => norm(e.a, e.b)).toSet
      }
    println(s"RECALL oracle_pairs=${want.size}")

    for ((perms, bands) <- Seq((128, 64), (128, 32), (96, 32), (128, 16))) {
      val cfg = base.copy(minhashPerms = perms, minhashBands = bands)
      val t0 = System.nanoTime()
      val r = DedupPipeline.run(clips, cfg)
      val got = r.edges.collect().map(e => norm(e.a, e.b)).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = 1.0 - (want -- got).size.toDouble / math.max(1, want.size)
      val cands = r.metrics.find(_.stage == "candidates").map(_.rows_out).getOrElse(-1L)
      println(f"RECALL perms=$perms bands=$bands recall=$recall%.5f extra=${(got -- want).size} cands=$cands sec=$sec%.1f")
    }
    spark.stop()
  }
}
