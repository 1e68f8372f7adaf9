package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.data.SynthCorpus
import graft.dedup._

/** Bucket-df histogram probe for the AUTO df-cap work-factor derivation
  * (BASELINE.md round 5): builds the EXACT shingle- and band-channel entry
  * sets the dedup pipeline builds at the given corpus size and prints, per
  * channel, the cumulative quadratic join work as a function of the cap —
  * i.e. for each candidate cap c: Σ_{df ≤ c} df²·H(df), the implied
  * workFactor (= that sum / N entries), and the pair volume Σ df(df−1)/2.
  * This is the evidence from which the default AUTO work factor is chosen:
  * the factor should land the cap at the measured good operating points
  * (the r4 cap-knob experiment's 64/256 and 24/96 legs).
  *
  * `scripts/run-main.sh graft.tools.HistProbe [nClips]` (env SPARK_GRAFT_CPUS).
  */
object HistProbe {
  def main(args: Array[String]): Unit = {
    val nClips = if (args.nonEmpty) args(0).toLong else 480000L
    val spark = DedupPipeline.sessionBuilder("graft-hist",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = DedupConfig()
    val clips = SynthCorpus.generate(spark, nClips, partitions = 64)
    val toks = TokenizeStage(clips, cfg).persist()

    val shingle = CandidateStage.shingleEntries(toks, cfg.shingleK)
    val band = CandidateStage.bandEntries(SignatureStage(toks, cfg))

    for ((name, entries, knownCaps) <- Seq(
        ("shingle", shingle, Seq(24, 64)), ("band", band, Seq(96, 256)))) {
      val hist = entries.groupBy("sh").agg(count(lit(1)).as("df"))
        .groupBy("df").agg(count(lit(1)).as("buckets")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val n = hist.map { case (df, b) => df * b }.sum
      println(s"CHANNEL $name entries=$n distinct_df=${hist.length} maxDf=${hist.last._1}")
      var work = 0L
      var pairs = 0L
      for ((df, b) <- hist) {
        work += df * df * b
        pairs += df * (df - 1) / 2 * b
        // print the knee region: every distinct df up to 32, then powers-ish
        if (df <= 32 || (df & (df - 1)) == 0 || knownCaps.contains(df.toInt) ||
            df == hist.last._1)
          println(f"  cap=$df%6d buckets=$b%9d cumWork=$work%14d wf=${work.toDouble / n}%8.3f cumPairs=$pairs%13d")
      }
      for (c <- knownCaps) {
        val w = hist.iterator.takeWhile(_._1 <= c).map { case (df, b) => df * df * b }.sum
        println(f"  KNOWN cap=$c%5d impliedWf=${w.toDouble / n}%8.3f")
      }
    }
    spark.stop()
  }
}
