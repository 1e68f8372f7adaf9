package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dedup.{CandidateStage, DedupPipeline}
import graft.kernel.Hashing
import graft.text.{PT, Tokenizer}

/** Dev probe: stage-by-stage timing of the simhash pair query. */
object SimhashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = DedupPipeline.sessionDefaults(
      SparkSession.builder().master(s"local[$cpus]").appName("simhash-probe"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.range(1000).selectExpr("sum(id)").collect()

    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"STEP $name sec=${(System.nanoTime() - t0) / 1e9}%.3f")
      r
    }

    val sigs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"), col("text")).as[(String, String)]
      .map { case (id, text) =>
        val ts = Tokenizer.tokenize(text, PT.default)
        val sh = Hashing.distinctShingles(Hashing.tokenIds(ts.norm), 3)
        (id, Hashing.simhash(sh))
      }.persist()
    timed("sigs_simhash_only")(println("sigs=" + sigs.count()))

    val offsets = Array(0, 10, 19, 28, 37, 46, 55, 64)
    val entries = sigs.flatMap { case (id, sh) =>
      (0 until 7).map { c =>
        val width = offsets(c + 1) - offsets(c)
        val chunk = (sh >>> offsets(c)) & ((1L << width) - 1)
        (chunk | (c.toLong << 32), id, 1, Int.MaxValue)
      }
    }.toDF("sh", "id", "n", "mx")
    timed("entries")(println("entries=" + entries.count()))
    // bucket occupancy histogram
    val occ = entries.groupBy("sh").count().select(max("count"), avg("count"), count(lit(1))).head()
    println(s"bucket max=${occ.get(0)} avg=${occ.get(1)} n=${occ.get(2)}")

    val capped = spark.sparkContext.longAccumulator("capped")
    val pairs = timed("bucketPairs_plan") {
      CandidateStage.bucketPairs(entries, None, CandidateStage.selfWindow, 1024, capped)
        .select(col("p").as("a_id"), col("c").as("b_id"))
    }
    timed("raw_pairs")(println("raw=" + pairs.count()))
    val dd = pairs.dropDuplicates("a_id", "b_id")
    timed("dedup_pairs")(println("dd=" + dd.count()))
    val a = sigs.toDF("a_id", "a_sh")
    val b = sigs.toDF("b_id", "b_sh")
    val out = dd.join(a, "a_id").join(b, "b_id")
      .withColumn("hamming", expr("bit_count(a_sh ^ b_sh)").cast("bigint"))
      .filter(col("hamming") <= 6)
    timed("final")(println("final=" + out.count()))
    spark.stop()
  }
}
