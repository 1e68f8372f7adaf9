package graft.tools

import org.apache.spark.sql.SparkSession
import graft.data.SynthCorpus
import graft.dedup._

/** End-to-end pipeline driver.
  *
  * Full run:
  *   DedupCli <synth:N | parquetPath> <outDir|-> [threshold] [minhash:0|1]
  *            [audio:0|1] [contain:0|1]
  * Incremental (cluster a NEW batch against prior committed state in
  * O(new)-ish work — [[graft.dedup.IncrementalDedup]]):
  *   DedupCli inc <synth:N[:firstId] | parquetPath> <outDir|->
  *            <priorDir1[,priorDir2,...]> [threshold] [minhash:0|1]
  * where priorDirs is the lineage chain: head = a completed full-run outDir,
  * tail = prior increment outDirs in order.
  *
  * Reads a clip table (or synthesizes one), runs the three-stage dedup (or
  * one increment), and prints cluster stats. Parallelism via
  * SPARK_GRAFT_CPUS (default 4).
  */
object DedupCli {
  private val usage =
    "usage: DedupCli <synth:N|parquet> <outDir|-> [threshold] [minhash:0|1] [audio:0|1] [contain:0|1]\n" +
      "   or: DedupCli inc <synth:N[:firstId]|parquet> <outDir|-> <priorDirsCsv> " +
      "[threshold] [minhash:0|1] [audio:0|1] [contain:0|1]"

  private def readClips(spark: SparkSession, arg: String, cpus: Int) =
    if (arg.startsWith("synth:")) {
      val parts = arg.stripPrefix("synth:").split(':')
      SynthCorpus.generate(spark, parts(0).toLong, partitions = cpus * 2,
        firstId = if (parts.length > 1) parts(1).toLong else 0L)
    } else graft.data.TableIO.readClips(spark, arg) // Iceberg ident or parquet path

  /** The config from the trailing `[threshold] [minhash:0|1] [audio:0|1] [contain:0|1]`. */
  private def config(opts: Array[String], cpus: Int) = DedupConfig(
    threshold = opts.headOption.fold(0.8f)(_.toFloat),
    useMinhashChannel = opts.lift(1).contains("minhash:1"),
    useAudioChannel = opts.lift(2).contains("audio:1"),
    useAudioContainment = opts.lift(3).contains("contain:1"),
    shufflePartitions = cpus)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    if (args.headOption.contains("inc")) { incremental(args.drop(1), cpus); return }
    require(args.length >= 2, usage)
    val spark = DedupPipeline.sessionBuilder("graft-dedup", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val clips = readClips(spark, args(0), cpus)
    val cfg = config(args.drop(2), cpus)

    val t0 = System.nanoTime()
    val out = DedupPipeline.run(clips, cfg, Option(args(1)).filter(_ != "-"))
    val nClusters = out.clusters.select("cluster_id").distinct().count()
    val nRows = out.clusters.count()
    val nEdges = out.edges.count()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val topClusters = out.clusters.groupBy("cluster_id").count()
      .orderBy($"count".desc, $"cluster_id").limit(5).collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" ")

    println(f"DEDUP rows=$nRows edges=$nEdges clusters=$nClusters wall=$wallSec%.2fs throughput=${nRows / wallSec}%.0f clips/sec")
    println(s"TOP_CLUSTERS $topClusters")
    printMetrics(out.metrics)
    spark.stop()
  }

  private def incremental(args: Array[String], cpus: Int): Unit = {
    require(args.length >= 3, usage)
    val spark = DedupPipeline.sessionBuilder("graft-dedup-inc", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val clips = readClips(spark, args(0), cpus)
    val priorDirs = args(2).split(',').toSeq
    val cfg = config(args.drop(3), cpus)

    val t0 = System.nanoTime()
    val res = IncrementalDedup.run(clips, priorDirs, cfg, Option(args(1)).filter(_ != "-"))
    val nNew = clips.count()
    val nRows = res.clusters.count()
    val nClusters = res.clusters.select("cluster_id").distinct().count()
    val nEdges = res.newEdges.count()
    val nMerges = res.mergedLabels.count()
    val wallSec = (System.nanoTime() - t0) / 1e9
    println(f"INC new=$nNew new_edges=$nEdges merges=$nMerges total_rows=$nRows clusters=$nClusters " +
      f"wall=$wallSec%.2fs new_clips_per_sec=${nNew / wallSec}%.0f")
    printMetrics(res.metrics)
    spark.stop()
  }

  private def printMetrics(metrics: Seq[MetricRow]): Unit =
    metrics.foreach(m => println(
      s"METRIC stage=${m.stage} rows_in=${m.rows_in} rows_out=${m.rows_out} wall_ms=${m.wall_ms}" +
      (if (m.extra.nonEmpty) m.extra.map { case (k, v) => s" $k=$v" }.mkString else "")))
}
