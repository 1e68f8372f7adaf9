package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.Clip

/** Per-stage metric row (the reference's NMATCH/STEP counters recast as a
  * table, /root/reference/cli/src/FuzzyMatch-cli.cc:21-27,452-458). */
final case class MetricRow(
    stage: String,
    partition_id: Int,
    rows_in: Long,
    rows_out: Long,
    wall_ms: Long,
    extra: Map[String, String])

final case class DedupResult(
    clusters: Dataset[ClusterRow],
    edges: Dataset[Edge],
    metrics: Seq[MetricRow])

/** Orchestration of the three-stage dedup with optional per-stage parquet
  * checkpoints (resumable: any existing stage output is read back instead of
  * recomputed — idempotent re-run from any stage).
  *
  * Scale design notes (the 100 TB plan):
  *  - tokenize/signature stages are narrow (no shuffle);
  *  - candidates shuffle once on shingle/band hash (groupByKey); hot buckets
  *    are capped and counted, skew beyond the cap is the MinHash channel's
  *    job plus AQE skew handling on the joins;
  *  - verify shuffles candidate tokens once (hash join on candidate id) and
  *    cogroups by pattern id — everything else is partition-local;
  *  - connected components iterate small self-joins over the (much smaller)
  *    edge set with per-iteration localCheckpoint.
  */
object DedupPipeline {

  /** Builder for app mains: session defaults + a master that DEFERS to
    * spark-submit. Under spark-submit the launcher provides spark.master
    * (yarn/k8s/standalone/local) and forcing one here would override the
    * cluster; standalone `java -cp` runs get local[cores]. */
  def sessionBuilder(appName: String, cores: Int): SparkSession.Builder = {
    val b = SparkSession.builder().appName(appName)
    sessionDefaults(
      if (sys.props.contains("spark.master")) b else b.master(s"local[$cores]"),
      cores)
  }

  def sessionDefaults(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the verify cogroup deserializes token rows into JVM objects with a
      // ~10× in-memory blowup over their shuffle bytes, and AQE sizes
      // coalescing on OUTPUT bytes — a 64 MB advisory can hand one task an
      // object graph far beyond its heap share on a real executor. 16 MB
      // keeps object-heavy tasks bounded.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // r6 (guide §2.2): size post-shuffle partitions by BYTES, not by the
      // core count. parallelismFirst=true (the default) floors every
      // coalesce at defaultParallelism, so a job over a small table fires a
      // wave of near-empty tasks per shuffle stage regardless of data; with
      // byte-based coalescing the partition count follows the advisory
      // size. Scale-neutral by construction: whenever post-shuffle
      // partitions already exceed the advisory size (any large input) no
      // coalescing happens either way — the flag only governs inputs small
      // relative to the configured parallelism, exactly where the fixed
      // floor was pure overhead.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // let AQE apply the same byte-based coalescing INSIDE cached plans
      // (default false): the retrieval/dedup paths persist their token/
      // candidate/scored sets, and without this every cache materializes
      // with the full configured shuffle partitioning — waves of near-empty
      // tasks per cache build AND per cache read on small inputs (same
      // scale-neutrality argument as parallelismFirst above).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  private def stagePath(dir: String, name: String) = s"$dir/$name"

  private def exists(spark: SparkSession, path: String): Boolean =
    graft.data.TableIO.exists(spark, path)

  /** Run (or resume) the full pipeline. */
  def run(clips: Dataset[Clip], cfg: DedupConfig, checkpointDir: Option[String] = None): DedupResult = {
    val spark = clips.sparkSession
    import spark.implicits._
    val metrics = scala.collection.mutable.ListBuffer.empty[MetricRow]

    def timed(stage: String, rowsIn: => Long, extra: => Map[String, String] = Map.empty)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val rowsOut = body
      metrics += MetricRow(stage, -1, rowsIn, rowsOut, (System.nanoTime() - t0) / 1000000L, extra)
      rowsOut
    }

    /** compute-or-restore a stage checkpoint; restored stages are tracked so
      * metrics can say "restored" instead of reporting accumulators that
      * never ran (a resumed run would otherwise falsely report zero capping). */
    val restoredStages = scala.collection.mutable.Set.empty[String]
    def checkpointed[T](name: String, compute: => Dataset[T])(
        read: DataFrame => Dataset[T]): Dataset[T] = {
      checkpointDir match {
        case Some(dir) =>
          val path = stagePath(dir, name)
          if (!exists(spark, path))
            graft.data.TableIO.write(compute.toDF(), path)
          else restoredStages += name
          read(graft.data.TableIO.read(spark, path))
        case None => compute
      }
    }

    val nClips = clips.count()

    // Stage 1: tokenize (narrow) — persist: reused by shingles + verify sides.
    // On the EXPLICIT shuffle path the token cache is right-sized from the
    // row count (~4k rows/partition — the r5 incremental-path lesson): the
    // persisted set is re-scanned by the signature stage, both keyed
    // channels' entry generators + the batched hot-key stats, the tiny
    // count and the two verify map sides, and source partitioning tuned for
    // the clip READ (e.g. 64 splits of a 24k-row corpus) charges every one
    // of those scans a wave of near-empty tasks. Only ever DOWNSIZES: at
    // scale rows/4096 exceeds any sane source partitioning and this is a
    // no-op (the repartition only fires on over-partitioned small inputs,
    // where the extra exchange is by definition tiny). The broadcast path
    // keeps source partitioning — its dominant narrow stage is the
    // per-row matcher probe, which wants the parallelism.
    val srcParts = clips.rdd.getNumPartitions
    val tokParts = math.max(1L, math.min(nClips / 4096 + 1, srcParts.toLong)).toInt
    val toksStage = {
      val t = TokenizeStage(clips, cfg)
      if (cfg.strategy == "shuffle" && tokParts < srcParts) t.repartition(tokParts) else t
    }
    val toks = checkpointed("tokens", toksStage)(_.as[TokRow])
      .persist()
    // forced strategies need only the row count; "auto" gets rows AND exact
    // estimated bytes from the same single aggregation job
    var estBytes = -1L
    val nToks = timed("tokenize", nClips) {
      if (cfg.strategy == "broadcast" || cfg.strategy == "shuffle") toks.count()
      else {
        val (n, b) = BroadcastCorpus.stats(toks, TokenizeStage.rowBytes())
        estBytes = b
        n
      }
    }

    val useBroadcast = cfg.strategy match {
      case "broadcast" => true
      case "shuffle" => false
      case _ =>
        BroadcastCorpus.fits(nToks, estBytes, cfg)
    }

    var edgesV: Dataset[Edge] = null
    // running count of the union edge set, accumulated from the per-stage
    // counts below — the final nEdges recount action it replaces was one
    // redundant job per run (every branch already counts its persisted set)
    var nEdges = 0L
    val edges =
      if (useBroadcast) {
        // fast path: global shared read-only index (reference architecture),
        // candidate recall exact by construction — no LSH stage needed
        nEdges += timed("verify", nToks, Map("strategy" -> "broadcast") ++
            (if (restoredStages("edges")) Map("restored" -> "true") else Map.empty)) {
          edgesV = checkpointed("edges", BroadcastVerifyStage(toks, cfg))(_.as[Edge]).persist()
          edgesV.count()
        }
        edgesV
      } else {
        // beyond-memory path: signatures → LSH/shingle candidates → verify
        // persisted: the minhash channel reads signatures twice (hot-bucket
        // stats pre-pass + the bucket join itself). `sigsForced` tracks
        // whether the lazy val ever initialized: on a resumed run whose
        // candidates checkpoint was restored, CandidateStage never runs and
        // unpersisting here would otherwise FORCE the full signature stage
        // (compute + checkpoint write) just to throw it away.
        var sigsForced = false
        lazy val sigs = {
          sigsForced = true
          checkpointed("signatures", SignatureStage(toks, cfg))(_.as[SigRow]).persist()
        }
        val sc = spark.sparkContext
        val cappedShingleBuckets = sc.longAccumulator("cappedShingleBuckets")
        val cappedShinglePairs = sc.longAccumulator("cappedShinglePairsLost")
        val cappedBandBuckets = sc.longAccumulator("cappedBandBuckets")
        val cappedTinyGramBuckets = sc.longAccumulator("cappedTinyGramBuckets")
        val cands = checkpointed("candidates",
          CandidateStage(toks, sigs, cfg, cappedShingleBuckets, cappedShinglePairs,
            cappedBandBuckets, cappedTinyGramBuckets))(_.as[CandPair])
          .persist()
        val nCands = timed("candidates", nToks, {
          if (restoredStages("candidates"))
            // stage read back from checkpoint: the capping accumulators never
            // ran, so report the restore instead of phantom zero-cap values
            Map("strategy" -> "shuffle", "restored" -> "true")
          else Map(
            "strategy" -> "shuffle",
            "capped_shingle_buckets" -> cappedShingleBuckets.value.toString,
            "capped_shingle_pairs_lost" -> cappedShinglePairs.value.toString,
            "capped_band_buckets" -> cappedBandBuckets.value.toString,
            "capped_tiny_gram_buckets" -> cappedTinyGramBuckets.value.toString)
        })(cands.count())
        nEdges += timed("verify", nCands,
          if (restoredStages("edges")) Map("restored" -> "true") else Map.empty) {
          edgesV = checkpointed("edges", VerifyStage(toks, cands, cfg, nToks))(_.as[Edge]).persist()
          edgesV.count()
        }
        cands.unpersist()
        if (sigsForced) sigs.unpersist()
        edgesV
      }
    // optional multimodal channel: audio-fingerprint near-dups join the
    // edge set, so same-audio/different-transcript clips cluster together
    val allEdges =
      if (!cfg.useAudioChannel) edges
      else {
        var audioE: Dataset[Edge] = null
        nEdges += timed("audio_verify", nClips,
          if (restoredStages("audio_edges")) Map("restored" -> "true") else Map.empty) {
          val acc = spark.sparkContext.longAccumulator("audioCappedBuckets")
          audioE = checkpointed("audio_edges", {
            // decode once: the fingerprints feed the pair join AND (when
            // checkpointing) the committed audio_fps table increments read;
            // the table is written BEFORE pairs because pairs releases the
            // shared fingerprint cache after its result materializes
            val afps = AudioDedup.fingerprints(clips).persist()
            checkpointDir.foreach { dir =>
              if (!exists(spark, stagePath(dir, "audio_fps")))
                graft.data.TableIO.write(afps.toDF(), stagePath(dir, "audio_fps"))
            }
            AudioDedup.pairs(afps, minCorr = cfg.audioMinCorr, cappedBuckets = acc)
          })(_.as[Edge]).persist()
          audioE.count()
        }
        edges.union(audioE)
      }
    // optional containment channel: an excerpt's active audio occurring
    // inside a longer clip is redundant training content — its edge pulls
    // the excerpt into the recording's cluster
    val allEdgesCt =
      if (!cfg.useAudioContainment) allEdges
      else {
        var containE: Dataset[Edge] = null
        nEdges += timed("audio_contain", nClips,
          if (restoredStages("audio_contain_edges")) Map("restored" -> "true") else Map.empty) {
          val acc = spark.sparkContext.longAccumulator("audioCtCappedBuckets")
          containE = checkpointed("audio_contain_edges", {
            val ctfps = AudioContainment.fingerprints(clips).persist()
            checkpointDir.foreach { dir =>
              if (!exists(spark, stagePath(dir, "audio_ct_fps")))
                graft.data.TableIO.write(ctfps.toDF(), stagePath(dir, "audio_ct_fps"))
            }
            AudioContainment.pairs(ctfps,
              minCorr = cfg.audioContainMinCorr, cappedBuckets = acc)
              .select($"inner".as("a"), $"outer".as("b"), $"corr".as("score"),
                lit(0).as("lcs"), lit("audio_contain").as("kind"))
              .as[Edge]
          })(_.as[Edge]).persist()
          containE.count()
        }
        allEdges.union(containE)
      }

    // Stage 3: connected components. The vertex universe is the INPUT clip
    // table, not the tokenized rows: clips dropped by TokenizeStage (empty
    // or over-length transcripts) still get singleton ClusterRows — and, when
    // the
    // audio channel is on, audio edges incident to tokenize-dropped clips
    // keep their endpoints, so no input row ever silently vanishes from the
    // clusters (or from the Survivors output built on them).
    var clusters: Dataset[ClusterRow] = null
    timed("cluster", nEdges) {
      clusters = checkpointed("clusters",
        ConnectedComponents(allEdgesCt, clips.select($"clip_id").toDF(), cfg.ccMaxIterations,
          cfg.ccLocalEdgeCap, knownEdgeCount = nEdges))(_.as[ClusterRow])
        .persist()
      clusters.count()
    }

    checkpointDir.foreach { dir =>
      // commit signatures even on the broadcast path (which never computes
      // them): a committed dir doubles as IncrementalDedup chain state, and
      // without this table every increment re-runs the 96-perm MinHash
      // kernel over the ENTIRE old corpus just to build its band frontier —
      // an O(old) compute wall paid per batch forever. One narrow job at
      // commit time buys a pruned parquet read per increment instead.
      if (cfg.useMinhashChannel && !exists(spark, stagePath(dir, "signatures")))
        graft.data.TableIO.write(SignatureStage(toks, cfg).toDF(), stagePath(dir, "signatures"))
      // audio fingerprint backfill: the channel stages write these tables
      // inline (decode once); this covers a dir whose channel checkpoint was
      // restored from a run predating the inline write (re-decodes, once)
      if (cfg.useAudioChannel && !exists(spark, stagePath(dir, "audio_fps")))
        graft.data.TableIO.write(AudioDedup.fingerprints(clips).toDF(), stagePath(dir, "audio_fps"))
      if (cfg.useAudioContainment && !exists(spark, stagePath(dir, "audio_ct_fps")))
        graft.data.TableIO.write(AudioContainment.fingerprints(clips).toDF(), stagePath(dir, "audio_ct_fps"))
      // per-partition lineage rows alongside the stage-level metrics
      metrics ++= Metrics.perPartition("tokens", toks)
      metrics ++= Metrics.perPartition("edges", allEdgesCt)
      graft.data.TableIO.write(metrics.toSeq.toDS().toDF(), stagePath(dir, "metrics"))
    }
    // edges/clusters are persisted AND materialized (counted) above, so the
    // token cache has no remaining consumer — release it rather than pinning
    // one tokenized corpus copy per pipeline run in a long-lived session
    toks.unpersist()
    DedupResult(clusters, allEdgesCt, metrics.toSeq)
  }
}
