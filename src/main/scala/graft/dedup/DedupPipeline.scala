package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.{Clip, TableIO}
import graft.obs.JobLedger.withStage

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

/** One stage sequence for every dedup run: [[DedupPipeline.run]] runs it
  * over no prior state, [[IncrementalDedup.run]] over its chain's state.
  * Each stage has its own job label and metric row, and each stage output
  * is materialized by one job that counts its rows per partition:
  *  - precheck (the input count; with prior state the batch's ids checked
  *    on the driver) and tokenize (narrow, sized in one job);
  *  - audio edges per channel on: the batch operator, plus with prior state
  *    the committed fingerprints probed against a batch-sized broadcast;
  *  - transcript edges: with prior state, the batch broadcast with its key
  *    postings ([[IncrementalDedup.againstBatch]]); without, the auto /
  *    broadcast / shuffle decision — the reference's one shared index
  *    ([[BroadcastVerifyStage]]), or signatures → candidates (bucket
  *    equi-joins, hot buckets capped and counted) → verify (candidate
  *    tokens joined once, cogrouped by pattern);
  *  - connected components over every input clip id, or over the
  *    label-contracted touched subgraph (on the driver below
  *    `ccLocalEdgeCap`), then the label remap;
  *  - commit, one write per table: `tokens`, `edges`, each audio channel's
  *    fingerprint and edge tables, `metrics`, and `clusters` LAST (the
  *    commit marker).
  * A run with no prior state writes each stage table as it completes and
  * resumes from those that exist; an increment commits at the end, over any
  * earlier attempt.
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

  /** Run (or resume) the full pipeline: the stage sequence over no prior state. */
  def run(clips: Dataset[Clip], cfg: DedupConfig, checkpointDir: Option[String] = None): DedupResult = {
    val r = sequence(clips, Nil, cfg, checkpointDir)
    DedupResult(r.clusters, r.newEdges, r.metrics)
  }

  /** The stage sequence over `clips` and the prior state the chain
    * `priorDirs` holds (none when empty), committed to `dir`. */
  private[dedup] def sequence(clips: Dataset[Clip], priorDirs: Seq[String], cfg: DedupConfig,
      dir: Option[String]): IncrementalResult = {
    val spark = clips.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val fresh = priorDirs.isEmpty
    val metrics = scala.collection.mutable.ListBuffer.empty[MetricRow]

    // every Spark job carries a `dedup:<stage>` or `inc:<stage>` label
    val tag = if (fresh) "dedup" else "inc"
    def timed(stage: String, rowsIn: => Long, extra: => Map[String, String] = Map.empty)(
        body: => Long): Long = {
      val name = if (fresh) stage else s"inc_$stage"
      withStage(sc, s"$tag:$name") {
        val t0 = System.nanoTime()
        val rowsOut = body
        metrics += MetricRow(name, -1, rowsIn, rowsOut, (System.nanoTime() - t0) / 1000000L, extra)
        rowsOut
      }
    }

    // a full run persists its stage outputs (the caller owns the returned
    // sets); an increment localCheckpoints its O(new) ones — a persisted plan
    // over the whole chain was re-optimized per query stage per action
    // (measured 343 jobs / 821 s of Catalyst CPU for a 300-clip batch)
    def keep[T](ds: Dataset[T]): Dataset[T] = if (fresh) ds.persist() else ds.localCheckpoint(false)
    // restored stages are tracked so metrics can say "restored" instead of
    // reporting accumulators that never ran (phantom zero capping)
    val restored = scala.collection.mutable.Set.empty[String]
    def restoredMark(name: String) =
      if (restored(name)) Map("restored" -> "true") else Map.empty[String, String]
    val pending = scala.collection.mutable.ListBuffer.empty[(String, Dataset[_])]
    def commit(name: String, ds: Dataset[_]): Unit = dir.foreach { d =>
      if (!fresh) pending += name -> ds
      else if (!TableIO.exists(spark, s"$d/$name")) TableIO.write(ds.toDF(), s"$d/$name")
    }
    def table[T: Encoder](name: String, compute: => Dataset[T]): Dataset[T] =
      dir.filter(_ => fresh) match {
        case Some(d) =>
          val (ds, wasRestored) = TableIO.restoreOrWrite(spark, s"$d/$name")(compute)
          if (wasRestored) restored += name
          keep(ds)
        case None =>
          val ds = keep(compute)
          commit(name, ds)
          ds
      }

    // every stage output is materialized by ONE job that returns its
    // per-partition row counts; the token and edge counts become the
    // committed per-partition metric rows
    var edgeCounts = Seq.empty[Long]
    def counted(ds: Dataset[_]): Long = Metrics.partitionCounts(ds).sum
    def countedEdges(e: Dataset[Edge]): Long = {
      val c = Metrics.partitionCounts(e)
      edgeCounts ++= c
      c.sum
    }

    // ---- precheck ----
    // prior-state reads are typed (no job) and validate the chain eagerly:
    // a chain without an audio channel on fails here
    val prior = if (fresh) None
      else Some(withStage(sc, "inc:prior_state")(IncrementalDedup.priorState(spark, priorDirs, cfg)))
    val ids = clips.select($"clip_id")
    // an increment holds its batch's ids on the driver from here on
    val (nClips, batchIds) = withStage(sc, s"$tag:precheck")(prior match {
      case None => (counted(clips), None)
      case Some(p) =>
        val batch = IncrementalDedup.precheck(clips, p.clusters)
        (batch.length.toLong, Some(batch))
    })

    // ---- tokenize (narrow) + size, one job ----
    // the increment and the explicit shuffle path re-scan their token rows
    // in several stages, so they only ever DOWNSIZE source partitioning to
    // ~4k rows each (an increment by a narrow coalesce, so the sizing job is
    // its only job); the full broadcast/auto path keeps it — its dominant
    // narrow stage is the per-row matcher probe, which wants the parallelism
    val srcParts = clips.rdd.getNumPartitions
    val parts = math.max(1L, math.min(nClips / 4096 + 1, srcParts.toLong)).toInt
    var toks: Dataset[TokRow] = null
    var tokCounts = Seq.empty[Long]
    var tokBytes = 0L
    val nToks = timed("tokenize", nClips) {
      toks = table("tokens", {
        val t = TokenizeStage(clips, cfg)
        if (parts >= srcParts) t
        else if (!fresh) t.coalesce(parts)
        else if (cfg.strategy == "shuffle") t.repartition(parts)
        else t
      })
      val st = BroadcastCorpus.partitionStats(toks, TokenizeStage.rowBytes())
      tokCounts = st.map(_._1).toSeq
      tokBytes = st.map(_._2).sum
      tokCounts.sum
    }

    // ---- audio edges (optional channels) ----
    // fingerprints are decoded once: they feed the pair operator, the batch
    // broadcast and the committed fingerprint table, written BEFORE the
    // pairs because the operator releases its fingerprint cache
    var nEdges = 0L
    def audio[F](stage: String, edgesTable: String, fpsTable: String, fingerprints: => Dataset[F])(
        pairs: (Dataset[F], org.apache.spark.util.LongAccumulator) => Dataset[Edge])(
        againstOld: (Dataset[F], DataFrame, org.apache.spark.util.LongAccumulator) => Dataset[Edge])
        : Dataset[Edge] = {
      val capped = sc.longAccumulator(stage)
      var e: Dataset[Edge] = null
      nEdges += timed(stage, nClips, if (restored(edgesTable)) restoredMark(edgesTable)
          else Map("capped_audio_buckets" -> capped.value.toString)) {
        e = table(edgesTable, {
          val fps = keep(fingerprints)
          commit(fpsTable, fps)
          val own = pairs(fps, capped)
          prior.fold(own)(p => own.union(againstOld(fps, p.fps(fpsTable), capped)))
        })
        countedEdges(e)
      }
      e
    }
    // the broadcast side is the batch: guarded before collect, so an
    // oversized batch never reaches the driver
    val remedy = "a smaller ingest batch, or the full pipeline with audio on"
    var audioEdges = Seq.empty[Dataset[Edge]]
    if (cfg.useAudioChannel)
      audioEdges :+= audio("audio_verify", "audio_edges", "audio_fps", AudioDedup.fingerprints(clips))(
          (fps, capped) => AudioDedup.pairs(fps, cfg.audioMinCorr, cappedBuckets = capped)) {
        (fps, old, capped) =>
          val bc = BroadcastCorpus.broadcast(fps, AudioDedup.fpBytes, cfg,
              "incremental audio channel batch", remedy) { rows =>
            val (idx, n) = BroadcastCorpus.postings(rows.map(_.chunks), AudioDedup.defaultBucketCap)
            capped.add(n)
            (rows, idx)
          }
          val minCorr = cfg.audioMinCorr
          old.as[AudioDedup.AudioFpRow].mapPartitions { it =>
            val (rs, ix) = bc.value
            it.flatMap(f => AudioDedup.probeChunkIndex(f, rs, ix, minCorr, AudioDedup.defaultFrameWindow)
              .map { case (i, corr) => Edge(f.clip_id, rs(i).clip_id, corr, 0, "audio") })
          }
      }
    if (cfg.useAudioContainment)
      audioEdges :+= audio("audio_contain", "audio_contain_edges", "audio_ct_fps",
          AudioContainment.fingerprints(clips))((fps, capped) =>
        AudioContainment.pairs(fps, minCorr = cfg.audioContainMinCorr, cappedBuckets = capped)
          .select($"inner".as("a"), $"outer".as("b"), $"corr".as("score"),
            lit(0).as("lcs"), lit("audio_contain").as("kind")).as[Edge]) {
        (fps, old, capped) =>
          val bc = BroadcastCorpus.broadcast(fps, AudioContainment.fpBytes, cfg,
              "incremental audio containment batch", remedy) { rows =>
            val (idx, n) = AudioContainment.buildPosIndex(rows, AudioContainment.defaultBucketCap)
            capped.add(n)
            (rows, idx)
          }
          val minCorr = cfg.audioContainMinCorr
          old.as[AudioContainment.AudioCtRow].mapPartitions { it =>
            val (rs, ix) = bc.value
            it.flatMap(f => AudioContainment.probePosIndex(f, rs, ix,
                AudioContainment.defaultMinVotes, AudioContainment.defaultInnerStride, minCorr)
              .map { case (ri, off, corr) => Edge(f.clip_id, rs(ri).clip_id, corr, off, "audio_contain") })
          }
      }

    // ---- transcript edges ----
    var edges: Dataset[Edge] = null
    def verify(rowsIn: Long, extra: => Map[String, String])(compute: => Dataset[Edge]): Unit =
      nEdges += timed("verify", rowsIn, extra ++ restoredMark("edges")) {
        edges = table("edges", compute)
        countedEdges(edges)
      }
    prior match {
      case Some(p) =>
        // audio runs first, so an audio batch past the envelope names its channel
        BroadcastCorpus.requireFits(nToks, tokBytes, cfg, "incremental batch",
          "a smaller ingest batch, or the full pipeline")
        var capped = Map.empty[String, String]
        verify(nToks, capped) {
          val (e, c) = IncrementalDedup.againstBatch(toks, p.toks, cfg)
          capped = c
          e
        }
      case None if BroadcastCorpus.picksBroadcast(cfg)((nToks, tokBytes)) =>
        // the reference's shared read-only index: candidate recall exact by
        // construction, no LSH stage. A forced broadcast honours the envelope
        // too, checked on the tokenize job's stats before anything is collected
        BroadcastCorpus.requireFits(nToks, tokBytes, cfg, "corpus",
          "strategy = \"shuffle\" (the beyond-memory path)")
        verify(nToks, Map("strategy" -> "broadcast"))(BroadcastVerifyStage(toks, cfg))
      case None =>
        // beyond-memory path. A resumed run whose candidates are restored
        // never reads signatures; unpersisting them would FORCE the stage.
        var sigsForced = false
        lazy val sigs = {
          sigsForced = true
          table("signatures", SignatureStage(toks, cfg))
        }
        val acc = Seq.fill(4)(sc.longAccumulator)
        var cands: Dataset[CandPair] = null
        val nCands = timed("candidates", nToks, Map("strategy" -> "shuffle") ++ (
          if (restored("candidates")) restoredMark("candidates")
          else Seq("capped_shingle_buckets", "capped_shingle_pairs_lost", "capped_band_buckets",
            "capped_tiny_gram_buckets").zip(acc.map(_.value.toString)))) {
          cands = table("candidates", CandidateStage(toks, sigs, cfg, acc(0), acc(1), acc(2), acc(3)))
          counted(cands)
        }
        verify(nCands, Map.empty)(VerifyStage(toks, cands, cfg, nToks))
        cands.unpersist()
        if (sigsForced) sigs.unpersist()
    }
    val allEdges = (audioEdges :+ edges).reduce(_ union _)

    // ---- connected components ----
    // vertices are the INPUT clip ids, so a clip TokenizeStage drops still
    // gets its singleton row. With prior state, old endpoints collapse to
    // their committed labels (each the old component's min clip_id, so
    // min-id naming survives) and CC runs over the touched subgraph only:
    // below `ccLocalEdgeCap` on the driver, past it through joins and the
    // distributed CC. Touched old labels whose component found a smaller
    // min (a new clip's id, or another old label it merged with) are the
    // label remaps; the updated assignment is a narrow rewrite of the
    // committed one through a broadcast remap, plus the batch's rows.
    val (clusters, mergedLabels) = (prior, batchIds) match {
      case (Some(p), Some(batch)) if nEdges <= cfg.ccLocalEdgeCap =>
        // batch-sized: the endpoint pairs and their committed labels come to
        // the driver, which contracts the edges and runs the union-find
        val (pairs, oldLabel) = withStage(sc, s"$tag:touched_labels") {
          val pairs = allEdges.select($"a", $"b").as[(String, String)].collect()
          val inBatch = batch.toSet
          (pairs, IncrementalDedup.committedLabels(p.clusters,
            pairs.iterator.flatMap(e => Iterator(e._1, e._2)).filterNot(inBatch).toSet))
        }
        val touched = oldLabel.values.toSet
        var root: java.util.HashMap[String, String] = null
        timed("cluster", nEdges) {
          def label(id: String) = oldLabel.getOrElse(id, id)
          root = ConnectedComponents.unionFind(pairs.iterator.map(e => (label(e._1), label(e._2))))
          nClips + touched.size // vertices: the batch ids and the touched labels
        }
        withStage(sc, s"$tag:merged_labels") {
          val merged = touched.toSeq.sorted.map(l => (l, root.getOrDefault(l, l)))
            .filter(m => m._1 != m._2)
          val updatedOld = if (merged.isEmpty) p.clusters else {
            val remap = sc.broadcast(merged.toMap)
            p.clusters.mapPartitions { it =>
              val m = remap.value
              it.map(r => ClusterRow(r.clip_id, m.getOrElse(r.cluster_id, r.cluster_id)))
            }
          }
          val batchRows = batch.toSeq.map(id => ClusterRow(id, root.getOrDefault(id, id))).toDS()
          (updatedOld.union(batchRows.coalesce(parts)), merged.toDF("old_label", "new_label"))
        }
      case (Some(p), _) =>
        val endpoints =
          allEdges.select($"a".as("clip_id")).union(allEdges.select($"b".as("clip_id"))).distinct()
        val touched = withStage(sc, s"$tag:touched_labels")(
          p.clusters.join(endpoints, Seq("clip_id"), "left_semi").localCheckpoint(false))
        val contracted = allEdges.toDF()
          .join(touched.toDF("a", "a_label"), Seq("a"), "left")
          .join(touched.toDF("b", "b_label"), Seq("b"), "left")
          .select(coalesce($"a_label", $"a").as("a"), coalesce($"b_label", $"b").as("b"),
            $"score", $"lcs", $"kind")
          .as[Edge]
        val labels = touched.select($"cluster_id".as("clip_id")).distinct()
        var cc: Dataset[ClusterRow] = null
        timed("cluster", nEdges) {
          // the label attach is a per-key-unique left join, so the contracted
          // edges keep allEdges' count and CC skips its own edge-count job
          cc = keep(ConnectedComponents(contracted, ids.union(labels).distinct(), cfg.ccMaxIterations,
            cfg.ccLocalEdgeCap, knownEdgeCount = nEdges))
          counted(cc)
        }
        val merged = withStage(sc, s"$tag:merged_labels")(cc.toDF()
          .join(labels, Seq("clip_id"), "left_semi")
          .filter($"cluster_id" =!= $"clip_id")
          .select($"clip_id".as("old_label"), $"cluster_id".as("new_label"))
          .localCheckpoint(false)) // tiny: merges only
        val updatedOld = p.clusters.toDF()
          .join(broadcast(merged), p.clusters("cluster_id") === merged("old_label"), "left")
          .select($"clip_id", coalesce($"new_label", $"cluster_id").as("cluster_id"))
          .as[ClusterRow]
        (updatedOld.union(cc.join(ids, Seq("clip_id"), "left_semi").as[ClusterRow]), merged)
      case _ =>
        var cc: Dataset[ClusterRow] = null
        timed("cluster", nEdges) {
          cc = keep(ConnectedComponents(allEdges, ids, cfg.ccMaxIterations, cfg.ccLocalEdgeCap,
            knownEdgeCount = nEdges))
          counted(cc)
        }
        (cc, Seq.empty[(String, String)].toDF("old_label", "new_label"))
    }

    // ---- commit (clusters LAST) ----
    // one write per table: the row counts are the stage jobs'. An
    // increment's tables are written coalesced to the batch's partition
    // count (the new↔old probes otherwise write one file per old partition)
    dir.foreach(d => withStage(sc, s"$tag:commit") {
      pending.foreach { case (name, ds) => TableIO.write(ds.coalesce(parts).toDF(), s"$d/$name") }
      metrics ++= Metrics.perPartition("tokens", tokCounts)
      metrics ++= Metrics.perPartition("edges", edgeCounts)
      TableIO.write(metrics.toSeq.toDS().toDF(), s"$d/metrics")
      TableIO.write(clusters.toDF(), s"$d/clusters")
    })
    // edges and clusters are materialized, so the token cache has no
    // consumer left; checkpointed blocks go with the ContextCleaner
    if (fresh) toks.unpersist()
    IncrementalResult(clusters, allEdges, mergedLabels, metrics.toSeq)
  }
}
