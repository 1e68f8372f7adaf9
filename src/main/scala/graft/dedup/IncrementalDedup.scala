package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.Clip
import graft.kernel.Hashing

/** Result of one dedup increment. `clusters` is the FULL updated assignment
  * (prior corpus ∪ new batch); `newEdges` are the verified dup edges incident
  * to the new batch; `mergedLabels` the (old_label → new_label) remaps the
  * batch caused (tiny — merges only happen when a new clip bridges two
  * existing clusters). */
final case class IncrementalResult(
    clusters: Dataset[ClusterRow],
    newEdges: Dataset[Edge],
    mergedLabels: DataFrame,
    metrics: Seq[MetricRow])

/** Incremental dedup — cluster a NEW batch of clips against an existing
  * corpus + cluster assignment in O(new)-ish work, instead of re-running the
  * whole pipeline over 10^12 rows per ingest batch. The clustering analog of
  * [[FuzzyRetrieval.appendIndex]] (which fixed the same wall for retrieval:
  * the reference's index is all-or-nothing, any insert costs a full O(N)
  * re-sort, /root/reference/src/suffix_array.cc:24 — and its CLI has no
  * notion of updating previously emitted match decisions at all).
  *
  * Why this is sound: the full run's cluster partition over old ∪ new is the
  * connected components of oldEdges ∪ newIncidentEdges (old↔old edges are a
  * deterministic function of the unchanged old corpus at the same config).
  * The old components are already summarized by the existing labels — each
  * label IS the component's min clip_id — so contracting every old endpoint
  * to its label preserves both connectivity and the min-id cluster naming:
  * CC over the contracted new-incident edge set alone yields exactly the
  * full run's assignment for new clips, plus the label merges new bridges
  * cause. No old↔old work is ever repeated.
  *
  * Work accounting per increment (the 10^12-row case):
  *  - new batch: tokenize + signatures (narrow), candidate shuffles O(new
  *    entries);
  *  - old corpus: ONE narrow scan of the accumulated token/signature
  *    checkpoints — the bucket-key prefilter (below) keeps old rows out of
  *    every shuffle unless they share a shingle or band key with the batch;
  *  - verify runs ONLY on new-incident pairs; CC runs on the contracted
  *    touched subgraph (new ids + touched old labels);
  *  - the updated assignment is an O(old) narrow rewrite (broadcast remap
  *    join — merges are tiny), the same column-stitch cost the full pipeline
  *    pays to write its clusters table.
  *
  * Bucket-key prefilter: the batch's shingle and band keys are collected
  * (bounded by `prefilterMaxKeys`, sorted-array binary search on executors)
  * and old rows sharing none of them are dropped BEFORE entry generation —
  * a pair surfaced by the ngram/band channels shares a bucket key by
  * definition, so the filter loses nothing on those channels. The tiny
  * channels scan the full old token set narrowly (a containment host need
  * not share any k-shingle). Past the key bound the prefilter switches off
  * (full cross join, still correct) and says so in the metrics.
  *
  * Equality caveats, stated honestly:
  *  - hot-bucket caps see per-increment bucket views, not the accumulated
  *    corpus dfs, so capping decisions can differ from the full run in BOTH
  *    directions: a bucket the full run capped may survive here (extra
  *    recall), and a cross-channel bucket whose old-frontier side is hot may
  *    cap where the full run's smaller per-bucket df did not (lost recall).
  *    Measured at 120k+12k with default caps: 33,711 clusters incremental
  *    vs 33,709 full — 0.006% divergence, and the capped-bucket counters
  *    report every such decision. With caps inactive the results are
  *    IDENTICAL (pinned by IncrementalDedupSpec);
  *  - idf weighting and asymmetric insert/delete costs need corpus-global
  *    state this path does not maintain — rejected loudly;
  *  - the audio channels work incrementally through COMMITTED fingerprints
  *    (new↔new via the batch operators, new↔old by probing the stored old
  *    fingerprints against a batch-sized broadcast index — the shared
  *    streaming kernels with the roles swapped); a chain bootstrapped
  *    without them is rejected loudly up front, because fingerprints need
  *    the clip bytes, which committed state does not retain.
  *
  * State layout — immutable increments (lakehouse-snapshot style, the same
  * philosophy as Iceberg snapshots the TableIO facade maps to): `priorDirs`
  * is the lineage chain, head = a COMPLETED [[DedupPipeline.run]] checkpoint
  * dir (`tokens`, `clusters`, optionally `signatures`), tail = prior
  * increment output dirs in order. Each increment writes its own `outDir`
  * (`new_tokens`, `new_signatures`, `new_edges`, `metrics`, then `clusters`
  * LAST — the full updated assignment doubles as the commit marker). Prior
  * dirs are never mutated, so a crashed increment is re-run by overwriting
  * its outDir; compaction = re-running the full pipeline into a fresh head.
  */
object IncrementalDedup {

  /** Keys above this bound skip the prefilter (a sorted Array[Long] of 4M
    * keys ≈ 32 MB broadcast — past that, filtering costs more than it
    * saves and the plain cross join takes over). */
  val defaultPrefilterMaxKeys = 4000000

  private def readIf(spark: SparkSession, dir: String, names: String*): Option[DataFrame] =
    names.collectFirst {
      case n if graft.data.TableIO.exists(spark, s"$dir/$n") =>
        graft.data.TableIO.read(spark, s"$dir/$n")
    }

  /** Chain walk shared by every committed-table accumulator: per dir, read
    * the increment-segment table or the full-run table, failing loudly with
    * the given hint when neither exists. */
  private def accumulated(spark: SparkSession, priorDirs: Seq[String],
      newName: String, name: String, hint: String): Seq[DataFrame] =
    priorDirs.map { d =>
      readIf(spark, d, newName, name).getOrElse(
        sys.error(s"no committed $name table under $d — $hint"))
    }

  /** Accumulated token rows across the lineage chain. */
  def accumulatedToks(spark: SparkSession, priorDirs: Seq[String]): Dataset[TokRow] = {
    import spark.implicits._
    accumulated(spark, priorDirs, "new_tokens", "tokens",
      "head must be a completed DedupPipeline.run checkpoint dir, " +
        "tail entries completed IncrementalDedup outDirs")
      .map(_.as[TokRow]).reduce(_ union _)
  }

  /** Accumulated signatures; a dir without a signatures table (a
    * broadcast-strategy pipeline run never writes one) recomputes them from
    * its token segment — narrow, same kernel, deterministic. */
  def accumulatedSigs(spark: SparkSession, priorDirs: Seq[String],
      cfg: DedupConfig): Dataset[SigRow] = {
    import spark.implicits._
    priorDirs.map { d =>
      readIf(spark, d, "new_signatures", "signatures").map(_.as[SigRow]).getOrElse(
        SignatureStage(
          readIf(spark, d, "new_tokens", "tokens").getOrElse(
            sys.error(s"no committed tokens table under $d")).as[TokRow], cfg))
    }.reduce(_ union _)
  }

  /** Accumulated audio fingerprints across the chain. Unlike signatures
    * there is NO recompute fallback: fingerprints need the clip BYTES,
    * which committed state does not retain — a chain that wants the audio
    * channels must be bootstrapped with them ON. */
  def accumulatedAudioFps(spark: SparkSession, priorDirs: Seq[String]): Dataset[AudioDedup.AudioFpRow] = {
    import spark.implicits._
    accumulated(spark, priorDirs, "new_audio_fps", "audio_fps",
      "the audio channel needs fingerprints for every chain segment (committed " +
        "state does not retain clip bytes); bootstrap the chain with " +
        "useAudioChannel on, or run the full pipeline")
      .map(_.as[AudioDedup.AudioFpRow]).reduce(_ union _)
  }

  /** Accumulated containment fingerprints; same no-fallback contract. */
  def accumulatedAudioCtFps(spark: SparkSession, priorDirs: Seq[String]): Dataset[AudioContainment.AudioCtRow] = {
    import spark.implicits._
    accumulated(spark, priorDirs, "new_audio_ct_fps", "audio_ct_fps",
      "the audio containment channel needs fingerprints for every chain segment; " +
        "bootstrap the chain with useAudioContainment on, or run the full pipeline")
      .map(_.as[AudioContainment.AudioCtRow]).reduce(_ union _)
  }

  /** Run one increment. `priorDirs`: the lineage chain (see object doc);
    * the LAST dir's `clusters` table is the current assignment. `outDir`:
    * where to commit this increment's state (None = return results without
    * committing — they are then this session's only copy). */
  def run(
      newClips: Dataset[Clip],
      priorDirs: Seq[String],
      cfg: DedupConfig,
      outDir: Option[String] = None,
      prefilterMaxKeys: Int = defaultPrefilterMaxKeys): IncrementalResult = {
    val spark = newClips.sparkSession
    import spark.implicits._
    require(priorDirs.nonEmpty, "priorDirs must name at least the initial pipeline checkpoint")
    require(cfg.vocabIdfPenalty == 0f,
      "incremental dedup does not support idf weighting: the penalty needs " +
        "corpus-global document frequencies this path does not maintain — run the " +
        "full pipeline, or turn vocabIdfPenalty off")
    require(cfg.editCosts.insert == cfg.editCosts.delete,
      "incremental dedup requires symmetric insert/delete costs (the cross-table " +
        "candidate channels pre-reject one-sidedly) — run the full pipeline")
    // (audio channels supported since round 5 via committed fingerprints —
    // accumulatedAudioFps fails loudly when the chain lacks them)

    val metrics = scala.collection.mutable.ListBuffer.empty[MetricRow]
    val sc = spark.sparkContext
    // phase markers: every Spark job an increment fires carries its phase in
    // spark.job.description (Spark UI / listener attribution — an increment
    // is ~15 actions and the fixed per-job cost is its toy-scale floor, so
    // per-phase job accounting is the first thing a regression hunt needs)
    def phased[A](name: String)(body: => A): A = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"inc:$name")
      // restore the CALLER's description, not null — under foreachBatch the
      // streaming engine's batch attribution must survive this increment
      try body finally sc.setJobDescription(prev)
    }
    def timed(stage: String, rowsIn: => Long, extra: => Map[String, String] = Map.empty)(
        body: => Long): Long = phased(stage) {
      val t0 = System.nanoTime()
      val rowsOut = body
      metrics += MetricRow(stage, -1, rowsIn, rowsOut, (System.nanoTime() - t0) / 1000000L, extra)
      rowsOut
    }

    // the prior-state table reads start Spark jobs (parquet schema
    // inference), so they carry a phase label too
    val (priorClusters, oldToks, oldAudioFps, oldCtFps) = phased("prior_state") {
      val last = priorDirs.last
      val clusters = readIf(spark, last, "clusters").getOrElse(
        sys.error(s"no committed clusters table under $last — prior state incomplete")).as[ClusterRow]
      // constructing these validates the chain EAGERLY (readIf checks table
      // existence per dir), so a chain bootstrapped without the audio
      // channels fails here — before any batch work — not after verify
      (clusters, accumulatedToks(spark, priorDirs),
        if (cfg.useAudioChannel) Some(accumulatedAudioFps(spark, priorDirs)) else None,
        if (cfg.useAudioContainment) Some(accumulatedAudioCtFps(spark, priorDirs)) else None)
    }

    val newIds = newClips.select($"clip_id")
    // count(lit(1)) counts every row while count/count_distinct(col) skip
    // nulls — comparing all three keeps BOTH guards: a null clip_id and a
    // duplicate clip_id each fail loudly (a null key would otherwise flow
    // through the stages and silently vanish from the semi-joined assignment)
    // both prechecks in ONE action (r6 job-floor cut): the batch-id stats
    // agg and the prior-assignment collision count are independent one-row
    // aggregates, cross-joined so a single head() materializes both
    val (nNew, nNewNonNull, nNewDistinct, collisions) = phased("precheck") {
      val stats = newIds.agg(count(lit(1)), count($"clip_id"), count_distinct($"clip_id"))
      val coll = priorClusters.join(newIds, Seq("clip_id"), "left_semi")
        .agg(count(lit(1)))
      val r = stats.crossJoin(coll).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    require(nNewNonNull == nNew,
      s"${nNew - nNewNonNull} rows in the new batch have null clip_id — every row needs a key")
    require(nNewDistinct == nNew,
      "duplicate clip_ids within the new batch — clip ids must be unique")
    require(collisions == 0,
      s"$collisions new clip_ids already exist in the prior assignment — an increment " +
        "adds NEW rows; re-ingesting an id would leave two assignment rows for it")

    // ---- stage 1: tokenize + signatures on the batch (narrow) ----
    // Every O(new)-sized intermediate is localCheckpoint'ed (LAZILY — the
    // action that immediately follows each checkpoint materializes it, so
    // the eager variant's dedicated materialization job would be pure
    // overhead; r6), not
    // persist'ed: a persist keeps the full logical plan alive, and the
    // increment's plan unions channel trees over the whole lineage chain —
    // with AQE re-optimizing that tree once per query stage per action,
    // driver planning time dwarfed execution (measured: 343 jobs / 821 s of
    // single-threaded Catalyst CPU for a 300-clip batch). Checkpointing
    // truncates each stage's plan to a scan of the materialized rows; the
    // blocks are batch-sized, and the committed outDir tables are the
    // durable copy a production cluster would recover from.
    // batch-side partitioning sized to the BATCH, not the session default:
    // an O(new) path whose input arrives in cluster-sized partitioning
    // (e.g. a 2,400-row drop in 64 splits) otherwise schedules ~90 jobs of
    // near-empty tasks; ~4k rows per partition keeps checkpoint blocks
    // small while capping task churn. The resize is a repartition of the
    // TOKENIZE OUTPUT (token rows only), never a coalesce of the source:
    // coalesce is narrow and would fuse upstream, funneling the whole
    // source read — audio payload included — through batchParts tasks.
    val batchParts = math.max(1L, math.min(nNew / 4096 + 1, newClips.rdd.getNumPartitions.toLong)).toInt
    var newToks: Dataset[TokRow] = null
    val nNewToks = timed("inc_tokenize", nNew) {
      newToks = TokenizeStage(newClips, cfg).repartition(batchParts).localCheckpoint(false)
      newToks.count()
    }
    val newSigs = phased("signatures")(SignatureStage(newToks, cfg).localCheckpoint(false))

    // ---- bucket-key prefilter: the batch's shingle + band key sets ----
    val k = cfg.shingleK
    val seed = cfg.seed
    val perms = cfg.minhashPerms
    val bands = cfg.minhashBands
    // ONE tagged job for both key sets (was two actions — r6 job-floor cut):
    // shingle keys tagged 0, band keys tagged 1, distinct'd together. The
    // limit bounds the driver; a collect that HITS the limit may have
    // dropped keys of either side, so both sides then report incomplete
    // (prefilter off — always sound, the filter is an optimization).
    val (shKeys, bandKeys) = phased("prefilter_keys") {
      val keyLimit = 2 * (prefilterMaxKeys + 1)
      val tagged = newToks.filter(_.n_tokens >= k)
        .flatMap(t => Hashing.distinctShingles(t.ids, k).iterator.map(h => (0, h)))
        .union(newSigs.flatMap(s => s.band_hashes.iterator.zipWithIndex
          .map { case (h, bd) => (1, Hashing.mix64(h ^ (bd * 0x9e3779b97f4a7c15L))) }))
        .distinct().limit(keyLimit).collect()
      def side(tag: Int): Option[Array[Long]] = {
        if (tagged.length >= keyLimit) return None // possibly truncated
        val arr = tagged.collect { case (t, h) if t == tag => h }
        if (arr.length > prefilterMaxKeys) None
        else { java.util.Arrays.sort(arr); Some(arr) }
      }
      (side(0), side(1))
    }

    // frontier = old rows that can possibly pair with the batch through the
    // keyed channels; past the key bound the frontier is the whole old side.
    // PERSISTED (r6): the batched hot-key stats job and the channel's main
    // exchange each read the frontier — uncached, each read re-ran the full
    // old-side scan WITH the anyShingleIn sweep (the r5-measured dominant
    // candidate cost); the cache is frontier-sized (batch-incident old rows
    // only) and released after the candidate set materializes.
    val frontierToks = (shKeys match {
      case Some(keys) =>
        val bc = sc.broadcast(keys)
        oldToks.filter(t => t.n_tokens >= k && Hashing.anyShingleIn(t.ids, k, bc.value))
      case None => oldToks
    }).persist()
    lazy val oldSigs = accumulatedSigs(spark, priorDirs, cfg)
    var frontierSigsForced = false
    lazy val frontierSigs = {
      frontierSigsForced = true
      (bandKeys match {
        case Some(keys) =>
          val bc = sc.broadcast(keys)
          oldSigs.filter(_.band_hashes.iterator.zipWithIndex.exists { case (h, bd) =>
            java.util.Arrays.binarySearch(bc.value, Hashing.mix64(h ^ (bd * 0x9e3779b97f4a7c15L))) >= 0
          })
        case None => oldSigs
      }).persist()
    }

    // the batch's tiny-row count, computed ONCE and shared by the self tiny
    // channel and the new→old cross tiny channel
    val k2 = cfg.shingleK
    val nTinyNew = phased("inc_candidates")(newToks.filter(_.n_tokens < k2).count())

    // ---- stage 2a: new-incident candidates ----
    val cappedShingleBuckets = sc.longAccumulator("incCappedShingleBuckets")
    val cappedShinglePairs = sc.longAccumulator("incCappedShinglePairsLost")
    val cappedBandBuckets = sc.longAccumulator("incCappedBandBuckets")
    val cappedTinyGramBuckets = sc.longAccumulator("incCappedTinyGramBuckets")

    // new↔new: the pipeline's own self-join channels, restricted to the batch
    // (the batched hot-bucket stats job runs eagerly, inside this call)
    val selfCands = phased("inc_candidates")(CandidateStage(newToks, newSigs, cfg,
      cappedShingleBuckets, cappedShinglePairs, cappedBandBuckets, cappedTinyGramBuckets,
      knownTinyCount = nTinyNew))
    // new↔old: cross channels; the keyed ones probe only the frontier (with
    // fixed caps all four side valves share ONE batched hot-key stats job),
    // the tiny containment scans run against the FULL old side (both
    // directions — a tiny host shares no k-shingle or band with its
    // containee). Every channel's output carries both sides' token counts,
    // so orienting the pairs like the self-join channels (pattern = shorter
    // side — the laxer min-subsequence requirement; the symmetric-cost dup
    // decision is direction-free only under this orientation) is a pure
    // projection. The old→new tiny channel counts the old side eagerly, so
    // the whole construction runs under the phase label.
    val crossPairs = phased("inc_candidates")(CandidateStage.keyedPairs(newToks, newSigs,
      Some((frontierToks, () => frontierSigs)), cfg, cappedShingleBuckets, None,
      cappedBandBuckets) ++ Seq(
      CandidateStage.tinyPairs(newToks, oldToks, cfg, cappedTinyGramBuckets,
        selfDedup = false, knownTinyCount = nTinyNew),
      CandidateStage.tinyPairs(oldToks, newToks, cfg, cappedTinyGramBuckets, selfDedup = false)))
    val oriented = CandidateStage.oriented(crossPairs.reduce(_ union _))
      .select("p", "c").as[CandPair]
    var cands: Dataset[CandPair] = null
    val nCands = timed("inc_candidates", nNewToks, Map(
      "prefilter" -> (if (shKeys.isDefined && bandKeys.isDefined) "on" else "off"),
      "capped_shingle_buckets" -> cappedShingleBuckets.value.toString,
      "capped_band_buckets" -> cappedBandBuckets.value.toString,
      "capped_tiny_gram_buckets" -> cappedTinyGramBuckets.value.toString)) {
      cands = selfCands.union(oriented).dropDuplicates("p", "c").as[CandPair].localCheckpoint(false)
      val n = cands.count()
      // the checkpointed candidate set is the only consumer — release the
      // frontier caches rather than pinning one copy per increment
      frontierToks.unpersist()
      if (frontierSigsForced) frontierSigs.unpersist()
      n
    }

    // ---- stage 2b: verify — only the token rows the pairs touch shuffle ----
    val candIds = cands.select($"p".as("clip_id")).union(cands.select($"c".as("clip_id"))).distinct()
    val verifyToks = newToks.union(
      oldToks.join(candIds, Seq("clip_id"), "left_semi").as[TokRow])
    var newEdges: Dataset[Edge] = null
    var nNewEdges = 0L
    nNewEdges += timed("inc_verify", nCands) {
      newEdges = VerifyStage(verifyToks, cands, cfg).localCheckpoint(false)
      newEdges.count()
    }

    // ---- stage 2c: audio channels (optional) — new-incident audio edges.
    // new↔new runs the batch operators verbatim on the batch; new↔old
    // probes the stored old fingerprints against a BATCH-SIZED broadcast
    // index (the scalable orientation: the broadcast side is the bounded
    // one, the old side is one narrow pruned fingerprint scan). Valve
    // caveat as for the transcript channels: the index caps see batch-side
    // chunk dfs, not the union's — two-sided divergence, capped + counted.
    var newFps: Dataset[AudioDedup.AudioFpRow] = null
    var newCtFps: Dataset[AudioContainment.AudioCtRow] = null
    if (cfg.useAudioChannel || cfg.useAudioContainment) {
      def guardIndex(what: String, n: Long, bytes: Long): Unit = {
        require(n <= cfg.broadcastMaxRows && bytes <= cfg.broadcastMaxBytes,
          s"$what: batch has $n fingerprints / ~$bytes bytes, past the broadcast " +
            s"envelope (${cfg.broadcastMaxRows} rows / ${cfg.broadcastMaxBytes} bytes) — " +
            "split the ingest batch, or run the full pipeline with audio on")
      }
      var audioE = spark.emptyDataset[Edge]
      val audioCapped = sc.longAccumulator("incAudioCappedBuckets")
      if (cfg.useAudioChannel) {
        newFps = phased("inc_audio")(AudioDedup.fingerprints(newClips).localCheckpoint(false))
        audioE = audioE.union(AudioDedup.pairs(newFps, cfg.audioMinCorr, cappedBuckets = audioCapped))
        // guard BEFORE collect (distributed size agg) — the guard exists to
        // keep an oversized batch off the driver, so it must not need it there
        phased("inc_audio") {
          val est = newFps.select(coalesce(sum(
            size($"head") * 4 + size($"env") * 4 + size($"chunks") * 8 + 64), lit(0L)),
            count(lit(1))).head()
          guardIndex("incremental audio channel", est.getLong(1), est.getLong(0))
        }
        val rows = phased("inc_audio")(newFps.collect())
        val (idxMap, capped) = AudioDedup.buildChunkIndex(rows, AudioDedup.defaultBucketCap)
        audioCapped.add(capped)
        val bcR = sc.broadcast(rows)
        val bcI = sc.broadcast(idxMap)
        val minCorr = cfg.audioMinCorr
        audioE = audioE.union(oldAudioFps.get.mapPartitions { it =>
          val rs = bcR.value; val ix = bcI.value
          it.flatMap(f => AudioDedup.probeChunkIndex(f, rs, ix, minCorr, AudioDedup.defaultFrameWindow)
            .map { case (i, corr) => Edge(f.clip_id, rs(i).clip_id, corr, 0, "audio") })
        })
      }
      if (cfg.useAudioContainment) {
        newCtFps = phased("inc_audio")(AudioContainment.fingerprints(newClips).localCheckpoint(false))
        audioE = audioE.union(
          AudioContainment.pairs(newCtFps, minCorr = cfg.audioContainMinCorr,
              cappedBuckets = audioCapped)
            .select($"inner".as("a"), $"outer".as("b"), $"corr".as("score"),
              lit(0).as("lcs"), lit("audio_contain").as("kind")).as[Edge])
        phased("inc_audio") {
          val est = newCtFps.select(coalesce(sum(
            size($"head") * 4 + size($"renv") * 4 + size($"keys") * 8 +
              size($"poss") * 4 + 64), lit(0L)),
            count(lit(1))).head()
          guardIndex("incremental audio containment channel", est.getLong(1), est.getLong(0))
        }
        val rows = phased("inc_audio")(newCtFps.collect())
        val (idxMap, capped) = AudioContainment.buildPosIndex(rows, AudioContainment.defaultBucketCap)
        audioCapped.add(capped)
        val bcR = sc.broadcast(rows)
        val bcI = sc.broadcast(idxMap)
        val minCorr = cfg.audioContainMinCorr
        audioE = audioE.union(oldCtFps.get.mapPartitions { it =>
          val rs = bcR.value; val ix = bcI.value
          it.flatMap(f => AudioContainment.probePosIndex(f, rs, ix,
              AudioContainment.defaultMinVotes, AudioContainment.defaultInnerStride, minCorr)
            .map { case (ri, off, corr) => Edge(f.clip_id, rs(ri).clip_id, corr, off, "audio_contain") })
        })
      }
      var audioCk: Dataset[Edge] = null
      nNewEdges += timed("inc_audio", nNew, Map("capped_audio_buckets" -> audioCapped.value.toString)) {
        audioCk = audioE.localCheckpoint(false)
        audioCk.count()
      }
      newEdges = newEdges.union(audioCk)
    }

    // ---- stage 3: CC over the label-contracted touched subgraph ----
    // old endpoints collapse to their existing labels (label = the old
    // component's min clip_id, so min-id naming survives contraction)
    val endpoints = newEdges.select($"a".as("clip_id")).union(newEdges.select($"b".as("clip_id"))).distinct()
    val touched = phased("touched_labels")(
      priorClusters.join(endpoints, Seq("clip_id"), "left_semi").localCheckpoint(false))
    val aMap = touched.toDF("a", "a_label")
    val bMap = touched.toDF("b", "b_label")
    val contracted = newEdges.toDF()
      .join(aMap, Seq("a"), "left")
      .join(bMap, Seq("b"), "left")
      .select(
        coalesce($"a_label", $"a").as("a"), coalesce($"b_label", $"b").as("b"),
        $"score", $"lcs", $"kind")
      .as[Edge]
    val touchedLabels = touched.select($"cluster_id".as("clip_id")).distinct()
    val vertexUniverse = newIds.union(touchedLabels).distinct()
    var sub: Dataset[ClusterRow] = null
    timed("inc_cluster", nNew) {
      // contracted has exactly newEdges' cardinality (the label attach is a
      // per-key-unique left join), so CC skips its own edge-count job
      sub = ConnectedComponents(contracted, vertexUniverse.toDF(),
        cfg.ccMaxIterations, cfg.ccLocalEdgeCap, knownEdgeCount = nNewEdges).localCheckpoint(false)
      sub.count()
    }

    // label remaps: a touched old label whose contracted component found a
    // smaller min (a new clip's id, or another old label it merged with)
    val mergedLabels = sub.toDF()
      .join(touchedLabels.toDF("clip_id"), Seq("clip_id"), "left_semi")
      .filter($"cluster_id" =!= $"clip_id")
      .select($"clip_id".as("old_label"), $"cluster_id".as("new_label"))
    val mergedLabelsCk = phased("merged_labels")(mergedLabels.localCheckpoint(false)) // tiny: merges only
    val newAssignments = sub
      .join(newIds, Seq("clip_id"), "left_semi").as[ClusterRow]
    val updatedOld = priorClusters.toDF()
      .join(broadcast(mergedLabelsCk), priorClusters("cluster_id") === mergedLabelsCk("old_label"), "left")
      .select($"clip_id", coalesce($"new_label", $"cluster_id").as("cluster_id"))
      .as[ClusterRow]
    val clusters = updatedOld.union(newAssignments)

    // ---- commit (immutable increment dir; clusters written LAST) ----
    outDir.foreach(dir => phased("commit") {
      graft.data.TableIO.write(newToks.toDF(), s"$dir/new_tokens")
      graft.data.TableIO.write(newSigs.toDF(), s"$dir/new_signatures")
      if (newFps != null)
        graft.data.TableIO.write(newFps.toDF(), s"$dir/new_audio_fps")
      if (newCtFps != null)
        graft.data.TableIO.write(newCtFps.toDF(), s"$dir/new_audio_ct_fps")
      graft.data.TableIO.write(newEdges.toDF(), s"$dir/new_edges")
      metrics ++= Metrics.perPartition("new_tokens", newToks)
      metrics ++= Metrics.perPartition("new_edges", newEdges)
      graft.data.TableIO.write(metrics.toSeq.toDS().toDF(), s"$dir/metrics")
      graft.data.TableIO.write(clusters.toDF(), s"$dir/clusters")
    })
    // no unpersists: the checkpointed blocks back the returned datasets and
    // are batch-sized; the ContextCleaner reclaims them once unreferenced
    IncrementalResult(clusters, newEdges, mergedLabelsCk, metrics.toSeq)
  }

  // ---------------------------------------------------------------------
  // Chain compaction + streaming-ingest state
  // ---------------------------------------------------------------------

  /** Merge a completed increment chain into ONE head dir shaped like a full
    * [[DedupPipeline.run]] checkpoint (`tokens`, `signatures`, `clusters`) —
    * the clustering analog of [[FuzzyRetrieval.compactIndex]]. Purely
    * mechanical (narrow union reads + writes, no kernel recomputation): the
    * chain's accumulated token/signature segments hold exactly the rows a
    * fresh head would, and the last dir's `clusters` IS the current
    * assignment. Without this a long-running [[ingestStep]] chain grows one
    * dir per batch forever and [[accumulatedToks]] unions them all.
    * Crash-safe: `clusters` is written LAST (the commit-marker convention),
    * so a killed compaction leaves an ignorable orphan dir; the caller
    * swaps the chain pointer only after this returns. */
  def compact(spark: SparkSession, priorDirs: Seq[String], cfg: DedupConfig,
      outDir: String): Unit = {
    require(priorDirs.nonEmpty, "nothing to compact")
    val clusters = readIf(spark, priorDirs.last, "clusters").getOrElse(
      sys.error(s"no committed clusters table under ${priorDirs.last} — chain incomplete"))
    graft.data.TableIO.write(accumulatedToks(spark, priorDirs).toDF(), s"$outDir/tokens")
    graft.data.TableIO.write(accumulatedSigs(spark, priorDirs, cfg).toDF(), s"$outDir/signatures")
    // carry the audio fingerprints through (they cannot be recomputed —
    // committed state has no clip bytes); presence keyed off the head dir
    if (readIf(spark, priorDirs.head, "new_audio_fps", "audio_fps").isDefined)
      graft.data.TableIO.write(accumulatedAudioFps(spark, priorDirs).toDF(), s"$outDir/audio_fps")
    if (readIf(spark, priorDirs.head, "new_audio_ct_fps", "audio_ct_fps").isDefined)
      graft.data.TableIO.write(accumulatedAudioCtFps(spark, priorDirs).toDF(), s"$outDir/audio_ct_fps")
    graft.data.TableIO.write(clusters, s"$outDir/clusters")
  }

  private def chainPathOf(stateDir: String) =
    new org.apache.hadoop.fs.Path(stateDir, "chain.json")

  /** Parse the chain meta: the ordered increment-dir names (relative to the
    * state dir) plus the config fingerprint they were built with. */
  def readChain(spark: SparkSession, stateDir: String): Option[(Seq[String], Int)] = {
    val p = chainPathOf(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw =
        try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).mkString
        finally in.close()
      val names = "\"dirs\":\\[([^\\]]*)\\]".r.findFirstMatchIn(raw)
        .getOrElse(sys.error(s"malformed chain meta at $p: $raw"))
        .group(1).split(',').toSeq.filter(_.nonEmpty).map(_.trim.stripPrefix("\"").stripSuffix("\""))
      val cfgHash = "\"cfg_hash\":(-?\\d+)".r.findFirstMatchIn(raw)
        .getOrElse(sys.error(s"malformed chain meta at $p: $raw")).group(1).toInt
      Some((names, cfgHash))
    }
  }

  /** Commit the chain pointer via temp + atomic rename. `expectPrev` is a
    * best-effort lost-update guard for the documented single-writer
    * contract: the meta is re-read immediately before the rename and a
    * mismatch with the state this writer based its work on fails LOUDLY
    * (a second concurrent ingest query on the same state dir) instead of
    * silently orphaning its increments. No lock file on purpose — crash
    * recovery (stream restart from checkpoint) must never require manual
    * lock removal. */
  def writeChain(spark: SparkSession, stateDir: String, names: Seq[String],
      cfg: DedupConfig, expectPrev: Option[Seq[String]]): Unit = {
    val p = chainPathOf(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = readChain(spark, stateDir).map(_._1)
    require(now == expectPrev,
      s"chain meta at $p changed underneath this writer (found $now, based on " +
        s"$expectPrev) — two ingest queries are sharing one state dir; " +
        "clusterIngest state is single-writer")
    val tmp = new org.apache.hadoop.fs.Path(stateDir, "chain.json.tmp")
    val meta = s"""{"version":1,"cfg_hash":${cfgFingerprint(cfg)},""" +
      s""""dirs":[${names.map(n => "\"" + n + "\"").mkString(",")}]}"""
    val out = fs.create(tmp, true)
    try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"could not commit chain meta at $p")
  }

  /** Match-semantics + candidate-generation fields that must agree across
    * every batch of a chain (the reference's same-config-to-index-and-match
    * rule, README.md:18). Execution knobs (partitions, caps, strategy) may
    * differ run to run. */
  private def cfgFingerprint(cfg: DedupConfig): Int =
    ((cfg.threshold, cfg.minSubseqLength, cfg.minSubseqRatio, cfg.pt,
      cfg.maxTokensInPattern, cfg.editCosts, cfg.vocabIdfPenalty, cfg.shingleK,
      cfg.minhashPerms, cfg.minhashBands, cfg.seed),
      // EVERY channel toggle changes which edges exist, so a chain must not
      // mix channel-on and channel-off batches (or thresholds) silently.
      // (Changing this tuple invalidates pre-existing chain meta hashes —
      // the documented recovery is re-bootstrapping into a fresh state dir.)
      (cfg.useNgramChannel, cfg.useMinhashChannel,
        cfg.useAudioChannel, cfg.audioMinCorr, cfg.useAudioContainment,
        cfg.audioContainMinCorr)).hashCode()

  /** One at-least-once ingest step over `batch`: bootstrap the chain with a
    * full pipeline run on the first batch, increment on later ones, skip
    * replayed batch ids (idempotent past the chain commit), and compact
    * once the chain outgrows `compactAfterIncrements`. Shared by
    * [[graft.streaming.StreamingDedup.clusterIngest]] and any batch driver
    * looping over periodic drops. Crash windows: a dir committed but not
    * yet in the chain is recomputed (deterministic, overwrite); a compaction
    * committed but not yet swapped in re-triggers on the next step; orphan
    * dirs from either window are never read. */
  def ingestStep(batch: Dataset[Clip], batchId: Long, cfg: DedupConfig,
      stateDir: String, compactAfterIncrements: Int = 16): Unit = {
    val spark = batch.sparkSession
    readChain(spark, stateDir) match {
      case None =>
        val name = s"full_$batchId"
        DedupPipeline.run(batch, cfg, Some(s"$stateDir/$name"))
        writeChain(spark, stateDir, Seq(name), cfg, expectPrev = None)
      case Some((names, storedHash)) =>
        require(storedHash == cfgFingerprint(cfg),
          s"config mismatch against chain state at $stateDir: the chain was built " +
            "with different match semantics (threshold/costs/shingle/signature " +
            "config) — an increment under a new config would mix incomparable " +
            "decisions; re-bootstrap into a fresh state dir instead")
        var chain = names
        if (!chain.exists(_.endsWith(s"_$batchId"))) {
          val name = s"inc_$batchId"
          run(batch, chain.map(n => s"$stateDir/$n"), cfg, Some(s"$stateDir/$name"))
          chain = chain :+ name
          writeChain(spark, stateDir, chain, cfg, expectPrev = Some(names))
        }
        if (chain.size > compactAfterIncrements) {
          val cname = s"compact_$batchId"
          compact(spark, chain.map(n => s"$stateDir/$n"), cfg, s"$stateDir/$cname")
          writeChain(spark, stateDir, Seq(cname), cfg, expectPrev = Some(chain))
        }
    }
  }

  /** The chain's current full cluster assignment (the last committed dir's
    * `clusters` table). */
  def currentClusters(spark: SparkSession, stateDir: String): Dataset[ClusterRow] = {
    import spark.implicits._
    val (names, _) = readChain(spark, stateDir).getOrElse(
      sys.error(s"no chain state at $stateDir — nothing ingested yet"))
    readIf(spark, s"$stateDir/${names.last}", "clusters").getOrElse(
      sys.error(s"chain state at $stateDir names ${names.last} but its clusters " +
        "table is missing — state corrupted")).as[ClusterRow]
  }
}
