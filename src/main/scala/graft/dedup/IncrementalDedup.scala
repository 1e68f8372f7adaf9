package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.data.Clip
import graft.kernel.{Doc, Hashing, MatchResult, Matcher, SuffixIndex}

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
  *  - new batch: tokenize (narrow, one job that also sizes it), then ONE
  *    collect + broadcast of its token rows with their shingle, band and
  *    tiny-row postings — the reference's shared read-only index
  *    (cli/src/FuzzyMatch-cli.cc:82-193), batch-sized. A batch past the
  *    broadcast envelope fails loudly (ingest smaller batches);
  *  - new↔new: each batch row queries the executor index, as the
  *    broadcast full pipeline does;
  *  - new↔old: ONE narrow scan of the accumulated old token rows, each row
  *    matched against the batch in both orientations ([[probeOld]]) — no
  *    candidate or verify shuffle, no old row ever leaves its partition;
  *  - CC runs on the contracted touched subgraph (new ids + touched old
  *    labels); the updated assignment is an O(old) narrow rewrite
  *    (broadcast remap join — merges are tiny), the same column-stitch cost
  *    the full pipeline pays to write its clusters table.
  *
  * Equality caveats, stated honestly:
  *  - only BATCH-side buckets are capped (`shingleDfCap` / `bandDfCap` over
  *    the batch's own dfs), and only for candidates whose pattern is the
  *    batch row; an old row touching a capped shingle bucket falls back to
  *    the batch's uncapped band buckets. The old side is never capped and
  *    an old-row pattern is matched exactly, so every edge the shuffle
  *    channels would find is found, the `capped_*` metric extras count
  *    every capped bucket, and with caps inactive the new-incident edges
  *    equal the exact broadcast full run's (pinned by IncrementalDedupSpec);
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

  /** The batch broadcast's key postings (positions into the batch rows):
    * every k-shingle bucket, the MinHash band buckets (channel on) and the
    * tiny rows (fewer than k tokens). A bucket past its cap — `shCap` /
    * `bandCap`, AUTO caps resolved over the batch's own bucket dfs — gives
    * no batch-pattern candidates; a capped shingle bucket still passes the
    * key test. */
  private final case class BatchKeys(shingles: java.util.HashMap[Long, Array[Int]], shCap: Int,
      bands: java.util.HashMap[Long, Array[Int]], bandCap: Int, tiny: Array[Int],
      cappedShingle: Long, cappedBand: Long)

  private def batchKeys(rows: Array[TokRow], cfg: DedupConfig): BatchKeys = {
    val k = cfg.shingleK
    val (sh, shCap, nSh) = buckets(rows.map(r =>
      if (r.n_tokens >= k) Hashing.distinctShingles(r.ids, k) else Array.emptyLongArray), cfg.shingleDfCap)
    val (bd, bandCap, nBd) =
      buckets(if (cfg.useMinhashChannel) rows.map(bandKeys(_, cfg)) else Array.empty, cfg.bandDfCap)
    BatchKeys(sh, shCap, bd, bandCap, rows.indices.filter(rows(_).n_tokens < k).toArray, nSh, nBd)
  }

  /** Uncapped postings of `keys`, the resolved cap (AUTO, `cap` ≤ 0: the
    * knee rule of [[CandidateStage.dropHotBuckets]] over these buckets) and
    * the number of buckets past it. */
  private def buckets(keys: Array[Array[Long]], cap: Int): (java.util.HashMap[Long, Array[Int]], Int, Long) = {
    val post = BroadcastCorpus.postings(keys, Int.MaxValue)._1
    val dfs = post.values.asScala.map(_.length.toLong).toSeq
    val eff = if (cap > 0) cap.toLong else {
      val budget = dfs.sum * (if (cap == 0) CandidateStage.autoCapDefaultWorkFactor else -cap.toLong)
      var work = 0L
      val fit = dfs.groupBy(identity).toSeq.sortBy(_._1)
        .takeWhile { case (df, b) => work += df * df * b.size; work <= budget }
      math.max(fit.lastOption.fold(0L)(_._1), CandidateStage.autoCapFloor.toLong)
    }
    (post, eff.min(Int.MaxValue).toInt, dfs.count(_ > eff).toLong)
  }

  private def bandKeys(t: TokRow, cfg: DedupConfig): Array[Long] = Hashing.bandKeys(
    SignatureStage.one(t, cfg.shingleK, cfg.minhashPerms, cfg.minhashBands, cfg.seed).band_hashes)

  /** The new↔old edges of one old row `o`, in both orientations
    * ([[CandidateStage.shorterFirst]] picks the pattern, as everywhere):
    *  - `o` the pattern: the matcher over the batch index — exact, the
    *    matcher is its own candidate filter — run when `o` is tiny or shares
    *    a batch shingle key (a dup of a pattern with ≥ k tokens shares a
    *    k-gram: msl ≥ minSubseqLength ≥ shingleK);
    *  - a batch row `s` the pattern: the rows sharing an uncapped shingle
    *    bucket with `o`, the tiny rows `o` contains and, when `o` touches a
    *    capped bucket, the rows sharing an uncapped band bucket with it, each
    *    verified against a one-row index over `o`. */
  private def probeOld(o: TokRow, index: SuffixIndex, docs: Array[Doc], rows: Array[TokRow],
      keys: BatchKeys, cfg: DedupConfig, params: Matcher.Params): Iterator[Edge] = {
    def edge(p: TokRow, c: String, m: MatchResult) =
      Edge(p.clip_id, c, m.score, m.maxSubseq, if (m.maxSubseq >= p.n_tokens) "substring" else "edit")
    val (k, ec, fuzzy) = (cfg.shingleK, cfg.editCosts, cfg.threshold)
    var keyHit = o.n_tokens < k
    var touchesCapped = false
    val cands = scala.collection.mutable.BitSet.empty
    if (!keyHit) Hashing.distinctShingles(o.ids, k).foreach { h =>
      val post = keys.shingles.get(h)
      if (post != null) {
        keyHit = true
        if (post.length > keys.shCap) touchesCapped = true else cands ++= post
      }
    }
    keys.tiny.foreach { t =>
      if (!SuffixIndex.theoreticalRejection(rows(t).n_tokens, o.n_tokens, ec, fuzzy) &&
          CandidateStage.containsSubsequence(o.ids, rows(t).ids)) cands += t
    }
    if (touchesCapped && !keys.bands.isEmpty) bandKeys(o, cfg).foreach { h =>
      val post = keys.bands.get(h)
      if (post != null && post.length <= keys.bandCap) cands ++= post
    }
    val oDoc = Doc(o.ids, o.reals, o.itoks)
    val asPattern = if (!keyHit) Nil else
      Matcher.matchPattern(index, docs, oDoc, params).collect {
        case m if CandidateStage.shorterFirst(o.n_tokens, o.clip_id,
            rows(m.sIdx).n_tokens, rows(m.sIdx).clip_id) => edge(o, rows(m.sIdx).clip_id, m)
      }
    val patterns = cands.toSeq.map(rows(_)).filter(s =>
      CandidateStage.shorterFirst(s.n_tokens, s.clip_id, o.n_tokens, o.clip_id) &&
        !SuffixIndex.theoreticalRejection(s.n_tokens, o.n_tokens, ec, fuzzy))
    val asCandidate = if (patterns.isEmpty) Nil else {
      val oIndex = new SuffixIndex
      oIndex.add(o.ids)
      oIndex.sort()
      patterns.flatMap(s => Matcher.matchPattern(oIndex, _ => oDoc, Doc(s.ids, s.reals, s.itoks), params)
        .map(edge(s, o.clip_id, _)))
    }
    (asPattern ++ asCandidate).iterator
  }

  /** Run one increment. `priorDirs`: the lineage chain (see object doc);
    * the LAST dir's `clusters` table is the current assignment. `outDir`:
    * where to commit this increment's state (None = return results without
    * committing — they are then this session's only copy). */
  def run(
      newClips: Dataset[Clip],
      priorDirs: Seq[String],
      cfg: DedupConfig,
      outDir: Option[String] = None): IncrementalResult = {
    val spark = newClips.sparkSession
    import spark.implicits._
    require(priorDirs.nonEmpty, "priorDirs must name at least the initial pipeline checkpoint")
    require(cfg.vocabIdfPenalty == 0f,
      "incremental dedup does not support idf weighting: the penalty needs " +
        "corpus-global document frequencies this path does not maintain — run the " +
        "full pipeline, or turn vocabIdfPenalty off")
    require(cfg.editCosts.insert == cfg.editCosts.delete,
      "incremental dedup requires symmetric insert/delete costs (the probe verifies " +
        "each pair in one orientation) — run the full pipeline")

    val metrics = scala.collection.mutable.ListBuffer.empty[MetricRow]
    val sc = spark.sparkContext
    // phase markers: every Spark job an increment fires carries its phase in
    // spark.job.description (Spark UI / listener per-phase job accounting)
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
    // both one-row prechecks cross-joined into ONE action
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

    // ---- stage 1: tokenize the batch (narrow) ----
    // O(new) intermediates are localCheckpoint'ed (lazily: the next action
    // materializes them), never persist'ed: a persisted plan over the whole
    // chain was re-optimized per query stage per action (measured 343 jobs /
    // 821 s of Catalyst CPU for a 300-clip batch). Partitioning is sized to
    // the BATCH (~4k rows each) by repartitioning the tokenize OUTPUT — a
    // coalesce would fuse upstream and funnel the source read through it.
    val batchParts = math.max(1L, math.min(nNew / 4096 + 1, newClips.rdd.getNumPartitions.toLong)).toInt
    var newToks: Dataset[TokRow] = null
    var batchBytes = 0L
    // one job: the row count and the batch broadcast's byte estimate
    val nNewToks = timed("inc_tokenize", nNew) {
      newToks = TokenizeStage(newClips, cfg).repartition(batchParts).localCheckpoint(false)
      val (n, bytes) = BroadcastCorpus.stats(newToks, TokenizeStage.rowBytes())
      batchBytes = bytes
      n
    }

    // ---- stage 2: audio channels (optional) — new-incident audio edges.
    // new↔new runs the batch operators verbatim on the batch; new↔old
    // probes the stored old fingerprints against a BATCH-SIZED broadcast
    // index (the scalable orientation: the broadcast side is the bounded
    // one, the old side is one narrow pruned fingerprint scan). Valve
    // caveat as for the transcript channels: the index caps see batch-side
    // chunk dfs, not the union's — two-sided divergence, capped + counted.
    var newFps: Dataset[AudioDedup.AudioFpRow] = null
    var newCtFps: Dataset[AudioContainment.AudioCtRow] = null
    var audioCk: Dataset[Edge] = null
    var nNewEdges = 0L
    if (cfg.useAudioChannel || cfg.useAudioContainment) {
      // the broadcast side is the batch: guarded before collect (one
      // distributed size agg), so an oversized batch never reaches the driver
      val remedy = "a smaller ingest batch, or the full pipeline with audio on"
      var audioE = spark.emptyDataset[Edge]
      val audioCapped = sc.longAccumulator("incAudioCappedBuckets")
      if (cfg.useAudioChannel) {
        newFps = phased("inc_audio")(AudioDedup.fingerprints(newClips).localCheckpoint(false))
        audioE = audioE.union(AudioDedup.pairs(newFps, cfg.audioMinCorr, cappedBuckets = audioCapped))
        val bc = phased("inc_audio")(BroadcastCorpus.broadcast(newFps, AudioDedup.fpBytes, cfg,
            "incremental audio channel batch", remedy) { rows =>
          val (idxMap, capped) =
            BroadcastCorpus.postings(rows.map(_.chunks), AudioDedup.defaultBucketCap)
          audioCapped.add(capped)
          (rows, idxMap)
        })
        val minCorr = cfg.audioMinCorr
        audioE = audioE.union(oldAudioFps.get.mapPartitions { it =>
          val (rs, ix) = bc.value
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
        val bc = phased("inc_audio")(BroadcastCorpus.broadcast(newCtFps, AudioContainment.fpBytes,
            cfg, "incremental audio containment batch", remedy) { rows =>
          val (idxMap, capped) = AudioContainment.buildPosIndex(rows, AudioContainment.defaultBucketCap)
          audioCapped.add(capped)
          (rows, idxMap)
        })
        val minCorr = cfg.audioContainMinCorr
        audioE = audioE.union(oldCtFps.get.mapPartitions { it =>
          val (rs, ix) = bc.value
          it.flatMap(f => AudioContainment.probePosIndex(f, rs, ix,
              AudioContainment.defaultMinVotes, AudioContainment.defaultInnerStride, minCorr)
            .map { case (ri, off, corr) => Edge(f.clip_id, rs(ri).clip_id, corr, off, "audio_contain") })
        })
      }
      nNewEdges += timed("inc_audio", nNew, Map("capped_audio_buckets" -> audioCapped.value.toString)) {
        audioCk = audioE.localCheckpoint(false)
        audioCk.count()
      }
    }

    // ---- stage 3: transcript edges — ONE narrow probe against a broadcast
    // of the batch (see the object doc), guarded by stage 1's stats; audio
    // runs first, so an audio batch past the envelope names its channel.
    BroadcastCorpus.requireFits(nNewToks, batchBytes, cfg, "incremental batch",
      "a smaller ingest batch, or the full pipeline")
    val bc = phased("inc_probe")(
      BroadcastCorpus.broadcastUnguarded(newToks)(rows => (rows, batchKeys(rows, cfg))))
    val rowsOf = (v: (Array[TokRow], BatchKeys)) => v._1
    val keys = bc.value._2
    val params = cfg.matchParams(numberOfMatches = 0, noPerfect = false)
    val newOld = oldToks.mapPartitions { it =>
      val (index, docs, rows, _) = BroadcastCorpus.indexFor(bc, needDf = false, rowsOf)
      it.flatMap(probeOld(_, index, docs, rows, bc.value._2, cfg, params))
    }
    var newEdges: Dataset[Edge] = null
    nNewEdges += timed("inc_probe", nNewToks, Map(
        "capped_shingle_buckets" -> keys.cappedShingle.toString,
        "capped_band_buckets" -> keys.cappedBand.toString)) {
      newEdges = BroadcastVerifyStage.edges(newToks, bc, rowsOf, cfg).union(newOld).localCheckpoint(false)
      newEdges.count()
    }
    if (audioCk != null) newEdges = newEdges.union(audioCk)

    // ---- stage 4: CC over the label-contracted touched subgraph ----
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
      graft.data.TableIO.write(SignatureStage(newToks, cfg).toDF(), s"$dir/new_signatures")
      if (newFps != null)
        graft.data.TableIO.write(newFps.toDF(), s"$dir/new_audio_fps")
      if (newCtFps != null)
        graft.data.TableIO.write(newCtFps.toDF(), s"$dir/new_audio_ct_fps")
      graft.data.TableIO.write(newEdges.coalesce(batchParts).toDF(), s"$dir/new_edges")
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

  /** The chain meta's (dir names, cfg hash), or None unless `raw` is a
    * COMPLETE meta (a torn write lacks the closing `]}`). */
  private def parseChain(raw: String): Option[(Seq[String], Int)] =
    for {
      dirs <- "\"dirs\":\\[([^\\]]*)\\]\\}\\s*$".r.findFirstMatchIn(raw)
      hash <- "\"cfg_hash\":(-?\\d+)".r.findFirstMatchIn(raw)
    } yield (dirs.group(1).split(',').toSeq.filter(_.nonEmpty)
      .map(_.trim.stripPrefix("\"").stripSuffix("\"")), hash.group(1).toInt)

  /** The committed pointer. [[writeChain]] deletes `chain.json` before it
    * renames the tmp over it, so a crash between the two leaves only a
    * complete tmp: that tmp IS the commit, and the rename is finished here. */
  private def pointer(spark: SparkSession, stateDir: String): Option[(Seq[String], Int)] = {
    val p = chainPathOf(stateDir)
    val tmp = p.suffix(".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parsed(f: org.apache.hadoop.fs.Path) = if (!fs.exists(f)) None else {
      val in = fs.open(f)
      try parseChain(scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).mkString)
      finally in.close()
    }
    if (fs.exists(p)) Some(parsed(p).getOrElse(sys.error(s"malformed chain meta at $p")))
    else parsed(tmp).map { chain =>
      require(fs.rename(tmp, p), s"could not roll the chain meta forward from $tmp")
      chain
    }
  }

  /** The chain meta: ordered increment-dir names (relative to the state
    * dir) and the config fingerprint they were built with. A pointer lost
    * over committed dirs fails loudly instead of reading as "no state". */
  def readChain(spark: SparkSession, stateDir: String): Option[(Seq[String], Int)] =
    pointer(spark, stateDir).orElse {
      val dir = new org.apache.hadoop.fs.Path(stateDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val orphans = if (!fs.exists(dir)) Nil else fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.matches("(full|inc|compact)_.*"))
        .map(_.getPath.getName)
      if (orphans.nonEmpty)
        throw new IllegalStateException(s"chain state at $stateDir holds committed dirs " +
          s"(${orphans.sorted.mkString(", ")}) but no chain.json — the pointer is lost; " +
          "restore it (or clear the state dir to re-bootstrap) rather than silently " +
          "restarting the chain from one batch")
      None
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
    val now = pointer(spark, stateDir).map(_._1)
    require(now == expectPrev,
      s"chain meta at $p changed underneath this writer (found $now, based on " +
        s"$expectPrev) — two ingest queries are sharing one state dir; " +
        "clusterIngest state is single-writer")
    val tmp = p.suffix(".tmp")
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
