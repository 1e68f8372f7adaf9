package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import scala.jdk.CollectionConverters._
import graft.data.{Clip, TableIO}
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

/** Incremental dedup — cluster a NEW batch against an existing corpus +
  * cluster assignment in O(new)-ish work instead of re-running the whole
  * pipeline per ingest batch (the clustering analog of
  * [[FuzzyRetrieval.appendIndex]]; the reference re-sorts its whole index
  * per insert, src/suffix_array.cc:24). An increment is [[DedupPipeline]]'s
  * stage sequence over the state its chain holds.
  *
  * Sound because the full run's clusters over old ∪ new are the components
  * of oldEdges ∪ newIncidentEdges, and each committed label IS its old
  * component's min clip_id: contracting old endpoints to their labels keeps
  * connectivity and min-id naming, so CC over the contracted new-incident
  * edges alone gives the full run's assignment plus the label merges.
  *
  * Work per increment: the chain's tables read typed (no job); a precheck
  * of the batch's ids (a collect and one narrow scan of the assignment) and
  * a tokenize job that also sizes the batch; ONE collect + broadcast of the
  * batch's token rows with their shingle, band and tiny-row postings (the
  * reference's shared read-only index, batch-sized; a batch past the
  * envelope fails loudly); new↔new through the executor index; new↔old as
  * ONE narrow scan of the old token rows, each matched against the batch in
  * both orientations ([[probeOld]]), so no row shuffles (the audio channels
  * likewise probe the committed fingerprints against a batch-sized
  * broadcast); CC on the contracted touched subgraph — below
  * `ccLocalEdgeCap` on the driver, after one collect of the edges' endpoints
  * and one narrow lookup of their committed labels; an O(old) narrow label
  * rewrite, written with the other tables in one job per table.
  *
  * Equality caveats: only BATCH-side buckets are capped (`shingleDfCap` /
  * `bandDfCap` over the batch's dfs, counted in the `capped_*` metric
  * extras), and only for batch-row patterns — an old row touching a capped
  * shingle bucket falls back to the uncapped band buckets, an old-row
  * pattern is matched exactly — so with caps inactive the new-incident edges
  * equal the exact broadcast full run's. idf weighting, asymmetric costs and
  * audio channels a chain was not bootstrapped with are rejected loudly.
  *
  * State layout — immutable dirs: `priorDirs` is the lineage chain, head = a
  * [[DedupPipeline.run]] dir or a [[compact]]ion, tail = increment dirs in
  * order. Every dir has the stage sequence's one layout (`tokens`, `edges`,
  * `metrics`, the fingerprint tables of each audio channel on, `clusters`
  * LAST — the assignment so far, doubling as the commit marker). The chain
  * carries `tokens` and the fingerprints forward; dirs of the earlier layout
  * name them `new_*`, and both are read. Prior dirs are never mutated, so a
  * crashed increment is re-run by overwriting its outDir.
  */
object IncrementalDedup {

  /** The first committed table of `names` under `dir`, read typed: no job. */
  private def readIf[T: Encoder](spark: SparkSession, dir: String, names: String*): Option[Dataset[T]] =
    names.collectFirst {
      case n if TableIO.exists(spark, s"$dir/$n") => TableIO.readAs[T](spark, s"$dir/$n")
    }

  /** The tables a chain carries forward, with the fix for a dir lacking one
    * (committed state holds no clip bytes to fingerprint). */
  private val carried = Seq(
    "tokens" -> "head must be a completed DedupPipeline.run dir, tail completed increment dirs",
    "audio_fps" -> "bootstrap the chain with useAudioChannel on, or run the full pipeline",
    "audio_ct_fps" -> "bootstrap the chain with useAudioContainment on, or run the full pipeline")

  /** A carried table accumulated across the chain (the pre-layout `new_*`
    * name is read too), failing loudly when a dir lacks it. */
  private def accumulated[T: Encoder](spark: SparkSession, priorDirs: Seq[String],
      name: String): Dataset[T] =
    priorDirs.map { d =>
      readIf[T](spark, d, name, s"new_$name").getOrElse(
        sys.error(s"no committed $name table under $d — ${carried.toMap.apply(name)}"))
    }.reduce(_ union _)

  /** [[accumulated]] for each carried table, read with its row type. */
  private def carriedTable(spark: SparkSession, priorDirs: Seq[String], name: String): DataFrame = {
    import spark.implicits._
    name match {
      case "tokens" => accumulated[TokRow](spark, priorDirs, name).toDF()
      case "audio_fps" => accumulated[AudioDedup.AudioFpRow](spark, priorDirs, name).toDF()
      case _ => accumulated[AudioContainment.AudioCtRow](spark, priorDirs, name).toDF()
    }
  }

  /** What an increment reads from its chain: the current assignment, the
    * accumulated token rows and the fingerprints of each audio channel on. */
  private[dedup] final case class Prior(clusters: Dataset[ClusterRow], toks: Dataset[TokRow],
      fps: Map[String, DataFrame])

  private[dedup] def priorState(spark: SparkSession, priorDirs: Seq[String], cfg: DedupConfig): Prior = {
    import spark.implicits._
    Prior(clusters(spark, priorDirs.last, "prior state incomplete"),
      accumulated[TokRow](spark, priorDirs, "tokens"),
      Seq(cfg.useAudioChannel -> "audio_fps", cfg.useAudioContainment -> "audio_ct_fps")
        .collect { case (true, t) => t -> carriedTable(spark, priorDirs, t) }.toMap)
  }

  /** The committed assignment of `dir`; `missing` says what its absence means. */
  private def clusters(spark: SparkSession, dir: String, missing: String): Dataset[ClusterRow] = {
    import spark.implicits._
    readIf[ClusterRow](spark, dir, "clusters").getOrElse(
      sys.error(s"no committed clusters table under $dir — $missing"))
  }

  /** The batch's clip ids, checked in two jobs: one collects them, and the
    * driver rejects null and duplicate ids; one narrow scan of the committed
    * assignment ([[committedLabels]]) rejects ids it already holds. A batch
    * whose ids pass `spark.driver.maxResultSize` fails in the collect; the
    * envelope check of its token rows comes later, before they are collected. */
  private[dedup] def precheck(clips: Dataset[Clip], priorClusters: Dataset[ClusterRow]): Array[String] = {
    import clips.sparkSession.implicits._
    val ids = clips.select($"clip_id").as[String].collect()
    val nulls = ids.count(_ == null)
    require(nulls == 0, s"$nulls rows in the new batch have null clip_id — every row needs a key")
    require(ids.distinct.length == ids.length,
      "duplicate clip_ids within the new batch — clip ids must be unique")
    val collisions = committedLabels(priorClusters, ids.toSet).size
    require(collisions == 0,
      s"$collisions new clip_ids already exist in the prior assignment — an increment " +
        "adds NEW rows; re-ingesting an id would leave two assignment rows for it")
    ids
  }

  /** The committed label of each of `ids` the assignment holds, in ONE
    * narrow scan filtered by a broadcast of `ids` (no job when it is empty). */
  private[dedup] def committedLabels(assignment: Dataset[ClusterRow],
      ids: Set[String]): Map[String, String] =
    if (ids.isEmpty) Map.empty else {
      val wanted = assignment.sparkSession.sparkContext.broadcast(ids)
      assignment.filter(r => wanted.value.contains(r.clip_id)).collect()
        .map(r => r.clip_id -> r.cluster_id).toMap
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
      val (oIndex, _) = TokenizeStage.suffixIndex(Array(o))
      patterns.flatMap(s => Matcher.matchPattern(oIndex, _ => oDoc, Doc(s.ids, s.reals, s.itoks), params)
        .map(edge(s, o.clip_id, _)))
    }
    (asPattern ++ asCandidate).iterator
  }

  /** The batch's transcript edges against itself and the old token rows:
    * the batch broadcast once with its key postings, new↔new through the
    * executor index, new↔old as one narrow pass over the old rows
    * ([[probeOld]]). Also the capped-bucket counts for the metric row. */
  private[dedup] def againstBatch(newToks: Dataset[TokRow], oldToks: Dataset[TokRow],
      cfg: DedupConfig): (Dataset[Edge], Map[String, String]) = {
    import newToks.sparkSession.implicits._
    val bc = BroadcastCorpus.broadcastUnguarded(newToks)(rows => (rows, batchKeys(rows, cfg)))
    val rowsOf = (v: (Array[TokRow], BatchKeys)) => v._1
    val keys = bc.value._2
    val params = cfg.matchParams(numberOfMatches = 0, noPerfect = false)
    val newOld = oldToks.mapPartitions { it =>
      val (index, docs, rows, _) = BroadcastCorpus.indexFor(bc, needDf = false, rowsOf)
      it.flatMap(probeOld(_, index, docs, rows, bc.value._2, cfg, params))
    }
    (BroadcastVerifyStage.edges(newToks, bc, rowsOf, cfg).union(newOld),
      Map("capped_shingle_buckets" -> keys.cappedShingle.toString,
        "capped_band_buckets" -> keys.cappedBand.toString))
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
    require(priorDirs.nonEmpty, "priorDirs must name at least the initial pipeline checkpoint")
    require(cfg.vocabIdfPenalty == 0f, "incremental dedup does not support idf weighting: the " +
      "penalty needs corpus-global document frequencies — run the full pipeline, or turn " +
      "vocabIdfPenalty off")
    require(cfg.editCosts.insert == cfg.editCosts.delete, "incremental dedup requires symmetric " +
      "insert/delete costs (the probe verifies each pair in one orientation) — run the full pipeline")
    DedupPipeline.sequence(newClips, priorDirs, cfg, outDir)
  }

  /** Merge a completed chain into ONE head dir shaped like a full
    * [[DedupPipeline.run]] dir (the analog of [[FuzzyRetrieval.compactIndex]];
    * without it an [[ingestStep]] chain grows one dir per batch forever).
    * Purely mechanical: union reads + writes of the carried tables, and the
    * last dir's `clusters`, the current assignment, written LAST — a killed
    * compaction leaves an ignorable orphan dir, and the caller swaps the
    * chain pointer only after this returns. */
  def compact(spark: SparkSession, priorDirs: Seq[String], cfg: DedupConfig,
      outDir: String): Unit = graft.obs.JobLedger.withStage(spark.sparkContext, "inc:compact") {
    require(priorDirs.nonEmpty, "nothing to compact")
    val assignment = clusters(spark, priorDirs.last, "chain incomplete")
    // fingerprint tables are carried when the head has them (they cannot be
    // recomputed — committed state has no clip bytes)
    for ((name, _) <- carried if name == "tokens" ||
         Seq(name, s"new_$name").exists(n => TableIO.exists(spark, s"${priorDirs.head}/$n")))
      TableIO.write(carriedTable(spark, priorDirs, name), s"$outDir/$name")
    TableIO.write(assignment.toDF(), s"$outDir/clusters")
  }

  private def chainPathOf(stateDir: String) =
    new org.apache.hadoop.fs.Path(stateDir, "chain.json")

  /** The committed chain meta's (dir names, cfg hash), the tmp of a crash
    * in [[writeChain]]'s delete→rename window rolled forward. */
  private def pointer(spark: SparkSession, stateDir: String): Option[(Seq[String], Int)] =
    TableIO.readPointer(spark, chainPathOf(stateDir)).map { raw =>
      (for {
        dirs <- "\"dirs\":\\[([^\\]]*)\\]".r.findFirstMatchIn(raw)
        hash <- "\"cfg_hash\":(-?\\d+)".r.findFirstMatchIn(raw)
      } yield (dirs.group(1).split(',').toSeq.filter(_.nonEmpty)
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")), hash.group(1).toInt))
        .getOrElse(sys.error(s"malformed chain meta at ${chainPathOf(stateDir)}: $raw"))
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

  /** Commit the chain pointer. `expectPrev` is a best-effort lost-update
    * guard for the single-writer contract: the meta is re-read right before
    * the commit, and a mismatch (a second ingest query on the same state
    * dir) fails LOUDLY instead of orphaning increments. No lock file: crash
    * recovery (stream restart) must never need manual lock removal. */
  def writeChain(spark: SparkSession, stateDir: String, names: Seq[String],
      cfg: DedupConfig, expectPrev: Option[Seq[String]]): Unit = {
    val now = pointer(spark, stateDir).map(_._1)
    require(now == expectPrev,
      s"chain meta at ${chainPathOf(stateDir)} changed underneath this writer (found $now, " +
        s"based on $expectPrev) — two ingest queries are sharing one state dir; " +
        "clusterIngest state is single-writer")
    TableIO.writePointer(spark, chainPathOf(stateDir),
      s"""{"version":1,"cfg_hash":${cfgFingerprint(cfg)},""" +
        s""""dirs":[${names.map(n => "\"" + n + "\"").mkString(",")}]}""")
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
    val (names, _) = readChain(spark, stateDir).getOrElse(
      sys.error(s"no chain state at $stateDir — nothing ingested yet"))
    clusters(spark, s"$stateDir/${names.last}",
      s"chain state at $stateDir names ${names.last} but its clusters table is missing — state corrupted")
  }
}
