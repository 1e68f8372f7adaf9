package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.data.Clip
import graft.dedup.{BroadcastCorpus, DedupConfig, Edge, SignatureStage, SigRow, TokenizeStage}
import graft.kernel.{Hashing, Matcher}
import graft.text.Tokenizer
import scala.collection.mutable.LongMap

/** Streaming facets of the dedup engine (Structured Streaming).
  *
  * The reference is strictly batch (its stdin loop is micro-batching,
  * /root/reference/cli/src/FuzzyMatch-cli.cc:112-193); these operators are
  * the incremental-ingest path a production corpus needs: signature
  * extraction on arrival, candidate generation against the existing corpus
  * via a stream-static band join, VERIFIED near-dup edges in-stream
  * ([[edgesAgainstCorpus]]), stateful exact dedup within the stream, and
  * streaming top-k retrieval against a static index. Every stream-static
  * operator serves its static side from ONE broadcast built by
  * [[graft.dedup.BroadcastCorpus]] (envelope guard, collect, the rows and
  * their driver-built index in one broadcast).
  */
object StreamingDedup {

  val clipSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Clip].schema

  /** Stateless per-clip tokenize + signatures — identical kernel as batch
    * stage 1, applied to a streaming Dataset (narrow, no state). */
  def signatures(clips: Dataset[Clip], cfg: DedupConfig): Dataset[SigRow] = {
    val spark = clips.sparkSession
    import spark.implicits._
    val pt = cfg.pt
    val maxTok = cfg.maxTokensInPattern
    val k = cfg.shingleK
    val perms = cfg.minhashPerms
    val bands = cfg.minhashBands
    val seed = cfg.seed
    clips.mapPartitions { it =>
      it.flatMap { c =>
        val ts = Tokenizer.tokenize(c.transcript, pt)
        if (ts.norm.isEmpty || ts.norm.length > maxTok) Iterator.empty
        else {
          val ids = Hashing.tokenIds(ts.norm)
          val sh = Hashing.distinctShingles(ids, k)
          val sig = Hashing.minhash(sh, perms, seed)
          Iterator.single(SigRow(c.clip_id, ts.norm.length,
            Hashing.bandHashes(sig, bands), Hashing.simhash(sh)))
        }
      }
    }
  }

  /** Candidate pairs of arriving clips against an existing (static) corpus:
    * explode band hashes on both sides, stream-static equi-join on the band
    * bucket, keep the length window (P5). Emits (stream_id, corpus_id). */
  def candidatesAgainstCorpus(
      streamSigs: Dataset[SigRow],
      corpusSigs: Dataset[SigRow],
      cfg: DedupConfig): DataFrame = {
    val s = streamSigs.toDF()
      .select(col("clip_id").as("stream_id"), col("n_tokens").as("stream_n"),
        posexplode(col("band_hashes")).as(Seq("band", "h")))
    val c = corpusSigs.toDF()
      .select(col("clip_id").as("corpus_id"), col("n_tokens").as("corpus_n"),
        posexplode(col("band_hashes")).as(Seq("band", "h")))
    s.join(c, Seq("band", "h"))
      .filter(col("stream_id") =!= col("corpus_id"))
      // P5 length window for unit costs: min/max length ratio must clear the threshold
      .filter(least(col("stream_n"), col("corpus_n")).cast("double") /
              greatest(col("stream_n"), col("corpus_n")) + lit(0.000005) >= cfg.threshold)
      .select("stream_id", "corpus_id").dropDuplicates()
  }

  private final case class SeenKey(fp: Long)

  /** Stateful exact dedup within the stream: key = 64-bit transcript
    * fingerprint; the FIRST clip per key passes, later arrivals are dropped
    * (flagged). Custom state via mapGroupsWithState (the engine's
    * KeyValueGroupedDataset state surface). */
  def firstOccurrence(clips: Dataset[Clip]): Dataset[(String, Long, Boolean)] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips
      .map(c => (Hashing.fnv1a64(c.transcript), c.clip_id))
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (fp: Long, rows: Iterator[(Long, String)], state: GroupState[String]) =>
          val first = rows.map(_._2).min
          if (state.exists) (state.get, fp, false) // duplicate of an earlier batch
          else { state.update(first); (first, fp, true) }
      }
  }

  /** Windowed ingest metrics with a watermark (the A6 counters as a
    * streaming rollup): clips and distinct-ish volume per 1-minute window. */
  def ingestMetrics(clipsWithTs: DataFrame): DataFrame =
    clipsWithTs
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("codec"))
      .agg(count(lit(1)).as("n_clips"), sum(length(col("transcript"))).as("chars"))

  /** Stream-static near-dup EDGE stream — the candidates channel
    * ([[candidatesAgainstCorpus]]) COMPLETED with in-stream verification:
    * arriving clips' MinHash band buckets probe the corpus band index (the
    * same LSH candidate semantics as the stream-static band join, hot
    * buckets capped at `bandDfCap` and counted), the P5 length window
    * prunes, and each surviving candidate set is verified by the reference
    * matcher kernel over a per-row suffix-array index (the VerifyStage
    * group kernel with a group per arriving row). Stateless and
    * shuffle-free per micro-batch — the corpus index is ONE broadcast
    * shared by every batch (append mode, no watermark), so the unbounded
    * axis is the stream, exactly the [[retrievalAgainstCorpus]] envelope;
    * a beyond-broadcast corpus takes the batch
    * [[graft.dedup.FuzzyRetrieval.topk]] with `strategy = "shuffle"` instead.
    * Emits [[graft.dedup.Edge]] rows with a = stream clip, b = corpus clip
    * (self-id pairs excluded, as in the candidates channel). Works on both
    * streaming and batch Datasets (narrow ops only), so stream-vs-batch
    * equality is testable on the same code path against the full-index
    * broadcast matcher. */
  def edgesAgainstCorpus(
      streamClips: Dataset[Clip],
      corpus: Dataset[Clip],
      cfg: DedupConfig,
      cappedBuckets: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Edge] = {
    val spark = corpus.sparkSession
    import spark.implicits._

    // static side, built once: tokenize + signatures run DISTRIBUTED
    // (SignatureStage, the batch stage-1 kernel) in ONE aligned pass of
    // (token row, signature) pairs; only those land on the driver, where the
    // band inverted index is assembled. The band index is keyed by ROW
    // POSITION, so duplicate clip_ids stay distinct index rows — both rows
    // indexed, both can match (the TM semantics of the batch broadcast
    // matcher; a clip_id-keyed map here would collapse duplicates and
    // silently drop their edges)
    val k = cfg.shingleK
    val perms = cfg.minhashPerms
    val bands = cfg.minhashBands
    val seed = cfg.seed
    val useIdf = cfg.vocabIdfPenalty != 0f
    val corpusPairs = TokenizeStage(corpus, cfg)
      .mapPartitions(it => it.map(t => (t, SignatureStage.one(t, k, perms, bands, seed))))
      .persist()
    val bc = BroadcastCorpus.broadcast(corpusPairs, TokenizeStage.rowBytes("_1."), cfg, "corpus",
        "FuzzyRetrieval.topk with strategy = \"shuffle\" (the batch path)") { collected =>
      val rows = collected.map(_._1)
      // hot-bucket valve, same discipline as every bucketed channel: a band
      // bucket above bandDfCap is dropped AND counted, never a linear scan
      // of the corpus per arriving clip
      val (bandMap, capped) =
        BroadcastCorpus.postings(collected.map(p => Hashing.bandKeys(p._2.band_hashes)), cfg.bandDfCap)
      cappedBuckets.foreach(_.add(capped))
      // idf penalty (A4): per-word corpus doc frequencies, built once on the
      // driver — pattern-side idf vectors are then per-arriving-clip
      // lookups, exactly FuzzyRetrieval.topk's semantics
      (rows, bandMap, if (useIdf) BroadcastCorpus.docFreq(rows) else LongMap.empty[Int])
    }
    corpusPairs.unpersist()

    val params = cfg.matchParams(numberOfMatches = 0, noPerfect = false)
    val pt = cfg.pt
    val fuzzy = cfg.threshold
    val ec = cfg.editCosts
    val maxTok = cfg.maxTokensInPattern
    val nCorpus = bc.value._1.length
    val idfMax = if (useIdf) math.log(nCorpus.toDouble).toFloat else 0.01f

    streamClips.mapPartitions { it =>
      val (corpusRows, bandIdx, df) = bc.value
      it.flatMap { c =>
        val ts = Tokenizer.tokenize(c.transcript, pt)
        if (ts.norm.isEmpty || ts.norm.length > maxTok) Iterator.empty
        else {
          val pids = Hashing.tokenIds(ts.norm)
          val pn = pids.length
          val sig = Hashing.minhash(Hashing.distinctShingles(pids, k), perms, seed)
          val cand = new java.util.LinkedHashSet[Integer]()
          Hashing.bandKeys(Hashing.bandHashes(sig, bands)).foreach { key =>
            val hit = bandIdx.get(key)
            if (hit != null) { var j = 0; while (j < hit.length) { cand.add(hit(j)); j += 1 } }
          }
          if (cand.isEmpty) Iterator.empty
          else {
            // P5 window (pattern = the arriving clip) + self-id exclusion,
            // then the reference kernel over a per-row candidate index
            val kept = new scala.collection.mutable.ArrayBuffer[Int](cand.size)
            cand.forEach { i =>
              val r = corpusRows(i)
              if (r.clip_id != c.clip_id &&
                  !graft.kernel.SuffixIndex.theoreticalRejection(pn, r.n_tokens, ec, fuzzy))
                kept += i
            }
            if (kept.isEmpty) Iterator.empty
            else {
              val (index, docs) = TokenizeStage.suffixIndex(kept.map(corpusRows).toArray)
              val pattern = graft.kernel.Doc(pids, ts.real, ts.itoks)
              // corpus-unknown pattern words carry 0 idf, the reference's
              // unknown-word default (fuzzy_match.cc:367-390)
              val idf = if (useIdf) BroadcastCorpus.idf(pids, df, nCorpus, unknown = 0f) else null
              Matcher.matchPattern(index, docs(_), pattern, params, idf, idfMax).iterator.map { m =>
                val kind = if (m.maxSubseq >= pn) "substring" else "edit"
                Edge(c.clip_id, corpusRows(kept(m.sIdx)).clip_id, m.score, m.maxSubseq, kind)
              }
            }
          }
        }
      }
    }
  }

  /** Stream-static AUDIO near-dup edge stream — [[edgesAgainstCorpus]]'s
    * payload-side counterpart: arriving clips' trim-invariant envelope
    * fingerprints ([[graft.dedup.AudioDedup]]) probe a driver-built chunk
    * inverted index over the static corpus (hot chunk buckets capped at
    * `bucketCap` AND counted — the shared valve discipline), the P5-style
    * active-frame-count window prunes both orientations, and survivors are
    * verified in-stream by the batch channel's exact gate (head Pearson ≥
    * `cfg.audioMinCorr` AND envelope agreement). Stateless and shuffle-free
    * per micro-batch; the corpus fingerprints are ONE broadcast shared by
    * every batch (append mode), so the unbounded axis is the stream.
    * Duplicate corpus clip_ids stay distinct index rows (TM semantics —
    * the index is keyed by row position). Emits [[graft.dedup.Edge]] rows
    * with a = stream clip, b = corpus clip, kind = "audio". Works on both
    * streaming and batch Datasets (narrow ops only), so stream-vs-batch
    * equality is testable on the same code path. */
  def audioEdgesAgainstCorpus(
      streamClips: Dataset[Clip],
      corpus: Dataset[Clip],
      cfg: DedupConfig,
      frameWindow: Double = graft.dedup.AudioDedup.defaultFrameWindow,
      bucketCap: Int = graft.dedup.AudioDedup.defaultBucketCap,
      cappedBuckets: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Edge] = {
    val spark = corpus.sparkSession
    import spark.implicits._

    // static side, built once: fingerprints run DISTRIBUTED (the batch
    // stage-1 kernel); only the bounded sketches land on the driver, where
    // the chunk inverted index is built, keyed by ROW POSITION; hot chunk
    // buckets dropped AND counted, never a linear corpus scan per clip
    // (shared kernel with IncrementalDedup's audio cross channel)
    val fps = graft.dedup.AudioDedup.fingerprints(corpus).persist()
    val bc = BroadcastCorpus.broadcast(fps, graft.dedup.AudioDedup.fpBytes, cfg,
        "corpus", "the batch AudioDedup.pairs channel") { rows =>
      val (chunkMap, capped) = BroadcastCorpus.postings(rows.map(_.chunks), bucketCap)
      cappedBuckets.foreach(_.add(capped))
      (rows, chunkMap)
    }
    fps.unpersist()
    val minCorr = cfg.audioMinCorr
    val fw = frameWindow

    streamClips.mapPartitions { it =>
      val (corpusRows, idx) = bc.value
      it.flatMap { c =>
        val f = graft.dedup.AudioDedup.fingerprintOne(c)
        graft.dedup.AudioDedup.probeChunkIndex(f, corpusRows, idx, minCorr, fw)
          .map { case (i, corr) => Edge(c.clip_id, corpusRows(i).clip_id, corr, 0, "audio") }
      }
    }
  }

  /** Stream-static AUDIO CONTAINMENT edge stream — [[audioEdgesAgainstCorpus]]
    * completed with the [[graft.dedup.AudioContainment]] semantics: an
    * arriving clip is matched as an EXCERPT inside a longer corpus recording
    * AND as a recording containing a corpus excerpt (both orientations; the
    * batch operator sees both sides in one table, a stream probe must check
    * each). Arriving clips' unsalted chunk hashes probe a driver-built
    * position-carrying inverted index over the static corpus fingerprints;
    * offset voting runs per arriving clip in a local map (real containment
    * concentrates hits on ONE offset); the surviving best offset per
    * (clip, corpus row, orientation) is verified by the batch channel's
    * [[graft.dedup.AudioContainment.verifyAt]] kernel — shared arithmetic,
    * so stream == batch is the same code, not a reimplementation. Stateless
    * and shuffle-free per micro-batch (append mode); the unbounded axis is
    * the stream. The hot-chunk valve sees CORPUS-side df only (the batch
    * valve sees the union's df — an arriving hot key can at most fan out to
    * `bucketCap` corpus rows here, so the bound still holds). Emits
    * [[graft.dedup.Edge]] rows with a = stream clip, b = corpus clip,
    * `lcs` = the voted offset in frames, kind = "audio_contain". */
  def audioContainmentAgainstCorpus(
      streamClips: Dataset[Clip],
      corpus: Dataset[Clip],
      cfg: DedupConfig,
      minVotes: Int = graft.dedup.AudioContainment.defaultMinVotes,
      innerStride: Int = graft.dedup.AudioContainment.defaultInnerStride,
      bucketCap: Int = graft.dedup.AudioContainment.defaultBucketCap,
      cappedBuckets: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Edge] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.dedup.AudioContainment

    // static side, built once: fingerprints run DISTRIBUTED; only the
    // bounded sketches land on the driver, where the chunk inverted index
    // carrying (row, position) is built; hot chunk keys dropped AND counted
    // — shared kernel with IncrementalDedup's audio containment cross channel
    val fps = AudioContainment.fingerprints(corpus).persist()
    val bc = BroadcastCorpus.broadcast(fps, AudioContainment.fpBytes, cfg,
        "corpus", "the batch AudioContainment.pairs channel") { rows =>
      val (chunkMap, capped) = AudioContainment.buildPosIndex(rows, bucketCap)
      cappedBuckets.foreach(_.add(capped))
      (rows, chunkMap)
    }
    fps.unpersist()
    val minCorr = cfg.audioContainMinCorr

    streamClips.mapPartitions { it =>
      val (corpusRows, idx) = bc.value
      it.flatMap { c =>
        val f = AudioContainment.one(c)
        AudioContainment.probePosIndex(f, corpusRows, idx, minVotes, innerStride, minCorr)
          .map { case (ri, off, corr) =>
            Edge(c.clip_id, corpusRows(ri).clip_id, corr, off, "audio_contain") }
      }
    }
  }

  /** Streaming top-k fuzzy retrieval: arriving query clips matched against
    * a STATIC indexed corpus — the reference's stdin match loop
    * (/root/reference/cli/src/FuzzyMatch-cli.cc:112-193) as a real stream.
    * Stateless: the corpus index is one broadcast shared by every
    * micro-batch, queries map through it with zero shuffle (append mode,
    * no watermark needed), so the unbounded axis is the query stream —
    * exactly the broadcast-path scale envelope of
    * [[graft.dedup.FuzzyRetrieval.topk]], which this delegates to with
    * `strategy = "broadcast"` (that path is streaming-safe: narrow
    * mapPartitions only; the shuffle path counts and persists its query
    * side, which a stream cannot do). A corpus past the envelope fails with
    * the envelope error. */
  def retrievalAgainstCorpus(
      queryStream: Dataset[Clip],
      corpus: Dataset[Clip],
      cfg: DedupConfig,
      numberOfMatches: Int = 5,
      noPerfect: Boolean = false): Dataset[graft.dedup.RetrievalRow] =
    graft.dedup.FuzzyRetrieval.topk(queryStream, corpus, cfg.copy(strategy = "broadcast"),
      numberOfMatches, noPerfect)

  /** Streaming eval-set decontamination — the hygiene operator on the
    * ingest path: every arriving clip is probed against the static eval
    * index with EXACTLY the batch
    * [[graft.dedup.FuzzyRetrieval.decontaminate]] predicate (fuzzy match ≥
    * `cfg.threshold`; verbatim containment via the J2 sweep when
    * `alsoContained`), and emitted tagged `(clip, contaminated)` so the
    * caller routes clean rows to the training sink and QUARANTINES flagged
    * ones — dropping them silently would hide the leakage the operator
    * exists to surface, so the tag is the API (flatten for an untyped sink
    * with `.select(col("_1.*"), col("_2").as("contaminated"))`). Stateless
    * and shuffle-free per micro-batch (append mode, no watermark): the eval
    * index is ONE broadcast built at stream definition under the same loud
    * hygiene contract as batch (any eval row dropped by the tokenize
    * filters fails the call), shared by every micro-batch — the unbounded
    * axis is the corpus stream, exactly the batch operator's scale shape
    * with the probe side streaming. `flaggedRows` /
    * `fuzzySkippedOverLength` count across batches (accumulators survive
    * the query's lifetime). Works on both streaming and batch Datasets
    * (narrow ops only), so stream-vs-batch equality is testable on the
    * same code path. */
  def decontaminateStream(
      streamClips: Dataset[Clip],
      evalSet: Dataset[Clip],
      cfg: DedupConfig,
      alsoContained: Boolean = false,
      fuzzySkippedOverLength: Option[org.apache.spark.util.LongAccumulator] = None,
      flaggedRows: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[(Clip, Boolean)] = {
    val spark = streamClips.sparkSession
    import spark.implicits._
    val flagFn = graft.dedup.FuzzyRetrieval
      .deconFlagger(evalSet, cfg, alsoContained, fuzzySkippedOverLength)
    streamClips.mapPartitions { it =>
      flagFn(it).map { case (c, f) =>
        if (f) flaggedRows.foreach(_.add(1))
        (c, f)
      }
    }
  }

  /** Streaming index maintenance: arriving clips are appended to a
    * persisted retrieval index per micro-batch
    * ([[graft.dedup.FuzzyRetrieval.appendIndex]] inside `foreachBatch`) —
    * the composition the reference cannot express at all (its index is
    * all-or-nothing: any insert costs a full O(N) re-sort,
    * /root/reference/src/suffix_array.cc:24). Each micro-batch lands as one
    * committed segment; match jobs pick up the new rows on their next
    * `loadIndex`. Delivery is the engine's at-least-once `foreachBatch`
    * contract: a batch retried after its meta commit appends its rows
    * twice — duplicate ids are tolerated by retrieval (reference TM
    * semantics: both rows indexed, both can match), and exact dedup of the
    * stream itself belongs upstream ([[firstOccurrence]]). The index must
    * already exist (saveIndex), so the config pin is enforced per batch.
    * Long-running streams auto-compact: past `compactAfterSegments`
    * committed segments the batch triggers
    * [[graft.dedup.FuzzyRetrieval.compactIndex]] — without it a 1-minute
    * batch interval grows 1,440 segments/day and `loadIndex` unions them
    * all. Compaction work is O(index), so the threshold amortizes it to
    * O(index/compactAfterSegments) per append on average. */
  def indexIngest(
      clips: Dataset[Clip],
      cfg: DedupConfig,
      indexDir: String,
      compactAfterSegments: Int = 16): org.apache.spark.sql.streaming.DataStreamWriter[Clip] =
    clips.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Clip], _: Long) =>
        if (!batch.isEmpty) {
          graft.dedup.FuzzyRetrieval.appendIndex(batch, cfg, indexDir)
          val m = graft.dedup.FuzzyRetrieval.readIndexMeta(batch.sparkSession, indexDir)
          if (m.segments > compactAfterSegments) {
            graft.dedup.FuzzyRetrieval.compactIndex(batch.sparkSession, cfg, indexDir)
            ()
          }
        }
      }

  /** Streaming CLUSTER maintenance: arriving clips are folded into a
    * persistent dedup cluster assignment per micro-batch
    * ([[graft.dedup.IncrementalDedup.ingestStep]] inside `foreachBatch`) —
    * continuous near-dup clustering of an unbounded ingest stream, the
    * clustering counterpart of [[indexIngest]] and a composition the
    * reference cannot express (its CLI emits per-query match decisions and
    * never maintains an assignment at all). The first non-empty batch
    * bootstraps the chain with a full [[graft.dedup.DedupPipeline.run]];
    * each later batch runs one O(new)-ish increment and commits an
    * immutable chain dir; past `compactAfterIncrements` dirs the chain is
    * compacted into one head. Delivery is the engine's at-least-once
    * `foreachBatch` contract made idempotent by the chain meta: a batch
    * replayed after its chain commit is skipped by batch id, one replayed
    * before it recomputes the same deterministic increment. Read the
    * live assignment with [[graft.dedup.IncrementalDedup.currentClusters]].
    * State is single-writer per `stateDir` (enforced best-effort at every
    * chain rewrite). */
  def clusterIngest(
      clips: Dataset[Clip],
      cfg: DedupConfig,
      stateDir: String,
      compactAfterIncrements: Int = 16): org.apache.spark.sql.streaming.DataStreamWriter[Clip] =
    clips.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Clip], batchId: Long) =>
        if (!batch.isEmpty) {
          graft.dedup.IncrementalDedup.ingestStep(
            batch, batchId, cfg, stateDir, compactAfterIncrements)
        }
      }

  /** End-to-end streaming signature extraction from a parquet directory
    * source to a sink table, used by tests and as the ingest-job template. */
  def runSignatureIngest(
      spark: SparkSession,
      inputDir: String,
      cfg: DedupConfig,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream.schema(clipSchema).parquet(inputDir).as[Clip]
    signatures(stream, cfg).writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .start()
  }
}
