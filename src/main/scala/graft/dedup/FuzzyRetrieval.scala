package graft.dedup

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import graft.data.Clip
import graft.kernel.{Doc, Hashing, Matcher}
import graft.obs.JobLedger.withStage
import graft.text.Tokenizer

/** One top-k retrieval result row — the reference `Match` as a table
  * (/root/reference/include/fuzzy/fuzzy_match.hh:32-46): `rank` is the
  * emission order (1 = best; top-k heap order, or contrastive selection
  * order when reranking). */
final case class RetrievalRow(
    query_id: String, rank: Int, s_id: String, score: Double, max_subseq: Int)

/** Best-subsequence retrieval result — the reference `-a subseq` output
  * (/root/reference/src/fuzzy_match.cc:250-365): at most one row per query;
  * `subseq_surface` is the detokenized surface string of the matched span
  * (F8, fuzzy_match.cc:341-348). */
final case class SubseqRow(
    query_id: String, s_id: String, score: Double, max_subseq: Int, subseq_surface: String)

/** Distributed fuzzy retrieval — the reference's flagship user query
  * (`FuzzyMatch-cli -a match`, reference cli/src/FuzzyMatch-cli.cc:219-233
  * → src/fuzzy_match.cc:393-412) and its `-a subseq`
  * secondary query, plus eval-set decontamination: a query table probed
  * against an indexed corpus table, each query returning its top-n scored
  * matches with optional contrastive (MMR-style) rerank.
  *
  * One public entry per operation — [[topkIndexed]], [[subsequenceIndexed]]
  * and [[decontaminate]]; [[topk]] and [[subsequence]] tokenize a raw
  * corpus first — and each picks its path as the dedup pipeline does:
  * `cfg.strategy` forces one, and "auto" asks [[BroadcastCorpus.fits]] of
  * the index side's rows and estimated bytes ([[BroadcastCorpus.picksBroadcast]]).
  *
  *  - Broadcast path, the reference's own architecture: ONE suffix-array
  *    index over the corpus, shared read-only by every worker, queries
  *    processed independently (FuzzyMatch-cli.cc:82-193's thread pool
  *    becomes Spark map partitions over the query table — no shuffle at
  *    all; the only exchange is the corpus collect+broadcast).
  *    [[BroadcastCorpus]] owns the envelope guard, the broadcast (one per
  *    caller-cached corpus for as long as it stays cached, see
  *    [[topkIndexed]]) and the executor index, built once per executor JVM.
  *    The corpus must fit in executor memory (the reference's in-RAM `.fmi`
  *    index has the same condition — a translation memory of millions of
  *    segments fits comfortably); the QUERY side is unbounded: 10^12 query
  *    rows stream through partition-parallel with zero shuffle, the axis
  *    that actually grows in a training-data pipeline.
  *  - Shuffle path, for a corpus past the envelope: cross-table LSH /
  *    shingle candidate channels + the cogroup verify kernel, never holding
  *    the corpus in one place. Rank ties break by s_id there vs corpus
  *    insertion order in the broadcast path.
  *
  * The jobs an entry or index operation starts itself carry `retrieval:<op>`
  * labels; a caller's action on a returned lazy Dataset keeps its own.
  */
object FuzzyRetrieval {

  /** Run a retrieval call on the corpus's path: `broadcastPath` with the
    * served broadcast, or `shufflePath` with the corpus token rows and their
    * release. A corpus the caller has not cached is persisted here (the
    * decision's stats job fills the cache that the collect or the shuffle
    * path reads) and released when its path is done; a cache the caller
    * owns (a prebuilt index serving many match jobs) is never evicted. */
  private def onPath[T](corpusToks: Dataset[TokRow], cfg: DedupConfig)(
      shufflePath: (Dataset[TokRow], () => Unit) => T)(
      broadcastPath: Broadcast[Array[TokRow]] => T): T = {
    val owned = corpusToks.storageLevel == StorageLevel.NONE
    val cToks = if (owned) corpusToks.persist() else corpusToks
    val release: () => Unit = () => if (owned) cToks.unpersist()
    val bc = try BroadcastCorpus.served(cToks, cfg, cached = !owned)
      catch { case e: Throwable => release(); throw e }
    bc match {
      case Some(b) => release(); broadcastPath(b)
      case None => shufflePath(cToks, release)
    }
  }

  /** [[topkIndexed]] against a raw corpus, tokenized with the reference's
    * insert-side filters (P2/P3). */
  def topk(
      queries: Dataset[Clip],
      corpus: Dataset[Clip],
      cfg: DedupConfig,
      numberOfMatches: Int = 5,
      noPerfect: Boolean = false,
      contrastiveFactor: Float = 0f,
      contrastReduce: Matcher.ContrastReduce = Matcher.Mean,
      contrastBuffer: Int = -1,
      checkpointDir: Option[String] = None): Dataset[RetrievalRow] =
    topkIndexed(queries, TokenizeStage(corpus, cfg), cfg, numberOfMatches, noPerfect,
      contrastiveFactor, contrastReduce, contrastBuffer, checkpointDir)

  /** Top-k fuzzy match of every query row against a tokenized corpus (from
    * [[loadIndex]] or any TokRow dataset — repeated match jobs skip the
    * corpus TokenizeStage, the reference's index/match job split).
    *
    * Served-index contract (broadcast path): a caller-cached `corpusToks`
    * (`loadIndex(...).cache()`) is served as a SNAPSHOT — the first call
    * collects and broadcasts it, and every later call on the same cache
    * entry decides its path and reuses that broadcast and the executors'
    * index without a Spark job, so it runs only the query scan. `unpersist`
    * releases the snapshot: the next call on a re-cached corpus (e.g. after
    * [[appendIndex]]) indexes the new data. An uncached corpus is collected
    * and broadcast per call.
    *
    * Shuffle path: candidate pairs come from the cross-table shingle +
    * MinHash LSH channels ([[CandidateStage.cross]], hot buckets capped AND
    * counted) and each query's candidate group is verified by the dedup
    * verify kernel ([[VerifyStage.scoreGroups]]). Every match ≥ threshold
    * is scored per candidate, then ranked by a `row_number` window per
    * query on (score desc, s_id asc), or, with λ > 0, by the reference's
    * exact MMR-style selection in a `mapGroups` over the query id. Candidate
    * recall is the LSH channels' — the dedup pipeline's ≥ 0.99 envelope
    * (exact for pairs sharing any cold k-shingle). `checkpointDir` makes
    * this path resumable like the dedup pipeline: the candidate-pair and
    * scored-match stages are committed tables, re-read on a rerun (a 10^12-
    * row query table is a long job; a died ranking step must not re-pay
    * candidate generation + verification). The broadcast path ignores it.
    *
    * @param numberOfMatches top-n per query (0 = unlimited, reference `-n`)
    * @param noPerfect drop exact matches (reference `-P`)
    * @param contrastiveFactor λ > 0 enables contrastive rerank R1
    *        (reference `-c`, fuzzy_match.cc:613-669)
    */
  def topkIndexed(
      queries: Dataset[Clip],
      corpusToks: Dataset[TokRow],
      cfg: DedupConfig,
      numberOfMatches: Int = 5,
      noPerfect: Boolean = false,
      contrastiveFactor: Float = 0f,
      contrastReduce: Matcher.ContrastReduce = Matcher.Mean,
      contrastBuffer: Int = -1,
      checkpointDir: Option[String] = None): Dataset[RetrievalRow] =
    withStage(queries.sparkSession.sparkContext, "retrieval:topk")(onPath(corpusToks, cfg)(
        shuffleTopk(queries, _, _, cfg, numberOfMatches, noPerfect,
          contrastiveFactor, contrastReduce, contrastBuffer, checkpointDir)) { bc =>
      val spark = queries.sparkSession
      import spark.implicits._
      val params = cfg.matchParams(numberOfMatches, noPerfect).copy(
        contrastiveFactor = contrastiveFactor,
        contrastReduce = contrastReduce,
        contrastBuffer = contrastBuffer)
      val useIdf = cfg.vocabIdfPenalty != 0f
      val pt = cfg.pt

      queries.mapPartitions { it =>
        val (index, docs, rows, df) = BroadcastCorpus.indexFor(bc, useIdf)
        val n = rows.length
        val idfMax = if (useIdf) math.log(n.toDouble).toFloat else 0.01f
        it.flatMap { q =>
          val ts = Tokenizer.tokenize(q.transcript, pt)
          if (ts.norm.isEmpty) Iterator.empty
          else {
            val pids = Hashing.tokenIds(ts.norm)
            val pattern = Doc(pids, ts.real, ts.itoks)
            // query tokens absent from the corpus carry 0 idf penalty, the
            // reference's unknown-word default (fuzzy_match.cc:367-390)
            val idf = if (useIdf) BroadcastCorpus.idf(pids, df, n, unknown = 0f) else null
            Matcher.matchPattern(index, docs(_), pattern, params, idf, idfMax)
              .iterator.zipWithIndex.map { case (m, r) =>
                RetrievalRow(q.clip_id, r + 1, rows(m.sIdx).clip_id, m.score, m.maxSubseq)
              }
          }
        }
      }
    })

  /** [[topkIndexed]]'s shuffle path over the corpus token rows `cToks`;
    * `releaseCToks` drops them once nothing reads them. */
  private def shuffleTopk(queries: Dataset[Clip], cToks: Dataset[TokRow], releaseCToks: () => Unit,
      cfg: DedupConfig, numberOfMatches: Int, noPerfect: Boolean = false,
      contrastiveFactor: Float = 0f, contrastReduce: Matcher.ContrastReduce = Matcher.Mean,
      contrastBuffer: Int = -1, checkpointDir: Option[String] = None): Dataset[RetrievalRow] = {
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window

    def checkpointed[T: org.apache.spark.sql.Encoder](name: String, compute: => Dataset[T]): Dataset[T] =
      checkpointDir.fold(compute) { dir =>
        val (ds, restored) = graft.data.TableIO.restoreOrWrite(spark, s"$dir/$name")(compute)
        // same discipline as the pipeline's restoredStages tracking; only
        // the candidates stage owns capping accumulators, so only its
        // restore carries the zeros-are-not-real-metrics caveat
        if (restored)
          System.err.println(s"[retrieval] restored checkpoint '$name' — not recomputed" +
            (if (name == "retrieval_candidates") "; capping accumulators did not run" else ""))
        ds
      }

    val qToks = TokenizeStage(queries, cfg).persist()
    lazy val qSigs = SignatureStage(qToks, cfg)
    lazy val cSigs = SignatureStage(cToks, cfg)
    val sc = spark.sparkContext
    val cands = checkpointed("retrieval_candidates",
      CandidateStage.cross(qToks, cToks, qSigs, cSigs, cfg,
        sc.longAccumulator("retrievalCappedShingleBuckets"),
        sc.longAccumulator("retrievalCappedBandBuckets"),
        sc.longAccumulator("retrievalCappedTinyGramBuckets")))

    // verify: patterns = queries with ≥1 candidate; candidates = corpus rows
    // all above-threshold matches; ranked below
    val params = cfg.matchParams(numberOfMatches = 0, noPerfect)
    val useIdf = cfg.vocabIdfPenalty != 0f
    val corpusSize = if (useIdf) cToks.count() else 0L
    val idfMax = if (useIdf) math.log(corpusSize.toDouble).toFloat else 0.01f
    val salts = math.max(1, cfg.verifySalts)

    val candToksSrc = cands.persist()
    val candToks = candToksSrc
      .joinWith(cToks, candToksSrc("c") === cToks("clip_id"))
      .map { case (cp, t) =>
        val salt =
          if (salts == 1) 0
          else (Hashing.fnv1a64(t.clip_id) % salts).toInt.abs
        CandTok(cp.p + "#" + salt, t)
      }
    val patternIds = candToksSrc.select("p").distinct()
    val patternToks = qToks
      .join(patternIds, qToks("clip_id") === patternIds("p"), "left_semi")
      .as[TokRow]
    val patternKeyed = VerifyStage.saltedPatterns(patternToks, cToks, useIdf, corpusSize, salts)
    // materialize the scored edges once, then release the upstream caches —
    // repeated retrieval calls in one session must not pin dead token/
    // candidate copies in executor storage (only the small scored edge set
    // stays cached for the two ranking branches below). cToks is released
    // per BRANCH: the contrastive rerank joins the corpus tokens once more,
    // so its unpersist must wait until that join has materialized —
    // unpersisting here would re-run the whole corpus TokenizeStage for the
    // rerank (the r3 verdict's measured recompute).
    val scored = checkpointed("retrieval_scored",
      VerifyStage.scoreGroups(patternKeyed, candToks, params, idfMax)).persist()
    scored.count()
    qToks.unpersist()
    candToksSrc.unpersist()

    if (contrastiveFactor <= 0f) {
      releaseCToks()
      val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
      val top = scored.toDF()
        .withColumn("rank", row_number().over(w))
      val limited =
        if (numberOfMatches > 0) top.filter(col("rank") <= numberOfMatches) else top
      limited.select(col("a").as("query_id"), col("rank").cast("int").as("rank"),
        col("b").as("s_id"), col("score"), col("lcs").as("max_subseq"))
        .as[RetrievalRow]
    } else {
      // contrastive rerank: per-query result sets are small (only
      // above-threshold matches), so collect each group and run the
      // reference's exact selection (Matcher.contrastiveRerank) locally.
      // Before reranking, the broadcast path's contrastBuffer admission is
      // REPLAYED: matchPattern evaluates candidates in consolidation order
      // (longest match desc — A2) keeping a heap of the `buffer` lowest
      // costs and skipping candidates above its max. Here the edge's lcs
      // stands in for the consolidation key (ties by s_id — the reference
      // ties by insertion order) and 1−score for the raw DP cost (monotone
      // through quantization; admission can differ only within one 1e-4
      // quantization step of the boundary).
      val rerankParams = params.copy(
        numberOfMatches = numberOfMatches,
        contrastiveFactor = contrastiveFactor,
        contrastReduce = contrastReduce,
        contrastBuffer = contrastBuffer)
      val buffer = if (contrastBuffer == -1) numberOfMatches else contrastBuffer
      // materialize the (edge, corpus ids) join while cToks is still
      // cached, THEN release it: the joined set is as small as `scored`
      // (above-threshold matches only) and is what the rerank groups over
      val withIds = scored
        .joinWith(cToks, scored("b") === cToks("clip_id"))
        .map { case (e, t) => (e.a, e.b, e.score, e.lcs, t.ids) }
        .persist()
      withIds.count()
      releaseCToks()
      val reranked = withIds
        .groupByKey(_._1)
        .flatMapGroups { (qid, it) =>
          val all = it.toArray.sortBy(m => (-m._4, m._2))
          val heap = scala.collection.mutable.PriorityQueue(Double.MaxValue)
          val ms = if (buffer <= 0) all else all.filter { m => // in order: admission is stateful
            val cost = 1.0 - m._3
            cost <= heap.head && {
              heap.enqueue(cost)
              if (heap.size > buffer) heap.dequeue()
              true
            }
          }
          val docs = ms.map(m => Doc(m._5, Array.empty, Array.empty))
          implicit val ord: Ordering[graft.kernel.MatchResult] =
            Ordering.by(m => (m.score, -m.sIdx))
          val queue = scala.collection.mutable.PriorityQueue.empty[graft.kernel.MatchResult]
          ms.zipWithIndex.foreach { case (m, i) =>
            queue.enqueue(graft.kernel.MatchResult(m._3, 0.0, m._4, i, m._5.length))
          }
          Matcher.contrastiveRerank(queue, docs, rerankParams)
            .iterator.zipWithIndex.map { case (m, r) =>
              RetrievalRow(qid, r + 1, ms(m.sIdx)._2, m.score, m.maxSubseq)
            }
        }
      // the reranked set is top-k per query — result-sized; materialize it
      // (eager localCheckpoint, lineage truncated) so withIds' cache is
      // released HERE instead of pinning one copy per invocation for the
      // session lifetime (the release-upstream-caches discipline this
      // branch already applies to every other cache it creates)
      val out = reranked.localCheckpoint()
      withIds.unpersist()
      scored.unpersist() // nothing downstream reads the edge cache either
      out
    }
  }

  /** [[subsequenceIndexed]] against a raw corpus (tokenized as in [[topk]]). */
  def subsequence(
      queries: Dataset[Clip],
      corpus: Dataset[Clip],
      cfg: DedupConfig,
      numberOfMatches: Int = 5,
      noPerfect: Boolean = false,
      idfWeighting: Boolean = false): Dataset[SubseqRow] =
    subsequenceIndexed(queries, TokenizeStage(corpus, cfg), cfg, numberOfMatches,
      noPerfect, idfWeighting)

  /** Best-subsequence retrieval of every query row against a tokenized
    * corpus (reference `-a subseq`): at most one row per query — the corpus
    * sentence best matching the heaviest verifiable query subsequence. The
    * broadcast path follows [[topkIndexed]]'s served-index contract (a
    * cached corpus is one snapshot shared by both operations).
    *
    * Shuffle path (the reference's global in-RAM index has no beyond-memory
    * form, reference src/fuzzy_match.cc:250-365): candidates come from
    * the containment g-gram equi-join
    * ([[CandidateStage.crossContainmentGramChannel]], g = min(shingleK,
    * minSubseqLength)); every host of an admissible subsequence shares one,
    * so recall is exact up to the hot-gram cap, which sits well above the
    * dedup shingle cap and is COUNTED (`subseqCappedGramBuckets`). Each
    * query's candidate group then runs the EXACT J4 kernel
    * ([[Matcher.subsequence]]) over a per-group suffix-array index: the
    * group holds every corpus row sharing the probed gram, so equal ranges
    * and the first verified winner match the global index's. IDF (with the
    * -1 corpus-unknown-word sentinel) comes from the distributed
    * doc-frequency join. Ties break by clip_id. Eager: the result (≤ 1 row
    * per query) is materialized and every internal cache released. */
  def subsequenceIndexed(
      queries: Dataset[Clip],
      corpusToks: Dataset[TokRow],
      cfg: DedupConfig,
      numberOfMatches: Int = 5,
      noPerfect: Boolean = false,
      idfWeighting: Boolean = false): Dataset[SubseqRow] =
    withStage(queries.sparkSession.sparkContext, "retrieval:subsequence")(onPath(corpusToks, cfg)(
        shuffleSubsequence(queries, _, _, cfg, numberOfMatches, noPerfect, idfWeighting)) { bc =>
      val spark = queries.sparkSession
      import spark.implicits._
      queries.mapPartitions { it =>
        // df always needed: the -1 idf sentinel marks corpus-unknown query
        // words as subsequence breakers (fuzzy_match.cc:281-291)
        val (index, docs, rows, df) = BroadcastCorpus.indexFor(bc, true)
        val n = rows.length
        it.flatMap { q =>
          val ts = Tokenizer.tokenize(q.transcript, cfg.pt)
          if (ts.norm.isEmpty) Iterator.empty
          else {
            val pids = Hashing.tokenIds(ts.norm)
            val pattern = Doc(pids, ts.real, ts.itoks)
            val idf = BroadcastCorpus.idf(pids, df, n, unknown = -1f)
            Matcher.subsequence(index, docs(_), pattern, numberOfMatches, noPerfect,
                cfg.minSubseqLength, cfg.minSubseqRatio, idfWeighting, idf)
              .map { case (m, pos, len) =>
                SubseqRow(q.clip_id, rows(m.sIdx).clip_id, m.score, m.maxSubseq,
                  ts.detokenize(pos, len))
              }.iterator
          }
        }
      }
    })

  /** Hot-gram cap of the subsequence shuffle path's containment channel. */
  private val subseqGramDfCap = 1024

  /** [[subsequenceIndexed]]'s shuffle path over the corpus token rows. */
  private def shuffleSubsequence(queries: Dataset[Clip], cToks: Dataset[TokRow],
      releaseCToks: () => Unit, cfg: DedupConfig, numberOfMatches: Int, noPerfect: Boolean,
      idfWeighting: Boolean): Dataset[SubseqRow] = {
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col

    // the kernel has no pattern-length cap (P3/P4 are match-side filters),
    // so the query side tokenizes WITHOUT the max-length drop
    val qToks = TokenizeStage(queries, cfg, enforceMax = false).persist()
    val cands = CandidateStage
      .crossContainmentGramChannel(qToks, cToks, cfg, subseqGramDfCap,
        spark.sparkContext.longAccumulator("subseqCappedGramBuckets"))
      .persist()

    val n = cToks.count()
    val patternIds = cands.select("p").distinct()
    val patternToks = qToks
      .join(patternIds, qToks("clip_id") === patternIds("p"), "left_semi")
      .as[TokRow]
    // idf always computed: the -1 sentinel marks corpus-unknown query words
    // as subsequence breakers (fuzzy_match.cc:281-291)
    val vectors = VerifyStage.idfVectors(patternToks, cToks, n, unknownIdf = -1f)
    // queries carry their TRANSCRIPT into the cogroup: the F8 surface
    // detokenization needs the raw spacing, which TokRow does not hold —
    // the per-group re-tokenize is the same narrow CPU the broadcast path
    // spends per query
    val pats = queries.map(c => (c.clip_id, c.transcript)).toDF("qid", "transcript")
      .join(vectors.toDF("vid", "idf"), col("qid") === col("vid"))
      .select(col("qid"), col("transcript"), col("idf"))
      .as[(String, String, Array[Float])]
    val candToks = cands
      .joinWith(cToks, cands("c") === cToks("clip_id"))
      .map { case (cp, t) => CandTok(cp.p, t) }

    val out = pats.groupByKey(_._1).cogroup(candToks.groupByKey(_.p)) { (qid, pIt, cIt) =>
      if (!pIt.hasNext) Iterator.empty
      else {
        val (_, transcript, idf) = pIt.next()
        if (pIt.hasNext)
          throw new IllegalStateException(
            s"duplicate clip_id '$qid' in the query table — clip ids must be unique")
        val candRows = cIt.map(_.t).toArray
        if (candRows.isEmpty) Iterator.empty
        else {
          // deterministic group order (the broadcast path's corpus
          // insertion order is not recoverable here — the tie caveat above)
          java.util.Arrays.sort(candRows, Ordering.by((t: TokRow) => t.clip_id))
          val (index, docs) = TokenizeStage.suffixIndex(candRows)
          val ts = Tokenizer.tokenize(transcript, cfg.pt)
          val pattern = Doc(Hashing.tokenIds(ts.norm), ts.real, ts.itoks)
          Matcher.subsequence(index, docs, pattern, numberOfMatches, noPerfect,
              cfg.minSubseqLength, cfg.minSubseqRatio, idfWeighting, idf)
            .map { case (m, pos, len) =>
              SubseqRow(qid, candRows(m.sIdx).clip_id, m.score, m.maxSubseq,
                ts.detokenize(pos, len))
            }.iterator
        }
      }
    }.localCheckpoint() // result-sized (≤ 1 row per query); then release
    qToks.unpersist()
    cands.unpersist()
    releaseCToks()
    out
  }

  /** The eval set tokenized and persisted (the caller releases it), with its
    * row count and estimated bytes from one job, under the loud hygiene
    * contract: ANY eval row dropped by the tokenize filters fails the call
    * — a silently unprotected benchmark row is the worst failure mode. */
  private def evalRows(evalSet: Dataset[Clip], cfg: DedupConfig): (Dataset[TokRow], Long, Long) = {
    val nEval = evalSet.count()
    val evalToks = TokenizeStage(evalSet, cfg).persist()
    val (n, bytes) = BroadcastCorpus.stats(evalToks, TokenizeStage.rowBytes())
    if (n != nEval) evalToks.unpersist()
    require(n == nEval,
      s"${nEval - n} of $nEval eval rows were dropped by the tokenize " +
        s"filters (empty transcript, or > maxTokensInPattern=${cfg.maxTokensInPattern} " +
        "tokens) — decontamination must not silently unprotect benchmark rows; raise " +
        "cfg.maxTokensInPattern or clean the eval table first")
    (evalToks, n, bytes)
  }

  /** The eval rows broadcast once (guarded by the envelope, naming
    * `alternative`), and the mapPartitions-ready per-row contamination
    * predicate over them, emitting `(clip, contaminated?)`. A row whose
    * transcript tokenizes empty is clean by definition (nothing to probe —
    * the P2 empty-segment filter); a corpus row beyond
    * `cfg.maxTokensInPattern` skips the fuzzy DP (reference P4 cap, counted
    * in `fuzzySkippedOverLength`) but its containment sweep still runs. */
  private def flagger(evalToks: Dataset[TokRow], n: Long, bytes: Long, cfg: DedupConfig,
      alsoContained: Boolean, fuzzySkippedOverLength: Option[org.apache.spark.util.LongAccumulator],
      alternative: String)
      : (Iterator[Clip] => Iterator[(Clip, Boolean)], Broadcast[Array[TokRow]]) = {
    BroadcastCorpus.requireFits(n, bytes, cfg, "eval set", alternative)
    val bc = BroadcastCorpus.broadcastUnguarded(evalToks)(identity[Array[TokRow]])
    val params = cfg.matchParams(numberOfMatches = 1, noPerfect = false) // any hit flags the row
    val useIdf = cfg.vocabIdfPenalty != 0f
    val pt = cfg.pt
    val maxTok = cfg.maxTokensInPattern

    val fn = (it: Iterator[Clip]) => {
      val (index, docs, rows, df) = BroadcastCorpus.indexFor(bc, useIdf)
      val n = rows.length
      val idfMax = if (useIdf) math.log(n.toDouble).toFloat else 0.01f
      val minEvalLen =
        if (rows.isEmpty) 2 else math.max(2, rows.iterator.map(_.n_tokens).min)
      it.map { c =>
        val ts = Tokenizer.tokenize(c.transcript, pt)
        if (ts.norm.isEmpty) (c, false)
        else {
          val pids = Hashing.tokenIds(ts.norm)
          val pattern = Doc(pids, ts.real, ts.itoks)
          val idf = if (useIdf) BroadcastCorpus.idf(pids, df, n, unknown = 0f) else null
          if (pids.length > maxTok) fuzzySkippedOverLength.foreach(_.add(1))
          val hit =
            Matcher.matchPattern(index, docs(_), pattern, params, idf, idfMax).nonEmpty || {
              alsoContained &&
                index.longestMatches(pids, minEvalLen, 0f, params.editCosts)
                  .exists { case (sIdx, len) => len >= index.sentenceLengthOf(sIdx) }
            }
          (c, hit)
        }
      }
    }
    (fn, bc)
  }

  /** [[decontaminate]]'s broadcast predicate for
    * [[graft.streaming.StreamingDedup.decontaminateStream]] (a stream has no
    * shuffle path), its broadcast shared by every micro-batch. */
  private[graft] def deconFlagger(
      evalSet: Dataset[Clip],
      cfg: DedupConfig,
      alsoContained: Boolean,
      fuzzySkippedOverLength: Option[org.apache.spark.util.LongAccumulator])
      : Iterator[Clip] => Iterator[(Clip, Boolean)] =
    withStage(evalSet.sparkSession.sparkContext, "retrieval:decontaminate") {
      val (evalToks, n, bytes) = evalRows(evalSet, cfg)
      try flagger(evalToks, n, bytes, cfg, alsoContained, fuzzySkippedOverLength,
        "the batch FuzzyRetrieval.decontaminate with strategy = \"shuffle\"")._1
      finally evalToks.unpersist()
    }

  /** Hot 2-gram cap of the decontamination shuffle path's containment probe:
    * a dropped bucket can hide a contaminated host, so it sits high and its
    * drops are counted (`deconCappedContainmentBuckets`). */
  private val containmentGramDfCap = 65536

  /** Decontamination — the training-data hygiene operator: drop every corpus
    * row whose transcript fuzzy-matches ANY row of the eval/benchmark table
    * at `cfg.threshold`, so benchmark material never leaks into training
    * data. The index side is the EVAL SET; its rows and estimated bytes pick
    * the path ([[BroadcastCorpus.picksBroadcast]]). The corpus is the
    * unbounded probe side on both.
    *
    * Broadcast path (typically thousands of eval rows — far under the
    * envelope): 10^12 corpus rows stream through in ONE partition-parallel
    * pass with zero shuffle — the [[topk]] scale shape with the roles picked
    * for this workload — and both probes (fuzzy match + containment) run
    * against the same executor-cached index, so the per-row tokenize/probe
    * cost is paid once even with `alsoContained` on. Containment leaks (an
    * eval sentence embedded verbatim inside a longer training document) use
    * the J2 n-gram sweep ([[graft.kernel.SuffixIndex.longestMatches]]) with
    * P5 disabled (containment is length-asymmetric by nature): eval row s is
    * contained ⟺ the longest shared contiguous run with s covers ALL of s.
    * This checks every eval row simultaneously in O(L·log) per document —
    * NOT the reference `-a subseq` probe, whose single-best-result selection
    * and length-ratio span clamp answer a different (retrieval) question
    * and would silently under-flag long documents. Containment requires
    * eval rows of ≥ 2 tokens (the reference registers no unigram ranges for
    * multi-token patterns, README.md:140); a 1-token "sentence" would flag
    * every document using that word, which is a vocabulary filter, not
    * decontamination.
    *
    * Shuffle path (an eval set past the envelope), every stage distributed:
    *  - the fuzzy probe is [[topkIndexed]]'s shuffle path with patterns =
    *    corpus rows, index = eval rows, numberOfMatches = 1 — any edge ≥
    *    threshold flags;
    *  - the containment probe joins each eval row's leading 2-gram against
    *    the corpus's exploded 2-gram positions (2 = the containment minimum)
    *    and verifies FULL-sequence containment per surviving pair — a
    *    superset candidate channel verified exactly, so the flagged set
    *    matches the broadcast J2-sweep semantics.
    *
    * Loudness guarantees of the hygiene contract, on both paths: eval rows
    * dropped by the tokenize filters (empty, or beyond
    * `cfg.maxTokensInPattern`) FAIL the call, and corpus rows too long for
    * the fuzzy DP probe (reference P4 cap) are counted in
    * `fuzzySkippedOverLength` (their containment probe still runs; it has
    * no length cap). Returns (clean corpus, flagged contaminated rows), both
    * carrying their original columns untouched. */
  def decontaminate(
      corpus: Dataset[Clip],
      evalSet: Dataset[Clip],
      cfg: DedupConfig,
      alsoContained: Boolean = false,
      fuzzySkippedOverLength: Option[org.apache.spark.util.LongAccumulator] = None)
      : (Dataset[Clip], Dataset[Clip]) =
      withStage(corpus.sparkSession.sparkContext, "retrieval:decontaminate") {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val (evalToks, nEval, evalBytes) = evalRows(evalSet, cfg)

    val (flaggedSrc, releaseIndex) =
      if (BroadcastCorpus.picksBroadcast(cfg)((nEval, evalBytes))) {
        val (flagFn, bc) = try flagger(evalToks, nEval, evalBytes, cfg, alsoContained,
            fuzzySkippedOverLength, "strategy = \"shuffle\" (the beyond-memory path)")
          catch { case e: Throwable => evalToks.unpersist(); throw e }
        (corpus.mapPartitions(it => flagFn(it).collect { case (c, true) => c.clip_id })
          .toDF("flagged_id"), () => bc.destroy())
      } else {
        // fuzzy probe: corpus rows as patterns against the eval index — any
        // above-threshold match flags (numberOfMatches = 1)
        val fuzzyIds = shuffleTopk(corpus, evalToks, () => (), cfg, numberOfMatches = 1)
          .select(col("query_id").as("flagged_id")).distinct()
        // the corpus tokenized unfiltered: over-length rows are counted here
        // and still probed for containment
        val maxTok = cfg.maxTokensInPattern
        val cAll = TokenizeStage(corpus, cfg, enforceMax = false)
        val cNoMax = if (alsoContained) cAll.persist() else cAll
        fuzzySkippedOverLength.foreach(_.add(cNoMax.filter(_.n_tokens > maxTok).count()))
        val containedIds =
          if (!alsoContained) spark.emptyDataset[String].toDF("flagged_id")
          else {
            val gc = 2
            val evalE = evalToks.filter(_.n_tokens >= gc)
              .map(t => (Hashing.shingleHash(t.ids, 0, gc), t.clip_id, t.n_tokens))
              .toDF("sh", "id", "n")
            val pairs = CandidateStage
              .bucketPairs(evalE, Some(CandidateStage.shingleEntries(cNoMax, gc)), lit(true),
                containmentGramDfCap,
                spark.sparkContext.longAccumulator("deconCappedContainmentBuckets"))
              .select("p", "c").dropDuplicates("p", "c").as[CandPair]
            val withEval = pairs
              .joinWith(evalToks, pairs("p") === evalToks("clip_id"))
              .map { case (cp, e) => (cp.c, e.ids) }
            val flagged = withEval
              .joinWith(cNoMax, withEval("_1") === cNoMax("clip_id"))
              .flatMap { case ((_, eIds), h) =>
                if (CandidateStage.containsSubsequence(h.ids, eIds)) Iterator.single(h.clip_id)
                else Iterator.empty
              }
              .distinct().toDF("flagged_id")
              // materialize (small: contaminated hosts only) so cNoMax releases
              .localCheckpoint()
            cNoMax.unpersist()
            flagged
          }
        (fuzzyIds.union(containedIds).distinct(), () => ())
      }

    val flaggedIds = flaggedSrc.persist()
    val nFlagged = flaggedIds.count()
    evalToks.unpersist()
    // release executor state for the common case: the flagged id set is
    // small (contaminated fraction), so collect it, swap the joins onto a
    // broadcast local relation, and drop the cache + eval broadcast. The
    // pathological totally-contaminated corpus keeps the cached dataset
    // (collecting 10^12 ids would be its own failure).
    val flaggedRef =
      if (nFlagged <= 1000000L) {
        val ids = flaggedIds.as[String].collect().toSeq
        flaggedIds.unpersist()
        releaseIndex()
        broadcast(ids.toDF("flagged_id"))
      } else flaggedIds

    val clean = corpus
      .join(flaggedRef, corpus("clip_id") === flaggedRef("flagged_id"), "left_anti")
      .as[Clip]
    val flagged = corpus
      .join(flaggedRef, corpus("clip_id") === flaggedRef("flagged_id"), "left_semi")
      .as[Clip]
    (clean, flagged)
  }

  // ------------------------------------------------------------------
  // Persisted distributed retrieval index — the reference's index/match job
  // split (`-a index` writes CORPUS.fmi once, many `-a match` runs load it;
  // /root/reference/src/fuzzy_matcher_binarization.cc:16-51). The index IS
  // the tokenized corpus as an engine checkpoint table (TableIO — Iceberg in
  // production, parquet here) plus a meta JSON pinning the
  // tokenizer-relevant config: the reference requires index and match
  // configs to agree (README.md:18), enforced loudly at load.
  // ------------------------------------------------------------------

  /** Meta layout version: 1 = count-based segments, 2 = named segments +
    * `next`, 3 = adds `retired` (segments kept for the grace window). A
    * binary reads every version up to its own and rejects newer ones, so a
    * v2 binary cannot compact a v3 index and sweep its retired segments. */
  private val indexMetaVersion = 3

  /** Parsed `index_meta.json`. `names` = the committed token-table segments
    * in commit order — the meta is the atomic commit pointer for appends
    * AND compaction (a segment dir not named here is an ignored orphan).
    * `next` = the next segment ordinal to allocate (never reused, so a
    * compacted-away name can never be confused with a live one). `segments`
    * = names.size, kept as a field for the introspection surface. Version-1
    * metas (count-based) read as names = toks, toks_1 … toks_{segments-1},
    * next = segments — the exact pre-compaction layout. */
  final case class IndexMeta(version: Int, pt: Int, maxTokensInPattern: Int, segments: Int,
      names: Seq[String], next: Int, retired: Seq[(String, Long)] = Nil)

  /** How long a compaction keeps superseded segment tables on disk before a
    * later compaction may purge them — the window in which a reader that
    * [[loadIndex]]ed the OLD meta (a lazy union plan) can still run its
    * action against the old segment files. */
  val defaultRetireGraceMs: Long = 30L * 60 * 1000

  private def metaPathOf(dir: String) = new org.apache.hadoop.fs.Path(dir, "index_meta.json")

  private def segmentName(i: Int): String = if (i == 0) "toks" else s"toks_$i"

  /** Write the meta file via temp + delete + rename (rename is atomic on
    * local/HDFS; a reader in the delete→rename window rolls the complete
    * tmp forward — writers hold the index write lock). */
  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession, dir: String,
      cfg: DedupConfig, names: Seq[String], next: Int,
      retired: Seq[(String, Long)] = Nil): Unit =
    graft.data.TableIO.writePointer(spark, metaPathOf(dir),
      s"""{"version":$indexMetaVersion,"pt":${cfg.pt},""" +
        s""""maxTokensInPattern":${cfg.maxTokensInPattern},"segments":${names.size},""" +
        s""""names":[${names.map(n => "\"" + n + "\"").mkString(",")}],"next":$next,""" +
        s""""retired":[${retired.map { case (n, t) => "\"" + n + "@" + t + "\"" }.mkString(",")}]}""")

  /** Read + parse an index's meta file (shared by [[loadIndex]] and the
    * DumpCli introspection tool — ONE copy of the parsing contract). */
  private[graft] def readIndexMeta(
      spark: org.apache.spark.sql.SparkSession, dir: String): IndexMeta = {
    val meta = graft.data.TableIO.readPointer(spark, metaPathOf(dir)).getOrElse(
      throw new IllegalArgumentException(s"no retrieval index at $dir (index_meta.json " +
        "missing) — build one with FuzzyRetrieval.saveIndex / MatchCli action=index"))
    def field(name: String, default: Int = Int.MinValue): Int =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(meta) match {
        case Some(m) => m.group(1).toInt
        case None if default != Int.MinValue => default
        case None => sys.error(s"malformed index meta at $dir: missing '$name' in $meta")
      }
    val segments = field("segments", default = 1)
    val names = """"names":\[([^\]]*)\]""".r.findFirstMatchIn(meta) match {
      case Some(m) => """"([^"]+)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
      case None => (0 until segments).map(segmentName) // version-1 layout
    }
    val retired = """"retired":\[([^\]]*)\]""".r.findFirstMatchIn(meta) match {
      case Some(m) => """"([^"@]+)@(\d+)"""".r.findAllMatchIn(m.group(1))
        .map(g => (g.group(1), g.group(2).toLong)).toSeq
      case None => Nil // pre-r6 layout: nothing retired
    }
    IndexMeta(field("version"), field("pt"), field("maxTokensInPattern"),
      names.size, names, field("next", default = segments), retired)
  }

  private def requireConfigMatch(m: IndexMeta, cfg: DedupConfig, dir: String, what: String): Unit = {
    require(m.version <= indexMetaVersion,
      s"index at $dir has meta version ${m.version}, this engine reads <= $indexMetaVersion")
    require(m.pt == cfg.pt && m.maxTokensInPattern == cfg.maxTokensInPattern,
      s"index at $dir was built with pt=${m.pt} maxTokensInPattern=" +
        s"${m.maxTokensInPattern} but the $what config has pt=${cfg.pt} " +
        s"maxTokensInPattern=${cfg.maxTokensInPattern} — index and $what configs " +
        "must be identical (reference README.md:18)")
  }

  /** Tokenize the corpus once and persist it as a retrieval index at `dir`
    * (`dir/toks` table + `dir/index_meta.json`). Crash-safe ordering: the
    * meta file is the COMMIT MARKER — any stale copy (and its tmp) is
    * deleted before the table write and the new one is written (temp +
    * atomic rename) only
    * after the table commits, so a job killed mid-write leaves a dir that
    * [[loadIndex]] rejects rather than a stale meta over partial
    * part-files. */
  def saveIndex(corpus: Dataset[Clip], cfg: DedupConfig, dir: String): Unit = {
    val spark = corpus.sparkSession
    val p = metaPathOf(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(p, p.suffix(".tmp")).foreach(f => if (fs.exists(f)) fs.delete(f, false))
    withStage(spark.sparkContext, "retrieval:save_index")(
      graft.data.TableIO.write(TokenizeStage(corpus, cfg).toDF(), s"$dir/${segmentName(0)}"))
    writeIndexMeta(spark, dir, cfg, names = Seq(segmentName(0)), next = 1)
  }

  /** Run `body` holding the index's single-writer lock (create-exclusive
    * `index.lock`). Appends and compactions are mutually exclusive: two
    * concurrent appenders would both read segments=k, write the SAME
    * segment table (second overwrites first) and commit k+1 — one append's
    * rows silently lost; a compaction racing an append could delete the
    * append's in-flight segment dir. The second writer fails LOUDLY here
    * instead. A writer killed hard (kill -9, no finally) leaves a stale
    * lock that must be removed by hand — the error message says so; normal
    * failures clean up in the finally. */
  private def withIndexWriteLock[T](spark: org.apache.spark.sql.SparkSession,
      dir: String)(body: => T): T = {
    val fs = metaPathOf(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(dir, "index.lock")
    val acquired =
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    require(acquired,
      s"index write lock held at $lock — another append/compaction on this index " +
        "appears to be in progress (or a previous writer died hard without " +
        "cleanup); wait for it to finish, or delete the lock file to force")
    try body finally fs.delete(lock, false)
  }

  /** Incrementally add rows to an existing retrieval index — O(new rows)
    * work, in deliberate contrast to the reference's documented scaling
    * wall (any insert marks its global suffix array unsorted and costs a
    * full O(N) re-sort, /root/reference/src/suffix_array.cc:24,
    * README.md:165-170): each append lands as a NEW committed segment table
    * (`toks_k`) and the meta's `segments` count — rewritten last, via
    * atomic rename — is the commit pointer. A killed append leaves at most
    * an orphan segment dir the meta does not reference: readers see exactly
    * the pre-append index, and re-running the append overwrites the orphan
    * (no duplication). Per-bucket/per-executor suffix arrays rebuild from
    * whatever segments the meta commits at match time. Tokenizer config
    * must match the existing index (same contract as [[loadIndex]]).
    * Duplicate clip_ids across appends are tolerated for retrieval
    * (reference TM semantics: both rows indexed, both can match).
    * Operational note: every append adds one segment table; past an
    * operational segment count, merge them with [[compactIndex]] (the
    * streaming [[graft.streaming.StreamingDedup.indexIngest]] does this
    * automatically past its threshold). */
  def appendIndex(newClips: Dataset[Clip], cfg: DedupConfig, dir: String): Unit = {
    val spark = newClips.sparkSession
    withStage(spark.sparkContext, "retrieval:append_index")(withIndexWriteLock(spark, dir) {
      val m = readIndexMeta(spark, dir)
      requireConfigMatch(m, cfg, dir, "append")
      require(m.names.forall(n => graft.data.TableIO.exists(spark, s"$dir/$n")),
        s"index at $dir references segments with no COMMITTED table — rebuild " +
          "with saveIndex first")
      val name = segmentName(m.next)
      graft.data.TableIO.write(TokenizeStage(newClips, cfg).toDF(), s"$dir/$name")
      writeIndexMeta(spark, dir, cfg, names = m.names :+ name, next = m.next + 1)
    })
  }

  /** Merge all committed segments into ONE — the remedy for unbounded
    * segment growth under [[appendIndex]]/streaming ingest (1-minute
    * micro-batches = 1,440 segments/day; [[loadIndex]] unions them all).
    * Crash-safe ordering mirrors the append protocol: (1) write the merged
    * table to a FRESH ordinal (never reused, so a crashed compaction's
    * half-written dir can never be mistaken for live data), (2) commit the
    * meta naming ONLY the merged segment (atomic rename — the commit
    * point), (3) RETIRE the superseded segment dirs in the meta instead of
    * deleting them (r6, the r5 advice race): [[loadIndex]] returns a LAZY
    * union, so a match job that loaded the index before this compaction
    * committed must still find the old segment files when its action runs.
    * Retired segments older than `graceMs` are purged at the start of a
    * LATER compaction call (a no-op compaction acts as an explicit
    * vacuum); unreferenced-and-unretired `toks*` dirs (crashed writers)
    * are swept as before. Readers therefore see either the old meta with
    * its segments intact for at least the grace window, or the new one.
    * Returns true when a merge happened. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, cfg: DedupConfig,
      dir: String, graceMs: Long = defaultRetireGraceMs): Boolean =
    withStage(spark.sparkContext, "retrieval:compact_index")(withIndexWriteLock(spark, dir) {
      val m = readIndexMeta(spark, dir)
      requireConfigMatch(m, cfg, dir, "compact")
      val fs = metaPathOf(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val now = System.currentTimeMillis()
      // purge retired segments past their grace; sweep crashed-writer
      // orphans (dirs neither referenced nor retired)
      val (expired, kept) = m.retired.partition(now - _._2 >= graceMs)
      expired.foreach { case (n, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, n), true)
      }
      def sweep(keep: Set[String]): Unit =
        fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
          .map(_.getPath)
          .filter(p => p.getName.matches("toks(_\\d+)?") && !keep.contains(p.getName))
          .foreach(p => fs.delete(p, true))
      if (m.names.size <= 1) {
        sweep(keep = m.names.toSet ++ kept.map(_._1))
        if (expired.nonEmpty) // record the purge
          writeIndexMeta(spark, dir, cfg, names = m.names, next = m.next, retired = kept)
        false
      } else {
        val merged = segmentName(m.next)
        graft.data.TableIO.write(committedSegments(spark, dir, m).toDF(), s"$dir/$merged")
        writeIndexMeta(spark, dir, cfg, names = Seq(merged), next = m.next + 1,
          retired = kept ++ m.names.map(n => (n, now)))
        sweep(keep = Set(merged) ++ kept.map(_._1) ++ m.names)
        true
      }
    })

  /** Load a prebuilt retrieval index, failing loudly when `dir` holds no
    * index, an UNCOMMITTED index (killed mid-write), or one indexed under a
    * different tokenizer config than `cfg` (silently matching against an
    * index tokenized differently is the reference's documented foot-gun,
    * README.md:18). Reads exactly the segments the meta commits — orphan
    * segment dirs from a killed append are ignored. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      cfg: DedupConfig): Dataset[TokRow] = withStage(spark.sparkContext, "retrieval:load_index") {
    val m = readIndexMeta(spark, dir)
    requireConfigMatch(m, cfg, dir, "match")
    committedSegments(spark, dir, m)
  }

  /** The union of the segment tables `m` commits, failing loudly on a
    * segment with no COMMITTED table (an index write that did not complete). */
  private def committedSegments(spark: org.apache.spark.sql.SparkSession, dir: String,
      m: IndexMeta): Dataset[TokRow] = {
    import spark.implicits._
    m.names.map { n =>
      val seg = s"$dir/$n"
      require(graft.data.TableIO.exists(spark, seg),
        s"index at $dir references segment $seg with no COMMITTED table — the " +
          "index write did not complete; rebuild with saveIndex / MatchCli action=index")
      graft.data.TableIO.readAs[TokRow](spark, seg)
    }.reduce(_.union(_))
  }
}
