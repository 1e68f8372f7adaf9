package graft.dedup

import org.apache.spark.sql.Dataset
import graft.kernel.{Doc, Matcher, SuffixIndex}

/** Broadcast fast path: the reference's own architecture — ONE global
  * suffix-array index shared read-only by every worker, rows matched
  * independently (/root/reference/cli/src/FuzzyMatch-cli.cc:82-193) — as a
  * Spark broadcast + mapPartitions. Candidate generation recall is exactly
  * the reference's (the global index IS the candidate generator), so no LSH
  * approximation is involved.
  *
  * Used when the tokenized corpus fits in executor memory
  * (DedupConfig.broadcastMaxRows); the three-stage LSH pipeline is the
  * beyond-memory path. The index is built once per executor JVM and cached
  * by broadcast id.
  */
object BroadcastVerifyStage {

  /** One cached build: the sorted suffix-array index over a broadcast's
    * rows, and the per-word document frequency (A3 sfreq, for the IDF
    * penalty vector), built on the first call that needs it — one broadcast
    * may serve an idf-free top-k job and then a subsequence job that needs
    * df. */
  private final class Built(val index: SuffixIndex, val docs: Array[Doc], val rows: Array[TokRow]) {
    var df: scala.collection.mutable.LongMap[Int] = null
  }

  /** Executor-side per-JVM index cache, keyed by broadcast id. Bounded
    * LRU with capacity TWO: one slot for a long-lived index (e.g. a
    * streaming retrieval query reusing its corpus every micro-batch, or a
    * caller-cached corpus served to many match jobs) plus one for a
    * concurrently running batch job — interleaved tasks of two different
    * broadcasts each build once instead of thrashing, while a long-lived
    * JVM (the bench loop) still never accumulates more than two (index +
    * docs + rows) graphs. Concurrent tasks of the SAME run serialize on the
    * monitor and reuse the first build. */
  private val cache =
    new java.util.LinkedHashMap[Long, Built](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Built]): Boolean = size() > 2
    }

  /** `(index, docs, rows, df)` for a broadcast; `df` is empty unless
    * `needDf`. */
  private[dedup] def indexFor(bcId: Long, rows: Array[TokRow], needDf: Boolean)
      : (SuffixIndex, Array[Doc], Array[TokRow], scala.collection.mutable.LongMap[Int]) =
    cache.synchronized {
      var built = cache.get(bcId)
      if (built == null) {
        val index = new SuffixIndex
        val docs = new Array[Doc](rows.length)
        var i = 0
        while (i < rows.length) {
          index.add(rows(i).ids)
          docs(i) = Doc(rows(i).ids, rows(i).reals, rows(i).itoks)
          i += 1
        }
        index.sort() // eagerly, before publication — lookups are then read-only
        built = new Built(index, docs, rows)
        cache.put(bcId, built) // LRU bound (capacity 2) evicts the eldest
      }
      if (needDf && built.df == null) {
        val df = scala.collection.mutable.LongMap.empty[Int]
        val seen = new java.util.HashSet[java.lang.Long]()
        built.rows.foreach { r =>
          seen.clear()
          r.ids.foreach { id =>
            if (seen.add(id)) df(id) = df.getOrElse(id, 0) + 1
          }
        }
        built.df = df
      }
      (built.index, built.docs, built.rows,
        if (built.df == null) scala.collection.mutable.LongMap.empty[Int] else built.df)
    }

  def apply(toks: Dataset[TokRow], cfg: DedupConfig): Dataset[Edge] = {
    val spark = toks.sparkSession
    import spark.implicits._

    val corpus = toks.collect()
    // DEDUP id-uniqueness contract, enforced once on the driver before
    // broadcasting (cluster identity IS the clip_id — a duplicate would
    // silently merge two rows' identities). The cogroup strategy enforces
    // the same contract in its salted groups, so both dedup paths fail
    // loudly on identical input. Deliberately NOT enforced for retrieval
    // (FuzzyRetrieval shares the index builder below): the reference TM
    // tolerates duplicate external ids — both rows are indexed and both can
    // match.
    val ids = new java.util.HashSet[String](corpus.length * 2)
    corpus.foreach { r =>
      if (!ids.add(r.clip_id))
        throw new IllegalStateException(
          s"duplicate clip_id '${r.clip_id}' in the corpus — clip ids must be unique")
    }
    val bc = spark.sparkContext.broadcast(corpus)
    val bcId = bc.id

    val params = Matcher.Params(
      fuzzy = cfg.threshold,
      numberOfMatches = 0,
      noPerfect = false,
      minSubseqLength = cfg.minSubseqLength,
      minSubseqRatio = cfg.minSubseqRatio,
      vocabIdfPenalty = cfg.vocabIdfPenalty,
      editCosts = cfg.editCosts,
      maxTokensInPattern = cfg.maxTokensInPattern)
    val useIdf = cfg.vocabIdfPenalty != 0f

    // with symmetric insert/delete costs and no idf the pair decision is
    // direction-free, so only the canonical shorter-pattern direction is
    // emitted; asymmetric costs or idf weighting make the DP depend on
    // orientation, so every direction is kept (a pair is a dup iff EITHER
    // direction clears the threshold — the oracle's allDupPairs semantics;
    // duplicate edges are harmless to CC)
    val asym = cfg.editCosts.insert != cfg.editCosts.delete || useIdf

    toks.mapPartitions { it =>
      val (index, docs, rows, df) = indexFor(bcId, bc.value, useIdf)
      val n = rows.length
      val idfMax = if (useIdf) math.log(n.toDouble).toFloat else 0.01f
      it.flatMap { p =>
        val pattern = Doc(p.ids, p.reals, p.itoks)
        // float division then log — oracle idfPenalty parity
        val idfVec =
          if (useIdf) p.ids.map(id => math.log((n.toFloat / df.getOrElse(id, 1).toFloat).toDouble).toFloat)
          else null
        Matcher.matchPattern(index, docs, pattern, params, idfVec, idfMax).iterator.flatMap { m =>
          val s = rows(m.sIdx)
          val keep = s.clip_id != p.clip_id &&
            (asym || p.n_tokens < s.n_tokens ||
             (p.n_tokens == s.n_tokens && p.clip_id < s.clip_id))
          if (keep) {
            val kind = if (m.maxSubseq >= p.n_tokens) "substring" else "edit"
            Iterator.single(Edge(p.clip_id, s.clip_id, m.score, m.maxSubseq, kind))
          } else Iterator.empty
        }
      }
    }
  }
}
