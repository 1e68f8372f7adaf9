package graft.dedup

import org.apache.spark.sql.Dataset
import graft.kernel.{Doc, Matcher}

/** Broadcast fast path: the reference's own architecture — ONE global
  * suffix-array index shared read-only by every worker, rows matched
  * independently (/root/reference/cli/src/FuzzyMatch-cli.cc:82-193) — as a
  * Spark broadcast + mapPartitions. Candidate generation recall is exactly
  * the reference's (the global index IS the candidate generator), so no LSH
  * approximation is involved.
  *
  * Used when the tokenized corpus fits in executor memory (the pipeline's
  * [[BroadcastCorpus.fits]] decision); the three-stage LSH pipeline is the
  * beyond-memory path. [[BroadcastCorpus]] owns the broadcast and the
  * executor index, built once per executor JVM and cached by broadcast id.
  */
object BroadcastVerifyStage {

  def apply(toks: Dataset[TokRow], cfg: DedupConfig): Dataset[Edge] = {
    val spark = toks.sparkSession
    import spark.implicits._

    // DEDUP id-uniqueness contract, enforced once on the driver before
    // broadcasting (cluster identity IS the clip_id — a duplicate would
    // silently merge two rows' identities). The cogroup strategy enforces
    // the same contract in its salted groups, so both dedup paths fail
    // loudly on identical input. Deliberately NOT enforced for retrieval
    // (FuzzyRetrieval shares the executor index): the reference TM
    // tolerates duplicate external ids — both rows are indexed and both can
    // match. No envelope job: the pipeline has already decided.
    val bc = BroadcastCorpus.broadcastUnguarded(toks) { corpus =>
      val ids = new java.util.HashSet[String](corpus.length * 2)
      corpus.foreach { r =>
        if (!ids.add(r.clip_id))
          throw new IllegalStateException(
            s"duplicate clip_id '${r.clip_id}' in the corpus — clip ids must be unique")
      }
      corpus
    }

    val params = cfg.matchParams(numberOfMatches = 0, noPerfect = false)
    val useIdf = cfg.vocabIdfPenalty != 0f

    // with symmetric insert/delete costs and no idf the pair decision is
    // direction-free, so only the canonical shorter-pattern direction is
    // emitted; asymmetric costs or idf weighting make the DP depend on
    // orientation, so every direction is kept (a pair is a dup iff EITHER
    // direction clears the threshold — the oracle's allDupPairs semantics;
    // duplicate edges are harmless to CC)
    val asym = cfg.editCosts.insert != cfg.editCosts.delete || useIdf

    toks.mapPartitions { it =>
      val (index, docs, rows, df) = BroadcastCorpus.indexFor(bc, useIdf)
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
