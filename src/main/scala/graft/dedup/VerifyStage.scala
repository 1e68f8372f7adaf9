package graft.dedup

import org.apache.spark.sql.Dataset
import graft.kernel.{Doc, Matcher}

/** Verified duplicate edge. `kind` = "substring" when the pattern matched in
  * full inside the candidate (the reference's subsequence dup class,
  * /root/reference/src/fuzzy_match.cc:250-365), else "edit". */
final case class Edge(a: String, b: String, score: Double, lcs: Int, kind: String)

/** (pattern id, candidate token row) join product. */
final case class CandTok(p: String, t: TokRow)

/** Salted pattern row carrying its IDF penalty vector (empty when idf off). */
final case class PatTok(p: String, t: TokRow, idf: Array[Float])

/** Stage 2b — pair verification. Groups candidates by pattern and runs the
  * REFERENCE MATCHER per group over a per-group suffix-array index: the
  * n-gram sweep + longest-match consolidation (J1/J2/A1/A2), coverage
  * rejection (P6), weighted edit-distance DP with branch-and-bound (F5/O3),
  * float score quantization (F7), and threshold filter (P8) all run
  * partition-locally, exactly as the reference runs them against its global
  * index (/root/reference/src/fuzzy_match.cc:436-612). Shuffle boundaries:
  * one hash join (candidate tokens) + one cogroup (by pattern).
  */
object VerifyStage {

  def apply(
      toks: Dataset[TokRow],
      cands: Dataset[CandPair],
      cfg: DedupConfig,
      nRows: Long = -1L): Dataset[Edge] = {
    val spark = toks.sparkSession
    import spark.implicits._

    // unlimited matches: dedup wants every pair over threshold
    val params = cfg.matchParams(numberOfMatches = 0, noPerfect = false)
    val useIdf = cfg.vocabIdfPenalty != 0f
    val corpusSize: Long =
      if (!useIdf) 0L else if (nRows >= 0) nRows else toks.count()
    val idfMax: Float = if (useIdf) math.log(corpusSize.toDouble).toFloat else 0.01f

    // with asymmetric insert/delete costs OR idf weighting the DP score
    // depends on which side is the pattern (idf penalties are pattern-side),
    // so the oriented candidate set must be verified in both directions
    // (pair is a dup iff EITHER direction clears the threshold — the
    // oracle's allDupPairs semantics); the symmetric non-idf default needs
    // only the canonical shorter-pattern direction
    val directionful = cfg.editCosts.insert != cfg.editCosts.delete || useIdf
    val orientedCands =
      if (directionful) cands.union(cands.map(cp => CandPair(cp.c, cp.p))) else cands

    // salt the group key: with numberOfMatches=0 every candidate's decision
    // is independent, so a hot pattern's candidate list can split across
    // salted sub-groups without changing the emitted edge set — this is the
    // skew valve for patterns that land in thousands of buckets
    val salts = math.max(1, cfg.verifySalts)
    val candToks = orientedCands
      .joinWith(toks, orientedCands("c") === toks("clip_id"))
      .map { case (cp, t) =>
        val salt =
          if (salts == 1) 0
          else (graft.kernel.Hashing.fnv1a64(t.clip_id) % salts).toInt.abs
        CandTok(cp.p + "#" + salt, t)
      }

    // replicate ONLY patterns that actually have candidates (semi-join) —
    // replicating the whole corpus × salts would ship every token row salts
    // times through the shuffle even though patterns without candidates emit
    // nothing from the cogroup
    val patternIds = orientedCands.select("p").distinct()
    val patternToks = toks
      .join(patternIds, toks("clip_id") === patternIds("p"), "left_semi")
      .as[TokRow]

    val patternKeyed = saltedPatterns(patternToks, toks, useIdf, corpusSize, salts)
    scoreGroups(patternKeyed, candToks, params, idfMax)
  }

  /** Salted pattern rows with their IDF penalty vectors (A4), shared with
    * the shuffle-path retrieval. IDF is computed as a token-keyed join
    * (never a broadcast dictionary — vocab is unbounded at 10^12 rows):
    * doc-freq table (A3) over `dfSource` ⋈ exploded pattern positions →
    * per-pattern vector. Non-IDF (default) path: salt straight off the
    * pattern rows — no tuple re-encode pass just to carry an empty vector.
    * Pattern tokens absent from `dfSource` carry 0 idf (the reference's
    * unknown-word default, fuzzy_match.cc:367-390) via a left join. */
  private[graft] def saltedPatterns(
      patternToks: Dataset[TokRow],
      dfSource: Dataset[TokRow],
      useIdf: Boolean,
      corpusSize: Long,
      salts: Int): Dataset[PatTok] = {
    val spark = patternToks.sparkSession
    import spark.implicits._
    if (!useIdf)
      patternToks.flatMap { t =>
        (0 until salts).iterator.map(s => PatTok(t.clip_id + "#" + s, t, Array.emptyFloatArray))
      }
    else {
      val vectors = idfVectors(patternToks, dfSource, corpusSize, unknownIdf = 0f)
      patternToks.joinWith(vectors, patternToks("clip_id") === vectors("_1"))
        .flatMap { case (t, (_, v)) =>
          (0 until salts).iterator.map(s => PatTok(t.clip_id + "#" + s, t, v))
        }
    }
  }

  /** Per-pattern IDF vectors (A4) as a token-keyed join — never a broadcast
    * dictionary (vocab is unbounded at 10^12 rows): doc-freq table (A3)
    * over `dfSource` ⋈ exploded pattern positions → position-ordered
    * vector. `unknownIdf` is the value for pattern tokens ABSENT from
    * `dfSource`: 0 for match queries (the reference's unknown-word default,
    * fuzzy_match.cc:367-390), -1 for the subsequence probe (the sentinel
    * marking corpus-unknown words as subsequence breakers,
    * fuzzy_match.cc:281-291). */
  private[graft] def idfVectors(
      patternToks: Dataset[TokRow],
      dfSource: Dataset[TokRow],
      corpusSize: Long,
      unknownIdf: Float): Dataset[(String, Array[Float])] = {
    val spark = patternToks.sparkSession
    import spark.implicits._
    val dfTab: Dataset[(Long, Long)] = dfSource
      .flatMap { t =>
        val seen = new java.util.HashSet[java.lang.Long]()
        t.ids.iterator.filter(id => seen.add(id)).map(id => (id, 1L))
      }
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, a._2 + b._2))
      .map(_._2)
    val exploded: Dataset[(String, Int, Long)] =
      patternToks.flatMap(t => t.ids.iterator.zipWithIndex.map { case (id, pos) => (t.clip_id, pos, id) })
    val n = corpusSize
    val unk = unknownIdf
    val withIdf: Dataset[(String, Int, Float)] = exploded
      .joinWith(dfTab, exploded("_3") === dfTab("_1"), "left_outer")
      .map { case ((cid, pos, _), dfRow) =>
        // float division then log, matching the oracle's idfPenalty
        // (oracle/FuzzyMatcher.scala — math.log(n / sfreq.toFloat))
        val v =
          if (dfRow == null) unk
          else math.log((n.toFloat / dfRow._2.toFloat).toDouble).toFloat
        (cid, pos, v)
      }
    withIdf.groupByKey(_._1).mapGroups { (cid, it) =>
      val entries = it.toArray
      java.util.Arrays.sort(entries, Ordering.by((e: (String, Int, Float)) => e._2))
      (cid, entries.map(_._3))
    }
  }

  /** The scoring cogroup, shared with the shuffle branch of
    * [[graft.dedup.FuzzyRetrieval.topkIndexed]]: per salted pattern group,
    * build a local suffix-array index over the candidate rows and run the
    * reference matcher end-to-end (J1/J2/A1/A2 + P6 + F5/O3 + F7 + P8). */
  private[graft] def scoreGroups(
      patternKeyed: Dataset[PatTok],
      candToks: Dataset[CandTok],
      params: Matcher.Params,
      idfMax: Float): Dataset[Edge] = {
    val spark = patternKeyed.sparkSession
    import spark.implicits._
    patternKeyed.groupByKey(_.p)
      .cogroup(candToks.groupByKey(_.p)) { (saltedKey, pIt, cIt) =>
        if (!pIt.hasNext) Iterator.empty
        else {
          val pat = pIt.next()
          // two rows sharing a clip_id land in the same salted group — make
          // the id-uniqueness input contract explicit instead of silently
          // scoring only the first row's transcript
          if (pIt.hasNext)
            throw new IllegalStateException(
              s"duplicate clip_id '${saltedKey.substring(0, saltedKey.lastIndexOf('#'))}' " +
                "in the pattern table — clip ids must be unique")
          val pRow = pat.t
          val candRows = cIt.map(_.t).toArray
          if (candRows.isEmpty) Iterator.empty
          else {
            val patternId = saltedKey.substring(0, saltedKey.lastIndexOf('#'))
            val (index, docs) = TokenizeStage.suffixIndex(candRows)
            val pattern = Doc(pRow.ids, pRow.reals, pRow.itoks)
            val idfVec = if (pat.idf.nonEmpty) pat.idf else null
            Matcher.matchPattern(index, docs, pattern, params, idfVec, idfMax).iterator.map { m =>
              val kind = if (m.maxSubseq >= pRow.n_tokens) "substring" else "edit"
              Edge(patternId, candRows(m.sIdx).clip_id, m.score, m.maxSubseq, kind)
            }
          }
        }
      }
  }
}
