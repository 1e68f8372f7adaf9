package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.kernel.{EditCosts, Hashing, SuffixIndex}
import graft.obs.JobLedger

/** Candidate pair, oriented: `p` is the pattern side — the member with fewer
  * tokens (tie: lexicographically smaller clip_id). With the default
  * SYMMETRIC insert/delete costs the reference's dup-pair decision is
  * direction-free given this orientation: the shorter pattern's
  * min-subsequence requirement is the laxer of the two
  * (/root/reference/src/fuzzy_match.cc:463-467 is monotone in length), the
  * DP cost and LCS are symmetric, and the rejection bounds are sound.
  * With ASYMMETRIC insert/delete costs the normalizer and P5 window differ
  * by direction, so VerifyStage additionally verifies the reverse
  * orientation and the channels pre-reject only when BOTH orientations
  * reject (see `lengthReject`). */
final case class CandPair(p: String, c: String)

/** Stage 2a — candidate generation, replacing the reference's global sorted
  * suffix array probe (J1/J2, /root/reference/src/fuzzy_match.cc:484-551)
  * with three distributed channels:
  *
  *  A. exact k-shingle inverted-index join: any pair with a common k-token
  *     substring co-occurs in some shingle bucket (recall 1.0 vs the oracle
  *     for patterns with ≥ k tokens when k ≤ the effective min registered
  *     n-gram length); hot buckets above `shingleDfCap` are dropped here and
  *     COUNTED (metrics), to be recovered by channel B;
  *  B. MinHash LSH band buckets (the 10^12-row scale path, probabilistic);
  *  C. tiny patterns (< k tokens): broadcast + containment scan, mirroring
  *     the reference's unigram/short-pattern semantics
  *     (/root/reference/src/fuzzy_match.cc:484-493).
  *
  * Every bucketed channel runs through ONE untyped kernel, [[bucketJoin]]:
  * two cold entry sides (sh, id, n, window columns) equi-joined on the
  * bucket hash with a length predicate as integer join conditions, emitting
  * (p, c, p_n, c_n) with ids in whatever type the entries carry. The self
  * join is its R ⋈ R case — the same cold entries on both sides, predicate
  * [[selfWindow]] (orientation + the pattern's P5 upper bound); the cross
  * join is Q ⋈ C with [[crossWindow]] (the query's two-sided P5 window).
  * The self-join plan does NOT share one exchange between its sides (Spark
  * 4.1.2): the predicate reads `mx` only from the a side, so the b side's
  * projection prunes it, the two sides' exchanges differ and no
  * ReusedExchange happens — each channel builds two exchanges, and AQE then
  * broadcasts the b side.
  * Before the join, [[dropHotBuckets]] anti-joins away (and counts) hot
  * buckets on each side. Whole-stage codegen end to end — no typed
  * groupByKey, no per-group object arrays; measured ~4× faster than the
  * flatMapGroups formulation at 120k rows and AQE can skew-split the join.
  * The pair-only forms are projections of the kernel's output.
  */
object CandidateStage {

  /** P5 length-window rejection, sound in BOTH match orientations: with
    * asymmetric insert/delete costs the bound depends on which side is the
    * pattern, so a pair is dropped only when both orientations reject
    * (collapses to the single check for the default symmetric costs). */
  @inline def lengthReject(n1: Int, n2: Int, ec: EditCosts, fuzzy: Float): Boolean =
    if (ec.insert == ec.delete) SuffixIndex.theoreticalRejection(n1, n2, ec, fuzzy)
    else SuffixIndex.theoreticalRejection(n1, n2, ec, fuzzy) &&
      SuffixIndex.theoreticalRejection(n2, n1, ec, fuzzy)

  /** `maxAccept(n)` = largest candidate length m ∈ [n, maxN] that survives
    * `lengthReject(n, m)` — the P5 window folded into a lookup so the pair
    * join is pure integer comparisons. Full scan (no monotonicity assumed);
    * maxN ≤ 300 so this is ≤ 90k kernel evaluations on the driver. */
  def maxAcceptTable(ec: EditCosts, fuzzy: Float, maxN: Int): Array[Int] = {
    val t = new Array[Int](maxN + 1)
    var n = 1
    while (n <= maxN) {
      var hi = n - 1
      var m = n
      while (m <= maxN) {
        if (!lengthReject(n, m, ec, fuzzy)) hi = m
        m += 1
      }
      t(n) = hi
      n += 1
    }
    t
  }

  /** `(minAccept(n), maxAccept(n))` per pattern length n — the two-sided P5
    * window for the fixed pattern-is-query direction. */
  def acceptWindowTable(ec: EditCosts, fuzzy: Float, maxN: Int): (Array[Int], Array[Int]) = {
    val mn = new Array[Int](maxN + 1)
    val mx = new Array[Int](maxN + 1)
    var n = 1
    while (n <= maxN) {
      var lo = n
      var hi = n
      var m = 1
      while (m <= maxN) {
        if (!SuffixIndex.theoreticalRejection(n, m, ec, fuzzy)) {
          if (m < lo) lo = m
          if (m > hi) hi = m
        }
        m += 1
      }
      mn(n) = lo
      mx(n) = hi
      n += 1
    }
    (mn, mx)
  }

  /** Largest hot-key set worth collecting + broadcasting (1M longs ≈ tens of
    * MB as a HashedRelation); beyond it the anti-join shuffles. */
  private[graft] val hotKeyBroadcastBound = 1000000

  /** Smallest cap the auto-tuner will ever choose: below this, capping
    * destroys recall faster than it saves work (a df-8 bucket costs 64
    * join rows — noise), so a distribution whose work budget is blown even
    * at df ≤ 8 keeps the floor rather than degenerating to drop-everything. */
  private[graft] val autoCapFloor = 8

  /** Default AUTO work factor: candidate join-probe volume stays ≤ this
    * many rows per entry, keeping the candidate stage within a small
    * constant of the linear scan at any corpus scale. 7 is derived from
    * the measured 480k histogram (tools/HistProbe, BASELINE.md round 5):
    * the shingle channel's cumulative-work knee sits at cap ≈ 24
    * (wf 6.98) — the operating point the r4 cap-knob experiment validated
    * (half the candidate wall for 0.04% of edges, recovered by the band
    * channel) — while past it ~50 tail buckets would cost a further 5× the
    * whole kept work. On cold/open-vocabulary distributions (work ≤ 2-3×
    * entries) the budget keeps everything, so the factor only ever bites a
    * Zipf head. */
  private[graft] val autoCapDefaultWorkFactor = 7L

  /** AUTO df-cap (r4 verdict stretch item): instead of a hand-set constant,
    * derive the cap from the MEASURED bucket-df histogram so the quadratic
    * join work stays bounded LINEAR in the input at any scale. Rule: the
    * largest cap c such that the kept buckets' join work
    * Σ_{df ≤ c} df²·H(df) ≤ workFactor · N_entries (monotone in c, so
    * unique), clamped to [[autoCapFloor]]. A cold distribution (nothing
    * hot) yields c = max df — no capping at all; a Zipf head gets cut
    * exactly where its quadratic mass would exceed the linear budget.
    * Costs one extra partial-agg pass over the entries (the histogram),
    * only when auto is requested.
    *
    * The knee is computed DISTRIBUTED (r6, the r5 verdict's wart #3): the
    * histogram's cumulative-work running sum is a window over df ascending
    * and the chosen cap is the largest df whose cumulative work fits the
    * budget — cumWork is monotone in df, so this is exactly the old
    * sequential scan — and only ONE row ever reaches the driver, where the
    * previous formulation collected the whole (df, buckets) histogram
    * unbounded (cardinality = distinct df values: small in practice, no
    * hard bound on a pathological corpus). The single-partition window is
    * over histogram rows, not entries. */
  private def autoCap(entries: DataFrame, workFactor: Long): Int = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy("df").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("df")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val r = entries.groupBy("sh").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("buckets"))
      .withColumn("cumWork", sum(col("df") * col("df") * col("buckets")).over(wCum))
      .withColumn("n", sum(col("df") * col("buckets")).over(wAll))
      .withColumn("maxDf", max(col("df")).over(wAll))
      .agg(
        coalesce(max(when(col("cumWork") <= col("n") * workFactor, col("df"))), lit(0L)).as("c"),
        coalesce(max(when(col("cumWork") <= col("n") * workFactor, col("cumWork"))), lit(0L)).as("keptWork"),
        coalesce(max(col("n")), lit(0L)).as("n"),
        coalesce(max(col("maxDf")), lit(0L)).as("maxDf"))
      .head()
    if (r.getLong(2) == 0L) return autoCapFloor // empty entry set
    val chosen = math.max(r.getLong(0), autoCapFloor.toLong).min(Int.MaxValue.toLong).toInt
    System.err.println(s"[candidates] auto df-cap=$chosen " +
      s"(entries=${r.getLong(2)}, workFactor=$workFactor, maxDf=${r.getLong(3)}, " +
      s"keptWork=${r.getLong(1)})")
    chosen
  }

  /** THE hot-bucket valve, shared by every bucketed channel (self-join,
    * cross-table, tiny-gram): ONE eager stats job off the raw `entries` — a
    * map-side partial agg shuffling only (sh, partial-count) pairs,
    * deliberately NOT the full exchange below (shuffle files are not reused
    * across separate actions, so an eager action through `parted` would pay
    * the whole entries exchange twice — measured 6× slower on the candidates
    * stage at 120k clips). The job returns the hot KEYS themselves (with
    * their dfs), so metrics are counted locally AND the anti-join probe is a
    * broadcast local relation — the main job runs no second aggregation at
    * all. Above [[hotKeyBroadcastBound]] keys (pathological corpus) it falls
    * back to recomputing the hot set on the repartitioned exchange, reused
    * WITHIN the main job by the df-aggregate, the anti-join probe and the
    * downstream join sides (identical canonical subtree → ReusedExchange).
    * Input must carry an `sh` bucket column; output is the cold entries ON
    * the exchange.
    *
    * `cap` encoding: > 0 = that fixed cap; 0 = AUTO with
    * [[autoCapDefaultWorkFactor]]; < 0 = AUTO with work factor −cap (see
    * [[autoCap]]).
    *
    * `precomputedHot`: hot keys already computed (and counted into the
    * accumulators) by [[batchedHotStats]] — the per-invocation stats job is
    * then skipped entirely. */
  private[graft] def dropHotBuckets(
      entries: DataFrame,
      cap: Int,
      cappedBuckets: LongAccumulator,
      cappedPairsLost: Option[LongAccumulator],
      broadcastBound: Int = hotKeyBroadcastBound,
      precomputedHot: Option[Array[Long]] = None): DataFrame = {
    val spark = entries.sparkSession
    import spark.implicits._
    precomputedHot match {
      case Some(keys) =>
        val parted0 = entries.repartition(col("sh"))
        return if (keys.isEmpty) parted0
        else parted0.join(broadcast(keys.toSeq.toDF("sh")), Seq("sh"), "left_anti")
      case None =>
    }
    val effCap =
      if (cap > 0) cap
      else autoCap(entries, if (cap == 0) autoCapDefaultWorkFactor else -cap.toLong)
    val hotArr = entries.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter($"df" > effCap)
      .limit(broadcastBound + 1)
      .collect()

    val parted = entries.repartition(col("sh"))
    if (hotArr.length <= broadcastBound) {
      JobLedger.add(cappedBuckets, hotArr.length)
      cappedPairsLost.foreach { acc =>
        var pairs = 0L
        hotArr.foreach { r => val df = r.getLong(1); pairs += df * (df - 1) / 2 }
        JobLedger.add(acc, pairs)
      }
      if (hotArr.isEmpty) parted
      else {
        val hotKeys = hotArr.map(_.getLong(0)).toSeq.toDF("sh")
        parted.join(broadcast(hotKeys), Seq("sh"), "left_anti")
      }
    } else {
      // beyond the broadcast bound: exact metrics need a second (partial-agg)
      // pass; the anti-join probe recomputes on the parted exchange (reused)
      val stats = entries.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter($"df" > effCap)
        .agg(count(lit(1)).as("buckets"),
          coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L)).as("pairs")).head()
      JobLedger.add(cappedBuckets, stats.getLong(0))
      cappedPairsLost.foreach(JobLedger.add(_, stats.getLong(1)))
      val hot0 = parted.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter($"df" > effCap).select("sh")
      parted.join(hot0, Seq("sh"), "left_anti")
    }
  }

  /** ONE eager stats job for SEVERAL bucketed entry sets (r6): each channel
    * valve previously ran its own hot-key stats action — ~0.2 s of fixed
    * job cost each on a toy corpus and one full entry-generation pass each
    * at scale. Tagging the entry sets and aggregating the union computes
    * every set's hot keys (per-set cap) in a single job; metrics are
    * counted into each set's accumulators here, exactly once, on the
    * driver. Returns per set Some(hotKeys) — or None for EVERY set when
    * the combined hot-key count exceeds `broadcastBound` (pathological;
    * the caller's [[dropHotBuckets]] then runs its own beyond-bound
    * shuffled-anti-join path with exact metrics). Sets with AUTO caps
    * (cap ≤ 0) must not be passed here — they need the per-set histogram. */
  private[graft] def batchedHotStats(
      specs: Seq[(DataFrame, Int, LongAccumulator, Option[LongAccumulator])],
      broadcastBound: Int = hotKeyBroadcastBound): Seq[Option[Array[Long]]] = {
    require(specs.nonEmpty && specs.forall(_._2 > 0), "batchedHotStats needs fixed caps")
    val spark = specs.head._1.sparkSession
    val tagged = specs.zipWithIndex
      .map { case ((e, _, _, _), i) => e.select(lit(i).as("tag"), col("sh")) }
      .reduce(_ union _)
    val hotCond = specs.zipWithIndex
      .map { case ((_, cap, _, _), i) => col("tag") === i && col("df") > cap }
      .reduce(_ || _)
    val hotArr = tagged.groupBy("tag", "sh").agg(count(lit(1)).as("df"))
      .filter(hotCond)
      .limit(broadcastBound + 1)
      .collect()
    if (hotArr.length > broadcastBound) return specs.map(_ => None)
    val byTag = hotArr.groupBy(_.getInt(0))
    specs.zipWithIndex.map { case ((_, _, cappedBuckets, cappedPairsLost), i) =>
      val rows = byTag.getOrElse(i, Array.empty)
      JobLedger.add(cappedBuckets, rows.length)
      cappedPairsLost.foreach { acc =>
        var pairs = 0L
        rows.foreach { r => val df = r.getLong(2); pairs += df * (df - 1) / 2 }
        JobLedger.add(acc, pairs)
      }
      Some(rows.map(_.getLong(1)))
    }
  }

  /** THE orientation rule: side 1 is the pattern iff it is shorter, ties by
    * id (strict — a member never pairs with itself). Column form. */
  def shorterFirst(n1: Column, id1: Column, n2: Column, id2: Column): Column =
    n1 < n2 || (n1 === n2 && id1 < id2)

  /** Scalar form of the orientation rule. */
  @inline def shorterFirst(n1: Int, id1: String, n2: Int, id2: String): Boolean =
    n1 < n2 || (n1 == n2 && id1 < id2)

  /** (p, c, p_n, c_n) pairs re-oriented by [[shorterFirst]]. */
  def oriented(pairs: DataFrame): DataFrame = {
    val keep = shorterFirst(col("p_n"), col("p"), col("c_n"), col("c"))
    val pick = (x: String, y: String) => when(keep, col(x)).otherwise(col(y))
    pairs.select(pick("p", "c").as("p"), pick("c", "p").as("c"),
      pick("p_n", "c_n").as("p_n"), pick("c_n", "p_n").as("c_n"))
  }

  /** Self-join predicate (R ⋈ R): orientation plus the pattern's P5 upper
    * bound `mx` (the orientation supplies the lower one). */
  val selfWindow: Column =
    shorterFirst(col("a_n"), col("a_id"), col("b_n"), col("b_id")) && col("b_n") <= col("a_mx")

  /** Cross-join predicate (Q ⋈ C): the query's two-sided P5 window. The
    * pattern side is FIXED (the query), so pairs are not length-oriented. */
  val crossWindow: Column = col("b_n") >= col("a_mn") && col("b_n") <= col("a_mx")

  /** THE bucket join: cold side `a` (the pattern side) ⋈ cold side `b` on
    * the bucket hash, with `pred` over the sides' columns prefixed `a_` /
    * `b_` as further join conditions. Returns (p, c, p_n, c_n). */
  def bucketJoin(a: DataFrame, b: DataFrame, pred: Column): DataFrame = {
    val side = (e: DataFrame, pre: String) => e.select(e.columns.map(c => col(c).as(pre + c)).toSeq: _*)
    side(a, "a_").join(side(b, "b_"), col("a_sh") === col("b_sh") && pred)
      .select(col("a_id").as("p"), col("b_id").as("c"), col("a_n").as("p_n"), col("b_n").as("c_n"))
  }

  /** [[dropHotBuckets]] per side, then [[bucketJoin]]. `b = None` is the
    * self-join: both join sides read the same cold entries (the plan still
    * builds one exchange per side — see the object doc). `aHot`/`bHot`: the
    * sides' hot keys already computed by [[batchedHotStats]]. */
  def bucketPairs(
      a: DataFrame,
      b: Option[DataFrame],
      pred: Column,
      cap: Int,
      cappedBuckets: LongAccumulator,
      cappedPairsLost: Option[LongAccumulator] = None,
      aHot: Option[Array[Long]] = None,
      bHot: Option[Array[Long]] = None): DataFrame = {
    val aCold = dropHotBuckets(a, cap, cappedBuckets, cappedPairsLost, precomputedHot = aHot)
    val bCold = b.fold(aCold)(dropHotBuckets(_, cap, cappedBuckets, None, precomputedHot = bHot))
    bucketJoin(aCold, bCold, pred)
  }

  /** Entry rows (sh, id, n) — one per bucket key `f` yields for a row — plus
    * the P5 window columns `window` names, looked up per token count:
    * `mx` for a self-join side, `mn` + `mx` for a cross query side, none
    * for a corpus side. */
  private def entries[T](rows: Dataset[T], window: Seq[(String, Array[Int])])(
      f: T => (String, Int, Iterator[Long])): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val tabs = window.map(_._2).padTo(2, null: Array[Int])
    val (w0, w1) = (tabs(0), tabs(1))
    rows.flatMap { r =>
      val (id, n, keys) = f(r)
      val a = if (w0 == null) 0 else w0(n)
      val b = if (w1 == null) 0 else w1(n)
      keys.map(h => (h, id, n, a, b))
    }.toDF("sh", "id", "n", "w0", "w1")
      .select(Seq(col("sh"), col("id"), col("n")) ++
        window.indices.map(i => col(s"w$i").as(window(i)._1)): _*)
  }

  /** Channel A entries: one per distinct k-shingle of each row with ≥ k
    * tokens (shorter rows go through the tiny channel). */
  def shingleEntries(toks: Dataset[TokRow], k: Int,
      window: Seq[(String, Array[Int])] = Nil): DataFrame =
    entries(toks.filter(_.n_tokens >= k), window)(t =>
      (t.clip_id, t.n_tokens, Hashing.distinctShingles(t.ids, k).iterator))

  /** Channel B entries: one per MinHash band (band index folded into the key). */
  def bandEntries(sigs: Dataset[SigRow], window: Seq[(String, Array[Int])] = Nil): DataFrame =
    entries(sigs, window)(s => (s.clip_id, s.n_tokens, s.band_hashes.iterator.zipWithIndex
      .map { case (h, bd) => Hashing.mix64(h ^ (bd * 0x9e3779b97f4a7c15L)) }))

  /** THE keyed-channel union: channels A and B of `qToks` against `corpus`
    * (None = the self-join over `qToks`), one (p, c, p_n, c_n) frame per
    * enabled channel, not deduplicated. With both channels on fixed caps,
    * every side valve shares ONE [[batchedHotStats]] job. */
  private[graft] def keyedPairs(
      qToks: Dataset[TokRow],
      qSigs: => Dataset[SigRow],
      corpus: Option[(Dataset[TokRow], () => Dataset[SigRow])],
      cfg: DedupConfig,
      cappedShingleBuckets: LongAccumulator,
      cappedShinglePairs: Option[LongAccumulator],
      cappedBandBuckets: LongAccumulator): Seq[DataFrame] = {
    val (ec, fuzzy, maxN) = (cfg.editCosts, cfg.threshold, cfg.maxTokensInPattern)
    val (window, pred) = corpus match {
      case None => (Seq("mx" -> maxAcceptTable(ec, fuzzy, maxN)), selfWindow)
      case Some(_) =>
        val (mn, mx) = acceptWindowTable(ec, fuzzy, maxN)
        (Seq("mn" -> mn, "mx" -> mx), crossWindow)
    }
    // per channel: query side, corpus side (None = self-join), cap, accumulators
    type Channel = (DataFrame, Option[DataFrame], Int, LongAccumulator, Option[LongAccumulator])
    val channels =
      (if (!cfg.useNgramChannel) Nil else Seq[Channel]((shingleEntries(qToks, cfg.shingleK, window),
        corpus.map(c => shingleEntries(c._1, cfg.shingleK)),
        cfg.shingleDfCap, cappedShingleBuckets, cappedShinglePairs))) ++
      (if (!cfg.useMinhashChannel) Nil else Seq[Channel]((bandEntries(qSigs, window),
        corpus.map(c => bandEntries(c._2())), cfg.bandDfCap, cappedBandBuckets, None)))
    val sides = channels.flatMap { case (q, c, cap, acc, lost) =>
      (q, cap, acc, lost) +: c.map(e => (e, cap, acc, Option.empty[LongAccumulator])).toSeq
    }
    val hots = (if (channels.size == 2 && channels.forall(_._3 > 0)) batchedHotStats(sides)
      else sides.map(_ => None)).iterator
    channels.map { case (q, c, cap, acc, lost) =>
      val qHot = hots.next()
      bucketPairs(q, c, pred, cap, acc, lost, qHot, c.flatMap(_ => hots.next()))
    }
  }

  /** Bucket key of an n-gram with its length folded in (a 1-gram must never
    * meet a 2-gram bucket). */
  @inline private def gramKey(ids: Array[Long], start: Int, n: Int): Long =
    Hashing.mix64(Hashing.shingleHash(ids, start, n) ^ (n.toLong * 0x9e3779b97f4a7c15L))

  /** Channel C: tiny patterns (fewer than shingleK tokens) of `tinySide`
    * against the rows of `corpusSide`, as (p, c, p_n, c_n). A tiny pattern
    * can only match rows containing its FULL token sequence as a contiguous
    * substring (its clamped min-subsequence length equals its own length).
    * `selfDedup` (the two sides are one table): same-id pairs are excluded,
    * pairs are oriented by [[shorterFirst]] and the length check is the
    * both-orientation [[lengthReject]]; otherwise the direction is fixed
    * (p = tiny side) with the one-sided pattern-is-query rejection (they
    * differ only under asymmetric insert/delete costs).
    *
    * Count-first (r6): take(cap+1) on a side with NO tiny rows — the common
    * case — pays up to 4 escalating limit-scan jobs before concluding
    * empty; one count() settles both the emptiness and the broadcast
    * decision. Two formulations by tiny-set size:
    *  - ≤ tinyPatternBroadcastCap: broadcast the tiny set and scan (exact,
    *    cheapest — tiny transcripts are rare);
    *  - beyond it: the tiny pattern's full-sequence hash equi-joins the
    *    corpus side's exploded (n < k)-gram position hashes through
    *    [[bucketJoin]]. Containment becomes hash equality (64-bit — the same
    *    probabilistic envelope as every other hash channel), and the P5
    *    window restricts the exploded side to rows short enough to match ANY
    *    tiny length, so the explosion is bounded. */
  def tinyPairs(
      tinySide: Dataset[TokRow],
      corpusSide: Dataset[TokRow],
      cfg: DedupConfig,
      cappedBuckets: LongAccumulator,
      selfDedup: Boolean): DataFrame = {
    val spark = tinySide.sparkSession
    import spark.implicits._
    val k = cfg.shingleK
    val fuzzy = cfg.threshold
    val ec = cfg.editCosts

    val tinyRows = tinySide.filter(_.n_tokens < k)
    val nTiny = tinyRows.count()
    if (nTiny == 0)
      spark.emptyDataset[(String, String, Int, Int)].toDF("p", "c", "p_n", "c_n")
    else if (nTiny <= cfg.tinyPatternBroadcastCap) {
      val tiny: Array[(String, Array[Long], Int)] =
        tinyRows.map(t => (t.clip_id, t.ids, t.n_tokens)).collect()
      val bc = spark.sparkContext.broadcast(tiny)
      corpusSide.flatMap { row =>
        val out = new scala.collection.mutable.ArrayBuffer[(String, String, Int, Int)]
        val tinies = bc.value
        var t = 0
        while (t < tinies.length) {
          val (tid, tids, tn) = tinies(t)
          val n = row.n_tokens
          val rejected =
            if (selfDedup) tid == row.clip_id || lengthReject(tn, n, ec, fuzzy)
            else SuffixIndex.theoreticalRejection(tn, n, ec, fuzzy)
          if (!rejected && containsSubsequence(row.ids, tids))
            out += (if (!selfDedup || shorterFirst(tn, tid, n, row.clip_id)) (tid, row.clip_id, tn, n)
              else (row.clip_id, tid, n, tn))
          t += 1
        }
        out.iterator
      }.toDF("p", "c", "p_n", "c_n")
    } else {
      val mx =
        if (selfDedup) maxAcceptTable(ec, fuzzy, cfg.maxTokensInPattern)
        else acceptWindowTable(ec, fuzzy, cfg.maxTokensInPattern)._2
      val maxCand = (1 until k).map(n => mx(n)).max
      val tinyE = tinySide.filter(t => t.n_tokens < k && t.n_tokens > 0)
        .map(t => (gramKey(t.ids, 0, t.n_tokens), t.clip_id, t.n_tokens, mx(t.n_tokens)))
        .toDF("sh", "id", "n", "mx")
      val gramE = corpusSide.filter(_.n_tokens <= maxCand).flatMap { r =>
        val seen = new java.util.HashSet[Long]()
        val out = new scala.collection.mutable.ArrayBuffer[(Long, String, Int)]
        var n = 1
        while (n < k) {
          var p = 0
          while (p + n <= r.n_tokens) {
            val key = gramKey(r.ids, p, n)
            if (seen.add(key)) out += ((key, r.clip_id, r.n_tokens))
            p += 1
          }
          n += 1
        }
        out.iterator
      }.toDF("sh", "id", "n")
      // hot-gram valve on the gram side only (the tiny side has one entry
      // per row — its buckets ARE the gram side's). RECOVERY BOUNDARY: a
      // dropped hot gram loses its (tiny ⊂ near-tiny) containment pairs —
      // the MinHash channel recovers only EXACT tiny duplicates (identical
      // tiny rows share their clamped full-sequence shingle and so co-bucket
      // in bands; a tiny row never shares k-shingles with a longer row). The
      // loss is visible in the caller's dedicated tiny-gram accumulator.
      val gCold = dropHotBuckets(gramE, cfg.shingleDfCap, cappedBuckets, None)
      val idCond = if (selfDedup) col("a_id") =!= col("b_id") else lit(true)
      val pairs = bucketJoin(tinyE, gCold, idCond && col("b_n") <= col("a_mx"))
      if (selfDedup) oriented(pairs) else pairs
    }
  }

  /** Cross-table CONTAINMENT gram channel — the candidate generator for
    * beyond-memory subsequence retrieval (J4,
    * /root/reference/src/fuzzy_match.cc:250-365) and containment
    * decontamination: queries join corpus rows sharing ANY g-gram,
    * g = min(shingleK, max(1, minSubseqLength)). Soundness: every
    * admissible host contains a contiguous run of ≥ the query's clamped
    * minimum msl, and msl ≥ minSubseqLength ≥ g, so host and query share a
    * g-gram — recall is exact up to the hot-gram cap (dropped buckets
    * COUNTED; `cap` should sit well above the dedup shingle cap, because a
    * capped gram here can drop a containment host no other channel
    * recovers). NO P5 length window: containment is length-asymmetric — a
    * 6-token probe legitimately matches a 300-token host. Queries shorter
    * than their own clamped minimum emit nothing (the kernel returns None
    * for them). */
  def crossContainmentGramChannel(
      qToks: Dataset[TokRow],
      cToks: Dataset[TokRow],
      cfg: DedupConfig,
      cap: Int,
      cappedBuckets: LongAccumulator): Dataset[CandPair] = {
    val spark = qToks.sparkSession
    import spark.implicits._
    val g = math.min(cfg.shingleK, math.max(1, cfg.minSubseqLength))
    val msl0 = cfg.minSubseqLength
    val ratio = cfg.minSubseqRatio
    val qEntries = shingleEntries(qToks.filter { t =>
      var msl = msl0
      if ((ratio * t.n_tokens).toInt > msl) msl = (ratio * t.n_tokens).toInt
      t.n_tokens >= msl
    }, g)
    val cEntries = shingleEntries(cToks, g)
    // both side valves share one batched stats job (r6) for fixed caps
    val hots =
      if (cap > 0) batchedHotStats(Seq(
        (qEntries, cap, cappedBuckets, None),
        (cEntries, cap, cappedBuckets, None)))
      else Seq(None, None)
    // deduplicated like `cross`: a pair sharing m grams must reach the
    // verify group ONCE — duplicate group members would consume the J4
    // kernel's numberOfMatches scan budget and change which candidates get
    // verified (observed: self-matches lost behind double-counted siblings)
    bucketPairs(qEntries, Some(cEntries), lit(true), cap, cappedBuckets,
        aHot = hots(0), bHot = hots(1))
      .select("p", "c").dropDuplicates("p", "c").as[CandPair]
  }

  /** Contiguous-substring containment of `needle` in `hay`. */
  def containsSubsequence(hay: Array[Long], needle: Array[Long]): Boolean = {
    if (needle.length == 0 || needle.length > hay.length) return false
    var i = 0
    val limit = hay.length - needle.length
    while (i <= limit) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return true
      i += 1
    }
    false
  }

  /** Self candidates: union of the enabled channels over `toks`,
    * deduplicated. */
  def apply(
      toks: Dataset[TokRow],
      sigs: => Dataset[SigRow],
      cfg: DedupConfig,
      cappedShingleBuckets: LongAccumulator,
      cappedShinglePairs: LongAccumulator,
      cappedBandBuckets: LongAccumulator,
      cappedTinyGramBuckets: LongAccumulator): Dataset[CandPair] = {
    val spark = toks.sparkSession
    import spark.implicits._
    (keyedPairs(toks, sigs, None, cfg, cappedShingleBuckets, Some(cappedShinglePairs),
      cappedBandBuckets) :+
      tinyPairs(toks, toks, cfg, cappedTinyGramBuckets, selfDedup = true))
      .map(_.select("p", "c")).reduce(_ union _).dropDuplicates("p", "c").as[CandPair]
  }

  /** Cross candidates (queries vs corpus — the generator of
    * FuzzyRetrieval.topkIndexed's shuffle path): union of the enabled channels,
    * deduplicated; p = query id, c = corpus id (self pairs KEPT — a query
    * present in the corpus legitimately matches itself, as in the
    * reference). */
  def cross(
      qToks: Dataset[TokRow],
      cToks: Dataset[TokRow],
      qSigs: => Dataset[SigRow],
      cSigs: => Dataset[SigRow],
      cfg: DedupConfig,
      cappedShingleBuckets: LongAccumulator,
      cappedBandBuckets: LongAccumulator,
      cappedTinyGramBuckets: LongAccumulator): Dataset[CandPair] = {
    val spark = qToks.sparkSession
    import spark.implicits._
    (keyedPairs(qToks, qSigs, Some((cToks, () => cSigs)), cfg, cappedShingleBuckets, None,
      cappedBandBuckets) :+
      tinyPairs(qToks, cToks, cfg, cappedTinyGramBuckets, selfDedup = false))
      .map(_.select("p", "c")).reduce(_ union _).dropDuplicates("p", "c").as[CandPair]
  }
}
