package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.{CandidateStage, DedupConfig, DedupPipeline, SignatureStage, TokenizeStage, TokRow}
import graft.kernel.EditCosts

/** The candidate bucket join (codegen equi-join formulation) must emit
  * EXACTLY the pair set of the definitional algorithm: for every bucket of
  * ≤ cap members, all oriented member pairs surviving the P5 length window;
  * nothing from hot buckets. Checked against a driver-side brute force over
  * randomized corpora (seeded — deterministic). */
class CandidateJoinPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = DedupPipeline.sessionDefaults(
    SparkSession.builder().master("local[4]").appName("cand-join-prop"), 4)
    .getOrCreate()

  private def bruteForce(
      entries: Seq[(Long, String, Int)], cap: Int, ec: EditCosts, fuzzy: Float): Set[(String, String)] = {
    entries.groupBy(_._1).values.flatMap { bucket =>
      if (bucket.size > cap) Nil
      else for {
        a <- bucket; b <- bucket
        if a._2 != b._2
        if a._3 < b._3 || (a._3 == b._3 && a._2 < b._2) // orientation
        if !CandidateStage.lengthReject(a._3, b._3, ec, fuzzy)
      } yield (a._2, b._2)
    }.toSet
  }

  /** The shingle channel alone through the keyed-channel union: the self
    * join over `q` (corpus = None) or the cross join `q` ⋈ corpus. */
  private def ngramPairs(
      q: org.apache.spark.sql.Dataset[TokRow],
      corpus: Option[org.apache.spark.sql.Dataset[TokRow]],
      cfg: DedupConfig,
      cappedBuckets: org.apache.spark.util.LongAccumulator,
      cappedPairs: Option[org.apache.spark.util.LongAccumulator]): Set[(String, String)] = {
    val acc = spark.sparkContext.longAccumulator
    CandidateStage.keyedPairs(q, SignatureStage(q, cfg),
        corpus.map(c => (c, () => SignatureStage(c, cfg))),
        cfg.copy(useMinhashChannel = false), cappedBuckets, cappedPairs, acc)
      .flatMap(_.collect()).map(r => (r.getString(0), r.getString(1))).toSet
  }

  private def selfTiny(toks: org.apache.spark.sql.Dataset[TokRow], cfg: DedupConfig,
      acc: org.apache.spark.util.LongAccumulator): Set[(String, String)] =
    CandidateStage.tinyPairs(toks, toks, cfg, acc, selfDedup = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("ngram channel pair set equals driver brute force (random corpora, caps active)") {
    import spark.implicits._
    val rng = new scala.util.Random(2026)
    for (trial <- 1 to 3) {
      val n = 120 + rng.nextInt(120)
      // small vocab → shared shingles + hot buckets both occur
      val rows = (0 until n).map { i =>
        val len = 3 + rng.nextInt(12)
        val toks = Array.fill(len)(s"w${rng.nextInt(12)}")
        (f"d_$i%04d", toks.mkString(" "))
      }
      val cfg = DedupConfig(shingleDfCap = 8)
      val clips = rows.map { case (id, t) =>
        graft.data.Clip(id, Array[Byte](), 16000, 1, "pcm_s16le", t) }.toDS()
      val toks = TokenizeStage(clips, cfg).collect()

      // definitional entries: one per (distinct shingle, doc)
      val entries = toks.toSeq.filter(_.n_tokens >= cfg.shingleK).flatMap { t =>
        graft.kernel.Hashing.distinctShingles(t.ids, cfg.shingleK)
          .map(h => (h, t.clip_id, t.n_tokens))
      }
      val want = bruteForce(entries, cfg.shingleDfCap, cfg.editCosts, cfg.threshold)

      val acc1 = spark.sparkContext.longAccumulator
      val acc2 = spark.sparkContext.longAccumulator
      val got = ngramPairs(TokenizeStage(clips, cfg), None, cfg, acc1, Some(acc2))
      assert(got == want,
        s"trial $trial: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      val hotBuckets = entries.groupBy(_._1).values.count(_.size > cfg.shingleDfCap)
      assert(acc1.value == hotBuckets, s"capped-bucket count ${acc1.value} != $hotBuckets")
    }
  }

  test("hot-bucket valve: shuffled fallback (bound=0) equals the broadcast path, exact metrics") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    val entries = (0 until 400).map { i =>
      ((rng.nextInt(40) + 1).toLong, f"d_$i%04d", 3, 300)
    }.toDF("sh", "id", "n", "mx")
    val cap = 8
    def run(bound: Int): (Set[(Long, String)], Long, Long) = {
      val buckets = spark.sparkContext.longAccumulator
      val pairs = spark.sparkContext.longAccumulator
      val cold = CandidateStage.dropHotBuckets(entries, cap, buckets, Some(pairs), bound)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      (cold, buckets.value, pairs.value)
    }
    val (coldB, bB, pB) = run(1000000) // broadcast local-relation path
    val (coldS, bS, pS) = run(0)       // forced shuffled fallback
    assert(coldB == coldS, s"cold sets diverge: ${(coldB -- coldS).take(3)} / ${(coldS -- coldB).take(3)}")
    assert(bB == bS && pB == pS, s"metrics diverge: ($bB,$pB) vs ($bS,$pS)")
    // exact against a driver recount
    val rows = entries.as[(Long, String, Int, Int)].collect()
    val byBucket = rows.groupBy(_._1)
    val wantHot = byBucket.count(_._2.length > cap)
    val wantPairs = byBucket.values.filter(_.length > cap)
      .map(g => g.length.toLong * (g.length - 1) / 2).sum
    assert(bB == wantHot && pB == wantPairs, s"($bB,$pB) != ($wantHot,$wantPairs)")
    assert(coldB == rows.filter(e => byBucket(e._1).length <= cap)
      .map(e => (e._1, e._2)).toSet)
  }

  test("asymmetric costs: window uses both orientations in the join table") {
    import spark.implicits._
    val ec = EditCosts(insert = 2f, delete = 1f, replace = 1f)
    val rng = new scala.util.Random(7)
    val rows = (0 until 150).map { i =>
      val len = 3 + rng.nextInt(14)
      (f"a_$i%04d", Array.fill(len)(s"w${rng.nextInt(10)}").mkString(" "))
    }
    val cfg = DedupConfig(shingleDfCap = 10, editCosts = ec)
    val clips = rows.map { case (id, t) =>
      graft.data.Clip(id, Array[Byte](), 16000, 1, "pcm_s16le", t) }.toDS()
    val toks = TokenizeStage(clips, cfg).collect()
    val entries = toks.toSeq.filter(_.n_tokens >= cfg.shingleK).flatMap { t =>
      graft.kernel.Hashing.distinctShingles(t.ids, cfg.shingleK)
        .map(h => (h, t.clip_id, t.n_tokens))
    }
    val want = bruteForce(entries, cfg.shingleDfCap, ec, cfg.threshold)
    val got = ngramPairs(TokenizeStage(clips, cfg), None, cfg,
      spark.sparkContext.longAccumulator, Some(spark.sparkContext.longAccumulator))
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("cross-table ngram channel equals driver brute force (two-sided window, per-side caps)") {
    import spark.implicits._
    import graft.kernel.SuffixIndex
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val mkRows = (m: Int, tag: String) => (0 until m).map { i =>
        val len = 3 + rng.nextInt(12)
        (f"${tag}_$i%04d", Array.fill(len)(s"w${rng.nextInt(12)}").mkString(" "))
      }
      val cfg = DedupConfig(shingleDfCap = 8)
      def clipsOf(rows: Seq[(String, String)]) = rows.map { case (id, t) =>
        graft.data.Clip(id, Array[Byte](), 16000, 1, "pcm_s16le", t) }.toDS()
      val qClips = clipsOf(mkRows(60 + rng.nextInt(40), "q"))
      val cClips = clipsOf(mkRows(120 + rng.nextInt(60), "c"))

      def sideEntries(clips: org.apache.spark.sql.Dataset[graft.data.Clip]) =
        TokenizeStage(clips, cfg).collect().toSeq
          .filter(_.n_tokens >= cfg.shingleK)
          .flatMap { t =>
            graft.kernel.Hashing.distinctShingles(t.ids, cfg.shingleK)
              .map(h => (h, t.clip_id, t.n_tokens))
          }
      val qEntries = sideEntries(qClips)
      val cEntries = sideEntries(cClips)
      val qBySh = qEntries.groupBy(_._1).filter(_._2.size <= cfg.shingleDfCap)
      val cBySh = cEntries.groupBy(_._1).filter(_._2.size <= cfg.shingleDfCap)
      val want = (for {
        (sh, qs) <- qBySh.toSeq
        cs <- cBySh.get(sh).toSeq
        q <- qs; c <- cs
        // fixed pattern-is-query direction: one-sided theoretical rejection
        if !SuffixIndex.theoreticalRejection(q._3, c._3, cfg.editCosts, cfg.threshold)
      } yield (q._2, c._2)).toSet

      val got = ngramPairs(TokenizeStage(qClips, cfg), Some(TokenizeStage(cClips, cfg)), cfg,
        spark.sparkContext.longAccumulator, None)
      assert(got == want,
        s"trial $trial: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("tiny-pattern equi-join equals the broadcast scan (and auto-selects past the cap)") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    // many tiny (1-2 token) rows + short rows for them to be contained in
    val rows = (0 until 200).map { i =>
      val len = 1 + rng.nextInt(4)
      (f"t_$i%04d", Array.fill(len)(s"w${rng.nextInt(6)}").mkString(" "))
    }
    // high gram cap: the equality is vs the UNCAPPED broadcast scan
    val cfg = DedupConfig(shingleDfCap = 100000)
    val clips = rows.map { case (id, t) =>
      graft.data.Clip(id, Array[Byte](), 16000, 1, "pcm_s16le", t) }.toDS()
    val toks = TokenizeStage(clips, cfg)
    val bcast = selfTiny(toks, cfg, spark.sparkContext.longAccumulator)
    assert(bcast.nonEmpty, "vacuous tiny-channel fixture")
    val joined = selfTiny(toks, cfg.copy(tinyPatternBroadcastCap = 0),
      spark.sparkContext.longAccumulator)
    assert(joined == bcast,
      s"missing=${(bcast -- joined).take(5)} extra=${(joined -- bcast).take(5)}")
    // past the broadcast cap the channel must degrade to the join, not throw
    val auto = selfTiny(toks, cfg.copy(tinyPatternBroadcastCap = 1),
      spark.sparkContext.longAccumulator)
    assert(auto == bcast)
    // forced-low gram cap: the valve fires, is COUNTED, and only ever drops
    // pairs (subset of the uncapped truth — never inventions)
    val acc = spark.sparkContext.longAccumulator
    val capped = selfTiny(toks, cfg.copy(shingleDfCap = 1, tinyPatternBroadcastCap = 0), acc)
    assert(acc.value > 0, "gram cap=1 never triggered — tiny valve dead")
    assert((capped -- bcast).isEmpty, s"capped run invented pairs: ${(capped -- bcast).take(5)}")
  }

  test("cross pairs over a Q/C split, oriented, equal the self pairs across the split") {
    import spark.implicits._
    val rng = new scala.util.Random(4242)
    // lengths from 1 token: tiny rows (< k) exercise the tiny channel too
    val rows = (0 until 240).map { i =>
      val len = 1 + rng.nextInt(14)
      (f"r_$i%04d", Array.fill(len)(s"w${rng.nextInt(14)}").mkString(" "))
    }
    // default symmetric costs; caps no bucket reaches (a self bucket's df
    // spans Q ∪ C, a cross side's only one table — they agree uncapped)
    val cfg = DedupConfig(shingleDfCap = 100000, bandDfCap = 100000)
    def toksOf(rs: Seq[(String, String)]) = TokenizeStage(rs.map { case (id, t) =>
      graft.data.Clip(id, Array[Byte](), 16000, 1, "pcm_s16le", t) }.toDS(), cfg)
    val (qRows, cRows) = rows.partition(_ => rng.nextInt(3) == 0)
    val qIds = qRows.map(_._1).toSet
    def acc = spark.sparkContext.longAccumulator

    val all = toksOf(rows)
    val selfAcross = CandidateStage(all, SignatureStage(all, cfg), cfg, acc, acc, acc, acc)
      .collect().map(cp => (cp.p, cp.c)).filter { case (p, c) => qIds(p) != qIds(c) }.toSet
    assert(selfAcross.nonEmpty, "vacuous fixture: no self pair crosses the split")

    val (q, c) = (toksOf(qRows), toksOf(cRows))
    val crossPairs = (CandidateStage.keyedPairs(q, SignatureStage(q, cfg),
        Some((c, () => SignatureStage(c, cfg))), cfg, acc, None, acc) ++ Seq(
        CandidateStage.tinyPairs(q, c, cfg, acc, selfDedup = false),
        CandidateStage.tinyPairs(c, q, cfg, acc, selfDedup = false)))
      .reduce(_ union _)
    // the returned lengths are the tokenized lengths of p and c
    val lens = all.collect().map(t => t.clip_id -> t.n_tokens).toMap
    val wrongLens = crossPairs.as[(String, String, Int, Int)].collect()
      .filter { case (p, c, pn, cn) => lens(p) != pn || lens(c) != cn }
    assert(wrongLens.isEmpty, s"p_n/c_n differ from the tokenized lengths: ${wrongLens.take(5).toSeq}")
    val got = CandidateStage.oriented(crossPairs).select("p", "c").as[(String, String)]
      .collect().toSet
    assert(got.exists { case (p, c) => lens(p) < cfg.shingleK || lens(c) < cfg.shingleK },
      "vacuous fixture: no tiny-row pair crosses the split")
    assert(got == selfAcross,
      s"missing=${(selfAcross -- got).take(5)} extra=${(got -- selfAcross).take(5)}")
  }
}
