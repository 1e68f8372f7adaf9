package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.data.Clip
import graft.dedup.{DedupConfig, FuzzyRetrieval}
import graft.kernel.{EditCosts, Matcher}
import graft.text.PT

/** The reference's flagship top-k retrieval query (`-a match`) end-to-end
  * THROUGH SPARK: tm1 golden fixtures (/root/reference/test/data/test-tm1,
  * assertions as /root/reference/test/test.cc:38-100 — exact id set, order,
  * scores within 0.009) asserted on [[FuzzyRetrieval.topk]]'s distributed
  * output, plus the contrastive-rerank order and the `-a subseq` surface
  * string through [[FuzzyRetrieval.subsequence]]. */
class FuzzyRetrievalSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("fuzzy-retrieval-spec")
    .getOrCreate()

  private val tm1 = Seq(
    "aa bb cc dd",
    "aa bb bb aa cc dd",
    "aa ｟it｠ bb cc dd",
    "aa bb 13 dd",
    "aa bb cc ee",
    "aa bb cc dd.",
    "aa bb cc dd .",
    ".")

  private def clips(sents: Seq[String], idOf: Int => String): Seq[Clip] =
    sents.zipWithIndex.map { case (s, i) =>
      Clip(idOf(i), Array.emptyByteArray, 16000, 0, "pcm_s16le", s)
    }

  private def corpusDs = {
    import spark.implicits._
    clips(tm1, i => (i + 1).toString).toDS()
  }

  // fixture harness config (test.cc:38-39): min_subseq_length=2, ratio=0.
  // shingleK must track the effective min-subsequence length for the exact
  // channel's recall guarantee (reference candidates share an msl-gram), so
  // the shuffle-path tests need k=2 here; the broadcast path ignores it.
  private def cfg(fuzzy: Float) =
    DedupConfig(threshold = fuzzy, minSubseqLength = 2, minSubseqRatio = 0f, shingleK = 2)

  /** `c` with the shuffle (beyond-memory) path forced. */
  private def shuffled(c: DedupConfig) = c.copy(strategy = "shuffle")

  private def check(
      fuzzy: Float,
      noPerfect: Boolean,
      nmatch: Int,
      pattern: String,
      expected: Seq[(Double, String)]): Unit = {
    import spark.implicits._
    val queries = clips(Seq(pattern), _ => "q").toDS()
    val got = FuzzyRetrieval.topk(queries, corpusDs, cfg(fuzzy), nmatch, noPerfect)
      .collect().sortBy(_.rank)
    assert(got.map(_.query_id).forall(_ == "q"))
    assert(got.map(_.rank).toSeq == (1 to got.length),
      s"ranks not contiguous: ${got.map(_.rank).mkString(",")}")
    assert(got.map(_.s_id).toSeq == expected.map(_._2),
      s"ids for '$pattern'@$fuzzy: got ${got.map(r => (r.score, r.s_id)).mkString(",")} want $expected")
    got.zip(expected).foreach { case (g, (es, id)) =>
      assert(math.abs(g.score - es) <= 0.009, s"score for $id: got ${g.score} want $es")
    }
  }

  test("PERFECT1 through Spark: exact match at threshold 1") {
    check(1f, noPerfect = false, 5, "aa bb cc dd", Seq((1.0, "1")))
  }

  test("FUZZY2 through Spark") {
    check(0.7f, noPerfect = false, 5, "aa bb cc",
      Seq((0.75, "1"), (0.75, "5"), (0.74, "3")))
  }

  test("FUZZY3 through Spark") {
    check(0.6f, noPerfect = false, 5, "aa bb cc",
      Seq((0.75, "1"), (0.75, "5"), (0.74, "3"), (0.60, "6"), (0.60, "7")))
  }

  test("SEP1 through Spark: no_perfect at 0.7") {
    check(0.7f, noPerfect = true, 5, "aa bb cc dd",
      Seq((0.99, "3"), (0.8, "6"), (0.8, "7"), (0.75, "4"), (0.75, "5")))
  }

  test("NOLIMIT through Spark: nmatch=0 returns everything above threshold") {
    check(0.5f, noPerfect = true, 0, "aa bb cc dd",
      Seq((0.99, "3"), (0.80, "6"), (0.80, "7"), (0.75, "4"), (0.75, "5"), (0.66, "2")))
  }

  test("many queries stream through one broadcast index (partition-parallel path)") {
    import spark.implicits._
    // every tm1 sentence queries the corpus it lives in: each must find its
    // own perfect match (rank 1, score 1.0) — except the "." row, which
    // normalizes to a 1-token pattern that still matches itself
    val queries = clips(tm1, i => s"q${i + 1}").toDS().repartition(4)
    val got = FuzzyRetrieval.topk(queries, corpusDs, cfg(0.9f), 1)
      .collect().map(r => r.query_id -> (r.s_id, r.score)).toMap
    (1 to 8).foreach { i =>
      val (sid, score) = got(s"q$i")
      // 6/7 are the same normalized pattern ("dd." ≡ "dd ."), so rank 1 may
      // be either member of the pair; the score must still be perfect
      if (i == 6 || i == 7) assert(Set("6", "7").contains(sid) && score == 1.0)
      else assert(sid == i.toString && score == 1.0, s"q$i got ($sid, $score)")
    }
  }

  test("contrastive rerank order through Spark (test.cc:509-553 order)") {
    import spark.implicits._
    val corpus = clips(Seq("a b c d", "b c d", "d e f"), _.toString).toDS()
    val queries = clips(Seq("a b c d e f"), _ => "q").toDS()
    val c = DedupConfig(threshold = 0f, minSubseqLength = 0, minSubseqRatio = 0f,
      pt = PT.none, editCosts = EditCosts(1f, 1f, 1f))
    val got = FuzzyRetrieval.topk(queries, corpus, c, numberOfMatches = 10,
      contrastiveFactor = 1f, contrastReduce = Matcher.Mean)
      .collect().sortBy(_.rank)
    // reference contrastive_reduce_mean selection order: sentence 0, 2, 1
    assert(got.map(_.s_id).toSeq == Seq("0", "2", "1"),
      s"contrastive order: ${got.map(_.s_id).mkString(",")}")
  }

  test("retrieval output invariants on random corpora: ranks contiguous, scores ordered and above threshold") {
    import spark.implicits._
    val rng = new scala.util.Random(4242)
    val sents = (0 until 120).map { i =>
      val len = 3 + rng.nextInt(10)
      (f"r_$i%04d", Array.fill(len)(s"w${rng.nextInt(9)}").mkString(" "))
    }
    val corpus = sents.map { case (id, t) =>
      Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", t) }.toDS()
    val queries = corpus.filter(c => c.clip_id.stripPrefix("r_").toInt % 3 == 0)
    val thr = 0.6f
    val got = FuzzyRetrieval.topk(queries, corpus, DedupConfig(threshold = thr), 4)
      .collect().groupBy(_.query_id)
    assert(got.nonEmpty)
    got.foreach { case (qid, rows0) =>
      val rows = rows0.sortBy(_.rank)
      assert(rows.map(_.rank).toSeq == (1 to rows.length), s"$qid ranks")
      assert(rows.length <= 4, s"$qid over the top-k limit")
      assert(rows.forall(_.score >= thr - 1e-9), s"$qid below-threshold row")
      assert(rows.sliding(2).forall {
        case Array(a, b) => a.score >= b.score
        case _ => true
      }, s"$qid scores not descending: ${rows.map(_.score).mkString(",")}")
      // a query present in the corpus always has its perfect self-match
      assert(rows.exists(r => r.s_id == qid && r.score == 1.0), s"$qid self match missing")
    }
  }

  test("duplicate corpus ids are tolerated in retrieval (reference TM semantics)") {
    import spark.implicits._
    // the reference indexes whatever ids the TM carries — two rows under the
    // same external id both get indexed and both can match. Only the DEDUP
    // pipeline (where clip_id IS the cluster identity) rejects duplicates.
    val corpus = Seq(
      Clip("x", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd"),
      Clip("x", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc ee"),
      Clip("y", Array.emptyByteArray, 16000, 0, "pcm_s16le", "zz yy xx ww")).toDS()
    val queries = clips(Seq("aa bb cc dd"), _ => "q").toDS()
    val got = FuzzyRetrieval.topk(queries, corpus, cfg(0.7f), 0).collect()
    // both x rows matched: the perfect one at 1.0 and the variant at 0.75
    assert(got.count(_.s_id == "x") == 2, s"got ${got.mkString(",")}")
  }

  test("subsequence retrieval through Spark: containment match + detokenized surface") {
    import spark.implicits._
    val queries = clips(Seq("zz aa bb cc dd zz"), _ => "q").toDS()
    val got = FuzzyRetrieval.subsequence(queries, corpusDs, DedupConfig(), 5).collect()
    assert(got.length == 1)
    assert(got(0).s_id == "1")
    assert(got(0).max_subseq == 4)
    assert(got(0).subseq_surface == "aa bb cc dd")
  }

  test("shuffle subsequence equals the broadcast path on the tm1 fixture") {
    import spark.implicits._
    // every corpus row as a query, plus the containment probe — covers the
    // perfect self-match, the noPerfect=false first-winner semantics and
    // the detokenized surface through the beyond-memory path
    val queries = (clips(tm1, i => "q" + (i + 1)) ++
      clips(Seq("zz aa bb cc dd zz"), _ => "qz")).toDS()
    def key(r: graft.dedup.SubseqRow) =
      (r.query_id, r.s_id, r.score, r.max_subseq, r.subseq_surface)
    val c = cfg(0.5f)
    val bc = FuzzyRetrieval.subsequence(queries, corpusDs, c, 5).collect().map(key).toSet
    val sh = FuzzyRetrieval.subsequence(queries, corpusDs, shuffled(c), 5).collect().map(key).toSet
    assert(bc.nonEmpty, "vacuous: broadcast subsequence returned nothing")
    assert(sh == bc, s"missing=${(bc -- sh).take(5)} extra=${(sh -- bc).take(5)}")
    assert(sh.exists(r => r._1 == "qz" && r._5 == "aa bb cc dd"),
      s"containment probe surface missing: $sh")
  }

  test("shuffle subsequence equals the broadcast path on the synthetic corpus") {
    val corpus = graft.data.SynthCorpus.generate(spark, 400)
    val queries = corpus.filter(c => c.clip_id.stripPrefix("clip_").toLong % 5 == 0)
    val c = DedupConfig()
    def key(r: graft.dedup.SubseqRow) =
      (r.query_id, r.s_id, r.score, r.max_subseq, r.subseq_surface)
    val bc = FuzzyRetrieval.subsequence(queries, corpus, c, 5).collect().map(key).toSet
    val sh = FuzzyRetrieval.subsequence(queries, corpus, shuffled(c), 5).collect().map(key).toSet
    assert(bc.nonEmpty, "vacuous: broadcast subsequence returned nothing")
    assert(sh == bc, s"missing=${(bc -- sh).take(5)} extra=${(sh -- bc).take(5)}")
  }

  // ---- the beyond-memory (shuffle/LSH) path ----

  test("auto past the envelope takes the shuffle path: each entry equals its forced-shuffle call") {
    import spark.implicits._
    val queries = (clips(tm1, i => "q" + (i + 1)) ++
      clips(Seq("zz aa bb cc dd zz"), _ => "qz")).toDS()
    val toks = graft.dedup.TokenizeStage(corpusDs, cfg(0.5f))
    val evalSet = clips(Seq("aa bb cc dd", "aa bb 13 dd"), i => "ev" + i).toDS()
    val entries: Seq[(String, DedupConfig => Set[Any])] = Seq(
      ("topkIndexed", c => FuzzyRetrieval.topkIndexed(queries, toks, c, 0).collect().toSet),
      ("subsequenceIndexed", c => FuzzyRetrieval.subsequenceIndexed(queries, toks, c, 5)
        .collect().toSet),
      ("decontaminate", c => FuzzyRetrieval.decontaminate(corpusDs, evalSet, c,
        alsoContained = true)._2.collect().map(_.clip_id).toSet))
    // 1 row is below every index side here: 8 corpus rows, 2 eval rows
    val auto = cfg(0.5f).copy(broadcastMaxRows = 1)
    for ((entry, run) <- entries) {
      val got = run(auto)
      val want = run(shuffled(auto))
      assert(want.nonEmpty && got == want,
        s"$entry: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("shuffle path equals broadcast path on the synthetic near-dup corpus (all matches)") {
    val corpus = graft.data.SynthCorpus.generate(spark, 400)
    val queries = corpus.filter(c => c.clip_id.stripPrefix("clip_").toLong % 5 == 0)
    val c = DedupConfig(threshold = 0.8f)
    def key(r: graft.dedup.RetrievalRow) = (r.query_id, r.s_id, r.score, r.max_subseq)
    val bc = FuzzyRetrieval.topk(queries, corpus, c, numberOfMatches = 0)
      .collect().map(key).toSet
    val sh = FuzzyRetrieval.topk(queries, corpus, shuffled(c), numberOfMatches = 0)
      .collect().map(key).toSet
    assert(bc.nonEmpty, "vacuous: broadcast path returned nothing")
    assert(sh == bc, s"missing=${(bc -- sh).take(5)} extra=${(sh -- bc).take(5)}")
  }

  test("shuffle path recall >= 0.99 vs broadcast truth when hot-shingle caps trigger") {
    val corpus = graft.data.SynthCorpus.generate(spark, 2400)
    val queries = corpus.filter(c => c.clip_id.stripPrefix("clip_").toLong % 6 == 0)
    val c = DedupConfig(threshold = 0.8f, shingleDfCap = 24, bandDfCap = 96)
    def key(r: graft.dedup.RetrievalRow) = (r.query_id, r.s_id)
    val truth = FuzzyRetrieval.topk(queries, corpus, c, numberOfMatches = 0)
      .collect().map(key).toSet
    val got = FuzzyRetrieval.topk(queries, corpus, shuffled(c), numberOfMatches = 0)
      .collect().map(key).toSet
    assert(truth.size > 400, s"vacuous truth set: ${truth.size}") // at least the self matches
    // the broadcast index IS the full candidate generator, so the LSH path
    // can only miss, never invent: zero extras, recall ≥ 0.99 under caps
    val extras = got -- truth
    assert(extras.isEmpty, s"${extras.size} non-truth matches, e.g. ${extras.take(3)}")
    val recall = 1.0 - (truth -- got).size.toDouble / truth.size
    assert(recall >= 0.99, s"capped retrieval recall $recall (missed ${(truth -- got).size}/${truth.size})")
  }

  test("shuffle path: tm1 NOLIMIT match set (set equality; ranks by score)") {
    import spark.implicits._
    val queries = clips(Seq("aa bb cc dd"), _ => "q").toDS()
    val got = FuzzyRetrieval.topk(queries, corpusDs, shuffled(cfg(0.5f)), 0, noPerfect = true)
      .collect().sortBy(_.rank)
    val want = Seq((0.99, "3"), (0.80, "6"), (0.80, "7"), (0.75, "4"), (0.75, "5"), (0.66, "2"))
    assert(got.map(_.s_id).toSet == want.map(_._2).toSet,
      s"ids: got ${got.map(r => (r.score, r.s_id)).mkString(",")}")
    // scores agree with the fixture per id; ranks are (score desc, s_id asc)
    val byId = got.map(r => r.s_id -> r.score).toMap
    want.foreach { case (es, id) => assert(math.abs(byId(id) - es) <= 0.009, s"$id: ${byId(id)}") }
    assert(got.map(_.rank).toSeq == (1 to got.length))
    assert(got.sortBy(r => (-r.score, r.s_id)).map(_.rank).toSeq == (1 to got.length).toSeq)
  }

  test("shuffle path: tiny query reaches corpus rows by containment") {
    import spark.implicits._
    // "." tokenizes to a single token; its candidates must come from the
    // tiny-query broadcast channel (no shingles exist)
    val queries = clips(Seq("."), _ => "q").toDS()
    val got = FuzzyRetrieval.topk(queries, corpusDs, shuffled(cfg(0.9f)), 0).collect()
    assert(got.exists(r => r.s_id == "8" && r.score == 1.0),
      s"tiny query missed its perfect corpus match: ${got.mkString(",")}")
  }

  test("idf penalty through Spark: exact idf_weight_1 scores on BOTH paths (test.cc:420-452)") {
    import spark.implicits._
    val corpus = clips(Seq("a b c", "a b d", "d d d d d", "d e", "c"), _.toString).toDS()
    val queries = clips(Seq("a b c d"), _ => "q").toDS()
    val c = DedupConfig(threshold = 0f, minSubseqLength = 0, minSubseqRatio = 0f,
      pt = PT.none, editCosts = EditCosts(1f, 0f, 1f), vocabIdfPenalty = 1f,
      shingleK = 2)
    for ((name, path) <- Seq(
        "broadcast" -> FuzzyRetrieval.topk(queries, corpus, c, numberOfMatches = 10),
        "shuffle" -> FuzzyRetrieval.topk(queries, corpus, shuffled(c), numberOfMatches = 10))) {
      val got = path.collect().sortBy(_.rank)
      assert(got.map(_.s_id).toSeq == Seq("0", "1"), s"$name ids: ${got.map(_.s_id).mkString(",")}")
      assert(math.abs(got(0).score - 0.6706515) <= 1e-4, s"$name score0 ${got(0).score}")
      assert(math.abs(got(1).score - 0.6076691) <= 1e-4, s"$name score1 ${got(1).score}")
    }
  }

  test("shuffle path resumes from checkpoints (scored stage restored, not recomputed)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("retr-ckpt").toString
    val queries = clips(Seq("aa bb cc dd"), _ => "q").toDS()
    val run1 = FuzzyRetrieval.topk(queries, corpusDs, shuffled(cfg(0.5f)), 0,
        noPerfect = true, checkpointDir = Some(dir))
      .collect().map(r => (r.query_id, r.rank, r.s_id, r.score)).toSet
    assert(run1.nonEmpty)
    // rerun against a DIFFERENT (empty-ish) corpus with the same checkpoint
    // dir: identical results prove the scored stage was restored, not
    // recomputed from the new input
    val otherCorpus = clips(Seq("zz yy xx"), _ => "other").toDS()
    val run2 = FuzzyRetrieval.topk(queries, otherCorpus, shuffled(cfg(0.5f)), 0,
        noPerfect = true, checkpointDir = Some(dir))
      .collect().map(r => (r.query_id, r.rank, r.s_id, r.score)).toSet
    assert(run2 == run1, s"resume diverged: ${(run1 -- run2).take(3)} / ${(run2 -- run1).take(3)}")
  }

  test("shuffle path: contrastive rerank order matches the broadcast path") {
    import spark.implicits._
    val corpus = clips(Seq("a b c d", "b c d", "d e f"), _.toString).toDS()
    val queries = clips(Seq("a b c d e f"), _ => "q").toDS()
    val c = DedupConfig(threshold = 0f, minSubseqLength = 0, minSubseqRatio = 0f,
      pt = PT.none, editCosts = EditCosts(1f, 1f, 1f))
    val got = FuzzyRetrieval.topk(queries, corpus, shuffled(c), numberOfMatches = 10,
      contrastiveFactor = 1f, contrastReduce = Matcher.Mean)
      .collect().sortBy(_.rank)
    assert(got.map(_.s_id).toSeq == Seq("0", "2", "1"),
      s"contrastive order: ${got.map(_.s_id).mkString(",")}")
  }

  test("decontamination: near-dup and contained eval rows flagged, clean+flagged partition the corpus") {
    import spark.implicits._
    def clip(id: String, text: String) =
      Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val evalWords = (0 until 12).map(i => "e" + ('a' + i).toChar.toString * 3)
    val evalSet = Seq(
      clip("ev1", evalWords.mkString(" ")),
      clip("ev2", "qq ww ee rr tt yy")).toDS()
    val filler = (0 until 12).map(i => "f" + ('a' + i).toChar.toString * 3)
    val corpus = Seq(
      clip("t1", (evalWords.dropRight(1) :+ "zz").mkString(" ")), // near-dup of ev1
      clip("t2", (filler.take(6) ++ Seq("qq", "ww", "ee", "rr", "tt", "yy") ++ filler.drop(6))
        .mkString(" ")), // CONTAINS ev2 verbatim
      clip("t3", filler.mkString(" ")),
      clip("t4", filler.reverse.mkString(" "))).toDS()
    val dcfg = DedupConfig(threshold = 0.8f)

    val (clean1, flagged1) = FuzzyRetrieval.decontaminate(corpus, evalSet, dcfg)
    assert(flagged1.collect().map(_.clip_id).toSet == Set("t1"),
      "direct mode must flag exactly the near-dup (containment is a separate switch)")

    val (clean2, flagged2) = FuzzyRetrieval.decontaminate(corpus, evalSet, dcfg,
      alsoContained = true)
    val f2 = flagged2.collect().map(_.clip_id).toSet
    assert(f2 == Set("t1", "t2"), s"containment mode flagged $f2")
    val c2 = clean2.collect().map(_.clip_id).toSet
    assert(c2 == Set("t3", "t4") && (c2 ++ f2) == corpus.collect().map(_.clip_id).toSet,
      "clean + flagged must partition the corpus")
    // surviving rows pass through byte-identical (the per-row invariant)
    assert(clean2.collect().forall(c => c.transcript.nonEmpty))
  }

  test("decontamination containment: long documents and partial-overlap masking") {
    import spark.implicits._
    def clip(id: String, text: String) =
      Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val evalWords = (0 until 12).map(i => "e" + ('a' + i).toChar.toString * 3)
    val evalSet = Seq(
      clip("ev1", evalWords.mkString(" ")),
      clip("ev2", "qq ww ee rr tt yy")).toDS()
    val filler = (0 until 60).map(i => "f" + ('a' + i % 20).toChar.toString * (2 + i / 20))
    val corpus = Seq(
      // 66-token doc containing ev2 verbatim: a span-ratio clamp
      // (minSubseqRatio·len = 19 > 6) would silently miss this — the J2
      // sweep criterion must not scale the required span with doc length
      clip("long1", (filler.take(30) ++ Seq("qq", "ww", "ee", "rr", "tt", "yy")
        ++ filler.drop(30)).mkString(" ")),
      // masking: shares an 8-token run with ev1 (longer than ev2!) AND
      // contains ev2 in full — a single-best-span probe would examine only
      // the ev1 run (8 < 12, not containment) and miss ev2's containment
      clip("mask1", (evalWords.take(8) ++ Seq("qq", "ww", "ee", "rr", "tt", "yy")
        ++ filler.take(20)).mkString(" ")),
      clip("neg1", filler.mkString(" "))).toDS()
    val dcfg = DedupConfig(threshold = 0.8f)
    val skipped = spark.sparkContext.longAccumulator
    val (_, flagged) = FuzzyRetrieval.decontaminate(corpus, evalSet, dcfg,
      alsoContained = true, fuzzySkippedOverLength = Some(skipped))
    assert(flagged.collect().map(_.clip_id).toSet == Set("long1", "mask1"),
      s"flagged ${flagged.collect().map(_.clip_id).toSet}")
    assert(skipped.value == 0) // none of these docs exceed the 300-token DP cap
  }

  test("decontaminateShuffle equals the broadcast path, incl. past a forced-tiny envelope") {
    import spark.implicits._
    def clip(id: String, text: String) =
      Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val evalWords = (0 until 12).map(i => "e" + ('a' + i).toChar.toString * 3)
    val evalSet = Seq(
      clip("ev1", evalWords.mkString(" ")),
      clip("ev2", "qq ww ee rr tt yy")).toDS()
    val filler = (0 until 60).map(i => "f" + ('a' + i % 20).toChar.toString * (2 + i / 20))
    val corpus = Seq(
      clip("t1", (evalWords.dropRight(1) :+ "zz").mkString(" ")), // near-dup of ev1
      clip("long1", (filler.take(30) ++ Seq("qq", "ww", "ee", "rr", "tt", "yy")
        ++ filler.drop(30)).mkString(" ")), // contains ev2 verbatim
      clip("neg1", filler.mkString(" ")),
      clip("neg2", filler.reverse.mkString(" "))).toDS()
    val dcfg = DedupConfig(threshold = 0.8f)
    def ids(r: (org.apache.spark.sql.Dataset[Clip], org.apache.spark.sql.Dataset[Clip])) =
      (r._1.collect().map(_.clip_id).toSet, r._2.collect().map(_.clip_id).toSet)
    val bc = ids(FuzzyRetrieval.decontaminate(corpus, evalSet, dcfg, alsoContained = true))
    val sh = ids(FuzzyRetrieval.decontaminate(corpus, evalSet, shuffled(dcfg),
      alsoContained = true))
    assert(bc._2 == Set("t1", "long1"), s"vacuous/bad broadcast fixture: $bc")
    assert(sh == bc, s"shuffle=$sh broadcast=$bc")
    // fuzzy-only mode agrees too
    val bc1 = ids(FuzzyRetrieval.decontaminate(corpus, evalSet, dcfg))
    val sh1 = ids(FuzzyRetrieval.decontaminate(corpus, evalSet, shuffled(dcfg)))
    assert(sh1 == bc1 && bc1._2 == Set("t1"))
    // a forced broadcast REFUSES an eval set past the envelope; the shuffle
    // path is the documented remedy and produces the identical partition
    val tiny = dcfg.copy(broadcastMaxRows = 1)
    val e = intercept[IllegalArgumentException] {
      FuzzyRetrieval.decontaminate(corpus, evalSet, tiny.copy(strategy = "broadcast"),
        alsoContained = true)
    }
    assert(e.getMessage.contains("strategy = \"shuffle\""), e.getMessage)
    assert(ids(FuzzyRetrieval.decontaminate(corpus, evalSet, shuffled(tiny),
      alsoContained = true)) == bc)
  }

  test("decontaminateShuffle: over-length corpus rows still containment-flag (and are counted)") {
    import spark.implicits._
    def clip(id: String, text: String) =
      Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val evalSet = Seq(clip("ev2", "qq ww ee rr tt yy")).toDS()
    val filler = (0 until 40).map(i => "g" + ('a' + i % 20).toChar.toString * (2 + i / 20))
    // 46 tokens > maxTokensInPattern=20: the fuzzy DP must skip it (P4,
    // counted) but the containment channel must still flag it
    val corpus = Seq(
      clip("big1", (filler.take(20) ++ Seq("qq", "ww", "ee", "rr", "tt", "yy")
        ++ filler.drop(20)).mkString(" ")),
      clip("neg1", filler.take(18).mkString(" "))).toDS()
    val tight = DedupConfig(threshold = 0.8f, maxTokensInPattern = 20)
    val skipped = spark.sparkContext.longAccumulator
    val (_, flagged) = FuzzyRetrieval.decontaminate(corpus, evalSet, shuffled(tight),
      alsoContained = true, fuzzySkippedOverLength = Some(skipped))
    assert(flagged.collect().map(_.clip_id).toSet == Set("big1"))
    assert(skipped.value == 1L, s"over-length fuzzy skips not counted: ${skipped.value}")
    // matches the broadcast contract on the same fixture
    val (_, bcFlagged) = FuzzyRetrieval.decontaminate(corpus, evalSet, tight,
      alsoContained = true)
    assert(bcFlagged.collect().map(_.clip_id).toSet == Set("big1"))
  }

  test("decontamination fails loudly when eval rows are dropped by tokenize filters") {
    import spark.implicits._
    def clip(id: String, text: String) =
      Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val longEval = clip("evLong", (0 until 30).map(i => "e" + ('a' + i % 20).toChar).mkString(" "))
    val corpus = Seq(clip("t1", "aa bb cc")).toDS()
    val tight = DedupConfig(threshold = 0.8f, maxTokensInPattern = 10)
    val e = intercept[IllegalArgumentException] {
      FuzzyRetrieval.decontaminate(corpus, Seq(longEval).toDS(), tight)
    }
    assert(e.getMessage.contains("unprotect"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      FuzzyRetrieval.decontaminate(corpus, Seq(longEval).toDS(), shuffled(tight))
    }
    assert(e2.getMessage.contains("unprotect"), e2.getMessage)
  }

  test("shuffle path with λ>0 tokenizes the corpus ONCE (rerank join reads the cache)") {
    import spark.implicits._
    // count corpus rows flowing INTO TokenizeStage: with cToks persisted
    // through the rerank join, each row is computed once and every later
    // read hits the cache — the r3 defect unpersisted the cache before the
    // rerank join, re-running the whole corpus TokenizeStage (acc = 2n)
    val rowsTokenized = spark.sparkContext.longAccumulator("corpusRowsTokenized")
    val corpusRaw = clips(Seq("a b c d", "b c d", "d e f"), _.toString)
    val corpus = corpusRaw.toDS().mapPartitions { it =>
      it.map { c => rowsTokenized.add(1); c }
    }
    val queries = clips(Seq("a b c d e f"), _ => "q").toDS()
    val c = DedupConfig(threshold = 0f, minSubseqLength = 0, minSubseqRatio = 0f,
      pt = PT.none, editCosts = EditCosts(1f, 1f, 1f))
    FuzzyRetrieval.topk(queries, corpus, shuffled(c), numberOfMatches = 10,
      contrastiveFactor = 1f, contrastReduce = Matcher.Mean).collect()
    assert(rowsTokenized.value == corpusRaw.length,
      s"corpus tokenized ${rowsTokenized.value}/${corpusRaw.length} row-passes — " +
        "the contrastive branch re-ran TokenizeStage")
  }
}
