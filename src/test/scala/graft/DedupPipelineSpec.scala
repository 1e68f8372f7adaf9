package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{AudioPcm, SynthCorpus}
import graft.dedup._
import graft.kernel.Matcher
import graft.oracle.FuzzyMatcher
import graft.obs.JobLedger

/** The north-rule gate: the distributed pipeline's dup-pair decisions must
  * reproduce the single-node oracle's (exact reference semantics) with
  * recall ≥ 0.99 at the same config, and clusters must equal the transitive
  * closure of the oracle's pairs. */
class DedupPipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = DedupPipeline.sessionDefaults(
    SparkSession.builder().master("local[4]").appName("dedup-spec"), 4)
    .getOrCreate()

  private val nRows = 400
  private val cfg = DedupConfig(threshold = 0.8f)

  private def oraclePairs(transcripts: Seq[(String, String)]): Set[(String, String)] = {
    val fm = new FuzzyMatcher(cfg.pt, cfg.maxTokensInPattern)
    transcripts.foreach { case (id, t) => fm.addTm(id, t) }
    fm.allDupPairs(Matcher.Params(
      fuzzy = cfg.threshold,
      minSubseqLength = cfg.minSubseqLength,
      minSubseqRatio = cfg.minSubseqRatio,
      editCosts = cfg.editCosts,
      maxTokensInPattern = cfg.maxTokensInPattern))
  }

  private def norm(a: String, b: String): (String, String) = if (a < b) (a, b) else (b, a)

  private lazy val transcripts = SynthCorpus.transcripts(nRows)
  private lazy val oracle: Set[(String, String)] = oraclePairs(transcripts)

  private lazy val result: DedupResult = {
    val clips = SynthCorpus.generate(spark, nRows)
    DedupPipeline.run(clips, cfg.copy(strategy = "shuffle"))
  }

  private lazy val pipelinePairs: Set[(String, String)] =
    result.edges.collect().map(e => norm(e.a, e.b)).toSet

  test("broadcast strategy produces the identical edge set as the LSH pipeline") {
    val clips = SynthCorpus.generate(spark, nRows)
    val bPairs = DedupPipeline.run(clips, cfg.copy(strategy = "broadcast"))
      .edges.collect().map(e => norm(e.a, e.b)).toSet
    assert(bPairs == pipelinePairs)
    assert(bPairs == oracle, "broadcast path must equal oracle decisions exactly")
  }

  test("oracle finds a meaningful dup-pair set on the synthetic corpus") {
    assert(oracle.size > nRows / 4, s"only ${oracle.size} oracle pairs — corpus too easy/hard")
  }

  test("pipeline dup-pair recall >= 0.99 vs oracle decisions") {
    val missed = oracle -- pipelinePairs
    val recall = 1.0 - missed.size.toDouble / math.max(1, oracle.size)
    assert(recall >= 0.99, s"recall $recall; missed ${missed.take(5)}")
  }

  test("pipeline emits no pairs the oracle rejects (kernel parity)") {
    val extra = pipelinePairs -- oracle
    assert(extra.isEmpty, s"${extra.size} extra pairs, e.g. ${extra.take(5)}")
  }

  test("AUTO df-caps (cap = 0) leave the edge set unchanged on a cold corpus") {
    // the spec corpus's bucket-df histogram is cold (quadratic work ≤ a few ×
    // entries), so the histogram-derived cap must keep every bucket and the
    // result must be IDENTICAL to the hand-set-cap run — auto capping only
    // ever bites a Zipf head (the 480k A/B in BASELINE.md measures that case)
    val clips = SynthCorpus.generate(spark, nRows)
    val aPairs = DedupPipeline.run(clips,
      cfg.copy(strategy = "shuffle", shingleDfCap = 0, bandDfCap = 0))
      .edges.collect().map(e => norm(e.a, e.b)).toSet
    assert(aPairs == pipelinePairs)
  }

  test("clusters equal the transitive closure of oracle pairs") {
    // union-find over oracle pairs
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    oracle.foreach { case (a, b) => union(a, b) }
    val expected = transcripts.map(_._1).map(id => id -> find(id)).toMap

    val got = result.clusters.collect().map(r => r.clip_id -> r.cluster_id).toMap
    // compare partitions (cluster ids are min-member on both sides)
    assert(got.size == expected.size)
    val mismatches = expected.collect { case (id, c) if got.getOrElse(id, "?") != c => (id, c, got.get(id)) }
    assert(mismatches.isEmpty, s"${mismatches.size} cluster mismatches, e.g. ${mismatches.take(5)}")
  }

  test("audio bytes pass through untouched: decoded PCM is bit-exact (SNR = inf)") {
    val clip = SynthCorpus.clipForId(5L, 42L)
    val viaSpark = {
      import spark.implicits._
      SynthCorpus.generate(spark, 8).filter(_.clip_id == clip.clip_id).head()
    }
    val ref = AudioPcm.decodePcm(clip.bytes)
    val got = AudioPcm.decodePcm(viaSpark.bytes)
    assert(AudioPcm.snrDb(ref, got).isPosInfinity)
    assert(viaSpark.transcript == clip.transcript)
  }

  test("every job DedupPipeline.run starts carries a dedup: label; job counts pinned per strategy") {
    // measured without a checkpoint dir on this fixture: 13 broadcast and 29
    // shuffle jobs before the stage sequence was shared with increments
    val clips = SynthCorpus.generate(spark, nRows)
    for ((strategy, pin) <- Seq("broadcast" -> 13, "shuffle" -> 29)) {
      val (r, ledger) = JobLedger.of(spark)(DedupPipeline.run(clips, cfg.copy(strategy = strategy)))
      r.edges.unpersist(); r.clusters.unpersist()
      val jobs = ledger.jobs
      val unlabeled = jobs.filterNot(_.label.startsWith("dedup:"))
      assert(unlabeled.isEmpty, s"$strategy: ${unlabeled.size} of ${jobs.size} jobs carry no " +
        s"dedup: label: ${unlabeled.mkString("; ")}")
      assert(ledger.labels.contains("dedup:verify"), s"$strategy: ${jobs.mkString("; ")}")
      assert(jobs.size <= pin, s"$strategy: ${jobs.size} jobs (pin $pin): ${ledger.labels.mkString("; ")}")
      // reconciliation: the per-label sums attribute every task end once
      val sums = ledger.byLabel.map(_._2).reduce(_ + _)
      assert(ledger.total.tasks > 0 && sums.tasks == ledger.total.tasks &&
        math.abs(sums.taskS - ledger.total.taskS) < 1e-9 && sums.jobs == jobs.size,
        s"$strategy: per-label sums ${sums.row} vs window total ${ledger.total.row}")
      // a task's launch-to-finish wall time holds its executor run time
      assert(ledger.total.durS > 0, s"$strategy: no task wall time recorded: ${ledger.total.row}")
      ledger.byLabel.foreach { case (l, c) =>
        assert(c.durS >= c.taskS, s"$strategy: label $l has dur_s < task_s: ${c.row}")
      }
    }
  }

  test("a forced broadcast past the envelope fails before anything is collected") {
    val clips = SynthCorpus.generate(spark, nRows)
    val e = intercept[IllegalArgumentException](DedupPipeline.run(clips,
      cfg.copy(strategy = "broadcast", broadcastMaxBytes = 1)))
    assert(e.getMessage.contains("past the broadcast envelope") &&
      e.getMessage.contains("strategy = \"shuffle\""), e.getMessage)
  }

  test("metrics rows cover every stage with non-negative wall times") {
    val stages = result.metrics.map(_.stage).toSet
    assert(Set("tokenize", "candidates", "verify", "cluster").subsetOf(stages))
    assert(result.metrics.forall(_.wall_ms >= 0))
  }

  test("recall >= 0.99 holds when hot-shingle caps actually trigger (scale config)") {
    val n = 2400
    val scaleCfg = cfg.copy(strategy = "shuffle", shingleDfCap = 24, bandDfCap = 96,
      useMinhashChannel = true)
    val r = DedupPipeline.run(SynthCorpus.generate(spark, n), scaleCfg)
    val capped = r.metrics.find(_.stage == "candidates").get.extra("capped_shingle_buckets").toLong
    assert(capped > 0, "test corpus never triggered the cap — not exercising the scale path")
    val got = r.edges.collect().map(e => norm(e.a, e.b)).toSet
    val want = oraclePairs(SynthCorpus.transcripts(n))
    val recall = 1.0 - (want -- got).size.toDouble / math.max(1, want.size)
    assert(recall >= 0.99, s"capped recall $recall (missed ${(want -- got).size}/${want.size})")
    val extra = got -- want
    assert(extra.isEmpty, s"capped run emitted ${extra.size} non-oracle pairs")
  }

  test("distributed hash-min CC equals the driver union-find CC") {
    import spark.implicits._
    val local = graft.dedup.ConnectedComponents
      .local(result.edges, result.clusters.select("clip_id").toDF())
      .collect().map(r => (r.clip_id, r.cluster_id)).sorted
    val dist = graft.dedup.ConnectedComponents
      .distributed(result.edges, result.clusters.select("clip_id").toDF(), 50)
      .collect().map(r => (r.clip_id, r.cluster_id)).sorted
    assert(local.sameElements(dist))
  }

  test("BroadcastCorpus.stats counts rows and estimated bytes in one Spark job") {
    import org.apache.spark.sql.functions.sum
    val toks = TokenizeStage(SynthCorpus.generate(spark, 120, partitions = 4), cfg).persist()
    try {
      val rows = toks.count()
      val ((n, bytes), ledger) = JobLedger.of(spark)(BroadcastCorpus.stats(toks, TokenizeStage.rowBytes()))
      assert(ledger.jobs.size == 1, ledger.jobs.mkString("; "))
      assert(n == rows && bytes == toks.agg(sum(TokenizeStage.rowBytes())).head().getLong(0))
    } finally toks.unpersist()
  }

  test("distributed CC fails loudly when it has not converged at maxIterations") {
    import spark.implicits._
    // a 12-vertex path needs ~11 propagation rounds; 4 leave labels unmerged
    val ids = (0 until 12).map(i => f"v$i%02d")
    val path = ids.zip(ids.tail).map { case (a, b) => graft.dedup.Edge(a, b, 1.0, 0, "edit") }.toDS()
    val e = intercept[IllegalStateException](graft.dedup.ConnectedComponents
      .distributed(path, ids.toDF("clip_id"), 4).collect())
    assert(e.getMessage.contains("did not converge") && e.getMessage.contains("maxIterations = 4"),
      e.getMessage)
    // with room to converge the same path is one component
    val ok = graft.dedup.ConnectedComponents.distributed(path, ids.toDF("clip_id"), 50)
      .collect().map(_.cluster_id).toSet
    assert(ok == Set("v00"))
  }

  test("verify-stage salting leaves the edge set unchanged") {
    val clips = SynthCorpus.generate(spark, 240)
    val plain = DedupPipeline.run(clips, cfg.copy(strategy = "shuffle")).edges.collect()
      .map(e => norm(e.a, e.b)).toSet
    val salted = DedupPipeline.run(clips, cfg.copy(strategy = "shuffle", verifySalts = 3))
      .edges.collect().map(e => norm(e.a, e.b)).toSet
    assert(plain == salted)
  }

  test("asymmetric insert/delete costs: both strategies still match the oracle") {
    // asymmetric costs make the DP + P5 window direction-dependent; the
    // pipeline must verify both orientations to keep oracle parity
    val asymCfg = cfg.copy(editCosts = graft.kernel.EditCosts(insert = 1f, delete = 2f, replace = 1f),
      threshold = 0.7f)
    val n = 240
    val want = {
      val fm = new FuzzyMatcher(asymCfg.pt, asymCfg.maxTokensInPattern)
      SynthCorpus.transcripts(n).foreach { case (id, t) => fm.addTm(id, t) }
      fm.allDupPairs(Matcher.Params(
        fuzzy = asymCfg.threshold,
        minSubseqLength = asymCfg.minSubseqLength,
        minSubseqRatio = asymCfg.minSubseqRatio,
        editCosts = asymCfg.editCosts,
        maxTokensInPattern = asymCfg.maxTokensInPattern))
    }
    assert(want.nonEmpty, "asym corpus produced no oracle pairs — test is vacuous")
    val clips = SynthCorpus.generate(spark, n)
    for (strategy <- Seq("broadcast", "shuffle")) {
      val got = DedupPipeline.run(clips, asymCfg.copy(strategy = strategy))
        .edges.collect().map(e => norm(e.a, e.b)).toSet
      assert(got == want, s"$strategy: ${(want -- got).size} missed, ${(got -- want).size} extra")
    }
  }

  test("resumed runs report a 'restored' marker instead of phantom zero-cap metrics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-restore").toString
    val clips = SynthCorpus.generate(spark, 100)
    val shuffleCfg = cfg.copy(strategy = "shuffle")
    DedupPipeline.run(clips, shuffleCfg, Some(dir))
    val r2 = DedupPipeline.run(clips, shuffleCfg, Some(dir))
    val candMetric = r2.metrics.find(_.stage == "candidates").get
    assert(candMetric.extra.get("restored").contains("true"))
    assert(!candMetric.extra.contains("capped_shingle_buckets"))
    assert(r2.metrics.find(_.stage == "verify").get.extra.get("restored").contains("true"))
  }

  test("IDF-weighted matching: both strategies match the oracle at idf=1") {
    val idfCfg = cfg.copy(vocabIdfPenalty = 1f, threshold = 0.7f)
    val n = 240
    val want = {
      val fm = new FuzzyMatcher(idfCfg.pt, idfCfg.maxTokensInPattern)
      SynthCorpus.transcripts(n).foreach { case (id, t) => fm.addTm(id, t) }
      fm.allDupPairs(Matcher.Params(
        fuzzy = idfCfg.threshold,
        minSubseqLength = idfCfg.minSubseqLength,
        minSubseqRatio = idfCfg.minSubseqRatio,
        vocabIdfPenalty = idfCfg.vocabIdfPenalty,
        editCosts = idfCfg.editCosts,
        maxTokensInPattern = idfCfg.maxTokensInPattern))
    }
    assert(want.nonEmpty, "idf corpus produced no oracle pairs — test is vacuous")
    val clips = SynthCorpus.generate(spark, n)
    for (strategy <- Seq("broadcast", "shuffle")) {
      val got = DedupPipeline.run(clips, idfCfg.copy(strategy = strategy))
        .edges.collect().map(e => norm(e.a, e.b)).toSet
      assert(got == want, s"$strategy: ${(want -- got).size} missed, ${(got -- want).size} extra")
    }
  }

  test("byte-based broadcast gate: a low byte cap forces the shuffle path") {
    val clips = SynthCorpus.generate(spark, 120)
    val auto = DedupPipeline.run(clips, cfg.copy(strategy = "auto"))
    assert(auto.metrics.find(_.stage == "verify").get.extra.get("strategy")
      .contains("broadcast"), "120 rows should broadcast at default caps")
    val forced = DedupPipeline.run(clips, cfg.copy(strategy = "auto", broadcastMaxBytes = 1000L))
    assert(forced.metrics.exists(m => m.stage == "candidates"),
      "1 kB byte cap must push the run onto the shuffle path")
    // and the two paths agree on the edge set
    val a = auto.edges.collect().map(e => norm(e.a, e.b)).toSet
    val f = forced.edges.collect().map(e => norm(e.a, e.b)).toSet
    assert(a == f)
  }

  test("resumability: re-run from checkpoints yields identical clusters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val clips = SynthCorpus.generate(spark, 100)
    val r1 = DedupPipeline.run(clips, cfg, Some(dir))
    val c1 = r1.clusters.collect().map(r => (r.clip_id, r.cluster_id)).sorted
    // delete downstream, keep tokens+candidates: resume must reproduce
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/edges"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/clusters"), true)
    val r2 = DedupPipeline.run(clips, cfg, Some(dir))
    val c2 = r2.clusters.collect().map(r => (r.clip_id, r.cluster_id)).sorted
    assert(c1.sameElements(c2))
  }

  test("duplicate clip ids fail loudly in the verify stage, never score silently") {
    import spark.implicits._
    // two DIFFERENT transcripts under the same clip_id "A"; both are shorter
    // than B, so both land on the PATTERN side of the same salted group
    val clips = Seq(
      graft.data.Clip("A", Array[Byte](), 16000, 1, "pcm_s16le", "aa bb cc dd"),
      graft.data.Clip("A", Array[Byte](), 16000, 1, "pcm_s16le", "aa bb cc ee"),
      graft.data.Clip("B", Array[Byte](), 16000, 1, "pcm_s16le", "aa bb cc dd ee")).toDS()
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ messages(x.getCause)
    // BOTH verify strategies must enforce the contract — identical input,
    // identical outcome regardless of corpus size / broadcast decision
    for (strategy <- Seq("shuffle", "broadcast")) {
      val e = intercept[Exception] {
        DedupPipeline.run(clips, cfg.copy(strategy = strategy)).edges.collect()
      }
      assert(messages(e).exists(_.contains("duplicate clip_id")),
        s"$strategy: expected the duplicate-id contract error, got: ${messages(e).mkString(" | ")}")
    }
  }
}
