package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.data.Clip
import graft.dedup.{DedupConfig, DedupPipeline, IncrementalDedup}
import graft.obs.JobLedger

/** Incremental dedup == the full pipeline re-run over the accumulated
  * corpus, on fixtures exercising every incremental case: join an existing
  * cluster, MERGE two existing clusters through a bridge clip, a new-only
  * dup pair, singletons (incl. empty transcript), and a tiny-row dup whose
  * NEW id is smaller than the old cluster's label (label remap). */
class IncrementalDedupSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = DedupPipeline.sessionDefaults(
    SparkSession.builder().master("local[4]").appName("incremental-spec"), 4)
    .getOrCreate()

  private val cfg = DedupConfig() // threshold 0.8, shingleK 3

  private def clip(id: String, text: String) =
    Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)

  private def words(prefix: String): IndexedSeq[String] =
    (0 until 20).map(i => prefix + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)

  private val W = words("w")
  private val X = words("x")
  private val Y = words("y")
  private val V = words("v")

  // old corpus: cluster {a1,a2} (19/20 near-dups, label a1); singletons cx,
  // cy (15/20 = 0.75 < 0.8 — NOT dups of each other); tiny 2-token t1;
  // unrelated singleton s1
  private val oldClips = Seq(
    clip("a1", W.mkString(" ")),
    clip("a2", (W.dropRight(1) :+ "aedit").mkString(" ")),
    clip("cx", X.mkString(" ")),
    clip("cy", (X.take(15) ++ Y.drop(15)).mkString(" ")),
    clip("t1", "tq1 tq2"),
    clip("s1", words("s").mkString(" ")))

  // new batch: n1 joins {a1,a2}; nb bridges cx (17/20) and cy (18/20) —
  // MERGES two old clusters; n2a/n2b a new-only dup pair; ns singleton;
  // ne empty transcript; nt tiny dup of t1 with nt < t1 lexicographically
  // (the merged label becomes the NEW id)
  private val newClips = Seq(
    clip("n1", (W.dropRight(1) :+ "aedit").mkString(" ")), // exact dup of a2
    clip("nb", (X.take(17) ++ Y.drop(17)).mkString(" ")),
    clip("n2a", V.mkString(" ")),
    clip("n2b", (V.dropRight(1) :+ "vedit").mkString(" ")),
    clip("ns", words("q").mkString(" ")),
    clip("ne", ""),
    clip("nt", "tq1 tq2"))

  private def clusterSet(rows: Array[graft.dedup.ClusterRow]): Set[(String, String)] =
    rows.map(r => (r.clip_id, r.cluster_id)).toSet

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/d"

  test("one increment == full pipeline over old ∪ new (join, merge, remap, singletons)") {
    import spark.implicits._
    val dir0 = freshDir("inc-base")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))

    // sanity on the prior state: cx and cy are separate clusters before
    val prior = spark.read.parquet(s"$dir0/clusters").as[graft.dedup.ClusterRow]
      .collect().map(r => r.clip_id -> r.cluster_id).toMap
    assert(prior("cx") == "cx" && prior("cy") == "cy" && prior("a2") == "a1")

    val incDir = freshDir("inc-1")
    val res = IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg, Some(incDir))
    val got = clusterSet(res.clusters.collect())

    val full = DedupPipeline.run((oldClips ++ newClips).toDS(), cfg)
    val want = clusterSet(full.clusters.collect())
    assert(got == want, s"incremental=$got\nfull=$want")

    // the semantics, concretely
    val m = got.toMap
    assert(m("n1") == "a1" && m("a2") == "a1")            // joined existing cluster
    assert(m("cx") == "cx" && m("cy") == "cx" && m("nb") == "cx") // merge via bridge
    assert(m("n2a") == "n2a" && m("n2b") == "n2a")         // new-only dup pair
    assert(m("ns") == "ns" && m("ne") == "ne" && m("s1") == "s1") // singletons
    assert(m("t1") == "nt" && m("nt") == "nt")             // old label remapped to new min id
    val merges = res.mergedLabels.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(merges == Set(("cy", "cx"), ("t1", "nt")), merges.toString)

    // every emitted edge is incident to the batch; old↔old work never re-runs
    val newIds = newClips.map(_.clip_id).toSet
    res.newEdges.collect().foreach(e =>
      assert(newIds.contains(e.a) || newIds.contains(e.b), s"old↔old edge leaked: $e"))

    // committed increment layout — the full run's: clusters (the commit
    // marker) last, readable
    for (t <- Seq("tokens", "edges", "metrics", "clusters"))
      assert(graft.data.TableIO.exists(spark, s"$incDir/$t"), t)
    assert(!graft.data.TableIO.exists(spark, s"$incDir/new_tokens"))
    assert(clusterSet(spark.read.parquet(s"$incDir/clusters")
      .as[graft.dedup.ClusterRow].collect()) == want)
  }

  test("chained increments compose: inc2 over [base, inc1] == full over all three") {
    import spark.implicits._
    val dir0 = freshDir("inc-base2")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))
    val inc1 = freshDir("inc-a")
    IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg, Some(inc1))

    // n3 dups n1 (an INCREMENT-1 row): found only if inc1's tokens count;
    // n4 re-bridges nothing (fresh singleton)
    val batch2 = Seq(
      clip("n3", (W.dropRight(2) ++ Seq("aedit2", "aedit")).mkString(" ")),
      clip("n4", words("r").mkString(" ")))
    val res2 = IncrementalDedup.run(batch2.toDS(), Seq(dir0, inc1), cfg)
    val got = clusterSet(res2.clusters.collect())

    val full = DedupPipeline.run((oldClips ++ newClips ++ batch2).toDS(), cfg)
    assert(got == clusterSet(full.clusters.collect()))
    val m = got.toMap
    assert(m("n3") == "a1" && m("n4") == "n4")
  }

  test("a hot batch bucket is capped and counted; uncapped shingles still pair, all edges exact") {
    import spark.implicits._
    // five batch rows share the trigram "hota hotb hotc" (df 5 > cap 3), and
    // two old rows share it too; h1/h2 also share uncapped W trigrams with
    // each other, with the old a1/a2 cluster and with the longer old wl
    // (where the batch row is the pattern)
    val hot = Seq("hota", "hotb", "hotc")
    val hcfg = cfg.copy(shingleDfCap = 3)
    val old = oldClips ++ Seq(clip("ohot", (hot ++ words("z").drop(3)).mkString(" ")),
      clip("wl", (hot ++ W.drop(3) :+ "wextra").mkString(" ")))
    val batch = Seq(
      clip("h1", (hot ++ W.drop(3)).mkString(" ")),
      clip("h2", (hot ++ W.drop(3).dropRight(1) :+ "hedit").mkString(" ")),
      clip("h3", (hot ++ words("p").drop(3)).mkString(" ")),
      clip("h4", (hot ++ words("r").drop(3)).mkString(" ")),
      clip("h5", (hot ++ words("u").drop(3)).mkString(" ")))
    val dir0 = freshDir("inc-hot-base")
    DedupPipeline.run(old.toDS(), hcfg, Some(dir0))
    val res = IncrementalDedup.run(batch.toDS(), Seq(dir0), hcfg)
    val probe = res.metrics.find(_.stage == "inc_verify").get
    assert(probe.extra("capped_shingle_buckets") == "1", probe.toString)

    val got = res.newEdges.collect().toSet
    val exact = DedupPipeline.run((old ++ batch).toDS(), hcfg.copy(strategy = "broadcast"))
      .edges.collect().toSet
    assert(got.subsetOf(exact), s"non-exact edges: ${got -- exact}")
    val pairs = got.map(e => Set(e.a, e.b))
    assert(Seq(Set("h1", "h2"), Set("h1", "a1"), Set("h1", "wl")).forall(pairs.contains), pairs.toString)
    val ids = batch.map(_.clip_id).toSet
    assert(exact.filter(e => ids(e.a) || ids(e.b)) == got)
  }

  test("a batch past the broadcast envelope fails at the guard and starts no probe job") {
    import spark.implicits._
    val dir0 = freshDir("inc-guard-base")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))
    val (e, ledger) = JobLedger.of(spark)(intercept[IllegalArgumentException](
      IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg.copy(broadcastMaxRows = 2))))
    assert(e.getMessage.contains("incremental batch has 6 rows") &&
      e.getMessage.contains("use a smaller ingest batch, or the full pipeline"), e.getMessage)
    val labels = ledger.labels
    assert(labels.nonEmpty && labels.last == "inc:inc_tokenize", labels.mkString("; "))
    assert(labels.toSet.subsetOf(Set("inc:prior_state", "inc:precheck", "inc:inc_tokenize")),
      labels.mkString("; "))
  }

  test("compact merges a chain into one head; increments over it are unchanged") {
    import spark.implicits._
    val dir0 = freshDir("cmp-base")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))
    val inc1 = freshDir("cmp-inc1")
    IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg, Some(inc1))

    val head = freshDir("cmp-head")
    IncrementalDedup.compact(spark, Seq(dir0, inc1), cfg, head)
    // the head is shaped like a full-run checkpoint and holds the chain state
    assert(graft.data.TableIO.exists(spark, s"$head/tokens"))
    // signatures are not chain state: no increment reads them
    assert(!graft.data.TableIO.exists(spark, s"$head/signatures"))
    assert(clusterSet(spark.read.parquet(s"$head/clusters")
      .as[graft.dedup.ClusterRow].collect()) ==
      clusterSet(spark.read.parquet(s"$inc1/clusters")
        .as[graft.dedup.ClusterRow].collect()))

    // a further increment over the compacted head == over the full chain
    val batch2 = Seq(
      clip("n3", (W.dropRight(2) ++ Seq("aedit2", "aedit")).mkString(" ")),
      clip("n4", words("r").mkString(" ")))
    val viaHead = IncrementalDedup.run(batch2.toDS(), Seq(head), cfg)
    val viaChain = IncrementalDedup.run(batch2.toDS(), Seq(dir0, inc1), cfg)
    assert(clusterSet(viaHead.clusters.collect()) == clusterSet(viaChain.clusters.collect()))
  }

  test("a chain whose increment dir uses the pre-layout new_tokens name still ingests") {
    import spark.implicits._
    val dir0 = freshDir("legacy-base")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))
    val inc1 = freshDir("legacy-inc1")
    IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg, Some(inc1))
    // the increment dir as an older engine committed it
    java.nio.file.Files.move(java.nio.file.Paths.get(inc1, "tokens"), java.nio.file.Paths.get(inc1, "new_tokens"))
    val batch2 = Seq(
      clip("n3", (W.dropRight(2) ++ Seq("aedit2", "aedit")).mkString(" ")),
      clip("n4", words("r").mkString(" ")))
    val got = IncrementalDedup.run(batch2.toDS(), Seq(dir0, inc1), cfg).clusters.collect()
    val full = DedupPipeline.run((oldClips ++ newClips ++ batch2).toDS(), cfg)
    assert(clusterSet(got) == clusterSet(full.clusters.collect()))
  }

  test("ingestStep: bootstrap, increment, batch-id replay skip, auto-compact, config pin") {
    import spark.implicits._
    val state = freshDir("ing-state")
    // batch 0 bootstraps with a full pipeline run
    IncrementalDedup.ingestStep(oldClips.toDS(), 0L, cfg, state, compactAfterIncrements = 1)
    assert(IncrementalDedup.readChain(spark, state).get._1 == Seq("full_0"))
    // batch 1 increments, then the chain (2 dirs > 1) compacts immediately
    IncrementalDedup.ingestStep(newClips.toDS(), 1L, cfg, state, compactAfterIncrements = 1)
    assert(IncrementalDedup.readChain(spark, state).get._1 == Seq("compact_1"))
    val got = clusterSet(IncrementalDedup.currentClusters(spark, state).collect())
    val full = DedupPipeline.run((oldClips ++ newClips).toDS(), cfg)
    assert(got == clusterSet(full.clusters.collect()))
    // replaying batch 1 after its commit is a no-op (at-least-once safety)
    IncrementalDedup.ingestStep(newClips.toDS(), 1L, cfg, state, compactAfterIncrements = 1)
    assert(IncrementalDedup.readChain(spark, state).get._1 == Seq("compact_1"))
    assert(clusterSet(IncrementalDedup.currentClusters(spark, state).collect()) == got)
    // a semantics-config change against existing state fails loudly
    val e = intercept[IllegalArgumentException](IncrementalDedup.ingestStep(
      Seq(clip("z9", "zz yy xx ww")).toDS(), 2L, cfg.copy(threshold = 0.5f), state))
    assert(e.getMessage.contains("config mismatch"))
    // ...but execution-knob changes are allowed
    IncrementalDedup.ingestStep(Seq(clip("z9", "zz yy xx ww")).toDS(), 2L,
      cfg.copy(shufflePartitions = 8), state, compactAfterIncrements = 10)
    assert(IncrementalDedup.readChain(spark, state).get._1 == Seq("compact_1", "inc_2"))
  }

  test("one increment fires a BOUNDED number of Spark jobs (planning-pathology tripwire)") {
    // Regression gate for the round-5 finding: persisted (not checkpointed)
    // intermediates kept the full lineage plan alive and AQE re-optimized it
    // per query stage per action — a 300-clip increment fired 343 jobs and
    // spent 821 s of driver CPU in Catalyst. With typed table reads, the
    // two-job precheck and the driver-side label contraction an increment on
    // this fixture is 6 jobs (23 before them, 59 with the candidate and
    // verify shuffles the broadcast-batch probe replaced); the cap is that
    // plus 2. Job WALLS are host lottery, job COUNT is deterministic — so the
    // count is the tripwire.
    import spark.implicits._
    val base = freshDir("jobcount-base")
    DedupPipeline.run(spark.createDataset(oldClips), cfg, Some(base))
    // the ledger window covers the increment call only; every job in it
    // carries the increment's phase label
    val (_, ledger) = JobLedger.of(spark)(
      IncrementalDedup.run(spark.createDataset(newClips), Seq(base), cfg))
    val nJobs = ledger.jobs.size
    assert(nJobs > 0, "no job in the window — the gate is counting nothing")
    val unlabeled = ledger.labels.filterNot(_.startsWith("inc:"))
    assert(unlabeled.isEmpty, s"${unlabeled.size} of $nJobs increment jobs carry no inc: label")
    assert(nJobs <= 8,
      s"one increment fired $nJobs phased Spark jobs (6 expected) — a job-per-phase " +
        "regression, or the lineage-truncation discipline (localCheckpoint per O(new) " +
        "intermediate) has regressed: " + ledger.rows.mkString("; "))
  }

  test("an ingestStep with commit and compaction fires a bounded number of Spark jobs, per label") {
    import spark.implicits._
    val state = freshDir("jobcount-step")
    IncrementalDedup.ingestStep(oldClips.toDS(), 0L, cfg, state, compactAfterIncrements = 1)
    val (_, ledger) = JobLedger.of(spark)(
      IncrementalDedup.ingestStep(newClips.toDS(), 1L, cfg, state, compactAfterIncrements = 1))
    assert(IncrementalDedup.readChain(spark, state).get._1 == Seq("compact_1"))
    val jobs = ledger.byLabel.toMap.map { case (l, c) => l -> c.jobs }.withDefaultValue(0)
    val detail = ledger.rows.mkString("; ")
    // typed reads: the chain's tables are read with no schema-inference job
    assert(jobs("inc:prior_state") == 0, detail)
    assert(jobs("inc:precheck") <= 2, detail)
    assert(jobs("inc:compact") <= 2, detail)
    // measured: 12 jobs (36 before typed reads, the two-job precheck and the
    // driver-side contraction); the cap is that plus 2
    assert(ledger.jobs.size <= 14, s"${ledger.jobs.size} jobs (12 measured): $detail")
  }

  test("both contraction paths agree: driver union-find and joins + distributed CC") {
    import spark.implicits._
    // the chained fixture: nb bridges the old clusters cx and cy, ne
    // tokenizes empty, nt remaps an old label to a new id, n3 joins a
    // cluster that increment 1 grew
    def chain(c: DedupConfig) = {
      val state = freshDir("paths-state")
      DedupPipeline.run(oldClips.toDS(), c, Some(s"$state/full_0"))
      val r1 = IncrementalDedup.run(newClips.toDS(), Seq(s"$state/full_0"), c, Some(s"$state/inc_1"))
      val batch2 = Seq(
        clip("n3", (W.dropRight(2) ++ Seq("aedit2", "aedit")).mkString(" ")),
        clip("n4", words("r").mkString(" ")))
      val r2 = IncrementalDedup.run(batch2.toDS(), Seq(s"$state/full_0", s"$state/inc_1"), c,
        Some(s"$state/inc_2"))
      IncrementalDedup.writeChain(spark, state, Seq("full_0", "inc_1", "inc_2"), c, expectPrev = None)
      def merges(r: graft.dedup.IncrementalResult) =
        r.mergedLabels.collect().map(m => (m.getString(0), m.getString(1))).toSet
      (clusterSet(IncrementalDedup.currentClusters(spark, state).collect()), merges(r1), merges(r2))
    }
    val onDriver = chain(cfg)
    val distributed = chain(cfg.copy(ccLocalEdgeCap = 0))
    assert(onDriver == distributed, s"driver $onDriver\ndistributed $distributed")
    assert(onDriver._2 == Set(("cy", "cx"), ("t1", "nt")), onDriver._2.toString)
    val m = onDriver._1.toMap
    assert(m("nb") == "cx" && m("cy") == "cx" && m("ne") == "ne" && m("n3") == "a1", m.toString)
  }

  test("a chain.json lost in writeChain's delete-rename window rolls forward from the tmp") {
    import spark.implicits._
    val state = freshDir("crash-state")
    IncrementalDedup.ingestStep(oldClips.toDS(), 0L, cfg, state)
    IncrementalDedup.ingestStep(newClips.toDS(), 1L, cfg, state)
    // the window: the complete tmp written, chain.json (and its checksum) deleted
    val dir = java.nio.file.Paths.get(state)
    def lose(): Unit = Seq("chain.json", ".chain.json.crc")
      .foreach(f => java.nio.file.Files.deleteIfExists(dir.resolve(f)))
    java.nio.file.Files.copy(dir.resolve("chain.json"), dir.resolve("chain.json.tmp"))
    lose()
    val batch2 = Seq(clip("n3", words("r").mkString(" ")), clip("n4", words("u").mkString(" ")))
    IncrementalDedup.ingestStep(batch2.toDS(), 2L, cfg, state)
    assert(IncrementalDedup.readChain(spark, state).get._1 == Seq("full_0", "inc_1", "inc_2"))
    val all = (oldClips ++ newClips ++ batch2).map(_.clip_id).toSet
    assert(IncrementalDedup.currentClusters(spark, state).collect().map(_.clip_id).toSet == all)
    // neither pointer file over committed dirs: loud, never a re-bootstrap
    lose()
    val e = intercept[IllegalStateException](
      IncrementalDedup.ingestStep(Seq(clip("z9", "zz yy xx ww")).toDS(), 3L, cfg, state))
    assert(e.getMessage.contains("no chain.json") && e.getMessage.contains("inc_2"), e.getMessage)
  }

  test("every Spark job an increment starts carries an inc: phase label, commit included") {
    import spark.implicits._
    val base = freshDir("label-base")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(base))
    val (_, ledger) = JobLedger.of(spark)(
      IncrementalDedup.run(newClips.toDS(), Seq(base), cfg, Some(freshDir("label-inc"))))
    val jobs = ledger.jobs
    // the gate sees the commit: one write per table (tokens, edges, metrics, clusters)
    assert(jobs.count(_.label == "inc:commit") == 4,
      s"the commit's table writes are not all in the window: ${ledger.rows.mkString("; ")}")
    val unlabeled = jobs.filterNot(_.label.startsWith("inc:"))
    assert(unlabeled.isEmpty,
      s"${unlabeled.size} of ${jobs.size} increment jobs carry no inc: label: ${unlabeled.mkString("; ")}")
  }

  private def structured(seed: Long, n: Int): Array[Short] =
    Array.tabulate(n)(i =>
      (500 + (graft.kernel.Hashing.mix64(seed * 1000003L + i) >>> 40) % 1500).toShort)

  private def awrap(id: String, samples: Array[Short], text: String) = {
    val buf = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(buf.putShort)
    Clip(id, graft.ops.AudioOps.wavWrap(buf.array(), 16000), 16000,
      (samples.length * 1000L / 16000).toInt, "pcm_s16le", text)
  }

  test("audio channels incremental == full: committed fingerprints carry the audio state") {
    import spark.implicits._
    val audA = structured(11L, 1600)
    val audE = structured(55L, 1600)
    // transcripts all mutually non-dup — every edge below is AUDIO-made
    val oldA = Seq(
      awrap("a1", audA, W.mkString(" ")),
      awrap("a2", structured(22L, 1600), X.mkString(" ")),
      awrap("s1", structured(33L, 1600), Y.mkString(" ")))
    val newA = Seq(
      // audio dup of OLD a1 (cross-boundary), different transcript
      awrap("n1", audA, V.mkString(" ")),
      // new↔new audio dup pair
      awrap("n3", audE, words("g").mkString(" ")),
      awrap("n4", audE, words("h").mkString(" ")),
      // recording CONTAINING old a2's audio (cross-boundary containment)
      awrap("n5", structured(66L, 320) ++ structured(22L, 1600) ++ structured(67L, 160),
        words("j").mkString(" ")),
      awrap("n2", structured(44L, 1600), words("k").mkString(" "))) // nothing
    val acfg = cfg.copy(useAudioChannel = true, useAudioContainment = true)

    val dir = freshDir("inc-audio-base")
    DedupPipeline.run(oldA.toDS(), acfg, Some(dir))
    val inc1Dir = freshDir("inc-audio-out")
    val inc = IncrementalDedup.run(newA.toDS(), Seq(dir), acfg, Some(inc1Dir))
    val full = DedupPipeline.run((oldA ++ newA).toDS(), acfg)
    assert(clusterSet(inc.clusters.collect()) == clusterSet(full.clusters.collect()))

    // the planted cross-boundary edges, concretely, through the increment
    val kinds = inc.newEdges.collect().map(e => (e.a, e.b, e.kind)).toSet
    assert(kinds.exists(k => Set(k._1, k._2) == Set("n1", "a1") && k._3 == "audio"), kinds.toString)
    assert(kinds.exists(k => Set(k._1, k._2) == Set("n3", "n4") && k._3 == "audio"), kinds.toString)
    assert(kinds.exists(k => Set(k._1, k._2) == Set("n5", "a2") && k._3 == "audio_contain"), kinds.toString)
    assert(!kinds.exists(k => k._1 == "n2" || k._2 == "n2"), kinds.toString)

    // fingerprints must survive the CHAIN: compact [base, inc1] into one
    // head, then a further audio increment over it — m1 is an audio dup of
    // the n3/n4 cluster, whose fingerprints only exist in the compacted
    // tables (the original clips' bytes are long gone)
    val cDir = freshDir("inc-audio-compact")
    IncrementalDedup.compact(spark, Seq(dir, inc1Dir), acfg, cDir)
    val newB = Seq(awrap("m1", audE, words("m").mkString(" ")))
    val inc2 = IncrementalDedup.run(newB.toDS(), Seq(cDir), acfg)
    val fullB = DedupPipeline.run((oldA ++ newA ++ newB).toDS(), acfg)
    assert(clusterSet(inc2.clusters.collect()) == clusterSet(fullB.clusters.collect()))
    val kinds2 = inc2.newEdges.collect().map(e => (Set(e.a, e.b), e.kind)).toSet
    assert(kinds2.contains((Set("m1", "n3"), "audio")) || kinds2.contains((Set("m1", "n4"), "audio")),
      kinds2.toString)
  }

  test("incremental audio envelope guards: each channel refuses a batch past either bound") {
    import spark.implicits._
    val acfg = cfg.copy(useAudioChannel = true, useAudioContainment = true)
    val dir = freshDir("inc-audio-guard-base")
    DedupPipeline.run(Seq(awrap("a1", structured(11L, 1600), W.mkString(" ")),
      awrap("a2", structured(22L, 1600), X.mkString(" "))).toDS(), acfg, Some(dir))
    val batch = Seq(awrap("n1", structured(33L, 1600), V.mkString(" ")),
      awrap("n2", structured(44L, 1600), Y.mkString(" "))).toDS()
    val sites = Seq(
      ("useAudioChannel", acfg.copy(useAudioContainment = false), "incremental audio channel batch"),
      ("useAudioContainment", acfg.copy(useAudioChannel = false),
        "incremental audio containment batch"))
    for ((site, scfg, what) <- sites;
         (bound, tight) <- Seq("broadcastMaxRows = 1" -> scfg.copy(broadcastMaxRows = 1),
           "broadcastMaxBytes = 1" -> scfg.copy(broadcastMaxBytes = 1))) {
      val e = intercept[IllegalArgumentException](IncrementalDedup.run(batch, Seq(dir), tight))
      assert(e.getMessage.contains(s"$what has 2 rows") &&
        e.getMessage.contains("past the broadcast envelope") &&
        e.getMessage.contains("use a smaller ingest batch"), s"$site under $bound: ${e.getMessage}")
    }
  }

  test("loud guards: a batch with a null or a duplicate clip_id fails in the precheck") {
    import spark.implicits._
    val dir0 = freshDir("inc-base-ids")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))
    val e1 = intercept[IllegalArgumentException](
      IncrementalDedup.run((newClips :+ clip(null, "aa bb cc dd")).toDS(), Seq(dir0), cfg))
    assert(e1.getMessage.contains("1 rows in the new batch have null clip_id"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      IncrementalDedup.run((newClips :+ clip("n1", "aa bb cc dd")).toDS(), Seq(dir0), cfg))
    assert(e2.getMessage.contains("clip ids must be unique"), e2.getMessage)
  }

  test("typed reads fail loudly on a clusters table without cluster_id, or with it retyped") {
    import spark.implicits._
    val state = freshDir("typed-state")
    IncrementalDedup.ingestStep(oldClips.toDS(), 0L, cfg, state)
    val head = s"$state/full_0"
    for ((bad, what) <- Seq(Seq(("a1", "x")).toDF("clip_id", "label") -> "has no column cluster_id",
         Seq(("a1", 1)).toDF("clip_id", "cluster_id") -> "holds column cluster_id as int")) {
      bad.write.mode("overwrite").parquet(s"$head/clusters")
      val calls = Seq[(String, () => Any)](
        "priorState" -> (() => IncrementalDedup.run(newClips.toDS(), Seq(head), cfg)),
        "compact" -> (() => IncrementalDedup.compact(spark, Seq(head), cfg, freshDir("typed-compact"))),
        "currentClusters" -> (() => IncrementalDedup.currentClusters(spark, state).collect()))
      for ((call, run) <- calls) {
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains(s"$head/clusters") && e.getMessage.contains(what),
          s"$call: ${e.getMessage}")
      }
    }
  }

  test("loud guards: id collision, idf, audio channels, incomplete prior state") {
    import spark.implicits._
    val dir0 = freshDir("inc-base4")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))
    val dup = Seq(clip("a1", "anything at all here")).toDS()
    val e1 = intercept[IllegalArgumentException](
      IncrementalDedup.run(dup, Seq(dir0), cfg))
    assert(e1.getMessage.contains("already exist"))
    val e2 = intercept[IllegalArgumentException](
      IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg.copy(vocabIdfPenalty = 1f)))
    assert(e2.getMessage.contains("idf"))
    // audio on against a chain bootstrapped WITHOUT it: fingerprints cannot
    // be recomputed (no bytes in committed state) — must fail fast, loudly
    val e3 = intercept[RuntimeException](
      IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg.copy(useAudioChannel = true)))
    assert(e3.getMessage.contains("audio_fps"))
    val e4 = intercept[RuntimeException](
      IncrementalDedup.run(newClips.toDS(), Seq(freshDir("inc-empty")), cfg))
    assert(e4.getMessage.contains("prior state incomplete"))
  }
}
