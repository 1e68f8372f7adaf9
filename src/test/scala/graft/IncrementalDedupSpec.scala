package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.data.Clip
import graft.dedup.{DedupConfig, DedupPipeline, IncrementalDedup}

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

    // committed increment layout: clusters (the commit marker) last, readable
    assert(graft.data.TableIO.exists(spark, s"$incDir/clusters"))
    assert(graft.data.TableIO.exists(spark, s"$incDir/new_tokens"))
    assert(graft.data.TableIO.exists(spark, s"$incDir/metrics"))
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

  test("prefilter off (key bound exceeded) produces the identical assignment") {
    import spark.implicits._
    val dir0 = freshDir("inc-base3")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(dir0))
    val on = IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg)
    val off = IncrementalDedup.run(newClips.toDS(), Seq(dir0), cfg, prefilterMaxKeys = 0)
    assert(clusterSet(on.clusters.collect()) == clusterSet(off.clusters.collect()))
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
    assert(graft.data.TableIO.exists(spark, s"$head/signatures"))
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
    // spent 821 s of driver CPU in Catalyst. With eager localCheckpoint
    // truncation an increment is ~90 jobs regardless of batch size; the cap
    // below is that plus slack for Spark-version drift. Job WALLS are host
    // lottery, job COUNT is deterministic — so the count is the tripwire.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val base = freshDir("jobcount-base")
    DedupPipeline.run(spark.createDataset(oldClips), cfg, Some(base))
    // count ONLY jobs carrying the increment's phase marker: the listener
    // bus is async, so stale bootstrap events could otherwise be delivered
    // to this listener after registration and flake the gate
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).map(_.getProperty("spark.job.description")).orNull
        if (desc != null && desc.startsWith("inc:")) nJobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = IncrementalDedup.run(spark.createDataset(newClips), Seq(base), cfg)
      res.clusters.count()
      Thread.sleep(500) // listener bus drain (private API in Spark 4)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(nJobs.get() > 0, "phase markers missing — the gate is counting nothing")
    assert(nJobs.get() < 120,
      s"one increment fired ${nJobs.get()} phased Spark jobs — the lineage-truncation " +
        "discipline (eager localCheckpoint per O(new) intermediate) has regressed")
  }

  test("every Spark job an increment starts carries an inc: phase label, commit included") {
    import spark.implicits._
    val base = freshDir("label-base")
    DedupPipeline.run(oldClips.toDS(), cfg, Some(base))
    val (_, jobs) = JobLog.of(spark)(
      IncrementalDedup.run(newClips.toDS(), Seq(base), cfg, Some(freshDir("label-inc"))))
    assert(jobs.size > 10, s"only ${jobs.size} jobs seen — the gate counts nothing")
    val unlabeled = jobs.filterNot(_._1.startsWith("inc:"))
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
