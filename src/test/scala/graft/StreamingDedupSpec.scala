package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.data.SynthCorpus
import graft.dedup.{DedupConfig, DedupPipeline, SignatureStage, TokenizeStage}
import graft.streaming.StreamingDedup
import graft.obs.JobLedger

class StreamingDedupSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = DedupPipeline.sessionDefaults(
    SparkSession.builder().master("local[4]").appName("streaming-spec"), 4)
    .getOrCreate()

  private val cfg = DedupConfig()

  test("streaming signature ingest matches the batch stage exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toString
    val clips = SynthCorpus.generate(spark, 64)
    clips.write.mode("overwrite").parquet(dir)

    val q = StreamingDedup.runSignatureIngest(spark, dir, cfg, "sig_sink")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("select * from sig_sink").as[graft.dedup.SigRow]
      .collect().map(s => (s.clip_id, s.simhash, s.band_hashes.toSeq)).sortBy(_._1)

    val batch = SignatureStage(TokenizeStage(clips, cfg), cfg)
      .collect().map(s => (s.clip_id, s.simhash, s.band_hashes.toSeq)).sortBy(_._1)
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("stream-static band join surfaces the dup candidates") {
    import spark.implicits._
    val clips = SynthCorpus.generate(spark, 80)
    val sigs = SignatureStage(TokenizeStage(clips, cfg), cfg).persist()
    val pairs = StreamingDedup.candidatesAgainstCorpus(sigs, sigs, cfg)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // exact dups (variant 1 of each base) must co-bucket with their base
    assert(pairs.contains(("clip_0000000000", "clip_0000000001")))
    assert(pairs.contains(("clip_0000000001", "clip_0000000000")))
  }

  test("stateful first-occurrence dedup keeps one clip per transcript fingerprint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-in2").toString
    SynthCorpus.generate(spark, 40).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(dir)
      .as[graft.data.Clip]
    val q = StreamingDedup.firstOccurrence(stream).toDF("keeper", "fp", "fresh")
      .writeStream.outputMode(OutputMode.Update()).format("memory")
      .queryName("first_occ").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("select * from first_occ").collect()
    val byFp = rows.groupBy(_.getLong(1))
    // each fingerprint resolves to exactly one keeper (min clip_id)
    byFp.foreach { case (_, rs) =>
      assert(rs.map(_.getString(0)).distinct.length == 1)
    }
    // exact-dup variants (0 and 1 of each base) share a fingerprint
    val fps = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFp.exists(_._2.exists(_.getString(0) == "clip_0000000000")))
    assert(!fps.contains("clip_0000000001") || fps("clip_0000000001") == fps("clip_0000000000"))
  }

  test("windowed ingest metrics aggregate with watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-in3").toString
    SynthCorpus.generate(spark, 32).withColumn("ts",
      org.apache.spark.sql.functions.expr(
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0, cast(dur_ms % 120 as decimal(18,6)))"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingDedup.ingestMetrics(stream)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("ingest_metrics").start()
    q.processAllAvailable()
    q.stop()
    // append mode emits only closed windows; just assert the query ran and
    // the aggregation schema is right
    val df = spark.sql("select * from ingest_metrics")
    assert(df.columns.toSet == Set("window", "codec", "n_clips", "chars"))
  }

  test("stream-static near-dup EDGES: candidates + in-stream verify == batch == full-index matcher") {
    import spark.implicits._
    def clip(id: String, text: String) =
      graft.data.Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    // 20-token transcripts: one-token edits keep shingle Jaccard ≈ 0.86, so
    // the minhash band channel surfaces every true pair deterministically
    // (fixed seed) and the edge set equals the full-index matcher's
    val words = (0 until 20).map(i => "w" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
    val other = (0 until 20).map(i => "u" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
    val corpus = Seq(
      clip("c1", words.mkString(" ")),
      clip("c2", (words.dropRight(1) :+ "xx").mkString(" ")),
      clip("c3", other.mkString(" "))).toDS()
    val batch1 = Seq(
      clip("s1", words.mkString(" ")), // exact dup of c1, near-dup of c2
      clip("s2", (0 until 20).map(i => "v" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3).mkString(" "))) // no match
    val batch2 = Seq(clip("s3", (other.dropRight(1) :+ "zz").mkString(" "))) // near-dup c3
    val ecfg = DedupConfig(threshold = 0.8f)

    val inDir = java.nio.file.Files.createTempDirectory("stream-edges-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-edges-ckpt").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("stream-edges-sink").toString + "/out"
    batch1.toDS().write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(inDir)
      .as[graft.data.Clip]
    def runLeg(): Unit = {
      val q = StreamingDedup.edgesAgainstCorpus(stream, corpus, ecfg)
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runLeg() // micro-batch 1
    batch2.toDS().write.mode("append").parquet(inDir)
    runLeg() // micro-batch 2 (restart from checkpoint, processes only the new file)

    val streamed = spark.read.parquet(sinkDir).as[graft.dedup.Edge].collect()
      .map(e => (e.a, e.b, e.score, e.lcs, e.kind)).toSet

    // (a) incremental == batch: the operator on the full input in one go
    val batchEdges = StreamingDedup.edgesAgainstCorpus(
        (batch1 ++ batch2).toDS(), corpus, ecfg)
      .collect().map(e => (e.a, e.b, e.score, e.lcs, e.kind)).toSet
    assert(streamed == batchEdges, s"stream=$streamed batch=$batchEdges")

    // (b) semantics == the reference full-index broadcast matcher's
    // above-threshold decisions (band recall is 1 on this fixture)
    val fullIndex = graft.dedup.FuzzyRetrieval.topk(
        (batch1 ++ batch2).toDS(), corpus, ecfg, numberOfMatches = 0)
      .collect().map(r => (r.query_id, r.s_id, r.score)).toSet
    assert(streamed.map(e => (e._1, e._2, e._3)) == fullIndex,
      s"stream=${streamed.map(e => (e._1, e._2, e._3))} fullIndex=$fullIndex")
    // the planted pairs, concretely
    assert(streamed.exists(e => e._1 == "s1" && e._2 == "c1" && e._3 == 1.0))
    assert(streamed.exists(e => e._1 == "s1" && e._2 == "c2"))
    assert(streamed.exists(e => e._1 == "s3" && e._2 == "c3"))
    assert(!streamed.exists(_._1 == "s2"))
  }

  test("stream-static AUDIO edges: in-stream fingerprint probe == batch, trim/amp invariant") {
    import spark.implicits._
    def structured(seed: Long, n: Int): Array[Short] =
      Array.tabulate(n)(i =>
        (500 + (graft.kernel.Hashing.mix64(seed * 1000003L + i) >>> 40) % 1500).toShort)
    def wrap(id: String, samples: Array[Short]) = {
      val buf = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(buf.putShort)
      graft.data.Clip(id, graft.ops.AudioOps.wavWrap(buf.array(), 16000), 16000,
        (samples.length * 1000L / 16000).toInt, "pcm_s16le", s"t $id")
    }
    val base = (0 until 6).map(g => structured(800 + g, 1600))
    val corpus = base.zipWithIndex.map { case (s, g) => wrap(s"c$g", s) }.toDS()
    val batch1 = Seq(
      wrap("s1", base(0)), // exact dup of c0
      wrap("s2", base(1).map(v => (v / 2).toShort)), // amplitude-halved dup of c1
      wrap("s3", structured(999L, 1600))) // no match
    // silence-padded dup of c2 (trim invariance through the streaming path)
    val batch2 = Seq(wrap("s4", new Array[Short](131) ++ base(2) ++ new Array[Short](57)))
    val ecfg = DedupConfig()

    val inDir = java.nio.file.Files.createTempDirectory("stream-aedges-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-aedges-ckpt").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("stream-aedges-sink").toString + "/out"
    batch1.toDS().write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(inDir)
      .as[graft.data.Clip]
    def runLeg(): Unit = {
      val q = StreamingDedup.audioEdgesAgainstCorpus(stream, corpus, ecfg)
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runLeg() // micro-batch 1
    batch2.toDS().write.mode("append").parquet(inDir)
    runLeg() // micro-batch 2 (restart from checkpoint, processes only the new file)

    val streamed = spark.read.parquet(sinkDir).as[graft.dedup.Edge].collect()
      .map(e => (e.a, e.b, e.score, e.kind)).toSet

    // (a) incremental == batch: the operator on the full input in one go
    val acc = spark.sparkContext.longAccumulator("aedges-batch")
    val batchEdges = StreamingDedup.audioEdgesAgainstCorpus(
        (batch1 ++ batch2).toDS(), corpus, ecfg, cappedBuckets = Some(acc))
      .collect().map(e => (e.a, e.b, e.score, e.kind)).toSet
    assert(streamed == batchEdges, s"stream=$streamed batch=$batchEdges")

    // (b) the planted pairs, concretely — dup/scaled/padded found, noise not
    assert(streamed.map(e => (e._1, e._2)) == Set(("s1", "c0"), ("s2", "c1"), ("s4", "c2")),
      s"got $streamed")
    streamed.foreach(e => assert(e._3 >= ecfg.audioMinCorr && e._4 == "audio"))
  }

  test("stream-static AUDIO CONTAINMENT: excerpt + containing-recording + equal-length dup == batch") {
    import spark.implicits._
    def structured(seed: Long, n: Int): Array[Short] =
      Array.tabulate(n)(i =>
        (500 + (graft.kernel.Hashing.mix64(seed * 1000003L + i) >>> 40) % 1500).toShort)
    def wrap(id: String, samples: Array[Short]) = {
      val buf = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(buf.putShort)
      graft.data.Clip(id, graft.ops.AudioOps.wavWrap(buf.array(), 16000), 16000,
        (samples.length * 1000L / 16000).toInt, "pcm_s16le", s"t $id")
    }
    val base = (0 until 4).map(g => structured(900 + g, 1600)) // 100 frames each
    val corpus = base.zipWithIndex.map { case (s, g) => wrap(s"c$g", s) }.toDS()
    val batch1 = Seq(
      // frame-aligned EXCERPT of c0 (samples 480..1440 = frames 30..89):
      // the arriving clip is the INNER side, expected offset 30
      wrap("x1", base(0).slice(480, 1440)),
      // recording CONTAINING c1 between active structured noise (20 + 100 +
      // 10 frames): the arriving clip is the OUTER side, expected offset 20
      wrap("x2", structured(555L, 320) ++ base(1) ++ structured(556L, 160)),
      wrap("x3", structured(777L, 1600))) // no match
    // silence-padded equal-length dup of c2 (offset-0 degenerate case,
    // trim invariance, and the corpus-is-inner id tie-break c2 < x4)
    val batch2 = Seq(wrap("x4", new Array[Short](131) ++ base(2) ++ new Array[Short](57)))
    val ccfg = DedupConfig()

    val inDir = java.nio.file.Files.createTempDirectory("stream-act-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-act-ckpt").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("stream-act-sink").toString + "/out"
    batch1.toDS().write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(inDir)
      .as[graft.data.Clip]
    def runLeg(): Unit = {
      val q = StreamingDedup.audioContainmentAgainstCorpus(stream, corpus, ccfg)
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runLeg() // micro-batch 1
    batch2.toDS().write.mode("append").parquet(inDir)
    runLeg() // micro-batch 2 (restart from checkpoint)

    val streamed = spark.read.parquet(sinkDir).as[graft.dedup.Edge].collect()
      .map(e => (e.a, e.b, e.lcs, e.score, e.kind)).toSet

    // (a) stream == batch: the batch operator over corpus ∪ stream rows,
    // restricted to stream-incident pairs, re-oriented (a = stream clip)
    val streamIds = Set("x1", "x2", "x3", "x4")
    val acc = spark.sparkContext.longAccumulator("act-batch")
    val all = (corpus.collect().toSeq ++ batch1 ++ batch2).toDS()
    val batchPairs = graft.dedup.AudioContainment.pairs(
        graft.dedup.AudioContainment.fingerprints(all),
        minCorr = ccfg.audioContainMinCorr, cappedBuckets = acc)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
      .filter { case (i, o, _, _) => streamIds.contains(i) ^ streamIds.contains(o) }
      .map { case (i, o, off, corr) =>
        if (streamIds.contains(i)) (i, o, off, corr, "audio_contain")
        else (o, i, off, corr, "audio_contain")
      }.toSet
    assert(streamed == batchPairs, s"stream=$streamed batch=$batchPairs")

    // (b) the planted pairs, concretely: both orientations + the
    // offset-0 degenerate; the noise clip matches nothing
    assert(streamed.map(e => (e._1, e._2, e._3)) ==
      Set(("x1", "c0", 30), ("x2", "c1", 20), ("x4", "c2", 0)), s"got $streamed")
    streamed.foreach(e => assert(e._4 >= ccfg.audioContainMinCorr))
  }

  test("stream-static audio hot chunk buckets are capped AND counted") {
    import spark.implicits._
    val tone = graft.data.AudioPcm.synthWav(5L, 480, 16000)
    val corpus = (0 until 16)
      .map(i => graft.data.Clip(s"c$i", tone, 16000, 30, "pcm_s16le", s"t $i")).toDS()
    val probe = Seq(graft.data.Clip("s0", tone, 16000, 30, "pcm_s16le", "t s0")).toDS()
    val acc = spark.sparkContext.longAccumulator("aedges-cap")
    StreamingDedup.audioEdgesAgainstCorpus(probe, corpus, DedupConfig(),
      bucketCap = 2, cappedBuckets = Some(acc)).count()
    assert(acc.value > 0, "cap=2 never triggered on 16 identical corpus clips")
  }

  test("stream-static envelope guards: each site refuses a corpus past either bound, naming its batch path") {
    import spark.implicits._
    val tone = graft.data.AudioPcm.synthWav(5L, 480, 16000)
    val words = (0 until 20).map(i => "w" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
    val corpus = (0 until 3).map(i => graft.data.Clip(s"c$i", tone, 16000, 30, "pcm_s16le",
      (words.drop(i) :+ s"e$i").mkString(" "))).toDS()
    val probe = corpus.limit(1)
    val sites: Seq[(String, DedupConfig => Any, String)] = Seq(
      ("edgesAgainstCorpus", c => StreamingDedup.edgesAgainstCorpus(probe, corpus, c),
        "use FuzzyRetrieval.topk with strategy = \"shuffle\""),
      ("retrievalAgainstCorpus", c => StreamingDedup.retrievalAgainstCorpus(probe, corpus, c),
        "use strategy = \"shuffle\""),
      ("audioEdgesAgainstCorpus",
        c => StreamingDedup.audioEdgesAgainstCorpus(probe, corpus, c), "use the batch AudioDedup.pairs"),
      ("audioContainmentAgainstCorpus",
        c => StreamingDedup.audioContainmentAgainstCorpus(probe, corpus, c),
        "use the batch AudioContainment.pairs"))
    for ((site, run, alternative) <- sites) {
      run(cfg) // inside the envelope: the operator is defined
      for ((bound, tight) <- Seq("broadcastMaxRows = 1" -> cfg.copy(broadcastMaxRows = 1),
          "broadcastMaxBytes = 1" -> cfg.copy(broadcastMaxBytes = 1))) {
        val e = intercept[IllegalArgumentException](run(tight))
        assert(e.getMessage.contains("past the broadcast envelope") &&
          e.getMessage.contains(alternative), s"$site under $bound: ${e.getMessage}")
      }
    }
    // rows and estimated bytes come from ONE Spark job, checked before
    // anything is collected (it also fills the persisted fingerprints' cache)
    val (_, ledger) = JobLedger.of(spark)(intercept[IllegalArgumentException](
      StreamingDedup.audioEdgesAgainstCorpus(probe, corpus, cfg.copy(broadcastMaxBytes = 1))))
    assert(ledger.jobs.size == 1, s"the audio guard started ${ledger.jobs.size} jobs: ${ledger.jobs}")
  }

  test("duplicate corpus clip_ids both stay in the stream-static band index (TM semantics)") {
    import spark.implicits._
    def clip(id: String, text: String) =
      graft.data.Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val words = (0 until 20).map(i => "w" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
    // same clip_id used TWICE with DIFFERENT transcripts: both rows are
    // legitimate index rows (reference TM semantics — both indexed, both
    // can match); a clip_id-keyed index map would collapse them to one and
    // silently drop the other row's edge (r4 advice)
    val corpus = Seq(
      clip("dup", words.mkString(" ")),
      clip("dup", (words.dropRight(1) :+ "xx").mkString(" "))).toDS()
    val probe = Seq(clip("s1", words.mkString(" "))).toDS()
    val ecfg = DedupConfig(threshold = 0.8f)
    val edges = StreamingDedup.edgesAgainstCorpus(probe, corpus, ecfg)
      .collect().map(e => (e.b, e.score)).toSet
    assert(edges.size == 2, s"one of the duplicate-id corpus rows lost: $edges")
    assert(edges.contains(("dup", 1.0)), edges.toString)
    // equal to the batch broadcast matcher, which indexes both rows
    val batch = graft.dedup.FuzzyRetrieval.topk(probe, corpus, ecfg, numberOfMatches = 0)
      .collect().map(r => (r.s_id, r.score)).toSet
    assert(edges == batch, s"stream=$edges batch=$batch")
  }

  test("streaming index ingest: micro-batches append committed segments, match sees them") {
    import spark.implicits._
    def clip(id: String, text: String) =
      graft.data.Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val icfg = DedupConfig(threshold = 0.8f)
    val idxDir = java.nio.file.Files.createTempDirectory("stream-idx").toString + "/idx"
    graft.dedup.FuzzyRetrieval.saveIndex(
      Seq(clip("base", "aa bb cc dd")).toDS(), icfg, idxDir)

    val inDir = java.nio.file.Files.createTempDirectory("stream-idx-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-idx-ckpt").toString
    Seq(clip("s1", "aa bb cc ee")).toDS().write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(inDir)
      .as[graft.data.Clip]
    // compactAfterSegments=2: the second micro-batch pushes the index past
    // the threshold (base + s1 + s2 = 3 segments), so ingest auto-compacts
    def runLeg(): Unit = {
      val q = StreamingDedup.indexIngest(stream, icfg, idxDir, compactAfterSegments = 2)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    runLeg()
    Seq(clip("s2", "aa bb cc dd ff")).toDS().write.mode("append").parquet(inDir)
    runLeg() // restart from checkpoint: only the new file appends
    val indexed = graft.dedup.FuzzyRetrieval.loadIndex(spark, idxDir, icfg)
      .collect().map(_.clip_id).toSet
    assert(indexed == Set("base", "s1", "s2"), s"streamed rows missing from index: $indexed")
    assert(graft.dedup.FuzzyRetrieval.readIndexMeta(spark, idxDir).segments == 1,
      "streaming ingest did not auto-compact past the segment threshold")
    // and a match job sees them (0.7: s1 'aa bb cc ee' scores 0.75 vs the query)
    val queries = Seq(clip("q", "aa bb cc dd")).toDS()
    val ids = graft.dedup.FuzzyRetrieval.topkIndexed(queries,
        graft.dedup.FuzzyRetrieval.loadIndex(spark, idxDir, icfg),
        icfg.copy(threshold = 0.7f), 5)
      .collect().map(_.s_id).toSet
    assert(ids == Set("base", "s1", "s2"), s"streamed index rows missing from match: $ids")
  }

  test("streaming cluster ingest: bootstrap + increment across restart == full pipeline, auto-compacts") {
    import spark.implicits._
    def clip(id: String, text: String) =
      graft.data.Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    def sent(prefix: String): String =
      (0 until 20).map(i => prefix + ("abcdefghijklmnopqrst" * 2)(i).toString * 3).mkString(" ")
    val batch1 = Seq(clip("a1", sent("w")), clip("cx", sent("x")), clip("s1", sent("s")))
    val batch2 = Seq(
      clip("a2", sent("w").split(' ').dropRight(1).mkString(" ") + " aedit"), // dups a1
      clip("nq", sent("q")))

    val icfg = DedupConfig(shufflePartitions = 4)
    val stateDir = java.nio.file.Files.createTempDirectory("stream-clu").toString + "/state"
    val inDir = java.nio.file.Files.createTempDirectory("stream-clu-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-clu-ckpt").toString
    batch1.toDS().write.mode("overwrite").parquet(inDir)
    def runLeg(): Unit = {
      val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(inDir)
        .as[graft.data.Clip]
      val q = StreamingDedup.clusterIngest(stream, icfg, stateDir, compactAfterIncrements = 1)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    runLeg() // micro-batch 0 bootstraps the chain
    val chain0 = graft.dedup.IncrementalDedup.readChain(spark, stateDir).get._1
    assert(chain0.length == 1 && chain0.head.startsWith("full_"), chain0.toString)
    batch2.toDS().write.mode("append").parquet(inDir)
    runLeg() // restart from checkpoint: only the new file arrives, then the
             // 2-dir chain (> 1) compacts
    val chain1 = graft.dedup.IncrementalDedup.readChain(spark, stateDir).get._1
    assert(chain1.length == 1 && chain1.head.startsWith("compact_"), chain1.toString)

    val got = graft.dedup.IncrementalDedup.currentClusters(spark, stateDir)
      .collect().map(r => (r.clip_id, r.cluster_id)).toSet
    val full = DedupPipeline.run((batch1 ++ batch2).toDS(), icfg)
    val want = full.clusters.collect().map(r => (r.clip_id, r.cluster_id)).toSet
    assert(got == want, s"stream=$got\nbatch=$want")
    assert(got.toMap.apply("a2") == "a1") // the cross-batch dup actually clustered
  }

  test("near-dup edges honor the idf config (== full-index matcher with idf)") {
    import spark.implicits._
    def clip(id: String, text: String) =
      graft.data.Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val words = (0 until 20).map(i => "w" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
    val other = (0 until 20).map(i => "u" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
    val corpus = Seq(
      clip("c1", words.mkString(" ")),
      clip("c2", (words.dropRight(1) :+ "xx").mkString(" ")),
      clip("c3", other.mkString(" "))).toDS()
    // probe = c1's words PLUS two extra corpus-known words (from c3): the
    // extra pattern words are unmatched against c1/c2, so their deletion
    // cost carries the idf weight (the penalty acts on pattern-side
    // insertions/deletions, not equal-length substitutions)
    val probes = Seq(clip("s1", (words ++ other.take(2)).mkString(" ")))
    val icfg = DedupConfig(threshold = 0.7f, vocabIdfPenalty = 1f)
    val got = StreamingDedup.edgesAgainstCorpus(probes.toDS(), corpus, icfg)
      .collect().map(e => (e.a, e.b, e.score)).toSet
    val want = graft.dedup.FuzzyRetrieval.topk(probes.toDS(), corpus, icfg, numberOfMatches = 0)
      .collect().map(r => (r.query_id, r.s_id, r.score)).toSet
    assert(got == want && got.nonEmpty, s"edges=$got fullIndex=$want")
    // idf actually changed the scores vs the non-idf config (non-vacuous)
    val plain = StreamingDedup.edgesAgainstCorpus(probes.toDS(), corpus,
        icfg.copy(vocabIdfPenalty = 0f))
      .collect().map(e => (e.a, e.b, e.score)).toSet
    assert(plain.map(t => (t._1, t._2)) == got.map(t => (t._1, t._2)))
    assert(plain != got, "idf penalty had no effect on edge scores — config ignored?")
  }

  test("streaming decontamination tags contaminated clips == batch, across restart") {
    import spark.implicits._
    def clip(id: String, text: String) =
      graft.data.Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", text)
    val words = (0 until 20).map(i => "w" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
    val filler = (0 until 10).map(i => "f" + ("abcdefghij" * 2)(i).toString * 3)
    val evalSet = Seq(clip("e1", words.mkString(" "))).toDS()
    val dcfg = DedupConfig(threshold = 0.8f)
    // s1: one-word edit of e1 — the FUZZY probe flags it (19/20 = 0.95)
    // s2: e1 verbatim inside a longer transcript — fuzzy can't clear 0.8
    //     (20 matched of 30 pattern tokens), only CONTAINMENT flags it
    // s3: unrelated — clean
    val batch1 = Seq(
      clip("s1", (words.dropRight(1) :+ "xx").mkString(" ")),
      clip("s3", (0 until 20).map(i => "u" + ("abcdefghijklmnopqrst" * 2)(i).toString * 3)
        .mkString(" ")))
    val batch2 = Seq(clip("s2", (filler ++ words).mkString(" ")))

    val inDir = java.nio.file.Files.createTempDirectory("stream-decon-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-decon-ckpt").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("stream-decon-sink").toString + "/out"
    batch1.toDS().write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(inDir)
      .as[graft.data.Clip]
    val flagged = spark.sparkContext.longAccumulator("decon-flagged")
    def runLeg(): Unit = {
      val q = StreamingDedup.decontaminateStream(stream, evalSet, dcfg,
          alsoContained = true, flaggedRows = Some(flagged))
        .map { case (c, f) => (c.clip_id, f) }.toDF("clip_id", "contaminated")
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runLeg() // micro-batch 1
    batch2.toDS().write.mode("append").parquet(inDir)
    runLeg() // micro-batch 2 (restart from checkpoint, processes only the new file)

    val streamed = spark.read.parquet(sinkDir)
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(streamed == Map("s1" -> true, "s2" -> true, "s3" -> false), streamed.toString)
    assert(flagged.value == 2, s"flagged accumulator: ${flagged.value}")

    // == the batch hygiene operator on the full input in one go
    val (clean, batchFlagged) = graft.dedup.FuzzyRetrieval.decontaminate(
      (batch1 ++ batch2).toDS(), evalSet, dcfg, alsoContained = true)
    assert(batchFlagged.collect().map(_.clip_id).toSet ==
      streamed.collect { case (id, true) => id }.toSet)
    assert(clean.collect().map(_.clip_id).toSet ==
      streamed.collect { case (id, false) => id }.toSet)
  }

  test("streaming top-k retrieval against a static corpus matches the batch path") {
    import spark.implicits._
    val tm1 = Seq("aa bb cc dd", "aa bb bb aa cc dd", "aa ｟it｠ bb cc dd",
      "aa bb 13 dd", "aa bb cc ee", "aa bb cc dd.", "aa bb cc dd .", ".")
    val corpus = tm1.zipWithIndex.map { case (s, i) =>
      graft.data.Clip((i + 1).toString, Array.emptyByteArray, 16000, 0, "pcm_s16le", s)
    }.toDS()
    val queries = Seq(
      graft.data.Clip("q1", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc"),
      graft.data.Clip("q2", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb 14 dd"))
    val dir = java.nio.file.Files.createTempDirectory("stream-in4").toString
    queries.toDS().write.mode("overwrite").parquet(dir)

    val rcfg = DedupConfig(threshold = 0.7f, minSubseqLength = 2, minSubseqRatio = 0f)
    val ckpt = java.nio.file.Files.createTempDirectory("stream-ckpt4").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("stream-sink4").toString + "/out"
    val stream = spark.readStream.schema(StreamingDedup.clipSchema).parquet(dir)
      .as[graft.data.Clip]
    // FILE sink + checkpoint: the sink that actually supports restart
    // recovery (memory sinks cannot recover), so leg 2 below can prove
    // incremental processing
    def runLeg(): Unit = {
      val q = StreamingDedup.retrievalAgainstCorpus(stream, corpus, rcfg, 5)
        .writeStream.outputMode(OutputMode.Append()).format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runLeg()
    val got = spark.read.parquet(sinkDir)
      .as[graft.dedup.RetrievalRow].collect()
      .map(r => (r.query_id, r.rank, r.s_id, r.score)).toSet
    // FUZZY2 fixture for q1; NUM2 (at 0.7 ≥ 0.8 fixture threshold) for q2
    val batch = graft.dedup.FuzzyRetrieval.topk(queries.toDS(), corpus, rcfg, 5)
      .collect().map(r => (r.query_id, r.rank, r.s_id, r.score)).toSet
    assert(got == batch, s"stream=$got batch=$batch")
    assert(got.contains(("q1", 1, "1", 0.75)) || got.exists(t => t._1 == "q1" && t._3 == "1"))
    assert(got.exists(t => t._1 == "q2" && t._3 == "4"))

    // second micro-batch: a new query file lands and the query RESTARTS from
    // its checkpoint — the source offset log makes it process ONLY the new
    // file: the appended sink rows are exactly q3's (q1/q2 rows would
    // duplicate in the file sink if the restart reprocessed them)
    val before = spark.read.parquet(sinkDir).count()
    assert(before > 0)
    val q3 = Seq(graft.data.Clip("q3", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd"))
    q3.toDS().write.mode("append").parquet(dir)
    runLeg()
    val after = spark.read.parquet(sinkDir).as[graft.dedup.RetrievalRow].collect()
    val appended = after.filter(_.query_id == "q3")
    assert(after.length == before + appended.length && appended.nonEmpty,
      s"restart reprocessed old batches: ${after.length} rows vs $before + ${appended.length}")
    assert(appended.exists(r => r.s_id == "1" && r.score == 1.0),
      s"q3's perfect match missing: ${appended.take(8).mkString(",")}")
  }
}
