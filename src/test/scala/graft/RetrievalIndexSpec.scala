package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{Clip, TableIO}
import graft.dedup.{DedupConfig, FuzzyRetrieval}
import graft.text.PT
import graft.obs.JobLedger

/** The persisted distributed retrieval index (the reference's `-a index` →
  * `-i CORPUS.fmi` job split, /root/reference/src/fuzzy_matcher_binarization.cc:16-51):
  * one saveIndex run must serve later match jobs WITHOUT re-tokenizing — or
  * even touching — the raw corpus, on both retrieval strategies, and a
  * config mismatch between index and match sides must fail loudly
  * (reference README.md:18's identical-config requirement). */
class RetrievalIndexSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("retrieval-index-spec")
    .getOrCreate()

  private val sents = Seq(
    "aa bb cc dd", "aa bb bb aa cc dd", "aa ｟it｠ bb cc dd", "aa bb 13 dd",
    "aa bb cc ee", "aa bb cc dd.", "aa bb cc dd .", ".")

  private def cfg = DedupConfig(threshold = 0.5f, minSubseqLength = 2,
    minSubseqRatio = 0f, shingleK = 2)
  private def shuffleCfg = cfg.copy(strategy = "shuffle")

  private def rows(ds: org.apache.spark.sql.Dataset[graft.dedup.RetrievalRow]) =
    ds.collect().map(r => (r.query_id, r.rank, r.s_id, r.score, r.max_subseq)).toSet

  private def subRows(ds: org.apache.spark.sql.Dataset[graft.dedup.SubseqRow]) =
    ds.collect().map(r => (r.query_id, r.s_id, r.score, r.max_subseq, r.subseq_surface)).toSet

  private def clipsOf(ss: Seq[String]): Seq[Clip] = ss.zipWithIndex.map { case (s, i) =>
    Clip((i + 1).toString, Array.emptyByteArray, 16000, 0, "pcm_s16le", s)
  }

  test("index round-trip: match from the saved index, corpus deleted, results identical") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx").toString
    val corpusPath = s"$tmp/corpus"
    val idxDir = s"$tmp/index"

    val clips = sents.zipWithIndex.map { case (s, i) =>
      Clip((i + 1).toString, Array.emptyByteArray, 16000, 0, "pcm_s16le", s)
    }
    TableIO.write(clips.toDS().toDF(), corpusPath)
    val corpus = TableIO.readClips(spark, corpusPath)
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()

    // direct-path results, materialized BEFORE the corpus is deleted
    val direct = rows(FuzzyRetrieval.topk(queries, corpus, cfg, 5))
    val directShuffle = rows(FuzzyRetrieval.topk(queries, corpus, shuffleCfg, 5))
    assert(direct.nonEmpty, "direct path empty — vacuous round-trip")

    FuzzyRetrieval.saveIndex(corpus, cfg, idxDir)

    // delete the raw corpus: the indexed path can no longer tokenize it —
    // identical results prove the index alone serves the match job
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    deleteRec(new java.io.File(corpusPath))
    assert(!new java.io.File(corpusPath).exists())

    val loaded = FuzzyRetrieval.loadIndex(spark, idxDir, cfg)
    assert(rows(FuzzyRetrieval.topkIndexed(queries, loaded, cfg, 5)) == direct,
      "broadcast path diverged from the prebuilt index")
    assert(rows(FuzzyRetrieval.topkIndexed(queries, loaded, shuffleCfg, 5)) == directShuffle,
      "shuffle path diverged from the prebuilt index")
    // subsequence retrieval serves from the index too — pinned against the
    // direct path, not just non-emptiness
    val subDirect = FuzzyRetrieval.subsequence(queries,
        clips.toDS(), cfg, 5)
      .collect().map(r => (r.query_id, r.s_id, r.score, r.max_subseq, r.subseq_surface)).toSet
    val sub = FuzzyRetrieval.subsequenceIndexed(queries, loaded, cfg, 5)
      .collect().map(r => (r.query_id, r.s_id, r.score, r.max_subseq, r.subseq_surface)).toSet
    assert(sub == subDirect && sub.nonEmpty,
      s"subsequence-from-index diverged: $sub vs $subDirect")
  }

  test("loadIndex rejects a mismatched tokenizer config loudly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-cfg").toString
    val clips = Seq(Clip("1", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb")).toDS()
    FuzzyRetrieval.saveIndex(clips, cfg, tmp)
    val e = intercept[IllegalArgumentException] {
      FuzzyRetrieval.loadIndex(spark, tmp, cfg.copy(pt = PT.none))
    }
    assert(e.getMessage.contains("identical"), e.getMessage)
    // threshold is NOT tokenizer-relevant: a different threshold must load
    FuzzyRetrieval.loadIndex(spark, tmp, cfg.copy(threshold = 0.9f))
  }

  test("loadIndex on a missing dir names the fix") {
    val e = intercept[IllegalArgumentException] {
      FuzzyRetrieval.loadIndex(spark, "/tmp/does-not-exist-gfm-idx", cfg)
    }
    assert(e.getMessage.contains("saveIndex"), e.getMessage)
  }

  test("appendIndex: incremental O(new) insert — appended rows are matchable, old results keep") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-append").toString
    val base = Seq(Clip("1", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd"))
    FuzzyRetrieval.saveIndex(base.toDS(), cfg, tmp)
    val extra = Seq(Clip("9", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc ee"))
    FuzzyRetrieval.appendIndex(extra.toDS(), cfg, tmp)
    // second append (a third committed segment)
    FuzzyRetrieval.appendIndex(
      Seq(Clip("10", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd ff")).toDS(),
      cfg, tmp)
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    def matchIds() = rows(
      FuzzyRetrieval.topkIndexed(queries, FuzzyRetrieval.loadIndex(spark, tmp, cfg), cfg, 5))
      .map(_._3)
    assert(matchIds() == Set("1", "9", "10"),
      s"append not matchable (the reference's O(N) re-sort wall, fixed): ${matchIds()}")
    // a KILLED append = an orphan segment dir the meta never committed:
    // readers must see exactly the pre-append index
    Seq(Clip("99", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd gg")).toDS()
      .toDF().write.parquet(s"$tmp/toks_3")
    assert(matchIds() == Set("1", "9", "10"),
      "orphan (uncommitted) append segment leaked into match results")
    // config mismatch on append fails loudly too
    val e = intercept[IllegalArgumentException] {
      FuzzyRetrieval.appendIndex(extra.toDS(), cfg.copy(pt = PT.none), tmp)
    }
    assert(e.getMessage.contains("identical"), e.getMessage)
  }

  test("compactIndex: N segments merge to one, match results identical, crash windows safe") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-compact").toString
    FuzzyRetrieval.saveIndex(
      Seq(Clip("1", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS(), cfg, tmp)
    FuzzyRetrieval.appendIndex(
      Seq(Clip("9", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc ee")).toDS(), cfg, tmp)
    FuzzyRetrieval.appendIndex(
      Seq(Clip("10", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd ff")).toDS(), cfg, tmp)
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    def results() = rows(
      FuzzyRetrieval.topkIndexed(queries, FuzzyRetrieval.loadIndex(spark, tmp, cfg), cfg, 5))
    val before = results()
    assert(before.map(_._3) == Set("1", "9", "10"))
    assert(FuzzyRetrieval.readIndexMeta(spark, tmp).segments == 3)

    // crash window 1: a compaction killed AFTER writing its merged segment
    // but BEFORE the meta commit leaves an orphan at the next ordinal —
    // readers ignore it, and the real compaction overwrites it
    Seq(Clip("99", Array.emptyByteArray, 16000, 0, "pcm_s16le", "zz zz")).toDS()
      .toDF().write.parquet(s"$tmp/toks_3")
    assert(results() == before, "uncommitted merged segment leaked into match results")

    // a reader holding the PRE-compaction index (lazy union plan) must
    // survive a compaction that commits underneath it (r6: superseded
    // segments are retired for a grace window, not deleted at commit)
    val preCompactionIndex = FuzzyRetrieval.loadIndex(spark, tmp, cfg)
    assert(FuzzyRetrieval.compactIndex(spark, cfg, tmp))
    val m = FuzzyRetrieval.readIndexMeta(spark, tmp)
    assert(m.segments == 1, s"compaction left ${m.segments} segments")
    assert(m.retired.map(_._1).toSet == Set("toks", "toks_1", "toks_2"),
      s"superseded segments not retired: ${m.retired}")
    assert(results() == before, "compaction changed match results")
    assert(rows(FuzzyRetrieval.topkIndexed(queries, preCompactionIndex, cfg, 5)) == before,
      "pre-compaction reader broke after the compaction commit")
    // superseded dirs still on disk during the grace window
    val segDirs = new java.io.File(tmp).listFiles().map(_.getName)
      .filter(_.matches("toks(_\\d+)?")).toSet
    assert(segDirs == m.names.toSet ++ m.retired.map(_._1),
      s"retired segments deleted early: $segDirs")

    // compaction of a single-segment index is a no-op that still sweeps
    // orphans from earlier crashes AND (grace 0) purges retired segments —
    // the explicit-vacuum form
    Seq(Clip("98", Array.emptyByteArray, 16000, 0, "pcm_s16le", "yy yy")).toDS()
      .toDF().write.parquet(s"$tmp/toks_99")
    assert(!FuzzyRetrieval.compactIndex(spark, cfg, tmp, graceMs = 0))
    assert(!new java.io.File(s"$tmp/toks_99").exists(), "no-op compaction left the orphan")
    val afterVacuum = new java.io.File(tmp).listFiles().map(_.getName)
      .filter(_.matches("toks(_\\d+)?")).toSet
    assert(afterVacuum == m.names.toSet, s"vacuum left retired segments: $afterVacuum")
    assert(FuzzyRetrieval.readIndexMeta(spark, tmp).retired.isEmpty)
    assert(results() == before)

    // appends keep working after compaction (fresh ordinal, never reused)
    FuzzyRetrieval.appendIndex(
      Seq(Clip("11", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd gg")).toDS(),
      cfg, tmp)
    assert(results().map(_._3) == Set("1", "9", "10", "11"))
  }

  test("concurrent append is rejected loudly (single-writer lock), never silently lost") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-lock").toString
    val base = Seq(Clip("1", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd"))
    FuzzyRetrieval.saveIndex(base.toDS(), cfg, tmp)
    val extra = Seq(Clip("9", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc ee")).toDS()
    // simulate a concurrent appender holding the lock
    assert(new java.io.File(tmp, "index.lock").createNewFile())
    val e = intercept[IllegalArgumentException] { FuzzyRetrieval.appendIndex(extra, cfg, tmp) }
    assert(e.getMessage.contains("index.lock"), e.getMessage)
    // the index is untouched by the refused append
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    def matchIds() = rows(
      FuzzyRetrieval.topkIndexed(queries, FuzzyRetrieval.loadIndex(spark, tmp, cfg), cfg, 5))
      .map(_._3)
    assert(matchIds() == Set("1"))
    // lock released (the documented manual remedy for a writer killed hard)
    assert(new java.io.File(tmp, "index.lock").delete())
    FuzzyRetrieval.appendIndex(extra, cfg, tmp)
    assert(matchIds() == Set("1", "9"))
    // the successful append removed its own lock: a follow-up append works
    FuzzyRetrieval.appendIndex(
      Seq(Clip("10", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd ff")).toDS(),
      cfg, tmp)
    assert(matchIds() == Set("1", "9", "10"))
  }

  test("loadIndex rejects an UNCOMMITTED index (meta present, toks table not committed)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-part").toString
    val clips = Seq(Clip("1", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb")).toDS()
    FuzzyRetrieval.saveIndex(clips, cfg, tmp)
    // simulate a job killed mid-write: the table dir exists but its commit
    // marker does not
    assert(new java.io.File(s"$tmp/toks/_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      FuzzyRetrieval.loadIndex(spark, tmp, cfg)
    }
    assert(e.getMessage.contains("COMMITTED"), e.getMessage)
  }

  test("a caller-cached index survives a match job (no unpersist of caller state)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-cache").toString
    val clips = sents.zipWithIndex.map { case (s, i) =>
      Clip((i + 1).toString, Array.emptyByteArray, 16000, 0, "pcm_s16le", s)
    }
    FuzzyRetrieval.saveIndex(clips.toDS(), cfg, tmp)
    val idx = FuzzyRetrieval.loadIndex(spark, tmp, cfg).persist()
    idx.count()
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    assert(FuzzyRetrieval.topkIndexed(queries, idx, cfg, 5).collect().nonEmpty)
    assert(idx.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "broadcast-path match job evicted the caller's index cache")
    assert(FuzzyRetrieval.topkIndexed(queries, idx, shuffleCfg, 5).collect().nonEmpty)
    assert(idx.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "shuffle-path match job evicted the caller's index cache")
    idx.unpersist()
  }

  test("no unlabelled retrieval job: each entry and index operation labels the jobs it starts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-labels").toString
    val clips = clipsOf(sents).toDS()
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    lazy val idx = FuzzyRetrieval.loadIndex(spark, tmp, cfg)
    val indexOps: Seq[(String, String, () => Any)] = Seq(
      ("saveIndex", "save_index", () => FuzzyRetrieval.saveIndex(clips, cfg, tmp)),
      ("appendIndex", "append_index",
        () => FuzzyRetrieval.appendIndex(clipsOf(Seq("aa bb cc ff")).toDS(), cfg, tmp)),
      ("compactIndex", "compact_index", () => FuzzyRetrieval.compactIndex(spark, cfg, tmp)),
      ("loadIndex", "load_index", () => idx))
    val entries = Seq(cfg.copy(strategy = "broadcast"), shuffleCfg).flatMap { c =>
      Seq[(String, String, () => Any)](
        (s"topkIndexed ${c.strategy}", "topk", () => FuzzyRetrieval.topkIndexed(queries, idx, c, 5)),
        (s"subsequenceIndexed ${c.strategy}", "subsequence",
          () => FuzzyRetrieval.subsequenceIndexed(queries, idx, c, 5)),
        (s"decontaminate ${c.strategy}", "decontaminate",
          () => FuzzyRetrieval.decontaminate(clips, queries, c, alsoContained = true)))
    }
    for ((call, op, run) <- indexOps ++ entries) {
      val (_, ledger) = JobLedger.of(spark)(run())
      // the segment tables are read with TokRow's schema: a lazy loadIndex
      // starts no job at all, and labels nothing
      if (op == "load_index") assert(ledger.jobs.isEmpty, s"$call: ${ledger.jobs}")
      else assert(ledger.jobs.nonEmpty, s"$call started no job — the gate checks nothing")
      val off = ledger.labels.filterNot(_ == s"retrieval:$op")
      assert(off.isEmpty, s"$call: ${off.size} of ${ledger.jobs.size} jobs not labelled " +
        s"retrieval:$op: ${off.mkString("; ")}")
    }
  }

  test("served index: a cached index answers its second topkIndexed with ONE job, same rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-served").toString
    FuzzyRetrieval.saveIndex(clipsOf(sents).toDS(), cfg, tmp)
    val idx = FuzzyRetrieval.loadIndex(spark, tmp, cfg).cache()
    idx.count()
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    val first = rows(FuzzyRetrieval.topkIndexed(queries, idx, cfg, 5))
    val (second, ledger) = JobLedger.of(spark)(rows(FuzzyRetrieval.topkIndexed(queries, idx, cfg, 5)))
    assert(first.nonEmpty && second == first, s"reused index diverged: $second vs $first")
    assert(ledger.jobs.size == 1,
      s"second call on a cached index started ${ledger.jobs.size} jobs, want 1 (the query scan): ${ledger.jobs}")
    idx.unpersist()
  }

  test("served index: an uncached index is guarded, collected and broadcast on every call") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-uncached").toString
    FuzzyRetrieval.saveIndex(clipsOf(sents).toDS(), cfg, tmp)
    val idx = FuzzyRetrieval.loadIndex(spark, tmp, cfg)
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    // the envelope stats job (which also fills the guard's own persist),
    // collect, query scan
    for (i <- 1 to 2) {
      val (_, ledger) = JobLedger.of(spark)(rows(FuzzyRetrieval.topkIndexed(queries, idx, cfg, 5)))
      assert(ledger.jobs.size == 3, s"call $i on an uncached index started ${ledger.jobs.size} jobs, want 3")
    }
    assert(idx.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("served index: topkIndexed then subsequenceIndexed on one cached index builds df on need") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-df").toString
    val clips = clipsOf(sents)
    FuzzyRetrieval.saveIndex(clips.toDS(), cfg, tmp)
    val idx = FuzzyRetrieval.loadIndex(spark, tmp, cfg).cache()
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    assert(cfg.vocabIdfPenalty == 0f) // the top-k call builds the index without df
    assert(rows(FuzzyRetrieval.topkIndexed(queries, idx, cfg, 5)).nonEmpty)
    val want = subRows(FuzzyRetrieval.subsequence(queries, clips.toDS(), cfg, 5))
    val got = subRows(FuzzyRetrieval.subsequenceIndexed(queries, idx, cfg, 5))
    assert(want.nonEmpty && got == want, s"subsequence on the served index: $got vs $want")
    idx.unpersist()
  }

  test("served index: unpersist releases the snapshot; a re-cached appended index is served") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-recache").toString
    FuzzyRetrieval.saveIndex(
      Seq(Clip("1", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS(), cfg, tmp)
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    val idx = FuzzyRetrieval.loadIndex(spark, tmp, cfg).cache()
    assert(rows(FuzzyRetrieval.topkIndexed(queries, idx, cfg, 5)).map(_._3) == Set("1"))
    idx.unpersist()
    FuzzyRetrieval.appendIndex(
      Seq(Clip("9", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc ee")).toDS(), cfg, tmp)
    val idx2 = FuzzyRetrieval.loadIndex(spark, tmp, cfg).cache()
    assert(rows(FuzzyRetrieval.topkIndexed(queries, idx2, cfg, 5)).map(_._3) == Set("1", "9"),
      "a re-cached index after an append served the stale snapshot")
    idx2.unpersist()
  }

  test("served index: a memo hit re-checks the envelope against the call's cfg") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-guard").toString
    FuzzyRetrieval.saveIndex(clipsOf(sents).toDS(), cfg, tmp)
    val idx = FuzzyRetrieval.loadIndex(spark, tmp, cfg).cache()
    val n = idx.count()
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    assert(rows(FuzzyRetrieval.topkIndexed(queries, idx, cfg, 5)).nonEmpty)
    val tight = cfg.copy(broadcastMaxRows = n - 1)
    val (e, guard) = JobLedger.of(spark)(intercept[IllegalArgumentException] {
      FuzzyRetrieval.topkIndexed(queries, idx, tight.copy(strategy = "broadcast"), 5)
    })
    assert(e.getMessage.contains("use strategy = \"shuffle\""), e.getMessage)
    assert(guard.jobs.isEmpty, s"the guard on a memo hit started ${guard.jobs.size} jobs — not a memo hit")
    // auto decides from the memo too: past the envelope it runs the shuffle
    // path with no extra job
    val (autoRows, auto) =
      JobLedger.of(spark)(rows(FuzzyRetrieval.topkIndexed(queries, idx, tight, 5)))
    val (shuffleRows, shuffle) = JobLedger.of(spark)(
      rows(FuzzyRetrieval.topkIndexed(queries, idx, tight.copy(strategy = "shuffle"), 5)))
    assert(autoRows.nonEmpty && autoRows == shuffleRows)
    assert(auto.jobs.size == shuffle.jobs.size,
      s"auto past the envelope started ${auto.jobs.size} jobs, forced shuffle ${shuffle.jobs.size}")
    idx.unpersist()
  }

  test("index meta: a v2 meta without 'retired' loads; a newer version is rejected") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-meta").toString
    FuzzyRetrieval.saveIndex(clipsOf(sents).toDS(), cfg, tmp)
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    val want = rows(FuzzyRetrieval.topkIndexed(queries, FuzzyRetrieval.loadIndex(spark, tmp, cfg), cfg, 5))
    def writeMeta(version: Int, retired: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "index_meta.json"),
        (s"""{"version":$version,"pt":${cfg.pt},"maxTokensInPattern":${cfg.maxTokensInPattern},""" +
          s""""segments":1,"names":["toks"],"next":1$retired}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      new java.io.File(tmp, ".index_meta.json.crc").delete() // stale local-fs checksum
    }
    writeMeta(2, "")
    val m = FuzzyRetrieval.readIndexMeta(spark, tmp)
    assert(m.version == 2 && m.retired.isEmpty && m.names == Seq("toks"))
    assert(rows(FuzzyRetrieval.topkIndexed(queries, FuzzyRetrieval.loadIndex(spark, tmp, cfg), cfg, 5)) == want)
    writeMeta(4, ""","retired":[]""")
    val e = intercept[IllegalArgumentException](FuzzyRetrieval.loadIndex(spark, tmp, cfg))
    assert(e.getMessage.contains("this engine reads <= 3"), e.getMessage)
  }

  test("index meta lost in the delete-rename window: a complete tmp rolls forward, a torn one fails") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retr-idx-tmp").toString
    FuzzyRetrieval.saveIndex(clipsOf(sents).toDS(), cfg, tmp)
    val queries = Seq(Clip("q", Array.emptyByteArray, 16000, 0, "pcm_s16le", "aa bb cc dd")).toDS()
    val want = rows(FuzzyRetrieval.topkIndexed(queries, FuzzyRetrieval.loadIndex(spark, tmp, cfg), cfg, 5))
    assert(want.nonEmpty, "vacuous fixture: the query matches nothing")
    val meta = java.nio.file.Paths.get(tmp, "index_meta.json")
    val tmpMeta = java.nio.file.Paths.get(tmp, "index_meta.json.tmp")
    java.nio.file.Files.move(meta, tmpMeta)
    new java.io.File(tmp, ".index_meta.json.crc").delete() // the window: meta and checksum gone
    assert(rows(FuzzyRetrieval.topkIndexed(queries, FuzzyRetrieval.loadIndex(spark, tmp, cfg), cfg, 5)) == want)
    assert(java.nio.file.Files.exists(meta) && !java.nio.file.Files.exists(tmpMeta))
    // a torn tmp with no meta is no commit: loud, never a partial parse
    val text = new String(java.nio.file.Files.readAllBytes(meta), java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(tmpMeta, text.dropRight(3).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.delete(meta)
    new java.io.File(tmp, ".index_meta.json.crc").delete()
    val e = intercept[IllegalArgumentException](FuzzyRetrieval.loadIndex(spark, tmp, cfg))
    assert(e.getMessage.contains("no retrieval index"), e.getMessage)
  }
}
