package fmbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.data.{Clip, SynthCorpus}
import graft.dedup._
import graft.kernel.Matcher
import graft.oracle.FuzzyMatcher

/** One workload: its inputs come from the seed, its ops run in passes that
  * each start from the same state, and its outputs are checked against the
  * single-node oracle matcher. An op returns a handle that [[collect]]
  * turns into comparable output outside the op's timing. */
abstract class Workload(val spark: SparkSession, val seed: Long, val cores: Int,
    val work: String) {
  type Handle
  type Out

  /** Ops in one pass; every pass starts from the same state. */
  def opsPerPass: Int
  /** Untimed whole passes run this long before timing. */
  def warmupSeconds: Int = 4
  /** Clips one op processes (the input clips, or the query clips). Each
    * is one fuzzy-match query against the corpus. */
  def clipsPerOp: Long

  /** One repetition of the set-up; the benchmark keeps the last one. */
  def setup(): Unit
  /** Oracle truth, computed outside set-up and op timing. */
  def truth(): Unit
  /** Fresh state for a pass (spans, when traced, go under a root span). */
  def startPass(tag: String, t: Option[Tracer]): Unit = ()
  /** Op `i` of the current pass; opens layer spans when traced. */
  def op(i: Int, t: Option[Tracer]): Handle
  /** The op's output, read back outside its timing. */
  def collect(i: Int, h: Handle): Out
  /** Problems with op `i`'s output; also records its quality figures. */
  def check(i: Int, out: Out): Seq[String]
  /** Checks due after the timed ops. */
  def finish(): Seq[String] = Nil
  /** Whether a traced op reproduced the untraced op's output. */
  def sameResult(untraced: Out, traced: Out): Boolean = untraced == traced

  /** Quality figures of the end-to-end table (name -> value). */
  val quality = mutable.LinkedHashMap.empty[String, Double]
  /** Host-independent counts a traced op records (rows, pairs, bytes). */
  val counters = mutable.LinkedHashMap.empty[String, Double]

  protected def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v
  protected def worst(name: String, v: Double): Unit =
    quality(name) = math.min(quality.getOrElse(name, v), v)
  protected def sp[A](t: Option[Tracer], name: String)(body: => A): A =
    t.fold(body)(_.span(name)(body))

  protected lazy val cfgBase = DedupConfig(shufflePartitions = cores)
  protected def matchParams(cfg: DedupConfig, n: Int): Matcher.Params = Matcher.Params(
    fuzzy = cfg.threshold, numberOfMatches = n, minSubseqLength = cfg.minSubseqLength,
    minSubseqRatio = cfg.minSubseqRatio, editCosts = cfg.editCosts,
    maxTokensInPattern = cfg.maxTokensInPattern)
  protected def oracleOf(cfg: DedupConfig, rows: Iterator[(String, String)]): FuzzyMatcher = {
    val fm = new FuzzyMatcher(cfg.pt, cfg.maxTokensInPattern)
    rows.foreach { case (id, t) => fm.addTm(id, t) }
    fm
  }
  protected def clipsFor(ids: Seq[Long]): Dataset[Clip] = {
    import spark.implicits._
    val s = seed
    spark.createDataset(ids).repartition(cores).map(SynthCorpus.clipForId(_, s))
  }
  protected def transcriptsOf(ids: Seq[Long]): Iterator[(String, String)] =
    ids.iterator.map { i => val c = SynthCorpus.clipForId(i, seed); (c.clip_id, c.transcript) }
}

object Workload {
  val names = Seq("dedup_shuffle", "dedup_broadcast", "ingest_chain", "retrieval")

  def apply(name: String, spark: SparkSession, seed: Long, cores: Int, work: String): Workload =
    name match {
      case "dedup_shuffle" => new DedupWorkload("shuffle", spark, seed, cores, work)
      case "dedup_broadcast" => new DedupWorkload("broadcast", spark, seed, cores, work)
      case "ingest_chain" => new IngestWorkload(spark, seed, cores, work)
      case "retrieval" => new RetrievalWorkload(spark, seed, cores, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def pair(a: String, b: String): (String, String) = if (a < b) (a, b) else (b, a)

  /** Bytes under a directory (a committed table is a directory of files). */
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { f =>
      val dst: Path = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }
}

/** DedupPipeline.run over a persisted SynthCorpus table, with the strategy
  * forced. Traced, the op calls the pipeline's stages in the order of
  * `DedupPipeline.run` (checkpointDir = None, audio channels off) with the
  * same persists and counts, plus one count that materializes the
  * signatures in their own span. */
final class DedupWorkload(strategy: String, spark: SparkSession, seed: Long, cores: Int,
    work: String) extends Workload(spark, seed, cores, work) {
  type Handle = (Dataset[Edge], Dataset[ClusterRow])
  type Out = (Set[(String, String)], Map[String, String])

  private val nClips = 3000L
  private val cfg = cfgBase.copy(strategy = strategy)
  private var clips: Dataset[Clip] = _
  private var oracle: Set[(String, String)] = _

  def opsPerPass = 1
  def clipsPerOp = nClips
  // op times settle after a few seconds of broadcast ops or two shuffle ops
  override def warmupSeconds = if (strategy == "shuffle") 10 else 6

  def setup(): Unit = {
    if (clips != null) clips.unpersist(blocking = true)
    clips = SynthCorpus.generate(spark, nClips, seed, partitions = cores)
      .persist(StorageLevel.MEMORY_AND_DISK)
    clips.count()
  }

  def truth(): Unit =
    oracle = oracleOf(cfg, transcriptsOf(0L until nClips)).allDupPairs(matchParams(cfg, 0))

  def op(i: Int, t: Option[Tracer]): Handle = t match {
    case None =>
      val r = DedupPipeline.run(clips, cfg)
      (r.edges, r.clusters)
    case Some(_) => traced(t)
  }

  private def traced(t: Option[Tracer]): Handle = {
    import spark.implicits._
    val n = clips.count()
    val srcParts = clips.rdd.getNumPartitions
    val tokParts = math.max(1L, math.min(n / 4096 + 1, srcParts.toLong)).toInt
    val (toks, nToks) = sp(t, "dedup.tokenize") {
      val s = TokenizeStage(clips, cfg)
      val toks = (if (strategy == "shuffle" && tokParts < srcParts) s.repartition(tokParts) else s)
        .persist()
      (toks, toks.count())
    }
    count("dedup.tokenize.rows", nToks)
    val (edges, nEdges) =
      if (strategy == "broadcast") sp(t, "dedup.broadcast_verify") {
        val e = BroadcastVerifyStage(toks, cfg).persist()
        (e, e.count())
      } else {
        val sigs = sp(t, "dedup.signatures") {
          val s = SignatureStage(toks, cfg).persist()
          count("dedup.signatures.rows", s.count())
          s
        }
        val sc = spark.sparkContext
        val caps = Seq.fill(4)(sc.longAccumulator)
        val (cands, nCands) = sp(t, "dedup.candidates") {
          val c = CandidateStage(toks, sigs, cfg, caps(0), caps(1), caps(2), caps(3)).persist()
          (c, c.count())
        }
        count("dedup.candidates.pairs", nCands)
        count("dedup.candidates.capped_buckets", caps.map(_.value.toLong).sum)
        val verified = sp(t, "dedup.verify") {
          val e = VerifyStage(toks, cands, cfg, nToks).persist()
          (e, e.count())
        }
        cands.unpersist()
        sigs.unpersist()
        verified
      }
    count("dedup.verify.edges", nEdges)
    val clusters = sp(t, "dedup.cluster") {
      val c = ConnectedComponents(edges, clips.select($"clip_id").toDF(), cfg.ccMaxIterations,
        cfg.ccLocalEdgeCap, knownEdgeCount = nEdges).persist()
      c.count()
      c
    }
    count("op.clips", n)
    toks.unpersist()
    (edges, clusters)
  }

  def collect(i: Int, h: Handle): Out = {
    val (edges, clusters) = h
    val out = (edges.collect().map(e => Workload.pair(e.a, e.b)).toSet,
      clusters.collect().map(c => c.clip_id -> c.cluster_id).toMap)
    edges.unpersist()
    clusters.unpersist()
    out
  }

  def check(i: Int, out: Out): Seq[String] = {
    val s = Stats.pairScore(out._1, oracle)
    worst("dup_pair_recall", s.recall)
    worst("dup_pair_precision", s.precision)
    if (strategy == "broadcast" && out._1 != oracle)
      Seq(s"broadcast edges differ from the oracle pairs: ${s.missed} missed, ${s.extra} extra")
    else if (s.recall < 0.99 || s.extra > 0)
      Seq(f"shuffle recall ${s.recall}%.5f (gate 0.99), ${s.extra} pairs the oracle lacks")
    else Nil
  }
}

/** IncrementalDedup.ingestStep folding a batch into committed state. A pass
  * copies the bootstrapped state and ingests one batch; with
  * compactAfterIncrements = 1 that step also compacts the chain, so every
  * op includes a compaction. Traced, the op calls the chain, increment and
  * compaction functions in the order of `ingestStep`. */
final class IngestWorkload(spark: SparkSession, seed: Long, cores: Int, work: String)
    extends Workload(spark, seed, cores, work) {
  type Handle = Unit
  /** Bytes the op added to the state, and after a pass's last op the
    * committed cluster of every clip. */
  type Out = (Long, Map[String, String])

  private val nBase = 1500L
  private val nBatch = 150L
  private val compactAfter = 1
  private val cfg = cfgBase
  private val template = s"$work/ingest/state0"
  private var dir: String = _
  private var batches: Seq[Dataset[Clip]] = Nil
  private var lastBytes = 0L
  private val bytesAdded = mutable.ArrayBuffer.empty[Long]
  private val passClusters = mutable.ArrayBuffer.empty[Map[String, String]]

  def opsPerPass = 1
  def clipsPerOp = nBatch
  // no warm-up op: the three bootstraps run the shared stages, and a batch
  // ingest job meets its first increment in a fresh JVM as this op does
  override def warmupSeconds = 0

  def setup(): Unit = {
    Workload.deleteTree(template)
    val base = SynthCorpus.generate(spark, nBase, seed, partitions = cores)
      .persist(StorageLevel.MEMORY_AND_DISK)
    IncrementalDedup.ingestStep(base, 0L, cfg, template, compactAfter)
    base.unpersist()
    batches.foreach(_.unpersist())
    batches = (0 until opsPerPass).map { i =>
      val b = SynthCorpus.generate(spark, nBatch, seed, partitions = cores, firstId = nBase + i * nBatch)
        .persist(StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    }
  }

  def truth(): Unit = ()

  override def startPass(tag: String, t: Option[Tracer]): Unit = {
    dir = s"$work/ingest/$tag"
    Workload.deleteTree(dir)
    Workload.copyTree(template, dir)
    lastBytes = Workload.bytesUnder(dir)
  }

  def op(i: Int, t: Option[Tracer]): Handle = {
    val batchId = i + 1L
    if (t.isEmpty) IncrementalDedup.ingestStep(batches(i), batchId, cfg, dir, compactAfter)
    else {
      // ingestStep's config-fingerprint check is private; every step of
      // this chain uses one config, so skipping it changes no decision
      val (names, _) = sp(t, "dedup.chain")(IncrementalDedup.readChain(spark, dir)).get
      var chain = names
      if (!chain.exists(_.endsWith(s"_$batchId"))) {
        val name = s"inc_$batchId"
        sp(t, "dedup.increment")(IncrementalDedup.run(batches(i), chain.map(n => s"$dir/$n"),
          cfg, Some(s"$dir/$name")))
        count("dedup.increment.bytes_written", Workload.bytesUnder(s"$dir/$name"))
        chain = chain :+ name
        sp(t, "dedup.chain")(IncrementalDedup.writeChain(spark, dir, chain, cfg, Some(names)))
      }
      if (chain.size > compactAfter) {
        val cname = s"compact_$batchId"
        sp(t, "dedup.compact")(IncrementalDedup.compact(spark, chain.map(n => s"$dir/$n"), cfg,
          s"$dir/$cname"))
        count("dedup.compact.bytes_rewritten", Workload.bytesUnder(s"$dir/$cname"))
        sp(t, "dedup.chain")(IncrementalDedup.writeChain(spark, dir, Seq(cname), cfg, Some(chain)))
      }
      count("op.clips", nBatch)
    }
  }

  def collect(i: Int, h: Handle): Out = {
    val now = Workload.bytesUnder(dir)
    val added = now - lastBytes
    lastBytes = now
    val clusters =
      if (i < opsPerPass - 1) Map.empty[String, String]
      else IncrementalDedup.currentClusters(spark, dir).collect()
        .map(c => c.clip_id -> c.cluster_id).toMap
    (added, clusters)
  }

  def check(i: Int, out: Out): Seq[String] = {
    bytesAdded += out._1
    if (i == opsPerPass - 1) passClusters += out._2
    Nil
  }

  override def sameResult(untraced: Out, traced: Out): Boolean = untraced._2 == traced._2

  /** A full pipeline run over the same clips is the truth for the chain. */
  override def finish(): Seq[String] = {
    val all = SynthCorpus.generate(spark, nBase + opsPerPass * nBatch, seed, partitions = cores)
    val r = DedupPipeline.run(all, cfg)
    val full = r.clusters.collect().map(c => c.clip_id -> c.cluster_id).toMap
    r.edges.unpersist(); r.clusters.unpersist()
    val agree = passClusters.map(Stats.agreement(_, full))
    if (agree.nonEmpty) quality("cluster_agreement") = agree.min
    val clips = bytesAdded.size * nBatch
    if (clips > 0) quality("bytes_written_per_clip") = bytesAdded.sum.toDouble / clips
    agree.filter(_ < 1.0).map(a => f"chain clusters agree with a full run on only $a%.5f of clips").toSeq
  }
}

/** FuzzyRetrieval.topkIndexed top-5 against a saved index that holds every
  * variant class but one, so each query has a fuzzy match and no exact one.
  * A pass reloads the index and sends two query batches. */
final class RetrievalWorkload(spark: SparkSession, seed: Long, cores: Int, work: String)
    extends Workload(spark, seed, cores, work) {
  type Handle = Array[RetrievalRow]
  type Out = Map[String, Seq[(String, Double)]]

  private val nIds = 6000L
  private val heldOut = 2L // variant class 2: one token replaced
  private val batchSize = 200
  private val topK = 5
  private val cfg = cfgBase
  private val indexDir = s"$work/retrieval/index"
  private val corpusIds = (0L until nIds).filter(_ % SynthCorpus.VariantsPerBase != heldOut)
  private val queryIds = (0L until nIds).filter(_ % SynthCorpus.VariantsPerBase == heldOut)
    .take(2 * batchSize).grouped(batchSize).toSeq
  private var index: Dataset[TokRow] = _
  private var batches: Seq[Dataset[Clip]] = Nil
  private var oracle: Out = _

  def opsPerPass = queryIds.size
  def clipsPerOp = batchSize.toLong
  override def warmupSeconds = 8

  private def load(t: Option[Tracer]): Unit = sp(t, "retrieval.load_index") {
    if (index != null) index.unpersist(blocking = true)
    index = FuzzyRetrieval.loadIndex(spark, indexDir, cfg).cache()
    index.count()
  }

  def setup(): Unit = {
    Workload.deleteTree(indexDir)
    FuzzyRetrieval.saveIndex(clipsFor(corpusIds), cfg, indexDir)
    load(None)
    batches.foreach(_.unpersist())
    batches = queryIds.map { ids =>
      val b = clipsFor(ids).persist(StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    }
  }

  def truth(): Unit = {
    val fm = oracleOf(cfg, transcriptsOf(corpusIds))
    val p = matchParams(cfg, topK)
    oracle = queryIds.flatten.map { id =>
      val c = SynthCorpus.clipForId(id, seed)
      c.clip_id -> fm.matchQuery(c.transcript, p).map(m => (fm.externalId(m.sIdx), round4(m.score)))
    }.toMap
  }

  private def round4(x: Double) = math.round(x * 1e4) / 1e4

  override def startPass(tag: String, t: Option[Tracer]): Unit = load(t)

  def op(i: Int, t: Option[Tracer]): Handle = sp(t, "retrieval.topk") {
    val rows = FuzzyRetrieval.topkIndexed(batches(i), index, cfg, numberOfMatches = topK).collect()
    count("retrieval.topk.matches", rows.length)
    rows
  }

  def collect(i: Int, h: Handle): Out =
    h.groupBy(_.query_id).map { case (q, rs) => q -> rs.sortBy(_.rank).map(r => (r.s_id, round4(r.score))).toSeq }

  def check(i: Int, out: Out): Seq[String] = {
    val want = queryIds(i).map(id => f"clip_$id%010d").map(q => q -> oracle(q)).toMap
    val got = want.keys.map(q => q -> out.getOrElse(q, Seq.empty)).toMap
    val agree = Stats.agreement(got.map { case (q, s) => q -> s.toSet }, want.map { case (q, s) => q -> s.toSet })
    worst("topk_agreement", agree)
    if (agree < 1.0) Seq(f"top-$topK agrees with the oracle on only $agree%.4f of batch $i's queries")
    else Nil
  }
}
