package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.DedupPipeline
import graft.ops.Queries

/** Physical-plan quality gates: the declarative queries must produce the
  * plans a 100 TB run needs — filters and projections pushed into the
  * parquet scan, small dimensions broadcast, whole-stage codegen covering
  * the relational glue. */
class PlanQualitySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = DedupPipeline.sessionDefaults(
    SparkSession.builder().master("local[4]").appName("plan-spec"), 4)
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  test("filter + projection reach the parquet scan (PushedFilters / ReadSchema)") {
    val f = formatted(Queries.qFilterTopk(spark, dir))
    assert(f.contains("PushedFilters:") &&
      f.contains("GreaterThanOrEqual(l_quantity,45.0)"), f.take(2000))
    // projection pruning: only the 3 projected + 2 filtered columns are read
    val readSchema = f.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"),
      s"scan reads more columns than needed: $readSchema")
  }

  test("dimension join is broadcast, not shuffled") {
    val p = planOf(Queries.qJoinAgg(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"))
  }

  test("aggregations run partial+final (map-side combine)") {
    val p = planOf(Queries.q1Agg(spark, dir))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), s"no partial aggregation in plan:\n${p.take(1500)}")
  }

  test("relational glue stays inside whole-stage codegen") {
    val df = Queries.q1Agg(spark, dir)
    df.collect() // finalize the adaptive plan
    val f = formatted(df)
    assert(f.contains("codegen id"), f.take(2000))
  }

  test("jaccard self-join is an equi-join on lang, not a cartesian product") {
    val (df, release) = Queries.jaccardPairs(spark, dir)
    val p = try planOf(df) finally release()
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  // walk the physical tree, descending through AQE wrappers and query
  // stages but treating a cache scan as a LEAF (its cached plan is the
  // one-time materialization, not per-read work)
  private def treeNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: treeNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: treeNodes(q.plan)
    case other => p +: other.children.flatMap(treeNodes)
  }

  test("jaccard shingle entries are cached: one tokenize+explode scan per invocation") {
    val (df, release) = Queries.jaccardPairs(spark, dir)
    try {
      // every read of the exploded entry set (self-join sides + sizes agg)
      // must come from the cache populated by the eager hot-key stats job —
      // a plan that re-derives the entries from the parquet scan pays the
      // dominant tokenize+explode map cost twice (the r4 verdict's wart #1)
      val nodes = treeNodes(df.queryExecution.executedPlan)
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
        s"jaccard plan does not read the cached entries:\n${planOf(df).take(3000)}")
      val raw = nodes.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(raw.isEmpty,
        s"jaccard plan re-scans parquet past the cache: $raw")
    } finally release()
  }

  test("candidate pair generation is an equi-join on the bucket hash, never a nested loop") {
    import spark.implicits._
    val clips = graft.data.SynthCorpus.generate(spark, 64)
    val cfg = graft.dedup.DedupConfig()
    val toks = graft.dedup.TokenizeStage(clips, cfg)
    val acc1 = spark.sparkContext.longAccumulator
    val acc2 = spark.sparkContext.longAccumulator
    val Seq(ch) = graft.dedup.CandidateStage.keyedPairs(toks, graft.dedup.SignatureStage(toks, cfg),
      None, cfg.copy(useMinhashChannel = false), acc1, Some(acc2), spark.sparkContext.longAccumulator)
    val p = planOf(ch)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the P5 window + orientation live INSIDE an equi-join on sh (codegen),
    // not a typed flatMapGroups — the bucket join is the whole-stage-codegen
    // hot path and AQE can skew-split it
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("jaccard runs ONE (lang, sh) exchange total — inside the cache, none per read") {
    val (df, release) = Queries.jaccardPairs(spark, dir)
    try {
      df.collect() // finalize the adaptive plan
      // the wide exchange on the shingle column lives INSIDE the cached
      // relation (executed once at materialization); the df-agg, anti-join
      // and both self-join sides must consume the cache's hash partitioning
      // rather than re-shuffling the entry set per read (the pre-r5
      // ReusedExchange shape still wrote that shuffle once per ACTION)
      val shingleExchanges = treeNodes(df.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if s.outputPartitioning.toString.contains("sh#") => s
      }
      assert(shingleExchanges.isEmpty,
        s"shingle entry set re-shuffled outside the cache: $shingleExchanges")
    } finally release()
  }

  test("cross-table retrieval candidates are an equi-join on the bucket hash") {
    import spark.implicits._
    val corpus = graft.data.SynthCorpus.generate(spark, 64)
    val queries = corpus.filter(c => c.clip_id.endsWith("0"))
    val cfg = graft.dedup.DedupConfig()
    val qt = graft.dedup.TokenizeStage(queries, cfg)
    val ct = graft.dedup.TokenizeStage(corpus, cfg)
    val Seq(ch) = graft.dedup.CandidateStage.keyedPairs(qt, graft.dedup.SignatureStage(qt, cfg),
      Some((ct, () => graft.dedup.SignatureStage(ct, cfg))), cfg.copy(useMinhashChannel = false),
      spark.sparkContext.longAccumulator, None, spark.sparkContext.longAccumulator)
    val p = planOf(ch)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("containment gram channel (subsequence/decon shuffle) is an equi-join, never a nested loop") {
    import spark.implicits._
    val corpus = graft.data.SynthCorpus.generate(spark, 64)
    val queries = corpus.filter(c => c.clip_id.endsWith("0"))
    val cfg = graft.dedup.DedupConfig()
    val qt = graft.dedup.TokenizeStage(queries, cfg)
    val ct = graft.dedup.TokenizeStage(corpus, cfg)
    val ch = graft.dedup.CandidateStage.crossContainmentGramChannel(qt, ct, cfg,
      cap = 1024, spark.sparkContext.longAccumulator)
    val p = planOf(ch.toDF())
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("len-window pair join has no per-language cartesian shape") {
    val p = planOf(Queries.qLenWindowPairs(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }
}
