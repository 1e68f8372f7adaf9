package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.CandidateStage

/** The AUTO df-cap (cap ≤ 0): chosen from the measured bucket-df histogram
  * so kept quadratic join work stays ≤ workFactor × entries — the r4
  * stretch item replacing hand-set cap constants at unknown scales. */
class AutoCapSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("auto-cap-spec")
    .getOrCreate()

  private def pairsOf(entries: Seq[(Long, String, Int, Int)], cap: Int): (Set[(String, String)], Long) = {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator
    val got = CandidateStage.bucketPairs(entries.toDF("sh", "id", "n", "mx"), None,
        CandidateStage.selfWindow, cap, acc)
      .collect().map(p => (p.getString(0), p.getString(1))).toSet
    (got, acc.value)
  }

  // every entry same length ⇒ orientation purely by id
  private def e(sh: Long, id: String) = (sh, id, 5, Int.MaxValue)

  test("skewed head is cut: the hot bucket alone blows the work budget and is dropped+counted") {
    // one bucket of df=100 (work 10,000) + 50 buckets of df=2 (work 200);
    // entries N = 200, workFactor 1 → budget 200: only the df=2 class fits,
    // floor lifts the cap to 8 — still < 100, so the hot bucket drops
    val hot = (0 until 100).map(i => e(999L, f"h$i%03d"))
    val cold = (0 until 50).flatMap(b => Seq(e(b.toLong, f"a$b%02d"), e(b.toLong, f"b$b%02d")))
    val (got, capped) = pairsOf(hot ++ cold, cap = -1)
    val expected = (0 until 50).map(b => (f"a$b%02d", f"b$b%02d")).toSet
    assert(got == expected, s"hot-bucket pairs leaked or cold pairs lost: ${got.take(5)}")
    assert(capped == 1L, s"hot bucket not counted: $capped")
  }

  test("cold distribution: auto cap keeps everything (cap lands at max df)") {
    val cold = (0 until 50).flatMap(b => Seq(e(b.toLong, f"a$b%02d"), e(b.toLong, f"b$b%02d")))
    val (gotAuto, cappedAuto) = pairsOf(cold, cap = 0) // default work factor (7)
    val (gotUncapped, _) = pairsOf(cold, cap = Int.MaxValue)
    assert(gotAuto == gotUncapped && cappedAuto == 0L,
      s"auto capped a cold distribution: dropped=$cappedAuto")
  }

  test("floor guards against drop-everything: tiny budget still keeps df <= 8 buckets") {
    // all buckets df=2, workFactor 1 → budget = N = 100 < work 200, so the
    // raw rule would choose cap 0; the floor (8) keeps every df-2 bucket
    val cold = (0 until 50).flatMap(b => Seq(e(b.toLong, f"a$b%02d"), e(b.toLong, f"b$b%02d")))
    val (got, capped) = pairsOf(cold, cap = -1)
    assert(got.size == 50 && capped == 0L,
      s"floor failed: kept=${got.size} dropped=$capped")
  }

  test("generous budget admits the whole Zipf head (auto == uncapped)") {
    val hot = (0 until 20).map(i => e(999L, f"h$i%03d"))
    val cold = (0 until 10).flatMap(b => Seq(e(b.toLong, f"a$b%02d"), e(b.toLong, f"b$b%02d")))
    val (gotAuto, cappedAuto) = pairsOf(hot ++ cold, cap = -1000)
    val (gotUncapped, _) = pairsOf(hot ++ cold, cap = Int.MaxValue)
    assert(gotAuto == gotUncapped && cappedAuto == 0L)
  }
}
