package graft.tools

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import graft.data.{Clip, TableIO}
import graft.dedup.{DedupConfig, DedupPipeline, FuzzyRetrieval}

/** Distributed fuzzy top-k retrieval job — the reference CLI's `-a match`
  * (/root/reference/cli/src/FuzzyMatch-cli.cc:219-233) as a spark-submit
  * main.
  *
  * Usage:
  *   MatchCli <corpus> <queries> <outDir|-> [threshold=0.8] [nmatch=5]
  *            [noPerfect=false] [strategy=auto|broadcast|shuffle]
  *            [action=match|subseq|index|append|compact|decon]
  *
  * `corpus` / `queries`: a clip parquet path (input_hint schema), a text
  * file (`.txt`/`.gz`, one sentence per line — ids are 1-based line numbers,
  * the CLI's S1 convention), or `synth:N`; `corpus` may also be
  * `index:<dir>` — a PREBUILT retrieval index written by `action=index`
  * (the reference's `-a index` → `-i CORPUS.fmi` job split,
  * FuzzyMatch-cli.cc:435-443/417-420): match jobs then skip the corpus
  * TokenizeStage entirely. `outDir` `-` prints the first rows instead of
  * writing. Emits the reference's `NMATCH nonempty/total` counter line
  * (FuzzyMatch-cli.cc:452-458). `strategy` sets `DedupConfig.strategy`:
  * `auto` (the default) broadcasts the index side when it fits the
  * envelope and runs the shuffle path otherwise; `broadcast` / `shuffle`
  * force a path. `action=subseq` runs the best-subsequence retrieval
  * (`-a subseq`) and emits one row per query with the detokenized matched
  * span.
  * `action=index` tokenizes
  * `corpus` and writes the index to `outDir` (queries arg ignored, pass `-`).
  * `action=decon` runs eval-set decontamination: `queries` is the
  * eval/benchmark table, `corpus` the training corpus; writes the CLEAN
  * corpus to `outDir` (or prints flagged rows with `-`) and reports
  * `DECON clean/flagged/total` counts. Containment flagging is always on.
  */
object MatchCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: MatchCli <corpus|index:DIR> <queries> <outDir|-> " +
      "[threshold] [nmatch] [noPerfect] [auto|broadcast|shuffle] " +
      "[match|subseq|index|append|compact|decon]")
    val Array(corpusArg, queriesArg, outDir) = args.take(3)
    val threshold = if (args.length > 3) args(3).toFloat else 0.8f
    val nmatch = if (args.length > 4) args(4).toInt else 5
    val noPerfect = args.length > 5 && args(5).toBoolean
    val strategy = if (args.length > 6) args(6) else "auto"
    require(Set("auto", "broadcast", "shuffle")(strategy),
      s"unknown strategy '$strategy' (use auto|broadcast|shuffle)")
    val action = if (args.length > 7) args(7) else "match"

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = DedupPipeline.sessionBuilder("graft-match", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cfg = DedupConfig(threshold = threshold, strategy = strategy)

    if (action == "index" || action == "append" || action == "compact") {
      require(outDir != "-", s"action=$action takes the index dir as <outDir>")
      if (action == "index") FuzzyRetrieval.saveIndex(load(spark, corpusArg), cfg, outDir)
      else if (action == "append") FuzzyRetrieval.appendIndex(load(spark, corpusArg), cfg, outDir)
      else FuzzyRetrieval.compactIndex(spark, cfg, outDir)
      val n = FuzzyRetrieval.loadIndex(spark, outDir, cfg).count()
      val segs = FuzzyRetrieval.readIndexMeta(spark, outDir).segments
      if (action == "index") println(s"INDEXED $n rows -> $outDir")
      else if (action == "append") println(s"APPENDED -> $outDir (index now $n rows, $segs segment(s))")
      else println(s"COMPACTED -> $outDir ($n rows, $segs segment(s))")
      spark.stop()
      return
    }

    if (action == "decon") {
      // one materialization of the corpus serves the decontamination pass,
      // both counts, and the clean write — not four separate scans
      val trainCorpus = load(spark, corpusArg).persist()
      val nTotal = trainCorpus.count()
      val evalSet = load(spark, queriesArg)
      val skipped = spark.sparkContext.longAccumulator("deconFuzzySkippedOverLength")
      val (clean, flagged) = FuzzyRetrieval.decontaminate(trainCorpus, evalSet, cfg,
        alsoContained = true, fuzzySkippedOverLength = Some(skipped))
      val nFlagged = flagged.count()
      if (outDir == "-") {
        flagged.toDF().select("clip_id", "transcript")
          .orderBy("clip_id").show(50, truncate = false)
      } else {
        TableIO.write(clean.toDF(), outDir, SaveMode.Overwrite)
      }
      println(s"DECON ${nTotal - nFlagged}/$nFlagged/$nTotal clean/flagged/total" +
        (if (skipped.value > 0) s" (fuzzy probe skipped ${skipped.value} over-length rows)" else ""))
      spark.stop()
      return
    }

    val corpusToks =
      if (corpusArg.startsWith("index:")) {
        val dir = corpusArg.stripPrefix("index:")
        println(s"[match] using prebuilt index $dir — corpus TokenizeStage skipped")
        FuzzyRetrieval.loadIndex(spark, dir, cfg)
      } else graft.dedup.TokenizeStage(load(spark, corpusArg), cfg)
    val queries = load(spark, queriesArg)
    val nQueries = queries.count()

    val (results, rankCol) = action match {
      case "match" =>
        (FuzzyRetrieval.topkIndexed(queries, corpusToks, cfg, nmatch, noPerfect).toDF(), "rank")
      case "subseq" =>
        (FuzzyRetrieval.subsequenceIndexed(queries, corpusToks, cfg, nmatch, noPerfect).toDF(), "s_id")
      case a =>
        sys.error(s"unknown action '$a' (use match|subseq|index|append|compact|decon)")
    }

    val persisted = results.persist()
    // nonempty = queries with at least one result row (for match, rank 1
    // exists iff any row exists; for subseq there is at most one row)
    val nonempty = persisted.select("query_id").distinct().count()
    if (outDir == "-") {
      persisted.orderBy(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col(rankCol)).show(50, truncate = false)
    } else {
      TableIO.write(persisted, outDir, SaveMode.Overwrite)
    }
    println(s"NMATCH $nonempty/$nQueries")
    spark.stop()
  }

  /** Load a clip table from parquet, a (gz) text file, or `synth:N`. */
  private[tools] def load(spark: SparkSession, arg: String): Dataset[Clip] = {
    import spark.implicits._
    if (arg.startsWith("synth:"))
      graft.data.SynthCorpus.generate(spark, arg.stripPrefix("synth:").toLong)
    else if (arg.endsWith(".txt") || arg.endsWith(".gz") || arg.contains(",")) {
      val rows = CorpusImport.readRows(arg)
      rows.map { case (id, src) =>
        Clip(id, Array.emptyByteArray, 16000, 0, "pcm_s16le", src)
      }.toDS()
    } else TableIO.readClips(spark, arg)
  }
}
