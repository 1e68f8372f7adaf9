package graft.tools

import graft.dedup.DedupPipeline

/** The dedup-projection goldens for the driver oracle (cluster sizes,
  * survivor stats), and the audio pair queries checked against their
  * oracle semantics re-run in Spark SQL (`AUDIO_PAIRS` / `AUDIO_CONTAINED`). */
object GoldenProbe {
  def main(args: Array[String]): Unit = {
    val spark = DedupPipeline.sessionBuilder("graft-golden",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    println("SIZES=" + graft.ops.PipelineQueries.qDedupSizes(spark, dir)
      .orderBy("cluster_size").collect().map(r => (r.getLong(0), r.getLong(1))).mkString(";"))
    println("SURV=" + graft.ops.PipelineQueries.qDedupSurvivorStats(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).mkString(";"))
    println("SURVM=" + graft.ops.PipelineQueries.qDedupSurvivorStatsMedoid(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).mkString(";"))
    // checksum goldens for the rows-only shadows: run this probe at TWO core
    // counts (SPARK_GRAFT_CPUS=8 and 32) and commit only values that agree
    graft.ops.PipelineQueries.checksumOracled.toSeq.sortBy(_._1).foreach {
      case (name, q) =>
        val r = q(spark, dir).head()
        println(s"CHECK $name n=${r.getLong(0)} sum=${r.getLong(1)}")
    }
    // q_audio_dup_pairs vs its oracle semantics (the DuckDB SQL re-expressed
    // in Spark SQL over the same parquet): set equality incl. corr — guards
    // fingerprint changes against drift on the driver's own gate
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    val want = spark.sql(
      """SELECT format_string('doc_%08d', a.doc_id) AS a,
        | format_string('doc_%08d', b.doc_id) AS b, CAST(1.0 AS DOUBLE) AS corr
        | FROM documents a JOIN documents b
        | ON a.doc_id div 4 = b.doc_id div 4 AND a.doc_id < b.doc_id""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val got = graft.ops.PipelineQueries.qAudioDupPairs(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    println(s"AUDIO_PAIRS match=${got == want} got=${got.size} want=${want.size}" +
      (if (got != want) s" missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}" else ""))
    // q_audio_contained reduces to the same pair set at offset 0, corr 1.0
    val wantCt = want.map { case (a, b, c) => (a, b, 0L, c) }
    val gotCt = graft.ops.PipelineQueries.qAudioContained(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    println(s"AUDIO_CONTAINED match=${gotCt == wantCt} got=${gotCt.size} want=${wantCt.size}" +
      (if (gotCt != wantCt) s" missing=${(wantCt -- gotCt).take(3)} extra=${(gotCt -- wantCt).take(3)}"
       else ""))
    spark.stop()
  }
}
