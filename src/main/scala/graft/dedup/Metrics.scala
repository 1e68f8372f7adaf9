package graft.dedup

import org.apache.spark.sql.Dataset

/** Per-partition lineage metrics: row counts by physical partition for a
  * stage output — the distributed analog of the reference's per-phase STEP /
  * NMATCH counters (/root/reference/cli/src/FuzzyMatch-cli.cc:21-27,452-458),
  * recast as rows so they land in the metrics checkpoint table. */
object Metrics {

  /** The row count of each partition of `ds`, in ONE Spark job that
    * projects no columns (a global `count()` is two jobs under AQE). The job
    * materializes a persisted or checkpointed `ds` as it counts. */
  def partitionCounts(ds: Dataset[_]): Array[Long] =
    ds.toDF().select().rdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.collect()

  def perPartition(stage: String, counts: Seq[Long]): Seq[MetricRow] =
    counts.zipWithIndex.map { case (n, pid) => MetricRow(stage, pid, n, n, 0L, Map.empty) }
}
