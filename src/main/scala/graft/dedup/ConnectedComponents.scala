package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class ClusterRow(clip_id: String, cluster_id: String)

/** Stage 3 — connected components over the dup-pair graph.
  *
  * Two paths, mirroring the verify stage's strategy split:
  *  - **local**: when the edge set fits on the driver (it is orders of
  *    magnitude smaller than the corpus — only dup pairs), a union-find over
  *    the collected edges ([[unionFind]], which an increment's driver-side
  *    label contraction shares) + a broadcast label map. O(E α(E)) and two
  *    narrow jobs.
  *  - **distributed**: iterative min-label propagation (hash-min) via
  *    DataFrame self-joins with `localCheckpoint` per iteration and a
  *    convergence count — the 10^12-row path. Dup clusters are near-cliques,
  *    so propagation converges in a handful of iterations; a graph still
  *    changing at the iteration cap (a long dup chain) fails loudly.
  *
  * Cluster id = min clip_id in the component either way.
  */
object ConnectedComponents {

  /** `knownEdgeCount`: pass the edge count when the caller has already
    * materialized it (DedupPipeline/IncrementalDedup count the persisted
    * edge set for their metrics) — recounting here was one redundant job
    * per pipeline run (r6, job-count floor reduction). < 0 = unknown. */
  def apply(
      edges: Dataset[Edge],
      allIds: DataFrame,
      maxIterations: Int,
      localEdgeCap: Long = 10000000L,
      knownEdgeCount: Long = -1L): Dataset[ClusterRow] = {
    val nEdges = if (knownEdgeCount >= 0) knownEdgeCount else edges.count()
    if (nEdges <= localEdgeCap) local(edges, allIds)
    else distributed(edges, allIds, maxIterations)
  }

  /** Driver union-find over the (small) edge list, labels broadcast back. */
  def local(edges: Dataset[Edge], allIds: DataFrame): Dataset[ClusterRow] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(unionFind(edges.select("a", "b").as[(String, String)].collect()))
    allIds.select(col("clip_id")).as[String].mapPartitions { it =>
      val m = bc.value
      it.map(id => ClusterRow(id, m.getOrDefault(id, id)))
    }
  }

  /** Union-find over `pairs` on the driver: the component root of every
    * endpoint that is not itself a root (look ids up with `getOrDefault(id,
    * id)`). The smaller id wins each union, so a root is its component's min
    * id. Shared by [[local]] and the increment's contracted touched graph. */
  def unionFind(pairs: IterableOnce[(String, String)]): java.util.HashMap[String, String] = {
    val parent = new java.util.HashMap[String, String]()
    def find(x0: String): String = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { x = p; p = parent.getOrDefault(x, x) }
      // path compression
      var y = x0
      while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
      x
    }
    pairs.iterator.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val roots = new java.util.HashMap[String, String](parent.size * 2)
    parent.forEach((id, _) => roots.put(id, find(id)))
    roots
  }

  /** Iterative hash-min label propagation (the beyond-driver path). */
  def distributed(edges: Dataset[Edge], allIds: DataFrame, maxIterations: Int): Dataset[ClusterRow] = {
    val spark = edges.sparkSession
    import spark.implicits._

    val sym = edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
      .distinct()
      .localCheckpoint() // materialize once; reused every iteration

    var labels = sym.select($"src".as("v")).distinct()
      .withColumn("label", $"v")
      .localCheckpoint()

    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIterations) {
      val msgs = sym.join(labels, sym("src") === labels("v"))
        .groupBy($"dst")
        .agg(min($"label").as("nbr_min"))
      // materialize ONCE (join runs once), then derive both next-labels and
      // the convergence count from the checkpointed frame
      val updated = labels.join(msgs, labels("v") === msgs("dst"), "left")
        .select(labels("v"),
                labels("label").as("old"),
                least(labels("label"), coalesce($"nbr_min", labels("label"))).as("label"))
        .localCheckpoint()
      changed = updated.filter($"label" =!= $"old").count()
      labels = updated.select($"v", $"label")
      iter += 1
    }
    // unmerged labels past the cap are a wrong answer, never a result
    if (changed > 0)
      throw new IllegalStateException(s"distributed connected components did not converge: " +
        s"$changed labels still changed after maxIterations = $maxIterations — raise " +
        "ccMaxIterations (a chain of n dup edges needs up to n rounds)")

    allIds.select($"clip_id")
      .join(labels, allIds("clip_id") === labels("v"), "left")
      .select($"clip_id", coalesce($"label", $"clip_id").as("cluster_id"))
      .as[ClusterRow]
  }
}
