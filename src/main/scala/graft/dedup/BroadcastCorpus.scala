package graft.dedup

import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.reflect.ClassTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.storage.StorageLevel
import graft.kernel.{Doc, SuffixIndex}

/** The broadcast path's one owner: the reference's ONE in-RAM index shared
  * read-only by every worker (cli/src/FuzzyMatch-cli.cc:82-193)
  * as a Spark broadcast. Every consumer that collects a corpus to the driver
  * and broadcasts it — retrieval, decontamination, broadcast verify, the
  * stream-static probes and the incremental probes — goes through here:
  *  - [[fits]]: the envelope (`broadcastMaxRows` / `broadcastMaxBytes`);
  *  - [[picksBroadcast]]: the one path decision of dedup, retrieval and
  *    decontamination (`cfg.strategy`, "auto" = [[fits]]);
  *  - [[broadcast]]: one job for rows + estimated bytes, the envelope check,
  *    and only then the collect and ONE broadcast of the rows together with
  *    any driver-built index over them;
  *  - [[served]]: the retrieval corpus's path decision and broadcast, kept
  *    for as long as a caller-cached input stays cached;
  *  - [[indexFor]]: the executor-side suffix-array index, built once per
  *    broadcast. */
private[graft] object BroadcastCorpus {

  def fits(n: Long, bytes: Long, cfg: DedupConfig): Boolean =
    n <= cfg.broadcastMaxRows && bytes <= cfg.broadcastMaxBytes

  /** The path decision of every operation with a broadcast and a shuffle
    * path: `cfg.strategy` "broadcast" / "shuffle" forces one, and "auto"
    * broadcasts exactly when the input [[fits]]. `stats` (rows, estimated
    * bytes) is read only under "auto". */
  def picksBroadcast(cfg: DedupConfig)(stats: => (Long, Long)): Boolean = cfg.strategy match {
    case "broadcast" => true
    case "shuffle" => false
    case _ => val (n, bytes) = stats; fits(n, bytes, cfg)
  }

  /** Row count and summed per-row byte estimate of `ds` in ONE Spark job:
    * per-partition partials folded on the driver (a global `agg` runs as
    * two jobs under AQE — its exchange's map stage, then the final one). */
  def stats(ds: Dataset[_], rowBytes: Column): (Long, Long) =
    ds.toDF().select(rowBytes.cast("long")).rdd.mapPartitions { it =>
      var n, bytes = 0L
      it.foreach { r => n += 1; if (!r.isNullAt(0)) bytes += r.getLong(0) }
      Iterator.single((n, bytes))
    }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))

  def requireFits(n: Long, bytes: Long, cfg: DedupConfig, what: String,
      alternative: String): Unit =
    require(fits(n, bytes, cfg),
      s"$what has $n rows / ~$bytes estimated bytes, past the broadcast envelope " +
        s"(broadcastMaxRows ${cfg.broadcastMaxRows} / broadcastMaxBytes " +
        s"${cfg.broadcastMaxBytes}): use $alternative")

  /** `ds` collected and broadcast as `payload(rows)` — the rows and any
    * driver-built index over them in one broadcast. One [[stats]] job checks
    * the envelope first, so a corpus past it fails with an error naming
    * `alternative` before anything reaches the driver. `ds` is scanned twice:
    * persist it unless it is cheap to recompute. */
  def broadcast[T, V: ClassTag](ds: Dataset[T], rowBytes: Column, cfg: DedupConfig,
      what: String, alternative: String)(payload: Array[T] => V): Broadcast[V] = {
    val (n, bytes) = stats(ds, rowBytes)
    requireFits(n, bytes, cfg, what, alternative)
    broadcastUnguarded(ds)(payload)
  }

  /** [[broadcast]] without the envelope job, for a caller that has already
    * decided (the pipeline's auto strategy, or a forced `strategy = "broadcast"`). */
  def broadcastUnguarded[T, V: ClassTag](ds: Dataset[T])(payload: Array[T] => V): Broadcast[V] =
    ds.sparkSession.sparkContext.broadcast(payload(ds.collect()))

  /** A retrieval corpus's path: its broadcast, or None for the shuffle path
    * ([[picksBroadcast]]). A forced broadcast past the envelope fails with
    * an error naming `strategy = "shuffle"` before anything is collected.
    *
    * A `cached` corpus (cached by the caller) is a snapshot: the first call
    * collects and broadcasts it, and every later call on the same cache
    * entry decides from the stored row and byte counts (no Spark job) and
    * reuses that broadcast (and the executors' index built from it). The
    * memo is keyed on the IDENTITY of the corpus's Spark cache entry (the
    * CachedData whose InMemoryRelation `Dataset.storageLevel` reads), held
    * weakly: `unpersist`, or a re-`cache()` of changed data, removes or
    * replaces that entry, so it always misses, and an entry whose cache
    * entry is gone is dropped on the next call, its broadcast left to the
    * ContextCleaner. Any other corpus is decided from one [[stats]] job and
    * broadcast unmemoized — persist it first, since it is scanned twice.
    * The envelope is checked against each call's `cfg`, memo hit or not. */
  private final case class Memo(entry: java.lang.ref.WeakReference[CachedData], n: Long,
      bytes: Long, bc: Broadcast[Array[TokRow]])
  private val memo = ArrayBuffer.empty[Memo]

  def served(toks: Dataset[TokRow], cfg: DedupConfig,
      cached: Boolean): Option[Broadcast[Array[TokRow]]] = {
    val entry = toks match {
      case ds: org.apache.spark.sql.classic.Dataset[_] if cached =>
        ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
          .filter(_.cachedRepresentation.cacheBuilder.storageLevel != StorageLevel.NONE)
          .map(cd => (ds.sparkSession, cd))
      case _ => None
    }
    val hit = entry.flatMap { case (session, cd) =>
      def live(c: CachedData) =
        session.sharedState.cacheManager.lookupCachedData(session, c.plan).exists(_ eq c)
      memo.synchronized {
        memo.filterInPlace(m => Option(m.entry.get).exists(live))
        memo.find(_.entry.get eq cd)
      }
    }
    lazy val (n, bytes) = hit.fold(stats(toks, TokenizeStage.rowBytes()))(m => (m.n, m.bytes))
    if (!picksBroadcast(cfg)((n, bytes))) None
    else {
      requireFits(n, bytes, cfg, "corpus", "strategy = \"shuffle\" (the beyond-memory path)")
      Some(hit.fold {
        val bc = broadcastUnguarded(toks)(identity[Array[TokRow]])
        entry.foreach { case (_, cd) =>
          memo.synchronized(memo += Memo(new java.lang.ref.WeakReference(cd), n, bytes, bc))
        }
        bc
      }(_.bc))
    }
  }

  /** Driver-built inverted index for a broadcast: key → positions of the
    * rows carrying it, so duplicate ids stay distinct rows (TM semantics).
    * A bucket past `cap` is dropped AND counted, never a linear scan per
    * probe. Returns (index, capped bucket count). Shared by the stream-static
    * band and audio chunk probes and the incremental probes. */
  def postings(keys: Array[Array[Long]], cap: Int): (java.util.HashMap[Long, Array[Int]], Long) = {
    val buckets = new java.util.HashMap[Long, ArrayBuffer[Int]]()
    var i = 0
    while (i < keys.length) {
      keys(i).foreach(k => buckets.computeIfAbsent(k, _ => new ArrayBuffer[Int]) += i)
      i += 1
    }
    val index = new java.util.HashMap[Long, Array[Int]](keys.length * 2)
    var capped = 0L
    buckets.forEach((k, rows) => if (rows.length > cap) capped += 1 else index.put(k, rows.toArray))
    (index, capped)
  }

  /** Per-word document frequency over `rows` (each word counted once per row). */
  def docFreq(rows: Array[TokRow]): LongMap[Int] = {
    val df = LongMap.empty[Int]
    val seen = new java.util.HashSet[java.lang.Long]()
    rows.foreach { r =>
      seen.clear()
      r.ids.foreach(id => if (seen.add(id)) df(id) = df.getOrElse(id, 0) + 1)
    }
    df
  }

  /** IDF penalty vector of a pattern against `n` corpus rows (float division
    * then log — oracle parity); a word absent from the corpus gets `unknown`
    * (0 for the reference's match, −1 marks a subsequence breaker). */
  def idf(ids: Array[Long], df: LongMap[Int], n: Int, unknown: Float): Array[Float] =
    ids.map { id =>
      val d = df.getOrElse(id, 0)
      if (d > 0) math.log((n.toFloat / d.toFloat).toDouble).toFloat else unknown
    }

  /** One executor-side build: the sorted suffix-array index, and `df` built on
    * the first call that needs it (an idf-free top-k job, then subsequence). */
  private final class Built(val index: SuffixIndex, val docs: Array[Doc], val rows: Array[TokRow]) {
    var df: LongMap[Int] = null
  }

  /** Executor-side per-JVM build cache, keyed by broadcast id. Bounded LRU
    * with capacity TWO: one slot for a long-lived index (a streaming query
    * reusing its corpus every micro-batch, or a caller-cached corpus served
    * to many match jobs) plus one for a concurrently running batch job —
    * interleaved tasks of two broadcasts each build once instead of
    * thrashing, while a long-lived JVM never holds more than two (index +
    * docs + rows) graphs. Concurrent tasks of the SAME broadcast serialize on
    * the monitor and reuse the first build. */
  private val builds =
    new java.util.LinkedHashMap[Long, Built](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Built]): Boolean = size() > 2
    }

  /** `(index, docs, rows, df)` for a broadcast; `df` is empty unless `needDf`. */
  def indexFor(bc: Broadcast[Array[TokRow]], needDf: Boolean)
      : (SuffixIndex, Array[Doc], Array[TokRow], LongMap[Int]) = indexFor(bc, needDf, identity[Array[TokRow]])

  /** [[indexFor]] over the rows `rowsOf` finds in a broadcast that also
    * carries a driver-built index over them. */
  def indexFor[V](bc: Broadcast[V], needDf: Boolean, rowsOf: V => Array[TokRow])
      : (SuffixIndex, Array[Doc], Array[TokRow], LongMap[Int]) =
    builds.synchronized {
      var built = builds.get(bc.id)
      if (built == null) {
        val rows = rowsOf(bc.value)
        // sorted eagerly, before publication — lookups are then read-only
        val (index, docs) = TokenizeStage.suffixIndex(rows)
        built = new Built(index, docs, rows)
        builds.put(bc.id, built) // the LRU bound evicts the eldest
      }
      if (needDf && built.df == null) built.df = docFreq(built.rows)
      (built.index, built.docs, built.rows, if (built.df == null) LongMap.empty[Int] else built.df)
    }
}
