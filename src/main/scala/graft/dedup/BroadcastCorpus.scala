package graft.dedup

import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.reflect.ClassTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
import org.apache.spark.storage.StorageLevel
import graft.kernel.{Doc, SuffixIndex}

/** The broadcast path's one owner: the reference's ONE in-RAM index shared
  * read-only by every worker (cli/src/FuzzyMatch-cli.cc:82-193)
  * as a Spark broadcast. Every consumer that collects a corpus to the driver
  * and broadcasts it — retrieval, decontamination, broadcast verify, the
  * stream-static probes and the incremental audio probes — goes through here:
  *  - [[fits]]: the envelope (`broadcastMaxRows` / `broadcastMaxBytes`), also
  *    the pipeline's auto-strategy decision;
  *  - [[broadcast]]: one job for rows + estimated bytes, the envelope check,
  *    and only then the collect and ONE broadcast of the rows together with
  *    any driver-built index over them;
  *  - [[served]]: the token corpus broadcast, kept for as long as a
  *    caller-cached input stays cached;
  *  - [[indexFor]]: the executor-side suffix-array index, built once per
  *    broadcast. */
private[graft] object BroadcastCorpus {

  def fits(n: Long, bytes: Long, cfg: DedupConfig): Boolean =
    n <= cfg.broadcastMaxRows && bytes <= cfg.broadcastMaxBytes

  /** Row count and summed per-row byte estimate of `ds` in ONE aggregation job. */
  def stats(ds: Dataset[_], rowBytes: Column): (Long, Long) = {
    val r = ds.toDF().agg(count(lit(1)), coalesce(sum(rowBytes), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def requireFits(n: Long, bytes: Long, cfg: DedupConfig, what: String,
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

  /** The broadcast of a token corpus. A caller-cached corpus is a snapshot:
    * the first call collects and broadcasts it, and every later call on the
    * same cache entry reuses that broadcast (and the executors' index built
    * from it). The memo is keyed on the IDENTITY of the corpus's Spark cache
    * entry (the CachedData whose InMemoryRelation `Dataset.storageLevel`
    * reads), held weakly: `unpersist`, or a re-`cache()` of changed data,
    * removes or replaces that entry, so it always misses, and an entry whose
    * cache entry is gone is dropped on the next call, its broadcast left to
    * the ContextCleaner. An uncached corpus is persisted for the guard and
    * the collect, then released, on every call. The envelope is checked
    * against each call's `cfg`, memo hit or not. */
  private final case class Memo(entry: java.lang.ref.WeakReference[CachedData], n: Long,
      bytes: Long, bc: Broadcast[Array[TokRow]])
  private val memo = ArrayBuffer.empty[Memo]

  def served(toks: Dataset[TokRow], cfg: DedupConfig, what: String,
      alternative: String): Broadcast[Array[TokRow]] = {
    val rowBytes = TokenizeStage.rowBytes()
    val cached = toks match {
      case ds: org.apache.spark.sql.classic.Dataset[_] =>
        ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
          .filter(_.cachedRepresentation.cacheBuilder.storageLevel != StorageLevel.NONE)
          .map(cd => (ds.sparkSession, cd))
      case _ => None
    }
    cached match {
      case None =>
        val persisted = toks.persist()
        try broadcast(persisted, rowBytes, cfg, what, alternative)(identity[Array[TokRow]])
        finally persisted.unpersist()
      case Some((session, entry)) =>
        def live(cd: CachedData) =
          session.sharedState.cacheManager.lookupCachedData(session, cd.plan).exists(_ eq cd)
        val hit = memo.synchronized {
          memo.filterInPlace(m => Option(m.entry.get).exists(live))
          memo.find(_.entry.get eq entry)
        }
        hit match {
          case Some(m) =>
            requireFits(m.n, m.bytes, cfg, what, alternative)
            m.bc
          case None =>
            val (n, bytes) = stats(toks, rowBytes)
            requireFits(n, bytes, cfg, what, alternative)
            val bc = broadcastUnguarded(toks)(identity[Array[TokRow]])
            memo.synchronized(memo += Memo(new java.lang.ref.WeakReference(entry), n, bytes, bc))
            bc
        }
    }
  }

  /** Driver-built inverted index for a broadcast: key → positions of the
    * rows carrying it, so duplicate ids stay distinct rows (TM semantics).
    * A bucket past `cap` is dropped AND counted, never a linear scan per
    * probe. Returns (index, capped bucket count). Shared by the stream-static
    * band and audio chunk probes and the incremental audio cross channel. */
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
      : (SuffixIndex, Array[Doc], Array[TokRow], LongMap[Int]) =
    builds.synchronized {
      var built = builds.get(bc.id)
      if (built == null) {
        val rows = bc.value
        val index = new SuffixIndex
        val docs = new Array[Doc](rows.length)
        var i = 0
        while (i < rows.length) {
          index.add(rows(i).ids)
          docs(i) = Doc(rows(i).ids, rows(i).reals, rows(i).itoks)
          i += 1
        }
        index.sort() // eagerly, before publication — lookups are then read-only
        built = new Built(index, docs, rows)
        builds.put(bc.id, built) // the LRU bound evicts the eldest
      }
      if (needDf && built.df == null) built.df = docFreq(built.rows)
      (built.index, built.docs, built.rows, if (built.df == null) LongMap.empty[Int] else built.df)
    }
}
