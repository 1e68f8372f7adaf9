package graft.dedup

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.util.LongAccumulator
import graft.data.Clip
import graft.kernel.Hashing
import graft.ops.AudioOps

/** Audio-payload near-duplicate channel: finds clips whose AUDIO content
  * matches even when transcripts differ — the payload-side counterpart of
  * the transcript pipeline (the reference has no audio analog; this extends
  * its dup semantics to the clip's binary column).
  *
  * Three stages, mirroring the transcript pipeline's shape so the same
  * scale machinery applies:
  *  1. fingerprint (narrow): decode → ACTIVE-REGION crop (sample-accurate
  *     energy bounds, see below) → per-frame RMS envelope → mean-
  *     normalize (amplitude invariance) → energy-delta sign bits
  *     (Haitsma–Kalker-style) → position-salted chunk hashes, plus a
  *     bounded RMS-normalized PCM head sketch for verification;
  *  2. candidates: chunk-hash bucket join via the shared
  *     [[CandidateStage.bucketJoin]] kernel (hot buckets capped AND
  *     counted; P5-style frame-count window folded into the join);
  *  3. verify: mean-centered Pearson correlation of the PCM head sketches
  *     ≥ `minCorr` (byte-identical dups score 1.0; amplitude-scaled copies
  *     survive the RMS normalization; unrelated content — including
  *     same-pitch tones with independent noise — decorrelates).
  *
  * TRIM INVARIANCE: every sketch is computed over the clip's active region
  * — `[first, last]` sample whose amplitude clears 2% of the clip's peak
  * amplitude (relative ⇒ amplitude-scale invariant). A copy that gained or
  * lost leading/trailing silence (or sub-threshold noise) from re-
  * segmentation therefore produces the IDENTICAL fingerprint row — same
  * chunks, same active frame count (so the P5 length window cannot reject
  * the pair), same envelope sketch, sample-aligned head — and is found
  * exactly like a byte-identical dup. Content shifted by inserted NON-
  * silent audio remains out of scope (that is a different recording, not a
  * segmentation artifact).
  */
object AudioDedup {

  /** Envelope fingerprint of one clip, computed over its ACTIVE REGION
    * (sample-accurate energy bounds — leading/trailing silence stripped
    * before any framing, so the frame grid itself is trim-invariant).
    * `chunks` are position-salted hashes of `chunkBits`-wide windows of the
    * active envelope's delta-sign bit stream (the LSH keys); `head` is the
    * RMS-normalized first `headLen` active samples (a silent intro never
    * anchors the verify sketch — it is cropped before framing); `env` is a
    * fixed-64-bin mean-normalized resample of the active RMS envelope
    * (time-normalized, so clips of different durations compare on the same
    * axis); `n_frames` counts ACTIVE frames (the P5 length window ignores
    * silent padding). Both sketches are bounded — rows stay small no
    * matter the clip duration. */
  final case class AudioFpRow(
      clip_id: String, n_frames: Int, head: Array[Float], env: Array[Float], chunks: Array[Long])

  /** Bins of the whole-clip envelope sketch. */
  val envBins = 64

  /** Kernel knobs shared by the batch join, the stream-static probe and
    * the incremental cross channel — increment == full and stream == batch
    * hold only when all three agree, so they reference these, never
    * literals. */
  val defaultFrameWindow = 0.2
  val defaultBucketCap = 512

  /** Narrow fingerprint pass. `frameMs` defaults small because the synth
    * corpus clips are 10–50 ms; real speech would use 20–30 ms frames. */
  def fingerprints(clips: Dataset[Clip], frameMs: Int = 1,
                   chunkBits: Int = 8, chunkStride: Int = 4,
                   headLen: Int = 512): Dataset[AudioFpRow] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.mapPartitions(_.map(c => fingerprintOne(c, frameMs, chunkBits, chunkStride, headLen)))
  }

  /** One clip's fingerprint (the kernel of [[fingerprints]]; also used
    * per-row by the streaming stream-static audio edge operator). */
  def fingerprintOne(c: Clip, frameMs: Int = 1, chunkBits: Int = 8,
                     chunkStride: Int = 4, headLen: Int = 512): AudioFpRow = {
    val samples = activeRegion(AudioOps.decode(c))
    val frameLen = math.max(1, c.sr_hz * frameMs / 1000)
    val (env, rmsAll) = rmsEnvelope(samples, frameLen)
    val nFrames = env.length
    val mean = {
      var s = 0.0; var i = 0
      while (i < nFrames) { s += env(i); i += 1 }
      math.max(s / nFrames, 1e-9)
    }
    val bits = deltaBits(env)
    val nBits = bits.length

    // overlapping position-salted chunk hashes; clips too short for one
    // full chunk get a single whole-stream hash so they still bucket
    val chunks =
      if (nBits < chunkBits) Array(chunkKey(0, packBits(bits, 0, nBits) | (1L << 62)))
      else {
        val out = new scala.collection.mutable.ArrayBuffer[Long]
        var s = 0
        while (s + chunkBits <= nBits) {
          out += chunkKey(s / chunkStride, packBits(bits, s, chunkBits))
          s += chunkStride
        }
        out.distinct.toArray
      }

    // whole-clip envelope sketch: 64 time-normalized bins, mean-normalized
    // (amplitude invariance) — the verify gate that a 512-sample head
    // alone cannot provide (shared intros / silent heads)
    val envSk = new Array[Float](envBins)
    var bi = 0
    while (bi < envBins) {
      val lo = (bi.toLong * nFrames / envBins).toInt
      var hi2 = ((bi + 1).toLong * nFrames / envBins).toInt
      if (hi2 <= lo) hi2 = lo + 1
      var s = 0.0
      var fe = lo
      while (fe < hi2) { s += env(fe); fe += 1 }
      envSk(bi) = (s / (hi2 - lo) / mean).toFloat
      bi += 1
    }

    // bounded verify sketch: RMS-normalized head of the active region
    // (the crop above already anchored sample 0 at the energy onset,
    // sample-accurately — so two trim-variants align exactly)
    val rms = math.max(math.sqrt(rmsAll / math.max(1, samples.length)), 1e-9)
    val hl = math.min(headLen, samples.length)
    val head = new Array[Float](hl)
    var i = 0
    while (i < hl) { head(i) = (samples(i) / rms).toFloat; i += 1 }

    AudioFpRow(c.clip_id, nFrames, head, envSk, chunks)
  }

  /** Active region of a decoded clip: `[first, last]` sample whose
    * amplitude clears 2% of the clip's peak (relative ⇒ amplitude-scale
    * invariant). Cropping BEFORE framing makes the frame grid — and so
    * every downstream sketch — invariant to leading/trailing silence of
    * ANY length. An all-silent clip (peak 0 ⇒ every sample ≥ threshold 0)
    * keeps its full extent and stays self-consistent. */
  private[dedup] def activeRegion(all: Array[Short]): Array[Short] = {
    var peak = 0
    var pi = 0
    while (pi < all.length) {
      val v = math.abs(all(pi).toInt); if (v > peak) peak = v; pi += 1
    }
    val thr = 0.02 * peak
    var lo = 0
    while (lo < all.length && math.abs(all(lo).toInt) < thr) lo += 1
    var hi = all.length
    while (hi > lo && math.abs(all(hi - 1).toInt) < thr) hi -= 1
    if (lo == 0 && hi == all.length) all
    else java.util.Arrays.copyOfRange(all, lo, hi)
  }

  /** Per-frame RMS envelope plus the total sum-of-squares (for whole-clip
    * RMS). Always at least one frame. */
  private[dedup] def rmsEnvelope(samples: Array[Short], frameLen: Int): (Array[Double], Double) = {
    val nFrames = math.max(1, (samples.length + frameLen - 1) / frameLen)
    val env = new Array[Double](nFrames)
    var rmsAll = 0.0
    var f = 0
    while (f < nFrames) {
      var acc = 0.0
      var i = f * frameLen
      val end = math.min(samples.length, i + frameLen)
      val n = math.max(1, end - i)
      while (i < end) { val v = samples(i).toDouble; acc += v * v; i += 1 }
      env(f) = math.sqrt(acc / n)
      rmsAll += acc
      f += 1
    }
    (env, rmsAll)
  }

  /** Delta-sign bit stream: bit j = [env(j+1) > env(j)] (scale-free). */
  private[dedup] def deltaBits(env: Array[Double]): Array[Boolean] = {
    val nBits = math.max(0, env.length - 1)
    val bits = new Array[Boolean](nBits)
    var j = 0
    while (j < nBits) { bits(j) = env(j + 1) > env(j); j += 1 }
    bits
  }

  @inline private[dedup] def packBits(bits: Array[Boolean], start: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { if (bits(start + i)) v |= (1L << i); i += 1 }
    v
  }

  @inline private def chunkKey(pos: Int, packed: Long): Long =
    Hashing.mix64(packed ^ (pos.toLong * 0x9e3779b97f4a7c15L))

  /** Candidate pairs + correlation verify. Emits Edge(kind="audio") with
    * `score` = mean-centered Pearson correlation of the (onset-anchored)
    * head sketches, gated by whole-clip envelope agreement ([[envAgree]]):
    * a pair must BOTH correlate at the sample level over its head AND share
    * the clip-level energy shape — identical intros with divergent bodies,
    * and silent/flat heads, cannot clear the gate on head correlation
    * alone. */
  def pairs(fps: Dataset[AudioFpRow], minCorr: Double = 0.98,
            frameWindow: Double = defaultFrameWindow,
            bucketCap: Int = defaultBucketCap,
            cappedBuckets: LongAccumulator): Dataset[Edge] = {
    val spark = fps.sparkSession
    import spark.implicits._

    // the fingerprint pass (with its per-clip PCM decode) feeds the entry
    // stream AND both verify sides — persist it so decode runs ONCE, and
    // release the cache after the (result-sized) edge set materializes
    // (the annLsh cache-lifetime discipline)
    val fpsP = fps.persist()
    val entries = fpsP.flatMap { f =>
      val mx = (f.n_frames * (1.0 + frameWindow)).toInt
      f.chunks.iterator.map(h => (h, f.clip_id, f.n_frames, mx))
    }.toDF("sh", "id", "n", "mx")
    val cands = CandidateStage
      .bucketPairs(entries, None, CandidateStage.selfWindow, bucketCap, cappedBuckets)
      .select("p", "c").dropDuplicates("p", "c").as[CandPair]

    val a = fpsP.select(col("clip_id").as("p"), col("head").as("a_head"), col("env").as("a_env"))
    val b = fpsP.select(col("clip_id").as("c"), col("head").as("b_head"), col("env").as("b_env"))
    val edges = cands.join(a, "p").join(b, "c")
      // join-key columns lead: (c, p, a_head, a_env, b_head, b_env)
      .as[(String, String, Array[Float], Array[Float], Array[Float], Array[Float])]
      .flatMap { case (c, p, aHead, aEnv, bHead, bEnv) =>
        val corr = pearson(aHead, bHead)
        if (corr >= minCorr && envAgree(aEnv, bEnv))
          Iterator.single(Edge(p, c, corr, 0, "audio"))
        else Iterator.empty
      }
      .localCheckpoint(true)
    fpsP.unpersist()
    edges
  }

  /** Driver-built chunk inverted index over fingerprint rows, keyed by ROW
    * POSITION (duplicate clip_ids stay distinct — TM semantics); hot chunk
    * buckets dropped AND counted (the shared valve discipline). Returns
    * (index, cappedBucketCount). Shared by the stream-static edge operator
    * (index = corpus, probe = arriving clips) and incremental dedup
    * (index = the NEW batch, probe = a narrow scan of the stored old
    * fingerprints — the scalable orientation: the broadcast side is always
    * the bounded one). */
  def buildChunkIndex(rows: Array[AudioFpRow], bucketCap: Int): (java.util.HashMap[Long, Array[Int]], Long) = {
    val chunkMap = new java.util.HashMap[Long, Array[Int]](rows.length * 2)
    var capped = 0L
    val builder = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < rows.length) {
      rows(i).chunks.foreach { h =>
        var buf = builder.get(h)
        if (buf == null) { buf = new scala.collection.mutable.ArrayBuffer[Int]; builder.put(h, buf) }
        buf += i
      }
      i += 1
    }
    builder.forEach { (key, buf) =>
      if (buf.length > bucketCap) capped += 1
      else chunkMap.put(key, buf.toArray)
    }
    (chunkMap, capped)
  }

  /** Probe ONE fingerprint against a chunk index: chunk-hash candidate
    * lookup, P5-style frame window both orientations, then the batch pair
    * gate verbatim (head Pearson ≥ minCorr AND envelope agreement). Emits
    * (row index, corr) — the caller orients the edge. */
  def probeChunkIndex(f: AudioFpRow, rows: Array[AudioFpRow],
      idx: java.util.HashMap[Long, Array[Int]], minCorr: Double,
      frameWindow: Double): Iterator[(Int, Double)] = {
    val cand = new java.util.LinkedHashSet[Integer]()
    f.chunks.foreach { h =>
      val hit = idx.get(h)
      if (hit != null) { var j = 0; while (j < hit.length) { cand.add(hit(j)); j += 1 } }
    }
    if (cand.isEmpty) Iterator.empty
    else {
      val out = new scala.collection.mutable.ArrayBuffer[(Int, Double)]()
      cand.forEach { i =>
        val r = rows(i)
        if (r.clip_id != f.clip_id &&
            r.n_frames <= f.n_frames * (1.0 + frameWindow) &&
            f.n_frames <= r.n_frames * (1.0 + frameWindow)) {
          val corr = pearson(f.head, r.head)
          if (corr >= minCorr && envAgree(f.env, r.env)) out += ((i, corr))
        }
      }
      out.iterator
    }
  }

  /** Whole-clip envelope agreement gate. When BOTH envelope sketches are
    * flat (near-constant energy — e.g. steady tones, where the envelope
    * carries no discriminative shape) the gate defers to the head
    * correlation; otherwise the sketches must correlate ≥ 0.9 (exact and
    * amplitude-scaled dups score 1.0 — both sketches are mean-normalized). */
  def envAgree(a: Array[Float], b: Array[Float]): Boolean = {
    @inline def variance(v: Array[Float]): Double = {
      if (v.length == 0) return 0.0
      var m = 0.0; var i = 0
      while (i < v.length) { m += v(i); i += 1 }
      m /= v.length
      var s = 0.0; i = 0
      while (i < v.length) { val d = v(i) - m; s += d * d; i += 1 }
      s / v.length
    }
    // mean-normalized envelopes hover around 1.0, so 1e-4 variance ≈ ±1%
    val flatA = variance(a) < 1e-4
    val flatB = variance(b) < 1e-4
    if (flatA && flatB) true
    else pearson(a, b) >= 0.9
  }

  /** Mean-centered Pearson correlation over the overlapping prefix. Flat
    * (zero-variance) signals NEVER match — not even other flat signals:
    * silence or constant DC carries no identifying content, so treating
    * flat-vs-flat as corr 1.0 would merge unrelated silent-headed clips. */
  def pearson(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) return 0.0
    var ma = 0.0; var mb = 0.0
    var i = 0
    while (i < n) { ma += a(i); mb += b(i); i += 1 }
    ma /= n; mb /= n
    var dot = 0.0; var va = 0.0; var vb = 0.0
    i = 0
    while (i < n) {
      val x = a(i) - ma; val y = b(i) - mb
      dot += x * y; va += x * x; vb += y * y
      i += 1
    }
    if (va < 1e-12 || vb < 1e-12) 0.0
    else dot / math.sqrt(va * vb)
  }

  /** Convenience: full channel over a clip table. */
  def apply(clips: Dataset[Clip], minCorr: Double = 0.98): Dataset[Edge] = {
    val acc = clips.sparkSession.sparkContext.longAccumulator("audioCappedBuckets")
    pairs(fingerprints(clips), minCorr = minCorr, cappedBuckets = acc)
  }
}
