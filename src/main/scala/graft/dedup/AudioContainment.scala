package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.data.Clip
import graft.kernel.Hashing
import graft.ops.AudioOps

/** Audio containment retrieval: find (inner, outer) clip pairs where the
  * inner clip's ACTIVE audio occurs as a contiguous segment of the outer
  * clip's active audio — the audio analog of the reference's best-
  * subsequence probe (J4, `/root/reference/src/fuzzy_match.cc:250-365`),
  * which asks the same question of token sequences. A re-segmented excerpt,
  * a clip re-published inside a longer recording, or a byte-identical /
  * amplitude-scaled duplicate (the equal-length degenerate case) all land
  * here.
  *
  * Shape (classic landmark offset-voting, Spark-first):
  *  1. fingerprint (narrow, mapPartitions): active-region crop → per-frame
  *     RMS envelope → delta-sign bits → UNSALTED `chunkBits`-wide chunk
  *     hashes at every bit position (position carried as a VALUE, not
  *     salted into the key, so a segment match aligns at any offset);
  *     plus a bounded raw-envelope prefix (`renv`) and RMS-normalized
  *     sample head for verification. Clips with fewer than `chunkBits`+1
  *     active frames get one whole-stream hash (content+length keyed) —
  *     they can only match as equal-length duplicates, which is exactly
  *     what a too-short probe supports.
  *  2. candidates: hot chunk keys dropped AND counted (stats pass +
  *     broadcast anti-join — the shared valve discipline), then a codegen
  *     equi-join on chunk key; each hit implies alignment
  *     `offset = outer_pos − inner_pos`, kept only when the inner fits:
  *     `0 ≤ offset ≤ outer_frames − inner_frames`.
  *  3. offset voting: `groupBy(inner, outer, offset).count` — real
  *     containment concentrates many chunk hits on ONE offset, chance
  *     collisions scatter; keep offsets with ≥ `minVotes` votes (the
  *     equal-length offset-0 case is exempt: a whole-stream-hash match is
  *     already content-keyed). Best offset per pair by (votes desc,
  *     offset asc).
  *  4. verify: Pearson correlation of the inner's raw envelope against
  *     the outer's envelope window at the voted offset (mean-centering
  *     makes it amplitude-invariant). Flat envelopes carry no alignment-
  *     verifiable shape: flat-vs-flat defers to sample-level head
  *     correlation ONLY in the equal-length offset-0 case (the dup
  *     semantics of [[AudioDedup]]), and is rejected at depth.
  *
  * Scale: entries are O(total active frames) (linear); the hot-key valve
  * bounds per-bucket join fan-out; voting is one partial-agg shuffle on
  * (inner, outer, offset); verification joins only the surviving pairs
  * against the bounded sketches. Containment deeper than `maxEnvFrames`
  * active frames into the outer clip is dropped by the verify bound —
  * raise the knob for long-form outers (8 KB of sketch per 2048 frames).
  */
object AudioContainment {

  /** Kernel knobs shared by the batch join, the stream-static probe and
    * the incremental cross channel — increment == full and stream == batch
    * hold only when all three agree, so they reference these, never
    * literals. */
  val defaultMinVotes = 3
  val defaultInnerStride = 4
  val defaultBucketCap = 512

  /** Containment fingerprint of one clip, over its active region.
    * `keys(i)` is the unsalted chunk hash whose window starts at bit
    * position `poss(i)`; `renv` is the raw RMS envelope of the first
    * `maxEnvFrames` active frames; `head` as in [[AudioDedup.AudioFpRow]]. */
  final case class AudioCtRow(
      clip_id: String, n_frames: Int, head: Array[Float], renv: Array[Float],
      keys: Array[Long], poss: Array[Int])

  /** Estimated bytes of one [[AudioCtRow]], the broadcast envelope's byte measure. */
  def fpBytes: org.apache.spark.sql.Column =
    size(col("renv")) * 4 + size(col("head")) * 4 + size(col("keys")) * 8 +
      size(col("poss")) * 4 + 64

  /** Narrow fingerprint pass (defaults sized like [[AudioDedup]]: 1 ms
    * frames for the 10–50 ms synth clips; real speech would use 20–30 ms
    * frames, where 2048 envelope frames cover ~50 s of audio). */
  def fingerprints(clips: Dataset[Clip], frameMs: Int = 1, chunkBits: Int = 32,
                   headLen: Int = 512, maxEnvFrames: Int = 2048): Dataset[AudioCtRow] = {
    require(chunkBits >= 1 && chunkBits <= 62, s"chunkBits out of range: $chunkBits")
    val spark = clips.sparkSession
    import spark.implicits._
    clips.mapPartitions(_.map(c => one(c, frameMs, chunkBits, headLen, maxEnvFrames)))
  }

  /** Containment fingerprint of ONE clip — the kernel [[fingerprints]] maps
    * over a Dataset, exposed row-at-a-time for the stream-static probe
    * (the same single-row split as [[Stages.SignatureStage.one]]). */
  def one(c: Clip, frameMs: Int = 1, chunkBits: Int = 32,
          headLen: Int = 512, maxEnvFrames: Int = 2048): AudioCtRow = {
    val samples = AudioDedup.activeRegion(AudioOps.decode(c))
    val frameLen = math.max(1, c.sr_hz * frameMs / 1000)
    val (env, rmsAll) = AudioDedup.rmsEnvelope(samples, frameLen)
    val nFrames = env.length
    val bits = AudioDedup.deltaBits(env)
    val nBits = bits.length

    // whole-stream hash, content+length keyed: matches only an equal-
    // bit-stream clip, at offset 0. Emitted for EVERY clip (not just
    // the too-short ones) so the equal-length duplicate case survives
    // even when periodic audio (e.g. steady tones) makes every windowed
    // chunk key hot and the valve drops them all.
    val streamKey = {
      var h = Hashing.mix64(nBits.toLong | (1L << 63))
      var b = 0
      while (b < nBits) { h = Hashing.mix64(h * 31 + (if (bits(b)) 1L else 0L)); b += 1 }
      h
    }
    val (keys, poss) =
      if (nBits < chunkBits) (Array(streamKey), Array(0))
      else {
        val n = nBits - chunkBits + 1
        val ks = new Array[Long](n + 1)
        val ps = new Array[Int](n + 1)
        var s = 0
        while (s < n) {
          ks(s) = Hashing.mix64(AudioDedup.packBits(bits, s, chunkBits) | (1L << 62))
          ps(s) = s
          s += 1
        }
        ks(n) = streamKey
        ps(n) = 0
        (ks, ps)
      }

    val renv = new Array[Float](math.min(nFrames, maxEnvFrames))
    var f = 0
    while (f < renv.length) { renv(f) = env(f).toFloat; f += 1 }

    val rms = math.max(math.sqrt(rmsAll / math.max(1, samples.length)), 1e-9)
    val hl = math.min(headLen, samples.length)
    val head = new Array[Float](hl)
    var i = 0
    while (i < hl) { head(i) = (samples(i) / rms).toFloat; i += 1 }

    AudioCtRow(c.clip_id, nFrames, head, renv, keys, poss)
  }

  /** Normalized-variance flatness test on raw envelope values (mirrors
    * [[AudioDedup.envAgree]]'s 1e-4 bound on mean-normalized sketches). */
  private[dedup] def isFlat(v: Array[Float]): Boolean = {
    if (v.length == 0) return true
    var m = 0.0; var i = 0
    while (i < v.length) { m += v(i); i += 1 }
    m /= v.length
    if (m < 1e-9) return true
    var s = 0.0; i = 0
    while (i < v.length) { val d = v(i) - m; s += d * d; i += 1 }
    s / v.length / (m * m) < 1e-4
  }

  /** The per-pair verify kernel: inner envelope vs the outer envelope
    * window at the voted offset — Pearson (amplitude-invariant), with the
    * flat-vs-flat fallback to sample-level head correlation ONLY in the
    * equal-length offset-0 case. None when the offset lands past the stored
    * envelope prefix. Shared verbatim by the batch join and the streaming
    * probe so stream == batch is the same arithmetic, not a reimplementation. */
  private[graft] def verifyAt(off: Int, ifr: Int, ofr: Int,
      aHead: Array[Float], aRenv: Array[Float],
      bHead: Array[Float], bRenv: Array[Float]): Option[Double] = {
    val n = aRenv.length
    if (off + n > bRenv.length) None // beyond the stored envelope prefix
    else {
      val win = java.util.Arrays.copyOfRange(bRenv, off, off + n)
      val corr =
        if (isFlat(aRenv) && isFlat(win)) {
          // no envelope shape to align on: only the equal-length dup
          // case may fall back to sample-level head correlation
          if (off == 0 && ifr == ofr) AudioDedup.pearson(aHead, bHead) else 0.0
        } else AudioDedup.pearson(aRenv, win)
      Some(corr)
    }
  }

  /** Driver-built position-carrying chunk inverted index (each entry packs
    * (row index << 32 | bit position)); hot chunk keys dropped AND counted.
    * Shared by the stream-static containment operator (index = corpus) and
    * incremental dedup (index = the NEW batch, probed by stored old
    * fingerprints). */
  def buildPosIndex(rows: Array[AudioCtRow], bucketCap: Int): (java.util.HashMap[Long, Array[Long]], Long) = {
    val chunkMap = new java.util.HashMap[Long, Array[Long]](rows.length * 4)
    var capped = 0L
    val builder = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      var j = 0
      while (j < r.keys.length) {
        var buf = builder.get(r.keys(j))
        if (buf == null) { buf = new scala.collection.mutable.ArrayBuffer[Long]; builder.put(r.keys(j), buf) }
        buf += (i.toLong << 32) | (r.poss(j).toLong & 0xffffffffL)
        j += 1
      }
      i += 1
    }
    builder.forEach { (key, buf) =>
      if (buf.length > bucketCap) capped += 1
      else chunkMap.put(key, buf.toArray)
    }
    (chunkMap, capped)
  }

  /** Probe ONE fingerprint against a position index, BOTH orientations
    * (probe as inner excerpt / probe as containing outer — orientation is a
    * function of the frame comparison with the batch id tie-break, so each
    * (probe, row) pair votes in at most one). Offset voting runs in a local
    * map, the equal-length offset-0 case is exempt from `minVotes` (content
    * keyed by the whole-stream hash), best offset by (votes desc, offset
    * asc), then [[verifyAt]] — the batch arithmetic verbatim. Emits
    * (row index, voted offset, corr) for survivors ≥ minCorr. */
  def probePosIndex(f: AudioCtRow, rows: Array[AudioCtRow],
      idx: java.util.HashMap[Long, Array[Long]], minVotes: Int,
      innerStride: Int, minCorr: Double): Iterator[(Int, Int, Double)] = {
    val votes = new java.util.HashMap[(Int, Int, Int), Int]()
    var i = 0
    while (i < f.keys.length) {
      val pos = f.poss(i)
      val hit = idx.get(f.keys(i))
      if (hit != null) {
        var j = 0
        while (j < hit.length) {
          val ri = (hit(j) >>> 32).toInt
          val rpos = (hit(j) & 0xffffffffL).toInt
          val r = rows(ri)
          if (r.clip_id != f.clip_id) {
            val probeInner = f.n_frames < r.n_frames ||
              (f.n_frames == r.n_frames && f.clip_id < r.clip_id)
            if (probeInner && pos % innerStride == 0) {
              // probe = inner (the batch strides the INNER side's entries)
              val off = rpos - pos
              if (off >= 0 && off <= r.n_frames - f.n_frames)
                votes.merge((ri, 0, off), 1, Integer.sum _)
            } else if (!probeInner && rpos % innerStride == 0) {
              // index row = inner: it plays the strided role
              val off = pos - rpos
              if (off >= 0 && off <= f.n_frames - r.n_frames)
                votes.merge((ri, 1, off), 1, Integer.sum _)
            }
          }
          j += 1
        }
      }
      i += 1
    }
    if (votes.isEmpty) Iterator.empty
    else {
      val best = new java.util.HashMap[(Int, Int), (Int, Int)]() // → (offset, votes)
      votes.forEach { (k, v) =>
        val (ri, orient, off) = k
        val equalLen = rows(ri).n_frames == f.n_frames
        if (v >= minVotes || (off == 0 && equalLen)) {
          val cur = best.get((ri, orient))
          if (cur == null || v > cur._2 || (v == cur._2 && off < cur._1))
            best.put((ri, orient), (off, v))
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
      best.forEach { (k, offVotes) =>
        val (ri, orient) = k
        val r = rows(ri)
        val off = offVotes._1
        val corr =
          if (orient == 0) verifyAt(off, f.n_frames, r.n_frames, f.head, f.renv, r.head, r.renv)
          else verifyAt(off, r.n_frames, f.n_frames, r.head, r.renv, f.head, f.renv)
        corr.foreach(x => if (x >= minCorr) out += ((ri, off, x)))
      }
      out.iterator
    }
  }

  /** Candidate generation + offset voting + envelope verify. Emits
    * `(inner, outer, offset_frames, corr)` — inner strictly shorter, or
    * equal-length with the smaller clip_id (so each unordered dup pair
    * appears once). `innerStride` thins the inner-side probe chunks (the
    * outer side stays dense so every alignment is representable). */
  def pairs(fps: Dataset[AudioCtRow], minCorr: Double = 0.95,
            minVotes: Int = defaultMinVotes,
            innerStride: Int = defaultInnerStride,
            bucketCap: Int = defaultBucketCap,
            cappedBuckets: LongAccumulator): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._

    // the fingerprint pass (with its per-clip PCM decode) feeds the entry
    // stream (twice: stats + join) AND both verify sides — persist it so
    // decode runs ONCE, released after the result materializes below
    val fpsP = fps.persist()
    val entries = fpsP.flatMap { f =>
      val n = f.n_frames
      f.keys.iterator.zip(f.poss.iterator).map { case (k, p) => (k, f.clip_id, p, n) }
    }.toDF("key", "id", "pos", "frames")

    // hot-key valve: one stats pass, drops counted, broadcast anti-join
    // (bounded: a key hotter than bucketCap is dropped for ALL clips)
    val hotKeys = entries.groupBy("key").agg(count(lit(1)).as("df"))
      .filter(col("df") > bucketCap).select("key").as[Long].collect()
    require(hotKeys.length <= 1000000,
      s"${hotKeys.length} hot chunk keys exceed the broadcast bound — raise bucketCap")
    cappedBuckets.add(hotKeys.length)
    val kept =
      if (hotKeys.isEmpty) entries
      else entries.join(broadcast(hotKeys.toSeq.toDF("key")), Seq("key"), "left_anti")

    val iE = kept.filter(col("pos") % innerStride === 0)
      .select(col("key"), col("id").as("inner"), col("pos").as("ipos"),
        col("frames").as("iframes"))
    val oE = kept.select(col("key"), col("id").as("outer"), col("pos").as("opos"),
      col("frames").as("oframes"))
    val voted = iE.join(oE, "key")
      .filter(col("inner") =!= col("outer"))
      .filter(col("iframes") < col("oframes") ||
        (col("iframes") === col("oframes") && col("inner") < col("outer")))
      .withColumn("offset", col("opos") - col("ipos"))
      .filter(col("offset") >= 0 && col("offset") <= col("oframes") - col("iframes"))
      .groupBy("inner", "outer", "offset", "iframes", "oframes")
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= minVotes ||
        (col("offset") === 0 && col("iframes") === col("oframes")))
    val w = Window.partitionBy("inner", "outer").orderBy(desc("votes"), asc("offset"))
    val best = voted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("inner", "outer", "offset", "iframes", "oframes")

    val fpA = fpsP.select(col("clip_id").as("inner"), col("head").as("a_head"),
      col("renv").as("a_renv"))
    val fpB = fpsP.select(col("clip_id").as("outer"), col("head").as("b_head"),
      col("renv").as("b_renv"))
    val result = best.join(fpA, "inner").join(fpB, "outer")
      .select(col("inner"), col("outer"), col("offset"), col("iframes"), col("oframes"),
        col("a_head"), col("a_renv"), col("b_head"), col("b_renv"))
      .as[(String, String, Int, Int, Int,
        Array[Float], Array[Float], Array[Float], Array[Float])]
      .flatMap { case (inner, outer, off, ifr, ofr, aHead, aRenv, bHead, bRenv) =>
        verifyAt(off, ifr, ofr, aHead, aRenv, bHead, bRenv) match {
          case Some(corr) if corr >= minCorr => Iterator.single((inner, outer, off, corr))
          case _ => Iterator.empty
        }
      }
      .toDF("inner", "outer", "offset_frames", "corr")
      // eager: the result is pair-sized; materializing it here lets the
      // fingerprint cache be released inside the call
      .localCheckpoint(true)
    fpsP.unpersist()
    result
  }

  /** Convenience: full containment retrieval over a clip table. */
  def apply(clips: Dataset[Clip], minCorr: Double = 0.95): DataFrame = {
    val acc = clips.sparkSession.sparkContext.longAccumulator("audioCtCappedBuckets")
    pairs(fingerprints(clips), minCorr = minCorr, cappedBuckets = acc)
  }
}
