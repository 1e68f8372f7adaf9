package graft.dedup

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions.{aggregate, col, length, lit, size}
import graft.data.Clip
import graft.kernel.{Doc, Hashing, SuffixIndex}
import graft.text.Tokenizer

/** Tokenized row: the pipeline's working representation of one clip.
  * `ids` = FNV-64 of normalized tokens, `reals` = scoring forms, `itoks` =
  * penalty-token strings (len n+1). */
final case class TokRow(
    clip_id: String,
    n_tokens: Int,
    ids: Array[Long],
    reals: Array[String],
    itoks: Array[String])

/** Signature row: MinHash band hashes + SimHash fingerprint. */
final case class SigRow(
    clip_id: String,
    n_tokens: Int,
    band_hashes: Array[Long],
    simhash: Long)

/** Stage 1a — tokenize + normalize (P1/F1–F3) with the empty-segment (P2)
  * and max-length (P3) filters, as one narrow mapPartitions pass
  * (/root/reference/src/fuzzy_match.cc:108-193,213-224;
  * /root/reference/src/suffix_array_index.cc:16). */
object TokenizeStage {
  /** `enforceMax = false` keeps rows beyond `maxTokensInPattern` (P3 is an
    * INDEX-side insert filter; probe surfaces without a pattern-length cap
    * — the subsequence kernel, containment decontamination — must still see
    * long rows). The empty filter (P2) always applies. */
  def apply(clips: Dataset[Clip], cfg: DedupConfig,
      enforceMax: Boolean = true): Dataset[TokRow] = {
    val spark = clips.sparkSession
    import spark.implicits._
    val pt = cfg.pt
    val maxTok = if (enforceMax) cfg.maxTokensInPattern else Int.MaxValue
    clips.mapPartitions { it =>
      it.flatMap { c =>
        val ts = Tokenizer.tokenize(c.transcript, pt)
        if (ts.norm.isEmpty || ts.norm.length > maxTok) Iterator.empty
        else Iterator.single(
          TokRow(c.clip_id, ts.norm.length, Hashing.tokenIds(ts.norm), ts.real, ts.itoks))
      }
    }
  }

  /** A sorted suffix-array index over `rows` and their matcher docs, both in
    * row order (sentence i of the index is `rows(i)`). */
  def suffixIndex(rows: Array[TokRow]): (SuffixIndex, Array[Doc]) = {
    val index = new SuffixIndex
    val docs = rows.map { r => index.add(r.ids); Doc(r.ids, r.reals, r.itoks) }
    index.sort()
    (index, docs)
  }

  /** Estimated in-memory bytes of one [[TokRow]] (JVM-ish accounting: object
    * headers + char/long payloads), the broadcast envelope's byte measure.
    * `prefix` addresses a TokRow nested in a struct column (e.g. `"_1."`). */
  def rowBytes(prefix: String = ""): Column = {
    def strings(name: String) =
      aggregate(col(prefix + name), lit(0L), (a, x) => a + 40L + length(x) * 2L)
    lit(64L) + length(col(prefix + "clip_id")).cast("long") * 2L +
      size(col(prefix + "ids")).cast("long") * 8L + strings("reals") + strings("itoks")
  }
}

/** Stage 1b — batched MinHash signatures + SimHash fingerprints in one
  * narrow pass (the scale-path candidate generator's input). */
object SignatureStage {
  /** Signature of ONE tokenized row — the kernel of the distributed stage,
    * also used where a caller needs signatures POSITIONALLY aligned with
    * their token rows (StreamingDedup's band-index build collects
    * (TokRow, SigRow) pairs in one pass so duplicate clip_ids stay
    * distinct). */
  def one(t: TokRow, k: Int, perms: Int, bands: Int, seed: Long): SigRow = {
    val shingles = Hashing.distinctShingles(t.ids, k)
    val sig = Hashing.minhash(shingles, perms, seed)
    SigRow(t.clip_id, t.n_tokens, Hashing.bandHashes(sig, bands), Hashing.simhash(shingles))
  }

  def apply(toks: Dataset[TokRow], cfg: DedupConfig): Dataset[SigRow] = {
    val spark = toks.sparkSession
    import spark.implicits._
    val k = cfg.shingleK
    val perms = cfg.minhashPerms
    val bands = cfg.minhashBands
    val seed = cfg.seed
    toks.mapPartitions(it => it.map(t => one(t, k, perms, bands, seed)))
  }
}
