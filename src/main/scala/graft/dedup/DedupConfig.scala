package graft.dedup

import graft.kernel.{EditCosts, Matcher}
import graft.text.PT

/** Pipeline configuration. Match-semantics fields pin the reference CLI
  * defaults (/root/reference/cli/src/FuzzyMatch-cli.cc:324-342); candidate
  * generation fields tune the LSH/shingle stages (no reference analog — the
  * reference's global suffix array is replaced by these at scale).
  *
  * The same config must be used to index and to match, as in the reference
  * (README.md:18) — here it is threaded through every stage.
  */
final case class DedupConfig(
    // --- match semantics (must mirror the oracle for recall parity) ---
    threshold: Float = 0.8f,
    minSubseqLength: Int = 3,
    minSubseqRatio: Float = 0.3f,
    pt: Int = PT.default,
    maxTokensInPattern: Int = 300,
    editCosts: EditCosts = EditCosts(),
    /** IDF insertion-penalty weight (reference CLI `--idf-penalty`, default 0
      * = off, /root/reference/cli/src/FuzzyMatch-cli.cc:335): inserting a
      * rare word costs more than a stop word. When non-zero, both verify
      * strategies compute per-pattern IDF vectors from the corpus
      * document frequencies (A3/A4). */
    vocabIdfPenalty: Float = 0f,
    // --- candidate generation ---
    /** n-gram size for the exact inverted-index channel; pairs sharing a
      * k-token substring are surfaced (k=3 matches the reference's
      * effective min registered n-gram at default ml=3). INVARIANT: the
      * channel's recall guarantee (every reference candidate shares an
      * msl-gram, msl = clamped min-subsequence length ≥ minSubseqLength)
      * requires shingleK ≤ minSubseqLength — lower both together (e.g. the
      * tm1 fixture harness runs ml=2 with shingleK=2). */
    shingleK: Int = 3,
    /** max docs per shingle bucket before the bucket is dropped from the
      * exact channel. Hot shingles (top Zipf words) otherwise cost O(df²)
      * pairs per bucket — the quadratic wall at 10^12 rows. Dropped buckets
      * are counted in metrics (never silent) and their pairs recovered by
      * the MinHash channel + the rare-shingle co-occurrences of true dups.
      * 0 = AUTO: derive the cap from the measured bucket-df histogram so
      * the kept buckets' quadratic join work stays ≤ 7× the entry count
      * (CandidateStage.autoCap; < 0 = auto with work factor −value). */
    shingleDfCap: Int = 64,
    /** emit candidate pairs from the exact shingle channel. */
    useNgramChannel: Boolean = true,
    /** emit candidate pairs from MinHash LSH bands (the 10^12-row path). */
    useMinhashChannel: Boolean = true,
    /** rows per band r = perms / bands. Measured on the 120k-clip Zipf corpus
      * against exact truth (broadcast path) under harsh caps (24/96):
      * r=2 (128/64) recall 0.99979 @108 s, r=3 (96/32) 0.99917 @33 s,
      * r=4 (128/32) 0.99892 @44 s, r=8 (128/16) 0.99834 @21 s — r=2's extra
      * band collisions triple candidate volume for +0.0006 recall, so r=3 is
      * the default (≥0.99 gate holds with margin; tools/ProfileRecall.scala). */
    minhashPerms: Int = 96,
    minhashBands: Int = 32,
    /** max docs per band bucket before pair emission is capped (0 / < 0 =
      * AUTO, as for shingleDfCap). */
    bandDfCap: Int = 256,
    /** rows with fewer tokens than shingleK are broadcast and matched by
      * containment (reference unigram/short-pattern semantics). */
    tinyPatternBroadcastCap: Int = 100000,
    /** path strategy of every operation with a broadcast and a shuffle path
      * (dedup verify, retrieval top-k and subsequence, decontamination):
      * "auto" broadcasts the index side (the reference's shared read-only
      * index, recall-exact) when it fits under broadcastMaxRows and
      * broadcastMaxBytes, else runs the LSH / shuffle path; "broadcast" /
      * "shuffle" force a path (BroadcastCorpus.picksBroadcast). */
    strategy: String = "auto",
    broadcastMaxRows: Long = 2000000L,
    /** byte-based companion gate for "auto": the broadcast path is taken only
      * when the estimated serialized token corpus (sampled avg row size ×
      * rows) also fits under this cap — a row cap alone would let a
      * long-transcript corpus blow executor memory. */
    broadcastMaxBytes: Long = 2L << 30,
    // --- multimodal ---
    /** also run the audio-fingerprint near-dup channel (AudioDedup) and
      * union its edges into clustering: clips whose AUDIO matches cluster
      * together even when transcripts differ. Off by default (the reference
      * semantics are transcript-only). */
    useAudioChannel: Boolean = false,
    /** minimum head-sketch Pearson correlation for an audio edge. */
    audioMinCorr: Double = 0.98,
    /** also run the audio CONTAINMENT channel (AudioContainment) and union
      * its edges into clustering: a clip whose active audio occurs inside a
      * longer clip joins that clip's cluster — for a training corpus the
      * excerpt is redundant content, so survivor selection keeps one of
      * them. Off by default. */
    useAudioContainment: Boolean = false,
    /** minimum windowed-envelope Pearson correlation for a containment edge. */
    audioContainMinCorr: Double = 0.95,
    // --- execution ---
    /** verify-stage skew valve: split each pattern's candidate list across
      * this many salted sub-groups (decisions are per-candidate independent
      * at numberOfMatches=0, so the edge set is unchanged). 1 = off. */
    verifySalts: Int = 1,
    shufflePartitions: Int = 32,
    ccMaxIterations: Int = 50,
    /** edge count under which connected components run as a driver
      * union-find + broadcast label map (edges ≪ corpus: dup pairs only). */
    ccLocalEdgeCap: Long = 10000000L,
    seed: Long = 42L) {

  /** The matcher kernel's parameters under this config's match semantics. */
  def matchParams(numberOfMatches: Int, noPerfect: Boolean): Matcher.Params =
    Matcher.Params(fuzzy = threshold, numberOfMatches = numberOfMatches, noPerfect = noPerfect,
      minSubseqLength = minSubseqLength, minSubseqRatio = minSubseqRatio,
      vocabIdfPenalty = vocabIdfPenalty, editCosts = editCosts,
      maxTokensInPattern = maxTokensInPattern)
}
