package graft.pipeline

import graft.core.{HtmlBlocks, Profiler}

/** Typed runtime parameter surface — the engine's analog of the
  * reference's ocrd-tool.json processor parameters (`nOCR`,
  * `maxCandidates`, `runLE`, model paths — ocrd-tool.json postcorrect
  * params; `align/cli.py:35-38`'s k input file groups). Every knob
  * defaults to the constant the engine shipped with — every
  * [[Pipeline]] stage takes `GraftConfig.default` when given none, and
  * the oracle board pins its output — and a user retargets the engine by
  * passing a config, not by editing source.
  */
final case class GraftConfig(
    /** Candidate extractor list — the reference's nOCR/k input file
      * groups (config.json:8 `nOCR: 2`). */
    extractors: Seq[Pipeline.Extractor] = Pipeline.extractors,
    /** Lexicon-extension gate (config.json:2 `runLE`). */
    runLE: Boolean = true,
    /** Profiler candidate cap (config.json:9 `maxCandidates`). */
    maxCandidates: Int = Profiler.MaxCandidates,
    /** Micro-block noise floor (remove_noise role, common.py:1153-1169). */
    minBlockChars: Int = HtmlBlocks.minBlockChars,
    /** Link-density boilerplate threshold (borderclean role). */
    maxLinkDensity: Double = HtmlBlocks.maxLinkDensity,
    /** Confusion-profile learning floor/cap (learnProfile defaults). */
    profileMinCount: Long = 5,
    profileMaxPatterns: Int = 10,
    /** Bypass the per-JVM learned-profile cache (postcorrect/cli.py:34-38
      * `noCache`): re-learn fresh on every call, leaving the cache
      * untouched — for callers whose GT corpus changes between runs. */
    profileNoCache: Boolean = false,
    /** Dynamic-lexicon bound (dynamiclex role, aio/aio.py:521-528). */
    dynLexMinCount: Long = 1,
    dynLexTopN: Int = 10000,
    /** Corpus-global dynamic-lexicon protection in the correction stage
      * (the dynamiclex artifact applied, not just derivable): OOV tokens
      * the LE model accepts anywhere in the corpus are protected
      * everywhere. Off by default — the per-occurrence LE gate is the
      * reference's default behavior.
      */
    dynamicLexicon: Boolean = false,
    /** Append the exact-dedup stage to the checkpointed pipeline: a
      * fingerprint-keyed fourth stage that flags corpus-wide exact
      * duplicates with keeper lineage (keep/dup_of columns) — rows are
      * never dropped, so downstream consumers choose their own policy.
      * Off by default (the reference pipeline ends at correction).
      */
    dedup: Boolean = false,
    /** Append the near-dup stage after exact dedup: MinHash band pairs
      * over the exact-dedup SURVIVORS (running it under the exact layer
      * is load-bearing — a >128-strong identical-text group saturates
      * its band keys and would evade the hot-band df guard), connected
      * components, keeper = MIN url per component, flagged as
      * nd_keep/nd_dup_of lineage columns — rows are never dropped.
      * Requires `dedup` (enforced at the pipeline entry, not here, so
      * CLI flag order cannot construct-then-reject a valid pair).
      */
    nearDup: Boolean = false,
    /** Skew guard for the near-dup stage's pair generation (the
      * "band/df-guard constants" knob family): under the minhash
      * strategy, a (band, key) shared by more than this many documents
      * is skipped in that band; under the semdedup strategy, a centroid
      * cell larger than this is skipped — either way the bound that
      * keeps a boilerplate-heavy corpus's pair fan-out linear. 128 is
      * the constant the oracle board pins; raise it for higher recall
      * on corpora with heavy legitimate duplication, lower it for
      * tighter worst-case cost.
      */
    nearDupDfGuard: Int = 128,
    /** Labels strategy for the near-dup stage: "minhash" (token-shingle
      * band join — near-lossless recall on token-level duplication) or
      * "semdedup" (hashed-tf embedding cells + exact-cosine verify —
      * catches paraphrase-level duplicates at cell-bounded probe cost;
      * q80/q82 score exactly this trade against exact truth).
      */
    nearDupStrategy: String = "minhash",
    /** Cosine threshold for the semdedup strategy's verify step. */
    nearDupTau: Double = 0.97
) {
  require(extractors.nonEmpty, "at least one extractor (the master) is required")
  require(maxCandidates >= 1, "maxCandidates must be >= 1")
  require(minBlockChars >= 0 && maxLinkDensity >= 0.0,
    "segmentation thresholds must be non-negative")
  require(nearDupDfGuard >= 1, "nearDupDfGuard must be >= 1")
  require(Set("minhash", "semdedup")(nearDupStrategy),
    s"unknown nearDupStrategy '$nearDupStrategy' (minhash | semdedup)")
  require(nearDupTau > 0.0 && nearDupTau <= 1.0,
    "nearDupTau must be in (0, 1]")

  /** Deterministic fingerprint of every knob, for pinning a checkpoint
    * root to the config that produced it
    * ([[graft.plans.Checkpoint.pinRunConfig]]). Extractors are identified
    * by NAME — a same-named extractor with a different transform function
    * is indistinguishable here, which is the registry contract
    * ([[graft.Run.parseConfig]] resolves names against one registry).
    *
    * Versioning is intentionally strict: ADDING a knob changes every
    * canonical string, so a checkpoint root created by an older build
    * refuses to resume under a newer one. That is the safe default — a
    * new knob may change pending buckets' output even at its default
    * value (a binary upgrade is exactly when silent cross-version
    * mixing would go unnoticed). The cost is one full recompute per
    * upgrade of an in-flight root.
    */
  def canonical: String = Seq(
    s"extractors=${extractors.map(_.name).mkString(",")}",
    s"runLE=$runLE", s"maxCandidates=$maxCandidates",
    s"minBlockChars=$minBlockChars", s"maxLinkDensity=$maxLinkDensity",
    s"profileMinCount=$profileMinCount",
    s"profileMaxPatterns=$profileMaxPatterns",
    s"profileNoCache=$profileNoCache",
    s"dynLexMinCount=$dynLexMinCount", s"dynLexTopN=$dynLexTopN",
    s"dynamicLexicon=$dynamicLexicon", s"dedup=$dedup",
    s"nearDup=$nearDup", s"nearDupDfGuard=$nearDupDfGuard",
    s"nearDupStrategy=$nearDupStrategy", s"nearDupTau=$nearDupTau"
  ).mkString(";")
}

object GraftConfig {
  val default: GraftConfig = GraftConfig()
}
