package graft.core

import scala.collection.mutable

/** Channel-model profiler: maps suspicious tokens to ranked correction
  * candidates — the re-expression of the reference's external C++ Profiler
  * (protocol at /root/reference/tests/run_training_test.bash:33-46, invoked
  * behind the Java jar, postcorrect/cli.py:31-46).
  *
  * The candidate shape matches the Profiler JSON exactly
  * ({Suggestion, Modern, Dict, HistPatterns, OCRPatterns, Distance, Weight},
  * FIXTURES.md §5). Candidate generation is:
  *   1. exact lexicon hit -> the token itself (Distance 0),
  *   2. confusion-pattern rewrites (historical/OCR patterns, e.g. t->th)
  *      whose result is in the lexicon,
  *   3. bounded edit-distance search via a SymSpell-style delete-1
  *      neighborhood index (scales: the index is built once per lexicon and
  *      broadcast; per-token lookup is O(len), not O(|lexicon|)).
  *
  * maxCandidates = 10 (reference config.json:9).
  */
final case class Lexicon(
    /** word -> relative unigram frequency (0, 1]. */
    unigrams: Map[String, Double],
    /** historical patterns (modern `left` <-> historical `right`), e.g.
      * ("t", "th") per the canonical fixture
      * (run_training_test.bash:36-45: HistPatterns Left=t Right=th).
      */
    histPatterns: Seq[(String, String)],
    /** OCR confusion patterns (truth `left` misread as `right`), learned
      * from alignment confusions (edist.py confusion pairs).
      */
    ocrPatterns: Seq[(String, String)],
    /** char trigram -> relative frequency, the stand-in for the reference's
      * 3gs.csv.gz (data/__main__.py:12-13).
      */
    trigrams: Map[String, Double],
    /** learned channel probabilities per OCR pattern (relative confusion
      * frequency from Pipeline.learnProfile); patterns without a learned
      * probability fall back to Profiler.DefaultPatternProb.
      */
    ocrPatternProb: Map[(String, String), Double] = Map.empty
) {

  def patternProb(p: (String, String)): Double =
    ocrPatternProb.getOrElse(p, Profiler.DefaultPatternProb)

  /** delete-1 variants -> dictionary words (SymSpell-style). */
  @transient lazy val deleteIndex: Map[String, Seq[String]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    unigrams.keysIterator.foreach { w =>
      m.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += w
      var i = 0
      while (i < w.length) {
        val v = w.substring(0, i) + w.substring(i + 1)
        m.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += w
        i += 1
      }
    }
    m.view.mapValues(_.distinct.sorted.toSeq).toMap
  }

  def contains(w: String): Boolean = unigrams.contains(w)
  def freq(w: String): Double = unigrams.getOrElse(w, 0.0)
}

object Profiler {

  val MaxCandidates = 10 // reference config.json:9

  /** Channel probability of an OCR pattern with no learned estimate. */
  val DefaultPatternProb = 0.2

  /** Channel probability of one historical-spelling rewrite. */
  val HistPatternProb = 0.5

  /** Channel probability per unit of UNEXPLAINED edit distance — generic
    * edits the confusion profile cannot account for. Candidates reached
    * through learned patterns must outrank same-frequency generic-edit
    * candidates: this is what makes the profiler a channel model
    * (the reference's profiler weights candidates by pattern
    * probabilities the same way; without it a high-frequency dictionary
    * word one generic edit away outweighs the pattern-explained truth).
    */
  val GenericEditProb = 0.02

  /** All single applications of pattern rewrites (each occurrence separately,
    * deterministic left-to-right), tagged with the pattern and position.
    */
  private def rewrites(token: String, patterns: Seq[(String, String)], reverse: Boolean): Seq[(String, Pattern)] = {
    val out = mutable.ArrayBuffer[(String, Pattern)]()
    patterns.foreach { case (left, right) =>
      // historical: modern `left` appears in text as `right` -> replacing
      // right with left modernizes; OCR: truth `left` misread as `right` ->
      // replacing right with left corrects.
      val (from, to) = if (reverse) (left, right) else (right, left)
      if (from.nonEmpty) {
        var idx = token.indexOf(from)
        while (idx >= 0) {
          out += ((token.substring(0, idx) + to + token.substring(idx + from.length),
            Pattern(left, right, idx)))
          idx = token.indexOf(from, idx + 1)
        }
      }
    }
    out.toSeq
  }

  /** Candidate generation for one token (already case-folded/stripped by the
    * caller). Deterministic: candidates ranked by (weight desc, suggestion
    * asc) and capped at `maxCandidates` (config.json:9; GraftConfig knob).
    */
  def candidates(token: String, lex: Lexicon,
      maxCandidates: Int = MaxCandidates): Seq[Candidate] = {
    if (token.isEmpty) return Nil
    val found = mutable.LinkedHashMap.empty[String, Candidate]

    def add(suggestion: String, modern: String, dict: String,
            hist: Seq[Pattern], ocr: Seq[Pattern]): Unit = {
      if (!found.contains(suggestion)) {
        val d = Edist.levenshtein(token, suggestion)
        if (d <= 3) {
          // channel model: P(word) x P(observation | word). Pattern-
          // explained candidates carry the learned pattern probabilities;
          // unexplained edits pay GenericEditProb per distance unit.
          val channel =
            if (hist.nonEmpty || ocr.nonEmpty)
              ocr.map(p => lex.patternProb((p.left, p.right))).product *
                math.pow(HistPatternProb, hist.length)
            else math.pow(GenericEditProb, d)
          val w = lex.freq(modern) * channel
          found(suggestion) = Candidate(suggestion, modern, dict, hist, ocr, d, w)
        }
      }
    }

    // 1. exact hit
    if (lex.contains(token)) add(token, token, "dict_modern", Nil, Nil)

    // 2. historical-pattern rewrites: token contains historical spelling
    //    `right`; Modern form replaces it with `left`.
    rewrites(token, lex.histPatterns, reverse = false).foreach { case (modern, p) =>
      if (lex.contains(modern))
        add(token, modern, "dict_modern_hypothetic_errors", Seq(p), Nil)
    }

    // 3. OCR-pattern corrections: misread `right` -> truth `left`.
    rewrites(token, lex.ocrPatterns, reverse = false).foreach { case (fixed, p) =>
      if (lex.contains(fixed))
        add(fixed, fixed, "dict_modern", Nil, Seq(p))
      // combined: OCR fix then historical modernization
      rewrites(fixed, lex.histPatterns, reverse = false).foreach { case (modern, hp) =>
        if (lex.contains(modern))
          add(fixed, modern, "dict_modern_hypothetic_errors", Seq(hp), Seq(p))
      }
    }

    // 4. delete-1 neighborhood (covers substitutions/insertions/deletions
    //    within distance 2 of a dictionary word)
    val seen = mutable.HashSet.empty[String]
    def neigh(v: String): Unit =
      lex.deleteIndex.getOrElse(v, Nil).foreach { w =>
        if (seen.add(w)) add(w, w, "dict_modern", Nil, Nil)
      }
    neigh(token)
    var i = 0
    while (i < token.length) {
      neigh(token.substring(0, i) + token.substring(i + 1))
      i += 1
    }

    found.values.toSeq
      .sortBy(c => (-c.weight, c.suggestion))
      .take(maxCandidates)
  }
}

/** Per-(token, candidate) feature extraction + lexicon-extension model
  * (LE) + logistic re-ranker (RR) + decision maker (DM) — re-expression of
  * the reference's Java ML stage (feature catalogs
  * /root/reference/ocrd_cis/data/config.json: leFeatures / rrFeatures /
  * dmFeatures with their `deactivate`-class filtering; execution contract
  * postcorrect/cli.py:31-46; LE flow aio/aio.py:503-537). Weights are
  * TRAINED by `graft.tools.Train` on the synthetic GT corpus and shipped
  * as a classpath resource (the reference ships a pre-trained model.zip
  * the same way; run_training_test.bash:49-63 rebuilds it).
  */
object Corrector {

  /** Token context: the master token plus what the other extractors saw,
    * with the per-glyph confidence lineage (recognize.py:239-265).
    * `raw` is the pre-case-folding core (case-class features read it);
    * `token` is the folded form candidates are generated for.
    */
  final case class TokenCtx(
      token: String,
      otherOcr: Seq[String],
      conf: Double,
      linePos: Double,
      raw: String = "",
      glyphConfs: Seq[Double] = Nil,
      lineOverlap: Double = 1.0
  ) {
    def rawOrToken: String = if (raw.nonEmpty) raw else token
    def maxCharConf: Double = if (glyphConfs.nonEmpty) glyphConfs.max else conf
  }

  def lengthClass(len: Int, short: Int, medium: Int, long: Int): Double =
    if (len <= short) 0.0 else if (len <= medium) 1.0 else if (len <= long) 2.0 else 3.0

  def caseClass(s: String): Double = {
    val letters = s.filter(_.isLetter)
    if (letters.isEmpty) 3.0
    else if (letters.forall(_.isLower)) 0.0
    else if (letters.head.isUpper && letters.tail.forall(_.isLower)) 1.0
    else if (letters.forall(_.isUpper)) 2.0
    else 3.0
  }

  def trigramStats(s: String, trigrams: Map[String, Double]): (Double, Double) = {
    if (s.length < 3) return (0.0, 0.0)
    var mn = Double.MaxValue; var mx = 0.0
    var i = 0
    while (i + 3 <= s.length) {
      val f = trigrams.getOrElse(s.substring(i, i + 3), 0.0)
      if (f < mn) mn = f
      if (f > mx) mx = f
      i += 1
    }
    (mx, if (mn == Double.MaxValue) 0.0 else mn)
  }

  /** RR feature vector, fixed order per config.json rrFeatures
    * (config.json:81-186), with the `deactivate`-class
    * CandidateOCRPatternConfidenceFeature filtered out like the
    * reference's filterClasses — 23 active features.
    */
  def rrFeatures(t: TokenCtx, c: Candidate, lex: Lexicon): Array[Double] = {
    val (tMax3, tMin3) = trigramStats(t.token, lex.trigrams)
    val (cMax3, cMin3) = trigramStats(c.suggestion, lex.trigrams)
    val histConf = if (c.histPatterns.nonEmpty) 1.0 else 0.0
    Array(
      lengthClass(t.token.length, 3, 7, 13), // TokenLengthClass
      caseClass(t.rawOrToken), // Tokenshape
      t.token.length.toDouble, // TokenLength
      tMax3, // MaxCharTrigram
      tMin3, // MinCharTrigram
      t.maxCharConf, // MaxOCRConfidence (max glyph conf)
      t.otherOcr.count(_ == t.token).toDouble, // MatchingOCRTokens
      t.lineOverlap, // LineOverlap
      t.linePos, // LinePosition
      t.conf, // WordConfidence
      caseClass(c.suggestion), // CandidateCaseClass
      c.histPatterns.length.toDouble, // CandidateHistoricalPatternsDistance
      lengthClass(c.suggestion.length, 3, 8, 13), // CandidateLengthClass
      c.suggestion.length.toDouble, // CandidateLength
      if (c.suggestion == t.token) 1.0 else 0.0, // CandidateMatchesOCR
      t.otherOcr.count(_ == c.suggestion).toDouble, // CandidateMatchingOCRs
      cMax3, // CandidateMaxCharNGram
      cMin3, // CandidateMinCharNGram
      histConf, // CandidateMaxHistoricalPatternConfidence
      histConf, // CandidateMinHistoricalPatternConfidence
      c.weight, // CandidateVoteWeight
      lex.freq(c.modern), // CandidateUnigram
      lex.freq(t.token) // UnigramOCRRelativeFrequency
    )
  }

  /** LE feature vector, fixed order per config.json leFeatures
    * (config.json:15-80) — 15 features. The HighestRankedCandidate*
    * features read the PROFILER's ranking (vote weight order), since LE
    * runs before RR in the reference flow (aio/aio.py:503-520).
    */
  def leFeatures(t: TokenCtx, cands: Seq[Candidate], lex: Lexicon): Array[Double] = {
    val best = cands.headOption
    val next = if (cands.length > 1) Some(cands(1)) else None
    Array(
      lengthClass(t.token.length, 3, 8, 13), // TokenLengthClass (medium=8)
      caseClass(t.rawOrToken), // TokenCaseClass
      t.token.length.toDouble, // TokenLength
      t.maxCharConf, // MaxOCRConfidence
      t.otherOcr.count(_ == t.token).toDouble, // MatchingOCRTokens
      t.lineOverlap, // LineOverlap
      t.linePos, // LinePosition
      t.conf, // WordConfidence
      best.map(c => if (c.suggestion == t.token) 1.0 else 0.0).getOrElse(0.0), // HighestRankedCandidateMatchesOCR
      best.map(_.histPatterns.length.toDouble).getOrElse(0.0), // ...HistPatternsDistance
      best.map(_.ocrPatterns.length.toDouble).getOrElse(0.0), // ...OCRPatternsDistance
      best.map(b => b.weight - next.map(_.weight).getOrElse(0.0)).getOrElse(0.0), // ...DistanceToNext
      best.map(_.weight).getOrElse(0.0), // ...VoteWeight
      lex.freq(t.token), // UnigramOCRRelativeFrequency
      best.map(c => math.min(c.distance, 5).toDouble).getOrElse(5.0) // LevenshteinDistance (maxThreshold 5)
    )
  }

  /** DM feature vector — the 3 ACTIVE dmFeatures (config.json:187-215;
    * OCRPatternConfidence and the char-confidence features carry
    * classes=["deactivate"] and are filtered like the reference).
    */
  def dmFeatures(ranked: Seq[Ranked]): Array[Double] = {
    val best = ranked.head
    val diffToNext =
      if (ranked.length > 1) best.score - ranked(1).score else best.score
    Array(
      best.score, // BestRank
      diffToNext, // BestRankDifferenceToNext
      best.candidate.weight // CandidateVoteWeight
    )
  }

  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  def dot(f: Array[Double], w: Array[Double], bias: Double): Double = {
    var s = bias
    var i = 0
    while (i < f.length) { s += f(i) * w(i); i += 1 }
    s
  }

  /** Trained logistic weights (graft.tools.Train; classpath resource).
    * `modelOverride` is a single-JVM hook for Train's validate step and
    * tests; production reads the shipped resource on every executor.
    */
  @volatile var modelOverride: Option[TrainedModel] = None
  def model: TrainedModel = modelOverride.getOrElse(TrainedModel.default)

  def rrScore(t: TokenCtx, c: Candidate, lex: Lexicon): Double =
    sigmoid(dot(rrFeatures(t, c, lex), model.rr, model.rrBias))

  /** LE acceptance probability: is this OOV token a valid word that should
    * extend the lexicon? (EvalDLE role, aio/aio.py:510-520.)
    */
  def leScore(t: TokenCtx, cands: Seq[Candidate], lex: Lexicon): Double =
    sigmoid(dot(leFeatures(t, cands, lex), model.le, model.leBias))

  final case class Ranked(candidate: Candidate, score: Double, rank: Int)

  /** Rank candidates (score desc, suggestion asc tie-break) — the
    * HighestRanked*/
  def rank(t: TokenCtx, cands: Seq[Candidate], lex: Lexicon): Seq[Ranked] =
    cands.map(c => (c, rrScore(t, c, lex)))
      .sortBy { case (c, s) => (-s, c.suggestion) }
      .zipWithIndex
      .map { case ((c, s), i) => Ranked(c, s, i + 1) }

  /** DM decision over the best-ranked candidate. Accept the correction iff
    * the trained DM clears the threshold and the suggestion differs.
    */
  val dmThreshold = 0.5
  def decide(t: TokenCtx, ranked: Seq[Ranked], lex: Lexicon): Option[String] = {
    if (ranked.isEmpty) return None
    val best = ranked.head
    if (best.candidate.suggestion == t.token) return None
    if (lex.contains(t.token)) return None // keep in-lexicon tokens
    val dm = sigmoid(dot(dmFeatures(ranked), model.dm, model.dmBias))
    if (dm > dmThreshold) Some(best.candidate.suggestion) else None
  }

  /** Build the ML token context from a token's punctuation-stripped core. */
  def contextOf(raw: String, ctx: Seq[String], wordConf: Double,
      glyphConfs: Seq[Double], linePos: Double, lineOverlap: Double): Option[TokenCtx] = {
    val start = raw.indexWhere(_.isLetterOrDigit)
    if (start < 0) return None
    val stop = raw.lastIndexWhere(_.isLetterOrDigit) + 1
    val core = raw.substring(start, stop)
    Some(TokenCtx(core.toLowerCase, ctx.map(_.toLowerCase), wordConf, linePos,
      raw = core, glyphConfs = glyphConfs.slice(start, stop), lineOverlap = lineOverlap))
  }

  /** Per-token decision classification — the EvalDLE/EvalRRDM substrate
    * (aio/aio.py:17-19,514-537 run per-model eval tools over the profiled
    * files; here the same per-head outcome counts come from replaying the
    * decision chain). Returns (appliedToken, outcome) with outcome one of
    * non_alnum | in_lexicon | le_extended | no_candidate | dm_vetoed |
    * dm_accepted. [[correctToken]] delegates here, so the classification
    * IS the production control flow, never a parallel reimplementation.
    */
  def classifyToken(raw: String, ctx: Seq[String], wordConf: Double,
      glyphConfs: Seq[Double], linePos: Double, lineOverlap: Double,
      lex: Lexicon, runLE: Boolean, dynLex: Set[String] = Set.empty,
      maxCandidates: Int = Profiler.MaxCandidates): (String, String) = {
    contextOf(raw, ctx, wordConf, glyphConfs, linePos, lineOverlap) match {
      case None => (raw, "non_alnum")
      case Some(t) =>
        // in-lexicon tokens are never corrected (decide's first guard) and
        // never need LE — skip candidate generation entirely. This is the
        // hot path: ~85% of tokens are clean lexicon words, and the
        // SymSpell neighborhood walk is the most expensive per-token step.
        // `dynLex` is the corpus-global dynamic lexicon (the reference's
        // dynamiclex artifact): tokens the LE head accepted corpus-wide
        // are valid words here too (Pipeline.dynamicLexicon builds it).
        if (lex.contains(t.token) || dynLex.contains(t.token))
          return (raw, "in_lexicon")
        val cands = Profiler.candidates(t.token, lex, maxCandidates)
        // LE gate: an OOV token the LE model accepts is a valid word —
        // extend the (document-local) lexicon instead of correcting
        if (runLE && leScore(t, cands, lex) > 0.5)
          return (raw, "le_extended")
        val ranked = rank(t, cands, lex)
        if (ranked.isEmpty || ranked.head.candidate.suggestion == t.token)
          return (raw, "no_candidate")
        decide(t, ranked, lex) match {
          case Some(sug) =>
            val cased =
              if (t.raw.nonEmpty && t.raw.head.isUpper && sug.nonEmpty)
                s"${sug.head.toUpper}${sug.tail}"
              else sug
            val start = raw.indexWhere(_.isLetterOrDigit)
            val stop = raw.lastIndexWhere(_.isLetterOrDigit) + 1
            (raw.substring(0, start) + cased + raw.substring(stop), "dm_accepted")
          case None => (raw, "dm_vetoed")
        }
    }
  }

  /** Correct one token preserving its punctuation shell and leading-case:
    * split off non-letter prefix/suffix, correct the case-folded core
    * (unless the LE model accepted it into the dynamic lexicon), then
    * re-apply capitalization. `runLE`: the reference's config.json:2 gate.
    */
  def correctToken(raw: String, ctx: Seq[String], wordConf: Double,
      glyphConfs: Seq[Double], linePos: Double, lineOverlap: Double,
      lex: Lexicon, runLE: Boolean, dynLex: Set[String] = Set.empty,
      maxCandidates: Int = Profiler.MaxCandidates): (String, Boolean) = {
    val (applied, outcome) =
      classifyToken(raw, ctx, wordConf, glyphConfs, linePos, lineOverlap, lex,
        runLE, dynLex, maxCandidates)
    (applied, outcome == "dm_accepted")
  }

  /** Legacy single-conf entry point (tests / simple callers). */
  def correctToken(raw: String, ctx: Seq[String], conf: Double, linePos: Double, lex: Lexicon): (String, Boolean) =
    correctToken(raw, ctx, conf, Nil, linePos, 1.0, lex, runLE = true)
}
