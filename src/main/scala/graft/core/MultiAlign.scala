package graft.core

import scala.collection.mutable.ArrayBuffer

/** Multi-sequence line/word alignment — the Spark-side re-expression of the
  * reference's alignment stage:
  *
  *  - the Java aligner's protocol (k versions of a line in, per-line
  *    `wordAlignments: [{master, alignments: [[tok…]…]}]` out) is specified
  *    at /root/reference/ocrd_cis/align/cli.py:282-293 (input shape) and
  *    :115-139 (consumption); we re-implement the alignment itself as a
  *    Needleman-Wunsch-style char alignment + word-boundary projection,
  *  - `alignLines` / `alignWords` / `findWord` port the TextEquiv
  *    index/provenance rules and the 3-tier fuzzy token matcher from
  *    align/cli.py:82-172 and :174-245 (containment -> Levenshtein d<=3 ->
  *    containment-within, with the stateful skip-ahead quirk of
  *    match_tokens_lambda:224-245).
  *
  * Everything is row-local (one line tuple at a time) — at cluster scale this
  * runs inside `Dataset.map` with no shuffle.
  */
object MultiAlign {

  /** One word alignment: the master token and, per support extractor, the
    * list of its tokens aligned to that master token.
    */
  final case class WordAlignment(master: String, alignments: Seq[Seq[String]])

  /** Char-level global alignment of `support` against `master` with the same
    * move preference as the reference DP (add -> delete -> change strict
    * improvement, edist.py:36-45) but full-boundary traceback, used for word
    * projection. Returns, for each master char index, the support char
    * indices aligned to it plus insertions attached to the preceding master
    * position.
    *
    * Band-limited and exact. With n = |support|, m = |master| and D =
    * levenshtein(support, master), only the diagonals d = j - i with |d| +
    * |(n - m) - d| <= D are filled and stored, at most min(n + 1, band width)
    * cells per row, so the storage never exceeds the full table; every other
    * cell reads as infinity. Any path through diagonal d costs at least that
    * sum (|d| to reach d from diagonal 0, |(n - m) - d| to reach the end
    * cell), so no optimal path leaves the band. A band cell's value is the
    * cheapest in-band path to it, never below its full-table value, and equal
    * to it on every optimal-path cell (its optimal prefix stays in the band).
    * The traceback starts at (m, n) and stands only on optimal-path cells. A
    * neighbour passing an equality test there with its band value passes it
    * with its full-table value, since neither is below the full-table value.
    * Conversely, a neighbour passing the full-table test lies on an optimal
    * path, so it is in the band and holds that value. The two tables
    * therefore agree on every test the traceback makes, and it takes the same
    * steps as over the full (m+1)*(n+1) table.
    */
  private def charAlign(support: String, master: String): Array[StringBuilder] = {
    val n = support.length; val m = master.length
    // equal strings align on the all-match diagonal — the DP's traceback
    // (diagonal-first) produces exactly one support char per master
    // position and no insertions, so the identity buckets are the exact
    // DP result without the O(n*m) table. A large share of support lines
    // are byte-equal to the master (extractor transforms only rewrite
    // lines containing their confusion patterns), making this the common
    // case in the hot path.
    if (support == master) {
      val fast = new Array[StringBuilder](m + 1)
      var k = 0
      while (k < m) { fast(k) = new StringBuilder(1).append(master.charAt(k)); k += 1 }
      fast(m) = new StringBuilder
      return fast
    }
    // band of diagonals [lo, hi], clamped to the table. Row i stores its
    // band columns c0 = max(0, i + lo) .. min(n, i + hi) from i * w on;
    // w = min(hi - lo + 1, n + 1) bounds every row, so the storage never
    // exceeds the full (m+1)*(n+1) table
    val delta0 = n - m
    val slack = (Edist.levenshtein(support, master) - math.abs(delta0)) / 2
    val lo = math.max(math.min(0, delta0) - slack, -m)
    val hi = math.min(math.max(0, delta0) + slack, n)
    val w = math.min(hi - lo + 1, n + 1)
    val dp = new Array[Int]((m + 1) * w)
    val Inf = Int.MaxValue / 2
    def at(i: Int, j: Int): Int = {
      val c0 = math.max(0, i + lo)
      if (j < c0 || j > i + hi) Inf else dp(i * w + j - c0)
    }
    var j = 0
    while (j <= hi) { dp(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      val c0 = math.max(0, i + lo)
      val row = i * w - c0; val prev = (i - 1) * w - math.max(0, i - 1 + lo)
      val mc = master.charAt(i - 1)
      var jj = c0
      if (jj == 0) { dp(row) = i; jj = 1 }
      val jEnd = math.min(n, i + hi)
      while (jj <= jEnd) {
        val delta = if (support.charAt(jj - 1) != mc) 1 else 0
        val up = if (jj < i + hi) dp(prev + jj) + 1 else Inf
        val left = if (jj > c0) dp(row + jj - 1) + 1 else Inf
        dp(row + jj) = math.min(up, math.min(left, dp(prev + jj - 1) + delta))
        jj += 1
      }
      i += 1
    }
    // buckets(i) collects the support chars aligned to master char i;
    // created lazily, as this runs once per (line, support) in the hot path
    val buckets = new Array[StringBuilder](m + 1)
    def bucket(k: Int): StringBuilder = {
      if (buckets(k) == null) buckets(k) = new StringBuilder
      buckets(k)
    }
    // traceback, preferring diagonal, then up (gap in support), then left;
    // chars are appended in reverse and flipped once per touched bucket
    var ii = m; var jj = n
    while (ii > 0 || jj > 0) {
      val delta = if (ii > 0 && jj > 0 && support.charAt(jj - 1) != master.charAt(ii - 1)) 1 else 0
      if (ii > 0 && jj > 0 && at(ii, jj) == at(ii - 1, jj - 1) + delta) {
        bucket(ii - 1).append(support.charAt(jj - 1))
        ii -= 1; jj -= 1
      } else if (ii > 0 && at(ii, jj) == at(ii - 1, jj) + 1) {
        ii -= 1 // deletion: master char with no support char
      } else {
        // insertion: support char attached to current master position
        val slot = if (ii == 0) 0 else ii - 1
        bucket(slot).append(support.charAt(jj - 1))
        jj -= 1
      }
    }
    var k = 0
    while (k <= m) {
      if (buckets(k) == null) buckets(k) = new StringBuilder
      else if (buckets(k).length > 1) buckets(k) = buckets(k).reverseInPlace()
      k += 1
    }
    buckets
  }

  /** Align k line versions (versions(0) = master). Produces the aligner
    * protocol output: one WordAlignment per master word, where the support
    * tokens are the support substring aligned (by char projection) to the
    * master word's char range, split on whitespace.
    */
  def alignLineVersions(versions: Seq[String]): Seq[WordAlignment] = {
    val master = versions.head
    if (master.isEmpty) return Nil
    // master word char ranges [start, stop)
    val ranges = ArrayBuffer[(Int, Int, String)]()
    var pos = 0
    master.split(" ", -1).foreach { w =>
      if (w.nonEmpty) ranges += ((pos, pos + w.length, w))
      pos += w.length + 1
    }
    val supports = versions.tail.map { s =>
      if (s.isEmpty) Array.fill(master.length + 1)(new StringBuilder)
      else charAlign(s, master)
    }
    ranges.toSeq.map { case (ws, we, w) =>
      val aligned = supports.map { buckets =>
        val sb = new StringBuilder
        var i = ws
        while (i < we) { sb.append(buckets(i)); i += 1 }
        TextNorm.splitWs(sb)
      }
      WordAlignment(w, aligned)
    }
  }

  // ---- find_word: the 3-tier fuzzy matcher (align/cli.py:174-245) ----

  /** match_tokens_lambda port (align/cli.py:224-245), including the
    * i-increment skip quirk after a first-token match. Returns one past the
    * last matched index, or 0 for no match.
    */
  private def matchTokensLambda(
      tokens: Seq[String],
      regions: IndexedSeq[String],
      i0: Int,
      f: (String, String) => Boolean
  ): Int = {
    var i = i0
    var j = 0
    while (j < tokens.length) {
      val token = tokens(j)
      if (j + i >= regions.length) return 0
      if (regions(i + j).isEmpty) return 0
      if (!f(token, regions(i + j))) {
        if (j == 0) return 0
        i += 1 // skip this region and retry the next token (reference quirk)
      }
      j += 1
    }
    i + tokens.length
  }

  private def matchTokens(tokens: Seq[String], regions: IndexedSeq[String], i: Int): Int =
    matchTokensLambda(tokens, regions, i, (a, b) => b.contains(a))

  private def matchTokensLev(tokens: Seq[String], regions: IndexedSeq[String], i: Int): Int =
    matchTokensLambda(tokens, regions, i, (a, b) => {
      // align/cli.py:211-217 tests d <= 1 or d <= k with k = 3: just d <= 3
      Edist.levenshtein(a, b) <= 3
    })

  /** find_word (align/cli.py:174-201): locate the token sequence in the word
    * stream; 3 passes; on success returns (matched slice [i, n), rest from i
    * — the rest deliberately re-includes the match start, a reference
    * behavior later stages rely on). Indices into `regions`.
    */
  def findWord(tokens: Seq[String], regions: IndexedSeq[String]): (Option[(Int, Int)], Int) = {
    var i = 0
    while (i < regions.length) {
      val n = matchTokens(tokens, regions, i)
      if (n != 0) return (Some((i, n)), i)
      i += 1
    }
    i = 0
    while (i < regions.length) {
      val n = matchTokensLev(tokens, regions, i)
      if (n != 0) return (Some((i, n)), i)
      i += 1
    }
    i = 0
    while (i < regions.length) {
      val n = matchTokens(tokens, regions, i) // containment-within pass
      if (n != 0) return (Some((i, n)), i)
      i += 1
    }
    (None, 0)
  }

  // ---- alignment application: TextEquiv index/provenance rules ----

  /** Input: one line as seen by each extractor. `source` is the extractor's
    * file-group tag, `lineId` the master line id, `conf` the line
    * confidence ((min+max)/2 fold over word confidences,
    * recognize.py:262-265). `wordConfs`/`wordCharConfs` carry the
    * per-word and per-glyph confidence lineage aligned with the version's
    * own whitespace tokens (empty = legacy constant-conf mode).
    */
  final case class LineVersion(
      source: String, lineId: String, text: String, conf: Double,
      wordConfs: IndexedSeq[Double] = IndexedSeq.empty,
      wordCharConfs: IndexedSeq[Seq[Double]] = IndexedSeq.empty) {
    def wordConfAt(i: Int): Double =
      if (i >= 0 && i < wordConfs.length) wordConfs(i) else conf
    def charConfsAt(i: Int): Seq[Double] =
      if (i >= 0 && i < wordCharConfs.length) wordCharConfs(i) else Nil
  }

  /** (min+max)/2 — the reference's confidence fold (recognize.py:262-265). */
  def confFold(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else (xs.min + xs.max) / 2

  /** Build the aligned line: line-level variants per align_lines
    * (align/cli.py:82-109) and word-level variants per align_words /
    * align_word_regions (:111-172) with findWord consumption semantics.
    */
  def alignLine(versions: Seq[LineVersion], span: Span): AlignedLine = {
    val master = versions.head
    val lineVariants = versions.zipWithIndex.map { case (v, i) =>
      val ddt = v.source + "/" + v.lineId
      if (i == 0)
        TextEquiv(i + 1, v.text, v.conf, "ocrd-cis-line-alignment-master-ocr:" + ddt)
      else
        TextEquiv(i + 1, v.text, v.conf, "ocrd-cis-line-alignment:" + ddt)
    }

    val wordAligns = alignLineVersions(versions.map(_.text))
    // word streams; findWord consumes a prefix of each. Offsets track each
    // stream's drop count so matched words map back to their original
    // token index for the per-word confidence lineage.
    var mwords: IndexedSeq[String] = TextNorm.splitWs(master.text)
    var mOff = 0
    val owords = Array.tabulate(versions.length - 1) { i =>
      TextNorm.splitWs(versions(i + 1).text)
    }
    val oOff = new Array[Int](versions.length - 1)
    val outWords = ArrayBuffer[AlignedWord]()
    var gaveUp = false
    wordAligns.foreach { wa =>
      if (!gaveUp) {
        val (mMatch, _) = findWord(Seq(wa.master), mwords)
        mMatch match {
          case Some((mi, mn)) if mn - mi == 1 =>
            mwords = mwords.drop(mi) // rest = regions[i:]
            mOff += mi
            val variants = ArrayBuffer[TextEquiv]()
            val masterWord = mwords.take(mn - mi)
            variants += TextEquiv(
              1,
              masterWord.mkString(" "),
              master.wordConfAt(mOff),
              "ocrd-cis-word-alignment-master-ocr:" + master.source + "/" + wa.master
            )
            var ok = true
            wa.alignments.zipWithIndex.foreach { case (other, i) =>
              if (ok) {
                if (other.isEmpty) {
                  // empty word alignment (align/cli.py:145-153)
                  variants += TextEquiv(
                    i + 2,
                    "",
                    0.0,
                    "ocrd-cis-empty-word-alignment:" + versions(i + 1).source
                  )
                } else {
                  val (oMatch, _) = findWord(other, owords(i))
                  oMatch match {
                    case Some((oi, on)) =>
                      val matched = owords(i).slice(oi, on)
                      // conf fold over the matched words (recognize.py fold)
                      val mc = (oi until on).map(k => versions(i + 1).wordConfAt(oOff(i) + k))
                      owords(i) = owords(i).drop(oi)
                      oOff(i) += oi
                      variants += TextEquiv(
                        i + 2,
                        matched.mkString(" "),
                        confFold(mc),
                        "ocrd-cis-word-alignment:" + versions(i + 1).source + "/" + matched.mkString(",")
                      )
                    case None =>
                      ok = false; gaveUp = true // "cannot find; giving up" (align/cli.py:126-128)
                  }
                }
              }
            }
            if (ok) outWords += AlignedWord(variants.toSeq, master.charConfsAt(mOff))
          case _ =>
            gaveUp = true // align/cli.py:119-122
        }
      }
    }
    AlignedLine(master.lineId, span, lineVariants, outWords.toSeq)
  }
}
