package graft.core

import scala.collection.mutable.ArrayBuffer

/** Edit-distance kernels — exact semantic port of
  * /root/reference/ocrd_cis/ocropy/ocrolib/edist.py.
  *
  * `xlevenshtein`'s tie-breaking (the strict `<` update order
  * add -> delete -> change, edist.py:36-45) determines gap placement and
  * therefore the confusion profile; the port preserves it bit-for-bit,
  * including the reference's boundary quirk where a path that reaches
  * row/column 0 early drops leading characters from the aligned strings
  * (sources[0,:] stays None, edist.py:27-54).
  *
  * These run row-local inside Dataset.map — O(n*m) per line, bounded by
  * the caller's line-length cap (the analog of the reference's w>5000
  * guard, div/eval.py:55-57). `levenshtein` is bit-parallel when the
  * shorter string has at most 64 chars and returns the same value as the
  * reference DP; `xlevenshtein` keeps the full table its traceback needs.
  */
object Edist {

  /** Precompiled gap splitter — String.split("~+") is not on the JDK
    * single-char fast path, so it compiled a Pattern per confusion call.
    */
  private val TildePattern = java.util.regex.Pattern.compile("~+")

  /** Levenshtein distance (edist.py:6-19). Same value as the reference's
    * DP, computed bit-parallel when the shorter string fits one 64-bit word
    * (Myers 1999, in Hyyrö's global-distance form): the shorter string is
    * the pattern, one column of the DP is held as +1/-1 vertical delta
    * bit-vectors, and each char of the longer string advances the whole
    * column in O(1) word operations. Longer pairs run the rolling
    * single-array DP. Equal strings short-circuit to 0 — the common case in
    * the hot paths that compare support lines/tokens against a master the
    * extractor transform did not touch.
    */
  def levenshtein(a0: String, b0: String): Int = {
    if (a0 == b0) return 0
    var a = a0; var b = b0
    if (a.length > b.length) { val t = a; a = b; b = t }
    if (a.isEmpty) b.length
    else if (a.length <= 64) bitParallel(a, b)
    else rollingDp(a, b)
  }

  /** Per-thread pattern-match table: `ascii(c)` is the bit mask of the
    * pattern positions holding char c < 128; pattern chars >= 128 go to the
    * small `hiChars`/`hiMasks` list. Only the entries a call set are
    * cleared afterwards, so no call allocates or zeroes a full table.
    */
  private final class Peq {
    val ascii = new Array[Long](128)
    val hiChars = new Array[Char](64)
    val hiMasks = new Array[Long](64)
    var nHi = 0

    def set(p: String): Unit = {
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        val bit = 1L << i
        if (c < 128) ascii(c) |= bit
        else {
          var h = 0
          while (h < nHi && hiChars(h) != c) h += 1
          if (h == nHi) { hiChars(h) = c; hiMasks(h) = 0L; nHi += 1 }
          hiMasks(h) |= bit
        }
        i += 1
      }
    }

    def eq(c: Char): Long =
      if (c < 128) ascii(c)
      else {
        var h = 0
        while (h < nHi && hiChars(h) != c) h += 1
        if (h == nHi) 0L else hiMasks(h)
      }

    def clear(p: String): Unit = {
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        if (c < 128) ascii(c) = 0L
        i += 1
      }
      nHi = 0
    }
  }

  private val peqs = ThreadLocal.withInitial[Peq](() => new Peq)

  /** Distance for 1 <= p.length <= 64, p the pattern (DP rows), t the text
    * (DP columns). `pv`/`mv` hold the +1/-1 vertical deltas of the current
    * column; `score` tracks D[m][j] along the bottom row. Row 0 is
    * D[0][j] = j, so every column shifts a +1 horizontal delta in at bit 0.
    */
  private def bitParallel(p: String, t: String): Int = {
    val peq = peqs.get
    peq.set(p)
    val last = 1L << (p.length - 1)
    var pv = -1L
    var mv = 0L
    var score = p.length
    var j = 0
    while (j < t.length) {
      val e = peq.eq(t.charAt(j))
      val xv = e | mv
      val xh = (((e & pv) + pv) ^ pv) | e
      var ph = mv | ~(xh | pv)
      var mh = pv & xh
      if ((ph & last) != 0) score += 1
      else if ((mh & last) != 0) score -= 1
      ph = (ph << 1) | 1L
      mh = mh << 1
      pv = mh | ~(xv | ph)
      mv = ph & xv
      j += 1
    }
    peq.clear(p)
    score
  }

  /** The reference's rolling DP over the shorter string `a`. */
  private def rollingDp(a: String, b: String): Int = {
    val n = a.length; val m = b.length
    var current = Array.tabulate(n + 1)(identity)
    var previous = new Array[Int](n + 1)
    var i = 1
    while (i <= m) {
      val t = previous; previous = current; current = t
      current(0) = i
      var j = 1
      while (j <= n) {
        val add = previous(j) + 1
        val delete = current(j - 1) + 1
        var change = previous(j - 1)
        if (a.charAt(j - 1) != b.charAt(i - 1)) change += 1
        current(j) = math.min(add, math.min(delete, change))
        j += 1
      }
      i += 1
    }
    current(n)
  }

  /** Result of xlevenshtein: edit cost + confusion pairs (got, want). */
  final case class XLev(cost: Int, confusions: Seq[(String, String)], aAligned: String, bAligned: String)

  /** xlevenshtein(a, b, context) — edist.py:21-83.
    * `b` is the ground-truth/master string and must be non-empty.
    * Returns cost, the gap-padded aligned strings (`_` gaps) and the
    * confusion pairs split on `~`-masked common context.
    */
  def xlevenshtein(a: String, b: String, context: Int = 1): XLev = {
    val n = a.length; val m = b.length
    require(m > 0, "xlevenshtein requires non-empty b (ground truth)")
    if (a == b) return XLev(0, Nil, a, b)

    // sources(i)(j) = packed predecessor (pi * (n+2) + pj), -1 = None
    val W = n + 2
    val sources = Array.fill((m + 1) * (n + 1))(-1)
    val dists = Array.fill(2, n + 1)(99999)
    // dists row 0 = 0..n
    var j = 0
    while (j <= n) { dists(0)(j) = j; j += 1 }
    var cur = 0 // index of row i in dists ring
    var i = 1
    while (i <= m) {
      val previous = dists(cur); cur ^= 1
      val current = dists(cur)
      java.util.Arrays.fill(current, 99999)
      current(0) = i
      var jj = 1
      while (jj <= n) {
        var best = current(jj)
        var src = -1
        if (previous(jj) + 1 < best) { src = (i - 1) * W + jj; best = previous(jj) + 1 }
        if (current(jj - 1) + 1 < best) { src = i * W + (jj - 1); best = current(jj - 1) + 1 }
        val delta = if (a.charAt(jj - 1) != b.charAt(i - 1)) 1 else 0
        if (previous(jj - 1) + delta < best) { src = (i - 1) * W + (jj - 1); best = previous(jj - 1) + delta }
        current(jj) = best
        sources(i * (n + 1) + jj) = src
        jj += 1
      }
      i += 1
    }
    val cost = dists(cur)(n)

    // reconstruct path (edist.py:48-67), incl. the (n+2, m+2) sentinel
    val path = ArrayBuffer[(Int, Int)]((n + 2, m + 2))
    var l = sources(m * (n + 1) + n)
    while (l >= 0) {
      val pi = l / W; val pj = l % W
      path += ((pi, pj))
      l = sources(pi * (n + 1) + pj)
    }
    val al = new StringBuilder; val bl = new StringBuilder
    var k = 0
    while (k < path.length - 1) {
      val (ii, jj) = path(k)
      val (i0, j0) = path(k + 1)
      var u = '_'; var v = '_'
      if (jj != j0 && j0 < n) u = a.charAt(j0)
      if (ii != i0 && i0 < m) v = b.charAt(i0)
      al.append(u); bl.append(v)
      k += 1
    }
    val aAln = al.reverse.toString
    val bAln = bl.reverse.toString

    XLev(cost, confusionsOf(aAln, bAln, context), aAln, bAln)
  }

  /** Split two aligned strings into confusion pairs on `~`-masked common
    * context (edist.py:69-83). The `same` mask is eroded with a centered
    * minimum filter of width 1+2*context (scipy minimum_filter, reflect
    * boundary == clamp for this radius).
    */
  def confusionsOf(aAln0: String, bAln0: String, context: Int): Seq[(String, String)] = {
    require(aAln0.length == bAln0.length)
    val pad = " " * context
    val al = pad + aAln0 + pad
    val bl = pad + bAln0 + pad
    val len = al.length
    val same = Array.tabulate(len)(idx => if (al.charAt(idx) == bl.charAt(idx)) 1 else 0)
    val eroded = new Array[Int](len)
    var idx = 0
    while (idx < len) {
      var mn = 1
      var w = idx - context
      while (w <= idx + context) {
        val c = if (w < 0) -w - 1 else if (w >= len) 2 * len - w - 1 else w // scipy 'reflect'
        val cc = math.max(0, math.min(len - 1, c))
        if (same(cc) < mn) mn = same(cc)
        w += 1
      }
      eroded(idx) = mn
      idx += 1
    }
    val als = new StringBuilder; val bls = new StringBuilder
    idx = 0
    while (idx < len) {
      als.append(if (eroded(idx) == 0) al.charAt(idx) else '~')
      bls.append(if (eroded(idx) == 0) bl.charAt(idx) else '~')
      idx += 1
    }
    val ags = TildePattern.split(als, -1)
    val bgs = TildePattern.split(bls, -1)
    ags.zip(bgs).filter { case (x, y) => x.nonEmpty || y.nonEmpty }.toSeq
  }
}
