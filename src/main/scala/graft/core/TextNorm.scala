package graft.core

import java.text.Normalizer

/** Text normalization — port of the reference's normalize/project/tokenize
  * semantics:
  *  - `normalize`   : ocrd_cis/ocropy/ocrolib/common.py:42-55 (`normalize_text`)
  *                    with the replacement table from ocrolib/chars.py:42-65.
  *  - `project`     : ocrolib/common.py:56-78 (`project_text`).
  *  - `tokenize`    : aio/aio.py:454-460 (strip digits/punct, lower, split).
  *
  * All functions are pure and deterministic — they run row-local inside
  * whole-stage-codegen-friendly `Dataset.map` stages, and the byte-identical
  * per-url invariant (BASELINE.json) depends on them never changing.
  */
object TextNorm {

  /** The non-empty runs of non-whitespace chars of `s`, whitespace being
    * Java regex `\s` (` \t\n\x0B\f\r`): the tokens of
    * `s.split("\\s+").filter(_.nonEmpty)` for any input, without a regex.
    * Shared with MultiAlign's hot alignment loop.
    */
  def splitWs(s: CharSequence): IndexedSeq[String] = {
    val out = scala.collection.immutable.ArraySeq.newBuilder[String]
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) out += s.subSequence(start, i).toString
    }
    out.result()
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** Replacement table, ported verbatim from ocrolib/chars.py:42-65
    * (`replacements`). Order matters: applied sequentially like the
    * reference's `for m,r in chars.replacements: s = re.sub(m, r, s)`.
    */
  val replacements: Seq[(String, String)] = Seq(
    ("[_~#]", "~"),       // OCR control characters
    ("\"", "''"),         // typewriter double quote
    ("`", "'"),           // grave accent
    ("[“”]", "''"), // fancy quotes
    ("´", "'"),      // acute accent
    ("[‘’]", "'"), // single quotation marks
    ("[“”]", "''"), // double quotation marks (kept duplicated like the reference)
    ("“", "''"),     // German quotes
    ("„", ",,"),     // German quotes
    ("…", "..."),    // ellipsis
    ("′", "'"),      // prime
    ("″", "''"),     // double prime
    ("‴", "'''"),    // triple prime
    ("〃", "''"),     // ditto mark
    ("µ", "μ"), // micro -> greek mu
    ("[–—]", "-"), // variant length hyphens
    ("ﬂ", "fl"),     // Unicode ligatures
    ("ﬁ", "fi"),
    ("ﬀ", "ff"),
    ("ﬃ", "ffi"),
    ("ﬄ", "ffl")
  )

  private val compiledReplacements: Seq[(java.util.regex.Pattern, String)] =
    replacements.map { case (m, r) => (java.util.regex.Pattern.compile(m), r) }

  private val wsRun = java.util.regex.Pattern.compile("\\s+")

  /** normalize_text: NFC, collapse whitespace, strip newlines, trim,
    * apply replacement table. (ocrolib/common.py:42-55)
    *
    * Hot path: called once per block in segmentation AND once per
    * (line, extractor) in alignment. The fast path returns the input
    * unchanged when no transformation can apply — provably: NFC of pure
    * ASCII is the identity; `\s` is ASCII-only in Java, and every
    * whitespace char except single interior spaces is rejected; every
    * ASCII char in the replacement table (`_ ~ # " \``) is rejected; all
    * other table entries are non-ASCII. `TextNormSpec` fuzzes fast==slow.
    */
  def normalize(s0: String): String =
    if (isNormalizeIdentity(s0)) s0 else normalizeSlow(s0)

  private[graft] def normalizeSlow(s0: String): String = {
    var s = Normalizer.normalize(s0, Normalizer.Form.NFC)
    s = wsRun.matcher(s).replaceAll(" ")
    s = s.replace("\n", "")
    s = s.trim
    compiledReplacements.foreach { case (p, r) => s = p.matcher(s).replaceAll(r) }
    s
  }

  /** True iff `normalizeSlow` would return the string unchanged: ASCII
    * only, no control chars, no space runs or leading/trailing space, no
    * ASCII replacement-table chars. One branchy O(n) scan vs one NFC pass
    * + 22 regex matchers (wsRun + the 21-entry table).
    */
  private def isNormalizeIdentity(s: String): Boolean = {
    val n = s.length
    if (n == 0) return true
    if (s.charAt(0) == ' ' || s.charAt(n - 1) == ' ') return false
    var prevSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 0x80 || c < 0x20) return false
      if (c == ' ') {
        if (prevSpace) return false
        prevSpace = true
      } else {
        if (c == '_' || c == '~' || c == '#' || c == '"' || c == '`') return false
        prevSpace = false
      }
      i += 1
    }
    true
  }

  /** project_text: project onto a smaller comparison alphabet
    * (ocrolib/common.py:56-78).
    */
  def project(s0: String, kind: String = "exact"): String = {
    var s = normalize(s0)
    s = s.replaceAll("( *[.] *){4,}", "....") // dot rows
    s = s.replaceAll("[~_]", "")
    kind match {
      case "exact"    => s
      case "nospace"  => s.replaceAll("\\s", "")
      case "spletdig" => s.replaceAll("[^A-Za-z0-9 ]", "")
      case "letdig"   => s.replaceAll("[^A-Za-z0-9]", "")
      case "letters"  => s.replaceAll("[^A-Za-z]", "")
      case "digits"   => s.replaceAll("[^0-9]", "")
      case "lnc"      => s.toUpperCase.replaceAll("[^A-Z]", "")
      case other      => throw new IllegalArgumentException(s"unknown normalization: $other")
    }
  }

  /** tokenize: drop digits, punctuation -> space, lowercase, split on
    * whitespace (aio/aio.py:454-460).
    */
  def tokenize(text: String): Seq[String] = {
    val noDigits = text.replace("\n", " ").replace("\r", "").filterNot(_.isDigit)
    val noPunct = noDigits.map(c => if (isAsciiPunct(c)) ' ' else c)
    splitWs(noPunct.toLowerCase.trim)
  }

  /** string.punctuation from CPython — the exact set the reference's
    * maketrans uses (aio/aio.py:455).
    */
  def isAsciiPunct(c: Char): Boolean =
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".indexOf(c.toInt) >= 0

  /** Stop-word language detection (aio/aio.py:462-477): tokenize, intersect
    * the token set with each language's stopword set, argmax overlap.
    * `languages` iteration order is the fallback tie-break, so we keep an
    * ordered Seq.
    */
  def detectLanguage(text: String, stopwords: Seq[(String, Set[String])]): String = {
    val words = tokenize(text).toSet
    // max-by with first-wins on ties, like Python's max over insertion order
    var bestLang = stopwords.head._1
    var bestN = -1
    stopwords.foreach { case (lang, sw) =>
      val n = words.intersect(sw).size
      if (n > bestN) { bestN = n; bestLang = lang }
    }
    bestLang
  }
}
