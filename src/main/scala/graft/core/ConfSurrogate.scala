package graft.core

/** Deterministic per-char confidence surrogate — the stand-in for the
  * real recognizer's per-glyph posteriors (recognize.py:227-246; no OCR
  * model ships in this sandbox). Confidences are a pure hash jitter in
  * [base - 0.0495, base]: a pure function of (extractor, url, lineId,
  * char index), reproducible at any parallelism and consumed by the
  * Max/Min/AverageOCRCharacterConfidence features and the word/line
  * (min+max)/2 folds.
  */
object ConfSurrogate {

  def charConf(exName: String, url: String, lineId: String, i: Int, base: Double): Double = {
    val h = (url.hashCode.toLong * 1000003L + lineId.hashCode.toLong) * 31L +
      exName.hashCode.toLong * 2654435761L + i.toLong * 40503L
    base - ((h & 0x7fffffffL) % 100L) / 2000.0
  }

  /** Per-word glyph confidences of one line reading: non-space char runs,
    * confidences indexed by absolute char position (word_conf_list shape,
    * recognize.py:239-257). Each word's confidences are an unboxed
    * `double[]` behind its `Seq[Double]`.
    */
  def wordCharConfs(exName: String, url: String, lineId: String, text: String, base: Double): IndexedSeq[Seq[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    var i = 0
    val n = text.length
    while (i < n) {
      if (text.charAt(i) != ' ') {
        val start = i
        while (i < n && text.charAt(i) != ' ') i += 1
        val confs = new Array[Double](i - start)
        var k = 0
        while (k < confs.length) { confs(k) = charConf(exName, url, lineId, start + k, base); k += 1 }
        out += scala.collection.immutable.ArraySeq.unsafeWrapArray(confs)
      } else i += 1
    }
    out.toIndexedSeq
  }

  /** Line confidence of one reading: (min+max)/2 over word confs, which
    * are (min+max)/2 over glyph confs (recognize.py:262-265).
    */
  def lineConf(exName: String, url: String, lineId: String, text: String, base: Double): Double =
    MultiAlign.confFold(wordCharConfs(exName, url, lineId, text, base).map(MultiAlign.confFold))
}
