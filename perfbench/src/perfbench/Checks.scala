package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Output checks, independent of the program's own kernels. Nothing here
  * runs inside a timed region.
  */
object Checks {

  /** Edit distance between two sequences (two-row dynamic programme). */
  def levenshtein[A](a: IndexedSeq[A], b: IndexedSeq[A]): Int = {
    if (a == b) return 0
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j), cur(j - 1)) + 1)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  /** (char edits, golden chars, word edits, golden words) of one page. */
  def errors(text: String, golden: String): (Long, Long, Long, Long) = {
    val gw = golden.split("\\s+").toIndexedSeq
    if (text == golden) (0L, golden.length.toLong, 0L, gw.length.toLong)
    else (levenshtein(text: IndexedSeq[Char], golden: IndexedSeq[Char]).toLong, golden.length.toLong,
      levenshtein(text.split("\\s+").toIndexedSeq, gw).toLong, gw.length.toLong)
  }

  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def md5(bytes: Array[Byte]): Array[Byte] = MessageDigest.getInstance("MD5").digest(bytes)
  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** The near-dup rule Run's neardup stage documents, restated on the
    * driver: 8 salted-md5 MinHashes over character 12-grams at stride 7,
    * four bands of two, band keys shared by more than `dfGuard` documents
    * ignored, connected components over band collisions. Returns the
    * number of components, which is the number of survivors that stay
    * near-dup keepers.
    */
  def nearDupKeepers(texts: IndexedSeq[String], dfGuard: Int = 128): Int = {
    val L = 12; val S = 7
    val keys = texts.map { t =>
      val cps = t.codePoints().toArray
      val end = math.max(cps.length - (L - 1), 1)
      val mins = new Array[Array[Byte]](8)
      var pos = 1
      while (pos <= end) {
        val from = pos - 1
        val sh = new String(cps, from, math.min(L, cps.length - from)).getBytes(UTF_8)
        var j = 0
        while (j < 8) {
          val d = md5(s"$j:".getBytes(UTF_8) ++ sh)
          if (mins(j) == null || unsignedLess(d, mins(j))) mins(j) = d
          j += 1
        }
        pos += S
      }
      val h = mins.map(hex)
      (0 until 4).map(b => (b, hex(md5((h(2 * b) + h(2 * b + 1)).getBytes(UTF_8)))))
    }
    val parent = Array.tabulate(texts.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    keys.zipWithIndex.flatMap { case (ks, i) => ks.map(_ -> i) }
      .groupBy(_._1).values
      .filter(g => g.size <= dfGuard)
      .foreach { g =>
        val ids = g.map(_._2)
        ids.tail.foreach(i => parent(find(i)) = find(ids.head))
      }
    texts.indices.count(i => find(i) == i)
  }
}
