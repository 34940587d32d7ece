package graft

import graft.core.Edist
import org.scalatest.funsuite.AnyFunSuite

/** Parity tests for the edist port against vectors generated by executing
  * the reference implementation's exact semantics
  * (/root/reference/ocrd_cis/ocropy/ocrolib/edist.py) — see
  * src/test/resources/edist_vectors.json.
  */
class EdistSpec extends AnyFunSuite {

  /** minimal JSON reader for the fixed vector shape (no deps). */
  private def vectors: Seq[(String, String, Int, Seq[(String, String)])] = {
    val raw = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/edist_vectors.json"), "UTF-8").mkString
    // shape: [{"a":..,"b":..,"cost":..,"conf":[[x,y],..]},..]
    val objs = raw.trim.stripPrefix("[").stripSuffix("]").split("\\},\\s*\\{").toSeq
    objs.map { o0 =>
      val o = o0.stripPrefix("{").stripSuffix("}")
      def str(key: String): String = {
        val m = ("\"" + key + "\": \"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(o)
        m.map(g => unescape(g.group(1))).getOrElse("")
      }
      def num(key: String): Int = {
        val m = ("\"" + key + "\": (-?\\d+)").r.findFirstMatchIn(o)
        m.map(_.group(1).toInt).getOrElse(-1)
      }
      val conf: Seq[(String, String)] = {
        val m = "\"conf\": \\[(.*?)\\](?=, \"|$)".r.findFirstMatchIn(o)
        val body = m.map(_.group(1)).getOrElse("")
        if (body.trim.isEmpty) Nil
        else
          "\\[\"((?:[^\"\\\\]|\\\\.)*)\", \"((?:[^\"\\\\]|\\\\.)*)\"\\]".r
            .findAllMatchIn(body)
            .map(g => (unescape(g.group(1)), unescape(g.group(2))))
            .toSeq
      }
      (str("a"), str("b"), num("cost"), conf)
    }
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  test("levenshtein matches reference vectors") {
    assert(vectors.nonEmpty)
    vectors.foreach { case (a, b, cost, _) =>
      assert(Edist.levenshtein(a, b) == cost, s"lev($a, $b)")
    }
  }

  test("xlevenshtein cost + confusions match reference vectors") {
    vectors.foreach { case (a, b, cost, conf) =>
      val r = Edist.xlevenshtein(a, b)
      assert(r.cost == cost, s"cost($a, $b)")
      assert(r.confusions == conf, s"confusions($a, $b): got ${r.confusions} want $conf")
    }
  }

  test("canonical fixture: Säugethiere vs Säugetiere") {
    val r = Edist.xlevenshtein("Säugethiere", "Säugetiere")
    assert(r.cost == 1)
    assert(r.confusions == Seq(("thi", "t_i")))
  }

  // seeded pseudo-random property loops (scalacheck bridge unavailable in
  // the offline cache — deterministic samples give the same guarantees here)
  private def randWords(n: Int, seed: Long): Seq[String] = {
    val rng = new java.util.Random(seed)
    val alpha = "abcdet h"
    Seq.fill(n) {
      val len = rng.nextInt(13)
      (0 until len).map(_ => alpha.charAt(rng.nextInt(alpha.length))).mkString
    }
  }

  test("property: levenshtein metric axioms") {
    val ws = randWords(300, 11L)
    ws.grouped(3).foreach {
      case Seq(a, b, c) =>
        assert(Edist.levenshtein(a, b) == Edist.levenshtein(b, a))
        assert((Edist.levenshtein(a, b) == 0) == (a == b))
        assert(Edist.levenshtein(a, c) <= Edist.levenshtein(a, b) + Edist.levenshtein(b, c))
      case _ =>
    }
  }

  test("property: xlevenshtein cost equals levenshtein") {
    randWords(200, 12L).grouped(2).foreach {
      case Seq(a, b) if b.nonEmpty =>
        assert(Edist.xlevenshtein(a, b).cost == Edist.levenshtein(a, b))
      case _ =>
    }
  }

  test("property: aligned strings have equal length, b suffix-preserved") {
    randWords(200, 13L).grouped(2).foreach {
      case Seq(a, b) if b.nonEmpty && a != b =>
        val r = Edist.xlevenshtein(a, b)
        assert(r.aAligned.length == r.bAligned.length)
        // gap-stripped bAligned is a contiguous substring of b (the
        // reference's DP-boundary quirk can drop chars at BOTH ends,
        // edist.py:48-67 — interior chars are never dropped)
        val stripped = r.bAligned.replace("_", "")
        assert(b.contains(stripped))
      case _ =>
    }
  }

  /** Full-table Levenshtein DP, the textbook recurrence over the whole
    * (|a|+1) x (|b|+1) table: the reference the kernel is checked against.
    */
  private def fullTableLevenshtein(a: String, b: String): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val sub = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
      d(i)(j) = math.min(d(i - 1)(j - 1) + sub, math.min(d(i - 1)(j), d(i)(j - 1)) + 1)
    }
    d(a.length)(b.length)
  }

  test("levenshtein equals a full-table DP on 12k seeded pairs across the 64-char word") {
    val pairs = EdistSpec.randomPairs(12000, 20261017L) ++ Seq(
      ("", ""), ("", "a"), ("ä", ""), ("säugetiere", "säugethiere"), ("säugetiere", "saugetiere"),
      ("a" * 64, "a" * 64), ("a" * 64, "b" * 64), ("a" * 63 + "ä", "a" * 65), ("ä" * 64, "ä" * 65),
      ("d" * 10, "ä" * 10), ("Ā" * 5, "\u0000" * 5), ("x" * 140, ""), ("ab" * 70, "ba" * 70))
    var checked = 0
    pairs.foreach { case (a, b) =>
      val want = fullTableLevenshtein(a, b)
      assert(Edist.levenshtein(a, b) == want, s"lev(${a.length}: $a, ${b.length}: $b)")
      assert(Edist.levenshtein(b, a) == want, s"lev(${b.length}: $b, ${a.length}: $a)")
      checked += 1
    }
    val lens = pairs.map { case (a, b) => math.min(a.length, b.length) }
    assert(checked >= 10000)
    assert(lens.exists(_ <= 64) && lens.exists(_ > 64), "pairs must cross the 64-char word")
    assert(pairs.exists { case (a, b) => a == b && a.nonEmpty })
  }
}

object EdistSpec {

  /** Seeded random string pairs over an alphabet with a space, ASCII 'd'
    * and non-ASCII chars whose low seven bits collide with it ('ä' is
    * 0xE4, 'd' is 0x64) or are zero ('Ā' is 0x100). Lengths run 0-140. A
    * third of the pairs are independent strings; the rest are a string and
    * a copy with 0-8 random edits (equal strings included), the regime of
    * OCR line versions.
    */
  def randomPairs(n: Int, seed: Long): Seq[(String, String)] = {
    val rng = new java.util.Random(seed)
    val alphabet = "ab cä edĀ"
    def char(): Char = alphabet.charAt(rng.nextInt(alphabet.length))
    def string(len: Int): String = Seq.fill(len)(char()).mkString
    def mutate(s: String): String = {
      val sb = new StringBuilder(s)
      (0 until rng.nextInt(9)).foreach { _ =>
        val at = if (sb.isEmpty) 0 else rng.nextInt(sb.length)
        rng.nextInt(3) match {
          case 0 => sb.insert(at, char())
          case 1 => if (sb.nonEmpty) sb.deleteCharAt(at)
          case _ => if (sb.nonEmpty) sb.setCharAt(at, char())
        }
      }
      sb.toString
    }
    Seq.fill(n) {
      val a = string(rng.nextInt(141))
      if (rng.nextInt(3) == 0) (a, string(rng.nextInt(141))) else (a, mutate(a))
    }
  }
}
