package graft

import graft.core._
import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

class TextNormSpec extends AnyFunSuite {
  test("normalize: NFC + whitespace collapse + trim") {
    assert(TextNorm.normalize("  a\n b\t\tc  ") == "a b c")
    // NFC: combining diaeresis composed
    assert(TextNorm.normalize("ä") == "ä")
  }
  test("normalize: replacement table (chars.py:42-65)") {
    assert(TextNorm.normalize("“quote”") == "''quote''")
    assert(TextNorm.normalize("a–b—c") == "a-b-c")
    assert(TextNorm.normalize("ﬁne ﬂow") == "fine flow")
    assert(TextNorm.normalize("x_y#z~w") == "x~y~z~w")
    assert(TextNorm.normalize("a…b") == "a...b")
  }
  test("normalize fast path is byte-identical to the reference slow path (fuzz)") {
    // the fast identity check must NEVER diverge from the regex chain —
    // the e2e byte-identity invariant rides on it
    val rng = new java.util.Random(20260817L)
    val alphabet = "abc XYZ 09!?.,;:-_~#\"`'“”‘’„…–—ﬁﬂµ′\n\täßü  <>&"
    (0 until 5000).foreach { _ =>
      val len = rng.nextInt(40)
      val s = (0 until len).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
      assert(TextNorm.normalize(s) == TextNorm.normalizeSlow(s),
        s"fast/slow divergence on ${s.map(_.toInt).mkString("[", ",", "]")}")
    }
    // plus every block text of real generator pages (incl. the garble range)
    Seq(0L, 1L, 17L, 333L, 501L, 650L).foreach { i =>
      val html = new String(graft.fixtures.PagesGen.page(i).row.html, "UTF-8")
      graft.core.HtmlBlocks.segment(graft.fixtures.PagesGen.page(i).row.html)
        .foreach { b =>
          assert(TextNorm.normalize(b.text) == TextNorm.normalizeSlow(b.text))
        }
      assert(TextNorm.normalize(html) == TextNorm.normalizeSlow(html))
    }
  }

  test("project: comparison alphabets (common.py:56-78)") {
    assert(TextNorm.project("a b1c!", "letdig") == "ab1c")
    assert(TextNorm.project("a b1c!", "letters") == "abc")
    assert(TextNorm.project("a b1c!", "digits") == "1")
    assert(TextNorm.project("a b1c!", "lnc") == "ABC")
    // the dot-row regex consumes surrounding spaces, like the reference's
    // re.sub(r'( *[.] *){4,}','....',s)
    assert(TextNorm.project("a . . . . b") == "a....b")
  }
  test("tokenize: digits/punct stripped, lowered (aio.py:454-460)") {
    assert(TextNorm.tokenize("Hello, World! 123 foo-bar") ==
      Seq("hello", "world", "foo", "bar"))
  }
  test("splitWs yields the regex \\s+ split's non-empty tokens (fuzz)") {
    val ws = java.util.regex.Pattern.compile("\\s+")
    val rng = new java.util.Random(20261017L)
    // Java's \s set, plus Unicode spaces and controls it does not match
    val alphabet = "ab \t\n\u000b\f\r\u001c\u00a0\u2003\u0085ä"
    (0 until 5000).foreach { _ =>
      val s = Seq.fill(rng.nextInt(20))(alphabet.charAt(rng.nextInt(alphabet.length))).mkString
      val want = ws.split(s).toSeq.filter(_.nonEmpty)
      assert(TextNorm.splitWs(s) == want, s.map(_.toInt).mkString("[", ",", "]"))
      assert(TextNorm.splitWs(new StringBuilder(s)) == want)
    }
  }
  test("detectLanguage: stopword overlap argmax (aio.py:462-477)") {
    val sw = Seq(
      "de" -> Set("und", "der", "die"),
      "en" -> Set("the", "and", "of"))
    assert(TextNorm.detectLanguage("the cat and the dog", sw) == "en")
    assert(TextNorm.detectLanguage("und der Hund", sw) == "de")
    // tie -> first language (python max insertion-order semantics)
    assert(TextNorm.detectLanguage("xyz", sw) == "de")
  }
}

class HtmlBlocksSpec extends AnyFunSuite {
  test("segmentLayoutOpt: None for non-conforming pages, strict variant names the counts") {
    // real HTML mixes positioned and flow content: 1 positioned div but 2
    // text blocks — the row-local tolerant path must skip, not throw
    val mixed = """<html><body><div style="position:absolute;left:0px;top:0px;width:100px;height:20px">boxed</div><p>flow paragraph</p></body></html>"""
    assert(HtmlBlocks.segmentLayoutOpt(mixed).isEmpty)
    val e = intercept[IllegalArgumentException](HtmlBlocks.segmentLayout(mixed))
    assert(e.getMessage.contains("1 positioned divs") &&
      e.getMessage.contains("2 text blocks"), e.getMessage)
    // a conforming page parses identically through both variants
    val ok = graft.fixtures.LayoutGen.html(3L)
    assert(HtmlBlocks.segmentLayoutOpt(ok).contains(HtmlBlocks.segmentLayout(ok)))
  }

  test("segments paragraphs with byte spans") {
    val html = "<html><body><p>Hello world</p><p>Second block</p></body></html>"
    val blocks = HtmlBlocks.segmentString(html)
    val text = blocks.filter(_.kind == "text")
    assert(text.map(_.text) == Seq("Hello world", "Second block"))
    // span lineage: slicing the original bytes reproduces the raw text
    val bytes = html.getBytes("UTF-8")
    val b0 = text.head
    assert(new String(bytes, b0.span.start.toInt,
      (b0.span.stop - b0.span.start).toInt, "UTF-8") == "Hello world")
  }
  test("byte spans are exact for multi-byte chars") {
    val html = "<p>Säugethiere один</p>"
    val bytes = html.getBytes("UTF-8")
    val b = HtmlBlocks.segmentString(html).head
    assert(new String(bytes, b.span.start.toInt,
      (b.span.stop - b.span.start).toInt, "UTF-8") == "Säugethiere один")
  }
  test("nav/header/footer are boilerplate (ignore mask role)") {
    val html = "<body><nav><a href='/'>Home</a> About</nav><p>Main content here</p>" +
      "<footer>legal stuff</footer></body>"
    val blocks = HtmlBlocks.segmentString(html)
    assert(HtmlBlocks.extractText(blocks) == "Main content here")
    assert(blocks.exists(b => b.kind == "boilerplate" && b.text.contains("Home")))
  }
  test("high link density is boilerplate (Boilerpipe heuristic)") {
    val html = "<p><a href='/a'>one</a> <a href='/b'>two</a> x</p><p>real text without links at all</p>"
    val blocks = HtmlBlocks.segmentString(html)
    assert(blocks.head.kind == "boilerplate")
    assert(blocks(1).kind == "text")
  }
  test("script/style content skipped, entities decoded") {
    val html = "<style>p{color:red}</style><p>a &amp; b &lt;c&gt; &#65;</p>"
    assert(HtmlBlocks.extractText(HtmlBlocksSpecHelper.seg(html)) == "a & b <c> A")
  }
  test("hr and img become sep/img blocks") {
    val html = "<p>a1</p><hr/><img src='x.png'/><p>b2</p>"
    val kinds = HtmlBlocks.segmentString(html).map(_.kind)
    assert(kinds == Seq("text", "sep", "img", "text"))
  }
  test("latin-1 fallback for non-utf8 bytes") {
    val bytes = "<p>café</p>".getBytes("ISO-8859-1")
    val blocks = HtmlBlocks.segment(bytes)
    assert(blocks.head.text == "café")
  }
}
object HtmlBlocksSpecHelper {
  def seg(html: String): Seq[Block] = HtmlBlocks.segmentString(html)
}

class MultiAlignSpec extends AnyFunSuite {
  import MultiAlign._

  test("alignLineVersions: identical versions align word-for-word") {
    val was = alignLineVersions(Seq("the quick fox", "the quick fox"))
    assert(was.map(_.master) == Seq("the", "quick", "fox"))
    assert(was.map(_.alignments.head.mkString(" ")) == Seq("the", "quick", "fox"))
  }
  test("alignLineVersions: substitution stays in its word") {
    val was = alignLineVersions(Seq("the quick fox", "the quiek fox"))
    assert(was(1).alignments.head == Seq("quiek"))
  }
  test("alignLineVersions: merged word in support maps to both masters") {
    val was = alignLineVersions(Seq("ab cd", "abcd"))
    // support "abcd" split across master words: chars project to both ranges
    assert(was.map(_.master) == Seq("ab", "cd"))
    val all = was.flatMap(_.alignments.head)
    assert(all.mkString == "abcd")
  }
  test("findWord: 3-tier matching (align/cli.py:174-245)") {
    val regions = IndexedSeq("the", "quick", "brown", "fox")
    // tier 1: containment
    assert(findWord(Seq("qui"), regions)._1.contains((1, 2)))
    // tier 2: levenshtein d<=3
    assert(findWord(Seq("quak"), regions)._1.contains((1, 2)))
    // no match
    assert(findWord(Seq("zzzzzzzzzz"), regions)._1.isEmpty)
  }
  test("alignLine: TextEquiv index/provenance rules (align/cli.py:82-172)") {
    val versions = Seq(
      LineVersion("x-master", "b0001", "the quick fox", 0.9),
      LineVersion("x-alt", "b0001", "the quiek fox", 0.8))
    val al = alignLine(versions, Span(0, 13))
    assert(al.variants.map(_.index) == Seq(1, 2))
    assert(al.variants.head.source == "ocrd-cis-line-alignment-master-ocr:x-master/b0001")
    assert(al.variants(1).source == "ocrd-cis-line-alignment:x-alt/b0001")
    assert(al.variants(1).text == "the quiek fox")
    assert(al.words.length == 3)
    val w1 = al.words(1)
    assert(w1.variants.head.text == "quick")
    assert(w1.variants.head.source.startsWith("ocrd-cis-word-alignment-master-ocr:x-master/"))
    assert(w1.variants(1).text == "quiek")
    assert(w1.variants(1).source.startsWith("ocrd-cis-word-alignment:x-alt/"))
  }
}

/** The band-limited `charAlign` against a test-local copy of the
  * full-table aligner it replaced: same DP over the whole
  * (m+1) x (n+1) table, same traceback, same word projection with the
  * regex whitespace split. `alignLineVersions` must give the same word
  * alignments on every input.
  */
class AlignDifferentialSpec extends AnyFunSuite {
  import MultiAlign._

  private val WsRegex = java.util.regex.Pattern.compile("\\s+")

  private def fullTableCharAlign(support: String, master: String): Array[StringBuilder] = {
    val n = support.length; val m = master.length
    val dp = Array.ofDim[Int](m + 1, n + 1)
    for (j <- 0 to n) dp(0)(j) = j
    for (i <- 1 to m) {
      dp(i)(0) = i
      for (j <- 1 to n) {
        val delta = if (support.charAt(j - 1) != master.charAt(i - 1)) 1 else 0
        dp(i)(j) = math.min(dp(i - 1)(j) + 1, math.min(dp(i)(j - 1) + 1, dp(i - 1)(j - 1) + delta))
      }
    }
    val buckets = Array.fill(m + 1)(new StringBuilder)
    var ii = m; var jj = n
    while (ii > 0 || jj > 0) {
      val delta = if (ii > 0 && jj > 0 && support.charAt(jj - 1) != master.charAt(ii - 1)) 1 else 0
      if (ii > 0 && jj > 0 && dp(ii)(jj) == dp(ii - 1)(jj - 1) + delta) {
        buckets(ii - 1).insert(0, support.charAt(jj - 1))
        ii -= 1; jj -= 1
      } else if (ii > 0 && dp(ii)(jj) == dp(ii - 1)(jj) + 1) {
        ii -= 1
      } else {
        buckets(if (ii == 0) 0 else ii - 1).insert(0, support.charAt(jj - 1))
        jj -= 1
      }
    }
    buckets
  }

  private def fullTableAlignLineVersions(versions: Seq[String]): Seq[WordAlignment] = {
    val master = versions.head
    if (master.isEmpty) return Nil
    val ranges = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()
    var pos = 0
    master.split(" ", -1).foreach { w =>
      if (w.nonEmpty) ranges += ((pos, pos + w.length, w))
      pos += w.length + 1
    }
    val supports = versions.tail.map { s =>
      if (s.isEmpty) Array.fill(master.length + 1)(new StringBuilder)
      else fullTableCharAlign(s, master)
    }
    ranges.toSeq.map { case (ws, we, w) =>
      WordAlignment(w, supports.map { buckets =>
        WsRegex.split((ws until we).map(buckets(_)).mkString).toSeq.filter(_.nonEmpty)
      })
    }
  }

  private def assertSame(versions: Seq[String]): Unit = {
    val got = alignLineVersions(versions)
    val want = fullTableAlignLineVersions(versions)
    assert(got == want, s"versions ${versions.map(v => s"[$v]").mkString(" vs ")}")
  }

  test("alignLineVersions equals the full-table aligner on 12k seeded random pairs") {
    val pairs = EdistSpec.randomPairs(12000, 20261018L)
    pairs.foreach { case (master, support) => assertSame(Seq(master, support)) }
    pairs.grouped(2).foreach {
      case Seq((m, s1), (_, s2)) => assertSame(Seq(m, s1, s2))
      case _ =>
    }
  }

  test("alignLineVersions equals the full-table aligner on the lines of Pipeline.generate(spark, 2000)") {
    val pages = Pipeline.generate(SparkTestSession.spark, 2000).collect()
    var lines = 0
    pages.foreach { p =>
      val texts = Pipeline.segmentPage(p).blocks.filter(_.kind == "text").map(_.text)
      val versions = texts.map(t => Pipeline.extractors.map(ex => TextNorm.normalize(ex.transform(t))))
      versions.foreach { v => assertSame(v); lines += 1 }
      // neighbouring lines as master/support: far pairs with real words
      versions.zip(versions.drop(1)).foreach { case (a, b) => assertSame(Seq(a.head, b.head)) }
    }
    assert(lines > 2000)
  }

  test("alignLineVersions edge cases match the full-table aligner") {
    val master = "the quick brown fox"
    Seq(
      Seq(master, ""), // empty support
      Seq(master, master + " jumps over"), // support longer
      Seq(master, "the quick"), // support shorter
      Seq(master, "xyz " + master), // leading insertions: bucket m -> slot 0
      Seq(master, "  " + master), // leading whitespace insertions
      Seq(master, "ZZZ ZZZZZ ZZZZZ ZZZ"), // all-mismatch, same length
      Seq(master, "QQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQ"), // all-mismatch, longer
      Seq("a", "bbbbbbbbbb"), Seq("aaaaaaaaaa", "b"), Seq("ä", "a"),
      Seq(master * 5, (master * 5).reverse), // over 64 chars both sides
      Seq(master, master.replace("c", "e"), ""),
      Seq(master * 60, "q"), Seq(master * 60, "x fox"), // long master, tiny support
      Seq("q", master * 60) // tiny master, long support
    ).foreach(assertSame)
    val lead = alignLineVersions(Seq("ab", "xyab"))
    assert(lead.head.alignments.head == Seq("xyab"))
  }
}

class CorrectorSpec extends AnyFunSuite {
  import graft.fixtures.PagesGen

  val lexEn: Lexicon = PagesGen.lexiconFor("en")
  val lexDe: Lexicon = PagesGen.lexiconFor("de")

  test("profiler: exact lexicon hit is distance-0 candidate") {
    val cs = Profiler.candidates("stream", lexEn)
    assert(cs.head.suggestion == "stream")
    assert(cs.head.distance == 0)
  }
  test("profiler: OCR confusion candidate (e->c)") {
    val cs = Profiler.candidates("strcam", lexEn)
    assert(cs.exists(c => c.suggestion == "stream" && c.distance == 1))
    val c = cs.find(_.suggestion == "stream").get
    assert(c.ocrPatterns.nonEmpty || c.dict == "dict_modern")
  }
  test("profiler: respects maxCandidates=10 (config.json:9)") {
    assert(Profiler.candidates("te", lexEn).length <= 10)
  }
  test("profiler: canonical historical-pattern shape (run_training_test.bash:36-45)") {
    // 'säugetiere' modern; historical spelling 'säugethiere' via t->th at
    // position 5 — the canonical profiler fixture
    val cs = Profiler.candidates("säugethiere", lexDe)
    val hist = cs.find(_.dict == "dict_modern_hypothetic_errors")
    assert(hist.isDefined)
    assert(hist.get.suggestion == "säugethiere")
    assert(hist.get.modern == "säugetiere")
    assert(hist.get.histPatterns == Seq(Pattern("t", "th", 5)))
  }
  test("corrector: fixes OCR-corrupted token, keeps lexicon tokens") {
    val (fixed, changed) = Corrector.correctToken("strcam", Seq("stream"), 0.9, 0.5, lexEn)
    assert(changed && fixed == "stream")
    val (kept, ch2) = Corrector.correctToken("stream", Seq("stream"), 0.9, 0.5, lexEn)
    assert(!ch2 && kept == "stream")
  }
  test("corrector: preserves case and punctuation shell") {
    val (fixed, changed) = Corrector.correctToken("Strcam,", Seq("stream"), 0.9, 0.0, lexEn)
    assert(changed && fixed == "Stream,")
  }
  test("corrector: empty candidate set leaves token unchanged (stub {} fixture)") {
    val emptyLex = Lexicon(Map.empty, Nil, Nil, Map.empty)
    val (kept, changed) = Corrector.correctToken("anything", Nil, 0.9, 0.0, emptyLex)
    assert(!changed && kept == "anything")
  }
}

class ConfusionProfileSpec extends AnyFunSuite {
  test("pairsOf extracts (truth, misread) patterns with context=0") {
    assert(ConfusionProfile.pairsOf("wafser", "wasser") == Seq(("s", "f")))
    assert(ConfusionProfile.pairsOf("strcam", "stream") == Seq(("e", "c")))
    assert(ConfusionProfile.pairsOf("frorn", "from") == Seq(("m", "rn")))
    // truth's trailing n captures the corrupted rn's second n: the run
    // splits into (m, r) + a bare insertion, which is filtered as unusable
    assert(ConfusionProfile.pairsOf("colurnn", "column") == Seq(("m", "r")))
    // line-start capitalized corruption survives the edist boundary quirk
    assert(ConfusionProfile.pairsOf("Rneer und", "Meer und") == Seq(("M", "Rn")))
    assert(ConfusionProfile.pairsOf("same", "same") == Nil)
  }
  test("space-crossing and long pairs are filtered") {
    assert(ConfusionProfile.usable("m", "rn"))
    assert(!ConfusionProfile.usable("a b", "ab"))
    assert(!ConfusionProfile.usable("", "x"))
    assert(!ConfusionProfile.usable("abcd", "x"))
  }
}

class LearnedProfileSpec extends AnyFunSuite {
  test("learnProfile recovers the injected corruption channel from aligned data") {
    val spark = SparkTestSession.spark
    val profile = graft.pipeline.Pipeline.learnProfile(spark, 200)
    // the three injected patterns must dominate (PagesGen.ocrPatterns is
    // the generator's channel; the engine must rediscover it, not read it)
    assert(profile.patterns.take(3).toSet == Set(("e", "c"), ("s", "f"), ("m", "rn")),
      s"learned profile: $profile")
    // channel probabilities are relative confusion frequencies
    assert(profile.probs.values.sum > 0.999 && profile.probs.values.sum < 1.001)
    assert(profile.probs(("e", "c")) > profile.probs(("m", "rn")))
    // deterministic: count desc, then lexicographic
    assert(profile == graft.pipeline.Pipeline.learnProfile(spark, 200))
  }
}

class EdgePageSpec extends AnyFunSuite {
  test("pages with no text blocks flow through segment/align/correct") {
    import graft.core._
    val empty = PageRow("https://edge.example/p0",
      new java.sql.Timestamp(0L), "<html><body></body></html>".getBytes("UTF-8"), "", "en")
    val noText = PageRow("https://edge.example/p1",
      new java.sql.Timestamp(0L),
      "<html><body><nav><a href=\"/\">only boilerplate</a></nav><img src=\"x\"/></body></html>"
        .getBytes("UTF-8"), "", "en")
    Seq(empty, noText).foreach { p =>
      val sp = graft.pipeline.Pipeline.segmentPage(p)
      assert(!sp.blocks.exists(_.kind == "text"))
      val ap = graft.pipeline.Pipeline.alignPage(sp)
      assert(ap.lines.isEmpty)
      val cp = graft.pipeline.Pipeline.correctPage(ap,
        graft.fixtures.PagesGen.lexiconFor("de"), graft.fixtures.PagesGen.lexiconFor("en"))
      assert(cp.text == "" && cp.nCorrections == 0)
    }
  }

  test("malformed bytes fall back to Latin-1 and still segment") {
    val bad = Array[Byte]('<'.toByte, 'p'.toByte, '>'.toByte, 0xff.toByte, 0xfe.toByte,
      'a'.toByte, 'b'.toByte, '<'.toByte, '/'.toByte, 'p'.toByte, '>'.toByte)
    val blocks = graft.core.HtmlBlocks.segment(bad)
    assert(blocks.nonEmpty) // no exception; Latin-1 decode path
  }
}

class AlignmentFuzzSpec extends AnyFunSuite {
  test("alignLine + correctPage never throw on random line soup (seeded fuzz)") {
    import graft.core.MultiAlign.LineVersion
    import graft.fixtures.PagesGen
    val rng = new java.util.Random(20260816L)
    val alphabet = "abc defgh ij _~#\"ü ß…–ﬁ 0123!?.,;<>&"
    def randLine(): String = {
      val len = rng.nextInt(60)
      (0 until len).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
    }
    val lexDe = PagesGen.lexiconFor("de"); val lexEn = PagesGen.lexiconFor("en")
    (1 to 400).foreach { i =>
      val master = TextNorm.normalize(randLine())
      if (master.nonEmpty) {
        val alt = TextNorm.normalize(randLine())
        val versions = Seq(
          LineVersion("x-master", f"b$i%04d", master, 0.9),
          LineVersion("x-alt", f"b$i%04d", alt, 0.8))
        val line = MultiAlign.alignLine(versions, Span(0, master.length.toLong))
        // invariants: master line variant first, word variants index from 1
        assert(line.variants.head.text == master)
        line.words.foreach(w => assert(w.variants.head.index == 1))
        // correction never throws and preserves token count
        val ap = AlignedPage(s"https://fuzz.example/p$i", "en", Seq(line))
        val cp = graft.pipeline.Pipeline.correctPage(ap, lexDe, lexEn)
        assert(cp.lines.head.text.split(" ", -1).length ==
          master.split(" ", -1).length)
      }
    }
  }
}
