package graft.pipeline

import graft.core._
import graft.fixtures.PagesGen
import graft.plans.Checkpoint
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The end-to-end extraction + post-correction pipeline — the Spark
  * restatement of the reference's processor chain (SURVEY.md §3):
  *
  *   Stage A  segment   : html BINARY -> blocks (binarize+segment roles)
  *   Stage B  extract   : k candidate extractors -> per-line variants
  *                        (the nOCR=2 arity of recognize.py, config.json:8)
  *   Stage C  align     : multi-sequence alignment with TextEquiv
  *                        index/provenance rules (align/cli.py:82-172)
  *   Stage D  correct   : profiler candidates + RR rank + DM decide
  *                        (postcorrect/cli.py:31-46, config.json)
  *
  * Scale design: A–D are a single shuffle-free narrow `map` chain — each
  * page's k variants derive from the same `html` row (unlike the reference,
  * where k OCR engines are separate processes), so no union+groupBy(url) is
  * needed and the whole pipeline is one whole-stage pass over the scan.
  * The only shuffles in the engine are the final metric rollups.
  *
  * Each stage has ONE entry, taking a [[GraftConfig]] that defaults to
  * the shipped constants. The fused [[run]], the checkpointed
  * [[runCheckpointed]] and the streaming front-end all chain these same
  * stages, so they cannot disagree on a knob.
  */
object Pipeline {

  /** Candidate extractor k — the role of the k OCR engines
    * (ocropy/recognize.py:119-303). Extractor 0 is the master; extractor 1
    * is a deliberately different reading (its systematic confusions feed the
    * MatchingOCRTokens/CandidateMatchingOCRs features). `base` is the
    * extractor's confidence ceiling; per-char confidences jitter below it.
    */
  final case class Extractor(name: String, base: Double, transform: String => String)

  val extractors: Seq[Extractor] = Seq(
    Extractor("x-master", 0.9, identity),
    Extractor("x-alt", 0.8, s => s.replace("rn", "m").replace("c", "e"))
  )


  // ---- Stage A: segmentation ----

  def segmentPage(p: PageRow, cfg: GraftConfig = GraftConfig.default): SegmentedPage =
    // geometric reading order (psegutils.py:114-170 port) — the identity
    // permutation for the single-column DOM layout, the real ordering
    // path for 2-D layouts
    SegmentedPage(p.url, p.lang, ReadingOrder.sort(
      HtmlBlocks.segment(p.html, cfg.minBlockChars, cfg.maxLinkDensity)))

  def segment(pages: Dataset[PageRow],
      cfg: GraftConfig = GraftConfig.default): Dataset[SegmentedPage] = {
    import pages.sparkSession.implicits._
    pages.map(p => segmentPage(p, cfg))
  }

  /** A deliberately-overlapping segmenter variant: every block span is
    * extended by `margin` bytes into its neighbours — the overlapping
    * layouts (Tesseract / GT polygons) the reference's clip processor
    * exists to arbitrate (clip.py:69-71 "best sense for overlapping
    * segmentation"). `SpanClaims.clip` resolves the claims back to
    * disjoint spans.
    */
  def sloppySegmentPage(p: PageRow, margin: Long = 5): SegmentedPage = {
    val n = p.html.length.toLong
    val blocks = HtmlBlocks.segment(p.html).map { b =>
      b.copy(span = Span(math.max(0L, b.span.start - margin),
        math.min(n, b.span.stop + margin)))
    }
    SegmentedPage(p.url, p.lang, blocks)
  }

  // ---- Stage B+C: variants + alignment (row-local) ----

  /** One extractor's reading of one text block — the per-line version
    * both alignment paths ([[alignPage]], [[alignShuffled]]) feed the
    * aligner.
    */
  private def lineVersion(ex: Extractor, url: String, b: Block): MultiAlign.LineVersion = {
    val txt = TextNorm.normalize(ex.transform(b.text))
    val wcc = ConfSurrogate.wordCharConfs(ex.name, url, b.id, txt, ex.base)
    val wc = wcc.map(MultiAlign.confFold)
    // line conf = (min+max)/2 over word confs (recognize.py:262-265)
    MultiAlign.LineVersion(ex.name, b.id, txt, MultiAlign.confFold(wc), wc, wcc)
  }

  /** The aligner is k-extractor-generic (align/cli.py:35-38 accepts k
    * input file groups); production wires [[extractors]] (k=2), tests
    * exercise k=3 to pin the index/provenance rules at arity > 2.
    */
  def alignPage(sp: SegmentedPage, exs: Seq[Extractor] = extractors): AlignedPage = {
    val lines = sp.blocks.filter(_.kind == "text").map { b =>
      MultiAlign.alignLine(exs.map(lineVersion(_, sp.url, b)), b.span)
    }
    AlignedPage(sp.url, sp.lang, lines)
  }

  def align(seg: Dataset[SegmentedPage],
      exs: Seq[Extractor] = extractors): Dataset[AlignedPage] = {
    import seg.sparkSession.implicits._
    seg.map(sp => alignPage(sp, exs))
  }

  /** One extractor's reading of one line — the row shape of the SHUFFLE
    * alignment path below.
    */
  final case class LineReading(
      url: String, lang: String, lineId: String,
      spanStart: Long, spanStop: Long, exIdx: Int, text: String,
      lineConf: Double, wordConfs: Seq[Double], wordCharConfs: Seq[Seq[Double]])

  /** The union+groupBy alignment path (SURVEY §4.3(a)): each extractor is
    * a SEPARATE pass over the pages — the reference's reality, where k OCR
    * engines are k processes writing k file groups that the aligner joins
    * back per line (aio/aio.py:477-499 runs them sequentially;
    * align/cli.py:258-271 zips their outputs). Line readings are tagged,
    * union'ed, and grouped back into per-page version tuples on url — ONE
    * hash shuffle keyed on url, partitionable across the cluster. Use this
    * when extractors really are separate jobs; the fused [[align]] is the
    * zero-shuffle path when all k variants derive from the same row.
    */
  def alignShuffled(pages: Dataset[PageRow],
      exs: Seq[Extractor] = extractors): Dataset[AlignedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val readings = exs.zipWithIndex.map { case (ex, i) =>
      segment(pages).flatMap { sp =>
        sp.blocks.filter(_.kind == "text").map { b =>
          val v = lineVersion(ex, sp.url, b)
          LineReading(sp.url, sp.lang, b.id, b.span.start, b.span.stop, i,
            v.text, v.conf, v.wordConfs, v.wordCharConfs)
        }
      }
    }.reduce(_ union _)
    readings.groupByKey(_.url).mapGroups { (url, it) =>
      val rows = it.toSeq
      val lang = rows.head.lang
      val lines = rows.groupBy(_.lineId).toSeq.sortBy(_._1).map { case (_, rs) =>
        val sorted = rs.sortBy(_.exIdx)
        val versions = sorted.map { r =>
          MultiAlign.LineVersion(exs(r.exIdx).name, r.lineId, r.text,
            r.lineConf, r.wordConfs.toIndexedSeq, r.wordCharConfs.toIndexedSeq)
        }
        MultiAlign.alignLine(versions, Span(sorted.head.spanStart, sorted.head.spanStop))
      }
      AlignedPage(url, lang, lines)
    }
  }

  // ---- profile learning (train path) ----

  /** Ground-truth table: full golden text per url — the role of the
    * reference's GT file group (run_training_test.bash:21-31 trains on an
    * arbitrary GT-annotated workspace). Training and evaluation resolve
    * golden text by JOINING on url against a table of this shape, so any
    * GT corpus written as (url, golden) parquet plugs in; this generator
    * builds the synthetic instance for tests/fixtures.
    */
  def goldenPages(spark: SparkSession, from: Long, n: Long,
      seed: Long = 42L): Dataset[GoldenPage] = {
    import spark.implicits._
    spark.range(from, from + n).map { i =>
      val tp = PagesGen.page(i, seed)
      GoldenPage(tp.row.url, tp.trueText)
    }
  }

  /** (masterLine, goldenLine) training pairs through the ENGINE's extract
    * path: segment the training pages, take the text blocks in reading
    * order, zip positionally against the golden lines (the role of the
    * reference's GT-annotated training workspace,
    * run_training_test.bash:21-31). Golden text is resolved by an
    * equi-join on url against the GT table — pages without GT fall out of
    * the inner join (the reference likewise trains only on GT-annotated
    * pages). One shuffle keyed on url; at GT-corpus scale AQE turns it
    * into a broadcast.
    */
  def trainingPairs(pages: Dataset[PageRow],
      golden: Dataset[GoldenPage]): Dataset[(String, String)] = {
    import pages.sparkSession.implicits._
    pages.joinWith(golden, pages("url") === golden("url"), "inner")
      .flatMap { case (p, g) =>
        val masters = HtmlBlocks.segment(p.html).filter(_.kind == "text").map(_.text)
        masters.zip(g.golden.split("\n").toSeq)
      }
  }

  /** Synthetic-corpus convenience overload (tests, learnProfile default). */
  def trainingPairs(spark: SparkSession, n: Long): Dataset[(String, String)] =
    trainingPairs(generate(spark, n), goldenPages(spark, 0L, n))

  /** A learned confusion profile: the pattern list (count-desc order) plus
    * each pattern's relative channel probability (its share of all
    * observed confusions) — the numbers Profiler's channel model weights
    * candidates with.
    */
  final case class Profile(
      patterns: Seq[(String, String)],
      probs: Map[(String, String), Double])

  /** Learn the OCR confusion profile from aligned training data:
    * confusions → groupBy(left, right).count() → top-k by frequency.
    * Deterministic order (count desc, then lexicographic). The collected
    * profile is tiny (distinct confusion pairs) and is broadcast into the
    * correction stage — the loop edist.py:69-83 was built to close.
    */
  def learnProfile(spark: SparkSession, n: Long = 200,
      minCount: Long = 5, maxPatterns: Int = 10): Profile =
    learnProfile(trainingPairs(spark, n), minCount, maxPatterns)

  /** Table-driven variant: learn the profile from any (masterLine,
    * goldenLine) pair set — see [[trainingPairs]] for the GT-join shape.
    */
  def learnProfile(pairs: Dataset[(String, String)],
      minCount: Long, maxPatterns: Int): Profile = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val top = pairs
      .flatMap { case (ocr, gt) => ConfusionProfile.pairsOf(ocr, gt) }
      .toDF("pat_left", "pat_right")
      .groupBy(col("pat_left"), col("pat_right")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("pat_left"), col("pat_right"))
      .limit(maxPatterns)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toSeq
    val total = top.map(_._2).sum.max(1L).toDouble
    Profile(top.map(_._1), top.map { case (p, c) => p -> (c / total) }.toMap)
  }

  // learned once per JVM (driver side), then broadcast via the lexicons
  @volatile private var cachedProfile: Profile = null
  def defaultProfile(spark: SparkSession): Profile = {
    if (cachedProfile == null) synchronized {
      if (cachedProfile == null) cachedProfile = learnProfile(spark)
    }
    cachedProfile
  }

  /** Drop the per-JVM profile cache; the next [[defaultProfile]] call
    * re-learns. The explicit invalidation half of the reference's
    * `noCache` control (postcorrect/cli.py:34-38).
    */
  def invalidateProfileCache(): Unit = synchronized { cachedProfile = null }

  /** Profile resolution under a [[GraftConfig]]: `profileNoCache` (the
    * reference's noCache param) re-learns fresh every call with the
    * config's floor/cap, leaving the JVM cache untouched; otherwise the
    * per-JVM cache serves default-knob configs and non-default knobs
    * learn (uncached — a non-default profile must never poison the
    * default cache other entry points share).
    */
  def profileFor(spark: SparkSession, cfg: GraftConfig): Profile = {
    val defaultKnobs =
      cfg.profileMinCount == GraftConfig.default.profileMinCount &&
        cfg.profileMaxPatterns == GraftConfig.default.profileMaxPatterns
    if (!cfg.profileNoCache && defaultKnobs) defaultProfile(spark)
    else learnProfile(spark, minCount = cfg.profileMinCount,
      maxPatterns = cfg.profileMaxPatterns)
  }

  // ---- Stage D: correction ----

  /** Per-token Corrector inputs of one aligned line. */
  final case class TokenInput(tok: String, ctx: Seq[String], wordConf: Double,
      glyphConfs: Seq[Double], linePos: Double, lineOverlap: Double)

  /** THE single derivation of the per-token argument tuple every consumer
    * — production correction ([[correctPage]]), the dynamic lexicon
    * ([[dynamicLexicon]]), head evaluation ([[headEval]]) and training
    * example collection (tools.Train) — feeds to the decision chain.
    * Sharing it makes "evaluation/training replay the production control
    * flow" true by construction, not by parallel copies staying in sync.
    *
    * lineOverlap is LineOverlapWithMasterOCR: best normalized similarity
    * of a support line against the master line; ctx/conf/glyph lineage
    * come from the aligned words when available.
    */
  def tokenInputs(line: AlignedLine): IndexedSeq[TokenInput] = {
    val master = line.variants.head
    val tokens = master.text.split(" ", -1).toIndexedSeq
    val lineOverlap = line.variants.drop(1).map { v =>
      val mx = math.max(master.text.length, v.text.length).max(1)
      1.0 - Edist.levenshtein(master.text, v.text).toDouble / mx
    }.maxOption.getOrElse(1.0)
    val words = line.words.toIndexedSeq
    tokens.zipWithIndex.map { case (tok, i) =>
      val word = words.lift(i)
      TokenInput(tok,
        word.map(_.variants.drop(1).map(_.text)).getOrElse(Nil),
        word.map(_.variants.head.conf).getOrElse(master.conf),
        word.map(_.glyphConfs).getOrElse(Nil),
        if (tokens.length <= 1) 0.0 else i.toDouble / (tokens.length - 1),
        lineOverlap)
    }
  }

  def correctPage(ap: AlignedPage, lexDe: Lexicon, lexEn: Lexicon,
      runLE: Boolean = true, dynLex: Set[String] = Set.empty,
      maxCandidates: Int = Profiler.MaxCandidates): CorrectedPage = {
    val lex = if (ap.lang == "de") lexDe else lexEn
    var total = 0
    val corrected = ap.lines.map { line =>
      var n = 0
      val out = tokenInputs(line).map { ti =>
        val (fixed, changed) = Corrector.correctToken(ti.tok, ti.ctx,
          ti.wordConf, ti.glyphConfs, ti.linePos, ti.lineOverlap, lex, runLE,
          dynLex, maxCandidates)
        if (changed) n += 1
        fixed
      }
      total += n
      CorrectedLine(line.lineId, line.span, out.mkString(" "), n)
    }
    CorrectedPage(ap.url, ap.lang, corrected.map(_.text).mkString("\n"), corrected, total)
  }

  def lexiconWith(lang: String, profile: Profile): Lexicon =
    PagesGen.lexiconFor(lang).copy(
      ocrPatterns = profile.patterns, ocrPatternProb = profile.probs)

  /** The de/en lexicons under a config's learned profile, broadcast once
    * per job (the reference loads its model once per process,
    * recognize.py:94-102).
    */
  private final case class Lexicons(de: Broadcast[Lexicon], en: Broadcast[Lexicon]) {
    def of(lang: String): Lexicon = if (lang == "de") de.value else en.value
  }

  /** THE one resolve-profile-and-broadcast step: correction, the dynamic
    * lexicon and the head/book evaluations all read their lexicons
    * through it, so they cannot disagree on which profile they apply.
    */
  private def broadcastLexicons(spark: SparkSession, cfg: GraftConfig): Lexicons = {
    val profile = profileFor(spark, cfg)
    def bc(lang: String) = spark.sparkContext.broadcast(lexiconWith(lang, profile))
    Lexicons(bc("de"), bc("en"))
  }

  /** Stage D over a Dataset, with the LEARNED confusion profile — the
    * hard-coded PagesGen.ocrPatterns constants are not consumed by the
    * run path, only by the corpus generator itself. `cfg.runLE` is the
    * reference's config.json:2 gate: the trained LE model protects
    * valid-but-out-of-lexicon tokens (proper nouns) from "correction" by
    * extending the lexicon on the fly (aio/aio.py:503-537). LE here is
    * applied per token occurrence (document-local dynamic lexicon), which
    * keeps the chain shuffle-free, streaming-safe and resume-deterministic.
    *
    * With `cfg.dynamicLexicon` the stage also consumes the corpus-global
    * [[dynamicLexicon]]: the bounded (lang, token) table collects into a
    * broadcast set (≤ topN rows per language by construction — an
    * artifact, not data) and every occurrence of an accepted token is
    * protected, mirroring how the reference writes dynamiclex once and
    * profiles against it (aio/aio.py:521-528). Per-occurrence LE stays on
    * as usual for tokens below the floor/bound. That variant is
    * batch-only (a streaming corpus has no global view).
    *
    * The fused [[run]], the checkpointed [[runCheckpointed]] and the
    * streaming front-end all correct through this one stage.
    */
  def correct(aligned: Dataset[AlignedPage],
      cfg: GraftConfig = GraftConfig.default): Dataset[CorrectedPage] = {
    val spark = aligned.sparkSession
    import spark.implicits._
    val lx = broadcastLexicons(spark, cfg)
    val (in, dynLex) =
      if (!cfg.dynamicLexicon) (aligned, None)
      else {
        // two consumers of the aligned frame: the lexicon aggregation (an
        // action, below) and the returned correction map. Without a
        // persist the second pass would re-run the whole segment+align
        // lineage from the source scan — the most expensive pass in the
        // pipeline, doubled. The cache lives until the caller's terminal
        // action; callers that hold the input reference can unpersist it
        // afterwards.
        val al = aligned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dyn = boundedDynamicLexicon(al, lx, cfg)
          .collect() // bounded by construction, see dynamicLexicon
          .groupBy(_.getString(0))
          .map { case (l, rows) => l -> rows.map(_.getString(1)).toSet }
        (al, Some(spark.sparkContext.broadcast(dyn)))
      }
    in.map { ap =>
      correctPage(ap, lx.de.value, lx.en.value, cfg.runLE,
        dynLex.fold(Set.empty[String])(_.value.getOrElse(ap.lang, Set.empty)),
        cfg.maxCandidates)
    }
  }

  /** Corpus-global dynamic lexicon (the reference's dynamiclex artifact,
    * aio/aio.py:521-528): OOV tokens the LE model accepts anywhere in the
    * corpus, aggregated per language with occurrence counts, BOUNDED
    * inside the aggregation — a frequency floor (`cfg.dynLexMinCount`)
    * plus top-N per language (`cfg.dynLexTopN`; count desc, token asc
    * tie-break) — and returned as a TABLE (lang, token, cnt). The
    * accepted vocabulary of a web-scale crawl is unbounded (every proper
    * noun on the web lands here), so the bound is what makes the artifact
    * collectable/broadcastable at 100 TB: the output is at most `topN`
    * rows per language BY CONSTRUCTION, not by corpus luck. Batch-only (a
    * streaming corpus has no global view).
    */
  def dynamicLexicon(aligned: Dataset[AlignedPage],
      cfg: GraftConfig = GraftConfig.default): DataFrame =
    boundedDynamicLexicon(aligned, broadcastLexicons(aligned.sparkSession, cfg), cfg)

  private def boundedDynamicLexicon(aligned: Dataset[AlignedPage], lx: Lexicons,
      cfg: GraftConfig): DataFrame = {
    val spark = aligned.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val accepted = aligned.flatMap { ap =>
      val lex = lx.of(ap.lang)
      ap.lines.flatMap { line =>
        tokenInputs(line).flatMap { ti =>
          Corrector.contextOf(ti.tok, ti.ctx, ti.wordConf, ti.glyphConfs,
            ti.linePos, ti.lineOverlap)
            .filter(t => !lex.contains(t.token) &&
              Corrector.leScore(t, Profiler.candidates(t.token, lex), lex) > 0.5)
            .map(t => (ap.lang, t.token))
        }
      }
    }.toDF("lang", "token")
    // one partial-aggregating shuffle on (lang, token); the rank window
    // rides the same hash partitioning (lang ⊂ (lang, token))
    accepted.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= cfg.dynLexMinCount)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("token").asc)))
      .filter(col("rn") <= cfg.dynLexTopN)
      .select(col("lang"), col("token"), col("cnt"))
  }

  /** Full pipeline: one narrow map chain (zero shuffles unless
    * `cfg.dynamicLexicon` adds its bounded aggregation). Every processor
    * knob — extractor list, segmentation thresholds, profile learning
    * floor/cap/noCache, maxCandidates, runLE, the dynamic lexicon — flows
    * from the config.
    */
  def run(pages: Dataset[PageRow],
      cfg: GraftConfig = GraftConfig.default): Dataset[CorrectedPage] =
    correct(align(segment(pages, cfg), cfg.extractors), cfg)

  /** Generate the synthetic corpus as a distributed Dataset (each row is a
    * pure function of its index — no driver-side materialization).
    */
  def generate(spark: SparkSession, n: Long, seed: Long = 42L, partitions: Int = 0): Dataset[PageRow] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    spark.range(0L, n, 1L, parts).map(i => PagesGen.page(i, seed).row)
  }

  /** Golden truth for a generated corpus (test/metric side). */
  def goldenText(i: Long, seed: Long = 42L): String = PagesGen.page(i, seed).trueText

  /** EvalDLE/EvalRRDM analog (aio/aio.py:17-19,514-537;
    * run_training_test.bash:49-63): per-head outcome counts over a
    * held-out page set, the evaluation report the reference produces by
    * running its eval tools over profiled files. Golden text is resolved
    * by JOINING the aligned pages against an explicit (url, golden) GT
    * table — any GT corpus plugs in, not just the synthetic generator.
    * Every token is routed through
    * [[graft.core.Corrector.classifyToken]] — the SAME
    * control flow production correction uses — and its outcome is scored
    * against the positional golden token:
    *
    *  - corrector/tokens_total, corrupted: corpus facts
    *  - corrector/missed: corrupted tokens no head fixed
    *  - corrector/false_corrections: clean tokens a head rewrote
    *  - dle/false_extensions: corrupted tokens the LE head protected
    *  - rrdm/accepted_right|accepted_wrong: DM-accepted top candidates
    *    that match / miss the truth
    *  - rrdm/false_vetoes: corrupted tokens the DM refused to fix
    *
    * Distributed: one narrow flatMap over aligned pages, one tiny
    * groupBy on a 6-value key — the collect is report-sized, not
    * data-sized.
    */
  def headEval(spark: SparkSession, pages: Dataset[PageRow],
      golden: Dataset[GoldenPage]): DataFrame = {
    import spark.implicits._
    val lx = broadcastLexicons(spark, GraftConfig.default)
    val aligned = align(segment(pages))
    val outcomes = aligned
      .joinWith(golden, aligned("url") === golden("url"), "inner")
      .flatMap { case (ap, g) =>
      val lex = lx.of(ap.lang)
      ap.lines.zip(g.golden.split("\n").toSeq).flatMap { case (line, gLine) =>
        val gTokens = gLine.split(" ", -1).toIndexedSeq
        tokenInputs(line).zipWithIndex.map { case (ti, k) =>
          val (applied, outcome) = Corrector.classifyToken(ti.tok, ti.ctx,
            ti.wordConf, ti.glyphConfs, ti.linePos, ti.lineOverlap,
            lex, runLE = true)
          val truth = gTokens.lift(k).getOrElse("")
          (outcome, ti.tok == truth, applied == truth)
        }
      }
    }.toDF("outcome", "clean", "fixed")
      .groupBy("outcome", "clean", "fixed").count().collect()
    def cnt(p: (String, Boolean, Boolean) => Boolean): Long =
      outcomes.filter(r => p(r.getString(0), r.getBoolean(1), r.getBoolean(2)))
        .map(_.getLong(3)).sum
    val rows = Seq(
      ("corrector", "corrupted", cnt((_, clean, _) => !clean)),
      ("corrector", "false_corrections",
        cnt((o, clean, _) => clean && o == "dm_accepted")),
      ("corrector", "missed", cnt((o, clean, _) => !clean && o != "dm_accepted")),
      ("corrector", "tokens_total", outcomes.map(_.getLong(3)).sum),
      ("dle", "false_extensions", cnt((o, clean, _) => o == "le_extended" && !clean)),
      ("rrdm", "accepted_right", cnt((o, _, fixed) => o == "dm_accepted" && fixed)),
      ("rrdm", "accepted_wrong", cnt((o, _, fixed) => o == "dm_accepted" && !fixed)),
      ("rrdm", "false_vetoes", cnt((o, clean, _) => o == "dm_vetoed" && !clean)))
    spark.createDataFrame(rows).toDF("head", "metric", "n")
      .orderBy("head", "metric")
  }

  /** Synthetic-corpus overload: evaluate on held-out pages [from, from+n)
    * with generator-derived GT (kept as the q47 fixture contract; the
    * table-driven overload above is the production entry point).
    */
  def headEval(spark: SparkSession, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    headEval(spark,
      spark.range(from, from + n).map(i => PagesGen.page(i).row),
      goldenPages(spark, from, n))
  }

  /** Per-book improvement/deterioration report (div/eval.py:96-321 role:
    * per-book accuracy with a total rollup). Every page's master
    * extraction and its corrected text are scored against golden by a
    * CER-style token distance — the sum over positional word pairs of
    * case-folded levenshtein (capitalization is presentation; correction
    * quality is measured on the folded cores the decision chain actually
    * judges) — and the page lands in an improved / worsened / unchanged
    * bucket by the sign of (corrected − master). Output: one row per book
    * (url host, the synthetic analog of the reference's per-book GT
    * directories) plus the `__total` rollup row.
    *
    * Correction is replayed through [[graft.core.Corrector.classifyToken]]
    * — the production control flow — inside the same narrow flatMap that
    * scores it; the only shuffles are the url equi-join against the GT
    * table and the book-level rollup of an already-page-sized frame.
    */
  def bookEval(spark: SparkSession, pages: Dataset[PageRow],
      golden: Dataset[GoldenPage]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lx = broadcastLexicons(spark, GraftConfig.default)
    val aligned = align(segment(pages))
    val perPage = aligned
      .joinWith(golden, aligned("url") === golden("url"), "inner")
      .map { case (ap, g) =>
        val lex = lx.of(ap.lang)
        var master = 0L; var corrected = 0L
        ap.lines.zip(g.golden.split("\n").toSeq).foreach { case (line, gLine) =>
          val gTokens = gLine.split(" ", -1).toIndexedSeq
          tokenInputs(line).zipWithIndex.foreach { case (ti, k) =>
            val truth = gTokens.lift(k).getOrElse("").toLowerCase
            val (applied, _) = Corrector.classifyToken(ti.tok, ti.ctx,
              ti.wordConf, ti.glyphConfs, ti.linePos, ti.lineOverlap,
              lex, runLE = true)
            master += Edist.levenshtein(truth, ti.tok.toLowerCase)
            corrected += Edist.levenshtein(truth, applied.toLowerCase)
          }
        }
        val book = ap.url.stripPrefix("https://").takeWhile(_ != '.')
        (book, ap.url, master, corrected)
      }.toDF("book", "url", "master_dist", "corrected_dist")
    perPage.rollup(col("book")).agg(
        count(lit(1)).cast("long").as("n_pages"),
        sum(when(col("corrected_dist") < col("master_dist"), 1L).otherwise(0L))
          .cast("long").as("improved"),
        sum(when(col("corrected_dist") > col("master_dist"), 1L).otherwise(0L))
          .cast("long").as("worsened"),
        sum(when(col("corrected_dist") === col("master_dist"), 1L).otherwise(0L))
          .cast("long").as("unchanged"),
        sum(col("master_dist")).cast("long").as("master_dist"),
        sum(col("corrected_dist")).cast("long").as("corrected_dist"))
      .withColumn("book", coalesce(col("book"), lit("__total")))
      .orderBy(col("book"))
  }

  /** Synthetic-corpus overload (the q54 fixture contract). */
  def bookEval(spark: SparkSession, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    bookEval(spark,
      spark.range(from, from + n).map(i => PagesGen.page(i).row),
      goldenPages(spark, from, n))
  }

  /** The checkpointed pipeline: table-per-stage (the reference's file-group
    * model, SURVEY §1.2) with per-bucket resume ledgers — the north-star
    * execution mode. Each stage commits hash-buckets independently via
    * [[graft.plans.Checkpoint.runStage]]; a rerun after any crash skips
    * completed buckets per stage and reproduces identical bytes.
    *
    * The shuffle-free [[run]] is the throughput path; this one trades one
    * write+read barrier per stage for stage-granular resume + lineage, the
    * same trade the reference makes with its METS file groups
    * (aio/aio.py:269-298 skip-if-output-exists).
    *
    * `pages` is any PageRow-schema table — the spark-submit surface
    * ([[graft.Run]]) feeds any (url, warc_ts, html, text, lang) parquet
    * through here. Every processor knob flows from `cfg` (Run parses its
    * `--key=value` flags into one), and each stage calls the same
    * Dataset stage the fused [[run]] chains, so the two paths produce
    * the same pages. Returns the final table plus the per-stage
    * [[graft.plans.Checkpoint.StageResult]]s in execution order, so
    * callers can report processed-vs-skipped buckets per stage without
    * re-reading ledgers or hardcoding the stage list. Stage closures
    * resolve their resources lazily — a fully-resumed run (all ledgers
    * complete) never pays the profile learn nor the near-dup labels,
    * because [[graft.plans.Checkpoint.runStage]] only invokes the
    * transform when buckets are pending. The commit protocol (bucket hash,
    * ledger, committed-once labels) lives in [[graft.plans.Checkpoint]];
    * this method makes no file-system call of its own.
    */
  def runCheckpointed(
      spark: SparkSession,
      root: String,
      pages: DataFrame,
      buckets: Int,
      cfg: GraftConfig = GraftConfig.default
  ): (DataFrame, Seq[(String, Checkpoint.StageResult)]) = {
    import spark.implicits._

    require(!cfg.nearDup || cfg.dedup,
      "nearDup requires dedup: the near-dup stage pairs over the " +
        "exact-dedup survivors (a >128-strong identical-text group " +
        "saturates its band keys and evades the hot-band guard when the " +
        "exact layer is missing) — pass --dedup=true as well")
    // refuse a resume under a different config: committed buckets hold
    // the OLD config's output, pending ones would get the NEW one's —
    // per-bucket mixed output with no error is the silent-duplication
    // failure class the nBuckets pin already guards one level down
    Checkpoint.pinRunConfig(spark, root, cfg.canonical)
    val seg = Checkpoint.runStage(spark, "segment", root, pages, "url", buckets) { df =>
      segment(df.as[PageRow], cfg).toDF()
    }
    val aligned = Checkpoint.runStage(spark, "align", root,
      seg.output.drop("p_bucket"), "url", buckets) { df =>
      align(df.as[SegmentedPage], cfg.extractors).toDF()
    }
    val corrected = Checkpoint.runStage(spark, "correct", root,
      aligned.output.drop("p_bucket"), "url", buckets) { df =>
      // under cfg.dynamicLexicon the dynamiclex aggregation runs over the
      // stage's pending pages (one extra bounded job inside the stage)
      correct(df.as[AlignedPage], cfg).toDF()
    }
    val base = Seq("segment" -> seg, "align" -> aligned, "correct" -> corrected)
    if (!cfg.dedup)
      (corrected.output.drop("p_bucket"), base)
    else {
      // exact-dedup stage, keyed on the FINGERPRINT (not url): every
      // duplicate group hashes wholly into one bucket, so the keeper
      // decision is bucket-local and a resumed run reproduces a clean
      // run's bytes even when only some buckets are pending — the same
      // invariant url-keyed stages get for free, preserved here for the
      // one stage whose semantics are corpus-global. The fingerprint is
      // the BUCKETING/candidate key only; the dedup predicate is text
      // EQUALITY (the window partitions on (fp_key, text)), so a
      // multiset-fingerprint collision — e.g. two docs whose texts are
      // token permutations — is never flagged as a duplicate. Keeper =
      // row_number 1 by url, so byte-identical rows crawled twice
      // produce exactly one keeper instead of two self-keepers. Rows are
      // FLAGGED (keep/dup_of lineage), never dropped: a checkpointed
      // stage that filtered would conflate "row deduped away" with "row
      // never processed" on resume.
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val withFp = graft.operators.Dedup
        .fingerprintLanes(corrected.output.drop("p_bucket"))
        .withColumn("fp_key", concat_ws(":", col("fp1"), col("fp2")))
        .drop("fp1", "fp2")
      val dedup = Checkpoint.runStage(spark, "dedup", root, withFp,
        "fp_key", buckets) { df =>
        val w = Window.partitionBy(col("fp_key"), col("text")).orderBy(col("url"))
        df.withColumn("keep", row_number().over(w) === 1)
          .withColumn("dup_of",
            when(col("keep"), lit(null).cast("string"))
              .otherwise(first(col("url")).over(w)))
      }
      val dedupOut = dedup.output.drop("p_bucket", "fp_key")
      val withDedup = base :+ ("dedup" -> dedup)
      if (!cfg.nearDup)
        (dedupOut, withDedup)
      else {
        // near-dup stage = the production q51 composition (band pairs ->
        // CC -> min-url representative) over the exact-dedup SURVIVORS,
        // split into two phases because the keeper decision is corpus-
        // GLOBAL — no bucketing key can confine a similarity component
        // the way the fingerprint confines an exact-dup group:
        //   1. a LABELS ARTIFACT (root/neardup/_labels) computed from the
        //      complete committed dedup table and committed once
        //      (Checkpoint.once), so a crash mid-write recomputes from the
        //      same (complete, deterministic) input and a resume after
        //      commit reuses the bytes without re-running CC;
        //   2. a bucket-local resumable FLAG stage (url-keyed) that
        //      left-joins the labels — partial resume reproduces clean
        //      bytes because every pending bucket joins the SAME
        //      committed labels. The labels are read (or computed) inside
        //      the flag stage's transform, which runs only when one of its
        //      buckets is pending: a complete stage never needs them.
        // Rows are flagged (nd_keep/nd_dup_of), never dropped, matching
        // the exact-dedup lineage contract; nd_keep means "survives BOTH
        // gates" so downstream filters on one column.
        val nd = Checkpoint.runStage(spark, "neardup", root, dedupOut,
          "url", buckets) { df =>
          val lbl = Checkpoint.once(spark, s"$root/neardup/_labels") {
            val survivors = dedupOut.filter(col("keep"))
              .select(col("url"), col("text"))
            cfg.nearDupStrategy match {
              case "semdedup" =>
                graft.operators.Dedup.semDedupLabels(survivors, cfg.nearDupTau,
                  cellCap = cfg.nearDupDfGuard)
              case "minhash" =>
                graft.operators.Dedup.nearDupLabels(survivors, cfg.nearDupDfGuard)
              // GraftConfig validates the strategy set; a strategy added
              // there but not here must fail LOUDLY, not silently run
              // minhash under a pin claiming the new strategy
              case other => sys.error(s"unhandled nearDupStrategy '$other'")
            }
          }
          df.join(lbl, Seq("url"), "left")
            .withColumn("nd_keep", col("keep") && col("nd_dup_of").isNull)
        }
        (nd.output.drop("p_bucket"), withDedup :+ ("neardup" -> nd))
      }
    }
  }
}
