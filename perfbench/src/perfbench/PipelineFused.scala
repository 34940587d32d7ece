package perfbench

import org.apache.spark.sql.SparkSession

import graft.fixtures.PagesGen
import graft.pipeline.Pipeline

/** Row-local CPU kernels, zero shuffles, zero writes: the typed
  * `Pipeline.run` over `Pipeline.generate(spark, n, seed, 4 x cores)` rows,
  * the shape of the frozen `graft.Bench` headline.
  */
final class PipelineFused(o: Main.Opts) extends Main.Workload {
  import Main._

  val pages: Long = 6000L
  val parts: Int = 4 * o.cores

  def typedPass(spark: SparkSession): Long =
    Pipeline.run(Pipeline.generate(spark, pages, o.seed, parts)).count()

  /** The rows are generated inside each pass, as the headline does; what
    * the pipeline learns once per JVM is the correction stage's confusion
    * profile, so set-up re-learns it.
    */
  val setupRounds = 5

  def setup(spark: SparkSession, round: Int): Unit = {
    Pipeline.invalidateProfileCache()
    Pipeline.defaultProfile(spark)
  }

  /** The benchmark's own flat chain over the same rows: generate, then
    * `segmentPage` -> `alignPage` -> `correctPage` per page in one
    * `mapPartitions`, each call a task-side span when tracing is on.
    * Emits (url, text).
    */
  def flatChain(spark: SparkSession, parent: Long, counts: Option[FlatCounts]) = {
    import spark.implicits._
    val profile = Pipeline.defaultProfile(spark)
    val de = spark.sparkContext.broadcast(Pipeline.lexiconWith("de", profile))
    val en = spark.sparkContext.broadcast(Pipeline.lexiconWith("en", profile))
    val seed = o.seed
    spark.range(0L, pages, 1L, parts).mapPartitions { it =>
      it.map { i =>
        Trace.span("page", parent) {
          val row = Trace.span("gen")(PagesGen.page(i, seed).row)
          val sp = Trace.span("segment")(Pipeline.segmentPage(row))
          val ap = Trace.span("align")(Pipeline.alignPage(sp))
          val cp = Trace.span("correct")(Pipeline.correctPage(ap, de.value, en.value))
          counts.foreach(_.add(sp.blocks.size, ap.lines.size, ap.lines.map(_.words.size).sum,
            cp.lines.map(_.text.split(" ", -1).length).sum, cp.nCorrections))
          (cp.url, cp.text)
        }
      }
    }
  }

  /** Output problems: the typed output equals the generator's golden text
    * on pages [0, 500), the pages outside its deliberately garbled ranges.
    * Also reports the error rates over all pages.
    */
  def check(spark: SparkSession, r: Result): Seq[String] = {
    import spark.implicits._
    val typed = Pipeline.run(Pipeline.generate(spark, pages, o.seed, parts))
      .map(c => (c.url, c.text)).collect().toMap
    val idx = typed.keys.map(u => u.substring(u.lastIndexOf("/p") + 2).toLong -> u).toMap
    def golden(i: Long) = Pipeline.goldenText(i, o.seed) + (if (o.inject == "golden" && i == 0) "x" else "")
    val errs = idx.toSeq.map { case (i, u) => Checks.errors(typed(u), Pipeline.goldenText(i, o.seed)) }
    val cer = errs.map(_._1).sum.toDouble / errs.map(_._2).sum
    val wer = errs.map(_._3).sum.toDouble / errs.map(_._4).sum
    r.report("cer_corrected") = (cer, "ratio")
    r.report("wer_corrected") = (wer, "ratio")
    r.layers("correct.cer") = (cer, "ratio")
    r.layers("correct.wer") = (wer, "ratio")
    val badGolden = (0L until math.min(500L, pages)).filterNot(i => idx.get(i).exists(u => typed(u) == golden(i)))
    Seq(
      if (typed.size != pages) Some(s"typed output has ${typed.size} pages, expected $pages") else None,
      if (badGolden.nonEmpty) Some(s"golden parity fails on ${badGolden.size} of pages [0,500), first ${badGolden.take(5).mkString(",")}") else None
    ).flatten
  }

  def run(spark: SparkSession, r: Result): Unit = {
    // the checked pass, then untimed passes while the JIT compiles the
    // kernels: a pass keeps getting faster for several passes
    val (warmS, problems) = secs {
      val ps = r.attempt("check pass")(check(spark, r))
      (1 to PipelineFused.WarmPasses).foreach(_ => typedPass(spark))
      ps
    }
    r.layers("warmup_s") = (warmS, "s")
    r.report("warmup_s") = (warmS, "s")
    val walls = timedPasses(r, if (o.trace) 0 else o.seconds) { k =>
      r.attempt(s"typed pass $k") {
        val (t, n) = secs(typedPass(spark))
        if (n != pages) throw new IllegalStateException(s"typed pass returned $n rows, expected $pages")
        t
      }
    }
    problems match {
      case Some(ps) => r.checkFailed(ps, walls.size + 1)
      case None => r.checkFailed(Seq("no output to check"), walls.size)
    }
    val passS = median(walls)
    r.report("docs_per_s") = (pages / passS, "docs/s")
    if (o.trace) traced(spark, r, passS)
  }

  /** Per-layer split: self times from the traced flat chain (summed over
    * tasks, divided by cores), `encode_s` = typed wall minus the untraced
    * flat wall, the Spark-wide counters of a traced typed pass, and the
    * checkpointed production path's layers ([[RunCheckpointed]]).
    */
  def traced(spark: SparkSession, r: Result, typedS: Double): Unit = {
    import spark.implicits._
    // the split is only as good as the flat chain's equivalence to the typed run
    r.attempt("flat chain check") {
      val typed = Pipeline.run(Pipeline.generate(spark, pages, o.seed, parts)).map(c => (c.url, c.text)).collect().toMap
      val flat = flatChain(spark, 0L, None).collect().toMap
      r.checkFailed(if (typed == flat) Nil
        else Seq(s"flat chain differs from the typed run on ${typed.count { case (u, t) => !flat.get(u).contains(t) }} pages"), 1)
    }
    val flatS = median((0 until MinPasses).flatMap(k =>
      r.attempt(s"flat pass $k")(secs(flatChain(spark, 0L, None).count())._1)))
    val counts = new FlatCounts(spark)
    Trace.enabled = true
    val (c, _, _) = try counted(spark) {
      Trace.span("typed_pass")(typedPass(spark))
    } finally Trace.enabled = false
    Trace.enabled = true
    try Trace.span("flat_pass")(flatChain(spark, Trace.current, Some(counts)).count())
    finally Trace.enabled = false
    val spans = Trace.all
    val self = Trace.selfNs(spans)
    def wall(name: String) = spans.filter(_.name == name).map(_.durNs / 1e9).sum
    def coreS(name: String) = self.getOrElse(name, 0L) / 1e9 / o.cores
    for (l <- Seq("gen", "segment", "align", "correct")) r.layers(s"$l.self_s") = (coreS(l), "s")
    r.layers("segment.blocks") = (counts.blocks.value.toDouble, "count")
    r.layers("align.lines") = (counts.lines.value.toDouble, "count")
    r.layers("align.words") = (counts.words.value.toDouble, "count")
    r.layers("correct.tokens") = (counts.tokens.value.toDouble, "count")
    r.layers("correct.corrections") = (counts.corrections.value.toDouble, "count")
    r.layers("encode_s") = (typedS - flatS, "s")
    val flatTraced = wall("flat_pass")
    r.layers("trace.wall_s") = (flatTraced, "s")
    r.layers("trace.overhead_s") = (flatTraced - flatS, "s")
    // the task-side spans (the layers plus each page's own overhead) must
    // account for the traced wall: below 0.6 they missed work, above 1.05
    // they count some of it twice; the rest is job start and the last
    // partitions' tail
    val coverage = Seq("gen", "segment", "align", "correct", "page").map(coreS).sum / flatTraced
    r.layers("trace.coverage") = (coverage, "ratio")
    if (!(coverage >= 0.6 && coverage <= 1.05))
      r.checkFailed(Seq(f"task spans cover $coverage%.3f of the traced wall, outside [0.6, 1.05]"), 1)
    sparkLayers(r, c, wall("typed_pass"), o.cores)
    new RunCheckpointed(o).measure(spark, r)
  }
}

object PipelineFused {
  val WarmPasses = 4
}

/** Task-side counters of the flat chain's work per layer. */
final class FlatCounts(spark: SparkSession) extends Serializable {
  val blocks = spark.sparkContext.longAccumulator("blocks")
  val lines = spark.sparkContext.longAccumulator("lines")
  val words = spark.sparkContext.longAccumulator("words")
  val tokens = spark.sparkContext.longAccumulator("tokens")
  val corrections = spark.sparkContext.longAccumulator("corrections")
  def add(b: Long, l: Long, w: Long, t: Long, c: Long): Unit = {
    blocks.add(b); lines.add(l); words.add(w); tokens.add(t); corrections.add(c)
  }
}
