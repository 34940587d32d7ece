package graft.tools

import graft.core._
import graft.fixtures.PagesGen
import graft.pipeline.Pipeline
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Trains the LE / RR / DM logistic heads on a GT corpus — the
  * re-expression of the reference's training path
  * (run_training_test.bash:49-63: `ocrd-cis-train` fits the Weka models
  * and asserts model.zip exists; aio/aio.py:503-537 for the LE→RR/DM
  * order). Writes the classpath model resource `graft/model.txt`.
  *
  * Labeled examples come from the ENGINE's own extract+align path zipped
  * against golden lines; labels are word-parallel truth comparisons.
  * Heads are fit in the reference's dependency order: RR first (candidate
  * ranking), then DM (its features read RR scores), LE independently
  * (profiler-order features).
  *
  * SCALE: the fit is DISTRIBUTED end to end — the reference trains on
  * whatever GT corpus the workspace holds (run_training_test.bash:49-58),
  * and a real GT corpus does not fit on the driver. Token examples stay a
  * Dataset; each full-batch gradient epoch is one `mapPartitions` +
  * commutative reduce over the cached example RDD, and only the d-element
  * gradient vector (d ≤ 23) ever reaches the driver. Determinism comes
  * from FIXED-POINT accumulation (the integer-cents trick generalized):
  * every per-example gradient term is quantized to a long at 2^-28
  * resolution before summation, and long addition is exactly commutative
  * and associative — so shuffle arrival order, partition count and AQE
  * coalescing cannot perturb the sum, and the fitted weights (hence
  * model.txt) are byte-reproducible across runs and cluster layouts.
  * TrainSpec asserts both properties (bit-equal fits across partition
  * counts; no task ever ships more than a gradient to the driver).
  *
  * Usage: runMain graft.tools.Train [outPath] [nTrain] [nValidate]
  */
object Train {

  final case class Fit(w: Array[Double], bias: Double)

  /** Fixed-point quantization scale for distributed gradient sums. 2^-28
    * absolute resolution per term; |term| is O(err·z) ≤ ~400 even with
    * 8x-upweighted examples, so a single term is ≤ ~2^37·2^28 ≈ 1.1e11
    * and `Math.addExact` has headroom for ~8e7 examples per fit before
    * overflowing loudly (never silently).
    */
  private val Scale = (1L << 28).toDouble
  private def quant(v: Double): Long = math.rint(v * Scale).toLong

  /** One distributed fixed-point summation job: `term` quantizes each of
    * its row's contributions into the shared per-partition accumulator
    * via `add(slot, value)`; partials merge with exact long addition.
    */
  private def sumPartitions(data: RDD[(Array[Double], Double, Double)],
      width: Int)(term: ((Array[Double], Double, Double), (Int, Double) => Unit) => Unit): Array[Double] = {
    val acc = data.mapPartitions { it =>
      val a = new Array[Long](width)
      val add = (k: Int, v: Double) => a(k) = Math.addExact(a(k), quant(v))
      it.foreach(row => term(row, add))
      Iterator.single(a)
    }.reduce { (x, y) =>
      Array.tabulate(width)(k => Math.addExact(x(k), y(k)))
    }
    acc.map(_ / Scale)
  }

  /** Deterministic DISTRIBUTED full-batch logistic regression with
    * internal standardization; returns weights in RAW feature space.
    * `data` rows are (features, label, exampleWeight) and MUST be cached
    * by the caller (the epoch loop re-reads them `epochs` times).
    * Exactly mirrors [[fitLogistic]]'s per-example arithmetic; the only
    * difference is the 2^-28 quantization of each summed term, which
    * buys order-independence (see object doc).
    */
  def fitLogisticRdd(data: RDD[(Array[Double], Double, Double)], d: Int,
      epochs: Int = 4000, lr: Double = 0.5, l2: Double = 1e-6): Fit = {
    // pass 1: per-feature sums + weight sum + count
    val s1 = sumPartitions(data, d + 2) { case ((x, _, wt), add) =>
      var j = 0
      while (j < d) { add(j, x(j)); j += 1 }
      add(d, wt)
      add(d + 1, 1.0)
    }
    val n = math.rint(s1(d + 1)).toLong
    require(n > 0, "no training examples")
    val wSum = s1(d)
    val mean = Array.tabulate(d)(j => s1(j) / n)
    // pass 2: centered second moments
    val s2 = sumPartitions(data, d) { case ((x, _, _), add) =>
      var j = 0
      while (j < d) { val v = x(j) - mean(j); add(j, v * v); j += 1 }
    }
    val std = Array.tabulate(d) { j =>
      val s = math.sqrt(s2(j) / n); if (s < 1e-12) 1.0 else s
    }

    val w = new Array[Double](d); var b = 0.0
    var e = 0
    while (e < epochs) {
      val w0 = w.clone(); val b0 = b
      val g = sumPartitions(data, d + 1) { case ((x, y, wt), add) =>
        var s = b0; var k = 0
        while (k < d) { s += w0(k) * (x(k) - mean(k)) / std(k); k += 1 }
        val err = wt * (1.0 / (1.0 + math.exp(-s)) - y)
        k = 0
        while (k < d) { add(k, err * (x(k) - mean(k)) / std(k)); k += 1 }
        add(d, err)
      }
      var k = 0
      while (k < d) { w(k) -= lr * (g(k) / wSum + l2 * w(k)); k += 1 }
      b -= lr * g(d) / wSum
      e += 1
    }
    // unfold standardization: s = b + sum w_k (x_k - mean_k)/std_k
    val raw = Array.tabulate(d)(k => w(k) / std(k))
    val rawB = b - (0 until d).map(k => w(k) * mean(k) / std(k)).sum
    Fit(raw, rawB)
  }

  /** Epoch jobs are scheduling-latency-bound, not compute-bound, on small
    * corpora: 4000 one-job epochs with 32 near-empty tasks each is ~25 ms
    * of DAGScheduler round-trip per epoch. Wrap the cached example RDD so
    * each epoch reads the cached parent blocks through ~1 task per 20k
    * examples (capped at the parent's own width — a GT-corpus-scale fit
    * keeps its full parallelism). Pure repartitioning: the fixed-point
    * sums are partition-layout-independent, so this cannot change the
    * fitted bits — TrainSpec asserts exactly that.
    */
  private def rightSized(data: RDD[(Array[Double], Double, Double)],
      n: Long): RDD[(Array[Double], Double, Double)] = {
    val p = math.min(data.getNumPartitions.toLong, math.max(1L, n / 20000L)).toInt
    if (p < data.getNumPartitions) data.coalesce(p) else data
  }

  /** Driver-array reference kernel (property tests; the distributed fit
    * must agree with it up to quantization). Deterministic for a fixed
    * input ORDER; [[fitLogisticRdd]] is deterministic unconditionally.
    */
  def fitLogistic(xs: Array[Array[Double]], ys: Array[Double],
      epochs: Int = 4000, lr: Double = 0.5, l2: Double = 1e-6,
      weights: Array[Double] = null): Fit = {
    val n = xs.length
    require(n > 0, "no training examples")
    require(weights == null || weights.length == n,
      s"weights.length=${weights.length} != examples=$n — a mismatched " +
        "weight vector would corrupt every gradient step")
    val wt = if (weights == null) Array.fill(n)(1.0) else weights
    val wSum = wt.sum
    val d = xs(0).length
    // standardize
    val mean = new Array[Double](d); val std = new Array[Double](d)
    var i = 0
    while (i < n) { var j = 0; while (j < d) { mean(j) += xs(i)(j); j += 1 }; i += 1 }
    var j = 0
    while (j < d) { mean(j) /= n; j += 1 }
    i = 0
    while (i < n) {
      var k = 0
      while (k < d) { val v = xs(i)(k) - mean(k); std(k) += v * v; k += 1 }
      i += 1
    }
    j = 0
    while (j < d) { std(j) = math.sqrt(std(j) / n); if (std(j) < 1e-12) std(j) = 1.0; j += 1 }
    val z = Array.tabulate(n, d)((i, j) => (xs(i)(j) - mean(j)) / std(j))

    val w = new Array[Double](d); var b = 0.0
    var e = 0
    while (e < epochs) {
      val gw = new Array[Double](d); var gb = 0.0
      i = 0
      while (i < n) {
        var s = b; var k = 0
        while (k < d) { s += w(k) * z(i)(k); k += 1 }
        val err = wt(i) * (1.0 / (1.0 + math.exp(-s)) - ys(i))
        k = 0
        while (k < d) { gw(k) += err * z(i)(k); k += 1 }
        gb += err
        i += 1
      }
      var k = 0
      while (k < d) { w(k) -= lr * (gw(k) / wSum + l2 * w(k)); k += 1 }
      b -= lr * gb / wSum
      e += 1
    }
    val raw = Array.tabulate(d)(k => w(k) / std(k))
    val rawB = b - (0 until d).map(k => w(k) * mean(k) / std(k)).sum
    Fit(raw, rawB)
  }

  /** One labeled token occurrence routed through the engine. */
  final case class TokenEx(
      ctx: Corrector.TokenCtx, truth: String, lang: String)

  /** All labeled token contexts of the training corpus, via
    * segment → align zipped against golden lines — a Dataset, never a
    * driver array: example volume is GT-corpus-sized. No sort is needed:
    * every consumer accumulates with order-independent fixed-point sums.
    */
  def tokenExamples(pages: Dataset[PageRow],
      golden: Dataset[GoldenPage]): Dataset[TokenEx] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val aligned = Pipeline.align(Pipeline.segment(pages))
    // golden text arrives by equi-join on url (any (url, golden) GT table
    // plugs in), never by parsing the synthetic url shape
    aligned.joinWith(golden, aligned("url") === golden("url"), "inner")
      .flatMap { case (ap, g) =>
        ap.lines.zip(g.golden.split("\n").toSeq).flatMap { case (line, gLine) =>
          val gTokens = gLine.split(" ", -1).toIndexedSeq
          // the per-token argument tuple comes from the SAME derivation the
          // production corrector uses (Pipeline.tokenInputs)
          Pipeline.tokenInputs(line).zipWithIndex.flatMap { case (ti, k) =>
            val truth = gTokens.lift(k).getOrElse("")
              .dropWhile(!_.isLetterOrDigit).reverse.dropWhile(!_.isLetterOrDigit)
              .reverse.toLowerCase
            Corrector.contextOf(ti.tok, ti.ctx, ti.wordConf, ti.glyphConfs,
              ti.linePos, ti.lineOverlap)
              .map(t => TokenEx(t, truth, ap.lang))
          }
        }
      }
  }

  def train(spark: SparkSession, n: Long, epochs: Int = 4000): TrainedModel =
    train(spark, Pipeline.generate(spark, n), Pipeline.goldenPages(spark, 0L, n), epochs)

  def train(spark: SparkSession, pages: Dataset[PageRow],
      golden: Dataset[GoldenPage]): TrainedModel = train(spark, pages, golden, 4000)

  /** `epochs` scales fit cost (one distributed gradient job per epoch);
    * 4000 is the shipped-model setting, tests pass fewer.
    */
  def train(spark: SparkSession, pages: Dataset[PageRow],
      golden: Dataset[GoldenPage], epochs: Int): TrainedModel = {
    val sc = spark.sparkContext
    val profile = Pipeline.learnProfile(
      Pipeline.trainingPairs(pages, golden), minCount = 5, maxPatterns = 10)
    val lexs = Map(
      "de" -> Pipeline.lexiconWith("de", profile),
      "en" -> Pipeline.lexiconWith("en", profile))
    val bLexs = sc.broadcast(lexs)

    // the example corpus is read once per head-build plus `epochs` times
    // per fit — cache it (and the derived per-head feature rows) rather
    // than re-running segment+align every epoch
    val exs = tokenExamples(pages, golden).rdd
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- RR: per (token, candidate), label = candidate IS the truth ----
    val rrData = exs.flatMap { ex =>
      val lex = bLexs.value(ex.lang)
      Profiler.candidates(ex.ctx.token, lex).map { c =>
        (Corrector.rrFeatures(ex.ctx, c, lex),
          if (c.suggestion == ex.truth) 1.0 else 0.0, 1.0)
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    // ---- LE: per OOV token, label = token IS the truth (valid word) ----
    val leData = exs.flatMap { ex =>
      val lex = bLexs.value(ex.lang)
      if (!lex.contains(ex.ctx.token)) {
        val cands = Profiler.candidates(ex.ctx.token, lex)
        Iterator.single((Corrector.leFeatures(ex.ctx, cands, lex),
          if (ex.ctx.token == ex.truth) 1.0 else 0.0, 1.0))
      } else Iterator.empty
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val nRr = rrData.count(); val nLe = leData.count()
    val rr = fitLogisticRdd(rightSized(rrData, nRr), 23, epochs)
    val le = fitLogisticRdd(rightSized(leData, nLe), 15, epochs)
    rrData.unpersist(); leData.unpersist()

    // ---- DM: features read the TRAINED RR scores (reference order).
    // Examples come from ALL OOV tokens whose top-ranked candidate differs
    // from the token — NOT just LE-rejected ones. Restricting to the
    // LE-rejected set (as round 2 did) starves the fit of negatives: on
    // this corpus nearly every LE-rejected top candidate IS the truth, so
    // the logistic collapsed to a constant-accept (weights ~1e-13, bias
    // 7.6) and the DM veto was dead code. LE-accepted tokens are valid
    // words the ranker would still "correct" — exactly the wrong-top-
    // candidate negatives the DM must learn to veto on realistic data. ----
    val rrW = rr.w; val rrB = rr.bias
    // rows: (dmFeatures, label)
    val dmRows = exs.flatMap { ex =>
      val lex = bLexs.value(ex.lang)
      if (!lex.contains(ex.ctx.token)) {
        val cands = Profiler.candidates(ex.ctx.token, lex)
        val ranked = cands.map(c => (c,
            Corrector.sigmoid(Corrector.dot(Corrector.rrFeatures(ex.ctx, c, lex), rrW, rrB))))
          .sortBy { case (c, s) => (-s, c.suggestion) }
          .zipWithIndex.map { case ((c, s), k) => Corrector.Ranked(c, s, k + 1) }
        if (ranked.nonEmpty && ranked.head.candidate.suggestion != ex.ctx.token) {
          val y = if (ranked.head.candidate.suggestion == ex.truth &&
            ex.ctx.token != ex.truth) 1.0 else 0.0
          Iterator.single((Corrector.dmFeatures(ranked), y))
        } else Iterator.empty
      } else Iterator.empty
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val nDmPos = dmRows.filter(_._2 == 1.0).count()
    val nDm = dmRows.count()
    require(nDmPos > 0 && nDmPos < nDm,
      s"degenerate DM training set: $nDmPos positives / $nDm examples — a " +
        "one-class fit collapses to a constant and the decision-maker " +
        "veto becomes dead code")
    // positives are upweighted (a false VETO silently re-breaks a token the
    // ranker had fixed — the worst failure mode), then the bias is
    // calibrated so the weakest training positive scores 0.70: every true
    // correction clears the 0.5 veto threshold with logit-space headroom
    // for held-out tokens, while the negatives the boundary already
    // separates stay vetoed. The classes are NOT linearly separable in the
    // 3 DM features (verified by perceptron), so without the calibration
    // any usable fit trades false vetoes against dead-code constancy.
    def logit(p: Double): Double = math.log(p / (1.0 - p))
    val dmData = dmRows.map { case (x, y) => (x, y, if (y == 1.0) 8.0 else 1.0) }
    val dm0 = fitLogisticRdd(rightSized(dmData, nDm), 3, epochs)
    // clamp away from 1.0: a fully-saturated weakest positive would give
    // logit = +inf and poison the bias shift. min is exactly commutative —
    // no fixed-point needed for a distributed minimum.
    val dm0W = dm0.w; val dm0B = dm0.bias
    val posMin = dmRows.filter(_._2 == 1.0)
      .map { case (x, _) => Corrector.sigmoid(Corrector.dot(x, dm0W, dm0B)) }
      .reduce(math.min).min(1.0 - 1e-12)
    val dm = dm0.copy(bias = dm0.bias + (logit(0.70) - logit(posMin)))
    // the calibrated head must be loss-free on true corrections AND still
    // discriminate: a constant fit means the veto never (or always) fires
    val dmW = dm.w; val dmB = dm.bias; val thr = Corrector.dmThreshold
    val falseVetoes = dmRows.filter { case (x, y) =>
      y == 1.0 && Corrector.sigmoid(Corrector.dot(x, dmW, dmB)) <= thr
    }.count()
    require(falseVetoes == 0, s"$falseVetoes true corrections vetoed after calibration")
    val liveVetoes = dmRows.filter { case (x, y) =>
      y == 0.0 && Corrector.sigmoid(Corrector.dot(x, dmW, dmB)) <= thr
    }.count()
    require(liveVetoes > 0,
      "DM predictions are constant-accept — the veto is dead code")
    dmRows.unpersist()
    exs.unpersist()

    println(s"[train] rr=$nRr examples, le=$nLe, " +
      s"dm=$nDm ($nDmPos pos / ${nDm - nDmPos} neg, " +
      s"$liveVetoes live vetoes, 0 false vetoes after calibration)")
    TrainedModel(rr.w, rr.bias, dm.w, dm.bias, le.w, le.bias)
  }

  /** Validate: corrected output must be byte-identical to golden on the
    * held-out range [from, to). Returns mismatching urls.
    */
  def validate(spark: SparkSession, from: Long, to: Long): Seq[String] = {
    import spark.implicits._
    val out = Pipeline.run(
      spark.range(from, to).map(i => PagesGen.page(i).row))
      .map(c => (c.url, c.text)).collect().toMap
    (from until to).flatMap { i =>
      val tp = PagesGen.page(i)
      if (out(tp.row.url) != tp.trueText) Some(tp.row.url) else None
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("src/main/resources/graft/model.txt")
    val nTrain = args.lift(1).map(_.toLong).getOrElse(300L)
    val nVal = args.lift(2).map(_.toLong).getOrElse(200L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.SparkBoot.session(cpus)

    // Train against a golden table that ROUND-TRIPS through parquet: the
    // synthetic GT is written as a (url, golden) table and read back, so
    // the training path provably consumes the same artifact shape a real
    // GT corpus would be delivered in (run_training_test.bash:21-31 — the
    // reference trains on an arbitrary GT file group). To train on a REAL
    // corpus, set BOTH GRAFT_PAGES_PARQUET (PageRow-schema pages) and
    // GRAFT_GOLDEN_PARQUET ((url, golden) GT) — the two tables must share
    // urls, since training joins on url.
    import spark.implicits._
    val goldenPath = sys.env.getOrElse("GRAFT_GOLDEN_PARQUET", {
      val dir = java.nio.file.Files.createTempDirectory("graft-golden")
      // scratch artifact: reclaim it on JVM exit rather than leaking one
      // parquet copy of the GT table per training run
      sys.addShutdownHook {
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.list(p).forEach(rm(_))
          java.nio.file.Files.deleteIfExists(p)
        }
        rm(dir)
      }
      val p = dir.toString + "/golden.parquet"
      Pipeline.goldenPages(spark, 0L, nTrain).write.mode("overwrite").parquet(p)
      p
    })
    val golden = spark.read.parquet(goldenPath).as[graft.core.GoldenPage]
    val pages = sys.env.get("GRAFT_PAGES_PARQUET")
      .map(p => spark.read.parquet(p).as[graft.core.PageRow])
      .getOrElse(Pipeline.generate(spark, nTrain))
    require(!pages.joinWith(golden, pages("url") === golden("url")).isEmpty,
      "pages and golden tables share no url — training would see zero examples " +
        "(set GRAFT_PAGES_PARQUET and GRAFT_GOLDEN_PARQUET to matching corpora)")
    val model = train(spark, pages, golden)
    Corrector.modelOverride = Some(model) // validate with the fresh weights
    val bad = validate(spark, nTrain, nTrain + nVal)
    println(s"[train] validation: ${nVal - bad.length}/$nVal pages byte-identical")
    // EvalDLE/EvalRRDM-analog report over the same held-out range — the
    // identical numbers q47_head_eval exposes to the oracle gate
    Pipeline.headEval(spark, nTrain, nVal).collect().foreach { r =>
      println(s"[eval] ${r.getString(0)}/${r.getString(1)} = ${r.getLong(2)}")
    }
    if (bad.nonEmpty) {
      bad.take(5).foreach(u => println(s"[train] MISMATCH $u"))
      sys.exit(1)
    }
    val path = java.nio.file.Paths.get(out)
    if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, TrainedModel.render(model,
      s"trained by graft.tools.Train (n=$nTrain synthetic GT pages, seed 42; " +
        "distributed fixed-point full-batch fit); " +
        s"validated byte-identical on ${nVal} held-out pages"))
    println(s"[train] wrote $out")
    spark.stop()
  }
}
