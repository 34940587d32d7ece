package graft

import graft.pipeline.{GraftConfig, Pipeline}
import org.scalatest.funsuite.AnyFunSuite

/** Runtime parameter surface (GraftConfig — the ocrd-tool.json analog):
  * defaults are behavior-identical to the unparameterized entry point,
  * and each knob demonstrably reaches its operator. (That the fused and
  * checkpointed paths agree under a config is CheckpointedPipelineSpec's
  * cross-path parity test.)
  */
class ConfigSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("GraftConfig.default is behavior-identical to the unparameterized pipeline") {
    import spark.implicits._
    val pages = Pipeline.generate(spark, 40)
    val a = Pipeline.run(pages).map(c => (c.url, c.text)).collect().toMap
    val b = Pipeline.run(pages, GraftConfig.default).map(c => (c.url, c.text)).collect().toMap
    assert(a == b)
  }

  test("config knobs reach their operators") {
    import spark.implicits._
    val pages = Pipeline.generate(spark, 30)
    // remove_noise floor: a raised floor reclassifies short titles
    val defText = Pipeline.segment(pages)
      .flatMap(_.blocks.map(_.kind)).collect().count(_ == "text")
    val cfg = GraftConfig.default.copy(minBlockChars = 15)
    val cfgText = Pipeline.segment(pages, cfg)
      .flatMap(_.blocks.map(_.kind)).collect().count(_ == "text")
    assert(cfgText < defText, s"floor knob did not bite: $cfgText vs $defText")
    // extractor list (nOCR): a third extractor flows through run(pages, cfg)
    // and lands in the alignment arity
    val three = GraftConfig.default.copy(extractors =
      Pipeline.extractors :+ Pipeline.Extractor("x-third", 0.7, identity))
    val arity = Pipeline.align(Pipeline.segment(pages), three.extractors)
      .flatMap(_.lines.map(_.variants.length)).collect()
    assert(arity.nonEmpty && arity.forall(_ == 3))
    assert(Pipeline.run(pages, three).count() == 30)
    // maxCandidates: a starved candidate list can only lose corrections
    val one = Pipeline.run(pages, GraftConfig.default.copy(maxCandidates = 1))
      .map(_.nCorrections).collect().sum
    val full = Pipeline.run(pages).map(_.nCorrections).collect().sum
    assert(one <= full && full > 0)
    // runLE=false through the config path breaks entity protection
    import graft.fixtures.PagesGen
    val noLE = Pipeline.run(pages, GraftConfig.default.copy(runLE = false))
      .map(c => (c.url, c.text)).collect()
    val broken = noLE.count { case (u, t) =>
      val idx = u.substring(u.lastIndexOf('p') + 1).toLong
      t != Pipeline.goldenText(idx)
    }
    assert(broken > 0)
    // invalid configs fail at construction, not mid-job
    intercept[IllegalArgumentException](GraftConfig(maxCandidates = 0))
    intercept[IllegalArgumentException](GraftConfig(extractors = Nil))
  }

  test("profileFor: cache semantics (noCache analog) and knob isolation") {
    // default knobs -> the per-JVM cached instance, call after call
    val p1 = Pipeline.profileFor(spark, GraftConfig.default)
    val p2 = Pipeline.profileFor(spark, GraftConfig.default)
    assert(p1 eq p2, "default-knob profile should be the cached instance")
    assert(p1 eq Pipeline.defaultProfile(spark))
    // noCache re-learns fresh (new instance, same content) and leaves the
    // shared cache untouched
    val fresh = Pipeline.profileFor(spark,
      GraftConfig.default.copy(profileNoCache = true))
    assert(!(fresh eq p1) && fresh == p1,
      "noCache must re-learn an equal profile without reusing the cache")
    assert(Pipeline.defaultProfile(spark) eq p1)
    // non-default knobs learn uncached and never poison the default cache
    val capped = Pipeline.profileFor(spark,
      GraftConfig.default.copy(profileMaxPatterns = 2))
    assert(capped.patterns.length <= 2 &&
      capped.patterns == p1.patterns.take(2))
    assert(Pipeline.defaultProfile(spark) eq p1)
    // explicit invalidation: next default resolution re-learns
    Pipeline.invalidateProfileCache()
    val relearned = Pipeline.profileFor(spark, GraftConfig.default)
    assert(!(relearned eq p1) && relearned == p1)
    // dynlex knobs flow through the config spelling
    import spark.implicits._
    val aligned = Pipeline.align(Pipeline.segment(Pipeline.generate(spark, 30)))
    val dynCfg = Pipeline.dynamicLexicon(aligned,
      GraftConfig.default.copy(dynLexTopN = 2)).collect()
    assert(dynCfg.groupBy(_.getString(0)).values.forall(_.length <= 2))
  }
}
