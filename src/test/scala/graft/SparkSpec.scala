package graft

import graft.core._
import graft.fixtures.PagesGen
import graft.pipeline.Pipeline
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The suite's one session: SparkBoot's, at local[4] with 4 shuffle
  * partitions, so the tests run with the settings every main runs with.
  */
object SparkTestSession {
  lazy val spark: SparkSession = SparkBoot.session("4")

  /** Spark jobs started while `f` runs on this thread. A fence job in the
    * same job group follows `f`; the listener bus delivers in order, so
    * once the fence arrives every job `f` started has arrived too.
    */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime}"
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => started.put(p.getProperty("spark.job.description", "")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      val out = f
      sc.setJobGroup(group, "fence")
      spark.range(1).count()
      val body = Iterator.continually(started.poll(30, TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "fence").size
      (out, body)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** End-to-end pipeline tests — the Spark restatement of the reference's
  * 3-page golden-workspace smoke tests (tests/run_alignment_test.bash:6-36)
  * plus the byte-identical per-url invariant (BASELINE.json input_hint).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestSession.spark

  test("generator is deterministic and index-pure") {
    val a = PagesGen.page(7L)
    val b = PagesGen.page(7L)
    assert(a.row.url == b.row.url)
    assert(java.util.Arrays.equals(a.row.html, b.row.html))
    assert(a.trueText == b.trueText)
  }

  test("3-page smoke: every stage emits one row per page") {
    import spark.implicits._
    val pages = Pipeline.generate(spark, 3)
    val seg = Pipeline.segment(pages).cache()
    assert(seg.count() == 3)
    val aligned = Pipeline.align(seg)
    assert(aligned.count() == 3)
    val corrected = Pipeline.correct(aligned)
    assert(corrected.count() == 3)
    // every page has text blocks, boilerplate was stripped
    val s = seg.collect()
    assert(s.forall(_.blocks.exists(_.kind == "text")))
    assert(s.forall(_.blocks.exists(_.kind == "boilerplate")))
    seg.unpersist()
  }

  test("e2e byte-identical: corrected text equals golden truth per url") {
    import spark.implicits._
    val n = 50
    val corrected = Pipeline.run(Pipeline.generate(spark, n)).collect()
      .map(c => c.url -> c.text).toMap
    assert(corrected.size == n)
    var mismatches = List.empty[String]
    (0 until n).foreach { i =>
      val tp = PagesGen.page(i.toLong)
      val got = corrected(tp.row.url)
      if (got != tp.trueText)
        mismatches ::= s"url=${tp.row.url}\n--- got ---\n$got\n--- want ---\n${tp.trueText}"
    }
    assert(mismatches.isEmpty,
      s"${mismatches.length}/$n pages differ; first:\n${mismatches.headOption.getOrElse("")}")
  }

  test("alignment variants carry reference provenance tags") {
    import spark.implicits._
    val aligned = Pipeline.align(Pipeline.segment(Pipeline.generate(spark, 2))).collect()
    val line = aligned.head.lines.head
    assert(line.variants.map(_.index) == Seq(1, 2))
    assert(line.variants.head.source.startsWith("ocrd-cis-line-alignment-master-ocr:x-master/"))
    assert(line.variants(1).source.startsWith("ocrd-cis-line-alignment:x-alt/"))
  }

  test("char-span lineage: block spans slice the original html bytes") {
    import spark.implicits._
    val rows = Pipeline.generate(spark, 5).collect()
    rows.foreach { p =>
      val blocks = HtmlBlocks.segment(p.html)
      blocks.filter(_.kind == "text").foreach { b =>
        val raw = new String(p.html, b.span.start.toInt,
          (b.span.stop - b.span.start).toInt, "UTF-8")
        assert(TextNorm.normalize(raw) == b.text,
          s"span lineage broken for ${p.url} block ${b.id}")
      }
    }
  }

  test("pipeline plan is shuffle-free (no Exchange in physical plan)") {
    val corrected = Pipeline.run(Pipeline.generate(spark, 10))
    val plan = corrected.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }
}

/** k=3 extractor arity — the reference accepts k input file groups
  * (align/cli.py:35-38); production wires k=2, so these tests pin the
  * index/provenance rules and the shuffled-path shape at arity 3, where an
  * index-3 provenance mix-up would otherwise be invisible.
  */
class KAryAlignSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val k3: Seq[Pipeline.Extractor] = Pipeline.extractors :+
    Pipeline.Extractor("x-third", 0.7, s => s.replace("l", "1").replace("o", "0"))

  test("k=3 alignPage emits index-1..3 variants with per-extractor provenance") {
    import spark.implicits._
    val aligned = Pipeline.align(
      Pipeline.segment(Pipeline.generate(spark, 5)), k3).collect()
    val lines = aligned.flatMap(_.lines)
    assert(lines.nonEmpty)
    lines.foreach { line =>
      // line level: exactly k variants, 1-based contiguous indexes
      // (align/cli.py:96-108), i-th support tagged with ITS extractor name
      assert(line.variants.map(_.index) == Seq(1, 2, 3))
      assert(line.variants.head.source.startsWith(
        "ocrd-cis-line-alignment-master-ocr:x-master/"))
      assert(line.variants(1).source.startsWith("ocrd-cis-line-alignment:x-alt/"))
      assert(line.variants(2).source.startsWith("ocrd-cis-line-alignment:x-third/"))
      line.words.foreach { w =>
        assert(w.variants.head.index == 1)
        assert(w.variants.head.source.contains("master-ocr:x-master/"))
        w.variants.tail.foreach { v =>
          val ex = k3(v.index - 1).name
          assert(v.index >= 2 && v.index <= 3)
          assert(v.source.contains(":" + ex + "/") || v.source.endsWith(":" + ex),
            s"index-${v.index} word variant tagged '${v.source}', expected $ex")
        }
      }
    }
    // the third extractor must actually contribute distinct text somewhere
    // (otherwise this test would pass on a k=2 code path that pads)
    assert(lines.exists(l => l.variants(2).text != l.variants(1).text &&
      l.variants(2).text != l.variants.head.text))
  }

  test("k=3 shuffled path: identical output to fused align, one shuffle key") {
    import spark.implicits._
    val pages = Pipeline.generate(spark, 30)
    val fused = Pipeline.align(Pipeline.segment(pages), k3)
      .collect().map(ap => ap.url -> ap).toMap
    val shuffled = Pipeline.alignShuffled(pages, k3)
    val got = shuffled.collect()
    assert(got.length == fused.size)
    got.foreach { ap => assert(ap == fused(ap.url), s"k=3 divergence at ${ap.url}") }
    // 3 union branches, all exchanges on the SAME key = one stage boundary
    val p = shuffled.queryExecution.executedPlan.toString
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.distinct.size == 1,
      s"expected one shuffle key, got $keys:\n$p")
    assert(keys.size <= k3.length, s"more exchanges than union branches: $keys")
  }

  test("driver contract: every query has an oracle and every oracle has a query") {
    // a queries entry without oracleSql silently downgrades the driver's
    // gate to a rows-only check; an orphaned oracle would make the
    // driver compare against a missing dump — pin the keysets equal so
    // neither drift can land
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o,
      s"queries-without-oracle: ${(q -- o).toSeq.sorted}; " +
        s"oracles-without-query: ${(o -- q).toSeq.sorted}")
  }
}
