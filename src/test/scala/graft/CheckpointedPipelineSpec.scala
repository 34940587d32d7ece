package graft

import graft.fixtures.PagesGen
import graft.pipeline.{GraftConfig, Pipeline}
import graft.plans.Checkpoint
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** End-to-end checkpointed pipeline: table-per-stage resume must reproduce
  * the shuffle-free pipeline's bytes exactly, and a crash between stages
  * must resume without redoing completed stages.
  */
class CheckpointedPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private def checkpointed(root: String, n: Long, buckets: Int,
      cfg: GraftConfig = GraftConfig.default) =
    Pipeline.runCheckpointed(spark, root, Pipeline.generate(spark, n).toDF(), buckets, cfg)._1

  test("checkpointed pipeline output is byte-identical to the direct pipeline and the golden truth") {
    val root = Files.createTempDirectory("graft-e2e-ckpt").toString
    val n = 60
    val out = checkpointed(root, n, buckets = 8)
      .select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.size == n)
    (0 until n).foreach { i =>
      val tp = PagesGen.page(i.toLong)
      assert(out(tp.row.url) == tp.trueText, s"url ${tp.row.url} differs from golden")
    }
    rmTree(Paths.get(root))
  }

  test("stage-level resume: wiping the last stage reruns only it, bytes identical") {
    val root = Files.createTempDirectory("graft-e2e-resume").toString
    val n = 40
    val first = checkpointed(root, n, buckets = 4)
      .select("url", "text").collect().map(_.toString).sorted.toSeq

    // crash simulation: the 'correct' stage's commits are lost entirely
    rmTree(Paths.get(s"$root/correct"))

    val resumed = checkpointed(root, n, buckets = 4)
    assert(resumed.select("url", "text").collect().map(_.toString).sorted.toSeq == first)
    // earlier stages were not redone: their ledgers still carry exactly one
    // entry per bucket (a rerun would have appended nothing new anyway —
    // assert the ledger is still the 4 original entries)
    assert(Checkpoint.readLedger(spark, root, "segment").size == 4)
    assert(Checkpoint.readLedger(spark, root, "align").size == 4)
    assert(Checkpoint.readLedger(spark, root, "correct").size == 4)
    rmTree(Paths.get(root))
  }

  test("cross-path parity: fused run and checkpointed run agree under every config") {
    import spark.implicits._
    val n = 60L
    val configs = Seq(
      "default" -> GraftConfig.default,
      "runLE=false" -> GraftConfig.default.copy(runLE = false),
      "maxCandidates=1" -> GraftConfig.default.copy(maxCandidates = 1),
      "extractors=x-master" -> GraftConfig.default.copy(extractors = Pipeline.extractors.take(1)),
      // corpus-global protection: the knob the fused path once ignored
      "runLE=false,dynamicLexicon=true" ->
        GraftConfig.default.copy(runLE = false, dynamicLexicon = true))
    configs.foreach { case (name, cfg) =>
      val root = Files.createTempDirectory("graft-e2e-parity").toString
      val fused = Pipeline.run(Pipeline.generate(spark, n), cfg)
        .map(c => (c.url, c.text, c.nCorrections)).collect().sortBy(_._1).toSeq
      val ckpt = checkpointed(root, n, buckets = 4, cfg)
        .select("url", "text", "nCorrections").as[(String, String, Int)]
        .collect().sortBy(_._1).toSeq
      assert(fused.length == n)
      val differing = fused.zip(ckpt).count { case (a, b) => a != b }
      assert(ckpt.length == n && differing == 0,
        s"$name: $differing of $n pages differ between the fused and checkpointed paths")
      rmTree(Paths.get(root))
    }
  }
}
