package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Several query docs claim "deterministic under any partitioning /
  * re-runs" (hash-of-id sampling, first-occurrence windows, per-shard
  * packing, window sessionization, as-of attribution, the funnel). This
  * spec pins the claim: the same query must return IDENTICAL rows under
  * different shuffle parallelism and with AQE disabled — the two knobs
  * that reshape partition boundaries most at cluster scale. A query
  * whose result depends on partition count (e.g. a first() without an
  * ordering, or a non-commutative agg) fails here before it ships.
  * Re-running a query must also reuse its generated code rather than
  * recompile it.
  */
class DeterminismSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val targets = Seq(
    "q58_stratified_sample", "q63_temperature_sample", "q64_chunk_dedup",
    "q66_sessionize", "q69_seq_pack", "q71_url_canon", "q72_length_hist",
    "q73_gate_funnel", "q74_oov_rate", "q75_asof_join",
    "q76_bpe_merges", "q77_dsir_select", "q78_lsh_dedup_recall",
    "q79_bpe_apply", "q80_cosine_recall", "q81_simhash_recall",
    "q82_semdedup_recall", "q83_tfidf_terms", "q84_quality_deciles",
    "q85_fuzzy_decontam")

  private def snapshot(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  test("query results are invariant to shuffle parallelism and AQE") {
    val partitions0 = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val baseline = targets.map(n => n -> snapshot(n)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      targets.foreach { n =>
        assert(snapshot(n) == baseline(n),
          s"$n diverged under shuffle.partitions=7 + AQE off")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", partitions0)
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
    }
  }

  test("a second interleaved pass over the curation board compiles no classes") {
    // the four queries compile ~100 classes a pass; a code cache smaller
    // than that working set (Spark's default 100 entries, split into 4
    // LRU segments) evicts each class before the cycle comes back to it
    val board = Seq("q50_dedup_clusters", "q62_curation_pipeline",
      "q15_dedup_exact", "q38_salted_join")
    def pass(): Long = {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      board.foreach(n => SparkEntry.queries(n)(spark, sf).count())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    }
    pass()
    val second = pass()
    assert(second == 0, s"the second pass compiled $second classes")
  }

  test("PlanDump times each named leaf, and a repeated leaf compiles nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft-plandump")
    val lines = tools.PlanDump.dump(spark, sf, out.toString, "t",
      Seq("q15_dedup_exact", "q15_dedup_exact")).toList
    assert(lines.size == 2, lines)
    val rows = lines.map(new com.fasterxml.jackson.databind.ObjectMapper().readTree(_))
    rows.foreach { r =>
      assert(r.get("leaf").asText == "q15_dedup_exact", r)
      assert(r.get("wall_s").asDouble > 0, r)
    }
    assert(rows(1).get("codegen_compiles").asLong == 0, rows(1))
    assert(java.nio.file.Files.size(out.resolve("q15_dedup_exact_t.txt")) > 0)
  }
}
