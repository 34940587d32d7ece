package graft.tools

import graft.fixtures.PagesGen
import graft.pipeline.Pipeline

/** Locates where the Spark e2e pipeline spends time relative to the raw
  * kernels (Microbench): times each prefix of the typed-map chain, plus an
  * encoder-free variant that collapses the whole chain into one
  * mapPartitions emitting a flat row.
  */
object StageBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 40000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkBoot.session(cpus)
    import spark.implicits._

    def time(label: String)(f: => Long): Unit = {
      f // warmup
      val (s, c) = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val c = f
        ((System.nanoTime() - t0) / 1e9, c)
      }.minBy(_._1)
      println(f"$label%-16s $s%7.2f s  ${c / s}%9.0f docs/s (best of 3)")
    }

    val parts = cpus.toInt * 4
    time("gen-only")(Pipeline.generate(spark, n, partitions = parts).count())
    time("gen+segment")(Pipeline.segment(Pipeline.generate(spark, n, partitions = parts)).count())
    time("gen+seg+align")(Pipeline.align(Pipeline.segment(Pipeline.generate(spark, n, partitions = parts))).count())
    time("full-typed")(Pipeline.run(Pipeline.generate(spark, n, partitions = parts)).count())

    // encoder-free: one mapPartitions over the raw range, flat output
    time("fused-flat") {
      val lexDe = spark.sparkContext.broadcast(PagesGen.lexiconFor("de"))
      val lexEn = spark.sparkContext.broadcast(PagesGen.lexiconFor("en"))
      spark.range(0L, n, 1L, parts).mapPartitions { it =>
        val de = lexDe.value; val en = lexEn.value
        it.map { i =>
          val c = Pipeline.correctPage(Pipeline.alignPage(Pipeline.segmentPage(
            PagesGen.page(i).row)), de, en)
          (c.url, c.lang, c.text, c.nCorrections)
        }
      }.count()
    }
    spark.stop()
  }
}
