package graft.tools

import graft.pipeline.Pipeline

/** One "executor" of the multi-process scaling protocol
  * (tools/bench_executors.sh): a single JVM = a single executor with its
  * own heap, GC and core set — the faithful sandbox analog of one cluster
  * executor. Runs the e2e pipeline at local[cpus], full-size warmup, then
  * best-of-`reps` timed passes; prints one JSON line.
  *
  * Usage: SoloBench <cpus> <nDocs> <reps> [label]
  * (core pinning is done by the caller via taskset)
  */
object SoloBench {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val nDocs = args(1).toLong
    val reps = if (args.length > 2) args(2).toInt else 2
    val label = if (args.length > 3) args(3) else "solo"
    val spark = graft.SparkBoot.session(cpus.toString)
    def one(): Long =
      Pipeline.run(Pipeline.generate(spark, nDocs, partitions = cpus * 4)).count()
    one() // warmup (codegen + JIT)
    val best = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      one()
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"""{"label":"$label","cpus":$cpus,"docs":$nDocs,"sec":$best%.3f,"docs_per_sec":${nDocs / best}%.1f}""")
    spark.stop()
  }
}
