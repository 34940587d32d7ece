package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the driver-facing mains (Smoke / Verify / Bench /
  * Run / Train / PlanDump), the benchmark and the test suite's shared
  * session.
  *
  * Standalone (sbt runMain, no master configured): build `local[cpus]`
  * with `spark.sql.shuffle.partitions = cpus` — the sandbox contract.
  *
  * Under spark-submit (`spark.master` system property set by the
  * launcher): do NOT override the submitted master or shuffle
  * parallelism — the cluster's `--master`/`--conf` win, which is what
  * lets the same mains run unchanged on a real cluster (north rule:
  * "runs under spark-submit at N and 4N executors").
  *
  * Both branches size Spark's generated-code cache
  * (`spark.sql.codegen.cache.maxEntries`) to [[CodegenCacheEntries]],
  * unless the key is already a system property (a spark-submit `--conf`
  * or a `-D` JVM option), which then wins.
  */
object SparkBoot {

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Entries in Spark's generated-code cache, sized to this program's
    * working set. Spark's default of 100 is split by Guava into 4 LRU
    * segments of ~25 classes each; the curation board's four queries
    * compile about a hundred classes per pass (89 over sf0.001, 108 over
    * the benchmark's seed-7 board tables), so a long-lived driver that
    * cycles through them (board passes, Run buckets, streaming
    * micro-batches) missed on every lookup and re-ran Janino for all of
    * them on every pass.
    *
    * Measured working set: one full pass of all 99 `SparkEntry.queries`
    * at sf0.01 compiles 1165 distinct classes (`graft.tools.PlanDump`'s
    * `codegen_compiles` line, run with
    * `-Dspark.sql.codegen.cache.maxEntries=100000` so that nothing is
    * evicted). The value is the next power of two at or above twice that
    * (2330), so each of the 4 segments still holds its share of the whole
    * program when the hash spreads the classes unevenly. Only the classes
    * a program actually runs are cached.
    *
    * It is a static SQL conf that `CodeGenerator` reads ONCE per JVM, when
    * the first query compiles, so it has to be on the builder before the
    * first session exists; setting it later has no effect.
    */
  val CodegenCacheEntries = 4096

  def session(cpus: String): SparkSession = {
    val base = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
    val sized =
      if (sys.props.contains(CodegenCacheKey)) base
      else base.config(CodegenCacheKey, CodegenCacheEntries.toLong)
    val builder =
      if (sys.props.contains("spark.master")) sized
      else sized.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
