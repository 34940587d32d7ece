package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the driver-facing mains (Smoke / Verify / Bench /
  * ReTime / Train / SoloBench / StageBench).
  *
  * Standalone (sbt runMain, no master configured): build `local[cpus]`
  * with `spark.sql.shuffle.partitions = cpus` — the sandbox contract.
  *
  * Under spark-submit (`spark.master` system property set by the
  * launcher): do NOT override the submitted master or shuffle
  * parallelism — the cluster's `--master`/`--conf` win, which is what
  * lets the same mains run unchanged on a real cluster (north rule:
  * "runs under spark-submit at N and 4N executors").
  */
object SparkBoot {
  def session(cpus: String): SparkSession = {
    val base = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
    val builder =
      if (sys.props.contains("spark.master")) base
      else base.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
