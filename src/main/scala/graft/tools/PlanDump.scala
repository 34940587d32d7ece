package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plans/r06 before/after evidence trail — and time each one's full
  * plan. Bench.scala (frozen) times `.count()`, which prunes the joins,
  * windows or generators of leaves whose output columns it drops; this
  * runs the plan the leaf defines.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> q33_trigram_freq ...
  *        (no query args = all queries; name a leaf N times for N-1 warm
  *        lines, and take their min)
  *
  * The files are diffable across JVMs: [[mask]] replaces every identity
  * that differs between two runs of the same plan, so a before/after
  * pair of dumps `diff`s empty when the plan did not move.
  */
object PlanDump {

  /** Masks per-run identities: expression ids (`doc_id#712L` →
    * `doc_id#NL`), exchange plan ids, RDD ids, source line numbers of
    * RDD call sites, JVM lambda class names (`$$Lambda$N/0x…@hash`),
    * the identity hash of an anonymous-class instance such as a typed
    * Aggregator (`Metrics$$anon$1@48f6f272`), the random temp-dir
    * location of p12's table (`graft-ptable<digits>`), and the AQE
    * query-stage and codegen-stage ids of the executed plan, which
    * follow the order in which concurrent stages happened to
    * materialize.
    */
  private def mask(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("QueryStage \\d+", "QueryStage N")
    .replaceAll("\\*\\(\\d+\\)", "*(N)")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("\\.scala:\\d+", ".scala:N")
    .replaceAll("Lambda(\\$\\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?", "Lambda\\$N")
    .replaceAll("(\\$anon\\$\\d+)@[0-9a-f]+", "$1@N")
    .replaceAll("graft-ptable\\d+", "graft-ptableN")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <outDir> <suffix> [query ...]")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.SparkBoot.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    dump(spark, dir, args(0), args(1), names).foreach(println)
    // the classes the dumped queries compiled: with a code cache that
    // evicts nothing, their distinct working set
    // (SparkBoot.CodegenCacheEntries is sized from the all-queries count)
    println(s"[plandump] codegen_compiles=" +
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
    spark.stop()
  }

  /** The per-leaf loop: dumps each named leaf, repeats included, and yields
    * one JSON line per leaf as it finishes:
    * `{"leaf":…,"wall_s":…,"codegen_compiles":…}`. `wall_s` covers
    * building the leaf's DataFrame (some leaves run Spark jobs while
    * they are built) and executing its full plan, not the explain or the
    * file write; a failed execution reports -1, as Bench does. Session
    * lifecycle belongs to the caller.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Iterator[String] = {
    val qs = graft.SparkEntry.queries // def — build the map once
    Files.createDirectories(Paths.get(outDir))
    names.iterator.map { n =>
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = qs(n)(spark, sfDir)
      val builtNs = System.nanoTime() - t0
      val plan = df.queryExecution.explainString(FormattedMode)
      // AQE finalizes exchange reuse / join rewrites only on execution —
      // append the executed plan so ReusedExchange and the final join
      // strategies are visible in the evidence files. The action runs on
      // the df's OWN QueryExecution (count() would plan a new one, so
      // this adaptive plan would never finalize, and would prune the
      // joins, windows or generators its output does not need) and
      // returns no rows (collect() would, unbounded for pair-level
      // outputs).
      val qe = df.queryExecution
      val (executed, wallS) =
        try {
          val t1 = System.nanoTime()
          SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
          val ranNs = System.nanoTime() - t1
          (qe.executedPlan.toString, (builtNs + ranNs) / 1e9)
        } catch { case scala.util.control.NonFatal(e) =>
          (s"<execution failed: ${e.getMessage}>", -1.0) }
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        mask(plan + "\n\n== Executed plan (AQE final) ==\n" + executed)
          .getBytes("UTF-8"))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      f"""{"leaf":"$n","wall_s":$wallS%.3f,"codegen_compiles":$compiles}"""
    }
  }
}
