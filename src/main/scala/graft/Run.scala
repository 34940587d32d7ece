package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.pipeline.{GraftConfig, Pipeline}

/** The spark-submit entry point for the production pipeline — the
  * north-rule execution surface: read a (url, warc_ts, html, text, lang)
  * pages table, run extract+correct through the checkpointed
  * table-per-stage writer, and emit one JSON metrics line.
  *
  *   spark-submit --class graft.Run graft.jar <pages> <outRoot> [buckets] [--key=value ...]
  *
  * `<pages>` is a PageRow-schema parquet path, or `synth:N` for the
  * deterministic N-page synthetic corpus (fixtures/PagesGen). A rerun
  * with the same outRoot RESUMES: each stage's committed buckets are
  * skipped via its per-bucket ledger (plans/Checkpoint), the metrics
  * line reports processed vs skipped per stage, and the final output
  * bytes are identical to a single clean run (CheckpointSpec /
  * RunSpec pin this). Under spark-submit the launcher's --master and
  * shuffle parallelism win (SparkBoot passes them through untouched).
  *
  * Processor knobs (the reference's ocrd-tool.json parameter surface,
  * here as CLI flags parsed into a [[graft.pipeline.GraftConfig]]):
  *
  *   --extractors=x-master[,x-alt]   candidate extractor names (nOCR role)
  *   --run-le=true|false             lexicon-extension gate (runLE)
  *   --max-candidates=N              profiler candidate cap
  *   --min-block-chars=N             micro-block noise floor
  *   --max-link-density=X            boilerplate link-density threshold
  *   --profile-min-count=N           confusion-profile learning floor
  *   --profile-max-patterns=N        confusion-profile pattern cap
  *   --profile-no-cache=true|false   re-learn the profile every run
  *   --dynamic-lexicon=true|false    corpus-global OOV protection
  *                                   (dynamiclex role) in correction
  *   --dedup=true|false              append the exact-dedup stage:
  *                                   fingerprint-keyed, flags corpus-wide
  *                                   duplicates with keep/dup_of lineage
  *                                   (rows never dropped)
  *   --neardup=true|false            append the near-dup stage (requires
  *                                   --dedup=true): MinHash band pairs
  *                                   over the exact survivors -> connected
  *                                   components -> min-url representative,
  *                                   flagged as nd_keep/nd_dup_of lineage
  *   --neardup-df-guard=N            near-dup pair-generation skew guard
  *                                   (default 128): band df cap under
  *                                   minhash, cell-size cap under semdedup
  *   --neardup-strategy=minhash|semdedup
  *                                   labels strategy: token-shingle band
  *                                   join (default) or embedding-cell
  *                                   semantic dedup (q82's shape)
  *   --neardup-tau=X                 cosine threshold for the semdedup
  *                                   strategy (default 0.97)
  *
  * Defaults are the shipped constants, so a flagless invocation is
  * byte-identical to `Pipeline.run(pages)`.
  */
object Run {

  /** Parse `--key=value` flags into a [[GraftConfig]]; unknown keys fail
    * loudly (a typo must not silently run with defaults).
    */
  private[graft] def parseConfig(flags: Seq[String]): GraftConfig = {
    val byName = Pipeline.extractors.map(e => e.name -> e).toMap
    flags.foldLeft(GraftConfig.default) { (cfg, flag) =>
      flag.split("=", 2) match {
        case Array(k, v) => k match {
          case "--extractors" => cfg.copy(extractors = v.split(",").toSeq.map(n =>
            byName.getOrElse(n, sys.error(
              s"unknown extractor '$n' (available: ${byName.keys.toSeq.sorted.mkString(", ")})"))))
          case "--run-le" => cfg.copy(runLE = v.toBoolean)
          case "--max-candidates" => cfg.copy(maxCandidates = v.toInt)
          case "--min-block-chars" => cfg.copy(minBlockChars = v.toInt)
          case "--max-link-density" => cfg.copy(maxLinkDensity = v.toDouble)
          case "--profile-min-count" => cfg.copy(profileMinCount = v.toLong)
          case "--profile-max-patterns" => cfg.copy(profileMaxPatterns = v.toInt)
          case "--profile-no-cache" => cfg.copy(profileNoCache = v.toBoolean)
          case "--dynamic-lexicon" => cfg.copy(dynamicLexicon = v.toBoolean)
          case "--dedup" => cfg.copy(dedup = v.toBoolean)
          case "--neardup" => cfg.copy(nearDup = v.toBoolean)
          case "--neardup-df-guard" => cfg.copy(nearDupDfGuard = v.toInt)
          case "--neardup-strategy" => cfg.copy(nearDupStrategy = v)
          case "--neardup-tau" => cfg.copy(nearDupTau = v.toDouble)
          case other => sys.error(s"unknown flag '$other' (see Run scaladoc)")
        }
        case _ => sys.error(s"malformed flag '$flag' — expected --key=value")
      }
    }
  }

  /** Testable core: runs the checkpointed pipeline and returns the
    * metrics JSON line. Session lifecycle belongs to the caller.
    */
  def execute(spark: SparkSession, pagesArg: String, outRoot: String,
      buckets: Int, cfg: GraftConfig = GraftConfig.default): String = {
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val pages =
      if (pagesArg.startsWith("synth:"))
        Pipeline.generate(spark, pagesArg.stripPrefix("synth:").toLong).toDF()
      else
        spark.read.parquet(pagesArg)
          .select("url", "warc_ts", "html", "text", "lang")
    val t0 = System.nanoTime()
    val (out, stageResults) =
      Pipeline.runCheckpointed(spark, outRoot, pages, buckets, cfg)
    val nPages = out.count()
    // snap the wall BEFORE the lineage rollup: dedup_kept is reporting,
    // not pipeline work — counting it inside the timed region would make
    // --dedup headline numbers non-comparable with flagless runs
    val wallSec = (System.nanoTime() - t0) / 1e9
    // lineage rollup when the flag stages ran: ONE aggregation pass
    // computes every kept counter (separate filter().count() jobs would
    // re-scan the final table once per flag)
    val kept =
      if (!cfg.dedup && !cfg.nearDup) ""
      else {
        import org.apache.spark.sql.functions.{col, count, when, lit}
        val aggs =
          (if (cfg.dedup)
            Seq(count(when(col("keep"), lit(1))).as("dedup_kept")) else Nil) ++
          (if (cfg.nearDup)
            Seq(count(when(col("nd_keep"), lit(1))).as("neardup_kept")) else Nil)
        val row = out.agg(aggs.head, aggs.tail: _*).first()
        aggs.indices.map(i =>
          s""","${row.schema(i).name}":${row.getLong(i)}""").mkString
      }
    val stages = stageResults.map { case (st, r) =>
      s""""$st":{"buckets":${r.ledger.size},"rows":${r.ledger.map(_.rows).sum},""" +
        s""""processed":${r.processedBuckets.size},"skipped":${r.skippedBuckets.size}}"""
    }.mkString(",")
    // Janino compilations in this JVM over the run (tasks included under
    // local[N]); a warm long-lived driver that re-runs a plan it has
    // already run should add ~0 (SparkBoot.CodegenCacheEntries)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    f"""{"metric":"run_docs_per_sec","value":${nPages / math.max(wallSec, 1e-9)}%.1f,"unit":"docs/sec","pages":$nPages$kept,"wall_sec":$wallSec%.2f,"buckets":$buckets,"stages":{$stages},"codegen_compiles":$compiles,"out":"$outRoot"}"""
  }

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.toSeq.partition(_.startsWith("--"))
    require(positional.length >= 2 && positional.length <= 3,
      s"usage: Run <pagesParquet|synth:N> <outRoot> [nBuckets] [--key=value ...]" +
        (if (positional.length > 3)
          s" — unexpected positional args ${positional.drop(3).mkString(", ")}" +
            " (flags need the -- prefix)" else ""))
    val cfg = parseConfig(flags)
    val spark = SparkBoot.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val buckets = if (positional.length > 2) positional(2).toInt else 32
    println(execute(spark, positional(0), positional(1), buckets, cfg))
    spark.stop()
  }
}
