package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Run
import graft.core.PageRow
import graft.pipeline.{GraftConfig, Pipeline}
import graft.plans.Checkpoint

/** The production path, measured in `pipeline_fused`'s traced run:
  * `Run.execute` with the exact and near-dup stages over a PageRow table of
  * the same generator's pages plus planted exact copies. A checked run is
  * crashed (ledgers dropped) and resumed on the same outRoot, then a traced
  * clean run and resume give the per-stage layers.
  */
final class RunCheckpointed(o: Main.Opts) {
  import Main._

  val pages: Long = 600L
  val rows: Long = pages + Inputs.copies(pages)
  val buckets = 4
  val cfg: GraftConfig = GraftConfig.default.copy(dedup = true, nearDup = true)
  val stages = Seq("segment", "align", "correct", "dedup", "neardup")
  val input = s"${o.work}/ckpt/pages"

  private def count(line: String, key: String): Long =
    ("\"" + key + "\":(\\d+)").r.findFirstMatchIn(line).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"no $key in the Run line: $line"))

  /** Digest of the final table: every column of every row, in url order. */
  def digest(spark: SparkSession, root: String): String = {
    val df = spark.read.parquet(s"$root/neardup/data").drop("p_bucket")
    Checks.sha256(df.select(df.columns.sorted.map(col): _*).orderBy("url").collect().iterator.map(_.toString))
  }

  /** Drops half the correct-stage bucket ledgers (seeded), every later
    * stage's ledgers and the near-dup labels commit marker, as a crash in
    * the middle of the correct stage leaves them. Returns the rows the
    * dropped ledgers had recorded.
    */
  def crash(spark: SparkSession, root: String, salt: Long): Long = {
    val rnd = new scala.util.Random(o.seed * 31 + salt)
    val correct = Checkpoint.readLedger(spark, root, "correct")
    val dropped = rnd.shuffle(correct).take(correct.size / 2) ++
      Checkpoint.readLedger(spark, root, "dedup") ++ Checkpoint.readLedger(spark, root, "neardup")
    dropped.foreach(e => Files.delete(Paths.get(root, e.stage, "_ledger", f"bucket-${e.bucket}%05d.json")))
    Files.delete(Paths.get(root, "neardup", "_labels.commit"))
    dropped.map(_.rows).sum
  }

  /** Crashes `root` and resumes it; returns (resume wall, rows recomputed /
    * rows the crash left pending).
    */
  def crashAndResume(spark: SparkSession, root: String, in: String, salt: Long): (Double, Double) = {
    val pending = crash(spark, root, salt)
    val crashedAt = System.currentTimeMillis()
    val (t, _) = secs(Run.execute(spark, in, root, buckets, cfg))
    val recomputed = stages.flatMap(s => Checkpoint.readLedger(spark, root, s))
      .filter(_.completedAtMs >= crashedAt).map(_.rows).sum
    (t, recomputed.toDouble / pending)
  }

  /** The checked run: a clean run, its outputs checked, then a crash and a
    * resume whose output must be byte-identical. Returns the clean Run line
    * and the problems found.
    */
  def check(spark: SparkSession, r: Result, in: String): (String, Seq[String]) = {
    import spark.implicits._
    val root = s"${o.work}/ckpt/check"
    val line = Run.execute(spark, in, root, buckets, cfg)
    val clean = digest(spark, root)
    val bytes = du(root).toDouble
    r.report("out_bytes_per_doc") = (bytes / rows, "bytes")
    r.layers("out.bytes_per_doc") = (bytes / rows, "bytes")
    val fused = Pipeline.run(spark.read.parquet(in).as[PageRow]).map(c => (c.url, c.text)).collect().toMap
    val out = spark.read.parquet(s"$root/neardup/data").select("url", "text").as[(String, String)].collect().toMap
    val nearRef = Checks.nearDupKeepers(fused.values.toIndexedSeq.distinct.sorted)
    val (resumeS, _) = crashAndResume(spark, root, in, 0)
    r.report("resume_s") = (resumeS, "s")
    val resumed = digest(spark, root)
    val expected = if (o.inject == "digest") clean.reverse else clean
    val (dedupKept, nearKept) = (count(line, "dedup_kept"), count(line, "neardup_kept"))
    (line, Seq(
      if (out.size != rows) Some(s"output has ${out.size} urls, expected $rows") else None,
      if (out != fused) Some(s"text differs from the fused pipeline's on ${fused.count { case (u, t) => !out.get(u).contains(t) }} urls") else None,
      // every planted copy duplicates its source page's corrected text
      if (dedupKept != pages) Some(s"dedup_kept $dedupKept, the generator implies $pages") else None,
      if (nearKept != nearRef) Some(s"neardup_kept $nearKept, the reference near-dup rule gives $nearRef") else None,
      if (resumed != expected) Some(s"resumed output digest $resumed differs from the clean run's $expected") else None
    ).flatten)
  }

  /** Writes the input and runs the checked run, then a traced clean run
    * and resume: per-stage walls from the gaps between the ledgers' commit
    * times (the near-dup flag stage from its ledger's task time, and the
    * labels as the rest of the dedup -> neardup gap), rows per stage, the
    * bytes the clean run read, and the resume.
    */
  def measure(spark: SparkSession, r: Result): Unit = {
    Inputs.writePages(spark, input, pages, o.seed, 4 * o.cores)
    r.attempt("checkpointed run")(check(spark, r, input)).foreach { case (_, ps) => r.checkFailed(ps, 1) }
    val root = s"${o.work}/ckpt/traced"
    Trace.enabled = true
    val started = System.currentTimeMillis()
    val (c, _, _) = try counted(spark)(Trace.span("clean_run")(Run.execute(spark, input, root, buckets, cfg)))
    finally Trace.enabled = false
    val ledgers = stages.map(s => s -> Checkpoint.readLedger(spark, root, s)).toMap
    val done = stages.map(s => ledgers(s).map(_.completedAtMs).max)
    val flagS = ledgers("neardup").map(_.wallMs).sum / 1e3 / o.cores
    stages.zip(started +: done).zip(done).foreach { case ((s, from), to) =>
      r.layers(s"ckpt.$s.s") = (if (s == "neardup") flagS else (to - from) / 1e3, "s")
      r.layers(s"ckpt.$s.rows") = (ledgers(s).map(_.rows).sum.toDouble, "count")
    }
    r.layers("neardup.labels_s") = ((done(4) - done(3)) / 1e3 - flagS, "s")
    r.layers("sources.scan_bytes") = (c.inputBytes.toDouble, "bytes")
    Trace.enabled = true
    val (resumeS, ratio) = try Trace.span("resume_run")(crashAndResume(spark, root, input, 1))
    finally Trace.enabled = false
    r.layers("resume.s") = (resumeS, "s")
    r.layers("resume.recompute_ratio") = (ratio, "ratio")
  }
}
