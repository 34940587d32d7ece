package graft

import graft.plans.Checkpoint
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Resume semantics (north rule "resumable from checkpoint with
  * per-partition lineage + metrics"): the Spark restatement of the
  * reference's skip-if-output-exists memoization
  * (ocrd_cis/aio/aio.py:269-271,296-298,385-387), at bucket granularity.
  */
class CheckpointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpRoot(): String = {
    val p = Files.createTempDirectory("graft-ckpt")
    p.toString
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private def input() = {
    import spark.implicits._
    spark.range(0, 200).select(
      concat(lit("https://h"), col("id") % 13, lit(".test/p"), col("id")).as("url"),
      (col("id") * 7 % 101).as("v"))
  }

  test("first run processes all buckets and ledgers them with row counts") {
    val root = tmpRoot()
    val res = Checkpoint.runStage(spark, "stageA", root, input(), "url", 8)(
      df => df.withColumn("doubled", col("v") * 2))
    assert(res.processedBuckets.sorted == (0 until 8))
    assert(res.skippedBuckets.isEmpty)
    assert(res.ledger.map(_.rows).sum == 200L)
    assert(res.output.count() == 200L)
    assert(res.output.columns.contains("doubled"))
    rmTree(Paths.get(root))
  }

  test("rerun after completion does zero work") {
    val root = tmpRoot()
    Checkpoint.runStage(spark, "s", root, input(), "url", 8)(identity)
    var called = false
    val res2 = Checkpoint.runStage(spark, "s", root, input(), "url", 8) { df =>
      called = true; df
    }
    assert(res2.processedBuckets.isEmpty)
    assert(res2.skippedBuckets.sorted == (0 until 8))
    // the transform closure may be invoked to build the plan, but no new
    // ledger entries appear and output is unchanged
    assert(res2.ledger.size == 8)
    assert(res2.output.count() == 200L)
    rmTree(Paths.get(root))
  }

  test("kill-and-resume: half the ledger deleted -> only those buckets rerun, bytes identical") {
    val root1 = tmpRoot(); val root2 = tmpRoot()
    def xform(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("out", concat(col("url"), lit("#"), col("v")))

    // uninterrupted golden run
    val golden = Checkpoint.runStage(spark, "s", root1, input(), "url", 8)(xform)
      .output.select("url", "out").collect().map(_.toString).sorted.toSeq

    // run, then simulate a crash that lost buckets 0-3's commits (the
    // ledger is one atomic file per bucket — delete those files)
    Checkpoint.runStage(spark, "s", root2, input(), "url", 8)(xform)
    (0 to 3).foreach { b =>
      Files.delete(Paths.get(f"$root2/s/_ledger/bucket-$b%05d.json"))
    }

    val resumed = Checkpoint.runStage(spark, "s", root2, input(), "url", 8)(xform)
    assert(resumed.processedBuckets.sorted == (0 to 3))
    assert(resumed.skippedBuckets.sorted == (4 to 7))
    val after = resumed.output.select("url", "out").collect().map(_.toString).sorted.toSeq
    assert(after == golden, "resumed output differs from uninterrupted run")
    assert(resumed.output.count() == 200L, "duplicate rows after resume")
    rmTree(Paths.get(root1)); rmTree(Paths.get(root2))
  }

  test("ledger is one atomic json file per bucket with lineage + throughput fields") {
    val root = tmpRoot()
    val res = Checkpoint.runStage(spark, "s", root, input(), "url", 4)(identity)
    res.ledger.foreach { e =>
      assert(e.stage == "s")
      assert(e.bucket >= 0 && e.bucket < 4)
      assert(e.rows > 0 && e.wallMs > 0 && e.completedAtMs > 0)
    }
    // per-bucket rows are REAL counts (sum to input size), not an even split
    assert(res.ledger.map(_.rows).sum == 200L)
    assert(res.ledger.map(_.rows).distinct.size > 1,
      "per-bucket rows look fabricated (all equal)")
    val files = Files.list(Paths.get(s"$root/s/_ledger")).toArray.map(_.toString)
      .filter(f => f.split("/").last.startsWith("bucket-")).sorted // skip .crc sidecars
    assert(files.length == 4)
    files.foreach { f =>
      val line = Files.readString(Paths.get(f)).trim
      assert(line.startsWith("{") && line.endsWith("}"))
    }
    rmTree(Paths.get(root))
  }

  test("resume with a key-rewriting transform aborts before the write commit") {
    // key rewrites only become dangerous on RESUME: migrated rows would
    // silently clobber already-committed buckets (the ADVICE.md finding).
    // On a first full run every bucket is pending, so nothing can migrate.
    // The violation must fail IN the write tasks, aborting the job before
    // the dynamic-overwrite commit — a post-write driver check would
    // detect the clobbering only after committed buckets were replaced.
    val root = tmpRoot()
    Checkpoint.runStage(spark, "bad", root, input(), "url", 8)(identity)
    val before = spark.read.parquet(s"$root/bad/data")
      .filter(!col("p_bucket").isin(0, 1)).count()
    (0 to 1).foreach { b =>
      Files.delete(Paths.get(f"$root/bad/_ledger/bucket-$b%05d.json"))
    }
    val e = intercept[Exception] {
      Checkpoint.runStage(spark, "bad", root, input(), "url", 8)(
        df => df.withColumn("url", concat(col("url"), lit("-rewritten"))))
    }
    assert(e.getMessage.contains("outside the pending"), e.getMessage)
    // the lost buckets were NOT ledger-committed by the failed resume...
    assert(Checkpoint.readLedger(spark, root, "bad").size == 6)
    // ...and the committed buckets' DATA is intact: the aborted job never
    // reached its output commit, so no partition was overwritten
    val after = spark.read.parquet(s"$root/bad/data")
      .filter(!col("p_bucket").isin(0, 1))
    assert(after.count() == before)
    assert(after.filter(col("url").contains("-rewritten")).count() == 0L,
      "aborted resume leaked rewritten rows into committed buckets")
    rmTree(Paths.get(root))
  }

  test("resume under a different bucket count is refused") {
    // An 8-bucket ledger resumed with nBuckets=32 would treat buckets
    // 0-7 as done under the NEW modulus and recompute every row whose
    // hash%32 lands in 8-31 — silent ~1.75x duplication. The pin must
    // refuse before any work happens, and the original count must still
    // resume cleanly afterwards.
    val root = tmpRoot()
    Checkpoint.runStage(spark, "s", root, input(), "url", 8)(identity)
    val e = intercept[IllegalArgumentException] {
      Checkpoint.runStage(spark, "s", root, input(), "url", 32)(identity)
    }
    assert(e.getMessage.contains("nBuckets=8"), e.getMessage)
    // ledger untouched by the refused run; original count still resumes
    assert(Checkpoint.readLedger(spark, root, "s").size == 8)
    val res = Checkpoint.runStage(spark, "s", root, input(), "url", 8)(identity)
    assert(res.processedBuckets.isEmpty && res.skippedBuckets.size == 8)
    rmTree(Paths.get(root))
  }

  test("stage whose pending buckets produce zero rows still reads back") {
    val root = tmpRoot()
    import spark.implicits._
    val empty = input().filter(col("v") < -1)
    val res = Checkpoint.runStage(spark, "s", root, empty, "url", 4)(identity)
    assert(res.output.count() == 0L)
    assert(res.ledger.size == 4 && res.ledger.forall(_.rows == 0L))
    rmTree(Paths.get(root))
  }

  test("a stage committed with zero rows in every bucket resumes without its transform") {
    val root = tmpRoot()
    val empty = input().filter(col("v") < -1)
    var calls = 0
    def run() = Checkpoint.runStage(spark, "s", root, empty, "url", 4) { df => calls += 1; df }
    val first = run()
    assert(first.output.count() == 0L && calls == 1)
    // no data file exists to infer a schema from; the full resume reads
    // the pinned one and never calls the transform
    val again = run()
    assert(again.processedBuckets.isEmpty && again.skippedBuckets.size == 4)
    assert(again.output.count() == 0L && calls == 1, s"transform ran $calls times")
    assert(again.output.schema == first.output.schema)
    rmTree(Paths.get(root))
  }

  test("attempt reduction keeps only the last successful attempt of each partition") {
    import Checkpoint.TaskCount
    // partition 0 succeeded twice (a retry, or a speculative copy that
    // also finished) with different counts; partition 1 once, over two keys
    val counts = Seq(
      TaskCount(partition = 0, attempt = 0, key = 1, rows = 5, wallMs = 10),
      TaskCount(partition = 1, attempt = 0, key = 1, rows = 3, wallMs = 4),
      TaskCount(partition = 0, attempt = 1, key = 1, rows = 7, wallMs = 12),
      TaskCount(partition = 1, attempt = 0, key = 2, rows = 2, wallMs = 1))
    assert(Checkpoint.lastAttemptTotals(counts) == Map(1 -> (10L, 16L), 2 -> (2L, 1L)))
    assert(Checkpoint.lastAttemptTotals(Nil).isEmpty)
  }

  test("read-back schema equals a plain read when the transform appends columns after p_bucket") {
    // the dedup stage's shape: keep/dup_of land after p_bucket in the
    // transform's schema, while a partitioned read puts p_bucket last
    val root = tmpRoot()
    val res = Checkpoint.runStage(spark, "s", root, input(), "url", 4)(df =>
      df.withColumn("keep", col("v") % 2 === 0)
        .withColumn("dup_of", when(col("keep"), lit(null).cast("string")).otherwise(col("url"))))
    val plain = spark.read.parquet(s"$root/s/data").schema
    assert(res.output.schema == plain, s"${res.output.schema} != $plain")
    assert(res.output.columns.toSeq == Seq("url", "v", "keep", "dup_of", "p_bucket"))
    assert(res.output.count() == 200L)
    // a full resume reads the same columns back
    val again = Checkpoint.runStage(spark, "s", root, input(), "url", 4)(identity)
    assert(again.processedBuckets.isEmpty && again.output.schema == plain)
    rmTree(Paths.get(root))
  }

  test("once computes an artifact until its commit marker exists") {
    import spark.implicits._
    val root = tmpRoot()
    var computed = 0
    def artifact() = Checkpoint.once(spark, s"$root/a") { computed += 1; Seq(1, 2, 3).toDF("x") }
    assert(artifact().count() == 3L && computed == 1)
    assert(Files.readString(Paths.get(s"$root/a.commit")) == "committed\n")
    assert(artifact().count() == 3L && computed == 1, "a committed artifact was recomputed")
    Files.delete(Paths.get(s"$root/a.commit"))
    assert(artifact().count() == 3L && computed == 2, "a lost marker must recompute")
    rmTree(Paths.get(root))
  }
}
