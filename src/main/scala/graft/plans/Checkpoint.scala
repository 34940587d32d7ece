package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Per-partition checkpoint ledger — the engine's resume substrate.
  *
  * The reference resumes a pipeline by skipping any stage whose output
  * file group already exists (ocrd_cis/aio/aio.py:269-271,296-298,385-387:
  * `if "OCR-D-..." in mets: continue`). At 10^12 rows the unit of resume
  * must be finer than a whole stage, so this module re-expresses that
  * semantics per *bucket*: rows are hash-bucketed on the stage key, each
  * bucket commits independently (dynamic partition overwrite = exactly-once
  * per bucket), and a ledger records bucket id, row count and wall time —
  * the lineage + throughput metrics the north rule asks every stage to
  * emit. A rerun anti-joins completed buckets away and processes only the
  * remainder; a bucket that crashed mid-write is rewritten wholesale (its
  * ledger entry was never committed).
  *
  * Cluster-real by construction:
  *  - all ledger I/O goes through the Hadoop FileSystem API, so `root`
  *    may live on HDFS/S3/local alike;
  *  - the ledger is ONE SMALL FILE PER BUCKET (`_ledger/bucket-N.json`),
  *    each committed with a single atomic create — no whole-file rewrite
  *    (no O(buckets²) cost, safe on object stores where only single-file
  *    puts are atomic);
  *  - per-bucket row counts and wall times come from task-side
  *    accumulators inside the SAME job as the write — no extra
  *    persist+count pass over the data.
  *
  * This object is the one copy of the commit protocol: the bucket hash
  * ([[bucketOf]]), the retry-safe in-job row count ([[countRows]]), the
  * one-line atomic create and the committed-once artifact ([[once]]).
  * [[graft.sources.PagesTable]] and the near-dup stage of
  * [[graft.pipeline.Pipeline.runCheckpointed]] call them rather than
  * restating them.
  *
  * Emulates the Iceberg snapshot/manifest contract with plain partitioned
  * Parquet + manifest files (SURVEY.md §7.4) since no Iceberg runtime jar
  * ships offline; on a real cluster the same API maps onto an Iceberg
  * table with `overwrite-partitions`.
  */
object Checkpoint {

  final case class BucketEntry(
      stage: String,
      bucket: Int,
      rows: Long,
      wallMs: Long,
      completedAtMs: Long
  )

  final case class StageResult(
      output: DataFrame,
      processedBuckets: Seq[Int],
      skippedBuckets: Seq[Int],
      ledger: Seq[BucketEntry]
  )

  private def ledgerDir(root: String, stage: String) = s"$root/$stage/_ledger"
  private def dataPath(root: String, stage: String) = s"$root/$stage/data"
  private def schemaPath(root: String, stage: String) = s"$root/$stage/_schema.json"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readLedger(spark: SparkSession, root: String, stage: String): Seq[BucketEntry] = {
    val dir = new Path(ledgerDir(root, stage))
    val f = fs(spark, root)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.startsWith("bucket-"))
      .sortBy(_.getPath.getName)
      .map(s => parseEntry(readSmall(f, s.getPath).trim))
  }

  private def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Writes a one-line file with a single atomic create (atomic on object
    * stores too, where only single-file puts are).
    */
  private[graft] def createSmall(spark: SparkSession, path: String, line: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(s"$line\n".getBytes("UTF-8")) finally out.close()
  }

  /** Pins `value` in the file `p` on first run; on a rerun, refuses any
    * other value with `refusal(pinned)`.
    */
  private def pin(spark: SparkSession, p: Path, value: String)(
      refusal: String => String): Unit = {
    val f = fs(spark, p.toString)
    if (f.exists(p)) {
      val pinned = readSmall(f, p).trim
      require(pinned == value, refusal(pinned))
    } else createSmall(spark, p.toString, value)
  }

  // hand-rolled fixed-schema JSON (no external json dep in main)
  private def renderEntry(e: BucketEntry): String =
    s"""{"stage":"${e.stage}","bucket":${e.bucket},"rows":${e.rows},""" +
      s""""wallMs":${e.wallMs},"completedAtMs":${e.completedAtMs}}"""

  private def parseEntry(line: String): BucketEntry = {
    def field(k: String): String = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":\"?([^,}\"]*)").matcher(line)
      require(m.find(), s"bad ledger line: $line")
      m.group(1)
    }
    BucketEntry(field("stage"), field("bucket").toInt, field("rows").toLong,
      field("wallMs").toLong, field("completedAtMs").toLong)
  }

  /** Pin the stage's bucket count on first run; refuse a resume under a
    * different one. Without this, resuming an 8-bucket ledger with
    * nBuckets=32 would treat buckets 0-7 as done under the NEW hash
    * modulus, recompute rows whose hash%32 lands in 8-31, and leave the
    * output holding ~1.75x the corpus — silent duplication, the worst
    * failure mode a resumable writer can have.
    */
  private def pinBucketCount(spark: SparkSession, root: String,
      stage: String, nBuckets: Int): Unit =
    pin(spark, new Path(ledgerDir(root, stage), "nbuckets"), nBuckets.toString) { pinned =>
      s"stage '$stage' at $root was committed with nBuckets=$pinned; " +
        s"resuming with nBuckets=$nBuckets would recompute rows under a " +
        "different bucket modulus and duplicate already-committed output. " +
        "Use the original bucket count (or a fresh root)."
    }

  /** Pin an opaque run-configuration fingerprint at the root on first
    * run; refuse a resume under a different one. Same failure class as
    * [[pinBucketCount]] one level up: committed buckets hold output
    * computed under the OLD config, pending buckets would be recomputed
    * under the NEW one — one table, two incompatible configs, no error.
    * The caller supplies the canonical string (e.g.
    * [[graft.pipeline.GraftConfig.canonical]]); an empty root adopts it.
    */
  def pinRunConfig(spark: SparkSession, root: String, canonical: String): Unit =
    pin(spark, new Path(root, "_config"), canonical) { pinned =>
      s"checkpoint root $root was committed under config [$pinned]; " +
        s"resuming with [$canonical] would mix per-bucket output from two " +
        "configs. Rerun with the original flags (or a fresh root)."
    }

  /** Commit one bucket's ledger entry: a single atomic file create. */
  private def commitEntry(spark: SparkSession, root: String, stage: String, e: BucketEntry): Unit = {
    createSmall(spark, f"${ledgerDir(root, stage)}/bucket-${e.bucket}%05d.json", renderEntry(e))
  }

  /** The bucket of a row: `pmod(xxhash64(key), n)`. The one spelling of
    * the hash, so a [[graft.sources.PagesTable]] `p_bucket` and a stage's
    * bucket agree whenever the bucket counts do.
    */
  def bucketOf(key: Column, n: Int): Column = pmod(xxhash64(key), lit(n)).cast("int")

  /** One successful task attempt's rows and wall ms for one key. */
  private[graft] final case class TaskCount(partition: Int, attempt: Int, key: Int, rows: Long, wallMs: Long)

  /** Driver-side half of [[countRows]]: keeps the last successful attempt
    * of each partition, then sums rows and wall ms per key. Any successful
    * attempt saw its whole partition, so which one is kept does not change
    * the counts; keeping only one stops a retried or speculative task from
    * being counted twice.
    */
  private[graft] def lastAttemptTotals(counts: Seq[TaskCount]): Map[Int, (Long, Long)] = {
    val last = counts.groupMapReduce(_.partition)(_.attempt)(math.max)
    counts.filter(c => c.attempt == last(c.partition))
      .groupMapReduce(_.key)(c => (c.rows, c.wallMs)) {
        case ((n1, w1), (n2, w2)) => (n1 + n2, w1 + w2)
      }
  }

  /** Counts rows per `key` inside whatever job consumes the returned frame,
    * so a write needs no second pass to learn its size. A task's wall time
    * is split over its keys by row count.
    *
    * Accumulators updated in transformations are not retry-exactly-once: a
    * retried task adds again. So only successful, non-interrupted attempts
    * emit (a failed or speculatively-killed attempt's completion listener
    * still fires, with partial counts), and the returned function reduces
    * them with [[lastAttemptTotals]]. Call it after the job has run.
    */
  def countRows(df: DataFrame, name: String)(
      key: Row => Int): (DataFrame, () => Map[Int, (Long, Long)]) = {
    val acc = df.sparkSession.sparkContext.collectionAccumulator[TaskCount](name)
    val counted = df.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      val counts = scala.collection.mutable.HashMap.empty[Int, Long]
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { ctx =>
        if (!ctx.isFailed() && !ctx.isInterrupted()) {
          val wall = System.currentTimeMillis() - t0
          val total = counts.values.sum.max(1L)
          counts.foreach { case (k, n) =>
            acc.add(TaskCount(ctx.partitionId(), ctx.attemptNumber(), k, n,
              math.max(1L, wall * n / total)))
          }
        }
      })
      it.map { r =>
        val k = key(r)
        counts(k) = counts.getOrElse(k, 0L) + 1L
        r
      }
    }(Encoders.row(df.schema))
    (counted, () => lastAttemptTotals(acc.value.asScala.toSeq))
  }

  /** A committed-once artifact: if `<path>.commit` is absent, writes
    * `compute` to `path` (overwrite), then creates the marker with the same
    * single atomic create as a ledger entry; either way returns the read of
    * `path`. A crash before the marker recomputes the whole artifact. The
    * marker is the engine's own, not Hadoop's `_SUCCESS`: S3A committers
    * and `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` disable
    * that one, which would silently turn "computed once" into "recomputed
    * on every resume".
    */
  def once(spark: SparkSession, path: String)(compute: => DataFrame): DataFrame = {
    val marker = s"$path.commit"
    if (!fs(spark, marker).exists(new Path(marker))) {
      compute.write.mode(SaveMode.Overwrite).parquet(path)
      createSmall(spark, marker, "committed")
    }
    spark.read.parquet(path)
  }

  /** Run one resumable stage.
    *
    * @param stage    stage name (output dir + ledger key)
    * @param root     checkpoint root (any Hadoop FS: local, HDFS, S3)
    * @param in       input rows
    * @param keyCol   column whose hash defines the bucket (e.g. "url")
    * @param nBuckets bucket count — the resume granularity; at cluster
    *                 scale set ≈ executors × a small factor
    * @param f        the stage transform, invoked only when some bucket is
    *                 pending. CONTRACT: it must keep `keyCol`
    *                 in its output and must not rewrite its values — the
    *                 bucket is recomputed after the transform, and a row
    *                 whose key migrated to a bucket outside the pending
    *                 set would otherwise clobber an already-committed
    *                 bucket. Violations are detected task-side and fail
    *                 the stage before any ledger commit.
    */
  def runStage(
      spark: SparkSession,
      stage: String,
      root: String,
      in: DataFrame,
      keyCol: String,
      nBuckets: Int
  )(f: DataFrame => DataFrame): StageResult = {
    pinBucketCount(spark, root, stage, nBuckets)
    val done = readLedger(spark, root, stage).map(_.bucket).toSet
    val all = 0 until nBuckets
    val todo = all.filterNot(done)
    val out = dataPath(root, stage)

    val schemaFile = schemaPath(root, stage)
    val output = if (todo.isEmpty) {
      // full resume: the transform never runs. The schema file the last
      // write left makes a stage whose buckets all hold 0 rows (no data
      // file to infer from) read back too; a root written before the
      // file existed keeps the plain read
      val f = fs(spark, schemaFile)
      if (!f.exists(new Path(schemaFile))) spark.read.parquet(out)
      else spark.read.schema(DataType.fromJson(readSmall(f, new Path(schemaFile)).trim)
        .asInstanceOf[StructType]).parquet(out)
    } else {
      val bucket = bucketOf(col(keyCol), nBuckets)
      // resume filter FIRST (prune completed buckets before any work),
      // then the stage transform, then per-bucket dynamic overwrite
      val pending = in.withColumn("p_bucket", bucket)
        .filter(col("p_bucket").isin(todo: _*))
      // cluster rows by bucket before the partitioned write: otherwise
      // every task opens a parquet writer per bucket it sees (tasks x
      // buckets writer inits — the classic dynamic-partitioning write
      // explosion); clustered, each bucket is written by few tasks
      val transformed = f(pending)
        .withColumn("p_bucket", bucket)
        .repartition(nBuckets, col("p_bucket"))

      // per-bucket rows and wall from inside the write job
      val todoSet = todo.toSet
      val bIdx = transformed.schema.fieldIndex("p_bucket")
      val (tracked, perBucket) = countRows(transformed, s"graft.ledger.$stage") { r =>
        val b = r.getInt(bIdx)
        // key-stability contract check IN the write tasks: a row whose
        // recomputed bucket left the pending set means the transform
        // rewrote the key column, and writing it would dynamically
        // overwrite an already-committed bucket's partition. Failing the
        // task here aborts the job BEFORE the output commit, so
        // committed buckets stay intact (a post-write driver check would
        // detect the clobbering only after it happened).
        if (!todoSet.contains(b))
          throw new IllegalStateException(
            s"stage '$stage': row bucket $b is outside the pending " +
              s"set — the transform rewrote '$keyCol' values")
        b
      }

      tracked.write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_bucket")
        .parquet(out)

      // read back with the write job's schema, laid out as a partitioned
      // read lays it out (data columns, then p_bucket): no inference job,
      // and all-empty pending buckets leave no data file to infer from
      val (parts, data) = transformed.schema.partition(_.name == "p_bucket")
      val schema = StructType(data ++ parts)
      createSmall(spark, schemaFile, schema.json)

      val stats = perBucket()
      val now = System.currentTimeMillis()
      // ledger commit AFTER the data commit: a crash between the two
      // re-processes those buckets (overwrite makes that idempotent)
      todo.foreach { b =>
        // a bucket no task reported rows for is empty: it did no
        // attributable work, so wallMs = 0 (the whole-stage elapsed time
        // here would overstate per-bucket throughput sums ~|buckets|-fold
        // on sparse stages)
        val (rows, wall) = stats.getOrElse(b, (0L, 0L))
        commitEntry(spark, root, stage, BucketEntry(stage, b, rows, wall, now))
      }
      spark.read.schema(schema).parquet(out)
    }

    StageResult(
      output,
      todo,
      all.filter(done).toSeq,
      readLedger(spark, root, stage))
  }
}
