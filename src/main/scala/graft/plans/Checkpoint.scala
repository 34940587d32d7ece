package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Writes a one-line file with a single atomic create. */
  private def createSmall(f: FileSystem, p: Path, line: String): Unit = {
    val out = f.create(p, true)
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
    } else createSmall(f, p, value)
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
    createSmall(fs(spark, root),
      new Path(ledgerDir(root, stage), f"bucket-${e.bucket}%05d.json"), renderEntry(e))
  }

  /** Run one resumable stage.
    *
    * @param stage    stage name (output dir + ledger key)
    * @param root     checkpoint root (any Hadoop FS: local, HDFS, S3)
    * @param in       input rows
    * @param keyCol   column whose hash defines the bucket (e.g. "url")
    * @param nBuckets bucket count — the resume granularity; at cluster
    *                 scale set ≈ executors × a small factor
    * @param f        the stage transform. CONTRACT: it must keep `keyCol`
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

    var outSchema: org.apache.spark.sql.types.StructType = null
    if (todo.nonEmpty) {
      val bucketOf = pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int")
      // resume filter FIRST (prune completed buckets before any work),
      // then the stage transform, then per-bucket dynamic overwrite
      val pending = in.withColumn("p_bucket", bucketOf)
        .filter(col("p_bucket").isin(todo: _*))
      // cluster rows by bucket before the partitioned write: otherwise
      // every task opens a parquet writer per bucket it sees (tasks x
      // buckets writer inits — the classic dynamic-partitioning write
      // explosion); clustered, each bucket is written by few tasks
      val transformed = f(pending)
        .withColumn("p_bucket", bucketOf)
        .repartition(nBuckets, col("p_bucket"))
      outSchema = transformed.schema

      // per-bucket stats from inside the write job: rows per bucket and
      // task wall attributed to each bucket proportionally by row count.
      // Stats carry (partitionId, attempt) because accumulators in
      // TRANSFORMATIONS are not retry-exactly-once: a retried task adds
      // its tuples again. Only SUCCESSFUL attempts emit (a failed or
      // speculatively-killed task's completion listener still fires, and
      // its PARTIAL counts must not displace a committed attempt's), and
      // the driver then keeps one attempt per partition — any successful
      // attempt saw the full partition, so their counts are identical.
      val statsAcc = spark.sparkContext
        .collectionAccumulator[(Int, Int, Int, Long, Long)](s"graft.ledger.$stage")
      val todoSet = todo.toSet
      val bIdx = transformed.schema.fieldIndex("p_bucket")
      val enc = Encoders.row(transformed.schema)
      val stageName = stage; val keyName = keyCol
      val tracked = transformed.mapPartitions { it =>
        val t0 = System.currentTimeMillis()
        val counts = scala.collection.mutable.HashMap.empty[Int, Long]
        val tc = Option(TaskContext.get())
        val pid = tc.map(_.partitionId()).getOrElse(0)
        val att = tc.map(_.attemptNumber()).getOrElse(0)
        tc.foreach(_.addTaskCompletionListener[Unit] { ctx =>
          if (!ctx.isFailed() && !ctx.isInterrupted()) {
            val wall = System.currentTimeMillis() - t0
            val total = counts.values.sum.max(1L)
            counts.foreach { case (b, n) =>
              statsAcc.add((pid, att, b, n, math.max(1L, wall * n / total)))
            }
          }
        })
        it.map { r =>
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
              s"stage '$stageName': row bucket $b is outside the pending " +
                s"set — the transform rewrote '$keyName' values")
          counts(b) = counts.getOrElse(b, 0L) + 1L
          r
        }
      }(enc)

      tracked.write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_bucket")
        .parquet(out)

      // keep one (the last) successful attempt per partition
      val lastAttempt = new scala.collection.mutable.HashMap[Int, Int]()
      statsAcc.value.forEach { case (pid, att, _, _, _) =>
        if (att > lastAttempt.getOrElse(pid, -1)) lastAttempt(pid) = att
      }

      val stats = new scala.collection.mutable.HashMap[Int, (Long, Long)]()
      statsAcc.value.forEach { case (pid, att, b, n, w) =>
        if (att == lastAttempt.getOrElse(pid, 0)) {
          val (pn, pw) = stats.getOrElse(b, (0L, 0L))
          stats(b) = (pn + n, pw + w)
        }
      }
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
    }

    // read back with a guard for the all-buckets-empty case, where the
    // partitioned write leaves no parquet data files to infer from
    val output =
      if (fs(spark, root).exists(new Path(out))) {
        try spark.read.parquet(out)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if outSchema != null && e.getMessage.contains("infer") =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
        }
      } else if (outSchema != null) {
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
      } else {
        throw new IllegalStateException(
          s"stage '$stage': no data and no ledger — nothing was ever written")
      }

    StageResult(
      output,
      todo,
      all.filter(done).toSeq,
      readLedger(spark, root, stage))
  }
}
