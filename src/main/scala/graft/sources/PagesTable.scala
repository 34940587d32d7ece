package graft.sources

import graft.core.PageRow
import graft.plans.Checkpoint
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The Pages storage layout — the Iceberg-style table the engine scans at
  * 10^12 rows (BASELINE.json input_hint), emulated with hidden-partition
  * columns over plain Parquet since no Iceberg runtime jar ships offline
  * (SURVEY §7.4):
  *
  *   root/p_day=[days since epoch]/p_bucket=[Checkpoint.bucketOf(url, N)]/part-....parquet
  *
  * `p_day` gives time-range partition pruning (Iceberg's `days(warc_ts)`
  * transform); `p_bucket` gives url-bucket co-location (Iceberg's
  * `bucket(url, N)`), so per-url operations and the checkpoint ledger
  * align with storage. A JSON manifest records the layout + row count
  * (the snapshot-metadata role). On a real cluster this maps onto an
  * Iceberg table with the same two hidden partitions — a catalog config
  * change, not a code change.
  */
object PagesTable {

  val defaultBuckets = 32

  /** Hidden partition columns derived from data columns (never stored in
    * the logical schema the engine queries).
    */
  private def withPartitions(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("p_day", datediff(to_date(col("warc_ts")), lit("1970-01-01")))
      .withColumn("p_bucket", Checkpoint.bucketOf(col("url"), buckets))

  def write(pages: Dataset[PageRow], root: String, buckets: Int = defaultBuckets): Unit = {
    val spark = pages.sparkSession
    val df = withPartitions(pages.toDF(), buckets)
      // cluster by partition tuple: one writer per (day, bucket) instead of
      // tasks x partitions writer inits
      .repartition(col("p_day"), col("p_bucket"))
    // manifest row count from the SAME job as the write — re-reading the
    // table just to count paid a second full scan
    val (counted, totals) = Checkpoint.countRows(df, "pagesTableRows")(_ => 0)
    counted.write.mode(SaveMode.Overwrite)
      .partitionBy("p_day", "p_bucket")
      .parquet(s"$root/data")
    val rows = totals().get(0).fold(0L)(_._1)
    // one atomic create, like a ledger entry: root may be HDFS/S3
    Checkpoint.createSmall(spark, s"$root/manifest.json",
      s"""{"format":"pages-table-v1","buckets":$buckets,"partitioning":["days(warc_ts)","bucket(url,$buckets)"],"rows":$rows}""")
  }

  /** Scan returning the logical schema; partition columns stay available
    * for pruning predicates and are dropped by `logical`.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/data")

  def logical(spark: SparkSession, root: String): Dataset[PageRow] = {
    import spark.implicits._
    read(spark, root)
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[PageRow]
  }

  /** Time-range scan — pushes a `p_day` predicate so only matching
    * partition directories are listed/read (partition pruning).
    */
  def scanDays(spark: SparkSession, root: String, fromDay: Int, toDay: Int): DataFrame =
    read(spark, root).filter(col("p_day") >= fromDay && col("p_day") <= toDay)

  /** Bucket scan — a single url-bucket (co-located with checkpoint
    * buckets when the same bucket count is used).
    */
  def scanBucket(spark: SparkSession, root: String, bucket: Int): DataFrame =
    read(spark, root).filter(col("p_bucket") === bucket)
}
