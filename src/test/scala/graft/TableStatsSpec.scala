package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's per-(dir, table) stats memo behind `tp`'s scan
  * repartition decision, the memoized row count and the memoized schema
  * every table scan reads with.
  */
class TableStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** (Re)write `dir/documents.parquet` with `rows` rows (plus the `extra`
    * column expressions) and pin the directory's mtime, so each rewrite is
    * a distinct table version regardless of the filesystem's timestamp
    * granularity.
    */
  private def writeDocs(dir: String, rows: Int, mtimeMs: Long, extra: String*): Unit = {
    spark.range(rows).selectExpr(Seq("id AS doc_id", "repeat('x', 40) AS text") ++ extra: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Files.setLastModifiedTime(Paths.get(s"$dir/documents.parquet"),
      FileTime.fromMillis(mtimeMs))
  }

  private def repartitioned(dir: String, name: String): Boolean =
    SparkEntry.tp(spark, dir, name).queryExecution.logical
      .collectFirst { case r: Repartition => r }.isDefined

  test("a rewritten table is re-measured, in its one memo entry") {
    val dir = Files.createTempDirectory("graft-tablestats").toString
    writeDocs(dir, 10, 1000000L)
    // a one-file table on local[4] is parallelism-starved: spread it
    assert(repartitioned(dir, "documents"))
    assert(SparkEntry.cachedCount(spark, dir, "documents") == 10)
    val first = SparkEntry.tableStats((dir, "documents"))
    assert(first.mtime == 1000000L && first.rows.contains(10L) && first.bytes.isDefined)

    writeDocs(dir, 5000, 2000000L)
    assert(SparkEntry.cachedCount(spark, dir, "documents") == 5000)
    assert(repartitioned(dir, "documents"))
    val second = SparkEntry.tableStats((dir, "documents"))
    assert(second.mtime == 2000000L && second.rows.contains(5000L))
    assert(second.bytes.exists(_ > first.bytes.get), s"stale size: $first -> $second")
  }

  test("a table whose size cannot be read gets the plain scan and no memo entry") {
    val dir = Files.createTempDirectory("graft-tablestats-missing").toString
    assert(SparkEntry.scanRepartition(spark, dir, "documents").isEmpty)
    assert(!SparkEntry.tableStats.contains((dir, "documents")))
  }

  test("the memo holds one entry per table after repeated rewrites") {
    val dir = Files.createTempDirectory("graft-tablestats-rewrites").toString
    (1 to 4).foreach { k =>
      writeDocs(dir, 10 * k, 1000000L * k)
      SparkEntry.tp(spark, dir, "documents")
      assert(SparkEntry.cachedCount(spark, dir, "documents") == 10L * k)
    }
    assert(SparkEntry.tableStats.keys.count(_._1 == dir) == 1)
    val last = SparkEntry.tableStats((dir, "documents"))
    assert(last.mtime == 4000000L && last.rows.contains(40L) && last.bytes.isDefined)
  }

  test("a memo hit builds the scan with no Spark job") {
    val dir = Files.createTempDirectory("graft-tablestats-schema").toString
    writeDocs(dir, 10, 1000000L)
    val (_, inferJobs) = SparkTestSession.jobsDuring(SparkEntry.t(spark, dir, "documents"))
    assert(inferJobs >= 1, "the first read infers the schema with a job")
    assert(SparkEntry.tableStats((dir, "documents")).schema.isDefined)
    val (df, hitJobs) = SparkTestSession.jobsDuring(SparkEntry.t(spark, dir, "documents"))
    assert(hitJobs == 0, s"a memoized read started $hitJobs jobs")
    assert(df.columns.toSeq == Seq("doc_id", "text") && df.count() == 10)
  }

  test("a rewrite that adds a column shows the new column") {
    val dir = Files.createTempDirectory("graft-tablestats-addcol").toString
    writeDocs(dir, 10, 1000000L)
    assert(SparkEntry.t(spark, dir, "documents").columns.toSeq == Seq("doc_id", "text"))
    writeDocs(dir, 7, 2000000L, "id * 2 AS n")
    val df = SparkEntry.t(spark, dir, "documents")
    assert(df.columns.toSeq == Seq("doc_id", "text", "n"))
    assert(df.selectExpr("sum(n)").first().getLong(0) == 42L)
    assert(SparkEntry.tableStats.keys.count(_._1 == dir) == 1)
  }
}
