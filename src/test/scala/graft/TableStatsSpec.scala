package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's per-(dir, table) stats memo behind `tp`'s scan
  * repartition decision and the memoized row count.
  */
class TableStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** (Re)write `dir/documents.parquet` with `rows` rows and pin the
    * directory's mtime, so each rewrite is a distinct table version
    * regardless of the filesystem's timestamp granularity.
    */
  private def writeDocs(dir: String, rows: Int, mtimeMs: Long): Unit = {
    spark.range(rows).selectExpr("id AS doc_id", "repeat('x', 40) AS text")
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
}
