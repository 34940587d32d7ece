package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the q55 repetition gate's row-local stats (the
  * `graft_repetition_stats` kernel; FunctionsSpec checks it against the
  * sorted-array HOF folds it replaced).
  *
  * The DuckDB oracle cross-checks 500 corpus docs, but the synthetic
  * vocabulary is narrow; these tests pin the stats against a plain-Scala
  * reference on adversarial inputs the corpus
  * never produces — empty docs, single tokens, all-identical tokens,
  * and deliberate top-count TIES (where the lexicographically smallest
  * n-gram must win).
  */
class RepetitionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  /** Reference: (top 2-gram string, its count, duplicated-5-gram
    * occurrences) from first principles — hash maps, no sorting tricks.
    */
  private def reference(toks: Seq[String]): (String, Long, Long) = {
    def grams(n: Int): Seq[String] =
      if (toks.length < n) Nil
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    val bg = grams(2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (topBg, topCnt) =
      if (bg.isEmpty) ("", 0L)
      else bg.toSeq.minBy { case (g, c) => (-c, g) } // max count, min string
    val dup5 = grams(5).groupBy(identity).values
      .collect { case occ if occ.size > 1 => occ.size.toLong }.sum
    (topBg, topCnt, dup5)
  }

  private def viaQuery(docs: Seq[(Long, String)]): Map[Long, (String, Long, Long)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rep").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("q55_repetition_filter")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("top_bigram"), r.getAs[Long]("top_bigram_cnt"),
          r.getAs[Long]("dup5_occ"))))
      .toMap
  }

  test("fold matches the reference on adversarial shapes incl. ties") {
    val cases: Seq[Seq[String]] = Seq(
      Seq("x"),                                   // no bigram, no 5-gram
      Seq("a", "a"),                              // one bigram
      Seq.fill(12)("a"),                          // all identical: runs everywhere
      Seq("b", "c", "b", "c", "a", "b", "a", "b"),// tie "a b"=2 vs "b c"=2 -> "a b"
      Seq("z", "y", "x", "w", "v", "z", "y", "x", "w", "v", "z", "y", "x", "w", "v"),
      (1 to 40).map(i => s"t${i % 7}"),           // periodic: dup 5-grams
      Seq("q", "q", "q", "q", "q", "r", "q", "q", "q", "q", "q")
    )
    val rng = new scala.util.Random(7)
    val fuzz = (1 to 30).map { _ =>
      val n = 1 + rng.nextInt(60)
      (1 to n).map(_ => ('a' + rng.nextInt(4)).toChar.toString).toSeq
    }
    val all = (cases ++ fuzz).zipWithIndex.map { case (ts, i) =>
      (i.toLong, ts.mkString(" "))
    }
    val got = viaQuery(all)
    all.foreach { case (id, text) =>
      val exp = reference(text.split(" ").toSeq)
      assert(got(id) == exp, s"doc $id '$text': got ${got(id)}, want $exp")
    }
  }
}
