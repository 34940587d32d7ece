package perfbench

import java.sql.Timestamp
import java.time.LocalDateTime

import graft.core.PageRow
import graft.fixtures.PagesGen
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's seeded input generator. Every row is a pure function of
  * (seed, table, index), so the same seed writes the same tables at any
  * partitioning. The program under test only ever sees the written tables
  * (or, for `pipeline_fused`, the `Pipeline.generate` rows the workload is
  * defined over).
  */
object Inputs {

  private def rng(seed: Long, table: Int, i: Long) =
    new java.util.Random(seed * 6364136223846793005L + table * 1442695040888963407L + i * 2654435761L)

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  // ---- the checkpointed Run: a PageRow table with planted exact copies ----

  /** Share of the page table that is an exact copy of another page under a
    * new url: each copy's corrected text equals its original's, so the exact
    * dedup stage keeps exactly `pages` rows.
    */
  val CopyShare = 0.05

  def copies(pages: Long): Long = math.round(pages * CopyShare)

  /** Writes `pages` PagesGen pages plus [[copies]] exact copies under new
    * urls (PageRow schema) to `path`.
    */
  def writePages(spark: SparkSession, path: String, pages: Long, seed: Long, parts: Int): Unit = {
    import spark.implicits._
    spark.range(0L, pages + copies(pages), 1L, parts).map { k =>
      if (k < pages) PagesGen.page(k, seed).row
      else {
        // copy c: a seeded original page under a new url
        val c = k - pages
        val src = (rng(seed, 99, c).nextDouble() * pages).toLong
        val p = PagesGen.page(src, seed).row
        PageRow(s"https://mirror${c % 7}.example/copy$c/p$src",
          new Timestamp(p.warc_ts.getTime + 86400000L), p.html, p.text, p.lang)
      }
    }.write.parquet(path)
  }

  // ---- curation_board: the tables the board's queries read ----

  private val words = IndexedSeq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "the", "vector", "customer", "join")
  private val langs = IndexedSeq("en", "en", "en", "en", "de", "es", "fr", "zh")

  private def docText(r: java.util.Random): String =
    Seq.fill(30 + r.nextInt(50))(words(r.nextInt(words.length))).mkString(" ")

  /** Documents: the first 90% are random-word texts; each of the rest
    * copies one of those, exactly (40%) or with one word replaced (60%).
    * Every duplicate cluster is a star around one original, so the dedup
    * queries find real clusters of the same shape whatever the seed.
    */
  private def documents(seed: Long, n: Int): Iterator[Long] => Iterator[Row] = it => it.map { i =>
    val r = rng(seed, 1, i)
    val originals = math.max(1L, (n * 0.9).toLong)
    val text =
      if (i < originals) docText(r)
      else {
        val ws = docText(rng(seed, 1, (r.nextDouble() * originals).toLong)).split(" ")
        if (r.nextDouble() < 0.6) ws(r.nextInt(ws.length)) = words(r.nextInt(words.length))
        ws.mkString(" ")
      }
    Row(i, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}", text.length.toLong)
  }

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val shipStart = LocalDateTime.of(1992, 1, 1, 0, 0)

  /** Lineitem: 1-7 lines per order, Zipf-skewed part keys (the salted join's
    * hot keys).
    */
  private def lineitem(seed: Long, parts: Int): Iterator[Long] => Iterator[Row] = it => it.flatMap { o =>
    val r = rng(seed, 5, o)
    (1 to 1 + r.nextInt(7)).iterator.map { ln =>
      val qty = (1 + r.nextInt(50)).toDouble
      val partkey = (parts * math.pow(r.nextDouble(), 3)).toLong
      Row(o, partkey, r.nextInt(1000).toLong, ln, qty,
        cents(qty * (900 + partkey % 1000 / 10.0)), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, "NAR".substring(r.nextInt(3)).take(1),
        "OF".substring(r.nextInt(2)).take(1), shipStart.plusDays(r.nextInt(3650)))
    }
  }

  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  private val partWords = IndexedSeq("large", "hot", "ring", "bolt", "steel", "blue", "nut", "small")
  private val partTypes = IndexedSeq("LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO")

  private def part(seed: Long): Iterator[Long] => Iterator[Row] = it => it.map { i =>
    val r = rng(seed, 6, i)
    Row(i, s"${partWords(r.nextInt(8))} ${partWords(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
      partTypes(r.nextInt(partTypes.length)), 1 + r.nextInt(50), cents(900 + (i % 1000) / 10.0))
  }

  private val partSchema = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))

  private def table(spark: SparkSession, n: Long, parts: Int, schema: StructType)(
      rows: Iterator[Long] => Iterator[Row]): DataFrame = {
    val longs = spark.range(0L, n, 1L, parts).rdd.map(_.longValue)
    spark.createDataFrame(longs.mapPartitions(it => rows(it)), schema)
  }

  /** Writes the board's tables as one parquet file each (`<dir>/<name>.parquet`),
    * the layout the queries and their DuckDB oracles read.
    */
  def writeBoardTables(spark: SparkSession, dir: String, seed: Long, parts: Int): Unit = {
    // the row counts of the sf0.1 tier the repository's own query bench
    // reads: 5000 documents, 150k orders' line items (about 600k rows, 1-7
    // per order) over 20k parts
    val (docs, orders, partRows) = (5000, 150000, 20000)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    write("documents", table(spark, docs, parts, documentsSchema)(documents(seed, docs)))
    write("lineitem", table(spark, orders, parts, lineitemSchema)(lineitem(seed, partRows)))
    write("part", table(spark, partRows, parts, partSchema)(part(seed)))
  }
}
