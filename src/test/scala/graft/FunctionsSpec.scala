package graft

import graft.core.Edist
import graft.functions.{BoundedLevenshtein, Lev, Metrics}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom function surface (SURVEY §2.10): the banded-Levenshtein Catalyst
  * expression and the CER/WER Aggregators.
  */
class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  test("Lev.bounded == min(levenshtein, bound+1) (1000 random cases)") {
    val rng = new scala.util.Random(42)
    def rs(): String = Seq.fill(rng.nextInt(12))("abcd".charAt(rng.nextInt(4))).mkString
    (1 to 1000).foreach { _ =>
      val a = rs(); val b = rs(); val k = rng.nextInt(6)
      assert(Lev.bounded(a, b, k) == math.min(Edist.levenshtein(a, b), k + 1),
        s"a=$a b=$b k=$k")
    }
  }

  test("graft_lev_bounded expression works in SQL and stays in codegen") {
    graft.functions.SqlFunctions.register(spark)
    import spark.implicits._
    val df = Seq(("kitten", "sitting"), ("abc", "abc"), ("aaaa", "zzzz"))
      .toDF("a", "b")
      .select(col("a"), col("b"), expr("graft_lev_bounded(a, b, 2)").as("d"))
    val rows = df.collect().map(r => (r.getString(0), r.getInt(2))).toMap
    assert(rows("kitten") == 3) // true distance 3 > bound 2 -> cap 3
    assert(rows("abc") == 0)
    assert(rows("aaaa") == 3)
  }

  test("bounded lev agrees with full DP as a dedup predicate over real data") {
    graft.functions.SqlFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select(col("n_name"))
    val pairs = docs.crossJoin(docs.withColumnRenamed("n_name", "m_name"))
      .select(col("n_name"), col("m_name"),
        expr("graft_lev_bounded(n_name, m_name, 3)").as("bd"),
        least(levenshtein(col("n_name"), col("m_name")), lit(4)).as("ref"))
    assert(pairs.filter(col("bd") =!= col("ref")).count() == 0)
    // over a real scan the expression must stay inside whole-stage codegen
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"expression fell out of codegen:\n$plan")
  }

  test("graft_cosine is bitwise-equal to the HOF fold it replaced, float and double") {
    graft.functions.SqlFunctions.register(spark)
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "f")
      .withColumn("d", expr("transform(f, x -> cast(x as double))"))
    val hofF =
      expr("""aggregate(zip_with(transform(f, x -> cast(x as double)),
             |               transform(reverse(f), x -> cast(x as double)),
             |               (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)""".stripMargin) /
        (sqrt(expr("aggregate(transform(f, x -> cast(x as double) * cast(x as double)), cast(0 as double), (acc, x) -> acc + x)")) *
          sqrt(expr("aggregate(transform(reverse(f), x -> cast(x as double) * cast(x as double)), cast(0 as double), (acc, x) -> acc + x)")))
    val rows = df
      .withColumn("hof", hofF)
      .withColumn("exF", expr("graft_cosine(f, reverse(f))"))
      .withColumn("exD", expr("graft_cosine(d, reverse(d))"))
      .collect()
    rows.foreach { r =>
      val hof = r.getAs[Double]("hof")
      assert(java.lang.Double.doubleToLongBits(hof) ==
        java.lang.Double.doubleToLongBits(r.getAs[Double]("exF")),
        s"float kernel differs: $hof vs ${r.getAs[Double]("exF")}")
      assert(java.lang.Double.doubleToLongBits(hof) ==
        java.lang.Double.doubleToLongBits(r.getAs[Double]("exD")),
        s"double kernel differs")
    }
  }

  test("graft_cosine/graft_sqdist return NULL for ragged or null-element arrays, like the HOFs") {
    graft.functions.SqlFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_cosine(array(1.0D, 2.0D), array(1.0D)) AS ragged,
        |  graft_cosine(array(1.0D, cast(null as double)), array(1.0D, 2.0D)) AS nullelem,
        |  graft_sqdist(array(1.0D, 2.0D), array(1.0D)) AS raggedsq,
        |  aggregate(zip_with(array(1.0D, 2.0D), array(1.0D), (x, y) -> x * y),
        |            cast(0 as double), (acc, x) -> acc + x) AS hof_ref""".stripMargin)
      .collect()(0)
    (0 to 3).foreach(i => assert(r.isNullAt(i), s"col $i should be NULL"))
  }

  test("graft_cosine stays inside whole-stage codegen over a parquet scan") {
    graft.functions.SqlFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("graft_cosine(embedding, embedding)").as("c"))
    assert(emb.filter(col("c").isNaN === false).count() > 0)
    val plan = emb.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"expression fell out of codegen:\n$plan")
  }

  test("graft_hashtf matches the relational md5-bucket spelling exactly") {
    graft.functions.SqlFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
      .select(col("doc_id"),
        expr("graft_hashtf(split(text, ' '))").as("fast"),
        // the O(dim*T) higher-order spelling the kernel replaces — and the
        // exact formula the q53 DuckDB oracle recomputes
        expr("""transform(sequence(0, 63), b -> cast(size(filter(
          split(text, ' '), t -> length(t) > 0 and
          pmod(cast(conv(substring(md5(to_binary(t, 'utf-8')), 1, 8), 16, 10) as bigint), 64) = b)) as double))""")
          .as("slow"))
    assert(docs.filter(col("fast") =!= col("slow")).count() == 0)
    // stays inside whole-stage codegen over a parquet scan
    val fastOnly = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(expr("graft_hashtf(split(text, ' '))").as("v"))
    fastOnly.collect()
    val plan = fastOnly.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"expression fell out of codegen:\n$plan")
  }

  test("graft_minhash8 matches the explode+groupBy relational spelling exactly") {
    graft.functions.SqlFunctions.register(spark)
    import spark.implicits._
    // real corpus text + crafted edges: empty, sub-shingle-length,
    // exactly-12-char, multi-byte (char-based substring), stride tail
    val edges = Seq("", "short", "exactly12ch!", "héllo wörld ünïcode té",
      "a" * 11, "a" * 12, "a" * 13, "ab" * 40).zipWithIndex
      .map { case (t, i) => (1000000L + i, t) }.toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).select(col("doc_id").cast("long"), col("text")).union(edges)
    val fast = docs.select(col("doc_id"), expr("graft_minhash8(text)").as("mh"))
    // the exchange-paying spelling the kernel replaces — and the exact
    // formula the q18/q50/q51 DuckDB oracles recompute
    val slow = docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(length(text) - 11, 1), 7), i -> substring(text, i, 12))"
      )).as("sh"))
      .groupBy(col("doc_id"))
      .agg(array((0 to 7).map(j =>
        min(md5(to_binary(concat(lit(j + ":"), col("sh")), lit("utf-8"))))): _*).as("mh"))
    assert(fast.join(slow, "doc_id")
      .filter(fast("mh") =!= slow("mh")).count() == 0)
    assert(fast.filter(expr("graft_minhash8(text)").isNull).count() == 0)
    // null text -> null signature
    val nulls = Seq(("n1", null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(expr("graft_minhash8(text)").as("mh"))
    assert(nulls.head().isNullAt(0))
    // stays inside whole-stage codegen over a parquet scan, and the
    // h-column extraction evaluates the kernel ONCE (CollapseProject must
    // not inline the non-cheap producer into 8 copies)
    val extracted = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("_mh", expr("graft_minhash8(text)"))
      .select((0 to 7).map(j => col("_mh").getItem(j).as(s"h$j")): _*)
    extracted.collect()
    val plan = extracted.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"expression fell out of codegen:\n$plan")
    val occurrences = "graft_minhash8|minhashsig".r
      .findAllIn(plan.toLowerCase).length
    assert(occurrences <= 1, s"kernel duplicated $occurrences times:\n$plan")
  }

  test("graft_hashtf skips empties/nulls, honors dim, nulls through") {
    graft.functions.SqlFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (1, Seq("a", "", "a")), // empty token skipped, 'a' counted twice
      (2, Seq.empty[String]),
      (3, null.asInstanceOf[Seq[String]])
    ).toDF("id", "toks")
      .select(col("id"), expr("graft_hashtf(toks, 8)").as("v"))
    val rows = df.collect().map(r => r.getInt(0) ->
      Option(r.getSeq[Double](1))).toMap
    assert(rows(1).get.sum == 2.0 && rows(1).get.length == 8)
    assert(rows(2).get.sum == 0.0)
    assert(rows(3).isEmpty) // null array -> null embedding
  }

  test("CER aggregator matches the reference formula") {
    import spark.implicits._
    val ds = Seq(("abc", "abd"), ("hello", "hello"), ("xy", "xyz")).toDS()
    val cer = ds.select(Metrics.cer.toColumn).head()
    // edits = 1 + 0 + 1 = 2; gt chars = 3 + 5 + 3 = 11
    assert(math.abs(cer - 2.0 / 11.0) < 1e-12)
  }

  test("WER aggregator matches wer/cli.py counting") {
    import spark.implicits._
    val ds = Seq(
      ("the cat sat", "the cat sat"), // 0/3
      ("the dog sat", "the cat sat"), // 1/3
      ("one two", "one two three")    // 1/3 (missing token counts wrong)
    ).toDS()
    val wer = ds.select(Metrics.wer.toColumn).head()
    assert(math.abs(wer - 2.0 / 9.0) < 1e-12)
  }
}

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("optimizer rule rewrites bounded levenshtein predicates to the banded kernel") {
    import org.apache.spark.sql.functions._
    graft.plans.BoundedLevPredicateRewrite.inject(spark)
    // parquet-backed source: a local Seq would be constant-folded to a
    // LocalRelation before the plan can show the rewrite
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .crossJoin(spark.read.parquet("/root/testdata/sf0.001/region.parquet"))
      .select(org.apache.spark.sql.functions.col("n_name").as("a"),
        org.apache.spark.sql.functions.col("r_name").as("b"))
    val q = df.filter(levenshtein(col("a"), col("b")) <= 2)
    val opt = q.queryExecution.optimizedPlan.toString.toLowerCase
    assert(opt.contains("boundedlevenshtein") || opt.contains("graft_lev_bounded"),
      s"predicate not rewritten:\n$opt")
    // identical results to the unbounded predicate (banded kernel returns
    // min(d, k+1), so the comparison outcome matches for every row)
    val expected = df.collect().filter(r =>
      graft.core.Edist.levenshtein(r.getString(0), r.getString(1)) <= 2)
      .map(_.getString(0)).sorted.toSeq
    assert(q.collect().map(_.getString(0)).sorted.toSeq == expected)
    // strict and reversed comparison shapes too
    val q2 = df.filter(levenshtein(col("a"), col("b")) < 2)
    assert(q2.queryExecution.optimizedPlan.toString.toLowerCase.contains("boundedlevenshtein"))
    assert(q2.collect().map(_.getString(0)).sorted.toSeq ==
      df.collect().filter(r =>
        graft.core.Edist.levenshtein(r.getString(0), r.getString(1)) < 2)
        .map(_.getString(0)).sorted.toSeq)
    val q3 = df.filter(levenshtein(col("a"), col("b")) > 2)
    assert(q3.collect().map(_.getString(0)).sorted.toSeq ==
      df.collect().filter(r =>
        graft.core.Edist.levenshtein(r.getString(0), r.getString(1)) > 2)
        .map(_.getString(0)).sorted.toSeq)
  }

  test("GraftExtensions installs the rule and the SQL function") {
    // records the names GraftExtensions injects
    val injected = scala.collection.mutable.Buffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new graft.plans.GraftExtensions()(ext) // must register without throwing
    assert(injected.sorted == Seq("graft_cosine", "graft_hashtf", "graft_lev_bounded",
      "graft_minhash8", "graft_sqdist"))
    // the banded kernel agrees with full levenshtein below the bound and
    // caps at bound+1 above it
    assert(graft.functions.Lev.bounded("kitten", "sitting", 3) == 3)
    assert(graft.functions.Lev.bounded("aaaaaaaaaa", "bbbbbbbbbb", 3) == 4)
  }
}
