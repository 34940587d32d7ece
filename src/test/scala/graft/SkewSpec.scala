package graft

import graft.operators.Skew
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salting rewrites must be exact (same results as the unsalted plan) and
  * must actually spread hot keys across salt buckets.
  */
class SkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  // Zipf-ish: key "hot" owns ~90% of rows
  private def skewed() = {
    import spark.implicits._
    spark.range(0, 2000).select(
      when(col("id") % 10 =!= 0, "hot").otherwise(concat(lit("k"), col("id") % 7)).as("key"),
      col("id").as("v"))
  }

  test("saltedAgg equals plain groupBy aggregation") {
    val df = skewed()
    val salted = Skew.saltedAgg(df, col("key"), col("v"), 16)(
      Seq(count(lit(1)).as("c"), sum(col("v")).as("s")),
      Seq(sum(col("c")).as("cnt"), sum(col("s")).as("total")))
      .orderBy(col("key")).collect().map(_.toString)
    val plain = df.groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("total"))
      .orderBy(col("key")).collect().map(_.toString)
    assert(salted.toSeq == plain.toSeq)
  }

  test("saltedJoin equals plain equi-join") {
    import spark.implicits._
    val fact = skewed().withColumnRenamed("key", "fk")
    val dim = Seq(("hot", 100), ("k0", 0), ("k1", 1), ("k2", 2), ("k3", 3),
      ("k4", 4), ("k5", 5), ("k6", 6)).toDF("dk", "dv")
    val plain = fact.join(dim, fact("fk") === dim("dk"))
      .groupBy(col("dk")).agg(count(lit(1)).as("cnt"), sum(col("dv")).as("s"))
      .orderBy(col("dk")).collect().map(_.toString)
    // the default budget broadcasts the dim; -1 takes the salted path
    for (budget <- Seq(spark.conf.get(Threshold), "-1")) withThreshold(budget) {
      val salted = Skew.saltedJoin(fact, dim, "fk", "dk", col("v"), 8)
        .groupBy(col("dk")).agg(count(lit(1)).as("cnt"), sum(col("dv")).as("s"))
        .orderBy(col("dk")).collect().map(_.toString)
      assert(salted.toSeq == plain.toSeq, s"budget $budget")
    }
  }

  test("saltedJoin broadcasts a dim that fits the budget and salts one that does not") {
    import spark.implicits._
    val fact = skewed().withColumnRenamed("key", "fk")
    val dim = Seq(("hot", 100), ("k0", 0)).toDF("dk", "dv")
    // the default budget: one broadcast join on the single key, dim unreplicated
    val small = Skew.saltedJoin(fact, dim, "fk", "dk", col("v"), 8)
    val executed = finalPlan(small)
    assert(executed.collect { case g: GenerateExec => g }.isEmpty, s"dim replicated:\n$executed")
    val bhj = executed.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1 && bhj.head.leftKeys.size == 1, s"not one single-key BHJ:\n$executed")
    // a session that disables broadcasts replicates the dim per salt
    val salted = withThreshold("-1") {
      val df = Skew.saltedJoin(fact, dim, "fk", "dk", col("v"), 8)
      assert(finalPlan(df).collect { case g: GenerateExec => g }.nonEmpty, "salted path not taken")
      df
    }
    assert(small.columns.toSeq == Seq("fk", "v", "dk", "dv"))
    assert(salted.columns.toSeq == small.columns.toSeq)
  }

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val old = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try body finally spark.conf.set(Threshold, old)
  }

  /** The executed plan after a run, AQE stages unwrapped. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    def unwrap(p: SparkPlan): SparkPlan = p.transform {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
    }
    unwrap(df.queryExecution.executedPlan)
  }

  test("salt spreads the hot key across buckets") {
    val df = skewed().withColumn("salt", Skew.saltOf(col("v"), 16))
    val buckets = df.filter(col("key") === "hot")
      .select(col("salt")).distinct().count()
    assert(buckets >= 12, s"hot key landed in only $buckets/16 salt buckets")
  }
}

class VectorOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("one Lloyd iteration strictly improves the IVF quantizer (SSE decreases)") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val seeds = emb.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0).toInt,
        r.getSeq[Double](1).toArray)).toSeq
    val sse0 = graft.operators.VectorOps.sse(emb, seeds)
    val refined = graft.operators.VectorOps.lloydOnce(emb, seeds)
    val sse1 = graft.operators.VectorOps.sse(emb, refined)
    assert(refined.nonEmpty && refined.forall(_._2.length == 64))
    assert(sse1 < sse0, s"Lloyd step did not improve: $sse0 -> $sse1")
    // deterministic
    val again = graft.operators.VectorOps.lloydOnce(emb, seeds)
    assert(refined.map(_._1) == again.map(_._1))
    assert(refined.zip(again).forall { case ((_, a), (_, b)) => a.sameElements(b) })
  }
}
