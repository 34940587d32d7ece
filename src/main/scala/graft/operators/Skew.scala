package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling via salting (SURVEY.md §4.3; north star: "salted
  * repartitioning handles host-level skew at 10^12-document scale").
  *
  * Web corpora are Zipf-skewed by host: a handful of hosts own a large
  * share of all urls, so any groupBy(host) or join on host sends those
  * partitions to single reducers. Two standard rewrites, both exact:
  *
  *  - [[saltedAgg]]: two-phase aggregation — partial-aggregate on
  *    (key, salt) so the hot key's rows spread over `salts` reducers,
  *    then final-aggregate the partials on key. Any algebraic aggregate
  *    (count/sum/min/max, and avg as sum+count) composes this way.
  *  - [[saltedJoin]]: replicate the small side once per salt value and
  *    join on (key, salt) — the hot key's probe rows spread over `salts`
  *    tasks instead of one. Salting applies only to a shuffled join: a
  *    dim that fits the [[DriverBudget]] is broadcast unsalted, since a
  *    broadcast join has no hot reducer.
  *
  * AQE's skew-join splitting handles moderate skew automatically; explicit
  * salting is for the pathological keys AQE cannot split (single-key
  * aggregation hotspots) and for deterministic plan shape.
  */
object Skew {

  /** Deterministic per-row salt in [0, salts). */
  def saltOf(c: Column, salts: Int): Column = pmod(xxhash64(c), lit(salts)).cast("int")

  /** Two-phase salted aggregation: `partial` aggregates run on
    * (key, salt); `fin` aggregates combine the partials per key.
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      saltSource: Column,
      salts: Int
  )(partial: Seq[Column], fin: Seq[Column]): DataFrame =
    df.withColumn("__salt", saltOf(saltSource, salts))
      .groupBy(key, col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(key)
      .agg(fin.head, fin.tail: _*)

  /** Salted equi-join: fact rows get a deterministic salt; the (small)
    * build side is replicated across all salt values via explode, then the
    * join key becomes (key, salt). Salting pays only when the join
    * shuffles: a dim whose optimized-plan size fits the
    * [[DriverBudget]] is broadcast unreplicated on the single key
    * instead, since a broadcast join has no hot reducer to spread and the
    * replica would only multiply the build side (and turn a one-long key,
    * which Spark packs into a long-keyed hash map, into a two-column one).
    * Either way the result is the fact columns, then the dim columns.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      saltSource: Column,
      salts: Int
  ): DataFrame = {
    val budget = DriverBudget.bytes(fact.sparkSession)
    if (budget > 0 && dim.queryExecution.optimizedPlan.stats.sizeInBytes <= budget)
      fact.join(broadcast(dim), fact(factKey) === dim(dimKey))
    else {
      val saltedFact = fact.withColumn("__salt", saltOf(saltSource, salts))
      val replicatedDim = dim
        .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
        .withColumn("__salt", col("__salt").cast("int"))
      saltedFact.join(replicatedDim,
        saltedFact(factKey) === replicatedDim(dimKey) &&
          saltedFact("__salt") === replicatedDim("__salt"))
        .drop("__salt")
    }
  }
}
