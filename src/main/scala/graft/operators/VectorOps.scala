package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Distributed vector-quantizer training for the IVF similarity-search
  * path (the "learned quantizer" upgrade over seed centroids): one Lloyd
  * iteration = row-local nearest-centroid assignment against a BROADCAST
  * centroid array (no shuffle, same shape as q40's assignment) followed
  * by a single hash aggregation for the per-cell per-dimension means.
  * Scales linearly: the only shuffle carries (cell, dim, partial-sum)
  * triples, k*d keys total.
  */
object VectorOps {

  /** The ONE-ROW broadcast frame holding the sorted (cid, cv) centroid
    * array — the build side of the row-local argmin. `cents` must carry
    * (cid, cv). ONE definition shared by [[assignCells]], q40's probes
    * and [[sse]].
    */
  def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(F.sort_array(F.collect_list(F.struct(F.col("cid"), F.col("cv"))))
      .as("cents"))

  /** Row-local per-centroid squared-distance ranking over a frame
    * crossJoined with [[centroidArray]]'s `cents` column: element 0 is
    * the nearest centroid, ties break to the SMALLER cid (struct sort:
    * d2 first, then cid). This tie-break is the cross-engine invariant
    * the DuckDB oracles mirror (`ORDER BY d2 ASC, cid ASC`) — keep the
    * three call sites on this one definition or the "assignment can
    * never flip between engines" guarantee silently diverges. Requires
    * graft_sqdist (graft.functions.CosineSim.register).
    */
  def distRank: org.apache.spark.sql.Column = F.expr(
    """array_sort(transform(cents, c -> struct(
      |  graft_sqdist(v, c.cv) AS d2,
      |  c.cid AS cid)))""".stripMargin)

  /** Row-local nearest-centroid cell assignment: `seeds` (cid, cv) are
    * collapsed by [[centroidArray]] into one broadcast row, and every
    * row of `emb` (`id`, v) takes the [[distRank]] argmin. Returns
    * (`id`, v, cid) — no shuffle. ONE definition for q40, q82,
    * [[graft.operators.Dedup.semDedupLabels]] and [[lloydOnce]]; each
    * caller picks its own seeds.
    */
  def assignCells(emb: DataFrame, id: String, seeds: DataFrame): DataFrame =
    emb.crossJoin(F.broadcast(centroidArray(seeds)))
      .withColumn("ds", distRank)
      .select(F.col(id), F.col("v"), F.expr("ds[0].cid").as("cid"))

  /** One Lloyd step. `emb` must have (vec_id LONG, v ARRAY<DOUBLE>);
    * returns refined centroids (cid -> mean vector), dropping empty cells.
    */
  def lloydOnce(emb: DataFrame, centroids: Seq[(Int, Array[Double])]): Seq[(Int, Array[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val seeds = centroids.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
    graft.functions.CosineSim.register(spark) // graft_sqdist for the inner fold
    val assigned = assignCells(emb, "vec_id", seeds)
      .select(F.col("cid"), F.posexplode(F.col("v")).as(Seq("dim", "x")))
    assigned.groupBy(F.col("cid"), F.col("dim"))
      .agg(F.avg(F.col("x")).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .toSeq.sortBy(_._1)
      .map { case (cid, rows) =>
        val dims = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        (cid, dims)
      }
  }

  /** Within-cell sum of squared distances for a centroid set — the
    * quantity Lloyd iterations monotonically decrease.
    */
  def sse(emb: DataFrame, centroids: Seq[(Int, Array[Double])]): Double = {
    import emb.sparkSession.implicits._
    graft.functions.CosineSim.register(emb.sparkSession)
    val centDf = centroidArray(
      centroids.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv"))
    val minD2 = F.expr(
      """array_min(transform(cents, c -> graft_sqdist(v, c.cv)))""".stripMargin)
    emb.crossJoin(F.broadcast(centDf))
      .agg(F.sum(minD2)).collect()(0).getDouble(0)
  }
}
