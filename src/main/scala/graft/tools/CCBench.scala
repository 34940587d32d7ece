package graft.tools

import org.apache.spark.sql.functions._

/** Large-graph scaling datapoint for Dedup.connectedComponents (VERDICT
  * r4 #8): a synthetic 10^6-vertex / ~10^7-edge near-dup-shaped graph —
  * a Zipf-ish mixture of clique-ish clusters (dup families) plus long
  * chains (adversarial diameter) plus isolated vertices — pushed through
  * the production CC operator, reporting rounds and wall time for
  * BASELINE.md. Deterministic: edges are a pure function of their index.
  * `path` names the CC path taken: `distributed` (the label-propagation
  * loop this bench exists to measure; the default 10^7 input edges are
  * 160 MB at 16 B an edge before symmetrizing, far over the default
  * driver budget) or
  * `driver` (the small-graph exit, for shapes under the budget).
  *
  * Usage: runMain graft.tools.CCBench [nVertices] [nEdges] [chainLen]
  */
object CCBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val m = args.lift(1).map(_.toLong).getOrElse(10000000L)
    val chainLen = args.lift(2).map(_.toLong).getOrElse(4096L)
    val spark = graft.SparkBoot.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._

    val vertices = spark.range(0L, n).toDF("id")
    // cluster edges: vertex v joins cluster v / clusterSize; edge i links
    // two deterministic members of a cluster picked by hashing i — dense
    // clique-ish families like MinHash candidate pairs produce
    val clusterSize = 32L
    val clusters = n / clusterSize
    val clusterEdges = spark.range(0L, m - chainLen).toDF("i")
      .select(
        (pmod(xxhash64(col("i")), lit(clusters)) * clusterSize +
          pmod(xxhash64(col("i"), lit(1)), lit(clusterSize))).as("src"),
        (pmod(xxhash64(col("i")), lit(clusters)) * clusterSize +
          pmod(xxhash64(col("i"), lit(2)), lit(clusterSize))).as("dst"))
      .filter(col("src") =!= col("dst"))
    // one adversarial path of length `chainLen` across cluster boundaries
    // (stride clusterSize) — forces the pointer-jumping O(log d) behavior
    val chainEdges = spark.range(0L, chainLen).toDF("i")
      .select((col("i") * clusterSize).as("src"),
        ((col("i") + 1L) * clusterSize).as("dst"))
    val edges = clusterEdges.union(chainEdges)

    val t0 = System.nanoTime()
    val (labels, rounds) = graft.operators.Dedup.connectedComponentsWithRounds(
      vertices, edges, maxRounds = 25)
    val nComp = labels.agg(countDistinct(col("comp"))).first().getLong(0)
    val sec = (System.nanoTime() - t0) / 1e9
    // the loop runs >= 1 round on any graph with edges (the default shape
    // has 10^7), so 0 rounds means the small-graph exit ran
    val path = if (rounds == 0) "driver" else "distributed"
    println(f"""{"bench":"cc_scale","vertices":$n,"edges":$m,"chain_len":$chainLen,"path":"$path","rounds":$rounds,"components":$nComp,"wall_sec":$sec%.1f}""")
    spark.stop()
  }
}
