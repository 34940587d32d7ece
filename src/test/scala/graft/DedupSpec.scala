package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  test("guardedSelfJoin: cap-sized buckets survive, hot ones drop; one pair per unordered couple") {
    import spark.implicits._
    // bucket "a" holds exactly cap = 3 rows and survives the guard; "b"
    // holds cap + 1 rows and is dropped whole
    val keyed = (Seq(1L, 2L, 3L).map(i => ("a", i, s"p$i")) ++
      Seq(10L, 11L, 12L, 13L).map(i => ("b", i, s"p$i"))).toDF("k", "id", "p")
    val joined = Dedup.guardedSelfJoin(keyed, Seq("k"), "id", Seq("p"), cap = 3)
    assert(joined.columns.toSeq == Seq("k", "id1", "p1", "id2", "p2"))
    val rows = joined.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4)))
      .sortBy(r => (r._2, r._4)).toSeq
    // no self pairs, no mirrored pairs: exactly the 3 couples of "a"
    assert(rows.map(r => (r._1, r._2, r._4)) == Seq(("a", 1L, 2L), ("a", 1L, 3L), ("a", 2L, 3L)),
      s"unexpected pairs: $rows")
    // payload columns travel with their side's id
    assert(rows.forall(r => r._3 == s"p${r._2}" && r._5 == s"p${r._4}"), s"payload mixed: $rows")
  }

  test("q78 recall gate: LSH candidates cover the exact truth at a bounded probe cost") {
    // generator facts at sf0.001: every exact Jaccard>=0.5 pair is
    // caught by the 4x2 bands (true pairs sit far above tau), and the
    // candidate set is a superset, not equal — the gate must expose the
    // probe cost (spurious candidates), or precision regressions hide
    val r = SparkEntry.queries("q78_lsh_dedup_recall")(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val (nExact, nHit, nCand) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0, "degenerate corpus: no exact near-dup pairs")
    assert(nHit == nExact, s"LSH recall < 1 on fixture: $nHit/$nExact")
    assert(nCand > nHit, s"candidate set not a strict superset: $nCand vs $nHit")
  }

  test("q80 cosine recall gate: bands catch every exact pair; probe cost is visible") {
    val r = SparkEntry.queries("q80_cosine_recall")(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val (nExact, nHit, nCand) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0, "degenerate corpus: no exact cosine near-dup pairs")
    assert(nHit == nExact, s"band recall < 1 on fixture: $nHit/$nExact")
    // n_cand counts PRE-verify band-join rows — it must dwarf the hit
    // count (that gap IS the verify stage's workload, the number a
    // capacity plan needs); equality would mean the probe-cost column
    // silently regressed to counting verified pairs
    assert(nCand > nHit * 10, s"probe cost implausibly small: $nCand vs $nHit")
  }

  test("q82 semdedup gate: high-but-lossy recall at a cheaper probe cost than bands") {
    // Unlike the band gates, cell partitioning is LOSSY BY DESIGN —
    // a near-dup pair can straddle a centroid boundary — and the gate
    // exists to measure exactly that loss. Generator facts at sf0.001:
    // 27 exact pairs, 23 caught (4 boundary-split pairs), so the spec
    // pins recall in (0.8, 1] WITH the loss visible (nHit < nExact
    // would vacuously pass if the corpus had no split pairs — assert
    // the fixture exercises the loss mode); the candidate set is a
    // strict superset of the hits (verify workload visible); n_cand is
    // bounded by the ≤128-docs/cell guard; and — the reason the
    // operator exists — cells probe FEWER pairs than the q80 band join
    // on the same corpus.
    val r = SparkEntry.queries("q82_semdedup_recall")(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val (nExact, nHit, nCand, nCells) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nExact > 0, "degenerate corpus: no exact cosine near-dup pairs")
    assert(nHit * 5 >= nExact * 4, s"semdedup recall < 0.8 on fixture: $nHit/$nExact")
    assert(nHit < nExact,
      s"fixture no longer exercises the boundary-split loss mode: $nHit/$nExact")
    assert(nCand > nHit, s"probe cost not visible: $nCand vs $nHit")
    assert(nCells >= 8, s"cell partition degenerate: $nCells cells")
    assert(nCand <= nCells * (128L * 127 / 2),
      s"cell guard violated: $nCand candidates from $nCells cells")
    val bandCand = SparkEntry.queries("q80_cosine_recall")(spark, "/root/testdata/sf0.001")
      .collect()(0).getLong(2)
    assert(nCand < bandCand,
      s"semdedup probe cost $nCand not below band probe cost $bandCand")
  }

  test("q81 simhash recall gate: bands honor the pigeonhole bound on fixture") {
    // hamming <= 2 over 4x8-bit bands provably shares a band when
    // UNguarded; the df<=128 guard is the only possible leak and costs
    // nothing on this corpus — a recall drop here means the banding or
    // the guard changed behavior
    val r = SparkEntry.queries("q81_simhash_recall")(spark, "/root/testdata/sf0.001")
      .collect()(0)
    val (nExact, nHit, nCand) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0, "degenerate corpus: no exact hamming<=2 pairs")
    assert(nHit == nExact, s"simhash recall < 1 on fixture: $nHit/$nExact")
    assert(nCand > nHit, s"probe cost not visible: $nCand vs $nHit")
  }

  test("q85 fuzzy decontam: flags cross-split near-dups only, splits derived from ids") {
    val rows = SparkEntry.queries("q85_fuzzy_decontam")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "degenerate corpus: no cross-split near-dup leakage")
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      (java.lang.Long.parseLong(f"${md(0)}%02x${md(1)}%02x", 16)) % 10
    }
    rows.foreach { case (train, _, minTest) =>
      assert(bucket(train) < 8, s"flagged doc $train is not in the train split")
      assert(bucket(minTest) == 9, s"contaminator $minTest is not a test doc")
    }
    // the flagged set must be a strict subset of the train split — a
    // broken filter that flags everything would still pass the per-row
    // checks above
    assert(rows.length < 400, s"implausibly many contaminated docs: ${rows.length}")
    // over-flag contract vs the GUARDED q18 self-join: every cross-split
    // q18 pair must be covered by the unguarded bipartite join — q85 may
    // flag MORE (pairs q18's df guard dropped), never fewer
    val q18Cross = SparkEntry.queries("q18_minhash_lsh")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (bucket(a) < 8 && bucket(b) == 9) Some(a -> b)
        else if (bucket(b) < 8 && bucket(a) == 9) Some(b -> a)
        else None
      }
    val flaggedTotal = rows.map(_._2).sum
    assert(q18Cross.nonEmpty, "fixture premise: q18 finds no cross-split pair")
    assert(q18Cross.map(_._1).toSet.subsetOf(rows.map(_._1).toSet),
      "a guarded-join contamination escaped the unguarded bipartite join")
    assert(flaggedTotal >= q18Cross.length,
      s"q85 flagged fewer pairs ($flaggedTotal) than the guarded join (${q18Cross.length})")
  }

  test("labels strategies: min-url representative, strict-dups-only, stable under url re-crawls") {
    import spark.implicits._
    // three near-identical docs (one token changed per hop), one distant
    // doc, and a url RE-CRAWLED with changed text (two rows, one vertex)
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val docs = Seq(
      ("http://u.b/", base),
      ("http://u.a/", base.replace("echo", "exxo")),
      ("http://u.c/", base.replace("echo", "exxo").replace("kilo", "kixo")),
      ("http://u.z/", "zeta eta theta iota kappa mu nu xi omicron pi rho"),
      ("http://u.r/", "one two three four five six seven eight nine ten"),
      ("http://u.r/", "one two three four five six seven eight nine drift")
    ).toDF("url", "text")
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      d => Dedup.nearDupLabels(d),
      d => Dedup.semDedupLabels(d, tau = 0.9)
    ).zip(Seq("minhash", "semdedup")).foreach { case (strategy, name) =>
      val labels = strategy(docs).collect()
        .map(r => r.getString(0) -> r.getString(1)).sortBy(_._1).toSeq
      // contract shared by BOTH strategies: labels hold ONLY strict dups
      // from the chain (never a representative, never the distant doc,
      // never the re-crawled url — its two texts share one vertex, and a
      // vertex can't pair with itself), and every label points at a
      // lexicographically SMALLER url (rep = component min)
      assert(labels.nonEmpty, s"[$name] no near-dup labeled")
      assert(labels.map(_._1).toSet.subsetOf(Set("http://u.b/", "http://u.c/")),
        s"[$name] labeled a non-chain doc: $labels")
      assert(labels.forall { case (u, rep) => rep < u && rep == "http://u.a/" },
        s"[$name] rep is not the min url: $labels")
      // determinism incl. the re-crawled url (two texts, one vertex):
      // a second invocation (= a crash-before-marker labels recompute)
      // must produce identical labels
      val again = strategy(docs).collect()
        .map(r => r.getString(0) -> r.getString(1)).sortBy(_._1).toSeq
      assert(again == labels, s"[$name] labels not stable across recompute")
      // minhash bands are near-lossless on token-level edits: the FULL
      // chain must collapse (semdedup at n=6 runs with k=4 centroids —
      // chain members can BE centroids and split cells, the documented
      // toy-scale degeneracy; RunSpec pins its full collapse at n=24)
      if (name == "minhash")
        assert(labels.map(_._1).toSet == Set("http://u.b/", "http://u.c/"),
          s"[$name] chain did not fully collapse: $labels")
    }
  }

  test("connected components: chains merge transitively, singletons survive") {
    import spark.implicits._
    // 0-1-2-3-4 chain (diameter 4 -> needs multiple propagation rounds),
    // 5-6 pair, 7 isolated; edges given one-directional and unsorted
    val verts = (0L to 7L).toDF("id")
    val edges = Seq((3L, 4L), (1L, 0L), (2L, 3L), (1L, 2L), (6L, 5L))
      .toDF("src", "dst")
    val comp = Dedup.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(comp(_) == 0L), comp.toString)
    assert(comp(5L) == 5L && comp(6L) == 5L)
    assert(comp(7L) == 7L)
  }

  /** Reference labels for vertices 0 until n: vertex -> min id of its
    * union-find class.
    */
  private def expectedComponents(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val root = (0 until n).map(v => v.toLong -> find(v).toLong).toMap
    // min id of each union-find class (find() root is not min in general)
    val minOfClass = root.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    root.map { case (v, r) => v -> minOfClass(r) }
  }

  /** Seeded random graphs over 40–79 vertices with ~30 edges. */
  private def randomGraphs(seed: Int): Seq[(Int, Seq[(Long, Long)])] = {
    val rng = new scala.util.Random(seed)
    (1 to 3).map { _ =>
      val n = 40 + rng.nextInt(40)
      n -> Seq.fill(30)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
    }
  }

  /** The 0-1-2-3-4 chain, the 5-6 pair and isolated 7, as 5 edges given
    * one-directional and unsorted.
    */
  private val chainGraph = 8 -> Seq((3L, 4L), (1L, 0L), (2L, 3L), (1L, 2L), (6L, 5L))

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Runs `body` under `spark.sql.autoBroadcastJoinThreshold = v`. */
  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, old)
  }

  /** Runs `body` with a driver budget ≤ 0, so every connected-components
    * call inside it takes the distributed label-propagation loop.
    */
  private def distributedOnly[T](body: => T): T = withThreshold("-1")(body)

  test("connected components agree with a driver-side union-find on random graphs") {
    import spark.implicits._
    randomGraphs(11).foreach { case (n, edges) =>
      val want = expectedComponents(n, edges)
      val got = labelsOf(Dedup.connectedComponents(
        (0L until n.toLong).toDF("id"), edges.toDF("src", "dst")))
      (0 until n).foreach { v =>
        assert(got(v.toLong) == want(v.toLong),
          s"vertex $v: got ${got(v.toLong)}, want ${want(v.toLong)} (n=$n)")
      }
    }
  }

  test("connected components: driver and distributed paths agree") {
    import spark.implicits._
    (chainGraph +: randomGraphs(11)).foreach { case (n, edges) =>
      val verts = (0L until n.toLong).toDF("id")
      val (driver, r0) = Dedup.connectedComponentsWithRounds(verts, edges.toDF("src", "dst"))
      val (loop, r1) = distributedOnly(
        Dedup.connectedComponentsWithRounds(verts, edges.toDF("src", "dst")))
      assert(r0 == 0, s"small graph (n=$n) did not take the driver path: $r0 rounds")
      assert(r1 > 0, s"budget -1 (n=$n) did not take the distributed loop")
      val want = expectedComponents(n, edges)
      assert(labelsOf(driver) == want, s"driver path (n=$n)")
      assert(labelsOf(loop) == want, s"distributed path (n=$n)")
    }
  }

  test("connected components: budget boundary") {
    import spark.implicits._
    // 5 undirected edges symmetrize to k = 10 directed edges; the budget
    // is threshold / 16 edges: k edges fit, k + 1 do not
    val (n, pairs) = chainGraph
    val verts = (0L until n.toLong).toDF("id")
    val edges = pairs.toDF("src", "dst")
    val k = 10
    val (atBudget, r0) = withThreshold(s"${16 * k}b")(
      Dedup.connectedComponentsWithRounds(verts, edges))
    val (overBudget, r1) = withThreshold(s"${16 * (k - 1)}b")(
      Dedup.connectedComponentsWithRounds(verts, edges))
    assert(r0 == 0, s"edges == budget must take the driver path, ran $r0 rounds")
    assert(r1 > 0, "edges == budget + 1 must take the distributed loop")
    val want = expectedComponents(n, pairs)
    assert(labelsOf(atBudget) == want)
    assert(labelsOf(overBudget) == want)
  }

  test("connected components: the small-graph exit runs one job over the edge set") {
    import spark.implicits._
    val (n, pairs) = chainGraph
    val verts = (0L until n.toLong).toDF("id")
    val edges = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toDF("src", "dst")
    // the count, the budget test and the collect are one job: each
    // partition returns its count and its src < dst half
    val ((labels, rounds), jobs) = SparkTestSession.jobsDuring(
      Dedup.connectedComponentsWithRounds(verts, edges, edgesDistinct = true))
    assert(rounds == 0 && jobs == 1, s"driver path ran $jobs jobs, $rounds rounds")
    assert(labelsOf(labels) == expectedComponents(n, pairs))
  }

  test("connected components: an empty edge set labels every vertex alone") {
    import spark.implicits._
    val verts = (0L until 5L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (driver, r0) = Dedup.connectedComponentsWithRounds(verts, edges)
    val (loop, r1) = distributedOnly(Dedup.connectedComponentsWithRounds(verts, edges))
    assert(r0 == 0 && r1 == 0)
    val want = (0L until 5L).map(v => v -> v).toMap
    assert(labelsOf(driver) == want)
    assert(labelsOf(loop) == want)
  }

  test("connected components: labels-shaped consumer on the driver path") {
    import spark.implicits._
    // the near-dup labels tail: CC labels unioned with the isolated-vertex
    // anti-join, then joined back to urls and grouped by component — the
    // consumer shape that tripped Catalyst's Union constraint rewrite
    // ("key not found: id#…") when the labels carried a derived plan
    val withId = (0L to 7L).map(i => (i, s"http://u.$i/")).toDF("doc_id", "url")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("src", "dst")
    val (comp, rounds) = Dedup.connectedComponentsWithRounds(
      withId.select(col("doc_id").as("id")).distinct(), pairs, edgesDistinct = true)
    assert(rounds == 0, s"expected the driver path, ran $rounds rounds")
    val byId = withId.select(col("doc_id").as("id"), col("url")).distinct()
    val labeled = comp.join(byId, Seq("id"))
    val reps = labeled.groupBy(col("comp")).agg(min(col("url")).as("nd_dup_of"))
    val got = labeled.join(reps, Seq("comp"))
      .filter(col("url") =!= col("nd_dup_of"))
      .select(col("url"), col("nd_dup_of"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("http://u.1/" -> "http://u.0/", "http://u.2/" -> "http://u.0/",
      "http://u.6/" -> "http://u.5/"), got.toString)
  }

  test("connected components: throws rather than returning a non-fixpoint") {
    import spark.implicits._
    val verts = (0L to 9L).toDF("id")
    val edges = (0L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      // diameter 9 cannot converge in 2 rounds
      distributedOnly(Dedup.connectedComponents(verts, edges, maxRounds = 2))
    }
    assert(e.getMessage.contains("converge"))
  }

  test("adversarial diameter: 1000-vertex path converges in O(log n) rounds") {
    import spark.implicits._
    // a path graph is the worst case for plain label propagation
    // (diameter 999 = 999 rounds); pointer jumping must close it in
    // ~log2(diameter) rounds, well inside the default maxRounds=20 —
    // this pins the doubling behavior, not just eventual correctness
    val n = 1000L
    val verts = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = distributedOnly(Dedup.connectedComponentsWithRounds(verts, edges))
    val comp = labels.agg(countDistinct(col("comp")), max(col("comp"))).first()
    assert(comp.getLong(0) == 1L && comp.getLong(1) == 0L)
    assert(rounds <= 12,
      s"pointer jumping degraded: $rounds rounds for diameter ${n - 1}")
  }

  test("reliable checkpoint path: used when a dir is set, stale rounds deleted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ck").toString
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      val verts = (0L until 64L).toDF("id")
      val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
      val comp = distributedOnly(Dedup.connectedComponents(verts, edges))
      assert(comp.agg(countDistinct(col("comp"))).first().getLong(0) == 1L)
      // the reliable path must have been taken (>= 1 rdd checkpoint under
      // the dir) AND all stale per-round snapshots deleted — only the
      // final round's labels, which the returned plan still reads, remain
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).toArray
      assert(rddDirs.length == 1,
        s"expected exactly the final round's checkpoint, found: ${rddDirs.mkString(", ")}")
    } finally {
      // SparkContext cannot unset a checkpoint dir; park it on a fresh
      // throwaway so this test's dir can be inspected/deleted safely
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-ck-rest").toString)
    }
  }
}
