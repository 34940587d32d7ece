package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Physical-plan audits: the scale properties SURVEY.md §4 promises must be
  * visible in the executed plan, not just intended — filter pushdown and
  * column pruning reach the parquet scan, small dimensions broadcast, and
  * whole-stage codegen covers the hot path.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"))
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"),
      s"filter not pushed:\n$p")
    // ReadSchema must carry only the two referenced columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity") &&
      !read.contains("l_comment") && !read.contains("l_extendedprice"),
      s"columns not pruned: $read")
  }

  test("star join broadcasts the small dimensions (no sort-merge join)") {
    val q = SparkEntry.queries("q03_star_join")
    val p = plan(q(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ for broadcast dims:\n$p")
  }

  test("ANN brute-force baseline pins the broadcast to the bounded query side") {
    // q20 is a deliberate BNLJ (bounded query side x corpus). The scale
    // hazard (VERDICT r3 #5): if the broadcast ever lands on the CORPUS
    // side, or degrades to CartesianProduct, the baseline is a full
    // cross-join at 10^12 rows. The explicit broadcast(q) hint must hold
    // even under a hostile threshold config.
    def audit(tag: String): Unit = {
      val p = plan(SparkEntry.queries("q20_ann_topk")(spark, sf))
      assert(p.contains("BroadcastNestedLoopJoin"), s"[$tag] expected BNLJ:\n$p")
      assert(p.contains("BuildLeft"),
        s"[$tag] broadcast must be the bounded query side (left):\n$p")
      assert(!p.contains("CartesianProduct"), s"[$tag] degenerated to cartesian:\n$p")
      // the row bound that makes the build side broadcastable must reach
      // the scan of the broadcast branch
      assert(p.contains("LessThan(vec_id,5)"),
        s"[$tag] query-side row bound not pushed to the scan:\n$p")
    }
    audit("default")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try audit("threshold=-1")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("cosine near-dup pairing is a guarded equi-join on (band, key)") {
    val q = SparkEntry.queries("q53_cosine_neardup")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cosine near-dup degenerated to a product join:\n$p")
    assert(p.contains("128"), s"hot-band df guard missing from plan:\n$p")
  }

  test("minhash LSH band join is an equi-join (hash-partitionable), not a cross join") {
    val q = SparkEntry.queries("q18_minhash_lsh")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH band join degenerated to a product join:\n$p")
    // hot-band df guard must appear as a windowed-count filter
    assert(p.contains("128"), s"hot-band df guard missing from plan:\n$p")
  }

  /** A physical node's inputs, looking through AQE wrappers, query
    * stages, reused exchanges and cached relations.
    */
  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: inputs(p).flatMap(nodes)

  /** Does `p` read a hot-key guard window without an aggregate between? */
  private def readsGuard(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => false
    case _: WindowExec => true
    case other => inputs(other).exists(readsGuard)
  }

  test("guarded self-joins do not recompute their keyed stage at shuffle scale") {
    // at broadcast scale AQE legitimately recomputes the (tiny) build
    // side; the 100x property is that when both sides of a guarded
    // bucket self-join shuffle, the identical Exchange(keys) subtree —
    // keying + hot-key guard window — is computed ONCE and the second
    // side reuses it, and the pair join stays a sort-merge equi-join.
    // Product joins elsewhere are by design (the one-row centroid-array
    // broadcast of the celled paths, q82's exact truth and report
    // rows); none of them may read the guard window directly.
    val labelDocs = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("http://d/"), col("doc_id")).as("url"), col("text"))
    def query(name: String): () => Seq[SparkPlan] = () => {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // AQE finalizes exchange reuse on execution
      Seq(df.queryExecution.executedPlan)
    }
    // the labels operators run their pair join inside the CC loop's
    // jobs, so audit every plan the call executes: those whose query
    // ids follow a marker taken before the call, up to the final collect
    def executed(labels: => org.apache.spark.sql.DataFrame): () => Seq[SparkPlan] = () => {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val marker = spark.range(1).queryExecution.id
      spark.listenerManager.register(listener)
      try {
        val df = labels
        df.collect()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!seen.asScala.exists(_ eq df.queryExecution) && System.nanoTime() < deadline)
          Thread.sleep(50)
      } finally spark.listenerManager.unregister(listener)
      seen.asScala.filter(_.id > marker).map(_.executedPlan).toSeq
    }
    val cases = Seq(
      "q16_shingle_jaccard" -> query("q16_shingle_jaccard"),
      "q18_minhash_lsh" -> query("q18_minhash_lsh"),
      "q44_simhash_pairs" -> query("q44_simhash_pairs"),
      "q53_cosine_neardup" -> query("q53_cosine_neardup"),
      "q82_semdedup_recall" -> query("q82_semdedup_recall"),
      "nearDupLabels" -> executed(Dedup.nearDupLabels(labelDocs)),
      "semDedupLabels" -> executed(Dedup.semDedupLabels(labelDocs)))
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try cases.foreach { case (name, plans) =>
      val ps = plans()
      val all = ps.flatMap(nodes)
      def show = ps.mkString("\n")
      // the reused exchange must be the guard window's Exchange(keys)
      def names(es: Seq[Expression]) = es.flatMap(_.references.map(_.name)).toSet
      val guardKeys = all.collect { case w: WindowExec => names(w.partitionSpec) }.toSet
      val reusedKeys = all.collect {
        case ReusedExchangeExec(_, ShuffleExchangeExec(h: HashPartitioning, _, _, _)) =>
          names(h.expressions)
      }.toSet
      assert(guardKeys.exists(reusedKeys),
        s"[$name] second self-join side recomputes the keyed stage " +
          s"(guard keys $guardKeys, reused $reusedKeys):\n$show")
      assert(all.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"[$name] bucket self-join is not sort-merge:\n$show")
      val products = all.filter(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec])
      assert(!products.exists(_.children.exists(readsGuard)),
        s"[$name] guarded self-join degenerated to a product join:\n$show")
    }
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("pipeline and scan queries run inside whole-stage codegen") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    df.collect() // AQE finalizes (and codegen-wraps) the plan on execution
    val p = plan(df)
    // codegen stages render as "*(n) Operator" in the plan string
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"),
      s"no whole-stage codegen span:\n$p")
  }

  test("IVF cell assignment is row-local: no shuffle keyed on vec_id") {
    val q = SparkEntry.queries("q40_ann_ivf")
    val p = plan(q(spark, sf))
    // the round-1 plan shuffled 8n rows through Exchange(vec_id) + Window
    // just to argmin over 8 broadcast centroids; the row-local rewrite must
    // leave only the final top-k window (keyed on qid)
    assert(!p.contains("hashpartitioning(vec_id"),
      s"IVF assignment still shuffles on vec_id:\n$p")
  }

  test("banded hyperplane LSH join is an equi-join on (band, key)") {
    val q = SparkEntry.queries("q21_ann_lsh")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"LSH band join degenerated to a product join:\n$p")
  }

  test("shingle-jaccard self-join is equi-keyed and df-guarded") {
    val q = SparkEntry.queries("q16_shingle_jaccard")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"shingle join degenerated to a product join:\n$p")
    // the df <= 64 hot-shingle guard must appear as a post-agg filter
    assert(p.contains("64"), s"hot-shingle df guard missing from plan:\n$p")
  }

  test("simhash pairing is an equi-join on (band, key) with a df guard") {
    val q = SparkEntry.queries("q44_simhash_pairs")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"simhash pairing degenerated to a product join:\n$p")
    assert(p.contains("128"), s"hot-band df guard missing from plan:\n$p")
  }

  test("shuffled alignment path has one shuffle boundary, keyed on the group key") {
    val aligned = graft.pipeline.Pipeline.alignShuffled(
      graft.pipeline.Pipeline.generate(spark, 50))
    val p = aligned.queryExecution.executedPlan.toString
    // Spark pushes the exchange below the union: one Exchange per
    // extractor branch, all on the SAME group key = one stage boundary.
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.distinct.size == 1,
      s"expected one shuffle key, got $keys:\n$p")
    assert(keys.size <= graft.pipeline.Pipeline.extractors.length,
      s"more exchanges than union branches: $keys")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("corpus-prep chain pushes the quality gate to the scan, no product joins") {
    // audit the LAZY pipeline (same builder production q51 uses) — the
    // production entry persists the survivor set and returns collected
    // report rows, so its outer plan is a local scan by design
    val (_, result) = SparkEntry.corpusPrepPipeline(spark, sf, persistEx = false)
    val p = plan(result)
    // the n_chars >= 100 numeric gate must reach the parquet reader
    assert(p.contains("GreaterThanOrEqual(n_chars"),
      s"quality filter not pushed to the documents scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prep chain degenerated to a product join:\n$p")
  }

  test("prediction import restructures with equi-operations only") {
    val q = SparkEntry.queries("q48_pred_import")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"importer regrouping degenerated to a product join:\n$p")
    // exactly one running-count window keyed on the line (plus the
    // line-conf window) — no per-char self-joins
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in importer plan:\n$p")
  }

  test("trigram frequency join broadcasts the LM side") {
    val q = SparkEntry.queries("q33_trigram_freq")
    val p = plan(q(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"trigram LM not broadcast:\n$p")
  }

  test("repetition filter is row-local: no hash-partition shuffle, no explode") {
    val q = SparkEntry.queries("q55_repetition_filter")
    val p = plan(q(spark, sf))
    // per-doc n-gram stats fold inside the row (sorted-array run-length
    // aggregate) — the only exchange allowed is the final orderBy's range
    // partitioning; an explode+groupBy spelling would shuffle every n-gram
    assert(!p.contains("Exchange hashpartitioning"),
      s"repetition stats shuffled (explode+groupBy spelling?):\n$p")
    assert(!p.toLowerCase.contains("generate"),
      s"unexpected explode in row-local repetition stats:\n$p")
  }

  test("repetition and shingle stages are kernels; q62's pushed quality gate is one kernel call") {
    // graft_repetition_stats and graft_shingles replaced the HOF folds and
    // the transform(sequence, substring) shingles: no lambda may remain
    for (name <- Seq("q55_repetition_filter", "q62_curation_pipeline", "q73_gate_funnel",
        "q15_dedup_exact", "q51_corpus_prep")) {
      val opt = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.toString
      assert(!opt.toLowerCase.contains("lambdafunction"), s"[$name] HOF left:\n$opt")
    }
    // q51's entry returns collected rows; its fingerprint runs in the lazy chain
    val prep = SparkEntry.corpusPrepPipeline(spark, sf, persistEx = false)._2
      .queryExecution.optimizedPlan.toString
    assert(!prep.toLowerCase.contains("lambdafunction"), s"[q51 chain] HOF left:\n$prep")
    // the keep filter is pushed below tp()'s round-robin repartition onto
    // the scan; FilterExec eliminates no common subexpression, so the
    // pushed condition must be the ONE kernel call reading its keep field
    val executed = SparkEntry.queries("q62_curation_pipeline")(spark, sf)
      .queryExecution.executedPlan
    def belowExchange(p: SparkPlan): Seq[SparkPlan] =
      p +: inputs(p).filterNot(_.isInstanceOf[ShuffleExchangeExec]).flatMap(belowExchange)
    def calls(f: FilterExec) =
      f.condition.collect { case r: graft.functions.RepetitionStats => r }.size
    val gates = nodes(executed).collect {
      case e @ ShuffleExchangeExec(_: RoundRobinPartitioning, _, _, _) => e
    }.flatMap(e => belowExchange(e.child)).collect { case f: FilterExec if calls(f) > 0 => f }
    assert(gates.size == 1 && calls(gates.head) == 1,
      s"pushed quality gate is not one graft_repetition_stats call:\n$executed")
  }

  test("split-mix report aggregates map-side (partial + final)") {
    val q = SparkEntry.queries("q56_split_mix")
    val p = plan(q(spark, sf))
    assert(p.contains("partial_"),
      s"split mixing report lost map-side combine:\n$p")
    assert(!p.contains("Join"), s"unexpected join in split mix:\n$p")
  }

  test("stratified sample is one per-stratum shuffle, no joins") {
    val q = SparkEntry.queries("q58_stratified_sample")
    val p = plan(q(spark, sf))
    assert(!p.contains("Join"), s"unexpected join in stratified sample:\n$p")
    assert(p.contains("row_number"), s"missing window rank:\n$p")
  }

  test("curation pipeline composes without product joins or extra shuffles") {
    val q = SparkEntry.queries("q62_curation_pipeline")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"curation chain degenerated to a product join:\n$p")
    // benchmark shingles broadcast; quality gate stays row-local
    assert(p.contains("BroadcastHashJoin"),
      s"decontam stage lost its broadcast inside the composition:\n$p")
  }

  test("temperature sampling broadcasts the rate table (no corpus shuffle join)") {
    val q = SparkEntry.queries("q63_temperature_sample")
    val p = plan(q(spark, sf))
    // the per-lang rate table is report-sized and must broadcast; a
    // SortMergeJoin here would shuffle the whole corpus by lang (skewed:
    // half the web is one language)
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a tiny dim:\n$p")
  }

  test("chunk dedup is two linear shuffles, no join at all") {
    val q = SparkEntry.queries("q64_chunk_dedup")
    val p = plan(q(spark, sf))
    // first-occurrence selection must be the window (one shuffle by
    // chunk), not a self-join of the exploded chunk table
    assert(!p.contains("Join"), s"chunk dedup grew a join:\n$p")
    assert(p.contains("row_number"), s"missing first-occurrence window:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3,
      s"expected window + regroup (+AQE coalesce) shuffles only, got $exchanges:\n$p")
  }

  test("PII scrubbing is a map-only pass: no joins, no hash shuffles") {
    val q = SparkEntry.queries("q68_pii_scrub")
    val p = plan(q(spark, sf))
    // redaction is per-row regex work; the only exchange allowed is the
    // deterministic output sort's range partitioning
    assert(!p.contains("Join"), s"unexpected join in PII scrub:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"PII scrub shuffled — redaction must pipeline map-only:\n$p")
  }

  test("sequence packing shuffles once per shard, never globally") {
    val q = SparkEntry.queries("q69_seq_pack")
    val p = plan(q(spark, sf))
    assert(!p.contains("Join"), s"unexpected join in seq packing:\n$p")
    // the running token offset must be a per-shard window (parallelism =
    // shard count); a global-order cumsum would be a single partition
    assert(p.contains("hashpartitioning(shard"),
      s"offset window not partitioned by shard:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected one shard shuffle, got $exchanges:\n$p")
  }

  test("blocklist filter broadcasts the rules; corpus side suffix-explodes row-locally") {
    val q = SparkEntry.queries("q70_blocklist")
    val p = plan(q(spark, sf))
    // suffix match must be explode + broadcast equi-join — a per-rule
    // LIKE/endswith scan or an SMJ would shuffle the corpus for a
    // 4-row dimension
    assert(p.contains("BroadcastHashJoin"), s"blocklist not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a tiny blocklist:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"expected only the per-host dedup agg shuffle, got $exchanges:\n$p")
  }

  test("url canonicalization is map-only; length histogram aggregates map-side") {
    val p71 = plan(SparkEntry.queries("q71_url_canon")(spark, sf))
    assert(!p71.contains("Join") && !p71.contains("Exchange hashpartitioning"),
      s"url canonicalization must pipeline map-only:\n$p71")
    val p72 = plan(SparkEntry.queries("q72_length_hist")(spark, sf))
    assert(p72.contains("partial_"),
      s"length histogram lost map-side combine:\n$p72")
    assert(!p72.contains("Join"), s"unexpected join in length histogram:\n$p72")
  }

  test("as-of join is join-free: one user_id window, no join operator at all") {
    val p = plan(SparkEntry.queries("q75_asof_join")(spark, sf))
    // the Spark spelling must be the single-shuffle carry-forward window;
    // any Join node means the two-shuffle hot-user-exploding spelling
    // crept back in
    assert(!p.contains("Join"), s"as-of grew a join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected one user_id shuffle, got $exchanges:\n$p")
  }

  test("OOV rate broadcasts the floored vocab; probe side never pre-shuffles") {
    val p = plan(SparkEntry.queries("q74_oov_rate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe side shuffled for the vocab join:\n$p")
    assert(p.contains("partial_"), s"report lost map-side combine:\n$p")
  }

  test("BPE merge rounds never shuffle more than vocabulary-sized frames") {
    // the query's returned frame is the driver-side 3-row merge report,
    // so audit the two distributed stages directly: the corpus pass
    // (vocab build) and one merge round's pair counting
    val vocab = SparkEntry.bpeVocab(spark, sf)
    val pv = plan(vocab)
    assert(pv.contains("partial_count"),
      s"word-freq agg lost map-side combine:\n$pv")
    // corpus scan must read only the text column
    val read = pv.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && !read.contains("doc_id"),
      s"vocab pass reads more than text: $read")
    val pp = plan(SparkEntry.bpePairCounts(vocab))
    assert(pp.contains("partial_sum"),
      s"pair-count agg lost map-side combine:\n$pp")
    assert(!pp.contains("Join") && !pp.contains("CartesianProduct"),
      s"pair counting should be join-free:\n$pp")
  }

  test("DSIR selection broadcasts the 64-row vote table; corpus side never pre-shuffles") {
    val p = plan(SparkEntry.queries("q77_dsir_select")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vote table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus token side shuffled for the vote join:\n$p")
    assert(p.contains("partial_"), s"bucket stats lost map-side combine:\n$p")
  }

  test("fuzzy decontam: benchmark band keys broadcast, corpus side never shuffles") {
    val p = plan(SparkEntry.queries("q85_fuzzy_decontam")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"decontam degenerated to cartesian:\n$p")
    // the bipartite join must broadcast the (bounded) benchmark side —
    // a shuffle join would move the whole corpus's band keys
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus band keys shuffled:\n$p")
    // exactly two scans by design: the corpus (train side) and the
    // benchmark side; a third would mean a split re-join
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"split re-joined the corpus ($scans scans):\n$p")
  }

  test("tf-idf report combines map-side; downstream stays vocabulary-sized, no products") {
    val p = plan(SparkEntry.queries("q83_tfidf_terms")(spark, sf))
    assert(p.contains("partial_"), s"(source, token) agg lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"tf-idf degenerated to cartesian:\n$p")
    assert(p.contains("row_number"), s"missing top-k rank window:\n$p")
  }

  test("decile calibration sorts only the sample; corpus side is broadcast-bucketed") {
    val p = plan(SparkEntry.queries("q84_quality_deciles")(spark, sf))
    // the boundary array and the m-count must reach the corpus side as
    // broadcast BNLJs — and NO join anywhere may degenerate to a
    // partitioned cartesian (an un-hinted corpus crossJoin would);
    // the only global sort window runs over the md5 sample
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"decile boundaries not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a decile join degenerated to cartesian:\n$p")
    assert(p.contains("partial_count"), s"decile rollup lost map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled for a join:\n$p")
  }

  test("recall gates: exact all-pairs sides stay broadcast BNLJs, never cartesian") {
    // q80/q81's truth stage is a deliberate bounded all-pairs compare
    // (q20's shape): the explicit broadcast hint must hold so a config
    // flip can't degrade it to a partitioned CartesianProduct of the
    // corpus against itself
    Seq("q80_cosine_recall", "q81_simhash_recall", "q82_semdedup_recall").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"[$name] exact side lost its broadcast BNLJ:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"[$name] degenerated to CartesianProduct:\n$p")
    }
  }

  test("gate funnel is one corpus pass: broadcast decontam, no product joins on the corpus") {
    val p = plan(SparkEntry.queries("q73_gate_funnel")(spark, sf))
    // the benchmark shingle set must broadcast; the only BNLJ allowed is
    // the report-sized stages x levels join (4 x <=4 rows)
    assert(p.contains("BroadcastHashJoin"),
      s"decontam shingles not broadcast inside the funnel:\n$p")
    assert(!p.contains("CartesianProduct"), s"funnel degenerated to cartesian:\n$p")
    assert(p.contains("row_number"), s"missing dedup rank window:\n$p")
  }

  test("ANN recall eval never shuffles the corpus side") {
    val q = SparkEntry.queries("q65_ann_recall")
    val p = plan(q(spark, sf))
    // GT is the bounded-broadcast BNLJ (q20 shape); candidates join the
    // broadcast query band keys; all reduction joins are broadcast-sized
    assert(!p.contains("SortMergeJoin"),
      s"recall eval shuffled a corpus-sized join side:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerated to cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"band-key join lost its broadcast:\n$p")
  }

  test("sessionization shares one user_id shuffle across windows and agg") {
    val q = SparkEntry.queries("q66_sessionize")
    val p = plan(q(spark, sf))
    // lag, the break running-sum and the per-session groupBy all key on
    // user_id — the plan must carry ONE hashpartitioning(user_id)
    // exchange (plus the final orderBy range exchange), not one per step
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"expected a single user_id exchange, got $userExchanges:\n$p")
    assert(!p.contains("Join"), s"sessionization grew a join:\n$p")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val q = SparkEntry.queries("q61_decontam")
    val p = plan(q(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingles not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"decontam degenerated to a corpus-wide SMJ:\n$p")
  }

  test("cross-page block-df join keys on the 16-byte hash, not the text") {
    val q = SparkEntry.queries("p19_block_df")
    val p = plan(q(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"block-df degenerated to a product join:\n$p")
    // both the dedup and the df count must partial-aggregate map-side
    assert(p.contains("partial_"), s"df count lost map-side combine:\n$p")
  }

  test("LM quality scoring broadcasts the LM; probe side never pre-shuffles") {
    val q = SparkEntry.queries("q60_lm_quality")
    val p = plan(q(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"trigram LM not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"LM join degenerated to SMJ:\n$p")
    // the per-doc sum must partial-aggregate before its shuffle
    assert(p.contains("partial_"), s"per-doc score lost map-side combine:\n$p")
  }
}
