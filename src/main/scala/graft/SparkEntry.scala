package graft

import graft.core._
import graft.operators.{Dedup, VectorOps}
import graft.operators.Dedup.md5Utf8
import graft.pipeline.Pipeline
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB oracle SQL where the operator is
  * SQL-expressible. Pipeline-specific operators (alignment, profiling,
  * correction — SURVEY.md §2.8/2.9) run over the deterministic synthetic
  * Pages corpus and are omitted from `oracleSql` per the harness contract.
  */
object SparkEntry {

  /** A table's scan, read with its memoized schema: inferring a parquet
    * schema runs a one-task Spark job per read (6 per curation board
    * pass), supplying it runs none. An unreadable table status falls back
    * to the plain read, so a missing table fails as before.
    */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    tableStat[StructType](s, dir, name, _.schema, (st, v) => st.copy(schema = Some(v)))(
      (_, _) => s.read.parquet(path).schema)
      .fold(s.read.parquet(path))(s.read.schema(_).parquet(path))
  }

  /** Memoized stats of one table as of its directory's modification
    * time: bytes on disk (metadata only, no job), row count (a
    * parquet-metadata-only job, but q40 sizes its IVF quantizer from it
    * on every invocation — VERDICT r4) and schema (a one-task inference
    * job per read). Each field is filled on first use.
    */
  private[graft] final case class TableStats(mtime: Long,
      bytes: Option[Long] = None, rows: Option[Long] = None,
      schema: Option[StructType] = None)

  /** ONE entry per (dir, table), overwritten in place when the table's
    * mtime changes — a table rewritten mid-session (a long-lived session
    * regenerating test data) re-measures instead of serving a stale size,
    * schema or plan decision, and rewrites never grow the memo. A failed
    * measurement is never cached.
    */
  private[graft] val tableStats =
    new scala.collection.concurrent.TrieMap[(String, String), TableStats]

  /** The stat `field` of a table, measured by `measure` on a miss and
    * recorded into the table's entry; None (and nothing cached) when the
    * table's status or the measurement fails with an IOException.
    */
  private def tableStat[A](s: SparkSession, dir: String, name: String,
      field: TableStats => Option[A], record: (TableStats, A) => TableStats)(
      measure: (FileSystem, Path) => A): Option[A] =
    try {
      val p = new Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val mtime = fs.getFileStatus(p).getModificationTime
      tableStats.get((dir, name)).filter(_.mtime == mtime).flatMap(field).orElse {
        val v = measure(fs, p)
        tableStats.updateWith((dir, name)) {
          case Some(cur) if cur.mtime == mtime => Some(record(cur, v))
          case _ => Some(record(TableStats(mtime), v))
        }
        Some(v)
      }
    } catch { case _: java.io.IOException => None }

  /** Table bytes on disk; None when the size cannot be read. */
  private def tableBytes(s: SparkSession, dir: String, name: String): Option[Long] =
    tableStat[Long](s, dir, name, _.bytes, (st, v) => st.copy(bytes = Some(v)))(
      (fs, p) => fs.getContentSummary(p).getLength)

  /** Table row count; an unreadable status counts without memoizing. */
  private[graft] def cachedCount(s: SparkSession, dir: String, name: String): Long =
    tableStat[Long](s, dir, name, _.rows, (st, v) => st.copy(rows = Some(v)))(
      (_, _) => t(s, dir, name).count())
      .getOrElse(t(s, dir, name).count())

  /** Scale-ADAPTIVE parallel scan for compute-heavy derivations (guide
    * §2.5 "input skew — one huge unsplittable file", §6 input split
    * size). A table whose on-disk bytes are below maxPartitionBytes x
    * cores scans as FEWER SPLITS THAN THE CLUSTER HAS CORES (a
    * single-file table scans as ONE task), which serializes every
    * per-row kernel that runs before the first exchange — graft_shingles
    * explodes, graft_minhash8 / graft_hashtf, graft_repetition_stats —
    * on one core while the rest idle. Spreading the (tiny) rows
    * round-robin first costs one sub-MB exchange and buys cores-way
    * parallelism for the expensive projections. At production scale the
    * predicate is false (the scan already yields >= cores splits of
    * >= maxPartitionBytes) and the plan is UNCHANGED — nothing here is
    * tuned to local[32]; both the threshold and the target count derive
    * from the session. Filters/pruning still push through Repartition to
    * the scan (PlanAuditSpec pins q51's n_chars gate), and round-robin
    * assignment is deterministic (sortBeforeRepartition, SPARK-23207).
    * Use for scans feeding expensive row-local work; plain `t` remains
    * right when the first downstream op is already a shuffle or the
    * per-row work is trivial (the exchange would buy nothing).
    */
  private[graft] def tp(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    scanRepartition(s, dir, name).fold(df)(df.repartition)
  }

  /** The partition count [[tp]] spreads a table's scan over, or None for
    * the plain scan — including when the table's size is unknown, so an
    * unreadable size never guesses a repartition.
    */
  private[graft] def scanRepartition(s: SparkSession, dir: String,
      name: String): Option[Int] = {
    val n = s.sparkContext.defaultParallelism
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    // two clauses: (a) the scan is parallelism-starved (fewer natural
    // splits than cores), AND (b) the exchange is cheap in absolute
    // terms (<= 8 splits ~ 1 GB at defaults). Without (b) a mid-scale
    // table — say 20 GB on a 200-core cluster, already scanning as ~160
    // splits — would pay a full-table shuffle to gain a handful of
    // tasks; with it the shuffled bytes are bounded at any scale.
    tableBytes(s, dir, name).collect {
      case bytes if (bytes + maxSplit - 1) / maxSplit < n && bytes <= 8L * maxSplit => n
    }
  }

  /** Stride-7 char-12-gram shingle array over `text`, deduped
    * ROW-LOCALLY (array_distinct) — ONE definition for q16/q78's
    * near-dup shingles and q08's set-difference shingles, so the two
    * spellings cannot drift (both oracles mirror this expression).
    */
  private def shingle12Stride7: Column = array_distinct(Dedup.shingles(12, 7))

  /** q16's exact shingle-Jaccard near-dup pairs (τ=0.5), shared with
    * q78's recall gate so the truth derivation can never desync from the
    * standalone query. df≤64 hot-shingle guard; the windowed df over sh
    * shares the join's shuffle — the shingle set is computed once, not
    * once per guard branch.
    */
  private def exactJaccardPairs(docs: DataFrame): DataFrame = {
    // per-(doc, shingle) dedup is ROW-LOCAL (array_distinct before the
    // explode): with doc_id in every row, distinct-per-doc == global
    // distinct, so the corpus-wide (doc_id, sh) distinct Exchange the
    // explode().distinct() spelling paid is pure waste — one full
    // shuffle of every shingle removed (guide §2.4), and the exploded
    // rows stay doc-contiguous so the sz count partial-aggregates
    // before its shuffle
    val shingles = docs.select(col("doc_id"),
      explode(shingle12Stride7).as("sh"))
    val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val common = Dedup.guardedSelfJoin(shingles, Seq("sh"), "doc_id", Nil, 64)
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("common"))
    // alias-style size joins (no rename Project above the aggregate):
    // the two sizes subtrees canonicalize identically, so the second
    // join's build reuses the first's exchange instead of re-running
    // the scan+explode+agg chain
    common
      .join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("s1.sz") + col("s2.sz") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id1"), col("id2"))
  }

  /** q76's corpus pass: word-frequency vocabulary with char-spaced
    * symbol strings (" t a b l e "). The ONLY stage that touches the
    * corpus — every BPE merge round after it is vocabulary-sized.
    * package-private so PlanAuditSpec can audit the distributed stages
    * directly (the query's returned frame is the driver-side 3-row
    * merge report).
    */
  private[graft] def bpeVocab(s: SparkSession, dir: String): DataFrame =
    tp(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("sym",
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")))
      .select(col("w"), col("cnt"), col("sym"))

  /** q76/q79's shared merge loop: 3 BPE rounds over a (persisted) vocab
    * frame — distributed argmax per round, driver re-injects the winning
    * pair as a replace literal. Returns the merged vocab frame plus the
    * (rank, pair, count) report rows.
    */
  private def bpeMergeRounds(words: DataFrame): (DataFrame, Seq[(Long, String, Long)]) = {
    var syms = words
    val rounds = (1 to 3).map { k =>
      val tops = bpePairCounts(syms)
        .orderBy(col("pcnt").desc, col("pair").asc).limit(1).collect()
      require(tops.nonEmpty,
        s"BPE round $k: no adjacent symbol pairs left to merge — the " +
          "corpus has no [a-z]+ words of length >= 2")
      val top = tops(0)
      val (pair, pcnt) = (top.getString(0), top.getLong(1))
      // pair is two [a-z]+ symbols — safe to inline as a SQL literal
      syms = syms.withColumn("sym",
        expr(s"replace(sym, ' $pair ', ' ${pair.replace(" ", "")} ')"))
      (k.toLong, pair, pcnt)
    }
    (syms, rounds)
  }

  /** One BPE round's adjacent-pair frequencies over a symbol-string
    * vocabulary frame: row-local pair explode, map-side-combinable sum
    * weighted by word frequency.
    */
  private[graft] def bpePairCounts(syms: DataFrame): DataFrame = syms
    .withColumn("ts", split(trim(col("sym")), " "))
    .select(col("cnt"), explode(expr(
      """IF(size(ts) < 2, array(),
        |   zip_with(slice(ts, 1, size(ts) - 1),
        |            slice(ts, 2, size(ts) - 1),
        |            (a, b) -> concat(a, ' ', b)))""".stripMargin)).as("pair"))
    .groupBy(col("pair")).agg(sum(col("cnt")).as("pcnt"))

  /** Deterministic split bucket 0..9 for a `doc_id` column (md5-of-id,
    * stable under re-ingest/re-partitioning; no RNG state) — q56's
    * train(<8)/val(8)/test(9) scheme, shared by q60/q61/q62.
    */
  private def splitBucket: Column = splitBucketOf(col("doc_id"))

  /** [[splitBucket]] over an arbitrary id column — q85 derives the
    * split of a pair's endpoints from the ids alone, no doc join.
    */
  private def splitBucketOf(id: Column): Column =
    conv(substring(md5Utf8(concat(lit("split:"), id.cast("string"))),
      1, 4), 16, 10).cast("long") % 10

  /** The split label over [[splitBucket]]'s `b` column — ONE definition
    * of the train/val/test scheme (q56/q62/q74); an edit here moves every
    * consumer at once instead of desyncing inline copies.
    */
  private def splitName: Column =
    when(col("b") < 8, "train").when(col("b") === 8, "val").otherwise("test")

  /** q55's row-local Gopher-rule repetition stats appended to `docs`
    * (requires a `text` column): dup5_occ, n_tokens, n_distinct,
    * top_bigram, top_bigram_cnt, keep — the fields of ONE
    * `graft_repetition_stats` kernel call a row
    * ([[graft.functions.RepetitionStats]]), zero shuffle. Shared by q55,
    * the composed q62 curation pipeline and the q73 funnel. Tie on the
    * max bigram count resolves to the lexicographically smallest bigram.
    * A filter on `keep` pushed below [[tp]]'s repartition onto the scan
    * stays one kernel call: `keep` is a field of the struct, not a
    * conjunction over the other fields.
    */
  private def withRepetitionStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("_rep", expr("graft_repetition_stats(text)"))
      .select(docs.columns.toIndexedSeq.map(col) ++
        Seq("dup5_occ", "n_tokens", "n_distinct", "top_bigram", "top_bigram_cnt", "keep")
          .map(f => col(s"_rep.$f").as(f)): _*)

  /** URL canonicalizer (q71): lowercase scheme+host, strip the
    * SCHEME-DEFAULT port (http:80 / https:443 only — https:80 is a
    * different origin and survives), drop the fragment, remove utm_*
    * tracking params, collapse trailing slashes. RE2-safe regexes only
    * (no lookahead), mirrored in the q71 oracle. IDEMPOTENT —
    * canon(canon(u)) == canon(u) (UrlCanonSpec fuzzes this incl. '//'
    * tails and '&' in paths), which is what lets re-ingested already-
    * canonical urls flow through unchanged.
    */
  private[graft] def canonicalizeUrl(raw: Column): Column = {
    val schemeHost =
      regexp_replace(regexp_replace(
        lower(regexp_extract(raw, "^([A-Za-z]+://[^/?#]+)", 1)),
        "^(http://[^:]*):80$", "$1"), "^(https://[^:]*):443$", "$1")
    val rest = regexp_extract(raw,
      "^[A-Za-z]+://[^/?#]+([^#]*)", 1) // path+query, fragment dropped
    // path and query are split FIRST and handled separately: utm removal
    // touches only the query, so a literal '&' in the path can never be
    // promoted into a query separator (the /a&b?utm_s=1 case), and a
    // query remnant left starting with '&' — meaning the removed utm
    // param was the '?' one — is precisely the promotion condition.
    // Each utm param is removed WITH its leading separator
    // (global-replace scanning can't see consecutive utm params'
    // overlap — UrlCanonSpec's ?utm_a&utm_b&id case caught the
    // dangling-'&' bug a keep-the-'?' spelling has).
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    val query = regexp_replace(
      regexp_replace(regexp_extract(rest, "(\\?.*)$", 1),
        "[?&]utm_[^&#]*", ""),
      "^&", "?")
    concat(schemeHost, path, query)
  }

  /** 24-char-shingle decontamination hits (sh, doc_id): one row per
    * train-split doc (b < 8) and distinct shingle it shares with the
    * held-out test split (b = 9). `docs` must carry (doc_id, text, b).
    * Both sides list each doc's distinct windows as (h, pos) with
    * `graft_window_hashes` (no string per window). The train windows
    * probe the BROADCAST test windows on the 64-bit `h` alone (a long-keyed
    * hashed relation); a 24-char string is built only to check a hash
    * hit against the test window's bytes, so a 64-bit collision adds a
    * candidate that the check rejects and never drops a hit (the argument
    * is on [[graft.functions.ShingleKernel.windows]]). The probe is a semi-join,
    * so a window that recurs in many test docs still matches once and the
    * test side needs no global distinct. The two prefix tests spell string
    * equality so that the planner keeps `h` the only join key: an `=`
    * between the sides would become a second, string-valued key and build
    * the string of every train window. q61 counts the hits per doc;
    * [[contaminatedTrainDocs]] keeps the doc ids.
    */
  private def decontamHits(docs: DataFrame): DataFrame = {
    def windows(d: DataFrame) =
      d.select(col("doc_id"), col("text"), explode(expr("graft_window_hashes(text, 24, 1)")).as("w"))
        .select(col("doc_id"), col("text"), col("w.h").as("h"), col("w.pos").as("pos"))
    windowProbe(windows(docs.filter(col("b") < 8)), windows(docs.filter(col("b") === 9)))
  }

  /** The probe of [[decontamHits]] over two window frames (doc_id, text,
    * h, pos), each window `substring(text, pos, 24)` with hash `h`:
    * (sh, doc_id) for every train window whose bytes equal some test
    * window's.
    */
  private[graft] def windowProbe(train: DataFrame, test: DataFrame): DataFrame = {
    val sh = col("text").substr(col("pos"), lit(24))
    val testSide = test.select(col("h").as("test_h"), sh.as("test_sh"))
    train.join(broadcast(testSide), col("h") === col("test_h") &&
        sh.startsWith(col("test_sh")) && col("test_sh").startsWith(sh), "left_semi")
      .select(sh.as("sh"), col("doc_id"))
  }

  /** 24-char-shingle contamination set: train-split docs sharing ANY
    * shingle with the test split ([[decontamHits]]). Shared by q62/q73.
    */
  private[graft] def contaminatedTrainDocs(docs: DataFrame): DataFrame =
    decontamHits(docs).select(col("doc_id")).distinct()

  /** The q64 chunk-dedup core, shared with the volume-linearity bench
    * ([[graft.tools.ChunkDedupBench]]) so the recorded numbers always
    * measure the shape the product runs: row-local C-token chunking
    * (posexplode) then one first-occurrence window keyed on chunk text
    * (first by (doc_id, pos) — deterministic under any partitioning).
    * Input needs (doc_id, text); output is (doc_id, pos, chunk, keep).
    */
  private[graft] def chunkKeepFlags(docs: DataFrame, C: Int = 8): DataFrame = {
    val chunked = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, greatest(cast(ceil(size(ts) / $C.0) as int), 1)),
           |          i -> array_join(slice(ts, (i - 1) * $C + 1, $C), ' '))""".stripMargin)))
      .withColumnRenamed("col", "chunk")
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col("doc_id").asc, col("pos").asc)
    chunked.withColumn("keep", row_number().over(w) === 1)
  }

  /** MinHash + LSH candidate pairs (shingle -> minhash -> band ->
    * bucket-join), shared by q18 (pair listing), q50 (cluster
    * formation) and q51 (corpus prep). H=8 md5 min-hashes computed
    * row-locally ([[graft.operators.Dedup.minhashSig]] — a pure
    * projection, no signature shuffle); B=4 bands of R=2 rows; candidate
    * pairs = docs sharing any band key, under the df ≤ 128 hot-band
    * guard (mirrored in the oracle). The band join is the linear-scale
    * path: at 10^12 rows it replaces the O(n^2) shingle self-join of q16.
    */
  private def minhashBandPairs(docs: DataFrame): DataFrame =
    Dedup.minhashBandPairs(
      Dedup.minhashSig(docs.select(col("doc_id"), col("text"))),
      "doc_id")

  /** q07/q17's occurrence count of `marker` in `text`, by
    * replace-difference (deterministic integer math).
    */
  private def occ(marker: String): Column =
    ((length(col("text")) - length(regexp_replace(col("text"), lit(marker), lit("")))) /
      marker.length).cast("long")

  /** q14's quality-surrogate columns — ONE definition for the space
    * count and the avg-word-length score shared by q14, the q51 quality
    * gate ([[corpusPrepPipeline]]) and the q84 decile calibration, so the
    * calibration thresholds always describe the score the gate actually
    * applies. The oracles mirror this exact expression text.
    */
  private def nSpacesCol: Column =
    length(col("text")) - length(regexp_replace(col("text"), " ", ""))
  private def avgWordLenCol: Column =
    (length(col("text")) - nSpacesCol).cast("double") / (nSpacesCol + 1)

  /** The lazy corpus-prep pipeline (q51): quality gate → exact-dedup
    * survivor set → MinHash edges → CC representatives → per-source
    * stats. `persistEx` caches the survivor set, which feeds THREE
    * consumers (edge generation, the CC vertex list, the representative
    * join) — at web scale each recomputation is a full corpus pass, so
    * production persists; the plan audit builds the unpersisted variant
    * to assert the quality gate reaches the parquet scan. Returns
    * (survivor set, result) so the caller controls the cache lifecycle.
    *
    * Scale shape: `text` is consumed ENTIRELY inside the initial
    * projection — fingerprint lanes, MinHash signature (row-local, see
    * [[graft.operators.Dedup.minhashSig]]) and token count are all
    * computed in the scan stage, and only the slim columns (doc_id,
    * source, n_tokens, h0..h7) ever shuffle, persist, or join. At 100 TB that means the
    * exact-dedup exchange moves ~300 bytes/doc instead of the document
    * body, the survivor cache is sketch-sized, and the corpus body is
    * read exactly once. Deliberate trade: signatures are computed for
    * exact-duplicate docs that the keeper filter then drops — map-side
    * CPU that scales linearly, bought back by never shuffling text
    * (network/disk, the scarce resource at cluster scale).
    */
  private[graft] def corpusPrepPipeline(s: SparkSession, dir: String,
      persistEx: Boolean): (DataFrame, DataFrame) = {
    val ex0 = q51Survivors(s, dir)
    val ex = if (persistEx) ex0.persist() else ex0
    val edges = Dedup.minhashBandPairs(ex, "doc_id")
      .select(col("id1").as("src"), col("id2").as("dst"))
    val comp = Dedup.connectedComponents(
      ex.select(col("doc_id").as("id")), edges, edgesDistinct = true)
    val result = ex.join(comp, ex("doc_id") === comp("id"))
      .filter(col("comp") === col("id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("source"))
    (ex, result)
  }

  /** The q51 survivor set (quality gate + fp dedup, no persist): the
    * first half of [[corpusPrepPipeline]].
    */
  private def q51Survivors(s: SparkSession, dir: String): DataFrame = {
    val awl = avgWordLenCol
    val surv0 = tp(s, dir, "documents")
      .filter(col("n_chars") >= 100 && awl.between(4.0, 8.0))
      .select(col("doc_id"), col("source"), col("text"))
    val slim = Dedup.minhashSig(Dedup.fingerprintLanes(surv0))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .drop("text")
    val wFp = Window.partitionBy(col("fp1"), col("fp2"))
    slim
      .withColumn("keeper", min(col("doc_id")).over(wFp))
      .filter(col("doc_id") === col("keeper"))
      .drop("fp1", "fp2", "keeper")
  }

  /** Flagship: the full extract+correct pipeline over the synthetic corpus
    * (3 pages, mirroring the reference's 3-page golden workspace).
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Pipeline.run(Pipeline.generate(spark, 3))
      .select($"url", $"lang", $"text", $"nCorrections")
  }

  /** Every board query by name. A call first registers the graft SQL
    * functions in its session ([[graft.functions.SqlFunctions.register]],
    * idempotent), so query bodies spell the kernels by name:
    * `graft_shingles` behind [[Dedup.shingles]], `graft_repetition_stats`,
    * `graft_cosine`, `graft_lev_bounded` and the rest.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    board.map { case (name, q) =>
      name -> ((s: SparkSession, dir: String) => {
        graft.functions.SqlFunctions.register(s)
        q(s, dir)
      })
    }

  private def board: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 aggregations ----

    // WER stats shape (wer/cli.py:50-67): total/correct/incorrect + rate.
    // Sums are cast to BIGINT on both sides: DuckDB's sum(INTEGER) widens
    // to HUGEINT and the driver's hasher is type-sensitive.
    "q01_wer_stats" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("total_words"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).cast("long").as("correct_words"),
        sum(when(col("l_returnflag") =!= "N", 1L).otherwise(0L)).cast("long").as("incorrect_words")
      ).withColumn("word_error_rate",
        col("incorrect_words").cast("double") / col("total_words"))
    }),

    // per-engine CER accumulation (div/stats.py:60-91): sum of levenshtein
    // distances + GT length per group
    "q02_cer_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          sum(levenshtein(substring(col("text"), 1, 30), substring(col("text"), 31, 30)))
            .cast("long").as("dist_sum"),
          sum(col("n_chars")).cast("long").as("gt_len"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }),

    // two-level accuracy rollup (div/eval.py:96-221,306-321)
    "q05_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // integer-cents sum: exact + associative, so the result is
          // independent of partial-agg order AND hashes identically to the
          // DuckDB oracle (DECIMAL outputs hash-mismatch on physical encoding)
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // full grouping-sets lattice (cube) — the generalization of the
    // reference's manual two-level rollup (div/eval.py:96-221)
    "q41_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // predominant language argmax (div/lang.py:24-88)
    "q06_mode_lang" -> ((s, dir) => {
      val counts = t(s, dir, "documents").groupBy(col("source"), col("lang")).count()
      val w = Window.partitionBy(col("source"))
        .orderBy(col("count").desc, col("lang").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("count").as("cnt"))
        .orderBy(col("source"))
    }),

    // midrange conf fold (min+max)/2 (recognize.py:262-265)
    "q09_conf_fold" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(((min(col("l_extendedprice")) + max(col("l_extendedprice"))) / 2.0).as("mid_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))
    }),

    // glyph-scale median estimate (psegutils.py:22-35) -> exact median
    "q26_median_size" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(expr("percentile(p_size, 0.5)").as("median_size"), count(lit(1)).as("cnt"))
        .orderBy(col("p_brand"))
    }),

    // char histogram (chist, ocrolib/common.py:479-491)
    "q28_histogram" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(substring(col("p_name"), 1, 1).as("first_char"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("first_char"))
    }),

    // ---- §2.3 joins ----

    // k-way page-tuple zip join (align/cli.py:258-271) as star equi-join;
    // dims are broadcast (small side), per §4.2
    "q03_star_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // span-overlap theta join (clip.py:157-167 analog): events of the same
    // user within 1 hour of each other
    "q23_overlap_join" -> ((s, dir) => {
      val e1 = t(s, dir, "events").select(col("user_id"), col("event_id").as("id1"), col("ts").as("ts1"))
      val e2 = t(s, dir, "events").select(col("user_id"), col("event_id").as("id2"), col("ts").as("ts2"))
      // parquet timestamps load as TIMESTAMP_NTZ; cast through TIMESTAMP
      // (session TZ is pinned to UTC) for exact microsecond arithmetic
      def us(c: Column): Column = unix_micros(c.cast("timestamp"))
      e1.join(e2, Seq("user_id"))
        .filter(col("id1") < col("id2") &&
          abs(us(col("ts1")) - us(col("ts2"))) <= 3600000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("overlap_pairs"))
        .orderBy(col("user_id"))
    }),

    // the SCALE path for q23's overlap count: a range-frame window scan,
    // O(k log k) per user instead of the self-join's O(k^2) on hot users.
    // Per event, pairs it opens = events in (ts, ts+1h] plus later-id
    // ties; the row_number over (user, ts) subtracts self and earlier-id
    // ties so every unordered pair is counted exactly once. The oracle is
    // the JOIN-based SQL — both formulations must agree row-for-row.
    "q46_overlap_window" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val wR = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(0, 3600000000L)
      val wT = Window.partitionBy(col("user_id"), col("us")).orderBy(col("event_id"))
      t(s, dir, "events")
        .withColumn("us", us)
        .withColumn("n_after",
          count(lit(1)).over(wR) - row_number().over(wT))
        .groupBy(col("user_id"))
        .agg(sum(col("n_after")).cast("long").as("overlap_pairs"))
        .filter(col("overlap_pairs") > 0)
        .orderBy(col("user_id"))
    }),

    // EvalDLE/EvalRRDM analog (aio/aio.py:17-19,514-537): per-head
    // outcome counts over the held-out pages [300, 700) — the clean
    // validation slice plus the hard-eval slice [500, 700) whose
    // deliberately-uncorrectable garbles force NONZERO failure counters —
    // every token replayed through the production decision chain
    // (Corrector.classifyToken) and scored against the positional golden
    // token. The oracle derives the report from generator corpus facts
    // (fixtures/Expected headeval.parquet).
    "q47_head_eval" -> ((s, _) =>
      graft.pipeline.Pipeline.headEval(s, 300L, 400L)),

    // per-book improvement/deterioration report (div/eval.py:96-321's
    // per-book accuracy + total rollup role): pages [300, 900) scored by
    // case-folded positional token distance to golden, master extraction
    // vs production-corrected text, bucketed improved/worsened/unchanged
    // per book (url host) with a __total ROLLUP row. The [700, 900)
    // slice injects MISLEADING garbles (PagesGen.misleadTriples) that
    // the channel model provably "corrects" away from the truth, so the
    // worsened counters are nonzero generator facts. The oracle derives
    // every page's two distances from construction knowledge and
    // aggregates the same rollup.
    "q54_book_eval" -> ((s, _) => {
      import s.implicits._
      graft.pipeline.Pipeline.bookEval(s, 300L, 600L)
    }),

    // external-recognizer prediction import (div/importer.py:130-203):
    // parse the real predictions JSON schema (predictions[0].sentence +
    // per-char positions with chars[0].char/probability and
    // globalStart/globalEnd) with from_json, then restructure chars into
    // word/glyph annotations relationally — word index = running count of
    // spaces (one window that shares the line key), ordered glyph
    // regrouping via array_sort(collect_list(struct(ci, ...))), word conf
    // = midrange of char probs, line conf = midrange of word confs, word
    // bounds = first globalStart .. last globalEnd. The shape matches the
    // engine's AlignedWord glyph-conf lineage (ConfSurrogate plumbing).
    // The oracle re-runs the importer's imperative char loop driver-side.
    "q48_pred_import" -> ((s, _) => {
      val schemaDDL = "predictions ARRAY<STRUCT<sentence: STRING, " +
        "positions: ARRAY<STRUCT<chars: ARRAY<STRUCT<char: STRING, " +
        "probability: DOUBLE>>, globalStart: BIGINT, globalEnd: BIGINT>>>>"
      val parsed = graft.fixtures.Predictions.table(s, 100)
        .select(col("url"), col("line_id"),
          from_json(col("pred_json"), schemaDDL, Map.empty[String, String])
            .getField("predictions").getItem(0).as("p"))
      val pos = parsed
        .select(col("url"), col("line_id"),
          posexplode(col("p.positions")).as(Seq("ci", "pc")))
        .select(col("url"), col("line_id"), col("ci"),
          col("pc.chars").getItem(0).getField("char").as("ch"),
          col("pc.chars").getItem(0).getField("probability").as("prob"),
          col("pc.globalStart").as("gs"), col("pc.globalEnd").as("ge"))
      val wRun = Window.partitionBy(col("url"), col("line_id")).orderBy(col("ci"))
      val isSpace = when(col("ch") === " ", 1).otherwise(0)
      val chars = pos
        .withColumn("word_idx", sum(isSpace).over(wRun) - isSpace)
        .filter(col("ch") =!= " ")
      val words = chars.groupBy(col("url"), col("line_id"), col("word_idx"))
        .agg(
          array_sort(collect_list(struct(col("ci"), col("ch"), col("prob")))).as("glyphs"),
          min(col("prob")).as("pmin"), max(col("prob")).as("pmax"),
          min(col("gs")).as("word_start"), max(col("ge")).as("word_end"),
          count(lit(1)).as("n_glyphs"))
        .withColumn("word", concat_ws("", expr("transform(glyphs, g -> g.ch)")))
        .withColumn("wconf", (col("pmin") + col("pmax")) / 2.0)
        .withColumn("glyph_confs",
          concat_ws(",", expr("transform(glyphs, g -> cast(g.prob as string))")))
      val wLine = Window.partitionBy(col("url"), col("line_id"))
      words
        .withColumn("line_conf",
          (min(col("wconf")).over(wLine) + max(col("wconf")).over(wLine)) / 2.0)
        .select(col("url"), col("line_id"), col("word_idx"), col("word"),
          col("n_glyphs"), col("wconf"), col("word_start"), col("word_end"),
          col("glyph_confs"), col("line_conf"))
        .orderBy(col("url"), col("line_id"), col("word_idx"))
    }),

    // geometric reading order over REAL 2-D boxes (psegutils.py:114-170
    // order/topsort + the lines2regions X-Y cut): multi-column pages whose
    // DOM emits body paragraphs row-major and the title LAST; the
    // layout-aware segmenter pairs each block with its declared CSS box
    // and the geometric operators must reconstruct title-first,
    // column-major reading order and one region per column. The oracle is
    // the generator's construction order — document order is never the
    // answer, so the ported operators are load-bearing here.
    "q49_layout_order" -> ((s, _) => {
      import s.implicits._
      s.range(0L, 100L).flatMap { i =>
        val bb = graft.core.HtmlBlocks.segmentLayout(graft.fixtures.LayoutGen.html(i))
        val boxes = bb.map(_._2).toIndexedSeq
        val order = graft.core.ReadingOrder.topsort(graft.core.ReadingOrder.order(boxes))
        val region = graft.core.ReadingOrder.xyCut(boxes)
        order.zipWithIndex.map { case (bi, rank) =>
          (graft.fixtures.LayoutGen.url(i), rank, region(bi), bb(bi)._1.text)
        }
      }.toDF("url", "rank", "region", "text")
        .orderBy(col("url"), col("rank"))
    }),

    // table-CELL reading order (segment.py:145-876's table-cell role):
    // row-major — the opposite nesting of q49's column-major pages — via
    // the hierarchical composition X-Y cut (caption + one region per row;
    // touching cells make rows uncuttable) THEN the geometric partial
    // order within each region (leftOf chains the cells). The DOM emits
    // cells column-major with the caption last, so document order and the
    // flat global topsort (which is column-major by construction) both
    // fail — only the region-then-order composition reconstructs it.
    "q52_table_order" -> ((s, _) => {
      import s.implicits._
      s.range(0L, 100L).flatMap { i =>
        val bb = graft.core.HtmlBlocks.segmentLayout(
          graft.fixtures.LayoutGen.tableHtml(i))
        val boxes = bb.map(_._2).toIndexedSeq
        val region = graft.core.ReadingOrder.xyCut(boxes)
        val ordered = boxes.indices.groupBy(region).toSeq.sortBy(_._1)
          .flatMap { case (_, idx) =>
            val sub = idx.toIndexedSeq
            graft.core.ReadingOrder.topsort(
              graft.core.ReadingOrder.order(sub.map(boxes))).map(sub)
          }
        ordered.zipWithIndex.map { case (bi, rank) =>
          (graft.fixtures.LayoutGen.tableUrl(i), rank, region(bi), bb(bi)._1.text)
        }
      }.toDF("url", "rank", "region", "text")
        .orderBy(col("url"), col("rank"))
    }),

    // embedding-COSINE near-dup (the remaining dedup modality): derive a
    // 64-dim feature-hashed tf embedding per document in ONE codegen pass
    // (graft_hashtf — the HOF spelling is O(dim*T) and CodegenFallback),
    // band by CENTERED sign bits (tf vectors are all-nonnegative, so raw
    // hyperplane signs carry no information; subtracting the mean count
    // makes the 4x16-bit keys discriminative), then verify candidates
    // with the exact codegen cosine >= 0.97. Same scale shape as
    // q21/q44: equi-join on (band, key) with the df <= 128 hot-band
    // guard sharing the join's shuffle — no all-pairs comparison
    // anywhere. tau = 0.97 sits in the corpus's [0.968, 0.987] cosine
    // gap, so membership is float-ulp-safe on both engines.
    "q53_cosine_neardup" -> ((s, dir) =>
      cosineBandPairs(tfEmbeddings(s, dir)).orderBy(col("id1"), col("id2"))),

    // embedding-path recall gate (q78's analog for the cosine near-dup
    // scale path, completing the set: every approximate index in the
    // engine — MinHash bands (q78), hyperplane-LSH ANN (q65), centered-
    // sign cosine bands (here) — is scored against exact ground truth
    // before being trusted). Truth = ALL-pairs exact cosine >= 0.97 via
    // the q20-shape bounded BNLJ (one side broadcast, the correctness
    // baseline a production run executes on a q58 sample); candidates =
    // q53's shared derivation. The 0.97 threshold sits >= 1.4e-4 from
    // every pair's cosine at every SF (verified corpus fact), so the
    // float compare can never flip between engines.
    "q80_cosine_recall" -> ((s, dir) => {
      val emb = tfEmbeddings(s, dir)
      val hits = cosineBandPairs(emb)
      val probes = cosineBandJoined(emb)
        .select(col("id1"), col("id2")).distinct()
      recallReport(exactCosinePairs(emb), hits, probes)
    }),

    // SemDedup-style cell-partitioned embedding dedup gate (Abbas et
    // al. 2023's shape, over q53's shared tf embeddings): k=⌈√n⌉ seed
    // centroids (doc_id < k — a PUSHED scan filter, q40's quantizer
    // seeding), row-local broadcast-centroid argmin, within-cell pairs
    // under a ≤128-docs/cell guard, exact graft_cosine ≥ 0.97 verify.
    // The tf counts make every squared distance an INTEGER held exactly
    // in doubles, so the argmin can never flip between engines (ties
    // break to the smaller cid in both). Cells PARTITION the corpus:
    // unlike the band joins each candidate pair occurs exactly once (no
    // distinct), and the pair stage is embarrassingly cell-parallel —
    // at 100 TB, k scales as n/targetCellSize and per-cell work stays
    // bounded, the published SemDedup scale path. Scored as a recall
    // gate against the same exact truth q80 uses, plus the cell count
    // the capacity plan needs.
    "q82_semdedup_recall" -> ((s, dir) => {
      val emb = tfEmbeddings(s, dir).drop("m")
      val k = math.max(8L, math.ceil(math.sqrt(
        cachedCount(s, dir, "documents").toDouble)).toLong)
      val assigned = graft.operators.VectorOps.assignCells(emb, "doc_id",
        emb.filter(col("doc_id") < k)
          .select(col("doc_id").as("cid"), col("v").as("cv")))
      val cand = Dedup.guardedSelfJoin(assigned, Seq("cid"), "doc_id", Seq("v"), 128)
      val hits = cand.filter(expr("graft_cosine(v1, v2)") >= 0.97)
        .select(col("id1"), col("id2"))
      recallReport(exactCosinePairs(emb), hits, cand)
        .crossJoin(assigned.agg(countDistinct(col("cid")).as("n_cells")))
    }),

    // the COMPOSED training-data prep chain — the engine's actual 100 TB
    // use case, every stage reusing an individually-oracled operator:
    //   quality gate (q14's stats)  ->  exact dedup (q15's 2-lane
    //   multiset fingerprint, keeper = min doc per fp)  ->  near-dup
    //   clusters over the SURVIVORS (q18 pairs -> q50 connected
    //   components, keeper = component representative)  ->  per-source
    //   corpus stats of the kept documents.
    // Scale shape: one narrow filter + one fp groupBy-window + the
    // band-join/CC path — no stage introduces work the standalone
    // queries don't already carry.
    "q51_corpus_prep" -> ((s, dir) => {
      val (ex, result) = corpusPrepPipeline(s, dir, persistEx = true)
      // the output is per-SOURCE stats — bounded by the source count, a
      // report, not data. Materialize it while ex is cached, then drop
      // the cache deterministically (mirrors Dedup's sym lifecycle);
      // returning the lazy plan instead would either leak the cache or
      // re-scan the corpus for the representative join.
      val rows = result.collect()
      ex.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), result.schema)
        .orderBy(col("source"))
    }),

    // ---- §2.5 window / ranking / top-k ----

    // select_regions top-k (morph.py:309-330)
    "q04_topk_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // candidate ranking + maxCandidates limit (config.json:9)
    "q11_rank_limit" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("rnk"))
        .orderBy(col("l_orderkey"), col("rnk"))
    }),

    // distance-to-next-rank via lead/lag (DMDifferenceToNextRankFeature,
    // config.json dmFeatures): per-key ordered delta to the next row
    "q42_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("next_val", lead(col("value"), 1).over(w))
        .withColumn("diff_to_next",
          round(col("next_val") - col("value"), 6))
        .select(col("user_id"), col("event_id"), col("diff_to_next"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // moving stats ring buffer (ocrolib/common.py:875-885): windowed max
    // over the last 3 rows (exact-pick aggregate, deterministic)
    "q10_moving_max" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-2, 0)
      t(s, dir, "events")
        .withColumn("wmax", max(col("value")).over(w))
        .select(col("user_id"), col("event_id"), col("wmax"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- §2.6 set operations ----

    // label set difference (setdiff1d, ocropy/common.py:1107-1110):
    // shingles unique to the held-out doc subset
    "q08_set_except" -> ((s, dir) => {
      // row-local array_distinct (inside shingle12Stride7) shrinks the
      // rows entering each side's global distinct shuffle (guide §2.3
      // "shuffle fewer bytes"); the per-side result set is unchanged
      val sh = tp(s, dir, "documents").select(col("doc_id"),
        explode(shingle12Stride7).as("sh"))
      val a = sh.filter(col("doc_id") % 10 === 0).select(col("sh")).distinct()
      val b = sh.filter(col("doc_id") % 10 =!= 0).select(col("sh")).distinct()
      a.except(b).orderBy(col("sh"))
    }),

    // ---- §2.7 scalar functions ----

    // levenshtein as a column expression (edist.py:6-19 -> built-in)
    "q12_lev_matrix" -> ((s, dir) => {
      t(s, dir, "nation").crossJoin(t(s, dir, "region"))
        .select(col("n_name"), col("r_name"),
          levenshtein(col("n_name"), col("r_name")).as("lev"))
        .orderBy(col("n_name"), col("r_name"))
    }),

    // custom Catalyst expression: banded bounded levenshtein (the scale
    // path for lev(a,b) <= k predicates; codegen-compatible, see
    // graft.functions.BoundedLevenshtein)
    "q39_bounded_lev" -> ((s, dir) => {
      t(s, dir, "nation").crossJoin(t(s, dir, "region"))
        .select(col("n_name"), col("r_name"),
          expr("graft_lev_bounded(n_name, r_name, 3)").as("bd"))
        .orderBy(col("n_name"), col("r_name"))
    }),

    // Catalyst optimizer rule end-to-end (SparkSessionExtensions): the
    // query writes the NAIVE predicate `levenshtein(a,b) <= 7`;
    // BoundedLevPredicateRewrite swaps in the banded O(k*n) kernel at
    // optimization time — the oracle runs the same naive SQL, so the
    // rewrite must be outcome-identical
    "q45_lev_predicate_rewrite" -> ((s, dir) => {
      graft.plans.BoundedLevPredicateRewrite.inject(s)
      t(s, dir, "nation").crossJoin(t(s, dir, "region"))
        .filter(levenshtein(col("n_name"), col("r_name")) <= 7)
        .select(col("n_name"), col("r_name"))
        .orderBy(col("n_name"), col("r_name"))
    }),

    // tokenize + token count (aio.py:454-460 role)
    "q13_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("len_chars"))
        .orderBy(col("doc_id"))
    }),

    // quality scoring: length/space/word-length ratios
    "q14_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          nSpacesCol.cast("long").as("n_spaces"),
          avgWordLenCol.as("avg_word_len"))
        .orderBy(col("doc_id"))
    }),

    // stopword-marker scoring (aio.py:462-477 role): occurrence counts by
    // replace-difference (deterministic integer math)
    "q07_stopword_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), occ(" the ").as("cnt_the"), occ(" data ").as("cnt_data"))
        .orderBy(col("doc_id"))
    }),

    // language-ID heuristic: argmax of marker scores
    "q17_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), occ(" the ").as("s_en"), occ(" query ").as("s_q"))
        .withColumn("pred", when(col("s_en") >= col("s_q"), "en").otherwise("ql"))
        .select(col("doc_id"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // char-span substr lineage (image crop analog, §2.1)
    "q27_charspan" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 11, 40).as("span_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- training-data ops: deduplication ----

    // exact dedup on the word MULTISET (hash-groupBy) via the shared
    // two-lane commutative fingerprint (see Dedup.fingerprintLanes — the
    // round-2 guard was a single ~2^30 lane, which the pigeonhole breaks
    // at 10^12 docs)
    "q15_dedup_exact" -> ((s, dir) => {
      Dedup.fingerprintLanes(tp(s, dir, "documents"))
        .groupBy(col("fp1"), col("fp2"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
        .filter(col("n_dups") >= 1)
        .groupBy(col("n_dups")).agg(count(lit(1)).as("n_groups"))
        .orderBy(col("n_dups"))
    }),

    // n-gram Jaccard near-dup: stride-7 char-12-gram shingles, shingle-key
    // equi-join (the scalable LSH-style band join shape), Jaccard >= 0.5.
    // Hot-shingle guard: shingles shared by > 64 docs (boilerplate) are
    // dropped before the self-join — without it one hot shingle emits
    // O(df^2) join rows, a quadratic blowup at web scale. Doc sizes are
    // still counted over ALL shingles, so the guard only ever lowers a
    // pair's Jaccard (conservative), and is mirrored in the oracle.
    "q16_shingle_jaccard" -> ((s, dir) =>
      exactJaccardPairs(tp(s, dir, "documents")).orderBy(col("id1"), col("id2"))),

    // MinHash + LSH near-dup (shingle -> minhash -> band -> bucket-join).
    // H=8 md5 min-hashes as conditional min aggregates (map-side
    // combinable, no j-explode); B=4 bands of R=2 rows; candidate pairs =
    // docs sharing any band key. The band join is the linear-scale path:
    // at 10^12 rows it replaces the O(n^2) shingle self-join of q16.
    "q18_minhash_lsh" -> ((s, dir) =>
      minhashBandPairs(tp(s, dir, "documents")).orderBy(col("id1"), col("id2"))),

    // dedup index-quality gate (q65's analog for the near-dup path): the
    // eval a pipeline runs BEFORE trusting the LSH scale path — recall of
    // q18's MinHash band candidates against the exact shingle-Jaccard
    // truth (τ=0.5, q16's shared derivation), plus the candidate count
    // (the probe cost the bands pay for that recall). With B=4×R=2 the
    // analytic catch rate at exactly τ=0.5 is 1-(1-0.25)^4 ≈ 0.68 and
    // rises steeply with similarity — n_hit/n_exact lands well above it
    // on this corpus because most true pairs sit far above τ. Scale
    // shape: both sides are the guarded derivations of their standalone
    // queries; the report joins two pair sets on (id1, id2) and reduces
    // to ONE row. Truth is exact-on-the-tested-corpus; at 100 TB you run
    // the same gate on a stratified sample (q58) — the queries compose.
    "q78_lsh_dedup_recall" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val cand = minhashBandPairs(docs)
      recallReport(exactJaccardPairs(docs), cand, cand)
    }),

    // near-dup CLUSTER formation: MinHash candidate pairs -> connected
    // components (iterative min-label propagation, operators/Dedup) ->
    // one keeper per component -> cluster-size histogram. This is the
    // dedup DECISION stage the pair queries feed at web scale: transitive
    // closure, not one-hop pairs (doc A~B, B~C dedups all three even when
    // A and C never shared a band). Vertices include isolated docs
    // (singleton clusters). The oracle computes the same components with
    // a recursive transitive-closure CTE — a completely different
    // algorithm shape.
    "q50_dedup_clusters" -> ((s, dir) => {
      val verts = t(s, dir, "documents").select(col("doc_id").as("id"))
      val edges = minhashBandPairs(tp(s, dir, "documents"))
        .select(col("id1").as("src"), col("id2").as("dst"))
      Dedup.connectedComponents(verts, edges,
          edgesDistinct = true)
        .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // SimHash document signatures: 32-bit sketch from the per-nibble high
    // bit of each token's md5, majority-voted across tokens. Shuffle-free
    // except one hash-agg on doc_id (map-side partials).
    "q19_simhash" -> ((s, dir) =>
      simhashSigs(t(s, dir, "documents")).withColumnRenamed("sh", "simhash")
        .orderBy(col("doc_id"))),

    // SimHash PAIRING stage: band the 32-bit signatures into 4 bytes,
    // equi-join on any equal band (Hamming-ball candidates: distance <= 3
    // implies at least one of 4 bands is untouched; tau=2 here), then verify true
    // Hamming distance via bit_count(xor). Same banded-join scale shape
    // as q18 — no all-pairs comparison ever materializes.
    "q44_simhash_pairs" -> ((s, dir) =>
      simhashBandJoined(simhashSigs(tp(s, dir, "documents")))
        .withColumn("hamming", simhashHamming)
        .filter(col("hamming") <= 2)
        .select(col("id1"), col("id2"), col("hamming")).distinct()
        .orderBy(col("id1"), col("id2"))),

    // SimHash recall gate (the q78/q80 analog for the 4×8-bit banded
    // Hamming index — the last approximate index in the engine without
    // one). Pigeonhole makes the UNGUARDED bands lossless at this radius
    // (hamming ≤ 2 touches ≤ 2 of 4 bands, so ≥ 2 bands survive intact
    // and the pair must collide) — the ONLY recall leak is the df≤128
    // hot-band guard, so n_exact - n_hit prices exactly what the skew
    // guard trades away, and n_cand (pre-verify band-join rows) what the
    // bands cost. Truth = all-pairs exact bit_count(xor) ≤ 2 over the
    // 32-bit signatures (broadcast BNLJ — signatures are tiny; the
    // all-pairs side runs on a q58 sample at 100 TB).
    "q81_simhash_recall" -> ((s, dir) => {
      val sig = simhashSigs(tp(s, dir, "documents"))
      val joined = simhashBandJoined(sig)
      val hits = joined.withColumn("hamming", simhashHamming)
        .filter(col("hamming") <= 2)
        .select(col("id1"), col("id2")).distinct()
      val probes = joined.select(col("id1"), col("id2")).distinct()
      // hoist the base-2 string decode OUT of the all-pairs compare:
      // conv() per PAIR costs 2·n²/2 string parses (25M at sf0.1 —
      // measured 16 s warm, ~90% of the query); decoded once per DOC the
      // BNLJ predicate is a raw xor+popcount per pair (n parses total)
      val sigL = sig.withColumn("shl", conv(col("sh"), 2, 10).cast("long"))
      val a = sigL.select(col("doc_id").as("id1"), col("shl").as("shl1"))
      val b = sigL.select(col("doc_id").as("id2"), col("shl").as("shl2"))
      val exact = a.join(broadcast(b), col("id1") < col("id2"))
        .filter(bit_count(col("shl1").bitwiseXOR(col("shl2"))) <= 2)
        .select(col("id1"), col("id2"))
      recallReport(exact, hits, probes)
    }),

    // brute-force cosine top-k ANN over the embeddings table: the exact
    // baseline. Query side (vec_id < 5) is broadcast; similarity in double
    // precision via zip_with + aggregate fold; output ranks only (floats
    // stay internal), rank on round(cos,3) with vec_id tiebreak.
    "q20_ann_topk" -> ((s, dir) => {
      // cosine via the codegen'd CosineSim expression (one fused pass over
      // the raw FLOAT arrays, bitwise-equal to the HOF fold it replaced —
      // HOFs are CodegenFallback and re-walk the arrays three times)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos_r").desc, col("vec_id").asc)
      broadcast(q).join(emb, col("vec_id") =!= col("qid"))
        .withColumn("cos_r", round(expr("graft_cosine(qv, v)"), 3))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("vec_id"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // LSH-bucketed ANN (the scale path): banded hyperplane LSH — B=4 bands
    // of R=16 sign bits each (64 bits total; candidates = pairs agreeing on
    // ALL 16 bits of ANY band). 2^16 buckets per band keeps within-bucket
    // self-joins near-linear at 10^12 rows (vs 16 buckets in the naive
    // single-band variant, whose buckets grow O(n) and the join O(n^2)).
    "q21_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      val banded = emb.select(col("vec_id"), col("v"),
        VectorOps.signBands(col("v"), 16, 4))
        .toDF("vec_id", "v", "band", "key")
      val a = banded.select(col("band"), col("key"), col("vec_id").as("id1"), col("v").as("v1"))
      val c = banded.select(col("band"), col("key"), col("vec_id").as("id2"), col("v").as("v2"))
      a.join(c, Seq("band", "key")).filter(col("id1") < col("id2"))
        .withColumn("cos_r", round(expr("graft_cosine(v1, v2)"), 3))
        .filter(col("cos_r") >= 0.35)
        .select(col("id1"), col("id2")).distinct()
        .orderBy(col("id1"), col("id2"))
    }),

    // IVF ANN (the other scale path besides LSH): coarse quantizer =
    // k = max(8, ceil(sqrt(n))) deterministic centroids (vec_id < k), so
    // cells hold ~sqrt(n) vectors and candidate work per query stays
    // O(nprobe * sqrt(n)) as the table grows (the standard IVF sizing;
    // n comes from parquet metadata, not a scan). Every vector is
    // assigned to its nearest centroid (the inverted file); each query
    // (vec_id < 3) probes its nprobe=2 nearest cells.
    // Cell assignment is ROW-LOCAL: the centroid set is collapsed to one
    // broadcast array row and each vector computes its argmin over that
    // array with higher-order functions — zero shuffle, no window. Struct
    // ordering (d2, cid) gives the d2-asc/cid-asc tie rule for free. Only
    // the probe→cell equi-join and the final tiny top-k window shuffle.
    "q40_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      val k = math.max(8L, math.ceil(math.sqrt(
        cachedCount(s, dir, "embeddings").toDouble)).toLong)
      val seeds = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // per-centroid squared distance, ranked row-locally; the inner fold
      // is the codegen'd graft_sqdist kernel (same left-fold order as the
      // aggregate/zip_with HOF it replaced); ONE shared definition with
      // q82/lloydOnce so the engines' tie-break can never diverge
      val assigned = graft.operators.VectorOps.assignCells(emb, "vec_id", seeds)
      // probes from a SEPARATE pre-filtered branch: the vec_id < 3 filter
      // pushes to the scan, so the nprobe cell ranking is computed for 3
      // vectors instead of re-deriving the full n-vector distance stage
      // (the identical centroid-array plan reuses assigned's broadcast)
      val probes = emb.filter(col("vec_id") < 3)
        .crossJoin(broadcast(graft.operators.VectorOps.centroidArray(seeds)))
        .withColumn("ds", graft.operators.VectorOps.distRank)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          explode(expr("transform(slice(ds, 1, 2), x -> x.cid)")).as("cid"))
      val wQ = Window.partitionBy(col("qid"))
        .orderBy(col("cos_r").desc, col("vec_id").asc)
      probes.join(assigned, Seq("cid"))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos_r", round(expr("graft_cosine(qv, v)"), 3))
        .withColumn("rnk", row_number().over(wQ))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("vec_id"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // document fingerprinting: rolling 8-gram hash, winnowing-style
    // selection of grams whose md5 starts with '0' (1/16 sampling) —
    // content-defined, shift-robust fingerprints.
    "q22_fingerprint" -> ((s, dir) => {
      tp(s, dir, "documents").select(col("doc_id"), explode(Dedup.shingles(8)).as("g"))
        .select(col("doc_id"), md5Utf8(col("g")).as("h"))
        .filter(col("h").startsWith("0"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"), min(col("h")).as("min_fp"))
        .orderBy(col("doc_id"))
    }),

    // BPE-ish regex token counting (letters | digits | single symbol)
    "q24_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long").as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // repetition-based quality gate (the Gopher-rule family: fraction of
    // content inside the most frequent word 2-gram, duplicated 5-gram
    // occurrences, distinct-token ratio). Entirely ROW-LOCAL: one
    // graft_repetition_stats kernel call a document groups its tokens,
    // 2-grams and 5-grams in one pass — no explode, no shuffle, so at
    // 100 TB this is a pure map stage whose cost is linear in the
    // document. Tie on the max count resolves to the lexicographically
    // smallest 2-gram.
    "q55_repetition_filter" -> ((s, dir) => {
      withRepetitionStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("top_bigram"), col("top_bigram_cnt"), col("dup5_occ"),
          col("keep"))
        .orderBy(col("doc_id"))
    }),

    // composed curation pipeline v2: quality gate (q55's row-local
    // Gopher rules) -> benchmark decontamination (q61's broadcast
    // shingle semi-join, train split only) -> exact dedup (first doc_id
    // per text hash) -> per-(split, lang) mixing report. Every stage is
    // an individually-oracled operator; the composition has exactly the
    // shuffles its parts need (decontam per-doc count, dedup window,
    // final partial agg) and the report is split-sized.
    "q62_curation_pipeline" -> ((s, dir) => {
      val docs = tp(s, dir, "documents").withColumn("b", splitBucket)
        .withColumn("split", splitName)
      val quality = withRepetitionStats(docs).filter(col("keep"))
      val contaminated = contaminatedTrainDocs(docs)
      // keeper pick as a map-side-combinable min_by hash-agg instead of
      // the row_number sort-window (guide §2.3 "aggregate before you
      // shuffle"): doc_id is unique so min_by is tie-free and picks the
      // SAME keeper row per text hash, but partials fold per partition
      // before the h exchange and the per-group sort disappears
      quality.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("h", md5Utf8(col("text")))
        .groupBy(col("h"))
        .agg(min_by(struct(col("split"), col("lang"), col("n_tokens")),
          col("doc_id")).as("kp"))
        .groupBy(col("kp.split").as("split"), col("kp.lang").as("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("kp.n_tokens")).as("tokens"))
        .orderBy(col("split"), col("lang"))
    }),

    // deterministic corpus split + mixing report: hash-of-id bucketing
    // (stable under reshuffles/re-ingest, no RNG state) into
    // train/val/test, then per-(split, lang) doc/token/char budgets —
    // the mixture table an LLM-data pipeline feeds its sampler.
    // Map-side-combinable: one partial-agg shuffle of ≤ |splits|×|langs|
    // rows per partition regardless of corpus size.
    "q56_split_mix" -> ((s, dir) => {
      tp(s, dir, "documents")
        .withColumn("b", splitBucket)
        .withColumn("split", splitName)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens"),
          sum(length(col("text")).cast("long")).as("chars"))
        .orderBy(col("split"), col("lang"))
    }),

    // benchmark decontamination: flag train-split docs sharing any
    // 24-char shingle with the held-out test split (the n-gram-overlap
    // decontamination every LLM data pipeline runs before training).
    // Scale shape: the BENCHMARK side is the small one — its distinct
    // shingle set broadcasts; the train corpus dedupes its shingles
    // row-locally (array_distinct, no pre-shuffle) and the per-doc hit
    // count partial-aggregates in place after the broadcast semi-join.
    "q61_decontam" -> ((s, dir) => {
      decontamHits(tp(s, dir, "documents").withColumn("b", splitBucket))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        .orderBy(col("doc_id"))
    }),

    // FUZZY benchmark decontamination (the near-dup layer big-model
    // reports run on top of exact shingle decontam — q61 catches
    // verbatim leakage, this catches paraphrased/trimmed copies of
    // held-out documents): a BIPARTITE MinHash band join — train-side
    // band keys (b<8) against BROADCAST test-side band keys (b==9),
    // splits derived from the doc id hash alone. Deliberately
    // UNGUARDED, unlike the q18 self-join: for decontamination the
    // contract is over-flag, and a df guard would silently UNflag
    // exactly the heaviest leakage (a benchmark doc paraphrased >128
    // times saturates its bands); the bipartite shape doesn't need the
    // guard for scale either — per-band fan-out is bounded by the
    // BENCHMARK's docs in that band, so worst case is linear in the
    // corpus, never quadratic. Two scans by design: the corpus (train
    // side) and the benchmark side (a separate small table in a real
    // deployment; here a filter of the same fixture corpus).
    "q85_fuzzy_decontam" -> ((s, dir) => {
      def bandedSide(lo: Int, hi: Int, idName: String): DataFrame =
        Dedup.minhashBands(Dedup.minhashSig(tp(s, dir, "documents")
          .withColumn("b", splitBucket).filter(col("b") >= lo && col("b") <= hi)
          .select(col("doc_id"), col("text"))), "doc_id")
          .toDF(idName, "band", "key")
      val trainB = bandedSide(0, 7, "train_doc")
      val testB = bandedSide(9, 9, "test_doc")
      trainB.join(broadcast(testB), Seq("band", "key"))
        .select(col("train_doc"), col("test_doc")).distinct()
        .groupBy(col("train_doc"))
        .agg(count(lit(1)).as("n_test_neardups"),
          min(col("test_doc")).as("min_test_doc"))
        .orderBy(col("train_doc"))
    }),

    // gate funnel report (the curation observability dashboard): how many
    // docs/tokens survive each cumulative stage of ingest -> quality gate
    // -> benchmark decontam -> exact dedup. Single corpus pass: every
    // doc's furthest-surviving level is computed in one frame (dedup rank
    // orders survivors first inside the text-hash window so rank 1 lands
    // on the kept doc), the per-level agg is report-sized, and the
    // reverse-cumulative funnel joins two tiny frames. The only corpus
    // shuffles are the decontam doc_id join and the dedup hash window —
    // the same ones q62's production chain pays.
    "q73_gate_funnel" -> ((s, dir) => {
      val docs = tp(s, dir, "documents").withColumn("b", splitBucket)
      val contaminated = contaminatedTrainDocs(docs).withColumn("contam", lit(true))
      val flagged = withRepetitionStats(docs)
        .withColumn("h", md5Utf8(col("text")))
        .select(col("doc_id"), col("h"), col("keep"), col("n_tokens"))
        .join(contaminated, Seq("doc_id"), "left")
        .withColumn("pass2", col("keep") && !coalesce(col("contam"), lit(false)))
      val w = Window.partitionBy(col("h"))
        .orderBy(col("pass2").desc, col("doc_id").asc)
      val byLevel = flagged
        .withColumn("rk", row_number().over(w))
        .withColumn("level",
          when(col("pass2") && col("rk") === 1, 3L)
            .when(col("pass2"), 2L)
            .when(col("keep"), 1L)
            .otherwise(0L))
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val stages = s.createDataFrame(Seq(
        (0L, "ingest"), (1L, "quality"), (2L, "decontam"), (3L, "exact_dedup")))
        .toDF("stage", "gate")
      // LEFT join + coalesce: a stage no doc survives still reports 0 —
      // the dashboard's 4-row shape is total, not data-dependent
      stages.join(byLevel, col("level") >= col("stage"), "left")
        .groupBy(col("stage"), col("gate"))
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("tokens"))
        .orderBy(col("stage"))
    }),

    // as-of join (last-touch attribution): each purchase matches the
    // user's most recent STRICTLY-prior view — the operator class Spark
    // lacks natively. Spark-first spelling: no join at all — union both
    // event kinds into ONE per-user window and carry the last view
    // forward (last(..., ignoreNulls) over rows to -1), so the only
    // shuffle is the user_id partition both sides need anyway; a
    // join-based spelling would shuffle twice and explode on hot users.
    // The oracle is DuckDB's NATIVE ASOF LEFT JOIN — an independent
    // implementation, not a mirrored spelling. Views at the SAME
    // timestamp as a purchase sort AFTER it (the is_view ordering key),
    // so the strictly-prior frame excludes them exactly like the
    // oracle's v.vus < p.us — strict semantics hold even on ts ties
    // (AsofTieSpec constructs one; the corpus has none). Unmatched
    // purchases keep NULL attribution.
    "q75_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("is_view", (col("event_type") === "view").cast("int"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("is_view").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("lv",
        last(when(col("event_type") === "view",
            struct(col("event_id").as("vid"), col("us").as("vus"))),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("lv.vid").as("view_event_id"),
          ((col("us") - col("lv.vus")) / 1000000.0).as("gap_s"))
        .orderBy(col("event_id"))
    }),

    // closed-vocabulary OOV rate (tokenizer/lexicon-fit report): the
    // vocabulary is the train split's tokens with corpus frequency >= 5,
    // and each held-out split reports its total vs out-of-vocabulary
    // token counts per lang — the drift check run before reusing a
    // tokenizer on a new crawl. The synthetic corpus's 31-token shared
    // vocabulary can't produce OOV naturally, so every 10th doc carries
    // a deterministic doc-unique token (same derivation in the oracle)
    // — held-out ones land below any floor and keep n_oov live. Scale
    // shape: the frequency floor cuts Zipf's long tail so the vocab side
    // stays broadcastable; the probe side explodes row-locally and never
    // shuffles before the broadcast join; the report partial-aggregates
    // to |splits|x|langs| rows.
    "q74_oov_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("b", splitBucket)
        .withColumn("split", splitName)
        .withColumn("aug", concat(col("text"),
          when(col("doc_id") % 10 === 0,
            concat(lit(" rare"), col("doc_id").cast("string")))
            .otherwise(lit(""))))
      val toks = docs.select(col("split"), col("lang"),
        explode(split(col("aug"), " ")).as("tok"))
      val vocab = toks.filter(col("split") === "train")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5)
        .select(col("tok"), lit(true).as("known"))
      toks.filter(col("split") =!= "train")
        .join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("known").isNull, 1)).as("n_oov"))
        .orderBy(col("split"), col("lang"))
    }),

    // Distributed BPE merge learning (tokenizer fitting, the train-side
    // complement of q74's OOV eval): 3 merge rounds, each one a
    // vocabulary-sized aggregation. Round k counts adjacent symbol-pair
    // frequencies (weighted by word frequency), picks the top pair
    // (count desc, pair asc — deterministic tie-break), and applies the
    // merge to every symbol string via literal space-delimited replace.
    // Scale shape: ONE corpus pass builds the word-frequency table
    // (map-side combinable groupBy, persisted — the q51 cache
    // lifecycle); every later round operates on the vocabulary table
    // (millions of rows, not trillions of tokens) — exactly how
    // production distributed BPE trainers decouple corpus size from
    // merge-iteration cost. The per-round argmax is a distributed
    // orderBy+limit(1) (partial top-1 folds map-side) whose single row
    // the driver reads and re-injects as a literal — the same
    // driver-picks-merge step every BPE trainer has; the result IS that
    // 3-row report. Merge convention: replace() scans left-to-right
    // non-overlapping, so a shared separator between back-to-back
    // occurrences ("a b a b") defers the second merge to the next round
    // — a documented deviation from per-occurrence greedy BPE, applied
    // identically on both sides of the oracle.
    "q76_bpe_merges" -> ((s, dir) => {
      val words = bpeVocab(s, dir).persist()
      val (_, rounds) = bpeMergeRounds(words)
      words.unpersist()
      import s.implicits._
      rounds.toDF("merge_rank", "pair", "cnt").coalesce(1)
        .orderBy(col("merge_rank"))
    }),

    // BPE APPLY path (the load-bearing consumer of q76's fit): per-word
    // post-merge symbol cost computed once on the VOCABULARY, broadcast
    // back onto the token stream, and rolled up into the per-language
    // compression report (chars -> symbols after 3 merges) every
    // tokenizer release gate looks at. Scale shape: the merge loop is
    // vocabulary-sized (q76); the corpus pass is a narrow token explode
    // + broadcast cost join + map-side-combinable agg — the corpus never
    // shuffles. The report is |langs| rows, materialized while the vocab
    // is cached (q51 lifecycle).
    "q79_bpe_apply" -> ((s, dir) => {
      val words = bpeVocab(s, dir).persist()
      val (merged, _) = bpeMergeRounds(words)
      val costs = merged.select(col("w"),
        length(col("w")).cast("long").as("n_before"),
        size(split(trim(col("sym")), " ")).cast("long").as("n_after"))
      val report = tp(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .join(broadcast(costs), Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("n_before")).as("chars_before"),
          sum(col("n_after")).as("syms_after"))
      val rows = report.collect()
      words.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), report.schema)
        .orderBy(col("lang"))
    }),

    // DSIR-style hashed-feature importance selection: score every doc by
    // how much its hashed word-unigram distribution resembles a target
    // subcorpus vs the raw corpus, then keep score > 0 (Xie et al.'s
    // data-selection-with-importance-resampling role, integer-exact).
    // Per 64-bucket feature b the weight is the clamped integer
    // log-ratio surrogate clamp(10*(ct+1)(NR+64) div (cr+1)(NT+64) - 10,
    // ±9) — Laplace-smoothed, 0 for buckets the target and raw corpus
    // use at the same rate, ±9 for strongly target/raw-flavored buckets;
    // a doc's score sums its tokens' bucket weights. Exact integers end
    // to end (no float log), so the oracle hash-matches; the cross-
    // multiplied compare stays in int64 up to ~10^8.5 tokens per side —
    // beyond that, swap the surrogate for a double log-ratio (the
    // selection report is then rows-only checkable). Discriminating
    // fixture: docs carry 8 injected 'alpha' (grp 0,1) or 'beta'
    // (grp 2,3) domain tokens; the target (doc_id%8==0) is a strict
    // subset of the alpha half, and selection must generalize to the
    // non-target alpha residue while rejecting beta. Scale shape: pass 1
    // reduces map-side to 64 bucket rows; pass 2 is a narrow map +
    // broadcast join + per-doc agg — no all-pairs, no wide shuffle.
    "q77_dsir_select" -> ((s, dir) => {
      val aug = tp(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 4).as("grp"),
          concat(col("text"), when(col("doc_id") % 4 < 2, lit(" alpha" * 8))
            .otherwise(lit(" beta" * 8))).as("aug"),
          (col("doc_id") % 8 === 0).as("is_t"))
      val toks = aug.select(col("doc_id"), col("grp"), col("is_t"),
        explode(split(col("aug"), " ")).as("tok"))
        .withColumn("b", conv(substring(md5Utf8(concat(lit("dsir:"), col("tok"))),
          1, 4), 16, 10).cast("long") % 64)
      val bs = toks.groupBy(col("b"))
        .agg(count(when(col("is_t"), 1)).as("ct"), count(lit(1)).as("cr"))
      val votes = bs
        .withColumn("nt", sum(col("ct")).over(Window.partitionBy()))
        .withColumn("nr", sum(col("cr")).over(Window.partitionBy()))
        .withColumn("w", least(lit(9L), greatest(lit(-9L), expr(
          "((ct + 1) * (nr + 64) * 10) div ((cr + 1) * (nt + 64)) - 10"))))
        .select(col("b"), col("w"))
      toks.join(broadcast(votes), Seq("b"))
        .groupBy(col("doc_id"), col("grp")).agg(sum(col("w")).as("score"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("score") > 0, 1)).as("n_selected"),
          sum(col("score")).as("sum_score"))
        .orderBy(col("grp"))
    }),

    // stratified deterministic sample: per-source top-k by content hash
    // (reservoir-sampling role with zero RNG state — the same k docs
    // survive any re-run or re-partitioning). Window top-k per stratum;
    // at scale the partial top-k folds map-side before the single
    // per-stratum shuffle.
    "q58_stratified_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h").asc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5Utf8(col("text")).as("h"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy(col("source"), col("rk"))
    }),

    // PII scrubbing (C4/Dolma-style redaction pass): count and redact
    // email / IPv4 / phone-shaped spans before training. The corpus text
    // carries no PII, so discriminating fixtures are injected
    // deterministically from doc_id (same derivation in the oracle) —
    // every regex is ASCII-only so Java (Spark) and RE2 (DuckDB) agree
    // character-for-character. Scale shape: pure row-local regex work,
    // zero shuffles beyond the deterministic output sort; at 100 TB this
    // is a map-only pass that pipelines with whatever runs next.
    "q68_pii_scrub" -> ((s, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\b[0-9]{3}-[0-9]{4}\\b"
      val aug = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.org now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 192.168."), (col("doc_id") % 254 + 1).cast("string"),
            lit("."), (col("doc_id") % 200 + 1).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-0"), (col("doc_id") % 900 + 100).cast("string")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          regexp_count(col("aug"), lit(email)).as("n_email"),
          regexp_count(col("aug"), lit(ip)).as("n_ip"),
          regexp_count(col("aug"), lit(phone)).as("n_phone"),
          regexp_replace(regexp_replace(regexp_replace(col("aug"),
            email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // concat-then-chunk sequence packing (training-prep): docs are
    // concatenated in deterministic order within a shard and cut into
    // fixed L-token training sequences; each doc reports its token
    // offset and the sequence ids it spans (boundary-crossing docs are
    // the loss-masking accounting every packer needs). Sharding IS the
    // scale story: sequences never cross shard boundaries (matching real
    // packers that pack per input shard), so the running sum is a
    // per-shard window — parallelism = shard count, no global ordering
    // anywhere. Integer-only math, hash-exact.
    "q69_seq_pack" -> ((s, dir) => {
      val L = 128
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("off",
          coalesce(sum(col("n_tokens")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("doc_id"), col("shard"), col("n_tokens"), col("off"),
          expr(s"off div $L").as("first_seq"),
          expr(s"(off + n_tokens - 1) div $L").as("last_seq"))
        .orderBy(col("doc_id"))
    }),

    // domain-suffix blocklist filter (the URL-level safety gate every
    // crawl pipeline runs first): a doc's host is blocked when ANY
    // dot-suffix of it appears in the blocklist (so 'src3.example.com'
    // blocks every subdomain). Hosts derived deterministically from
    // (source, doc_id); the blocklist is a tiny literal table. Scale
    // shape: each host explodes into its ≤ |labels| suffixes row-locally
    // and equi-joins the BROADCAST blocklist — no per-rule LIKE scan,
    // no shuffle of the corpus side; min(rule) dedupes multi-suffix hits
    // map-side.
    "q70_blocklist" -> ((s, dir) => {
      // sub1.src3.example.com overlaps src3.example.com so the multi-hit
      // dedup (min(rule)) is a live path, not dead generality
      val bl = s.createDataFrame(Seq(
        Tuple1("src3.example.com"), Tuple1("src7.example.com"),
        Tuple1("sub1.src3.example.com"),
        Tuple1("sub2.src5.example.com"), Tuple1("badtld")))
        .toDF("rule")
      val host = concat(lit("sub"), (col("doc_id") % 4).cast("string"),
        lit("."), col("source"), lit(".example.com"))
      val suffixes = expr(
        "transform(sequence(1, size(parts)), i -> array_join(slice(parts, i, size(parts) - i + 1), '.'))")
      t(s, dir, "documents")
        .select(col("doc_id"), host.as("host"))
        .withColumn("parts", split(col("host"), "\\."))
        .select(col("doc_id"), col("host"), explode(suffixes).as("sfx"))
        .join(broadcast(bl), col("sfx") === col("rule"))
        .groupBy(col("doc_id"), col("host"))
        .agg(min(col("rule")).as("rule"))
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization (the crawl-frontier/dedup normalizer every
    // pipeline runs before url-level dedup): lowercase scheme+host, strip
    // the default :80 port, drop the fragment, remove utm_* tracking
    // params, collapse the trailing slash. Messy raw URLs derived
    // deterministically from (doc_id, source) on both sides; every regex
    // is RE2-safe (no lookahead) so Java and RE2 rewrite identically.
    // Scale shape: pure row-local regex work, zero hash shuffles — the
    // canonical url becomes the key of the (separate) dedup stage.
    "q71_url_canon" -> ((s, dir) => {
      val raw = concat(
        when(col("doc_id") % 2 === 0, "HTTP").otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 3 === 0,
          concat(lit("Www."), col("source"), lit(".COM")))
          .otherwise(concat(lit("www."), col("source"), lit(".com"))),
        when(col("doc_id") % 5 === 0, ":80").otherwise(lit("")),
        concat(lit("/path"), col("doc_id").cast("string")),
        when(col("doc_id") % 7 === 0, "/").otherwise(lit("")),
        when(col("doc_id") % 3 === 1,
          concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
          .when(col("doc_id") % 3 === 2,
            concat(lit("?id="), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, "#sec2").otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw_url"))
        .withColumn("canon_url", canonicalizeUrl(col("raw_url")))
        .orderBy(col("doc_id"))
    }),

    // doc-length histogram in log2 buckets per lang (the length
    // distribution report data pipelines track per release): bucket =
    // floor(log2(n_tokens)) computed integer-exactly as bit_length-1
    // (no floating log anywhere — hash-exact in any engine). Map-side
    // combinable partial agg; report is |langs|x|buckets| rows.
    "q72_length_hist" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("bucket", (length(bin(col("n_tokens"))) - 1).cast("long"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // per-source DISTINCTIVE vocabulary (tf-idf report — the "what makes
    // this domain's text different" audit curation teams run per
    // source): token counts per (source, token) in ONE corpus pass,
    // source-df per token from the vocabulary-sized aggregate (NOT a
    // second corpus scan), score = tf * 1e6 div df — an INTEGER
    // surrogate for tf/df (a float ln-idf could differ in the last ulp
    // between engines; integral division cannot), top-3 per source.
    // Scale shape: one map-side-combinable (source, token) shuffle,
    // then everything downstream is vocabulary-sized.
    "q83_tfidf_terms" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) >= 4)
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("tok").asc)
      tf.join(df, Seq("tok"))
        .withColumn("score", expr("tf * 1000000L div df"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("source"), col("rnk"), col("tok"), col("score"))
        .orderBy(col("source"), col("rnk"))
    }),

    // quality-score CALIBRATION report (the decile audit a curation team
    // reads before picking a filter threshold): decile boundaries come
    // from a deterministic md5 hash-sample (~25%), each boundary an
    // INTEGER-indexed pick from the sample's exact sort (rank k·m div 10
    // — an element selection, not an interpolated quantile, so both
    // engines pick the same double bit-for-bit), broadcast back; every
    // doc buckets row-locally by counting boundaries strictly below its
    // q14 score. Scale shape: the only sort is over the BOUNDED sample;
    // the corpus side is one pruned scan + a broadcast + a map-side-
    // combinable 10-row agg. A global ntile would be a single-task
    // corpus sort — this is the spelling that survives 100 TB.
    "q84_quality_deciles" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        nSpacesCol.cast("long").as("n_spaces"),
        avgWordLenCol.as("score"))
      val samp = docs.filter(
        substring(md5Utf8(col("doc_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"))
      val wS = Window.orderBy(col("score").asc, col("doc_id").asc)
      val ranked = samp.withColumn("rn", row_number().over(wS).cast("long"))
      val bounds = ranked
        .crossJoin(broadcast(samp.agg(count(lit(1)).as("m"))))
        .filter(expr("rn IN (1*m div 10, 2*m div 10, 3*m div 10, 4*m div 10, " +
          "5*m div 10, 6*m div 10, 7*m div 10, 8*m div 10, 9*m div 10)"))
        // duplicate boundary VALUES (two ranks selecting tied scores)
        // are collapsed: a repeated value would create a band no score
        // can fall into — a silently missing decile. With distinct
        // boundaries every emitted band is non-empty (each boundary is
        // itself a sampled doc's score); a tie-heavy corpus thus reports
        // FEWER, wider bands rather than phantom empty ones.
        .agg(array_distinct(sort_array(collect_list(col("score")))).as("bs"))
      docs.crossJoin(broadcast(bounds))
        .withColumn("decile",
          (size(expr("filter(bs, x -> x < score)")) + 1).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), min(col("score")).as("lo"),
          max(col("score")).as("hi"),
          (sum(col("n_spaces")) + count(lit(1))).as("tokens"))
        .orderBy(col("decile"))
    }),

    // temperature-balanced language resampling (the multilingual mixture
    // rebalancer LLM pipelines run, XLM-R/UNIMAX-style, alpha = 0.5):
    // per-lang keep rate sqrt(n_min / n_lang) computed on a report-sized
    // aggregate and BROADCAST back; each doc keeps/drops by a
    // deterministic 52-bit md5 uniform (stable under re-partitioning and
    // re-runs, zero RNG state). Scale shape: one 2-column pruned scan
    // for the counts, one probe scan joined against the broadcast rate
    // table, partial-agg report out — no corpus-wide shuffle at all.
    // sqrt and the double division are IEEE-correctly-rounded in both
    // engines, so the rate column is bit-identical to the oracle's.
    "q63_temperature_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
      // n_min via a window over the ALREADY-AGGREGATED |langs|-row frame
      // (single tiny partition — the "no partition defined" case is the
      // point): a counts.agg(min) branch would re-run the corpus scan a
      // second time just to produce one number
      val rates = counts
        .withColumn("rate",
          sqrt(min(col("n_before")).over(Window.partitionBy()).cast("double") /
            col("n_before").cast("double")))
      val u = conv(substring(md5Utf8(concat(lit("temp:"), col("doc_id").cast("string"))),
        1, 13), 16, 10).cast("long").cast("double") / lit(4503599627370496.0)
      docs.join(broadcast(rates), Seq("lang"))
        .withColumn("u", u)
        .groupBy(col("lang"), col("n_before"), col("rate"))
        .agg(count(when(col("u") < col("rate"), 1)).as("n_kept"))
        .orderBy(col("lang"))
    }),

    // C4-style corpus-wide chunk dedup: split each doc into consecutive
    // 8-token chunks, keep only the globally-first occurrence of each
    // chunk text (first by (doc_id, pos) — deterministic under any
    // partitioning), then reassemble the surviving text per doc. Scale
    // shape: row-local chunking (posexplode), ONE shuffle by chunk for
    // the first-occurrence window, ONE shuffle back by doc_id for
    // reassembly — both linear in corpus size, no all-pairs stage; the
    // per-chunk window state is a single row_number counter.
    "q64_chunk_dedup" -> ((s, dir) => {
      chunkKeepFlags(t(s, dir, "documents"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("keep"), 1)).as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, chunk) END)), x -> x.chunk)"),
            " ").as("kept_text"))
        .orderBy(col("doc_id"))
    }),

    // ANN index-quality gate: recall@10 of the banded hyperplane-LSH
    // retriever against the exact brute-force ground truth, per query.
    // The eval every pipeline runs before trusting an approximate index:
    // n_hit/n_gt is the recall, n_cand the probe cost. 16 bands x 4
    // sign bits (wider nets than q21's pair-finder — a recall gate wants
    // candidate sets, not near-dup precision). Scale shape: ground
    // truth is exact-on-a-sample by construction (bounded query side
    // broadcast, like q20); the candidate stage is a band equi-join
    // against the broadcast query keys — the corpus side never
    // shuffles, and every join in the reduction is broadcast-sized.
    "q65_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos_r").desc, col("vec_id").asc)
      val gt = broadcast(q).join(emb, col("vec_id") =!= col("qid"))
        .withColumn("cos_r", round(expr("graft_cosine(qv, v)"), 3))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
        .select(col("qid"), col("vec_id"))
      val banded = emb.select(col("vec_id"), VectorOps.signBands(col("v"), 4, 16))
        .toDF("vec_id", "band", "key")
      val qb = q.select(col("qid"), VectorOps.signBands(col("qv"), 4, 16))
        .toDF("qid", "band", "key")
      val cand = banded.join(broadcast(qb), Seq("band", "key"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id")).distinct()
      val cc = cand.groupBy(col("qid")).agg(count(lit(1)).as("n_cand"))
      gt.join(broadcast(cand.withColumn("hit", lit(1))), Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_gt"), count(col("hit")).as("n_hit"))
        .join(broadcast(cc), Seq("qid"), "left")
        .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
        .orderBy(col("qid"))
    }),

    // gap-based sessionization: the clickstream/crawl-log segmentation
    // every web-scale event pipeline runs — a new session starts after
    // an 8-hour silence. lag + running-sum-of-breaks + per-session agg
    // all share ONE shuffle keyed on user_id (the windows and the
    // groupBy use the same partitioning); value totals are integer
    // cents so partial-agg order can't perturb the hash. NTZ timestamps
    // go through epoch micros (session TZ pinned UTC on both engines).
    "q66_sessionize" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gapUs = 28800L * 1000000L // 8 h
      t(s, dir, "events")
        .withColumn("ev_us", us)
        .withColumn("prev_us", lag(col("ev_us"), 1).over(wOrd))
        .withColumn("brk",
          when(col("prev_us").isNull ||
            col("ev_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("brk")).over(wOrd))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          ((max(col("ev_us")) - min(col("ev_us"))) / 1000000L).as("duration_s"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // incremental (delta-ingest) near-dup admission: classify a NEW
    // batch of documents against an EXISTING corpus's MinHash band
    // index — the production ingest path, where the corpus fingerprint
    // index is a standing table and each crawl snapshot probes it
    // instead of re-deduping the world. Even doc_ids play the standing
    // index, odd ones the incoming batch (scale-free split, no count
    // job). Status: dup_index (hits the standing index), dup_batch
    // (first-come-first-kept within the batch), new. Scale shape:
    // signatures row-local (codegen kernel), both probes are band
    // equi-joins with the shared df<=128 skew guard, never all-pairs;
    // the index side would be a bucketed standing table in production.
    "q67_incremental_neardup" -> ((s, dir) => {
      val sig = Dedup.minhashSig(
        tp(s, dir, "documents").select(col("doc_id"), col("text"))).drop("text")
      val banded = Dedup.dropHotKeys(
        Dedup.minhashBands(sig, "doc_id"), Seq("band", "key"), 128)
      val ix = banded.filter(col("doc_id") % 2 === 0)
        .select(col("band"), col("key")).distinct()
      val batch = banded.filter(col("doc_id") % 2 === 1)
      val dupIx = batch.join(ix, Seq("band", "key"))
        .select(col("doc_id")).distinct().withColumn("di", lit(1))
      val earlier = batch
        .select(col("band"), col("key"), col("doc_id").as("id1"))
      val dupBatch = batch.join(earlier, Seq("band", "key"))
        .filter(col("id1") < col("doc_id"))
        .select(col("doc_id")).distinct().withColumn("db", lit(1))
      t(s, dir, "documents").filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"))
        .join(dupIx, Seq("doc_id"), "left")
        .join(dupBatch, Seq("doc_id"), "left")
        .withColumn("status",
          when(col("di") === 1, "dup_index")
            .when(col("db") === 1, "dup_batch").otherwise("new"))
        .select(col("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    }),

    // anti-join "ignore mask" (segment.py:248-263 role): keys absent from
    // the other side, as a left_anti join
    "q25_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
        .select(col("o_orderkey")).orderBy(col("o_orderkey"))
    }),

    // GT-index discovery (div/stats.py:20-29): first array element matching
    // a provenance predicate, via higher-order filter
    "q29_first_match" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        expr("try_element_at(filter(split(text, ' '), x -> x like 'a%'), 1)")
          .as("first_a"))
        .orderBy(col("doc_id"))
    }),

    // word-recall membership counting (div/eval.py:183-205): distinct
    // GT tokens found in the prediction token set
    "q30_word_recall" -> ((s, dir) => {
      tp(s, dir, "documents").select(col("doc_id"),
        explode(split(substring(col("text"), 1, 200), " ")).as("tok"),
        split(substring(col("text"), 201, 100000), " ").as("pred"))
        .filter(length(col("tok")) > 2 && array_contains(col("pred"), col("tok")))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("tok")).as("recalled"))
        .orderBy(col("doc_id"))
    }),

    // char-trigram LM min/max frequency features
    // (Max/MinCharNGramsFeature, config.json rrFeatures): corpus trigram
    // counts broadcast back onto each doc's trigrams
    "q33_trigram_freq" -> ((s, dir) => {
      val freq = tp(s, dir, "documents")
        .select(explode(Dedup.shingles(3)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("f"))
      // min/max over a doc's trigram SET equals over its multiset, so the
      // probe side dedupes ROW-LOCALLY (array_distinct before explode) —
      // no (doc_id, g) distinct shuffle at all; the exploded rows stay
      // doc-contiguous, so the per-doc min/max partial-aggregates to one
      // row per doc before its shuffle
      tp(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(Dedup.shingles(3))).as("g"))
        .join(broadcast(freq), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(min(col("f")).as("min_f"), max(col("f")).as("max_f"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM quality score: a char-trigram LM counted over the
    // TRAIN split only (q56's deterministic hash buckets), then every doc
    // scored by its total log2-frequency mass under that LM. The log2
    // class is EXACT integer math (bit length of f+1), so partial-agg
    // order can't perturb the sum the way float logprobs would; unseen
    // trigrams contribute class 0. Scale shape: the LM is vocabulary-
    // sized and broadcast, the probe side never shuffles before the
    // per-doc partial agg (explode preserves row locality).
    "q60_lm_quality" -> ((s, dir) => {
      val tri = tp(s, dir, "documents")
        .select(col("doc_id"), splitBucket.as("b"), explode(Dedup.shingles(3)).as("g"))
      val lm = tri.filter(col("b") < 8).groupBy(col("g"))
        .agg(count(lit(1)).as("f"))
      tri.join(broadcast(lm), Seq("g"), "left")
        .withColumn("cls",
          (length(bin(coalesce(col("f"), lit(0L)) + 1)) - 1).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tri"), sum(col("cls")).as("logfreq_sum"))
        .orderBy(col("doc_id"))
    }),

    // positional join (align/cli.py:63-79 role): i-th token of variant A vs
    // i-th token of variant B, joined on (doc_id, pos)
    "q34_pos_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.select(col("doc_id"),
        posexplode(split(col("text"), " "))).toDF("doc_id", "pos", "tok_a")
      val b = docs.select(col("doc_id"),
        posexplode(split(regexp_replace(col("text"), "a", "o"), " ")))
        .toDF("doc_id", "pos", "tok_b")
      a.join(b, Seq("doc_id", "pos"))
        .filter(col("tok_a") =!= col("tok_b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_mismatch"))
        .orderBy(col("doc_id"))
    }),

    // salted two-phase aggregation (skew handling, SURVEY §4.3): partial
    // agg on (key, salt) spreads hot keys over 16 reducers, final agg
    // combines — exact same result as a plain groupBy
    "q37_salted_agg" -> ((s, dir) => {
      graft.operators.Skew.saltedAgg(
        t(s, dir, "documents"), col("source"), col("doc_id"), 16)(
        Seq(count(lit(1)).as("c"), sum(col("n_chars")).as("sc")),
        Seq(sum(col("c")).cast("long").as("n_docs"),
          sum(col("sc")).cast("long").as("sum_chars")))
        .orderBy(col("source"))
    }),

    // salted equi-join (skew handling): fact side salted, dim side
    // replicated per salt; exact same result as the plain join
    "q38_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      graft.operators.Skew.saltedJoin(li, p, "l_partkey", "p_partkey", col("l_partkey"), 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"))
        .orderBy(col("p_brand"))
    }),

    // JSON protocol parse (align/profiler JSON, §2.7: from_json with fixed
    // schema) over the events.props column
    "q35_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("k"))
    }),

    // file-group union with source tag (aio.py:253-300 role) + label
    // cooccurrence counts (morph.py:245-261): union two tagged projections,
    // then groupBy(src, label).count()
    "q36_union_cooccur" -> ((s, dir) => {
      val a = t(s, dir, "events")
        .select(lit("events").as("src"), col("event_type").as("label"))
      val b = t(s, dir, "documents")
        .select(lit("docs").as("src"), col("lang").as("label"))
      a.union(b).groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("src"), col("label"))
    }),

    // learned confusion profile (edist.py:69-83 closing the loop): engine
    // path = segment -> line zip -> xlevenshtein confusions -> distributed
    // groupBy(left, right).count; oracle = generator-derived expected
    // counts. The collected top-k of this table IS the ocrPatterns profile
    // the correction stage broadcasts (Pipeline.learnProfile).
    "q43_confusion_profile" -> ((s, _) => {
      import s.implicits._
      Pipeline.trainingPairs(s, 100)
        .flatMap { case (ocr, gt) => ConfusionProfile.pairsOf(ocr, gt) }
        .toDF("pat_left", "pat_right")
        .groupBy(col("pat_left"), col("pat_right"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("pat_left"), col("pat_right"))
    }),

    // ---- pipeline operators (synthetic Pages corpus; non-SQL-expressible,
    //      omitted from oracleSql per the harness contract) ----

    // resumable stage ledger (north rule): run one checkpointed stage over
    // the synthetic corpus, return per-bucket lineage rows
    "p10_checkpoint_ledger" -> ((s, _) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-ledger").toString
      val in = Pipeline.generate(s, 200)
        .map(p => (p.url, p.lang)).toDF("url", "lang")
      val res = graft.plans.Checkpoint.runStage(s, "segment", root, in, "url", 8)(identity)
      res.ledger.map(e => (e.stage, e.bucket, e.rows))
        .toDF("stage", "bucket", "rows").orderBy(col("bucket"))
    }),

    "p01_segment_blocks" -> ((s, _) => {
      import s.implicits._
      Pipeline.segment(Pipeline.generate(s, 100))
        .flatMap(p => p.blocks.map(b =>
          (p.url, b.id, b.kind, b.span.start, b.span.stop, b.text)))
        .toDF("url", "block_id", "kind", "span_start", "span_stop", "text")
        .orderBy(col("url"), col("block_id"))
    }),

    // cross-page boilerplate detection by document frequency (the CCNet
    // line-dedup role at block granularity): a block whose exact text
    // appears on >= 3 distinct pages is template chrome regardless of
    // what the LOCAL density heuristics said — the frequency signal
    // catches what per-page features cannot. Scale shape: the join keys
    // on the md5 of the block text (16 bytes shuffle instead of the
    // text; collision mass is negligible below ~2^64 blocks), the
    // (hash, url) dedup and the df count both partial-aggregate
    // map-side, and no side is assumed broadcastable (the distinct-text
    // table is corpus-sized at web scale).
    "p19_block_df" -> ((s, _) => {
      import s.implicits._
      val blocks = Pipeline.segment(Pipeline.generate(s, 100))
        .flatMap(p => p.blocks.map(b => (p.url, b.id, b.kind, b.text)))
        .toDF("url", "block_id", "kind", "text")
        .withColumn("h", md5Utf8(col("text")))
      val dfCounts = blocks.select(col("h"), col("url"))
        .dropDuplicates("h", "url")
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
      blocks.join(dfCounts, Seq("h"))
        .select(col("url"), col("block_id"), col("kind"), col("df"),
          (col("df") >= 3).as("cross_page"))
        .orderBy(col("url"), col("block_id"))
    }),

    // runtime parameter surface (GraftConfig, the ocrd-tool.json analog):
    // the SAME segmentation under a NON-DEFAULT remove_noise floor
    // (minBlockChars=15) — short titles must reclassify as boilerplate,
    // and the oracle derives that classification independently from
    // construction knowledge, so a config knob that fails to reach the
    // operator (or reaches it with the wrong semantics) hash-fails.
    "p17_config_segment" -> ((s, _) => {
      import s.implicits._
      val cfg = graft.pipeline.GraftConfig.default.copy(minBlockChars = 15)
      Pipeline.segment(Pipeline.generate(s, 100), cfg)
        .flatMap(p => p.blocks.map(b =>
          (p.url, b.id, b.kind, b.span.start, b.span.stop, b.text)))
        .toDF("url", "block_id", "kind", "span_start", "span_stop", "text")
        .orderBy(col("url"), col("block_id"))
    }),

    "p02_extract_text" -> ((s, _) => {
      import s.implicits._
      Pipeline.segment(Pipeline.generate(s, 100))
        .map(p => (p.url, HtmlBlocks.extractText(p.blocks)))
        .toDF("url", "extracted_text")
        .orderBy(col("url"))
    }),

    // clip: overlapping-span arbitration (clip.py:44-267 re-bound to byte
    // spans): a sloppy segmenter extends every block 5 bytes into its
    // neighbours; SpanClaims.clip resolves the contested regions by
    // majority claim back to disjoint spans
    "p03_clip_spans" -> ((s, _) => {
      import s.implicits._
      Pipeline.generate(s, 100)
        .flatMap { p =>
          val sloppy = Pipeline.sloppySegmentPage(p)
          SpanClaims.clip(sloppy.blocks).map(b =>
            (p.url, b.id, b.span.start, b.span.stop))
        }
        .toDF("url", "block_id", "span_start", "span_stop")
        .orderBy(col("url"), col("block_id"))
    }),

    "p04_align_variants" -> ((s, _) => {
      import s.implicits._
      Pipeline.align(Pipeline.segment(Pipeline.generate(s, 100)))
        .flatMap(p => p.lines.flatMap(l => l.variants.map(v =>
          (p.url, l.lineId, v.index, v.text, v.conf, v.source))))
        .toDF("url", "line_id", "variant_index", "text", "conf", "source")
        .orderBy(col("url"), col("line_id"), col("variant_index"))
    }),

    // the union+groupBy(url) alignment path (SURVEY §4.3(a)): k separate
    // extractor passes shuffled back together — must produce the exact
    // same variants as the fused row-local path (same oracle as p04)
    "p13_align_shuffled" -> ((s, _) => {
      import s.implicits._
      Pipeline.alignShuffled(Pipeline.generate(s, 100))
        .flatMap(p => p.lines.flatMap(l => l.variants.map(v =>
          (p.url, l.lineId, v.index, v.text, v.conf, v.source))))
        .toDF("url", "line_id", "variant_index", "text", "conf", "source")
        .orderBy(col("url"), col("line_id"), col("variant_index"))
    }),

    // lines2regions (common.py:1172-1810 role): text blocks grouped into
    // region units split at structural boundaries (sep/img/boilerplate)
    "p15_regions" -> ((s, _) => {
      import s.implicits._
      Pipeline.generate(s, 100)
        .flatMap { p =>
          HtmlBlocks.groupRegions(HtmlBlocks.segment(p.html)).map {
            case (rid, b) => (p.url, b.id, rid)
          }
        }
        .toDF("url", "block_id", "region_id")
        .orderBy(col("url"), col("block_id"))
    }),

    "p05_correct" -> ((s, _) => {
      import s.implicits._
      Pipeline.run(Pipeline.generate(s, 100))
        .map(c => (c.url, c.lang, c.text, c.nCorrections))
        .toDF("url", "lang", "corrected_text", "n_corrections")
        .orderBy(col("url"))
    }),

    // multimodal plumbing: opaque binary payload -> typed metadata struct
    // (decode stubbed deterministically; schema/batching real)
    "p07_media_meta" -> ((s, _) => {
      import s.implicits._
      graft.operators.Multimodal.decodeMeta(graft.operators.Multimodal.fromPages(s, 100))
        .toDF()
        .select(col("url"), col("mediaType"), col("nBytes"), col("checksum"),
          col("width"), col("height"), col("durationMs"))
        .orderBy(col("url"))
    }),

    // multimodal frame sampling with byte-span lineage
    "p08_frame_sample" -> ((s, _) => {
      import s.implicits._
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.fromPages(s, 100), k = 4)
        .map(f => (f.url, f.frameIdx, f.span.start, f.span.stop))
        .toDF("url", "frame_idx", "span_start", "span_stop")
        .orderBy(col("url"), col("frame_idx"))
    }),

    // multimodal resize: stub decode -> area-ratio stride downsample ->
    // stats; the plumbing (per-partition codec, size contract, schema) is
    // real, the byte math stands in for libvips/ffmpeg scaling
    "p16_media_resize" -> ((s, _) => {
      import s.implicits._
      graft.operators.Multimodal.resize(
        graft.operators.Multimodal.fromPages(s, 100), targetW = 320, targetH = 240)
        .map(r => (r.url, r.origWidth, r.origHeight, r.nBytes, r.checksum))
        .toDF("url", "orig_w", "orig_h", "n_bytes", "checksum")
        .orderBy(col("url"))
    }),

    // multimodal feature extraction (fixed-dim deterministic vectors)
    "p09_media_features" -> ((s, _) => {
      import s.implicits._
      graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.fromPages(s, 100))
        .map(f => (f.url, f.features.length,
          math.round(f.features.map(x => x.toDouble * x).sum * 1000.0)))
        .toDF("url", "dim", "sq_norm_x1000")
        .orderBy(col("url"))
    }),

    // Iceberg-emulating Pages table: hidden partitions days(warc_ts) x
    // bucket(url, N), manifest, partition-pruned scan
    "p12_pages_table" -> ((s, _) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-ptable").toString
      graft.sources.PagesTable.write(Pipeline.generate(s, 100), root, buckets = 8)
      graft.sources.PagesTable.read(s, root)
        .groupBy(col("p_day")).agg(count(lit(1)).as("n_pages"))
        .orderBy(col("p_day"))
    }),

    // host-level crawl analytics: parse_url host/path extraction + per-host
    // page/byte rollup. The synthetic corpus carries deliberate Zipf host
    // skew (PagesGen cubes a uniform, concentrating mass on host0) — this
    // is the reconnaissance query a crawl pipeline runs BEFORE choosing a
    // salting/cap strategy, and the map-side-combinable agg keeps it one
    // skew-immune partial-agg shuffle regardless of how hot a host is.
    // Oracle: independent regexp parse over the expected media table
    // (nBytes there is an independently-derived generator fact).
    "p18_host_rollup" -> ((s, _) => {
      import s.implicits._
      Pipeline.generate(s, 100).toDF()
        .select(expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          length(col("html")).cast("long").as("bytes"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_pages"),
          sum(col("bytes")).as("total_bytes"),
          min(col("path")).as("first_path"))
        .orderBy(col("host"))
    }),

    // CER/WER via the custom typed Aggregators (SURVEY §2.10): map-side
    // partial (edits, chars) buffers merged across partitions
    "p11_cer_aggregator" -> ((s, _) => {
      import s.implicits._
      val n = 100
      val golden = s.createDataset((0L until n.toLong).map(i =>
        (graft.fixtures.PagesGen.page(i).row.url, Pipeline.goldenText(i))))
        .toDF("url", "golden")
      val corrected = Pipeline.run(Pipeline.generate(s, n))
        .map(c => (c.url, c.text)).toDF("url", "corrected")
      corrected.join(golden, Seq("url"))
        .select(col("corrected"), col("golden")).as[(String, String)]
        .select(graft.functions.Metrics.cer.toColumn.name("cer"),
          graft.functions.Metrics.wer.toColumn.name("wer"))
        .toDF("cer", "wer")
    }),

    // CER/WER metrics vs golden truth (wer/cli.py:50-67, div/stats.py:60-91)
    "p06_metrics" -> ((s, _) => {
      import s.implicits._
      val n = 100
      val golden = s.createDataset((0L until n.toLong).map(i =>
        (graft.fixtures.PagesGen.page(i).row.url, Pipeline.goldenText(i))))
        .toDF("url", "golden")
      val corrected = Pipeline.run(Pipeline.generate(s, n))
        .map(c => (c.url, c.text)).toDF("url", "corrected")
      corrected.join(golden, Seq("url"))
        .agg(
          sum(levenshtein(col("corrected"), col("golden"))).as("char_edits"),
          sum(length(col("golden"))).as("gt_chars"),
          sum(when(col("corrected") === col("golden"), 0L).otherwise(1L)).as("incorrect_pages"),
          count(lit(1)).as("total_pages"))
        .withColumn("cer", col("char_edits").cast("double") / col("gt_chars"))
    })
  )

  /** Shared MinHash-LSH candidate-pair CTEs (q18/q50/q51 oracles) —
    * mirrors [[minhashBandPairs]] including the df <= 128 hot-band guard;
    * `from` is the doc-set CTE/table the shingles read.
    */
  private def minhashBandedCte(from: String): String =
    s"""shingles AS (
      |  SELECT doc_id, substr(text, CAST(u AS INT), 12) AS sh
      |  FROM (SELECT doc_id, text,
      |          unnest(range(1, greatest(length(text) - 11, 1) + 1, 7)) AS u
      |        FROM $from)),
      |sig AS (
      |  SELECT doc_id,
      |    min(md5('0:' || sh)) AS h0, min(md5('1:' || sh)) AS h1,
      |    min(md5('2:' || sh)) AS h2, min(md5('3:' || sh)) AS h3,
      |    min(md5('4:' || sh)) AS h4, min(md5('5:' || sh)) AS h5,
      |    min(md5('6:' || sh)) AS h6, min(md5('7:' || sh)) AS h7
      |  FROM shingles GROUP BY doc_id),
      |banded0 AS (
      |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS key FROM sig
      |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
      |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
      |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
      |banded AS (
      |  SELECT doc_id, band, key FROM (
      |    SELECT doc_id, band, key,
      |      count(*) OVER (PARTITION BY band, key) AS df
      |    FROM banded0) WHERE df <= 128)""".stripMargin

  private def minhashPairsCte(from: String): String =
    s"""${minhashBandedCte(from)},
      |mh_pairs AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** q53/q80/q82's document embeddings ([[VectorOps.tfEmbeddings]])
    * plus the per-vector mean the centered-sign bands key on.
    */
  private def tfEmbeddings(s: SparkSession, dir: String): DataFrame =
    VectorOps.tfEmbeddings(tp(s, dir, "documents"))
      .withColumn("m", expr("aggregate(v, 0d, (a, x) -> a + x) / 64"))

  /** q53/q80's shared band join: centered-sign 4×16-bit band equi-join
    * with the df≤128 hot-band guard — (id1, id2, v1, v2) candidate rows
    * BEFORE the exact-cosine verify (q80 counts these as the probe
    * cost).
    */
  private def cosineBandJoined(emb: DataFrame): DataFrame = {
    val banded0 = emb.select(col("doc_id"), col("v"),
      VectorOps.signBands(col("v"), 16, 4, Some(col("m"))))
      .toDF("doc_id", "v", "band", "key")
    Dedup.guardedSelfJoin(banded0, Seq("band", "key"), "doc_id", Seq("v"), 128)
  }

  /** q53/q80's verified near-dup pairs: the band join plus the exact
    * graft_cosine ≥ 0.97 verify — (id1, id2) embedding near-dup pairs.
    */
  private def cosineBandPairs(emb: DataFrame): DataFrame =
    cosineBandJoined(emb)
      .filter(expr("graft_cosine(v1, v2)") >= 0.97)
      .select(col("id1"), col("id2")).distinct()

  /** q80/q82's exact truth: ALL-pairs cosine ≥ 0.97 over (doc_id, v)
    * embeddings as a broadcast BNLJ (q20's bounded shape; a production
    * run executes it on a q58 sample).
    */
  private def exactCosinePairs(emb: DataFrame): DataFrame = {
    val a = emb.select(col("doc_id").as("id1"), col("v").as("v1"))
    val b = emb.select(col("doc_id").as("id2"), col("v").as("v2"))
    a.join(broadcast(b), col("id1") < col("id2"))
      .filter(expr("graft_cosine(v1, v2)") >= 0.97)
      .select(col("id1"), col("id2"))
  }

  /** The recall gates' report row (q78/q80/q81/q82): exact truth pairs
    * left-joined to the approximate `hits` on (id1, id2) → (n_exact,
    * n_hit), crossed with the probe cost n_cand = |`cand`|.
    */
  private def recallReport(exact: DataFrame, hits: DataFrame,
      cand: DataFrame): DataFrame =
    exact.join(hits.withColumn("hit", lit(true)), Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))

  /** q19/q44/q81's shared 32-bit SimHash signatures over `docs`
    * (doc_id, text): per-token md5 nibble votes folded into one sign bit
    * per position (map-side combinable agg), one row (doc_id, sh) per
    * document.
    */
  private def simhashSigs(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), md5Utf8(col("tok")).as("h"))
    def bit(k: Int): Column =
      when(sum(when(substring(col("h"), k, 1) >= "8", 1).otherwise(-1)) >= 0,
        "1").otherwise("0")
    hashed.groupBy(col("doc_id"))
      .agg(concat((1 to 32).map(bit): _*).as("sh"))
  }

  /** q44/q81's shared banded Hamming join: 4×8-bit bands with the df≤128
    * hot-band guard — (id1, id2, sh1, sh2) candidate rows BEFORE the
    * exact Hamming verify. Pairs dropped in a hot band can still collide
    * in a rarer band.
    */
  private def simhashBandJoined(sig: DataFrame): DataFrame = {
    val banded0 = sig.select(col("doc_id"), col("sh"),
      posexplode(array((0 to 3).map(j => substring(col("sh"), 8 * j + 1, 8)): _*)))
      .toDF("doc_id", "sh", "band", "key")
    Dedup.guardedSelfJoin(banded0, Seq("band", "key"), "doc_id", Seq("sh"), 128)
  }

  /** Exact Hamming distance between the binary-string columns sh1/sh2. */
  private def simhashHamming: Column =
    bit_count(conv(col("sh1"), 2, 10).cast("long")
      .bitwiseXOR(conv(col("sh2"), 2, 10).cast("long")))

  /** Shared SimHash CTE chain (q44/q81 oracles) — mirrors
    * [[simhashSigs]] + [[simhashBandJoined]]: exposes `sig` (doc_id, sh)
    * for q81's exact all-pairs side and `sh_cand` (DISTINCT id1, id2,
    * sh1, sh2 — the pre-verify band-join candidates).
    */
  private def simhashCtes(from: String): String = {
    val bits = (1 to 32).map(k =>
      s"CASE WHEN sum(CASE WHEN substr(h,$k,1) >= '8' THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END"
    ).mkString(" || ")
    val bands = (0 to 3).map(j =>
      s"SELECT doc_id, sh, $j AS band, substring(sh, ${8 * j + 1}, 8) AS key FROM sig")
      .mkString("\nUNION ALL ")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $from),
       |hashed AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE length(tok) > 0),
       |sig AS (SELECT doc_id, $bits AS sh FROM hashed GROUP BY doc_id),
       |banded0 AS (
       |$bands),
       |banded AS (
       |  SELECT * FROM banded0 WHERE (band, key) IN (
       |    SELECT (band, key) FROM banded0 GROUP BY band, key HAVING count(*) <= 128)),
       |sh_cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2, a.sh AS sh1, c.sh AS sh2
       |  FROM banded a JOIN banded c
       |    ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)""".stripMargin
  }

  /** Exact-cosine SQL fragment over two 64-dim list columns — the
    * DuckDB mirror of graft_cosine's index-order sum (q53/q80 oracles).
    */
  private def cosineSql(av: String, bv: String): String =
    s"""list_sum(list_transform(range(1, 65), k ->
       |    $av[CAST(k AS INT)] * $bv[CAST(k AS INT)])) /
       |  (sqrt(list_sum(list_transform($av, x -> x * x))) *
       |   sqrt(list_sum(list_transform($bv, x -> x * x))))""".stripMargin

  /** Shared tf-embedding CTE prefix ending in `cent` (doc_id, v, m) —
    * the DuckDB mirror of [[tfEmbeddings]] alone, for oracles (q82)
    * that need the embeddings without the banded chain.
    */
  private def cosineEmbCtes(from: String): String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM $from),
       |emb AS (
       |  SELECT doc_id, list_transform(range(0, 64), b ->
       |    CAST(len(list_filter(ts, t -> length(t) > 0 AND
       |      ('0x' || substring(md5(t), 1, 8))::BIGINT % 64 = b)) AS DOUBLE)) AS v
       |  FROM toks),
       |cent AS (SELECT doc_id, v, list_sum(v) / 64 AS m FROM emb)""".stripMargin

  /** Shared centered-sign cosine-band CTE chain ending in `cos_pairs`
    * (q53/q80 oracles) — mirrors [[tfEmbeddings]] + [[cosineBandPairs]]
    * on top of [[cosineEmbCtes]]; also exposes `cent` (doc_id, v, m)
    * for q80's exact all-pairs side.
    */
  private def cosineBandCtes(from: String): String = {
    val bands = (0 to 3).map { j =>
      val bits = (1 to 16).map(i =>
        s"CASE WHEN v[${16 * j + i}] - m >= 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"SELECT doc_id, v, $j AS band, $bits AS key FROM cent"
    }.mkString("\nUNION ALL ")
    s"""${cosineEmbCtes(from)},
       |banded0 AS (
       |$bands),
       |banded AS (
       |  SELECT * FROM banded0 WHERE (band, key) IN (
       |    SELECT (band, key) FROM banded0
       |    GROUP BY band, key HAVING count(*) <= 128)),
       |cand_pre AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |    a.v AS v1, b.v AS v2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |cos_pairs AS (
       |  SELECT id1, id2 FROM cand_pre
       |  WHERE ${cosineSql("v1", "v2")} >= 0.97)""".stripMargin
  }

  /** Shared BPE-merge CTE chain (q76/q79 oracles) — mirrors
    * [[bpeVocab]] + [[bpeMergeRounds]]: word-frequency vocab, 3 rounds
    * of (pair counts a_k → top pair t_k → merged vocab s_k). q76 reads
    * t1..t3 (the merge report); q79 reads s3 (the fully-merged vocab).
    * One definition so the two oracles can never desync from each other
    * or from the Spark-side shared loop.
    */
  private def bpeMergeCtes(from: String): String = {
    def pairAgg(src: String): String =
      s"""  SELECT pair, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
        |    SELECT cnt, unnest(list_transform(range(1, len(l)),
        |                                      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT cnt, string_split(trim(sym), ' ') AS l FROM $src) z) p
        |  GROUP BY pair""".stripMargin
    def applyMerge(src: String, top: String): String =
      s"""  SELECT w, cnt, replace(sym, ' ' || (SELECT pair FROM $top) || ' ',
        |           ' ' || replace((SELECT pair FROM $top), ' ', '') || ' ') AS sym
        |  FROM $src""".stripMargin
    s"""bpe_words AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM $from) tt
      |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w
      |), s0 AS (
      |  SELECT w, cnt, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym
      |  FROM bpe_words
      |), a1 AS (
      |${pairAgg("s0")}
      |), t1 AS (SELECT pair, pcnt FROM a1 ORDER BY pcnt DESC, pair LIMIT 1),
      |s1 AS (
      |${applyMerge("s0", "t1")}
      |), a2 AS (
      |${pairAgg("s1")}
      |), t2 AS (SELECT pair, pcnt FROM a2 ORDER BY pcnt DESC, pair LIMIT 1),
      |s2 AS (
      |${applyMerge("s1", "t2")}
      |), a3 AS (
      |${pairAgg("s2")}
      |), t3 AS (SELECT pair, pcnt FROM a3 ORDER BY pcnt DESC, pair LIMIT 1),
      |s3 AS (
      |${applyMerge("s2", "t3")}
      |)""".stripMargin
  }

  /** Shared exact shingle-Jaccard CTE chain ending in `exact_pairs`
    * (q16/q78 oracles) — mirrors [[exactJaccardPairs]]; `jx_`-prefixed
    * names coexist with [[minhashBandedCte]]'s in one WITH clause.
    */
  private def exactJaccardCtes(from: String): String =
    s"""jx_shingles AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(u AS INT), 12) AS sh
      |  FROM (SELECT doc_id, text,
      |          unnest(range(1, greatest(length(text) - 11, 1) + 1, 7)) AS u
      |        FROM $from)),
      |jx_sizes AS (SELECT doc_id, count(*) AS sz FROM jx_shingles GROUP BY doc_id),
      |jx_rare AS (
      |  SELECT doc_id, sh FROM jx_shingles
      |  WHERE sh IN (SELECT sh FROM jx_shingles GROUP BY sh HAVING count(*) <= 64)),
      |jx_common AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
      |  FROM jx_rare a JOIN jx_rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |exact_pairs AS (
      |  SELECT id1, id2 FROM jx_common
      |  JOIN jx_sizes s1 ON s1.doc_id = id1 JOIN jx_sizes s2 ON s2.doc_id = id2
      |  WHERE CAST(common AS DOUBLE) / (s1.sz + s2.sz - common) >= 0.5)""".stripMargin

  /** Shared Gopher-repetition-gate CTE chain (q55/q62 oracles) — mirrors
    * [[withRepetitionStats]]; `src` is a CTE/table exposing (doc_id, ts)
    * with ts the token list. Emits big/bc/top/five/fc/dup; pair with
    * [[repetitionKeepSql]] so the keep rule can never desync between the
    * oracles the way an inlined copy could.
    */
  private def repetitionCtes(src: String): String =
    s"""big AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ts)),
      |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)])) AS bg
      |  FROM $src
      |), bc AS (
      |  SELECT doc_id, bg, count(*) AS cnt FROM big GROUP BY doc_id, bg
      |), top AS (
      |  SELECT doc_id, bg, cnt,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY cnt DESC, bg ASC) AS rk
      |  FROM bc
      |), five AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ts) - 3),
      |      i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)] || ' ' ||
      |           ts[CAST(i+2 AS INT)] || ' ' || ts[CAST(i+3 AS INT)] || ' ' ||
      |           ts[CAST(i+4 AS INT)])) AS fg
      |  FROM $src
      |), fc AS (
      |  SELECT doc_id, fg, count(*) AS cnt FROM five GROUP BY doc_id, fg
      |), dup AS (
      |  SELECT doc_id,
      |    CAST(coalesce(sum(cnt) FILTER (cnt > 1), 0) AS BIGINT) AS dup5_occ
      |  FROM fc GROUP BY doc_id
      |)""".stripMargin

  /** Shared 24-char-shingle decontam CTEs (q61/q62/q73 oracles) —
    * mirrors [[decontamHits]]/[[contaminatedTrainDocs]]; `src` must expose
    * (doc_id, text, b). Emits test_sh (distinct held-out shingles) and
    * tr (train docs' distinct shingles).
    */
  private def shingle24Ctes(src: String): String =
    s"""test_sh AS (
      |  SELECT DISTINCT
      |    unnest(list_transform(range(1, greatest(length(text) - 23, 1) + 1),
      |      i -> substr(text, CAST(i AS INT), 24))) AS sh
      |  FROM $src WHERE b = 9
      |), tr AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, greatest(length(text) - 23, 1) + 1),
      |      i -> substr(text, CAST(i AS INT), 24)))) AS sh
      |  FROM $src WHERE b < 8
      |)""".stripMargin

  /** The Gopher keep rule over [[repetitionCtes]]' top/dup joined against
    * alias `a` (which exposes ts).
    */
  private def repetitionKeepSql(a: String): String =
    s"""CAST(coalesce(top.cnt, 0) AS BIGINT) * 25 <= len($a.ts)
      |   AND coalesce(dup.dup5_occ, 0) * 4 <= len($a.ts)
      |   AND CAST(len(list_distinct($a.ts)) AS BIGINT) * 3 >= len($a.ts)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_wer_stats" ->
      """SELECT count(*) AS total_words,
        |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS correct_words,
        |  CAST(sum(CASE WHEN l_returnflag <> 'N' THEN 1 ELSE 0 END) AS BIGINT) AS incorrect_words,
        |  CAST(sum(CASE WHEN l_returnflag <> 'N' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS word_error_rate
        |FROM lineitem""".stripMargin,
    "q02_cer_stats" ->
      """SELECT lang,
        |  CAST(sum(levenshtein(substr(text, 1, 30), substr(text, 31, 30))) AS BIGINT) AS dist_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS gt_len, count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q05_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q41_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q06_mode_lang" ->
      """SELECT source, lang AS top_lang, cnt FROM (
        |  SELECT source, lang, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rn
        |  FROM documents GROUP BY source, lang) t
        |WHERE rn = 1 ORDER BY source""".stripMargin,
    "q09_conf_fold" ->
      """SELECT l_returnflag,
        |  (min(l_extendedprice) + max(l_extendedprice)) / 2.0 AS mid_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q26_median_size" ->
      """SELECT p_brand, quantile_cont(p_size, 0.5) AS median_size, count(*) AS cnt
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q28_histogram" ->
      """SELECT substr(p_name, 1, 1) AS first_char, count(*) AS cnt
        |FROM part GROUP BY first_char ORDER BY first_char""".stripMargin,
    "q03_star_join" ->
      """SELECT r_name, n_name, count(*) AS cnt,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q23_overlap_join" ->
      """SELECT e1.user_id, count(*) AS overlap_pairs
        |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
        |WHERE e1.event_id < e2.event_id
        |  AND abs(epoch_us(e1.ts) - epoch_us(e2.ts)) <= 3600000000
        |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin,
    "q46_overlap_window" ->
      """SELECT e1.user_id, count(*) AS overlap_pairs
        |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
        |WHERE e1.event_id < e2.event_id
        |  AND abs(epoch_us(e1.ts) - epoch_us(e2.ts)) <= 3600000000
        |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin,
    // generator corpus facts over [300,700): tokens_total is a direct sum;
    // the hard-eval slice [500,700) injects deliberately-uncorrectable
    // garbles, so the failure counters are NONZERO generator facts
    // (fixtures/Expected headeval comment for the per-token
    // classification): missed = all garbles, false_extensions = the
    // entity-shaped garbles the LE head must protect-not-correct,
    // accepted_right = exactly the correctable channel corruptions. A
    // miscounted failure path (or a head that corrects/vetoes the wrong
    // class) shifts a nonzero counter and fails the hash gate.
    "q47_head_eval" ->
      """WITH agg AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS toks,
        |    CAST(sum(n_correctable) AS BIGINT) AS corr_ok,
        |    CAST(sum(n_garble_sym) AS BIGINT) AS gsym,
        |    CAST(sum(n_garble_ent) AS BIGINT) AS gent
        |  FROM read_parquet('/tmp/graft_expected/headeval.parquet/*.parquet'))
        |SELECT head, metric, n FROM (
        |  SELECT 'corrector' AS head, 'corrupted' AS metric,
        |    corr_ok + gsym + gent AS n FROM agg
        |  UNION ALL SELECT 'corrector', 'false_corrections', 0 FROM agg
        |  UNION ALL SELECT 'corrector', 'missed', gsym + gent FROM agg
        |  UNION ALL SELECT 'corrector', 'tokens_total', toks FROM agg
        |  UNION ALL SELECT 'dle', 'false_extensions', gent FROM agg
        |  UNION ALL SELECT 'rrdm', 'accepted_right', corr_ok FROM agg
        |  UNION ALL SELECT 'rrdm', 'accepted_wrong', 0 FROM agg
        |  UNION ALL SELECT 'rrdm', 'false_vetoes', 0 FROM agg)
        |ORDER BY head, metric""".stripMargin,
    // expected side: per-page master/corrected distances derived from
    // generator facts (fixtures/Expected bookeval comment for the
    // per-token classes incl. the misleading-garble deterioration class),
    // aggregated with the same per-book buckets + ROLLUP total
    "q54_book_eval" ->
      """SELECT coalesce(book, '__total') AS book,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(sum(CASE WHEN corrected_dist < master_dist THEN 1 ELSE 0 END) AS BIGINT) AS improved,
        |  CAST(sum(CASE WHEN corrected_dist > master_dist THEN 1 ELSE 0 END) AS BIGINT) AS worsened,
        |  CAST(sum(CASE WHEN corrected_dist = master_dist THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
        |  CAST(sum(master_dist) AS BIGINT) AS master_dist,
        |  CAST(sum(corrected_dist) AS BIGINT) AS corrected_dist
        |FROM read_parquet('/tmp/graft_expected/bookeval.parquet/*.parquet')
        |GROUP BY ROLLUP(book)
        |ORDER BY book""".stripMargin,
    // expected side: the layout generator's CONSTRUCTION order (title
    // first, column-major), no geometric code involved
    "q49_layout_order" ->
      """SELECT url, rank, region, text
        |FROM read_parquet('/tmp/graft_expected/layout_order.parquet/*.parquet')
        |ORDER BY url, rank""".stripMargin,
    // expected side: the table generator's CONSTRUCTION order (caption,
    // then row-major cells), no geometric code involved
    "q52_table_order" ->
      """SELECT url, rank, region, text
        |FROM read_parquet('/tmp/graft_expected/table_order.parquet/*.parquet')
        |ORDER BY url, rank""".stripMargin,
    // oracle recomputes the md5-bucketed tf embedding, the centered-sign
    // bands + df guard and the exact cosine verify independently — the
    // bucket hash is the shared md5 spelling (HashTf Scaladoc)
    "q53_cosine_neardup" ->
      s"""WITH ${cosineBandCtes("documents")}
         |SELECT id1, id2 FROM cos_pairs ORDER BY id1, id2""".stripMargin,
    "q80_cosine_recall" ->
      s"""WITH ${cosineBandCtes("documents")},
         |exact_cos AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM cent a JOIN cent b ON a.doc_id < b.doc_id
         |  WHERE ${cosineSql("a.v", "b.v")} >= 0.97)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(m.id1) AS BIGINT) AS n_hit,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cand_pre) AS n_cand
         |FROM exact_cos e LEFT JOIN cos_pairs m
         |  ON e.id1 = m.id1 AND e.id2 = m.id2""".stripMargin,
    // oracle recomputes the seed-centroid argmin assignment (integer-
    // exact sqdist over tf counts, tie -> smaller cid — q40's proven
    // round-trip shape), the cell-size guard, the within-cell pairs and
    // the exact-cosine verify independently of the banded chain
    "q82_semdedup_recall" ->
      s"""WITH ${cosineEmbCtes("documents")},
         |kk AS (SELECT GREATEST(8, CAST(CEIL(SQRT(
         |  (SELECT count(*) FROM documents))) AS BIGINT)) AS k),
         |sd_ad AS (
         |  SELECT doc_id, v, cid,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY d2 ASC, cid ASC) AS rn
         |  FROM (SELECT e.doc_id, e.v, c.cid,
         |          list_sum(list_transform(range(1, 65),
         |            i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) *
         |                 (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))) AS d2
         |        FROM cent e, (SELECT doc_id AS cid, v AS cv FROM cent
         |                      WHERE doc_id < (SELECT k FROM kk)) c)),
         |sd_assigned AS (SELECT doc_id, v, cid FROM sd_ad WHERE rn = 1),
         |sd_cells AS (
         |  SELECT cid FROM sd_assigned GROUP BY cid HAVING count(*) <= 128),
         |sd_cand AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.v AS v1, b.v AS v2
         |  FROM sd_assigned a JOIN sd_assigned b
         |    ON a.cid = b.cid AND a.doc_id < b.doc_id
         |  WHERE a.cid IN (SELECT cid FROM sd_cells)),
         |sd_pairs AS (
         |  SELECT id1, id2 FROM sd_cand WHERE ${cosineSql("v1", "v2")} >= 0.97),
         |sd_exact AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM cent a JOIN cent b ON a.doc_id < b.doc_id
         |  WHERE ${cosineSql("a.v", "b.v")} >= 0.97)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(m.id1) AS BIGINT) AS n_hit,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sd_cand) AS n_cand,
         |  (SELECT CAST(count(DISTINCT cid) AS BIGINT) FROM sd_assigned) AS n_cells
         |FROM sd_exact e LEFT JOIN sd_pairs m
         |  ON e.id1 = m.id1 AND e.id2 = m.id2""".stripMargin,
    // expected side re-runs the importer's imperative char loop
    // (div/importer.py:150-203) driver-side — see fixtures/Expected.scala
    "q48_pred_import" ->
      """SELECT url, line_id, word_idx, word, n_glyphs, wconf,
        |  word_start, word_end, glyph_confs, line_conf
        |FROM read_parquet('/tmp/graft_expected/predimport.parquet/*.parquet')
        |ORDER BY url, line_id, word_idx""".stripMargin,
    "q04_topk_orders" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q11_rank_limit" ->
      """SELECT l_orderkey, l_linenumber, rnk FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rnk
        |  FROM lineitem) t
        |WHERE rnk <= 10 ORDER BY l_orderkey, rnk""".stripMargin,
    "q42_lead_lag" ->
      """SELECT user_id, event_id,
        |  round(lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |        - value, 6) AS diff_to_next
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q10_moving_max" ->
      """SELECT user_id, event_id,
        |  max(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS wmax
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q08_set_except" ->
      """WITH sh AS (
        |  SELECT doc_id, substr(text, CAST(u AS INT), 12) AS sh
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 11, 1) + 1, 7)) AS u
        |        FROM documents))
        |SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0
        |EXCEPT SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0
        |ORDER BY sh""".stripMargin,
    "q12_lev_matrix" ->
      """SELECT n_name, r_name, levenshtein(n_name, r_name) AS lev
        |FROM nation CROSS JOIN region ORDER BY n_name, r_name""".stripMargin,
    "q39_bounded_lev" ->
      """SELECT n_name, r_name, least(levenshtein(n_name, r_name), 4) AS bd
        |FROM nation CROSS JOIN region ORDER BY n_name, r_name""".stripMargin,
    "q45_lev_predicate_rewrite" ->
      """SELECT n_name, r_name FROM nation CROSS JOIN region
        |WHERE levenshtein(n_name, r_name) <= 7
        |ORDER BY n_name, r_name""".stripMargin,
    "q13_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q14_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
        |  CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
        |    / ((length(text) - length(replace(text, ' ', ''))) + 1) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q07_stopword_score" ->
      """SELECT doc_id,
        |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS cnt_the,
        |  CAST((length(text) - length(replace(text, ' data ', ''))) / 6 AS BIGINT) AS cnt_data
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_langid" ->
      """SELECT doc_id,
        |  CASE WHEN CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT)
        |         >= CAST((length(text) - length(replace(text, ' query ', ''))) / 7 AS BIGINT)
        |       THEN 'en' ELSE 'ql' END AS pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_charspan" ->
      """SELECT doc_id, substr(text, 11, 40) AS span_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q15_dedup_exact" ->
      """WITH fps AS (
        |  SELECT
        |    list_reduce(list_transform(string_split(text, ' '),
        |      t -> ('0x' || substring(md5(t), 1, 12))::BIGINT),
        |      (a, x) -> (a + x) % 2305843009213693951) AS fp1,
        |    list_reduce(list_transform(string_split(text, ' '),
        |      t -> ('0x' || substring(md5(t), 13, 12))::BIGINT),
        |      (a, x) -> (a + x) % 1152921504606846883) AS fp2,
        |    min(doc_id) AS keeper, count(*) AS n_dups
        |  FROM documents GROUP BY fp1, fp2)
        |SELECT n_dups, count(*) AS n_groups FROM fps GROUP BY n_dups ORDER BY n_dups""".stripMargin,
    "q18_minhash_lsh" ->
      s"""WITH ${minhashPairsCte("documents")}
        |SELECT id1, id2 FROM mh_pairs ORDER BY id1, id2""".stripMargin,
    "q78_lsh_dedup_recall" ->
      s"""WITH ${minhashPairsCte("documents")},
        |${exactJaccardCtes("documents")}
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(count(m.id1) AS BIGINT) AS n_hit,
        |  (SELECT CAST(count(*) AS BIGINT) FROM mh_pairs) AS n_cand
        |FROM exact_pairs e LEFT JOIN mh_pairs m
        |  ON e.id1 = m.id1 AND e.id2 = m.id2""".stripMargin,
    // components via a recursive transitive-closure CTE — a completely
    // different algorithm shape than the engine's min-label propagation
    "q50_dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashPairsCte("documents")},
        |edges AS (
        |  SELECT id1 AS src, id2 AS dst FROM mh_pairs
        |  UNION SELECT id2, id1 FROM mh_pairs),
        |reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        |sizes AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY comp)
        |SELECT cluster_size, count(*) AS n_clusters FROM sizes
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // composed prep chain: quality gate -> exact-dedup keepers ->
    // near-dup component representatives over the survivors -> stats
    "q51_corpus_prep" ->
      s"""WITH RECURSIVE
        |surv0 AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE n_chars >= 100 AND
        |    CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
        |      / ((length(text) - length(replace(text, ' ', ''))) + 1) BETWEEN 4 AND 8),
        |fps AS (
        |  SELECT doc_id, source, text,
        |    list_reduce(list_transform(string_split(text, ' '),
        |      t -> ('0x' || substring(md5(t), 1, 12))::BIGINT),
        |      (a, x) -> (a + x) % 2305843009213693951) AS fp1,
        |    list_reduce(list_transform(string_split(text, ' '),
        |      t -> ('0x' || substring(md5(t), 13, 12))::BIGINT),
        |      (a, x) -> (a + x) % 1152921504606846883) AS fp2
        |  FROM surv0),
        |ex AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY fp1, fp2) AS keeper FROM fps)
        |  WHERE doc_id = keeper),
        |${minhashPairsCte("ex")},
        |edges AS (
        |  SELECT id1 AS src, id2 AS dst FROM mh_pairs
        |  UNION SELECT id2, id1 FROM mh_pairs),
        |reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM ex
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM ex JOIN comp ON ex.doc_id = comp.id
        |WHERE comp.comp = comp.id
        |GROUP BY source ORDER BY source""".stripMargin,
    "q19_simhash" -> {
      val bits = (1 to 32).map(k =>
        s"CASE WHEN sum(CASE WHEN substr(h,$k,1) >= '8' THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END"
      ).mkString(" || ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |hashed AS (SELECT doc_id, md5(tok) AS h FROM toks WHERE length(tok) > 0)
         |SELECT doc_id, $bits AS simhash FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q44_simhash_pairs" ->
      s"""WITH ${simhashCtes("documents")}
         |SELECT id1, id2,
         |  CAST(bit_count(xor(sh1::BIT, sh2::BIT)) AS INT) AS hamming
         |FROM sh_cand
         |WHERE bit_count(xor(sh1::BIT, sh2::BIT)) <= 2
         |ORDER BY id1, id2""".stripMargin,
    "q81_simhash_recall" ->
      s"""WITH ${simhashCtes("documents")},
         |sh_hits AS (
         |  SELECT id1, id2 FROM sh_cand
         |  WHERE bit_count(xor(sh1::BIT, sh2::BIT)) <= 2),
         |exact_sh AS (
         |  SELECT a.doc_id AS id1, c.doc_id AS id2
         |  FROM sig a JOIN sig c ON a.doc_id < c.doc_id
         |  WHERE bit_count(xor(a.sh::BIT, c.sh::BIT)) <= 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(m.id1) AS BIGINT) AS n_hit,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sh_cand) AS n_cand
         |FROM exact_sh e LEFT JOIN sh_hits m
         |  ON e.id1 = m.id1 AND e.id2 = m.id2""".stripMargin,
    "q20_ann_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |pairs AS (
        |  SELECT qid, vec_id, round(
        |    list_sum(list_transform(range(1, 65), i -> qv[CAST(i AS INT)] * v[CAST(i AS INT)])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(v, x -> x * x)))), 3) AS cos_r
        |  FROM q, e WHERE vec_id <> qid)
        |SELECT qid, vec_id, rnk FROM (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id ASC) AS rnk
        |  FROM pairs) t
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "q21_ann_lsh" -> {
      def key(j: Int): String = (1 to 16).map(i =>
        s"CASE WHEN v[${16 * j + i}] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      val bands = (0 to 3).map(j =>
        s"SELECT vec_id, v, $j AS band, ${key(j)} AS key FROM e").mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |b AS (
         |$bands)
         |SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
         |FROM b a JOIN b c ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
         |WHERE round(
         |    list_sum(list_transform(range(1, 65), i -> a.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])) /
         |    (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
         |     sqrt(list_sum(list_transform(c.v, x -> x * x)))), 3) >= 0.35
         |ORDER BY id1, id2""".stripMargin
    },
    "q40_ann_ivf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |      WHERE vec_id < GREATEST(8, CAST(CEIL(SQRT((SELECT count(*) FROM embeddings))) AS BIGINT))),
        |ad AS (
        |  SELECT vec_id, v, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM (SELECT e.vec_id, e.v, c.cid,
        |          list_sum(list_transform(range(1, 65),
        |            i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) * (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))) AS d2
        |        FROM e, c)),
        |assigned AS (SELECT vec_id, v, cid FROM ad WHERE rn = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, cid FROM ad WHERE vec_id < 3 AND rn <= 2),
        |cand AS (
        |  SELECT qid, a.vec_id, round(
        |    list_sum(list_transform(range(1, 65), i -> qv[CAST(i AS INT)] * a.v[CAST(i AS INT)])) /
        |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |     sqrt(list_sum(list_transform(a.v, x -> x * x)))), 3) AS cos_r
        |  FROM probes p JOIN assigned a USING (cid) WHERE a.vec_id <> p.qid)
        |SELECT qid, vec_id, rnk FROM (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id ASC) AS rnk
        |  FROM cand) t
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "q22_fingerprint" ->
      """WITH grams AS (
        |  SELECT doc_id, md5(substr(text, CAST(u AS INT), 8)) AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS u
        |        FROM documents))
        |SELECT doc_id, count(*) AS n_fp, min(h) AS min_fp
        |FROM grams WHERE h LIKE '0%' GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q24_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q55_repetition_filter" ->
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), ${repetitionCtes("toks")}
        |SELECT t.doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
        |  coalesce(top.bg, '') AS top_bigram,
        |  CAST(coalesce(top.cnt, 0) AS BIGINT) AS top_bigram_cnt,
        |  coalesce(dup.dup5_occ, 0) AS dup5_occ,
        |  (${repetitionKeepSql("t")}) AS keep
        |FROM toks t
        |LEFT JOIN top ON t.doc_id = top.doc_id AND top.rk = 1
        |LEFT JOIN dup ON t.doc_id = dup.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q56_split_mix" ->
      """WITH s AS (
        |  SELECT *,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 10 AS b
        |  FROM documents
        |)
        |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang,
        |  CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM s GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    // oracle on the shared band chain's UNGUARDED banded0 (the df-guarded
    // `banded` is q18's self-join protection; the bipartite decontam
    // deliberately skips it — see the query comment)
    "q85_fuzzy_decontam" ->
      s"""WITH ${minhashBandedCte("documents")},
        |tb AS (
        |  SELECT doc_id, band, key,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 10 AS b
        |  FROM banded0),
        |cross_hits AS (
        |  SELECT DISTINCT tr.doc_id AS train_doc, te.doc_id AS test_doc
        |  FROM tb tr JOIN tb te ON tr.band = te.band AND tr.key = te.key
        |  WHERE tr.b < 8 AND te.b = 9)
        |SELECT train_doc, CAST(count(*) AS BIGINT) AS n_test_neardups,
        |  min(test_doc) AS min_test_doc
        |FROM cross_hits GROUP BY train_doc ORDER BY train_doc""".stripMargin,
    "q61_decontam" ->
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 10 AS b
        |  FROM documents
        |), ${shingle24Ctes("s")}
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |FROM tr JOIN test_sh USING (sh)
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "q73_gate_funnel" ->
      s"""WITH s AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 10 AS b
        |  FROM documents
        |), sp AS (
        |  SELECT *, string_split(text, ' ') AS ts FROM s
        |), ${repetitionCtes("sp")}, ${shingle24Ctes("sp")},
        |contaminated AS (
        |  SELECT DISTINCT tr.doc_id FROM tr JOIN test_sh USING (sh)
        |), k AS (
        |  SELECT sp.doc_id, md5(sp.text) AS h,
        |    CAST(len(sp.ts) AS BIGINT) AS n_tokens,
        |    (${repetitionKeepSql("sp")}) AS keep,
        |    (keep AND c.doc_id IS NULL) AS pass2
        |  FROM sp
        |  LEFT JOIN top ON sp.doc_id = top.doc_id AND top.rk = 1
        |  LEFT JOIN dup ON sp.doc_id = dup.doc_id
        |  LEFT JOIN contaminated c ON sp.doc_id = c.doc_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY h
        |                               ORDER BY pass2 DESC, doc_id) AS rnk
        |  FROM k
        |), g AS (
        |  SELECT CASE WHEN pass2 AND rnk = 1 THEN 3 WHEN pass2 THEN 2
        |              WHEN keep THEN 1 ELSE 0 END AS level,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |  FROM r GROUP BY 1
        |), st AS (
        |  SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'ingest'),
        |    (CAST(1 AS BIGINT), 'quality'), (CAST(2 AS BIGINT), 'decontam'),
        |    (CAST(3 AS BIGINT), 'exact_dedup')) AS t(stage, gate)
        |)
        |SELECT st.stage, st.gate,
        |  CAST(coalesce(sum(g.n_docs), 0) AS BIGINT) AS docs,
        |  CAST(coalesce(sum(g.n_tokens), 0) AS BIGINT) AS tokens
        |FROM st LEFT JOIN g ON g.level >= st.stage
        |GROUP BY st.stage, st.gate ORDER BY st.stage""".stripMargin,
    "q62_curation_pipeline" ->
      s"""WITH s AS (
        |  SELECT doc_id, text, lang,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 10 AS b
        |  FROM documents
        |), sp AS (
        |  SELECT *, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |                 ELSE 'test' END AS split,
        |    string_split(text, ' ') AS ts
        |  FROM s
        |), ${repetitionCtes("sp")}, q AS (
        |  SELECT sp.doc_id FROM sp
        |  LEFT JOIN top ON sp.doc_id = top.doc_id AND top.rk = 1
        |  LEFT JOIN dup ON sp.doc_id = dup.doc_id
        |  WHERE ${repetitionKeepSql("sp")}
        |), ${shingle24Ctes("sp")}, contaminated AS (
        |  SELECT DISTINCT tr.doc_id FROM tr JOIN test_sh USING (sh)
        |), surv AS (
        |  SELECT sp.* FROM sp JOIN q USING (doc_id)
        |  WHERE sp.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |), dd AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text)
        |                               ORDER BY doc_id) AS rk
        |  FROM surv
        |)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(len(ts)) AS BIGINT) AS tokens
        |FROM dd WHERE rk = 1 GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q75_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'
        |), v AS (SELECT event_id AS vid, user_id, us AS vus FROM e
        |         WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, v.vid AS view_event_id,
        |  (p.us - v.vus) / 1000000.0 AS gap_s
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.vus < p.us
        |ORDER BY p.event_id""".stripMargin,
    "q74_oov_rate" ->
      """WITH s AS (
        |  SELECT *, ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 10 AS b
        |  FROM documents
        |), sp AS (
        |  SELECT lang, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |                    ELSE 'test' END AS split,
        |    unnest(string_split(text ||
        |      CASE WHEN doc_id % 10 = 0
        |           THEN ' rare' || CAST(doc_id AS VARCHAR) ELSE '' END,
        |      ' ')) AS tok
        |  FROM s
        |), vocab AS (
        |  SELECT tok FROM sp WHERE split = 'train'
        |  GROUP BY tok HAVING count(*) >= 5
        |)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (v.tok IS NULL) AS BIGINT) AS n_oov
        |FROM sp LEFT JOIN vocab v ON sp.tok = v.tok
        |WHERE split <> 'train'
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q76_bpe_merges" ->
      s"""WITH ${bpeMergeCtes("documents")}
        |SELECT CAST(1 AS BIGINT) AS merge_rank, pair, pcnt AS cnt FROM t1
        |UNION ALL SELECT 2, pair, pcnt FROM t2
        |UNION ALL SELECT 3, pair, pcnt FROM t3
        |ORDER BY merge_rank""".stripMargin,
    "q79_bpe_apply" ->
      s"""WITH ${bpeMergeCtes("documents")},
        |costs AS (
        |  SELECT w, CAST(length(w) AS BIGINT) AS n_before,
        |    CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_after
        |  FROM s3),
        |toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_before) AS BIGINT) AS chars_before,
        |  CAST(sum(n_after) AS BIGINT) AS syms_after
        |FROM toks JOIN costs USING (w)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q77_dsir_select" ->
      """WITH aug AS (
        |  SELECT doc_id, doc_id % 4 AS grp,
        |    text || CASE WHEN doc_id % 4 < 2 THEN repeat(' alpha', 8)
        |                 ELSE repeat(' beta', 8) END AS aug,
        |    doc_id % 8 = 0 AS is_t
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, grp, is_t,
        |    ('0x' || substr(md5('dsir:' || tok), 1, 4))::BIGINT % 64 AS b
        |  FROM (SELECT doc_id, grp, is_t,
        |          unnest(string_split(aug, ' ')) AS tok FROM aug) z
        |), bs AS (
        |  SELECT b, CAST(count(*) FILTER (is_t) AS BIGINT) AS ct,
        |         CAST(count(*) AS BIGINT) AS cr
        |  FROM toks GROUP BY b
        |), tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
        |                  CAST(sum(cr) AS BIGINT) AS nr FROM bs),
        |votes AS (
        |  SELECT b, LEAST(9, GREATEST(-9,
        |    ((ct + 1) * (nr + 64) * 10) // ((cr + 1) * (nt + 64)) - 10)) AS w
        |  FROM bs, tot
        |), scores AS (
        |  SELECT doc_id, grp, CAST(sum(w) AS BIGINT) AS score
        |  FROM toks JOIN votes USING (b) GROUP BY doc_id, grp
        |)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (score > 0) AS BIGINT) AS n_selected,
        |  CAST(sum(score) AS BIGINT) AS sum_score
        |FROM scores GROUP BY grp ORDER BY grp""".stripMargin,
    "q58_stratified_sample" ->
      """SELECT source, doc_id, md5(text) AS h,
        |  CAST(row_number() OVER (PARTITION BY source
        |                          ORDER BY md5(text), doc_id) AS BIGINT) AS rk
        |FROM documents QUALIFY rk <= 3 ORDER BY source, rk""".stripMargin,
    "q63_temperature_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
        |      / 4503599627370496.0 AS u
        |  FROM documents
        |), c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_before FROM d GROUP BY lang
        |), r AS (
        |  SELECT lang, n_before,
        |    sqrt((SELECT min(n_before) FROM c)::DOUBLE / n_before::DOUBLE) AS rate
        |  FROM c
        |)
        |SELECT r.lang AS lang, r.n_before AS n_before, r.rate AS rate,
        |  CAST(count(*) FILTER (d.u < r.rate) AS BIGINT) AS n_kept
        |FROM d JOIN r USING (lang)
        |GROUP BY r.lang, r.n_before, r.rate ORDER BY r.lang""".stripMargin,
    "q64_chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      range(1, greatest(CAST(ceil(len(ts) / 8.0) AS BIGINT), 1) + 1),
        |      i -> struct_pack(pos := CAST(i - 1 AS INT),
        |        chunk := array_to_string(
        |          list_slice(ts, (i-1)*8 + 1, (i-1)*8 + 8), ' ')))) AS pc
        |  FROM d
        |), k AS (
        |  SELECT doc_id, pc.pos AS pos, pc.chunk AS chunk,
        |    row_number() OVER (PARTITION BY pc.chunk ORDER BY doc_id, pc.pos) AS rk
        |  FROM c
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(*) FILTER (rk = 1) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (rk = 1), '')
        |    AS kept_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q68_pii_scrub" ->
      """WITH a AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@mail.example.org now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' from 192.168.' ||
        |      CAST(doc_id % 254 + 1 AS VARCHAR) || '.' ||
        |      CAST(doc_id % 200 + 1 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-0' ||
        |      CAST(doc_id % 900 + 100 AS VARCHAR) ELSE '' END AS aug
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(aug,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(aug, '\b[0-9]{3}-[0-9]{4}\b')) AS INT)
        |    AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS scrubbed
        |FROM a ORDER BY doc_id""".stripMargin,
    "q71_url_canon" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'Www.' || source || '.COM'
        |          ELSE 'www.' || source || '.com' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
        |    '/path' || CAST(doc_id AS VARCHAR) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 1
        |          THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
        |          WHEN doc_id % 3 = 2 THEN '?id=' || CAST(doc_id AS VARCHAR)
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN '#sec2' ELSE '' END) AS raw_url
        |  FROM documents
        |)
        |, x AS (
        |  SELECT doc_id, raw_url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(raw_url, '^([A-Za-z]+://[^/?#]+)', 1)),
        |      '^(http://[^:]*):80$', '\1'),
        |      '^(https://[^:]*):443$', '\1') AS sh,
        |    regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1) AS rest
        |  FROM r
        |)
        |SELECT doc_id, raw_url,
        |  sh ||
        |  regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') ||
        |  regexp_replace(regexp_replace(regexp_extract(rest, '(\?.*)$', 1),
        |    '[?&]utm_[^&#]*', '', 'g'), '^&', '?') AS canon_url
        |FROM x ORDER BY doc_id""".stripMargin,
    "q72_length_hist" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT lang,
        |  CAST(length(format('{:b}', n_tokens)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens
        |FROM d GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "q84_quality_deciles" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
        |    CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
        |      / ((length(text) - length(replace(text, ' ', ''))) + 1) AS score
        |  FROM documents),
        |samp AS (
        |  SELECT * FROM d
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')),
        |r AS (SELECT score,
        |        CAST(row_number() OVER (ORDER BY score ASC, doc_id ASC) AS BIGINT) AS rn
        |      FROM samp),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM samp),
        |b AS (SELECT list_sort(list_distinct(list(score))) AS bs
        |      FROM r, m
        |      WHERE rn IN (1*m//10, 2*m//10, 3*m//10, 4*m//10, 5*m//10,
        |                   6*m//10, 7*m//10, 8*m//10, 9*m//10)),
        |dd AS (SELECT d.*,
        |         CAST(len(list_filter(bs, x -> x < score)) + 1 AS BIGINT) AS decile
        |       FROM d, b)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(score) AS lo, max(score) AS hi,
        |  CAST(sum(n_spaces) + count(*) AS BIGINT) AS tokens
        |FROM dd GROUP BY decile ORDER BY decile""".stripMargin,
    "q83_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE length(tok) >= 4 GROUP BY source, tok),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |sc AS (
        |  SELECT source, tok, CAST(tf * 1000000 // df AS BIGINT) AS score
        |  FROM tf JOIN df USING (tok))
        |SELECT source, rnk, tok, score FROM (
        |  SELECT source, tok, score,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY score DESC, tok ASC) AS rnk
        |  FROM sc) z
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,
    "q69_seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), o AS (
        |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS off
        |  FROM d
        |)
        |SELECT doc_id, shard, n_tokens, CAST(off AS BIGINT) AS off,
        |  CAST(off // 128 AS BIGINT) AS first_seq,
        |  CAST((off + n_tokens - 1) // 128 AS BIGINT) AS last_seq
        |FROM o ORDER BY doc_id""".stripMargin,
    "q70_blocklist" ->
      """WITH bl AS (
        |  SELECT unnest(['src3.example.com', 'src7.example.com',
        |                 'sub1.src3.example.com',
        |                 'sub2.src5.example.com', 'badtld']) AS rule
        |), h AS (
        |  SELECT doc_id,
        |    'sub' || CAST(doc_id % 4 AS VARCHAR) || '.' || source ||
        |      '.example.com' AS host
        |  FROM documents
        |), sx AS (
        |  SELECT doc_id, host,
        |    unnest(list_transform(range(1, len(string_split(host, '.')) + 1),
        |      i -> array_to_string(list_slice(string_split(host, '.'),
        |        CAST(i AS INT), len(string_split(host, '.'))), '.'))) AS sfx
        |  FROM h
        |)
        |SELECT sx.doc_id, sx.host, min(bl.rule) AS rule
        |FROM sx JOIN bl ON sx.sfx = bl.rule
        |GROUP BY sx.doc_id, sx.host ORDER BY sx.doc_id""".stripMargin,
    "q67_incremental_neardup" ->
      s"""WITH ${minhashBandedCte("documents")},
        |ix AS (SELECT DISTINCT band, key FROM banded WHERE doc_id % 2 = 0),
        |batch AS (SELECT * FROM banded WHERE doc_id % 2 = 1),
        |dup_ix AS (SELECT DISTINCT b.doc_id FROM batch b JOIN ix USING (band, key)),
        |dup_b AS (
        |  SELECT DISTINCT b.doc_id FROM batch b JOIN batch a
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id IN (SELECT doc_id FROM dup_ix) THEN 'dup_index'
        |       WHEN d.doc_id IN (SELECT doc_id FROM dup_b) THEN 'dup_batch'
        |       ELSE 'new' END AS status
        |FROM documents d WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin,
    "q66_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ev_us, value FROM events
        |), l AS (
        |  SELECT *, lag(ev_us) OVER (PARTITION BY user_id
        |                             ORDER BY ev_us, event_id) AS prev_us
        |  FROM e
        |), b AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ev_us - prev_us > 28800000000
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), sx AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
        |                                ORDER BY ev_us, event_id) AS BIGINT)
        |            AS session_idx
        |  FROM b
        |)
        |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |  (max(ev_us) - min(ev_us)) / 1000000.0 AS duration_s,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM sx GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q65_ann_recall" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |gt AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id ASC) AS rnk
        |    FROM (SELECT qid, vec_id, round(
        |        list_sum(list_transform(range(1, 65), i -> qv[CAST(i AS INT)] * v[CAST(i AS INT)])) /
        |        (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |         sqrt(list_sum(list_transform(v, x -> x * x)))), 3) AS cos_r
        |      FROM q, e WHERE vec_id <> qid) p) t
        |  WHERE rnk <= 10
        |), b AS (
        |SELECT vec_id, v, 0 AS band, CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[4] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 1 AS band, CASE WHEN v[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[6] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[8] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 2 AS band, CASE WHEN v[9] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[10] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[11] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[12] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 3 AS band, CASE WHEN v[13] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[14] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[15] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[16] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 4 AS band, CASE WHEN v[17] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[18] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[19] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[20] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 5 AS band, CASE WHEN v[21] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[22] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[23] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[24] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 6 AS band, CASE WHEN v[25] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[26] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[27] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[28] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 7 AS band, CASE WHEN v[29] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[30] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[31] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[32] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 8 AS band, CASE WHEN v[33] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[34] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[35] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[36] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 9 AS band, CASE WHEN v[37] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[38] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[39] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[40] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 10 AS band, CASE WHEN v[41] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[42] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[43] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[44] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 11 AS band, CASE WHEN v[45] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[46] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[47] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[48] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 12 AS band, CASE WHEN v[49] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[50] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[51] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[52] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 13 AS band, CASE WHEN v[53] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[54] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[55] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[56] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 14 AS band, CASE WHEN v[57] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[58] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[59] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[60] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |UNION ALL SELECT vec_id, v, 15 AS band, CASE WHEN v[61] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[62] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[63] >= 0 THEN '1' ELSE '0' END || CASE WHEN v[64] >= 0 THEN '1' ELSE '0' END AS key FROM e
        |), qb AS (SELECT q.qid, b.band, b.key FROM b JOIN q ON b.vec_id = q.qid
        |), cand AS (
        |  SELECT DISTINCT qb.qid, b.vec_id
        |  FROM qb JOIN b ON qb.band = b.band AND qb.key = b.key AND b.vec_id <> qb.qid
        |), cc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY qid
        |), h AS (
        |  SELECT gt.qid, CAST(count(*) AS BIGINT) AS n_gt,
        |    CAST(count(cand.vec_id) AS BIGINT) AS n_hit
        |  FROM gt LEFT JOIN cand ON gt.qid = cand.qid AND gt.vec_id = cand.vec_id
        |  GROUP BY gt.qid)
        |SELECT h.qid AS qid, h.n_gt AS n_gt, h.n_hit AS n_hit,
        |  coalesce(cc.n_cand, 0) AS n_cand
        |FROM h LEFT JOIN cc ON h.qid = cc.qid ORDER BY h.qid""".stripMargin,
    "q25_anti_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        |ORDER BY o_orderkey""".stripMargin,
    "q29_first_match" ->
      """SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x LIKE 'a%')[1] AS first_a
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q30_word_recall" ->
      """WITH h AS (SELECT doc_id,
        |    string_split(substr(text, 1, 200), ' ') AS gt,
        |    string_split(substr(text, 201, 100000), ' ') AS pred
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(gt) AS tok, pred FROM h)
        |SELECT doc_id, count(DISTINCT tok) AS recalled
        |FROM e WHERE length(tok) > 2 AND list_contains(pred, tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q33_trigram_freq" ->
      """WITH tri AS (
        |  SELECT doc_id, substr(text, CAST(u AS INT), 3) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS u
        |        FROM documents)),
        |freq AS (SELECT g, count(*) AS f FROM tri GROUP BY g)
        |SELECT doc_id, min(f) AS min_f, max(f) AS max_f
        |FROM tri JOIN freq USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q60_lm_quality" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |      % 10 AS b
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id, b,
        |    unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |      i -> substr(text, CAST(i AS INT), 3))) AS g
        |  FROM s
        |), lm AS (
        |  SELECT g, count(*) AS f FROM tri WHERE b < 8 GROUP BY g
        |)
        |SELECT tri.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(sum(length(format('{:b}', coalesce(lm.f, 0) + 1)) - 1) AS BIGINT)
        |    AS logfreq_sum
        |FROM tri LEFT JOIN lm USING (g)
        |GROUP BY tri.doc_id ORDER BY tri.doc_id""".stripMargin,
    "q34_pos_join" ->
      """WITH a AS (
        |  SELECT doc_id, i AS pos, string_split(text, ' ')[CAST(i AS INT)] AS tok_a
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |        FROM documents)),
        |b AS (
        |  SELECT doc_id, i AS pos,
        |    string_split(replace(text, 'a', 'o'), ' ')[CAST(i AS INT)] AS tok_b
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, len(string_split(replace(text, 'a', 'o'), ' ')) + 1)) AS i
        |        FROM documents))
        |SELECT a.doc_id, count(*) AS n_mismatch
        |FROM a JOIN b ON a.doc_id = b.doc_id AND a.pos = b.pos
        |WHERE tok_a <> tok_b GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "q37_salted_agg" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q38_salted_join" ->
      """SELECT p_brand, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q35_json_extract" ->
      """SELECT CAST(regexp_extract(props, '[0-9]+') AS INT) AS k, count(*) AS cnt
        |FROM events GROUP BY k ORDER BY k""".stripMargin,
    "q36_union_cooccur" ->
      """SELECT src, label, count(*) AS cnt FROM (
        |  SELECT 'events' AS src, event_type AS label FROM events
        |  UNION ALL SELECT 'docs', lang FROM documents)
        |GROUP BY src, label ORDER BY src, label""".stripMargin,
    // ---- pipeline-core oracles: Verify materializes generator-derived
    // expected tables (graft.fixtures.Expected) to /tmp/graft_expected
    // before the driver's DuckDB pass; the oracle is a read of those
    // tables — the engine's output must equal what the page GENERATOR
    // knows it embedded (golden-workspace shape,
    // tests/run_alignment_test.bash:6-36) ----
    "p01_segment_blocks" ->
      """SELECT url, block_id, kind, span_start, span_stop, text
        |FROM read_parquet('/tmp/graft_expected/blocks.parquet/*.parquet')
        |ORDER BY url, block_id""".stripMargin,
    "p19_block_df" ->
      """WITH b AS (
        |  SELECT url, block_id, kind, text
        |  FROM read_parquet('/tmp/graft_expected/blocks.parquet/*.parquet')
        |), df AS (
        |  SELECT text, CAST(count(DISTINCT url) AS BIGINT) AS df
        |  FROM b GROUP BY text
        |)
        |SELECT b.url, b.block_id, b.kind, df.df, df.df >= 3 AS cross_page
        |FROM b JOIN df USING (text) ORDER BY url, block_id""".stripMargin,
    // expected side: blocksOf re-derived with the same non-default floor
    // (fixture-build asserts the knob reclassifies at least one block)
    "p17_config_segment" ->
      """SELECT url, block_id, kind, span_start, span_stop, text
        |FROM read_parquet('/tmp/graft_expected/blocks_cfg.parquet/*.parquet')
        |ORDER BY url, block_id""".stripMargin,
    "p02_extract_text" ->
      """SELECT url, extracted_text
        |FROM read_parquet('/tmp/graft_expected/extracted.parquet/*.parquet')
        |ORDER BY url""".stripMargin,
    "p03_clip_spans" ->
      """SELECT url, block_id, span_start, span_stop
        |FROM read_parquet('/tmp/graft_expected/clipped.parquet/*.parquet')
        |ORDER BY url, block_id""".stripMargin,
    "p04_align_variants" ->
      """SELECT url, line_id, variant_index, text, conf, source
        |FROM read_parquet('/tmp/graft_expected/variants.parquet/*.parquet')
        |ORDER BY url, line_id, variant_index""".stripMargin,
    "p15_regions" ->
      """SELECT url, block_id, region_id
        |FROM read_parquet('/tmp/graft_expected/regions.parquet/*.parquet')
        |ORDER BY url, block_id""".stripMargin,
    "p13_align_shuffled" ->
      """SELECT url, line_id, variant_index, text, conf, source
        |FROM read_parquet('/tmp/graft_expected/variants.parquet/*.parquet')
        |ORDER BY url, line_id, variant_index""".stripMargin,
    "p05_correct" ->
      """SELECT url, lang, corrected_text, n_corrections
        |FROM read_parquet('/tmp/graft_expected/corrected.parquet/*.parquet')
        |ORDER BY url""".stripMargin,
    // expected metrics: corrected text is byte-identical to golden by
    // construction, so all error counters must be exactly zero
    "p06_metrics" ->
      """SELECT CAST(sum(levenshtein(corrected_text, golden)) AS BIGINT) AS char_edits,
        |  CAST(sum(length(golden)) AS BIGINT) AS gt_chars,
        |  CAST(sum(CASE WHEN corrected_text = golden THEN 0 ELSE 1 END) AS BIGINT) AS incorrect_pages,
        |  count(*) AS total_pages,
        |  CAST(sum(levenshtein(corrected_text, golden)) AS DOUBLE) / sum(length(golden)) AS cer
        |FROM read_parquet('/tmp/graft_expected/corrected.parquet/*.parquet')""".stripMargin,
    "p11_cer_aggregator" ->
      """SELECT CAST(sum(levenshtein(corrected_text, golden)) AS DOUBLE)
        |         / sum(length(golden)) AS cer,
        |       CAST(sum(CASE WHEN corrected_text <> golden THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS wer
        |FROM read_parquet('/tmp/graft_expected/corrected.parquet/*.parquet')""".stripMargin,
    // p12 is a pure formula of the page index: warc_ts(i) = 2013-01-01 +
    // i hours, p_day = days since epoch = 15706 + i/24 — independent of
    // both the engine and the fixture tables
    "p12_pages_table" ->
      """SELECT CAST(15706 + i // 24 AS INT) AS p_day, count(*) AS n_pages
        |FROM range(100) t(i) GROUP BY p_day ORDER BY p_day""".stripMargin,
    "p18_host_rollup" ->
      """SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(sum(nBytes) AS BIGINT) AS total_bytes,
        |  min(regexp_extract(url, 'https://[^/]+(/.*)$', 1)) AS first_path
        |FROM read_parquet('/tmp/graft_expected/media_meta.parquet/*.parquet')
        |GROUP BY host ORDER BY host""".stripMargin,
    // p09's contract is structural: fixed featureDim=16 and
    // unit-normalized vectors (sum of squares = 1.0 exactly to 3 decimals
    // for every non-empty payload) — both independently checkable
    "p09_media_features" ->
      """SELECT url, CAST(16 AS INT) AS dim, CAST(1000 AS BIGINT) AS sq_norm_x1000
        |FROM read_parquet('/tmp/graft_expected/media_meta.parquet/*.parquet')
        |ORDER BY url""".stripMargin,
    "p10_checkpoint_ledger" ->
      """SELECT stage, bucket, rows
        |FROM read_parquet('/tmp/graft_expected/ledger.parquet/*.parquet')
        |ORDER BY bucket""".stripMargin,
    "p07_media_meta" ->
      """SELECT url, mediaType, nBytes, checksum, width, height, durationMs
        |FROM read_parquet('/tmp/graft_expected/media_meta.parquet/*.parquet')
        |ORDER BY url""".stripMargin,
    "p08_frame_sample" ->
      """SELECT url, frame_idx, span_start, span_stop
        |FROM read_parquet('/tmp/graft_expected/frames.parquet/*.parquet')
        |ORDER BY url, frame_idx""".stripMargin,
    // stub-is-spec contract like p07: geometry formulas + area-ratio
    // stride downsample + independent FNV-1a, re-derived in Expected
    "p16_media_resize" ->
      """SELECT url, orig_w, orig_h, n_bytes, checksum
        |FROM read_parquet('/tmp/graft_expected/resized.parquet/*.parquet')
        |ORDER BY url""".stripMargin,
    "q43_confusion_profile" ->
      """SELECT pat_left, pat_right, cnt
        |FROM read_parquet('/tmp/graft_expected/confusions.parquet/*.parquet')
        |ORDER BY pat_left, pat_right""".stripMargin,
    "q16_shingle_jaccard" ->
      s"""WITH ${exactJaccardCtes("documents")}
        |SELECT id1, id2 FROM exact_pairs ORDER BY id1, id2""".stripMargin
  )
}
