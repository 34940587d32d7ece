package graft.streaming

import graft.core.{CorrectedPage, PageRow}
import graft.fixtures.PagesGen
import graft.functions.MinhashKernel
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming front-end for the extraction pipeline.
  *
  * The reference is pure batch (SURVEY §1.2: no streaming abstraction
  * exists), so parity does not require this — but the pipeline is a
  * narrow, stateless map chain, which means the SAME stage functions run
  * unchanged under `readStream`: micro-batches of pages stream through
  * segment -> align -> correct with no watermark or state store needed.
  * This is the continuous-ingest mode a crawl feed would use; per-batch
  * output commits give the same resume granularity as the batch ledger
  * (the sink's checkpointLocation replaces the bucket ledger).
  */
object StreamingPipeline {

  /** Streaming source of synthetic pages: the `rate` source's monotonically
    * increasing `value` is the page index, so the stream deterministically
    * reproduces the batch corpus (same golden truth per url).
    */
  def pagesStream(spark: SparkSession, rowsPerSecond: Int = 1000): Dataset[PageRow] = {
    import spark.implicits._
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .load()
      .select("value").as[Long]
      .map(i => PagesGen.page(i).row)
  }

  /** The streaming pipeline: the batch [[Pipeline.run]] itself. */
  def corrected(pages: Dataset[PageRow]): Dataset[CorrectedPage] =
    Pipeline.run(pages)

  /** Stateful cross-batch url dedup via mapGroupsWithState: a crawl feed
    * re-delivers urls (recrawls, retries); the first sighting wins and
    * later deliveries are dropped, with per-key state in the state store
    * (the streaming analog of the batch ledger's skip-if-done). State is
    * one boolean per url; on a real cluster the key space is bounded by
    * RocksDB state-store spill.
    */
  def dedupFirstSeen(pages: Dataset[PageRow], ttlMs: Long = 0L): Dataset[PageRow] = {
    import pages.sparkSession.implicits._
    pages.groupByKey(_.url)
      .flatMapGroupsWithState[Boolean, PageRow](
        OutputMode.Append(), timeoutConf(ttlMs))(firstSeenFn(ttlMs))
  }

  private def timeoutConf(ttlMs: Long): GroupStateTimeout =
    if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** Shared first-seen-wins state transition (url dedup + near-dup
    * suppression): emit the first delivery of a key, drop the rest. With
    * `ttlMs > 0`, state carries a processing-time TTL refreshed on every
    * sighting (sliding — hot keys stay suppressed, cold state is
    * reclaimed); a timed-out entry is removed so the key's NEXT delivery
    * is re-admitted as novel. Package-visible so the transition is
    * unit-testable (private[graft]) against TestGroupState without a running stream.
    */
  private[graft] def firstSeenFn(ttlMs: Long)
      : (String, Iterator[PageRow], GroupState[Boolean]) => Iterator[PageRow] =
    (_, rows, state) =>
      if (state.hasTimedOut) {
        state.remove() // cold key: reclaim the state-store entry
        Iterator.empty
      } else if (state.exists) {
        if (ttlMs > 0) state.setTimeoutDuration(ttlMs) // sliding refresh
        Iterator.empty
      } else {
        state.update(true)
        if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
        rows.take(1)
      }

  /** Row-local MinHash signature: the batch near-dup signature itself
    * ([[graft.functions.MinhashKernel.minhash8]], the kernel behind
    * `graft_minhash8`: stride-7 char-12-gram shingles, 8 salted md5
    * min-hashes), folded to one string key. Calling the kernel keeps the
    * streaming key equal to the batch one by construction, including
    * its character (not UTF-16 unit) shingle positions.
    */
  def minhashSignature(text: String): String =
    MinhashKernel.minhash8(UTF8String.fromString(text), 12, 7)
      .toObjectArray(StringType).mkString("|")

  /** Stateful cross-batch NEAR-duplicate suppression: incoming docs are
    * keyed by their full 8-hash MinHash signature and the first sighting
    * wins — recrawls, mirrors and boilerplate re-renders that survive the
    * url dedup collapse here. Signature IDENTITY is the high-precision
    * end of the near-dup spectrum (8/8 min-hashes agreeing implies
    * near-certain high Jaccard); the full-recall path — band join +
    * transitive connected components — needs a corpus-global view and
    * stays batch (q18/q50).
    *
    * State is one boolean per distinct signature, and on an unbounded
    * stream that set grows forever — so state carries a processing-time
    * TTL (default 30 days), refreshed on every re-sighting. Retention
    * trade-off, explicitly: an expired signature's next delivery is
    * re-admitted as novel (a duplicate more than `ttl` after its last
    * sighting slips through); the sliding refresh keeps HOT duplicates
    * suppressed indefinitely while cold state is reclaimed. `ttlMs <= 0`
    * restores unbounded NoTimeout retention — REQUIRED for bounded
    * replays driven by `processAllAvailable()`: with a processing-time
    * timeout armed, the engine keeps scheduling timeout-check batches and
    * processAllAvailable never latches. `ttlMs` is deliberately a
    * REQUIRED parameter: the two modes have incompatible termination
    * behavior, so every caller must choose (a defaulted TTL silently
    * hands replay-style callers the mode that hangs them).
    */
  def nearDupFirstSeen(pages: Dataset[PageRow],
      ttlMs: Long): Dataset[PageRow] = {
    import pages.sparkSession.implicits._
    pages.groupByKey(p => minhashSignature(p.text))
      .flatMapGroupsWithState[Boolean, PageRow](
        OutputMode.Append(), timeoutConf(ttlMs))(firstSeenFn(ttlMs))
  }

  /** Watermarked per-host ingest rate: tumbling 1-hour windows over the
    * page's own `warc_ts` event time, 2-hour watermark for late crawls —
    * the standard streaming windowed aggregation over the corrected feed.
    */
  def hostWindowCounts(pages: Dataset[PageRow]): DataFrame =
    pages
      .withColumn("host", regexp_extract(col("url"), "https://([^/]+)/", 1))
      .withWatermark("warc_ts", "2 hours")
      .groupBy(window(col("warc_ts"), "1 hour"), col("host"))
      .agg(count(lit(1)).as("n_pages"))

  /** Gap-based streaming sessionization — the incremental spelling of the
    * batch q66 operator (SparkEntry): events group into
    * `session_window(ts, gap)` per user and emit the SAME per-session
    * report (n_events, duration_s, value_cents). Append mode + watermark
    * is the production shape: a session emits exactly once, when the
    * watermark passes its close (no later event can merge into it
    * anymore), and state is bounded by watermark + gap — this is the
    * always-on crawl-log path, where the batch operator is the replay
    * path (StatefulStreamingSpec pins row-for-row parity on a replay).
    *
    * Boundary note: the batch window splits on diff > gap (strictly),
    * session_window on diff >= gap — the two differ only for events
    * spaced EXACTLY gap apart, which microsecond-resolution logs don't
    * produce (the parity spec would fail loudly if the corpus grew one).
    */
  def sessionizeStream(events: DataFrame, gapSeconds: Long = 28800L,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"),
        ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))) /
          lit(1000000.0)).as("duration_s"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("duration_s"), col("value_cents"))

  /** Parquet sink with exactly-once micro-batch commits. */
  def writer(
      out: Dataset[CorrectedPage],
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[CorrectedPage] =
    out.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
}
