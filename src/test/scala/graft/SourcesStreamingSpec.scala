package graft

import graft.fixtures.PagesGen
import graft.pipeline.Pipeline
import graft.sources.PagesTable
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

class SourcesStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  test("PagesTable round-trips and prunes partitions on p_day") {
    val root = Files.createTempDirectory("graft-pages-table").toString
    val n = 120
    PagesTable.write(Pipeline.generate(spark, n), root, buckets = 8)
    assert(Files.exists(Paths.get(root, "manifest.json")))
    // row count measured inside the write job (retry-safe accumulator)
    assert(Files.readString(Paths.get(root, "manifest.json")).contains(s""""rows":$n"""))

    // logical schema round-trip, byte-identical html
    val back = PagesTable.logical(spark, root).collect().map(p => p.url -> p).toMap
    assert(back.size == n)
    (0 until n).foreach { i =>
      val tp = PagesGen.page(i.toLong).row
      assert(java.util.Arrays.equals(back(tp.url).html, tp.html))
    }

    // a p_day range scan must prune partitions (PartitionFilters, not a
    // full-scan + filter)
    val days = PagesTable.read(spark, root).select(col("p_day")).distinct()
      .collect().map(_.getInt(0)).sorted
    val firstDay = days.head
    val pruned = PagesTable.scanDays(spark, root, firstDay, firstDay)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_day"),
      s"no partition pruning in plan:\n$plan")
    val expected = PagesTable.read(spark, root)
      .filter(col("p_day") === firstDay).count()
    assert(pruned.count() == expected && expected > 0)
    rmTree(Paths.get(root))
  }

  test("bucket scan co-locates with checkpoint bucketing") {
    val root = Files.createTempDirectory("graft-pages-bucket").toString
    PagesTable.write(Pipeline.generate(spark, 80), root, buckets = 8)
    val b3 = PagesTable.scanBucket(spark, root, 3)
      .select(col("url")).collect().map(_.getString(0)).toSet
    // the frozen layout, spelled independently of Checkpoint.bucketOf:
    // pmod(xxhash64(url), 8)
    val expected = PagesTable.read(spark, root)
      .filter(pmod(xxhash64(col("url")), lit(8)) === 3)
      .select(col("url")).collect().map(_.getString(0)).toSet
    assert(b3 == expected)
    rmTree(Paths.get(root))
  }

  test("archive ingest round-trips a bagit zip to byte-identical PageRows + GT") {
    import graft.sources.ArchiveIngest
    val dir = Files.createTempDirectory("graft-bagit")
    // two archives, GT on even pages only (the reference's GT groups
    // annotate a subset of the workspace)
    val byArchive = (0 until 24).map { i =>
      val tp = PagesGen.page(i.toLong)
      (i / 12, (tp.row, if (i % 2 == 0) Some(tp.trueText) else None))
    }.groupBy(_._1)
    byArchive.foreach { case (k, rows) =>
      ArchiveIngest.writeArchive(s"$dir/bag$k.zip", rows.map(_._2))
    }
    val back = ArchiveIngest.pages(spark, s"$dir/*.zip").collect()
      .map(p => p.url -> p).toMap
    assert(back.size == 24)
    (0 until 24).foreach { i =>
      val tp = PagesGen.page(i.toLong).row
      val got = back(tp.url)
      assert(java.util.Arrays.equals(got.html, tp.html), s"html differs for ${tp.url}")
      assert(got.text == tp.text && got.lang == tp.lang && got.warc_ts == tp.warc_ts)
    }
    val gt = ArchiveIngest.golden(spark, s"$dir/*.zip").collect()
      .map(g => g.url -> g.golden).toMap
    assert(gt.size == 12)
    (0 until 24 by 2).foreach { i =>
      val tp = PagesGen.page(i.toLong)
      assert(gt(tp.row.url) == tp.trueText)
    }
    // fixity (the bagit contract): flip one payload byte WITHOUT updating
    // the manifest — ingest must fail loudly, never yield a silent wrong
    // page. Rebuild bag0 entry-for-entry with one html byte flipped.
    val inZ = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(
      Files.readAllBytes(Paths.get(s"$dir/bag0.zip"))))
    val outBuf = new java.io.ByteArrayOutputStream()
    val outZ = new java.util.zip.ZipOutputStream(outBuf)
    var e = inZ.getNextEntry
    while (e != null) {
      val buf = new java.io.ByteArrayOutputStream()
      inZ.transferTo(buf)
      val b = buf.toByteArray
      if (e.getName == "data/pages/0.html") b(0) = (b(0) ^ 1).toByte
      outZ.putNextEntry(new java.util.zip.ZipEntry(e.getName))
      outZ.write(b)
      outZ.closeEntry()
      e = inZ.getNextEntry
    }
    inZ.close(); outZ.close()
    val broken = dir.resolve("broken")
    Files.createDirectories(broken)
    Files.write(broken.resolve("broken.zip"), outBuf.toByteArray)
    val err = intercept[Exception] {
      ArchiveIngest.pages(spark, s"$broken/broken.zip").count()
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" <- ")
    assert(chain.contains("fixity"), s"expected a fixity failure, got: $chain")
    rmTree(dir)
  }

  test("streaming pipeline produces byte-identical corrections to batch") {
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val q = StreamingPipeline.writer(
      Pipeline.run(StreamingPipeline.pagesStream(spark, rowsPerSecond = 500)),
      s"$out/data", ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds")).start()
    // poll until at least one non-empty micro-batch committed (rate source
    // emits rows as wall-clock advances), then stop the query
    val deadline = System.currentTimeMillis() + 90000L
    var have = 0L
    while (have == 0L && System.currentTimeMillis() < deadline) {
      Thread.sleep(1000L)
      have = try spark.read.parquet(s"$out/data").count() catch { case _: Throwable => 0L }
    }
    q.stop(); q.awaitTermination(30000L)
    val rows = spark.read.parquet(s"$out/data")
      .select(col("url"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(rows.nonEmpty, "streaming produced no rows")
    // every streamed page must be byte-identical to the BATCH pipeline's
    // correction of the same page (the actual parity property); outside
    // the deliberate-garble ranges — hard-eval [500, 700) and q54's
    // misleading-garble [700, 900) — batch output is additionally
    // byte-identical to golden, so both invariants are covered
    val profile = Pipeline.defaultProfile(spark)
    val lde = Pipeline.lexiconWith("de", profile)
    val len = Pipeline.lexiconWith("en", profile)
    rows.foreach { case (url, text) =>
      val idx = url.substring(url.lastIndexOf('p') + 1).toLong
      val batch = Pipeline.correctPage(
        Pipeline.alignPage(Pipeline.segmentPage(PagesGen.page(idx).row)), lde, len).text
      assert(text == batch, s"streamed $url differs from the batch pipeline")
      if (idx < 500L || idx >= 900L)
        assert(text == Pipeline.goldenText(idx), s"streamed $url differs from golden")
    }
    rmTree(Paths.get(out)); rmTree(Paths.get(ckpt))
  }
}

class StatefulStreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("stateful url dedup drops re-deliveries across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val pages = in.toDS().map(i => PagesGen.page(i).row)
    val deduped = StreamingPipeline.dedupFirstSeen(pages)
      .map(_.url).toDF("url")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dedup-ckpt").toString)
      .start()
    try {
      in.addData(0L, 1L, 2L, 1L) // batch 1: url p1 duplicated in-batch
      q.processAllAvailable()
      in.addData(2L, 3L) // batch 2: p2 re-delivered across batches
      q.processAllAvailable()
      val urls = spark.table("dedup_out").collect().map(_.getString(0)).sorted
      val expected = Seq(0L, 1L, 2L, 3L).map(i => PagesGen.page(i).row.url).sorted
      assert(urls.toSeq == expected, s"got ${urls.toSeq}")
    } finally q.stop()
  }

  test("watermarked tumbling-window host counts aggregate event time") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val counts = StreamingPipeline.hostWindowCounts(
      in.toDS().map(i => PagesGen.page(i).row))
    val q = counts.writeStream.format("memory").queryName("host_windows")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-win-ckpt").toString)
      .start()
    try {
      in.addData(0L until 30L: _*) // 30 pages, one per hour of event time
      q.processAllAvailable()
      val rows = spark.table("host_windows")
        .select(col("host"), col("n_pages")).collect()
      // pages land in 1-hour tumbling windows: warc_ts(i) = epoch + i h,
      // so every (window, host) cell holds exactly one page
      assert(rows.map(_.getLong(1)).sum == 30L)
      assert(rows.forall(_.getLong(1) == 1L))
      assert(rows.forall(_.getString(0).startsWith("host")))
    } finally q.stop()
  }

  test("streaming minhash signature matches the batch q18 signature scheme") {
    import spark.implicits._
    // same shingling + salted min-hash as the SQL pair stage: cross-check
    // the row-local Scala fold against the Spark SQL expression chain
    // the last text holds a supplementary-plane character (one character,
    // two UTF-16 units): shingle positions must count characters
    val texts = (0L until 5L).map(i => PagesGen.page(i).row.text) :+ "a\ud83d\ude00bcdefghijklmnop"
    val sqlSig = texts.toDF("text")
      .select(expr(
        """concat_ws('|', transform(sequence(0, 7), j ->
          |  array_min(transform(
          |    transform(sequence(1, greatest(length(text) - 11, 1), 7),
          |              i -> substring(text, i, 12)),
          |    sh -> md5(to_binary(concat(cast(j as string), ':', sh), 'utf-8'))))))""".stripMargin))
      .collect().map(_.getString(0))
    texts.zip(sqlSig).foreach { case (t, sig) =>
      assert(StreamingPipeline.minhashSignature(t) == sig)
    }
  }

  test("JSONL crawl feed: corrupt lines quarantined, html bytes round-trip") {
    import graft.sources.JsonlPages
    val dir = Files.createTempDirectory("graft-jsonl")
    val html = "<html><body><p>Hello feed</p></body></html>"
    val b64 = java.util.Base64.getEncoder.encodeToString(html.getBytes("UTF-8"))
    val lines = Seq(
      s"""{"url":"https://a.example/1","warc_ts":"2013-01-01T00:00:00Z","html_b64":"$b64","text":"hint","lang":"en"}""",
      s"""{"url":"https://a.example/2","warc_ts":"2013-01-02T03:04:05Z","html_b64":"$b64"}""", // text/lang optional
      s"""{"url":"https://bad.example/1", NOT JSON""", // unparseable line
      s"""{"warc_ts":"2013-01-01T00:00:00Z","html_b64":"$b64"}""", // missing url
      s"""{"url":"https://c.example/1","warc_ts":"not-a-time","html_b64":"$b64"}""", // bad ts
      s"""{"url":"https://d.example/1","warc_ts":"2013-01-01T00:00:00Z","html_b64":"A"}""") // truncated b64 (unbase64 would THROW)
    val f = dir.resolve("feed.jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    val feed = JsonlPages.read(spark, f.toString)
    val got = feed.pages.collect().sortBy(_.url)
    assert(got.length == 2, s"got ${got.map(_.url).toSeq}")
    assert(got.forall(p => new String(p.html, "UTF-8") == html)) // byte round-trip
    assert(got(0).text == "hint" && got(1).text == "" && got(1).lang == "")
    assert(got(0).warc_ts.toInstant.toString == "2013-01-01T00:00:00Z")
    // broken line + missing url + bad timestamp + undecodable base64 = 4
    // quarantined, each debuggable (raw line or partial parse retained),
    // and none of them crashed a task
    val q = feed.quarantine.collect()
    assert(q.length == 4, s"quarantine: ${q.toSeq}")
    assert(q.exists(r => r.getString(0) != null && r.getString(0).contains("NOT JSON")))
    assert(q.exists(r => r.getString(3) == "A")) // the bad-base64 row
    // the parsed feed drops straight into the pipeline
    assert(Pipeline.segment(feed.pages).collect().forall(_.blocks.nonEmpty))
    feed.unpersist()
    Files.walk(dir).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  test("first-seen TTL transition: refresh on sighting, reclaim on timeout, re-admit after") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val ttl = 1000L
    val fn = StreamingPipeline.firstSeenFn(ttl)
    val ts = new java.sql.Timestamp(0L)
    def page(url: String) = graft.core.PageRow(url, ts, Array.emptyByteArray, "t", "en")
    def st(existing: Option[Boolean], timedOut: Boolean) = {
      val opt = existing.map(Optional.of[Boolean]).getOrElse(Optional.empty[Boolean]())
      TestGroupState.create[Boolean](opt,
        GroupStateTimeout.ProcessingTimeTimeout(), 5000L,
        Optional.empty[Long](), timedOut)
    }
    // new key: emit first delivery, arm the TTL
    val fresh = st(None, timedOut = false)
    assert(fn("k", Iterator(page("a"), page("b")), fresh).toSeq.map(_.url) == Seq("a"))
    assert(fresh.exists && fresh.getTimeoutTimestampMs.get() == 5000L + ttl)
    // seen key: drop the delivery, slide the TTL forward
    val seen = st(Some(true), timedOut = false)
    assert(fn("k", Iterator(page("c")), seen).isEmpty)
    assert(seen.getTimeoutTimestampMs.get() == 5000L + ttl)
    // timed-out key: state reclaimed (the next delivery re-admits as novel)
    val cold = st(Some(true), timedOut = true)
    assert(fn("k", Iterator.empty, cold).isEmpty)
    assert(cold.isRemoved)
    // ttl = 0: unbounded retention, no timeout ever armed
    val nofn = StreamingPipeline.firstSeenFn(0L)
    val unbounded = TestGroupState.create[Boolean](
      Optional.empty[Boolean](), GroupStateTimeout.NoTimeout(), 5000L,
      Optional.empty[Long](), false)
    assert(nofn("k", Iterator(page("d")), unbounded).toSeq.map(_.url) == Seq("d"))
    assert(unbounded.exists && !unbounded.getTimeoutTimestampMs.isPresent)
  }

  test("stateful near-dup suppression drops re-rendered duplicates across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ts = new java.sql.Timestamp(0L)
    def page(url: String, text: String) =
      graft.core.PageRow(url, ts, Array.emptyByteArray, text, "en")
    val in = MemoryStream[Int]
    val base = "The quick brown fox jumps over the lazy dog. " * 5
    // distinct urls, near-identical content: 1 and 2 share the signature
    val feed = Map(
      1 -> page("https://a.example/1", base),
      2 -> page("https://mirror.example/1", base), // mirror re-render
      3 -> page("https://b.example/2", base.replace("quick", "slow")))
    // ttlMs = 0 (NoTimeout): with a processing-time TTL the engine keeps
    // scheduling timeout-check batches, so processAllAvailable never
    // latches — bounded replays/tests use the unbounded-retention mode
    // the parameter documents; production keeps the 30-day default
    val out = StreamingPipeline.nearDupFirstSeen(in.toDS().map(feed), ttlMs = 0L)
      .map(_.url).toDF("url")
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-neardup-ckpt").toString)
      .start()
    try {
      in.addData(1)
      q.processAllAvailable()
      in.addData(2, 3) // 2 is a cross-batch near-dup of 1; 3 is novel
      q.processAllAvailable()
      val urls = spark.table("neardup_out").collect().map(_.getString(0)).sorted
      assert(urls.toSeq == Seq("https://a.example/1", "https://b.example/2"),
        s"got ${urls.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionization replays to row-for-row batch q66 parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // (user_id, epoch_us, value) in event-time order, split mid-stream so
    // sessions grow across micro-batches
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("value"))
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    val gapUs = 28800L * 1000000L
    val in = MemoryStream[(Long, Long, Double)]
    val stream = in.toDS().select(col("_1").as("user_id"),
      timestamp_micros(col("_2")).as("ts"), col("_3").as("value"))
    val out = StreamingPipeline.sessionizeStream(stream)
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sess-ckpt").toString)
      .start()
    try {
      val (first, second) = events.splitAt(events.length / 2)
      in.addData(first.toSeq); q.processAllAvailable()
      in.addData(second.toSeq); q.processAllAvailable()
      // sentinel far past every session's close (+gap +1h watermark +1h
      // margin) advances the watermark so ALL real sessions emit; its own
      // session never closes and stays absent from the append output
      in.addData((-1L, events.map(_._2).max + gapUs + 2L * 3600000000L, 0.0))
      q.processAllAvailable()

      // session_idx = rank of session_start per user (batch counts from 1)
      val got = spark.table("sessions_out")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("session_start")).as("st"),
          col("n_events"), col("duration_s"), col("value_cents"))
        .as[(Long, Long, Long, Double, Long)].collect()
        .groupBy(_._1).toSeq.flatMap { case (u, rows) =>
          rows.sortBy(_._2).zipWithIndex.map { case ((_, _, n, d, c), i) =>
            (u, (i + 1).toLong, n, d, c)
          }
        }.sortBy(r => (r._1, r._2))
      val expected = SparkEntry.queries("q66_sessionize")(spark, sf)
        .as[(Long, Long, Long, Double, Long)].collect().toSeq
        .sortBy(r => (r._1, r._2))
      assert(got.nonEmpty && got == expected,
        s"streaming sessions diverge from batch: got ${got.take(3)}... vs ${expected.take(3)}...")
    } finally q.stop()
  }
}
