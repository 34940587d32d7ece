package graft

import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit surface (graft.Run): an external PageRow parquet
  * flows through the checkpointed pipeline, a rerun resumes off the
  * ledgers without recomputing, and the resumed output is byte-identical
  * to the clean run.
  */
class RunSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-run-$tag").toString

  test("Run.execute processes an external pages parquet end-to-end") {
    import spark.implicits._
    val pagesPath = tmp("pages") + "/pages.parquet"
    pipeline.Pipeline.generate(spark, 40).toDF().write.mode("overwrite").parquet(pagesPath)

    val root = tmp("out")
    val json = Run.execute(spark, pagesPath, root, buckets = 4)
    assert(json.contains("\"pages\":40"), json)
    assert(json.contains("\"metric\":\"run_docs_per_sec\""), json)
    // the run's Janino compilations, a non-negative count
    val compiles = "\"codegen_compiles\":(-?\\d+)[,}]".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
    assert(compiles.exists(_ >= 0), json)
    // a clean run processed every bucket and skipped none
    assert(json.contains("\"processed\":4") && json.contains("\"skipped\":0"), json)
    // all three stages committed all four buckets
    Seq("segment", "align", "correct").foreach { st =>
      val ledger = plans.Checkpoint.readLedger(spark, root, st)
      assert(ledger.map(_.bucket).sorted == (0 until 4), s"$st ledger: $ledger")
      assert(ledger.map(_.rows).sum == 40L, s"$st rows: $ledger")
    }
  }

  test("rerun resumes: no bucket recomputed, output byte-identical") {
    import spark.implicits._
    val pagesPath = tmp("pages2") + "/pages.parquet"
    pipeline.Pipeline.generate(spark, 30).toDF().write.mode("overwrite").parquet(pagesPath)

    val rootClean = tmp("clean")
    Run.execute(spark, pagesPath, rootClean, buckets = 4)
    val rootResume = tmp("resume")
    Run.execute(spark, pagesPath, rootResume, buckets = 4)
    val before = plans.Checkpoint.readLedger(spark, rootResume, "correct")
      .map(e => e.bucket -> e.completedAtMs).toMap
    // second invocation: every stage's ledger is complete, so nothing
    // is reprocessed (commit timestamps unchanged) and the metrics line
    // says so (the clean/resume distinction an operator reads)
    val resumeJson = Run.execute(spark, pagesPath, rootResume, buckets = 4)
    assert(resumeJson.contains("\"processed\":0") &&
      resumeJson.contains("\"skipped\":4"), resumeJson)
    val after = plans.Checkpoint.readLedger(spark, rootResume, "correct")
      .map(e => e.bucket -> e.completedAtMs).toMap
    assert(after == before, "resume rewrote committed buckets")

    def snap(root: String) =
      spark.read.parquet(s"$root/correct/data")
        .select("url", "lang", "text", "nCorrections")
        .as[(String, String, String, Int)].collect().sortBy(_._1).toSeq
    assert(snap(rootResume) == snap(rootClean),
      "resumed output differs from clean run")
  }

  test("synth: input spelling drives the same pipeline") {
    val root = tmp("synth")
    val json = Run.execute(spark, "synth:25", root, buckets = 2)
    assert(json.contains("\"pages\":25"), json)
  }

  test("CLI flags parse into a GraftConfig; typos fail loudly") {
    val cfg = Run.parseConfig(Seq("--extractors=x-master", "--run-le=false",
      "--max-candidates=3", "--min-block-chars=2", "--max-link-density=0.9",
      "--profile-min-count=7", "--profile-max-patterns=4",
      "--profile-no-cache=true"))
    assert(cfg.extractors.map(_.name) == Seq("x-master"))
    assert(!cfg.runLE && cfg.maxCandidates == 3 && cfg.minBlockChars == 2)
    assert(cfg.maxLinkDensity == 0.9 && cfg.profileMinCount == 7L)
    assert(cfg.profileMaxPatterns == 4 && cfg.profileNoCache)
    assert(Run.parseConfig(Nil) == pipeline.GraftConfig.default)
    // a typo must not silently run with defaults
    assertThrows[RuntimeException](Run.parseConfig(Seq("--max-candidats=3")))
    assertThrows[RuntimeException](Run.parseConfig(Seq("--extractors=nope")))
    assertThrows[RuntimeException](Run.parseConfig(Seq("--run-le")))
  }

  test("a non-default config changes stage output; resume preserves its bytes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, size}
    // master-only extractors (nOCR=1): every aligned line must carry ONE
    // variant instead of the default two — the knob must be visibly live
    // in the persisted stage tables of the spark-submit surface (the
    // corrected TEXT may coincide on an easy corpus; the alignment
    // structure cannot)
    val cfg = Run.parseConfig(Seq("--extractors=x-master"))
    val rootDef = tmp("cfgdef")
    val rootOne = tmp("cfgone")
    Run.execute(spark, "synth:40", rootDef, buckets = 4)
    Run.execute(spark, "synth:40", rootOne, buckets = 4, cfg)
    def variantCounts(root: String): Set[Int] =
      spark.read.parquet(s"$root/align/data")
        .select(explode(col("lines")).as("l"))
        .select(size(col("l.variants")).as("n"))
        .as[Int].collect().toSet
    assert(variantCounts(rootDef) == Set(2), "default run lost the alt extractor")
    assert(variantCounts(rootOne) == Set(1), "nOCR=1 still aligned 2 variants — knob dead")
    // resuming the non-default root under the same config is a no-op
    // and keeps its (non-default) bytes
    def snap(root: String) =
      spark.read.parquet(s"$root/correct/data")
        .select("url", "text", "nCorrections")
        .as[(String, String, Int)].collect().sortBy(_._1).toSeq
    val oneSnap = snap(rootOne)
    val rerun = Run.execute(spark, "synth:40", rootOne, buckets = 4, cfg)
    assert(rerun.contains("\"processed\":0"), rerun)
    assert(snap(rootOne) == oneSnap, "resume changed config-run bytes")

    // the dynamiclex mode through the spark-submit surface: on this
    // corpus the corpus-global protection holds exactly the tokens the
    // per-occurrence LE gate already protects (MLSpec pins that), so the
    // mode must produce byte-identical output THROUGH the checkpointed
    // path while being a distinct pinned config
    val dynCfg = Run.parseConfig(Seq("--dynamic-lexicon=true"))
    val rootDyn = tmp("cfgdyn")
    val dynJson = Run.execute(spark, "synth:40", rootDyn, buckets = 4, dynCfg)
    assert(dynJson.contains("\"pages\":40"), dynJson)
    assert(snap(rootDyn) == snap(rootDef),
      "dynamiclex mode changed bytes on the LE-covered corpus")
    assert(pipeline.GraftConfig.default.canonical !=
      dynCfg.canonical, "dynamiclex must be part of the config pin")

    // resuming under a DIFFERENT config (the forgotten-flag rerun) must
    // refuse before any work: committed buckets hold the old config's
    // output, pending ones would get the new one's — per-bucket mixed
    // output with no error otherwise
    val e = intercept[IllegalArgumentException] {
      Run.execute(spark, "synth:40", rootOne, buckets = 4)
    }
    assert(e.getMessage.contains("config"), e.getMessage)
    assert(snap(rootOne) == oneSnap, "refused resume still touched output")
  }

  test("dedup stage: duplicate lineage is corpus-wide and partial resume is byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    // plant exact duplicates: 20 clean-range pages + re-urled copies of
    // the first 10 (same html -> same corrected text, different url)
    val base = pipeline.Pipeline.generate(spark, 20).toDF()
    val dups = pipeline.Pipeline.generate(spark, 10).toDF()
      .withColumn("url", concat(lit("dup-"), col("url")))
    val pagesPath = tmp("pages-dup") + "/pages.parquet"
    base.unionByName(dups).write.mode("overwrite").parquet(pagesPath)

    val cfg = Run.parseConfig(Seq("--dedup=true"))
    val root = tmp("dedup-run")
    val json = Run.execute(spark, pagesPath, root, buckets = 4, cfg)
    // 30 rows survive (never dropped); 20 unique texts -> 20 keepers
    assert(json.contains("\"pages\":30"), json)
    assert(json.contains("\"dedup_kept\":20"), json)
    assert(json.contains("\"dedup\":{"), json)

    def snap(r: String) =
      spark.read.parquet(s"$r/dedup/data")
        .select("url", "text", "keep", "dup_of")
        .as[(String, String, Boolean, Option[String])]
        .collect().sortBy(_._1).toSeq
    val clean = snap(root)
    // lineage: each duplicated text has exactly one keeper (min url);
    // every non-keeper points at a keeper carrying the SAME text
    val byText = clean.groupBy(_._2)
    assert(byText.size == 20)
    byText.foreach { case (_, rows) =>
      val keepers = rows.filter(_._3)
      assert(keepers.length == 1, s"not exactly one keeper: $rows")
      assert(keepers.head._1 == rows.map(_._1).min, "keeper is not min url")
      rows.filterNot(_._3).foreach { r =>
        assert(r._4.contains(keepers.head._1), s"dup_of broken: $r")
      }
    }
    // the planted dups were actually flagged (10 non-keepers)
    assert(clean.count(!_._3) == 10)

    // PARTIAL resume: lose one dedup bucket's commit; the rerun must
    // recompute ONLY that bucket and reproduce the clean bytes — this is
    // the fp-keyed-bucket invariant (every duplicate group lives wholly
    // in one bucket, so a bucket recomputed in isolation can never pick
    // a different keeper)
    val lost = plans.Checkpoint.readLedger(spark, root, "dedup").head.bucket
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(f"$root/dedup/_ledger/bucket-$lost%05d.json"))
    val resumeJson = Run.execute(spark, pagesPath, root, buckets = 4, cfg)
    assert(resumeJson.contains("\"dedup\":{\"buckets\":4,") &&
      resumeJson.contains("\"dedup_kept\":20"), resumeJson)
    assert(snap(root) == clean, "partial dedup resume changed bytes")
    // earlier stages were untouched (fully skipped)
    assert(resumeJson.contains("\"segment\":{\"buckets\":4,\"rows\":30,\"processed\":0,\"skipped\":4}"),
      resumeJson)

    // flag off stays the shipped three-stage pipeline (no dedup table)
    val rootOff = tmp("off")
    val offJson = Run.execute(spark, pagesPath, rootOff, buckets = 4)
    assert(!offJson.contains("\"dedup\":") && !offJson.contains("dedup_kept"), offJson)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$rootOff/dedup")))
  }

  test("dedup stage: fingerprint collisions and double-crawled rows are handled exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    // two hand-built pages whose texts are TOKEN PERMUTATIONS (the
    // multiset fingerprint collides BY CONSTRUCTION), plus one page
    // crawled twice (identical url AND html). "Exact" must mean byte
    // equality: the permuted pair stays un-flagged; the double-crawl
    // yields exactly one keeper, not two self-keepers.
    def page(url: String, body: String) =
      (url, "2024-01-01 00:00:00",
        s"<html><body><p>$body</p></body></html>".getBytes("UTF-8"),
        "", "en")
    val rows = Seq(
      page("http://perm.a/", "alpha beta gamma delta epsilon zeta eta"),
      page("http://perm.b/", "beta alpha gamma delta epsilon zeta eta"),
      page("http://twice.c/", "one two three four five six seven"),
      page("http://twice.c/", "one two three four five six seven"))
    val pagesPath = tmp("pages-adv") + "/pages.parquet"
    rows.toDF("url", "ts", "html", "text", "lang")
      .withColumn("warc_ts", to_timestamp(col("ts"))).drop("ts")
      .select("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(pagesPath)

    val root = tmp("dedup-adv")
    val json = Run.execute(spark, pagesPath, root, buckets = 2,
      Run.parseConfig(Seq("--dedup=true")))
    // 4 rows in; keepers = perm.a + perm.b (DIFFERENT bytes despite the
    // colliding fingerprint) + one of the twice.c pair = 3
    assert(json.contains("\"pages\":4"), json)
    assert(json.contains("\"dedup_kept\":3"), json)
    val out = spark.read.parquet(s"$root/dedup/data")
      .select("url", "keep", "dup_of")
      .as[(String, Boolean, Option[String])].collect().toSeq
    // premise check (not vacuous): the permuted pair's multiset
    // fingerprints DO collide in the persisted stage table
    val permFps = spark.read.parquet(s"$root/dedup/data")
      .filter(col("url").startsWith("http://perm"))
      .select("fp_key").as[String].collect().toSeq
    assert(permFps.length == 2 && permFps.distinct.length == 1,
      s"permutation premise broken — fps: $permFps")
    assert(out.filter(_._1.startsWith("http://perm")).forall(_._2),
      s"permuted texts were flagged as duplicates: $out")
    val twice = out.filter(_._1 == "http://twice.c/")
    assert(twice.count(_._2) == 1 && twice.count(!_._2) == 1,
      s"double-crawled row did not get exactly one keeper: $twice")
    assert(twice.find(!_._2).get._3.contains("http://twice.c/"))
  }

  test("neardup stage: transitive cluster lineage; labels committed once; partial resume byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, to_timestamp}
    // a near-dup CHAIN a~b~c (one token changed per hop — each adjacent
    // pair far above the band threshold, a~c more distant) plus an EXACT
    // re-crawl of a under a lexically LARGER url: the chain must collapse
    // into one component with the min url as representative, and the
    // exact copy must be handled by the exact layer (keep=false) while
    // staying OUT of the near-dup labels (they pair over survivors only)
    val body =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
        "kilo lima mike november oscar papa quebec romeo sierra tango " +
        "uniform victor whiskey xray yankee zulu one two three four"
    def page(url: String, b: String) =
      (url, "2024-01-01 00:00:00",
        s"<html><body><p>$b</p></body></html>".getBytes("UTF-8"), "", "en")
    val handRows = Seq(
      page("http://nd.a/", body),
      page("http://nd.b/", body.replace("echo", "exxo")),
      page("http://nd.c/", body.replace("echo", "exxo").replace("tango", "tanxo")),
      page("http://zz-recrawl.a/", body))
    val hand = handRows.toDF("url", "ts", "html", "text", "lang")
      .withColumn("warc_ts", to_timestamp(col("ts"))).drop("ts")
      .select("url", "warc_ts", "html", "text", "lang")
    val base = pipeline.Pipeline.generate(spark, 20).toDF()
    val pagesPath = tmp("pages-nd") + "/pages.parquet"
    base.unionByName(hand).write.mode("overwrite").parquet(pagesPath)

    // the near-dup stage without the exact layer is refused loudly
    val rootBad = tmp("nd-bad")
    val eBad = intercept[IllegalArgumentException] {
      Run.execute(spark, pagesPath, rootBad, buckets = 4,
        Run.parseConfig(Seq("--neardup=true")))
    }
    assert(eBad.getMessage.contains("dedup"), eBad.getMessage)

    val cfg = Run.parseConfig(Seq("--dedup=true", "--neardup=true"))
    val root = tmp("nd-run")
    val json = Run.execute(spark, pagesPath, root, buckets = 4, cfg)
    assert(json.contains("\"pages\":24"), json)
    assert(json.contains("\"neardup\":{"), json)

    def snap(r: String) =
      spark.read.parquet(s"$r/neardup/data")
        .select("url", "keep", "dup_of", "nd_keep", "nd_dup_of")
        .as[(String, Boolean, Option[String], Boolean, Option[String])]
        .collect().sortBy(_._1).toSeq
    val clean = snap(root)
    assert(clean.length == 24, "rows were dropped by the flag stages")
    val byUrl = clean.map(r => r._1 -> r).toMap
    // exact layer: the re-crawl lost to min url a; and a non-keeper is
    // never a near-dup keeper (nd_keep means survives BOTH gates)
    val re = byUrl("http://zz-recrawl.a/")
    assert(!re._2 && re._3.contains("http://nd.a/"), s"exact layer broken: $re")
    assert(!re._4 && re._5.isEmpty, s"exact dup leaked into nd labels: $re")
    // near-dup chain: one component, min-url representative keeps
    val a = byUrl("http://nd.a/"); val b = byUrl("http://nd.b/"); val c = byUrl("http://nd.c/")
    assert(a._2 && a._4 && a._5.isEmpty, s"representative flagged: $a")
    Seq(b, c).foreach { r =>
      assert(r._2, s"near-dup is not an exact dup — keep must hold: $r")
      assert(!r._4 && r._5.contains("http://nd.a/"),
        s"chain member not labeled to the representative: $r")
    }
    // metrics rollup agrees with the table
    val ndKept = clean.count(_._4)
    assert(json.contains(s""""neardup_kept":$ndKept"""), json)
    // the labels artifact holds ONLY the strict duplicates
    val lbl = spark.read.parquet(s"$root/neardup/_labels")
      .as[(String, String)].collect().toMap
    assert(lbl.keySet.forall(u => !byUrl(u)._4), s"labels include a keeper: $lbl")
    assert(lbl.contains("http://nd.b/") && lbl.contains("http://nd.c/"), lbl.toString)

    // PARTIAL resume: lose one flag-stage bucket; the rerun recomputes
    // only that bucket against the SAME committed labels (the engine's
    // own commit marker — NOT Hadoop's disable-able _SUCCESS — must not
    // move) and reproduces clean bytes
    val successPath = java.nio.file.Paths.get(s"$root/neardup/_labels.commit")
    val successMtime = java.nio.file.Files.getLastModifiedTime(successPath)
    val lost = plans.Checkpoint.readLedger(spark, root, "neardup").head.bucket
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(f"$root/neardup/_ledger/bucket-$lost%05d.json"))
    val resumeJson = Run.execute(spark, pagesPath, root, buckets = 4, cfg)
    assert(resumeJson.contains("\"neardup\":{\"buckets\":4,"), resumeJson)
    assert(snap(root) == clean, "partial neardup resume changed bytes")
    assert(java.nio.file.Files.getLastModifiedTime(successPath) == successMtime,
      "resume recomputed the committed labels artifact")

    // labels crash-resume: a lost commit marker with a pending bucket
    // means the labels write died mid-flight — the rerun must recompute
    // them from the same complete input and still reproduce clean bytes
    java.nio.file.Files.delete(successPath)
    val lost2 = plans.Checkpoint.readLedger(spark, root, "neardup").head.bucket
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(f"$root/neardup/_ledger/bucket-$lost2%05d.json"))
    Run.execute(spark, pagesPath, root, buckets = 4, cfg)
    assert(snap(root) == clean, "labels recompute changed bytes")

    // the df-guard knob is LIVE through the spark-submit surface: at
    // df<=1 every band key shared by two docs is a hot band, so the
    // chain produces zero candidate pairs and b/c become keepers — and
    // the non-default guard is part of the config pin (same-root resume
    // under the default would silently relabel otherwise)
    val tight = Run.parseConfig(
      Seq("--dedup=true", "--neardup=true", "--neardup-df-guard=1"))
    assert(tight.canonical != cfg.canonical,
      "df guard missing from the config pin")
    val rootTight = tmp("nd-tight")
    Run.execute(spark, pagesPath, rootTight, buckets = 4, tight)
    val tightSnap = snap(rootTight)
    Seq("http://nd.a/", "http://nd.b/", "http://nd.c/").foreach { u =>
      val r = tightSnap.find(_._1 == u).get
      assert(r._4 && r._5.isEmpty,
        s"df-guard=1 still produced a near-dup label — knob dead: $r")
    }

    // the SEMDEDUP strategy through the same surface: embedding cells +
    // exact-cosine verify must collapse the same chain (one-token edits
    // leave the tf vectors ~0.93-0.97 cosine-close, so τ=0.9 catches
    // both hops) and stays a distinct pinned config; the exact re-crawl
    // is still handled by the exact layer, not the labels
    val sem = Run.parseConfig(Seq("--dedup=true", "--neardup=true",
      "--neardup-strategy=semdedup", "--neardup-tau=0.9"))
    assert(sem.canonical != cfg.canonical,
      "semdedup strategy missing from the config pin")
    val rootSem = tmp("nd-sem")
    Run.execute(spark, pagesPath, rootSem, buckets = 4, sem)
    val semSnap = snap(rootSem)
    val sa = semSnap.find(_._1 == "http://nd.a/").get
    assert(sa._2 && sa._4 && sa._5.isEmpty, s"semdedup flagged the representative: $sa")
    Seq("http://nd.b/", "http://nd.c/").foreach { u =>
      val r = semSnap.find(_._1 == u).get
      assert(!r._4 && r._5.contains("http://nd.a/"),
        s"semdedup missed a chain member: $r")
    }
    val semRe = semSnap.find(_._1 == "http://zz-recrawl.a/").get
    assert(!semRe._2 && !semRe._4 && semRe._5.isEmpty,
      s"exact dup leaked into semdedup labels: $semRe")
    // semdedup resume contract, same drill as minhash: lose one flag
    // bucket AND the labels commit marker — the recompute must derive
    // byte-identical labels from the same committed input (seed
    // selection and cells are deterministic by construction: one
    // min-text embedding per vertex) and reproduce the clean bytes
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$rootSem/neardup/_labels.commit"))
    val semLost = plans.Checkpoint.readLedger(spark, rootSem, "neardup").head.bucket
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(f"$rootSem/neardup/_ledger/bucket-$semLost%05d.json"))
    Run.execute(spark, pagesPath, rootSem, buckets = 4, sem)
    assert(snap(rootSem) == semSnap, "semdedup labels recompute changed bytes")
    // unknown strategy fails loudly at parse/construct time
    assertThrows[IllegalArgumentException](
      Run.parseConfig(Seq("--neardup-strategy=simhash")))
  }

  test("neardup full resume with only the labels marker lost does not recompute the labels") {
    // every flag bucket is committed, so the flag stage's transform (the
    // only place the labels are read or computed) never runs: the labels
    // files keep their bytes and mtimes although their marker is gone
    val cfg = Run.parseConfig(Seq("--dedup=true", "--neardup=true"))
    val root = tmp("nd-full")
    Run.execute(spark, "synth:24", root, buckets = 2, cfg)
    val labels = java.nio.file.Paths.get(s"$root/neardup/_labels")
    def files() = {
      val s = java.nio.file.Files.list(labels)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).sortBy(_.toString).map { f =>
        (f.getFileName.toString, java.nio.file.Files.getLastModifiedTime(f),
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString)
      } finally s.close()
    }
    val before = files()
    assert(before.exists(_._1.endsWith(".parquet")), s"no labels written: $before")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/neardup/_labels.commit"))
    val json = Run.execute(spark, "synth:24", root, buckets = 2, cfg)
    assert(""""neardup":\{[^}]*"processed":0,"skipped":2\}""".r.findFirstIn(json).nonEmpty, json)
    assert(files() == before, "full resume recomputed the labels")
  }
}
