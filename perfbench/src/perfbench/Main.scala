package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{Run, SparkBoot, SparkEntry}
import graft.core.PageRow
import graft.fixtures.PagesGen
import graft.pipeline.{GraftConfig, Pipeline}
import graft.plans.Checkpoint
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark run of one workload in one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--inject <fault>]
  *
  * Set-up (session start and the workload's own set-up work) runs the
  * workload's `setupRounds` times, each in a fresh session, and reports the
  * median; the first round also pays for the cold JVM.
  * The workload then runs once untimed with every output check, plus a
  * few untimed passes while the JIT compiles its code — the warm-up,
  * reported on its own as `warmup_s` — and the timed phase repeats its
  * pass for `--seconds`
  * (at least [[MinPasses]] passes) and reports the median. A failed check
  * counts the operations whose output it covers as failed; no check runs
  * inside a timed region. The result is written to `<work>/result.json`.
  */
object Main {

  val MinPasses = 2

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, inject: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.getOrElse("inject", ""),
      Runtime.getRuntime.availableProcessors)
  }

  /** Everything one run reports. `e2e` and `layers` hold (value, unit). */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val extra = mutable.LinkedHashMap.empty[String, String] // raw JSON values

    /** Runs one operation; a throw counts it as failed and yields None. */
    def attempt[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch {
        case NonFatal(e) =>
          failed += 1
          failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          System.err.println(s"[perfbench] $what FAILED: $e")
          None
      }
    }

    /** Output checks that found `problems`: the `ops` operations that
      * produced the checked output count as failed.
      */
    def checkFailed(problems: Seq[String], ops: Long): Unit =
      if (problems.nonEmpty) {
        failed += ops
        problems.foreach { p =>
          failures += p.take(400)
          System.err.println(s"[perfbench] check failed: $p")
        }
      }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secs[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = f
    ((System.nanoTime() - t0) / 1e9, v)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Repeats `pass` until `seconds` have elapsed and at least [[MinPasses]]
    * ran. Records the median wall (`pass_s`) and the median CPU time the
    * whole process spent (`cpu_s`) over the passes that succeeded, and
    * returns their walls. CPU time leaves out time the host stole from the
    * process, which wall time on a shared machine does not.
    */
  def timedPasses(r: Result, seconds: Double)(pass: Int => Option[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    var k = 0
    while (k < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val c0 = os.getProcessCpuTime
      pass(k).foreach { w => walls += w; cpus += (os.getProcessCpuTime - c0) / 1e9 }
      k += 1
    }
    r.e2e("pass_s") = (median(walls.toSeq), "s")
    r.e2e("cpu_s") = (median(cpus.toSeq), "s")
    r.extra("pass_walls_s") = walls.map(w => f"$w%.4f").mkString("[", ",", "]")
    r.extra("pass_cpus_s") = cpus.map(c => f"$c%.4f").mkString("[", ",", "]")
    walls.toSeq
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Heap still in use after full collections: what the process holds on
    * to once the workload's jobs are done (caches, broadcasts, leaks).
    */
  def retainedHeapMb(): Double = {
    // Spark's ContextCleaner frees broadcast, shuffle and checkpoint state
    // asynchronously, after a collection finds its owners unreachable: give
    // it time between collections and keep the smallest reading
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 8).map { _ =>
      System.gc(); Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def du(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(g => du(g.getPath)).sum else f.length
  }

  /** Attaches a fresh [[SparkCounters]] for the duration of `f`. */
  def counted[T](spark: SparkSession)(f: => T): (SparkCounters, Double, T) = {
    val sc = spark.sparkContext
    val c = new SparkCounters
    PerfbenchAccess.drainListeners(sc)
    sc.addSparkListener(c)
    val (wall, v) = try secs(f) finally {
      PerfbenchAccess.drainListeners(sc)
      sc.removeSparkListener(c)
    }
    (c, wall, v)
  }

  def sparkLayers(r: Result, c: SparkCounters, wall: Double, cores: Int): Unit = {
    r.layers("spark.jobs") = (c.jobs.toDouble, "count")
    r.layers("spark.tasks") = (c.tasks.toDouble, "count")
    r.layers("spark.task_s") = (c.taskMs / 1e3, "s")
    r.layers("spark.gc_s") = (c.gcMs / 1e3, "s")
    r.layers("spark.shuffle_write_bytes") = (c.shuffleWrite.toDouble, "bytes")
    r.layers("spark.shuffle_read_bytes") = (c.shuffleRead.toDouble, "bytes")
    r.layers("spark.spill_bytes") = (c.spill.toDouble, "bytes")
    r.layers("spark.output_bytes") = (c.outputBytes.toDouble, "bytes")
    r.layers("spark.core_busy") = (c.taskMs / 1e3 / (wall * cores), "ratio")
    r.layers("spark.task_skew") = (c.taskSkew, "ratio")
  }

  /** A workload: `setup` generates its inputs or learns what its passes
    * need (once per set-up round, in a fresh session); `run` does the
    * checked warm-up, the timed phase and,
    * with tracing on, the traced run.
    */
  trait Workload {
    def setupRounds: Int
    def setup(spark: SparkSession, round: Int): Unit
    def run(spark: SparkSession, r: Result): Unit
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.work).mkdirs()
    val r = new Result
    val w: Workload = o.workload match {
      case "pipeline_fused" => new PipelineFused(o)
      case "curation_board" => new CurationBoard(o)
      case other => sys.error(s"unknown workload '$other'")
    }
    var spark: SparkSession = null
    val rounds = (0 until w.setupRounds).map { round =>
      secs {
        if (spark != null) spark.stop()
        spark = SparkBoot.session(o.cores.toString)
        w.setup(spark, round)
      }._1
    }
    r.e2e("setup_s") = (median(rounds), "s")
    r.extra("setup_rounds_s") = rounds.map(x => f"$x%.4f").mkString("[", ",", "]")
    w.run(spark, r)
    r.e2e("retained_heap_mb") = (retainedHeapMb(), "MB")
    r.layers("jvm.peak_rss_mb") = (peakRssMb(), "MB")
    r.report("peak_rss_mb") = (peakRssMb(), "MB")
    if (o.trace) Files.writeString(Paths.get(o.work, "spans.json"), Trace.toJson(Trace.all))
    spark.stop()
    Files.writeString(Paths.get(o.work, "result.json"), toJson(o, r))
  }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"${jsonStr(k)}:{\"value\":$num,\"unit\":${jsonStr(u)}}"
    }.mkString("{", ",", "}")

  def toJson(o: Opts, r: Result): String =
    s"""{"workload":${jsonStr(o.workload)},"seed":${o.seed},"trace":${o.trace},""" +
      s""""attempted":${r.attempted},"failed":${r.failed},""" +
      s""""failures":${r.failures.map(jsonStr).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(r.e2e)},"layers":${metrics(r.layers)},"report":${metrics(r.report)}""" +
      r.extra.map { case (k, v) => s",${jsonStr(k)}:$v" }.mkString + "}\n"
}
