package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Shuffle-, join- and aggregation-bound `SparkEntry.queries` over the
  * benchmark's generated tables. The seed picks the tables and permutes the
  * query order. Results are compared with each query's DuckDB `oracleSql`
  * by the Python runner after the JVM exits.
  */
final class CurationBoard(o: Main.Opts) extends Main.Workload {
  import Main._

  val queries: Seq[String] = new scala.util.Random(o.seed).shuffle(CurationBoard.Queries)
  def tables(round: Int) = s"${o.work}/r$round/tables"

  /** A round writes some 600k rows: three rounds, the first one cold. */
  val setupRounds = 3

  def setup(spark: SparkSession, round: Int): Unit =
    Inputs.writeBoardTables(spark, tables(round), o.seed, o.cores)

  def run(spark: SparkSession, r: Result): Unit = {
    val dir = tables(setupRounds - 1)
    val out = s"${o.work}/board"
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"), queries
      .map(n => s"${jsonStr(n)}:${jsonStr(SparkEntry.oracleSql(n))}").mkString("{", ",", "}"))
    // the checked pass: every result lands as parquet for the oracle
    // compare, and its row count is what each timed execution must return
    val (warmS, expectedRows) = secs(queries.flatMap { name =>
      r.attempt(s"$name checked") {
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.parquet(s"$out/$name")
        name -> spark.read.parquet(s"$out/$name").count()
      }
    }.toMap)
    val executions = mutable.Map.empty[String, Int].withDefaultValue(1)
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def pass(k: Int): Option[Double] = {
      val ts = queries.filter(expectedRows.contains).map { name =>
        executions(name) += 1
        r.attempt(s"$name pass $k") {
          val (t, n) = Trace.span(name)(secs(SparkEntry.queries(name)(spark, dir).count()))
          if (n != expectedRows(name))
            throw new IllegalStateException(s"returned $n rows, the checked pass ${expectedRows(name)}")
          perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
          t
        }
      }
      if (ts.nonEmpty && ts.forall(_.isDefined)) Some(ts.flatten.sum) else None
    }
    // the JIT is still busy in the first pass after the checked one: it
    // takes about half again the CPU time of a settled pass
    val (warmPassS, _) = secs(pass(0))
    r.layers("warmup_s") = (warmS + warmPassS, "s")
    r.report("warmup_s") = (warmS + warmPassS, "s")
    val walls = timedPasses(r, if (o.trace) 0 else o.seconds)(k => pass(k + 1))
    val boardS = median(walls)
    r.report("board_s") = (boardS, "s")
    r.extra("board") = s"""{"tables":${jsonStr(dir)},"results":${jsonStr(out)},"executions":{""" +
      queries.map(n => s"${jsonStr(n)}:${executions(n)}").mkString(",") + "}}"
    if (o.trace) {
      perQuery.clear()
      Trace.enabled = true
      val (c, wall, tracedWalls) = try counted(spark)(
        (0 until MinPasses).flatMap(k => Trace.span("board_pass")(pass(walls.size + 1 + k))))
      finally Trace.enabled = false
      queries.foreach(n => r.layers(s"q.$n.s") = (median(perQuery.getOrElse(n, Nil).toSeq), "s"))
      val spans = Trace.all
      val self = Trace.selfNs(spans)
      val tracedS = median(tracedWalls)
      r.layers("trace.wall_s") = (tracedS, "s")
      r.layers("trace.overhead_s") = (tracedS - boardS, "s")
      r.layers("trace.coverage") = (queries.map(n => self.getOrElse(n, 0L)).sum.toDouble /
        spans.filter(_.name == "board_pass").map(_.durNs).sum, "ratio")
      sparkLayers(r, c, wall, o.cores)
    }
  }
}

object CurationBoard {
  /** The Dedup queries that share code with Run's near-dup stage (q50's
    * band join and connected components, q62's curation funnel) and its
    * exact-dedup fingerprint (q15), and the Skew-salted join (q38).
    */
  val Queries: Seq[String] = Seq(
    "q50_dedup_clusters", "q62_curation_pipeline", "q15_dedup_exact", "q38_salted_join")
}
