package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** The ONE table of graft SQL functions: name, expression class and
  * builder of every `graft_*` function. It drives both the per-session
  * registration ([[register]], for a live session) and the
  * `spark.sql.extensions` injection ([[inject]], through
  * [[graft.plans.GraftExtensions]]), so the two lists cannot drift.
  */
object SqlFunctions {

  private type Builder = Seq[Expression] => Expression

  private val all: Seq[(String, Class[_ <: Expression], Builder)] = Seq(
    ("graft_lev_bounded", classOf[BoundedLevenshtein],
      c => BoundedLevenshtein(c(0), c(1), c(2))),
    ("graft_cosine", classOf[CosineSim], c => CosineSim(c(0), c(1))),
    ("graft_sqdist", classOf[SqDist], c => SqDist(c(0), c(1))),
    // graft_hashtf(toks) (dim=64) or graft_hashtf(toks, dim), dim a literal
    ("graft_hashtf", classOf[HashTf], {
      case Seq(c) => HashTf(c, 64)
      case Seq(c, Literal(d, IntegerType)) if d != null => HashTf(c, d.asInstanceOf[Int])
      case Seq(_, bad) => throw new IllegalArgumentException(
        s"graft_hashtf: dim must be a non-null literal INT, got $bad")
      case _ => throw new IllegalArgumentException(
        "graft_hashtf(tokens[, literal dim]) expects 1 or 2 arguments")
    }),
    // the dedup family's fixed L=12/stride=7 shingling
    ("graft_minhash8", classOf[MinhashSig], {
      case Seq(c) => MinhashSig(c)
      case _ => throw new IllegalArgumentException(
        "graft_minhash8(text) expects exactly 1 argument")
    }),
    // graft_shingles(text, len, stride), len and stride literals
    ("graft_shingles", classOf[CharShingles], {
      case Seq(c, Literal(l: Int, IntegerType), Literal(s: Int, IntegerType)) =>
        CharShingles(c, l, s)
      case _ => throw new IllegalArgumentException(
        "graft_shingles(text, literal len, literal stride) expects 3 arguments")
    }),
    // graft_window_hashes(text, len, stride), len and stride literals
    ("graft_window_hashes", classOf[WindowHashes], {
      case Seq(c, Literal(l: Int, IntegerType), Literal(s: Int, IntegerType)) =>
        WindowHashes(c, l, s)
      case _ => throw new IllegalArgumentException(
        "graft_window_hashes(text, literal len, literal stride) expects 3 arguments")
    }),
    ("graft_fingerprint2", classOf[Fingerprint2], {
      case Seq(c) => Fingerprint2(c)
      case _ => throw new IllegalArgumentException(
        "graft_fingerprint2(text) expects exactly 1 argument")
    }),
    ("graft_repetition_stats", classOf[RepetitionStats], {
      case Seq(c) => RepetitionStats(c)
      case _ => throw new IllegalArgumentException(
        "graft_repetition_stats(text) expects exactly 1 argument")
    }))

  /** Registers every function a live session does not have yet, so
    * repeated calls neither re-register nor log a replacement warning.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, _, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }

  /** Injects every function into sessions built with these extensions. */
  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}
