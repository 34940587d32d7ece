package graft.operators

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession

/** The driver budget: how many bytes an operator may pull whole onto the
  * driver instead of running a distributed plan. It is
  * `spark.sql.autoBroadcastJoinThreshold`, Spark's own "small enough to
  * hold whole on one node" setting, so there is no separate knob: a
  * session that disables broadcasts (a value ≤ 0) disables every
  * driver-side exit too. Consumers: the small-graph exit of
  * [[Dedup.connectedComponentsWithRounds]] and the broadcast path of
  * [[Skew.saltedJoin]].
  */
object DriverBudget {

  /** The session's budget in bytes; ≤ 0 means "never on the driver".
    * Parsed as Spark parses its byte confs: an optional leading `-`,
    * then a byte string with an optional unit (`"10MB"`, `"10485760b"`,
    * `"-1"`) — a plain `toLong` rejects the suffixed spellings.
    */
  def bytes(spark: SparkSession): Long = {
    val s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    if (s.startsWith("-")) -JavaUtils.byteStringAsBytes(s.substring(1))
    else JavaUtils.byteStringAsBytes(s)
  }
}
