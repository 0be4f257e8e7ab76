package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The one switch over the engine's special paths: with
  * `spark.graft.plain=true` every query runs on Spark's plain plans.
  * [[plans.TinyAggSingularize]], [[plans.TinySortSingularize]] and
  * [[plans.RangeJoinBinning]] leave the plan unchanged,
  * [[ops.spreadTable]] is the bare [[ops.table]] read and
  * [[ops.DriverLocal.admit]] answers distributed. Unset (the default)
  * each path decides by its own fixed threshold. Both settings give
  * the same rows, so running `graft.Verify` under each checks every
  * dual path against the oracle. */
object Plain {
  val Key = "spark.graft.plain"

  /** Read inside optimizer rules, where the session's conf is active. */
  def apply(conf: SQLConf): Boolean =
    conf.getConfString(Key, "false").toBoolean

  def apply(s: SparkSession): Boolean = s.conf.get(Key, "false").toBoolean
}
