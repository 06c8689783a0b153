package graft

import org.apache.spark.sql.SparkSession

/** Scoped overrides of a session's SQL confs. */
object Confs {

  /** Run `f` with the session confs `pairs` set, then restore each to its
    * previous value, or unset it if it had none, however `f` exits. The
    * overrides are visible to everything that uses the session meanwhile,
    * so a leaked or concurrent override bleeds into unrelated queries.
    */
  def withSQLConf[T](spark: SparkSession, pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
