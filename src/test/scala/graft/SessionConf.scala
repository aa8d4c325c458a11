package graft

import org.apache.spark.sql.SparkSession

/** Runtime SQL confs scoped to one block. Every suite runs in the one forked
  * test JVM and gets the same session from `getOrCreate`, which re-applies
  * the suite's builder confs to it and never takes them back: a conf set on
  * a builder holds for every suite that runs later. Set it here instead. */
object SessionConf {
  def withConf[T](spark: SparkSession, conf: Map[String, String])(body: => T): T = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
