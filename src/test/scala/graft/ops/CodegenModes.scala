package graft.ops

import org.apache.spark.sql.SparkSession

/** The interpreted and the generated-code evaluation paths, for specs that
  * check an expression in both. */
trait CodegenModes {
  protected def spark: SparkSession

  protected val modes: Seq[(String, Map[String, String])] = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "generated code" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  protected def withConf[T](conf: Map[String, String])(body: => T): T = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
