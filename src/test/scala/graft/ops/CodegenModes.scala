package graft.ops

/** The interpreted and the generated-code evaluation paths, for specs that
  * check an expression in both (under `graft.SessionConf.withConf`). */
object CodegenModes {
  val modes: Seq[(String, Map[String, String])] = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "generated code" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
}
