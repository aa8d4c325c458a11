package graft.api

import graft.expr.{KernelExpressions, KernelFn, KernelFnExpr}
import graft.kernel.{Classifier, NeedsOcr, TextQuality}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Literal}

/** SQL-facing registration of the kernel's scalar functions, so
  * `spark.sql` users can quality-score / classify / fingerprint a text
  * column directly (the reference's ContentAnalyzer static surface, §3.3,
  * exposed to SQL). The analyzer functions are deliberately plain Scala
  * UDFs: they exist for SQL ergonomics and the parity harness — the hot
  * path never uses them (the pipeline runs the same functions inside
  * `mapPartitions`, and the relational layer uses built-in Column
  * functions; see SURVEY.md §2.12). The hash functions have one
  * implementation each: the native kernel expressions, which `graft_simhash`
  * and `graft_fingerprint` apply to `coalesce(t, '')`. */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    KernelExpressions.register(spark)
    for ((name, fn) <- Seq("graft_simhash" -> KernelFn.SimHash64,
        "graft_fingerprint" -> KernelFn.Fingerprint64))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
        exprs => KernelFnExpr(fn, Coalesce(Seq(exprs.head, Literal("")))),
        "built-in")
    spark.udf.register("graft_quality_score",
      (text: String) => TextQuality.analyze(orEmpty(text)).ocrQualityScore)
    spark.udf.register("graft_text_density",
      (text: String) => TextQuality.analyze(orEmpty(text)).textDensity)
    spark.udf.register("graft_word_count",
      (text: String) => TextQuality.analyze(orEmpty(text)).wordCount)
    spark.udf.register("graft_structured",
      (text: String) => TextQuality.detectStructuredContent(orEmpty(text)))
    spark.udf.register("graft_artifact_confidence",
      (text: String) => TextQuality.detectOcrArtifacts(orEmpty(text)).confidence)
    spark.udf.register("graft_classify_fast",
      (textLength: Int, imageCount: Int, pageArea: Double) => {
        val (tr, ir) = Classifier.fastEstimates(textLength, pageArea, imageCount)
        Classifier.classifyFast(textLength, imageCount, tr, ir)._1
      })
    spark.udf.register("graft_needs_ocr",
      (pageType: String, textLength: Int, confidence: Double, quality: Double,
       threshold: Double) =>
        NeedsOcr(pageType, textLength, confidence, quality, threshold))
    spark.udf.register("graft_extract_html",
      (html: String) => graft.kernel.Html.extract(orEmpty(html)).text)
  }

  private def orEmpty(s: String): String = if (s == null) "" else s
}
