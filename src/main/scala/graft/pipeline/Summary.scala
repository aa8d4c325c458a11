package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §3.2 reporting layer — the expert-API summary queries (A3–A10) as
  * Column-level aggregations over the per-page stats table. Runs off the
  * OUTPUT table only (never rescans `html`, SURVEY.md §4.2).
  *
  * Reference: `get_summary` (_detector.py:687-730),
  * `_get_recommendation_enhanced` (:921-966), `_get_recommendation`
  * (:1073-1087), `_identify_problematic_pages` (:968-1028),
  * `_create_page_summary`/`_format_page_list` (:1030-1071).
  */
object Summary {

  /** A3–A5 + A7 + A8: one-row corpus summary over a page-stats DataFrame
    * (columns as produced by ExtractJob.pageStats). */
  def corpusSummary(pages: DataFrame): DataFrame = {
    val agg = pages.agg(
      count(lit(1)).as("total_pages"),
      sum(when(col("page_type") === "text", 1L).otherwise(0L)).as("text_count"),
      sum(when(col("page_type") === "scanned", 1L).otherwise(0L)).as("scanned_count"),
      sum(when(col("page_type") === "mixed", 1L).otherwise(0L)).as("mixed_count"),
      sum(when(col("page_type") === "empty", 1L).otherwise(0L)).as("empty_count"),
      avg(col("confidence")).as("average_confidence"), // A4
      // A5 — conditional average: only pages with text_length > 50 AND a
      // text_quality block (_detector.py:705-709); fast rows carry none.
      coalesce(
        avg(when(col("text_length") > 50 && col("has_text_quality"),
          col("ocr_quality_score"))),
        lit(0.0)).as("average_text_quality"),
      // good-text pages for A7 (_detector.py:941-947; dict-default 0 →
      // fast rows never qualify)
      sum(when(col("text_length") > 200 && col("has_text_quality") &&
        col("ocr_quality_score") > 0.6, 1L).otherwise(0L)).as("good_text_pages"),
      sum(col("text_length")).cast("long").as("total_text_length"))

    val pct: String => Column = c => col(c) * 100.0 / col("total_pages")

    agg
      .withColumn("text_percentage", pct("text_count"))
      .withColumn("scanned_percentage", pct("scanned_count"))
      .withColumn("mixed_percentage", pct("mixed_count"))
      .withColumn("empty_percentage", pct("empty_count"))
      .withColumn("good_text_percentage", pct("good_text_pages"))
      .withColumn("avg_text_per_page",
        col("total_text_length").cast("double") / col("total_pages"))
      // A7 — enhanced recommendation decision chain (_detector.py:952-966)
      .withColumn("recommended_action",
        when(
          (col("good_text_percentage") > 60 && col("average_text_quality") > 0.6) ||
          (col("text_percentage") > 70 && col("average_text_quality") > 0.5) ||
          (col("good_text_percentage") > 30 && col("avg_text_per_page") > 300),
          "NO OCR NEEDED")
        .when(
          col("scanned_percentage") > 70 ||
          (col("mixed_percentage") > 80 && col("average_text_quality") < 0.4) ||
          (col("text_percentage") < 10 &&
            col("scanned_percentage") + col("mixed_percentage") > 80),
          "OCR REQUIRED")
        .otherwise("OCR RECOMMENDED"))
      // A8 — legacy recommendation (_detector.py:1073-1087)
      .withColumn("recommended_action_legacy",
        when((col("scanned_count") + col("mixed_count")) * 100.0 /
          col("total_pages") > 50, "OCR REQUIRED")
        .when(col("text_count") > 0 &&
          (col("scanned_count") + col("mixed_count")) * 100.0 /
            col("total_pages") < 25, "NO OCR NEEDED")
        .otherwise("OCR RECOMMENDED"))
  }

  /** A9 — problematic-page partition (_detector.py:968-1028), page-level:
    * each page is tagged with its category (or null if unproblematic).
    * Note the reference's asymmetric dict defaults: mixed pages default
    * quality to 0, text pages to 1.0 (_detector.py:986, :1001). */
  def problematicCategory: Column = {
    val qMixed = when(col("has_text_quality"), col("ocr_quality_score")).otherwise(0.0)
    val qText = when(col("has_text_quality"), col("ocr_quality_score")).otherwise(1.0)
    when(col("page_type") === "empty", "empty_pages")
      .when(col("page_type") === "scanned", "scanned_pages")
      .when(col("page_type") === "mixed" &&
        (col("text_length") < 100 || qMixed < 0.4 || col("confidence") < 0.7),
        "mixed_pages_needing_ocr")
      .when(col("page_type") === "text" &&
        (col("text_length") < 50 || qText < 0.3 || col("confidence") < 0.6),
        "low_quality_text_pages")
      .otherwise(null)
  }

  /** A9 per-document problematic-page lists as four sorted arrays + count. */
  def problematicPages(pages: DataFrame): DataFrame = {
    def pagesIn(cat: String): Column =
      sort_array(collect_list(when(problematicCategory === cat, col("page_number"))))
    pages.groupBy(col("url")).agg(
      pagesIn("scanned_pages").as("scanned_pages"),
      pagesIn("mixed_pages_needing_ocr").as("mixed_pages_needing_ocr"),
      pagesIn("low_quality_text_pages").as("low_quality_text_pages"),
      pagesIn("empty_pages").as("empty_pages"))
      .withColumn("total_pages_needing_ocr",
        size(col("scanned_pages")) + size(col("mixed_pages_needing_ocr")) +
          size(col("low_quality_text_pages")))
      .withColumn("summary", pageSummary)
  }

  /** P5 — `_format_page_list` (_detector.py:1063-1071) as a Column expr:
    * ≤5 pages → join all; else first 3 + "... and N more". */
  def formatPageList(pages: Column): Column = {
    val joined: Column => Column = c => concat_ws(", ", c.cast("array<string>"))
    when(size(pages) === 0, "None")
      .when(size(pages) <= 5, joined(pages))
      .otherwise(concat(joined(slice(pages, 1, 3)), lit(", ... and "),
        (size(pages) - 3).cast("string"), lit(" more")))
  }

  /** A10 — `_create_page_summary` (_detector.py:1030-1061). */
  def pageSummary: Column = {
    val parts = array(
      when(size(col("scanned_pages")) > 0,
        concat(lit("Scanned pages needing OCR: "), formatPageList(col("scanned_pages")))),
      when(size(col("mixed_pages_needing_ocr")) > 0,
        concat(lit("Mixed content pages that would benefit from OCR: "),
          formatPageList(col("mixed_pages_needing_ocr")))),
      when(size(col("low_quality_text_pages")) > 0,
        concat(lit("Pages with poor text extraction quality: "),
          formatPageList(col("low_quality_text_pages")))),
      when(size(col("empty_pages")) > 0,
        concat(lit("Empty pages (no processing needed): "),
          formatPageList(col("empty_pages")))))
    val joined = array_join(parts, " | ") // array_join skips null parts
    when(length(joined) === 0, "All pages have good text extraction quality.")
      .otherwise(joined)
  }
}
