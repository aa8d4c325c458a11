package graft.pipeline

import java.sql.Timestamp

import graft.kernel.Synth
import graft.model.Page
import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed deterministic Page-table source: `spark.range` → pure
  * (seed, idx) row function on executors. No driver materialization, no
  * external data — the same generator yields the 10^2-row test fixtures and
  * the 10^5-row bench corpus, byte-identical at any parallelism. */
object SynthSource {
  def pages(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[Page] =
    pagesRange(spark, 0L, n, seed)

  /** Rows for indices [start, end) — disjoint slices of one corpus (urls are
    * a function of (seed, idx), so slices never collide). */
  def pagesRange(spark: SparkSession, start: Long, end: Long, seed: Long = 42L): Dataset[Page] = {
    import spark.implicits._
    spark.range(start, end).mapPartitions { it =>
      it.map { idx =>
        val r = Synth.row(seed, idx)
        Page(r.url, new Timestamp(r.warcTsMillis), r.html, r.text, r.lang)
      }
    }
  }

  /** Write a synthetic corpus as a parquet Page table. */
  def writeCorpus(spark: SparkSession, n: Long, seed: Long, path: String): Unit =
    pages(spark, n, seed).write.options(LocalFs.writeOptions).mode("overwrite").parquet(path)
}
