package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Isolates the cost of the single-row-group corpus scan vs the spread()
  * round-robin exchange vs the shingle projection — to attribute the
  * serial map-stage time JobProfile surfaces on minhash consumers. */
object ScanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scan-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def time(label: String)(f: => Unit): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        f
        println(f"[scanprobe] $label rep=$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }

    time("scan+count")(docs.select(col("doc_id"), col("text")).count())
    time("scan+noop")(docs.select(col("doc_id"), col("text"))
      .write.format("noop").mode("overwrite").save())
    time("scan+rr32+noop")(docs.select(col("doc_id"), col("text"))
      .repartition(32)
      .write.format("noop").mode("overwrite").save())
    time("scan+rr32+shingle+noop")(docs.select(col("doc_id"), col("text"))
      .repartition(32)
      .select(col("doc_id"),
        graft.ops.Dedup.shingleFingerprints(split(col("text"), " "), 3)
          .as("sh"))
      .write.format("noop").mode("overwrite").save())
    time("scan+shingle-nospread+noop")(docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        graft.ops.Dedup.shingleFingerprints(split(col("text"), " "), 3)
          .as("sh"))
      .write.format("noop").mode("overwrite").save())

    // the real operator path: what parallelism does the checkpointed
    // shingle table actually carry?
    val spreadDocs = docs.select(col("doc_id"), col("text")).repartition(32)
    val sh = graft.ops.Dedup.shingleTable(spreadDocs, "doc_id", "text", 3)
    println(s"[scanprobe] shingleTable rdd partitions = ${sh.rdd.getNumPartitions}")
    time("shingleTable+count")(sh.count())

    // pre-checkpoint plan of the shingle pipeline: does the shingle
    // projection stay ABOVE the round-robin exchange?
    val preChk = spreadDocs.select(col("doc_id"),
      graft.ops.Dedup.shingleFingerprints(split(col("text"), " "), 3)
        .as("shingles"))
      .filter(size(col("shingles")) > 0)
    println("[scanprobe] === pre-checkpoint physical plan ===")
    println(preChk.queryExecution.executedPlan.toString.split("\n")
      .map(l => "[scanprobe] " + l.take(150)).mkString("\n"))

    // operators are built outside the timer: only their counts are timed
    val cand = graft.ops.Dedup.minhashCandidatePairs(spreadDocs,
      "doc_id", "text", 3, 32, 8)
    time("candidates+count")(cand.count())
    val pairs = graft.ops.Dedup.minhashNearDups(spreadDocs,
      "doc_id", "text", 3, 32, 8, 0.5)
    time("nearDups+count")(pairs.count())
    spark.stop()
  }
}
