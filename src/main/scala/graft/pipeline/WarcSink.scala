package graft.pipeline

import java.net.URI
import java.nio.charset.StandardCharsets
import java.util.UUID

import graft.kernel.Warc
import graft.model.DocResult
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

/** WET-style sink: write extracted text back out as WARC `conversion`
  * records (the format Common Crawl publishes extracted text in), one
  * per-record-gzip `.warc.wet.gz` file per non-empty partition.
  *
  * Output goes through the Hadoop FileSystem API using the DRIVER's
  * Hadoop configuration (propagated as key/value pairs into the task
  * closure), so `spark.hadoop.*` settings — object-store credentials,
  * endpoints, defaultFS — apply on executors; `LocalFs.writeOptions` is
  * added like any program write's, so `file:` output forks no `chmod`.
  *
  * Task-commit protocol: each attempt writes to an attempt-unique `.tmp`
  * file and then RENAMEs to the final per-partition name. The rename is
  * the commit arbiter — on HDFS/local a rename onto an existing path
  * FAILS, so with speculation or stage retries the FIRST completed
  * attempt wins and later/zombie attempts delete their own tmp file;
  * nothing ever deletes a committed file. Failed attempts clean their
  * tmp in a finally. Callers supply a fresh output directory (this sink
  * never deletes pre-existing output — re-runs into a used dir keep the
  * old files, like FileOutputCommitter without overwrite). Every record
  * carries the ISO 28500-mandatory WARC-Record-ID (a name-based UUID of
  * url+date — deterministic, so retried attempts emit identical bytes). */
object WarcSink {

  def writeWet(docs: Dataset[DocResult], dir: String): Unit = {
    val dirStr = dir
    val hadoopProps: Array[(String, String)] = {
      val c = docs.sparkSession.sparkContext.hadoopConfiguration
      val out = Array.newBuilder[(String, String)]
      val it = c.iterator()
      while (it.hasNext) { val e = it.next(); out += (e.getKey -> e.getValue) }
      (out ++= LocalFs.writeOptions).result()
    }
    docs.foreachPartition { (it: Iterator[DocResult]) =>
      if (it.hasNext) {
        val part = TaskContext.getPartitionId()
        val attempt = TaskContext.get().taskAttemptId()
        val conf = new org.apache.hadoop.conf.Configuration(false)
        hadoopProps.foreach { case (k, v) => conf.set(k, v) }
        val fs = org.apache.hadoop.fs.FileSystem.get(URI.create(dirStr), conf)
        val finalPath = new org.apache.hadoop.fs.Path(
          dirStr, f"part-$part%05d.warc.wet.gz")
        val tmpPath = new org.apache.hadoop.fs.Path(
          dirStr, f".part-$part%05d.warc.wet.gz.$attempt%d.tmp")
        var committed = false
        try {
          val out = fs.create(tmpPath, true)
          try {
            it.foreach { d =>
              val text = if (d.extracted_text == null) "" else d.extracted_text
              val body = text.getBytes(StandardCharsets.UTF_8)
              val date = java.time.Instant.ofEpochMilli(d.warc_ts.getTime).toString
              val recordId = UUID.nameUUIDFromBytes(
                s"${d.url}|$date".getBytes(StandardCharsets.UTF_8))
              val headers = Map(
                "WARC-Type" -> "conversion",
                "WARC-Record-ID" -> s"<urn:uuid:$recordId>",
                "WARC-Target-URI" -> d.url,
                "WARC-Date" -> date,
                "Content-Type" -> "text/plain")
              out.write(Warc.write(Seq((headers, body)), gzipPerRecord = true))
            }
          } finally out.close()
          // commit: rename fails if another attempt already committed
          committed = fs.rename(tmpPath, finalPath)
        } finally {
          if (!committed) fs.delete(tmpPath, false) // loser/failed attempt
        }
      }
    }
  }
}
