package graft.pipeline

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingExtract
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Program writes go through [[NioLocalFileSystem]]: no `chmod` process per
  * created file or directory, the same POSIX modes as Hadoop's default
  * local file system, and `.crc` checksums still written and verified. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-local-fs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = JobConfig(buckets = 8)

  private lazy val corpus: String = {
    val dir = Files.createTempDirectory("graft_localfs_corpus_").toString
    SynthSource.writeCorpus(spark, 300L, 7L, dir)
    dir
  }

  /** Marks the end of a recording window: once the stream delivers it,
    * every event committed before it has been delivered too. */
  @jdk.jfr.Name("graft.test.WindowEnd")
  private class WindowEnd extends jdk.jfr.Event

  /** The commands of every process the JVM starts while `body` runs,
    * from JFR's `jdk.ProcessStart` events. */
  private def processStarts(body: => Unit): Seq[String] = {
    val commands = new ConcurrentLinkedQueue[String]()
    val ended = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[WindowEnd])
      rs.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command") + " at " +
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(12))
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < ")))
      rs.onEvent("graft.test.WindowEnd", _ => ended.countDown())
      rs.startAsync()
      body
      new WindowEnd().commit()
      assert(ended.await(60, TimeUnit.SECONDS), "recording stream delivered no end marker")
    } finally rs.close()
    commands.asScala.toSeq
  }

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** rwx string of every file and directory under `root`, keyed by its
    * relative path with the write job's UUID blanked. */
  private def modes(root: String): Map[String, String] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(_ != r).map { p =>
      uuid.replaceAllIn(r.relativize(p).toString, "UUID") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq

  test("the recording window sees a started process") {
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).size == 1)
  }

  test("ExtractJob.run, CurateJob.run and WarcSink.writeWet start no process") {
    val input = spark.read.parquet(corpus)
    input.count() // session warm-up outside the windows
    // Spark's executor metrics fork `getconf PAGESIZE` once per JVM, when
    // the first heartbeat initializes this class; do it before the windows
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val out = tempDir("graft_localfs_extract_")
    // the default 64-bucket layout: about 200 forks per call without NIO
    val extract = processStarts(ExtractJob.run(spark, input, out, JobConfig()))
    assert(extract.isEmpty, s"${extract.size} processes:\n${extract.take(5).mkString("\n")}")
    val curate = processStarts(CurateJob.run(spark, ExtractJob.readDocs(spark, out),
      "url", "extracted_text", "lang", s"$out/curate", CurateConfig()))
    assert(curate.isEmpty, s"${curate.size} processes:\n${curate.take(5).mkString("\n")}")
    val wet = processStarts(
      WarcSink.writeWet(ExtractJob.readDocsTyped(spark, out), s"$out/wet"))
    assert(wet.isEmpty, s"${wet.size} processes:\n${wet.take(5).mkString("\n")}")
    assert(Files.list(Paths.get(s"$out/wet")).count() > 0)
  }

  test("StreamingExtract.start starts no process and leaves the caller's " +
    "session conf unset") {
    val in = tempDir("graft_localfs_stream_in_")
    SynthSource.pages(spark, 200L).toDF().coalesce(1)
      .write.options(LocalFs.writeOptions).mode("append").parquet(in)
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val out = tempDir("graft_localfs_stream_out_")
    // sink files, `_spark_metadata` and checkpoint: 80 forks through
    // Hadoop's own local file systems
    val stream = processStarts(StreamingExtract.start(spark, in, out,
      tempDir("graft_localfs_stream_ckpt_"), cfg).awaitTermination())
    assert(stream.isEmpty, s"${stream.size} processes:\n${stream.take(5).mkString("\n")}")
    assert(spark.read.parquet(s"$out/docs").count() == 200L)
    assert(spark.conf.getOption("fs.file.impl").isEmpty)
  }

  test("every file and directory of the output has the mode the default " +
    "local file system gives the same write") {
    val input = spark.read.parquet(corpus)
    val out = tempDir("graft_localfs_modes_")
    ExtractJob.run(spark, input, out, cfg)
    // the same two writes, same layout, through Hadoop's default LocalFileSystem
    val ref = tempDir("graft_localfs_modes_ref_")
    ExtractJob.placeByBucket(ExtractJob.transform(spark, input, cfg), col("url"),
        cfg.buckets, cfg.tasks)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$ref/docs")
    ExtractJob.readLineage(spark, out).coalesce(1).write.parquet(s"$ref/lineage")

    val got = modes(out)
    assert(got == modes(ref))
    assert(got.keys.exists(_.endsWith(".parquet.crc")), got.keys)
    assert(got.keys.count(_.startsWith("docs/bucket=")) >= 3 * cfg.buckets, got.keys)
    assert(got.values.toSet == Set("rw-r--r--", "rwxr-xr-x"), got)
  }

  test(".crc files are written beside every part file and a flipped byte " +
    "fails the read with a ChecksumException") {
    val out = tempDir("graft_localfs_crc_")
    ExtractJob.run(spark, spark.read.parquet(corpus), out, cfg)
    val parts = Files.walk(Paths.get(s"$out/docs")).iterator().asScala
      .filter { p => val n = p.getFileName.toString; n.startsWith("part-") && n.endsWith(".parquet") }
      .toSeq
    assert(parts.nonEmpty)
    for (p <- parts) assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), p)
    assert(ExtractJob.readDocs(spark, out).count() == 300L)

    flipByte(parts.head, Files.size(parts.head) - 9) // inside the parquet footer
    val e = intercept[Exception](ExtractJob.readDocs(spark, out).count())
    assert(causes(e).exists(_.isInstanceOf[ChecksumException]), causes(e).mkString("\n"))
  }

  private def flipByte(p: JPath, at: Long): Unit = {
    val bytes = Files.readAllBytes(p)
    bytes(at.toInt) = (bytes(at.toInt) ^ 0xFF).toByte
    Files.write(p, bytes)
  }

  test("setPermission sets the same bits as Hadoop's chmod, sticky bit included") {
    def fs(f: RawLocalFileSystem): RawLocalFileSystem = {
      f.initialize(URI.create("file:///"), new Configuration()); f
    }
    val (nio, raw) = (fs(new NioRawLocalFileSystem), fs(new RawLocalFileSystem))
    def mode(p: String): Int =
      Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xFFF
    for (perm <- Seq("1755", "1777", "750", "640").map(Integer.parseInt(_, 8))) {
      val (a, b) = (tempDir("graft_localfs_nio_"), tempDir("graft_localfs_raw_"))
      nio.setPermission(new Path(a), new FsPermission(perm.toShort))
      raw.setPermission(new Path(b), new FsPermission(perm.toShort))
      assert(mode(a) == perm && mode(b) == perm, f"$perm%o: nio ${mode(a)}%o, chmod ${mode(b)}%o")
    }
  }
}
