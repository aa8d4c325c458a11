package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.kernel.{Extractor, Html, PdfParse, ProbeConfig, Synth, TextQuality}
import org.apache.spark.sql.SparkSession

/** Run options, as passed by `run.py`. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    launchMs: Long,
    scale: Double,
    record: Option[String]) {
  def cpus: Int = Runtime.getRuntime.availableProcessors()
}

/** One timed call's measurements. */
final case class Sample(wallS: Double, cpuS: Double, heapMb: Double, items: Long)

/** Layer numbers for the trace artifact, and named output checks that
  * count towards `attempted`/`failed` like the workload's own. */
final case class Details(layers: Map[String, Double], checks: Seq[(String, Boolean)])

/** A workload: inputs made from the seed during set-up, then one public
  * call of the program timed repeatedly, then checks of the last output. */
trait Workload {
  /** How many times `generate` runs during set-up (median reported). */
  def setupRepeats: Int
  /** Writes the inputs; must be repeatable with identical results. */
  def generate(): Unit
  /** Loads what `generate` wrote; runs once, after the last `generate`. */
  def prepare(): Unit
  /** One timed call writing to `out`; returns the work items committed. */
  def call(out: String): Long
  /** Digest of the generated inputs: a changed generator is a new input. */
  def inputDigest(): String
  /** Named output checks of the call that wrote `out`. */
  def checks(out: String): Seq[(String, Boolean)]
  /** The call's result counted with `.count()` instead of written. */
  def countVariant(): Unit
  /** The call's result written to a `noop` sink instead of committed. */
  def noopVariant(): Unit
  /** Workload-specific layers of a traced run, given the stages of its
    * last traced call and the listener for any further traced calls. */
  def details(spans: Spans, stages: Seq[StageRow], collector: StageCollector): Details
}

object LayeredBench {

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spans = new Spans(s"${o.workload}-seed${o.seed}")
    val root = spans.nextId()
    val runStart = System.currentTimeMillis()
    val work = new File(o.work)
    deleteTree(work)
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1000.0

    try o.record match {
      case Some(path) => QueryLayer.record(spark, path)
      case None =>
        val wl: Workload = o.workload match {
          case "extract-mixed" => new ExtractWorkload(spark, o)
          case "curate" => new CurateWorkload(spark, o)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        val result = measure(spark, o, wl, spans, sessionS)
        spans.add(Span(root, 0L, "run", runStart, System.currentTimeMillis(), Map.empty))
        if (o.trace) {
          val dir = new File(o.work).getParentFile
          Files.writeString(Paths.get(dir.getPath, "spans.json"), spans.toJson)
        }
        println("RESULT " + result)
    } finally spark.stop()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toInt,
      trace = m.getOrElse("trace", "0") == "1",
      work = m("work"),
      launchMs = m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      scale = m.get("scale").map(_.toDouble).getOrElse(1.0),
      record = m.get("record"))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = ManagementFactory.getCompilationMXBean

  /** Process CPU seconds so far, less the time JIT compiler threads spent
    * compiling: compilation continues for several calls after the cold one
    * and its amount swings with the host, not with the program's work. */
  private def programCpuS(): Double =
    osBean.getProcessCpuTime / 1e9 - jitBean.getTotalCompilationTime / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def measure(spark: SparkSession, o: Opts, wl: Workload, spans: Spans,
      sessionS: Double): String = {
    val sc = spark.sparkContext
    val heap = new HeapAfterGc
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()

    // -- set-up: inputs (repeated, median), then one cold call ------------
    val genS = spans.span("setup") {
      (1 to wl.setupRepeats).map { _ =>
        spans.span("generate")(secs(wl.generate())._2)
      }
    }
    spans.span("prepare")(wl.prepare())
    val (_, coldS) = spans.span("warmup")(secs(wl.call(s"${o.work}/out-warmup")))
    deleteTree(new File(s"${o.work}/out-warmup"))
    val setupS = sessionS + median(genS) + coldS

    // -- timed calls: at least two, until the window is spent -------------
    // A traced run instead makes four calls, untraced and traced
    // interleaved (ABBA, so the early calls the JIT still slows fall on
    // both sides), measuring the tracing overhead within one run; its
    // length does not grow with the window, as its query layer is long.
    val collector = new StageCollector(sc)
    val idleP99 = if (o.trace) Pauses.idleP99Ms(1500L) else Double.NaN
    val ticker = new Pauses.Ticker
    if (o.trace) ticker.start()
    val plain = mutable.ArrayBuffer[Sample]()
    val traced = mutable.ArrayBuffer[Sample]()
    val callStats = mutable.ArrayBuffer[Map[String, Double]]()
    var lastStages = Seq.empty[StageRow]
    val windowStart = System.nanoTime()
    var i = 0
    var lastOut = ""
    def more: Boolean =
      if (o.trace) i < 4 else i < 2 || (System.nanoTime() - windowStart) / 1e9 < o.seconds
    while (more) {
      val withTrace = o.trace && (i % 4 == 1 || i % 4 == 2)
      val out = s"${o.work}/out-$i"
      System.gc()
      if (withTrace) { collector.reset(); sc.addSparkListener(collector) }
      val callId = spans.nextId()
      val callStart = System.currentTimeMillis()
      heap.arm()
      val cpu0 = programCpuS()
      attempted += 1
      val (items, wall) = secs {
        try wl.call(out)
        catch { case e: Exception =>
          failed += 1; failures += s"call $i: $e"; 0L }
      }
      val cpu = programCpuS() - cpu0
      val heapMb = heap.disarmMb()
      val sample = Sample(wall, cpu, heapMb, items)
      System.err.println(f"[perfbench] call $i%d${if (withTrace) " (traced)" else ""}%s: " +
        f"$wall%.3f s wall, $cpu%.2f s cpu, $items%d items, $heapMb%.0f MB heap after GC")
      spans.add(Span(callId, 0L, if (withTrace) "call.traced" else "call",
        callStart, System.currentTimeMillis(),
        Map("wall_s" -> wall, "cpu_s" -> cpu, "heap_peak_mb" -> heapMb,
          "items" -> items.toDouble)))
      if (withTrace) {
        val (jobs, stages) = collector.snapshot()
        sc.removeSparkListener(collector)
        callStats += callMetrics(jobs, stages, wall, o.cpus, out)
        lastStages = stages
        stages.foreach { s =>
          spans.add(Span(spans.nextId(), callId, s"stage ${s.stageId}: ${s.name}",
            s.submitMs, s.completeMs,
            Map("job" -> s.jobId.toDouble, "tasks" -> s.taskMs.length.toDouble,
              "skew" -> s.skew, "shuffle_write_mb" -> s.shuffleWriteBytes / 1048576.0,
              "run_s" -> s.runMs / 1000.0)))
        }
        traced += sample
      } else plain += sample
      if (lastOut.nonEmpty) deleteTree(new File(lastOut))
      lastOut = out
      i += 1
    }
    val runMaxPause = if (o.trace) ticker.halt() else Double.NaN

    // -- output checks of the last call ------------------------------------
    def count(cs: Seq[(String, Boolean)]): Unit = cs.foreach { case (name, ok) =>
      attempted += 1
      if (!ok) { failed += 1; failures += s"check failed: $name" }
    }
    spans.span("checks") {
      count(try wl.checks(lastOut)
        catch { case e: Exception => Seq(s"checks raised $e" -> false) })
    }
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(wl.inputDigest().getBytes("UTF-8")).take(6).map(b => f"${b & 0xff}%02x").mkString
    System.err.println(s"[perfbench] input digest ${o.workload} seed ${o.seed}: $digest")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val s = plain.toSeq
        val items = median(s.map(_.items.toDouble))
        Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", items / median(s.map(_.wallS)), "1/s"))
      } else {
        val (_, countS) = spans.span("variant.count")(secs(wl.countVariant()))
        val (_, noopS) = spans.span("variant.noop")(secs(wl.noopVariant()))
        val kernel = spans.span("kernel")(KernelProbe.run(o.seed, 200))
        val extra = spans.span("details") {
          try wl.details(spans, lastStages, collector)
          catch { case e: Exception => Details(Map.empty, Seq(s"details raised $e" -> false)) }
        }
        count(extra.checks)
        val plainWall = median(plain.map(_.wallS).toSeq)
        val tracedWall = median(traced.map(_.wallS).toSeq)
        val cm = callStats.head.keys.toSeq.sorted.map { k =>
          (k, median(callStats.map(_(k)).toSeq), unitOf(k))
        }
        writeDetails(o, extra.layers ++ Map("call.plain_wall_s" -> plainWall,
          "call.traced_wall_s" -> tracedWall, "setup_s" -> setupS, "session_s" -> sessionS),
          lastStages, digest)
        kernel.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) } ++ cm ++ Seq(
          ("call.cpu_s", median(plain.map(_.cpuS).toSeq), "s"),
          ("call.heap_peak_mb", median((plain ++ traced).map(_.heapMb).toSeq), "MB"),
          ("call.cold_s", coldS, "s"),
          ("call.count_s", countS, "s"),
          ("call.noop_s", noopS, "s"),
          ("trace.overhead_share", tracedWall / plainWall - 1.0, "share"),
          ("host.idle_p99_pause_ms", idleP99, "ms"),
          ("host.run_max_pause_ms", runMaxPause, "ms"))
      }
    failures.foreach(f => System.err.println(s"[perfbench] $f"))
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{" + s""""value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$body}"""
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_us")) "us"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_share")) "share"
    else if (name.endsWith("_skew")) "ratio"
    else "count"

  /** Per-call numbers from the listener. Stage skew is max/median task
    * time over stages with at least two tasks; slot busy share is task run
    * time over (wall × slots). */
  def callMetrics(jobs: Int, stages: Seq[StageRow], wallS: Double,
      cpus: Int, out: String): Map[String, Double] = {
    val multi = stages.filter(_.taskMs.length >= 2)
    Map(
      "call.jobs" -> jobs.toDouble,
      "call.stages" -> stages.size.toDouble,
      "call.tasks" -> stages.map(_.taskMs.length).sum.toDouble,
      "call.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble,
      "call.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1048576.0,
      "call.max_stage_skew" -> (if (multi.isEmpty) 1.0 else multi.map(_.skew).max),
      "call.slot_busy_share" -> stages.map(_.runMs).sum / 1000.0 / (wallS * cpus),
      "call.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "call.spill_mb" -> stages.map(_.spillBytes).sum / 1048576.0,
      "call.peak_exec_mem_mb" ->
        (if (stages.isEmpty) 0.0 else stages.map(_.peakExecBytes).max / 1048576.0),
      "call.output_mb" -> stages.map(_.outBytes).sum / 1048576.0,
      "call.output_files" -> countFiles(new File(out)).toDouble)
  }

  /** Writes the workload's layer numbers and the stage table of its last
    * traced call. */
  private def writeDetails(o: Opts, d: Map[String, Double], stages: Seq[StageRow],
      digest: String): Unit = {
    val dir = new File(o.work).getParentFile
    val layers = d.toSeq.sortBy(_._1).map { case (k, v) => s"    ${Json.str(k)}: ${Json.num(v)}" }
      .mkString("{\n", ",\n", "\n  }")
    val rows = stages.map { s =>
      s"""    {"stage":${s.stageId},"job":${s.jobId},"name":${Json.str(s.name)},""" +
        s""""wall_s":${s.wallMs / 1000.0},"run_s":${s.runMs / 1000.0},""" +
        s""""tasks":${s.taskMs.length},"skew":${Json.num(s.skew)},""" +
        s""""shuffle_write_mb":${Json.num(s.shuffleWriteBytes / 1048576.0)}}"""
    }.mkString("[\n", ",\n", "\n  ]")
    Files.writeString(Paths.get(dir.getPath, "layers.json"),
      s"""{\n  "workload": ${Json.str(o.workload)},\n  "seed": ${o.seed},\n""" +
        s"""  "input_digest": ${Json.str(digest)},\n""" +
        s"""  "layers": $layers,\n  "last_traced_call_stages": $rows\n}\n""")
  }

  def countFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
    else Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Direct single-thread kernel calls on a seeded sample of the synthetic
  * crawl, by payload kind, after one untimed pass for JIT warm-up. */
object KernelProbe {
  def kindOf(idx: Long, bytes: Array[Byte]): String = (idx % 10) match {
    case 6 => "html_linkfarm"
    case 7 => if (PdfParse.isRealPdf(bytes)) "pdf_real" else "pdf_struct"
    case 8 => "pdf_scanned"
    case 9 => "edge"
    case _ => "html_article"
  }

  def run(seed: Long, n: Int): Map[String, Double] = {
    val rows = (0 until n).map(i => Synth.row(seed, i.toLong))
    val ex = new Extractor(ProbeConfig())
    rows.foreach(r => ex.extract(r.html))
    val perKind = mutable.HashMap[String, (Long, Int)]()
    var busy = 0L
    var errors = 0
    val texts = mutable.ArrayBuffer[String]()
    rows.zipWithIndex.foreach { case (r, i) =>
      val t0 = System.nanoTime()
      val d = ex.extract(r.html)
      val dt = System.nanoTime() - t0
      busy += dt
      if (d.docKind == "error") errors += 1
      if (d.extractedText.nonEmpty) texts += d.extractedText
      val k = kindOf(i.toLong, r.html)
      val (t, c) = perKind.getOrElse(k, (0L, 0))
      perKind(k) = (t + dt, c + 1)
    }
    val html = rows.zipWithIndex.collect {
      case (r, i) if kindOf(i.toLong, r.html) == "html_article" =>
        new String(r.html, StandardCharsets.UTF_8)
    }
    val pdfs = rows.zipWithIndex.collect {
      case (r, i) if kindOf(i.toLong, r.html) == "pdf_real" => r.html
    }
    def perCallUs[A](xs: Seq[A])(f: A => Any): Double = {
      xs.foreach(f)
      val t0 = System.nanoTime()
      xs.foreach(f)
      if (xs.isEmpty) 0.0 else (System.nanoTime() - t0) / 1e3 / xs.size
    }
    val kinds = Seq("html_article", "html_linkfarm", "pdf_real", "pdf_struct",
      "pdf_scanned", "edge").map { k =>
      val (t, c) = perKind.getOrElse(k, (0L, 0))
      s"kernel.${k}_us" -> (if (c == 0) 0.0 else t / 1e3 / c)
    }
    kinds.toMap ++ Map(
      "kernel.html_parse_us" -> perCallUs(html)(Html.extract),
      "kernel.pdf_parse_us" -> perCallUs(pdfs)(b => PdfParse.parse(b)),
      "kernel.text_quality_us" -> perCallUs(texts.toSeq)(TextQuality.analyzeForPipeline),
      "kernel.busy_s" -> busy / 1e9,
      "kernel.error_share" -> errors.toDouble / n)
  }
}
