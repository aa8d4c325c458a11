package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One timed interval: spans of one run share `run`, and `parent` names
  * the span that caused this one (0 for the root). */
final case class Span(id: Long, parent: Long, name: String, startMs: Long,
    endMs: Long, attrs: Map[String, Double])

/** In-memory span recorder, written out once when the run ends. */
final class Spans(val run: String) {
  private val ids = new AtomicLong(0L)
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil

  def current: Long = stack.headOption.getOrElse(0L)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { done += s }

  def span[A](name: String)(f: => A): A = {
    val id = nextId()
    val parent = current
    val t0 = System.currentTimeMillis()
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      add(Span(id, parent, name, t0, System.currentTimeMillis(), Map.empty))
    }
  }

  def toJson: String = synchronized {
    done.sortBy(s => (s.startMs, s.id)).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
      s"""{"run":${Json.str(run)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"attrs":$attrs}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Task-level totals of one stage attempt, plus its task durations. */
final case class StageRow(
    stageId: Int, jobId: Int, name: String, submitMs: Long, completeMs: Long,
    taskMs: Array[Long], runMs: Long, gcMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, peakExecBytes: Long, outBytes: Long, failedTasks: Int) {
  def wallMs: Long = math.max(0L, completeMs - submitMs)
  /** max / median task duration; 1.0 for single-task stages. */
  def skew: Double =
    if (taskMs.length < 2) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2)).toDouble
    }
}

/** Job, stage and task metrics of the driver's listener bus. State is
  * cleared by [[reset]] at the start of every measured call and read only
  * after [[drain]], so nothing is carried between calls and no late event
  * is lost. */
final class StageCollector(sc: SparkContext) extends SparkListener {
  private final class Acc {
    val taskMs = mutable.ArrayBuffer[Long]()
    var runMs, gcMs, shuffleWrite, spill, peak, out = 0L
    var failed = 0
  }
  private val accs = mutable.HashMap[(Int, Int), Acc]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val jobs = mutable.HashSet[Int]()
  private val stages = mutable.ArrayBuffer[StageRow]()

  def reset(): Unit = { drain(); synchronized {
    accs.clear(); stageJob.clear(); jobs.clear(); stages.clear()
  } }

  def drain(): Unit = BenchBus.drain(sc)

  /** Drains the bus, then returns the call's job count and stages. */
  def snapshot(): (Int, Seq[StageRow]) = {
    drain()
    synchronized { (jobs.size, stages.toSeq.sortBy(_.stageId)) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs += e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = accs.getOrElseUpdate((e.stageId, e.stageAttemptId), new Acc)
    if (!e.taskInfo.successful) a.failed += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peak = math.max(a.peak, m.peakExecutionMemory)
      a.out += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = accs.remove((i.stageId, i.attemptNumber())).getOrElse(new Acc)
    stages += StageRow(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      a.taskMs.toArray, a.runMs, a.gcMs, a.shuffleWrite, a.spill, a.peak, a.out,
      a.failed)
  }
}

/** Highest heap occupancy reported right after any GC while armed. */
final class HeapAfterGc extends NotificationListener {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def arm(): Unit = synchronized { peak = 0L; armed = true }

  /** Disarms and returns the peak in MB; the heap in use now if no GC ran. */
  def disarmMb(): Double = {
    armed = false
    val p = synchronized(peak)
    val bytes = if (p > 0L) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / 1048576.0
  }
}

/** Pauses of a 1 ms sleep loop: a stalled host shows as long gaps. */
object Pauses {
  /** Nearest-rank p99 of tick gaps over an idle window, in ms. */
  def idleP99Ms(millis: Long): Double = {
    val gaps = mutable.ArrayBuffer[Long]()
    val end = System.nanoTime() + millis * 1000000L
    var last = System.nanoTime()
    while (last < end) {
      Thread.sleep(1)
      val now = System.nanoTime()
      gaps += now - last
      last = now
    }
    val s = gaps.sorted
    s(math.max(0, math.ceil(0.99 * s.length).toInt - 1)) / 1e6
  }

  /** Background ticker; `halt()` stops it and returns the longest gap, in ms. */
  final class Ticker extends Thread {
    @volatile private var running = true
    @volatile private var maxGap = 0L
    setDaemon(true)
    override def run(): Unit = {
      var last = System.nanoTime()
      while (running) {
        Thread.sleep(1)
        val now = System.nanoTime()
        maxGap = math.max(maxGap, now - last)
        last = now
      }
    }
    def halt(): Double = { running = false; join(2000); maxGap / 1e6 }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
