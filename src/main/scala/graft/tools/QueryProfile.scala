package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.pipeline.LocalFs
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{count, lit}

/** Query profiler for SparkEntry queries. Times each named query `reps`
  * times, round-robin (so a host-capacity drift hits every query equally
  * rather than whichever ran last — the BENCH.md §0 discipline), after one
  * untimed pass over the same queries (so rep 1 is not a cold JVM), through
  * a `noop` write of every row: `.count()` would let column pruning pass
  * through a removed checkpoint and under-report what the output costs. `rows=` is an `Observation` count on the written
  * frame. After every query it prints one line per Spark job in
  * submission order: wall clock, stages, tasks, summed executor task time
  * and the graft call sites of each stage — where a multi-job query
  * (checkpoint materializations, iterative rounds, convergence checks)
  * spends its time. With `planDir`, each query's formatted physical plan
  * is first written to `<planDir>/<query>.txt`. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=<sf-dir> sbt -batch \
  *     "runMain graft.tools.QueryProfile q45_dedup_components,q80_leakage_split [reps] [planDir]"
  *
  * SPARK_GRAFT_CPUS sets local[N] (default: available processors).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <q1,q2,...> [reps] [planDir]")
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val planDir = args.lift(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a testdata scale-factor directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-query-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    planDir.foreach { d =>
      val dir = Paths.get(d)
      Files.createDirectories(dir)
      names.foreach { n =>
        val plan = SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.write(dir.resolve(s"$n.txt"), plan.getBytes("UTF-8"))
        println(s"[qprofile] wrote ${dir.resolve(s"$n.txt")} (${plan.length} chars)")
      }
    }

    val jobStart = mutable.Map[Int, Long]()
    val jobWall = mutable.LinkedHashMap[Int, Double]()
    val jobStages = mutable.Map[Int, Int]()
    val jobTaskSecs = mutable.Map[Int, Double]()
    val jobTasks = mutable.Map[Int, Int]()
    val jobSite = mutable.Map[Int, String]()
    val stageToJob = mutable.Map[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds.length
        jobSite(e.jobId) = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobWall(e.jobId) = (e.time - jobStart.getOrElse(e.jobId, e.time)) / 1e3
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val j = stageToJob.getOrElse(e.stageInfo.stageId, -1)
        jobTaskSecs(j) = jobTaskSecs.getOrElse(j, 0.0) +
          e.stageInfo.taskMetrics.executorRunTime / 1e3
        jobTasks(j) = jobTasks.getOrElse(j, 0) + e.stageInfo.numTasks
        val graftFrames = e.stageInfo.details.split("\n")
          .filter(l => l.contains("graft.") && !l.contains("QueryProfile"))
          .take(2).map(_.trim.replaceAll("^at ", "")).mkString(" <- ")
        jobSite(j) = jobSite.getOrElse(j, "") + " | " +
          f"[${e.stageInfo.numTasks}t ${e.stageInfo.taskMetrics.executorRunTime / 1e3}%.2fs ${graftFrames.take(120)}]"
      }
    })

    def noopWrite(n: String): Any = {
      val obs = Observation()
      SparkEntry.queries(n)(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
        .write.options(LocalFs.writeOptions).format("noop").mode("overwrite").save()
      obs.get("rows")
    }
    names.foreach(noopWrite) // warm-up, untimed

    for (r <- 1 to reps; n <- names) {
      ListenerBusDrain(spark.sparkContext)
      Seq(jobStart, jobWall, jobStages, jobTaskSecs, jobTasks, jobSite, stageToJob)
        .foreach(_.clear())
      val t0 = System.nanoTime()
      val cnt = noopWrite(n)
      val secs = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(spark.sparkContext)
      println(f"[qprofile] rep=$r $n%-28s $secs%8.3f s rows=$cnt")
      jobWall.foreach { case (j, w) =>
        println(f"[qprofile]   job=$j%-4d wall=$w%7.3f s stages=${jobStages.getOrElse(j, 0)}%-3d tasks=${jobTasks.getOrElse(j, 0)}%-4d taskSecs=${jobTaskSecs.getOrElse(j, 0.0)}%8.3f  ${jobSite.getOrElse(j, "?")}")
      }
    }
    spark.stop()
  }
}
