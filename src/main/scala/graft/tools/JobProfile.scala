package graft.tools

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-job breakdown of one SparkEntry query: wall clock, stage count and
  * summed executor task time per job, in submission order — shows where a
  * multi-job query (checkpoint materializations, iterative rounds,
  * convergence checks) actually spends its time. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch \
  *     "runMain graft.tools.JobProfile q80_leakage_split [reps]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "q80_leakage_split"
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-job-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

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
          .filter(l => l.contains("graft.") && !l.contains("JobProfile"))
          .take(2).map(_.trim.replaceAll("^at ", "")).mkString(" <- ")
        jobSite(j) = jobSite.getOrElse(j, "") + " | " +
          f"[${e.stageInfo.numTasks}t ${e.stageInfo.taskMetrics.executorRunTime / 1e3}%.2fs ${graftFrames.take(120)}]"
      }
    })

    SparkEntry.queries("q35_lineitem_pricing")(spark, sfDir).count() // warmup

    for (r <- 1 to reps) {
      Seq(jobStart, jobWall, jobStages, jobTaskSecs, jobTasks, jobSite, stageToJob)
        .foreach(_.clear())
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(name)(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(spark.sparkContext)
      println(f"[jobprofile] rep=$r $name $secs%.3f s rows=$cnt")
      jobWall.foreach { case (j, w) =>
        println(f"[jobprofile]   job=$j%-4d wall=$w%7.3f s stages=${jobStages.getOrElse(j, 0)}%-3d tasks=${jobTasks.getOrElse(j, 0)}%-4d taskSecs=${jobTaskSecs.getOrElse(j, 0.0)}%8.3f  ${jobSite.getOrElse(j, "?")}")
      }
    }
    spark.stop()
  }
}
