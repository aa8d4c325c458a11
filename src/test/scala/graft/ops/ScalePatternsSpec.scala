package graft.ops

import java.nio.file.Files

import graft.SessionConf.withConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins (shown on Spark's own `bucketBy` tables) and
  * salted skew aggregation: value correctness plus the plan shapes that
  * make them scale. */
class ScalePatternsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-scale-patterns")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_wh_").toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Drop the table AND its location: when suites share one JVM session the
    * per-suite warehouse.dir is ignored (static conf), so a stale location
    * from an earlier run would collide with CREATE TABLE. */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  /** The bucketed-join pair checks sort-merge plans: broadcast off. */
  private val noBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("bucketed join: co-located tables join without any Exchange") {
    withConf(spark, noBroadcast) {
      resetTable("bkt_left"); resetTable("bkt_right")
      val left = spark.range(10000).select(col("id").as("k"),
        (col("id") % 97).as("v1"))
      val right = spark.range(10000).select(col("id").as("k"),
        (col("id") % 31).as("v2"))
      // the bucketing is the shuffle, paid once at write time
      Seq(left -> "bkt_left", right -> "bkt_right").foreach { case (df, table) =>
        df.write.options(graft.pipeline.LocalFs.writeOptions).mode("overwrite")
          .bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(table)
      }

      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed join must not shuffle:\n" + plan.take(1200))
      assert(joined.count() == 10000)
      // correctness spot check
      val r = joined.filter(col("k") === 4321).collect()(0)
      assert(r.getAs[Long]("v1") == 4321 % 97 && r.getAs[Long]("v2") == 4321 % 31)
    }
  }

  test("non-bucketed equivalent DOES shuffle (the pattern's counterfactual)") {
    withConf(spark, noBroadcast) {
      val left = spark.range(10000).select(col("id").as("k"), (col("id") % 97).as("v1"))
      val right = spark.range(10000).select(col("id").as("k"), (col("id") % 31).as("v2"))
      val plan = left.join(right, Seq("k")).queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"), plan.take(800))
    }
  }

  test("salted aggregation: same results as plain groupBy on skewed keys") {
    // 80% of rows on one hot key
    val df = spark.range(20000).select(
      when(col("id") % 5 =!= 0, "hot-host").otherwise(concat(lit("h"),
        (col("id") % 50).cast("string"))).as("host"),
      (col("id") % 7).cast("double").as("bytes"))

    val plain = df.groupBy("host")
      .agg(count(lit(1)).as("cnt"), sum("bytes").as("sum_bytes"))
    val salted = ScalePatterns.saltedCounts(df, "host", saltFactor = 8,
      sumCols = Seq("bytes"))

    val p = plain.orderBy("host").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
    val s = salted.orderBy("host").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(p.toSeq == s.toSeq)
    assert(p.find(_._1 == "hot-host").exists(_._2 == 16000L))

    // the salted phase-1 spreads the hot key across up to 8 partial groups
    val partialGroups = df
      .withColumn("_salt", pmod(
        xxhash64(df.columns.map(col) :+ spark_partition_id().cast("long"): _*),
        lit(8)))
      .filter(col("host") === "hot-host")
      .select("_salt").distinct().count()
    assert(partialGroups > 1)
  }

  test("salted aggregation: duplicate-heavy hot key still spreads " +
    "(partition-id term in the salt)") {
    // every row of the hot key is IDENTICAL — a pure content-hash salt
    // would collapse them all into one phase-1 partial group
    val df = spark.range(20000).repartition(8)
      .select(lit("hot-host").as("host"), lit(1.0).as("bytes"))
    val partialGroups = df
      .withColumn("_salt", pmod(
        xxhash64(df.columns.map(col) :+ spark_partition_id().cast("long"): _*),
        lit(8)))
      .select("_salt").distinct().count()
    assert(partialGroups > 1,
      "identical duplicate rows must land in >1 salt group")
    // and the final aggregate is still exact
    val out = ScalePatterns.saltedCounts(df, "host", saltFactor = 8,
      sumCols = Seq("bytes")).collect()
    assert(out.length == 1 && out(0).getLong(1) == 20000L &&
      out(0).getDouble(2) == 20000.0)
  }

  test("salted aggregation: phase-1 partials are deterministic across runs " +
    "(content-hash × partition-id salt ⇒ replayable under task retry)") {
    val df = spark.range(5000).select(
      when(col("id") % 3 =!= 0, "hot").otherwise("cold").as("host"),
      (col("id") % 11).cast("double").as("bytes"))
    def partials = df
      .withColumn("_salt", pmod(
        xxhash64(df.columns.map(col) :+ spark_partition_id().cast("long"): _*),
        lit(8)))
      .groupBy("host", "_salt")
      .agg(count(lit(1)).as("cnt"), sum("bytes").as("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val first = partials
    val second = partials
    assert(first == second)
    assert(first.size > 2) // salt actually spreads the keys
  }
}
