package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The oracle's DuckDB building blocks run against DuckDB itself, on
  * strings the sf corpora never contain: control characters, `\n` among
  * them, at every position of the xxh64 stripe and tail walks. Spark's
  * `xxhash64` is the reference; DuckDB runs in `python3` (skipped when
  * the duckdb module is absent). */
class OracleProbeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-oracle-probe-spec")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def duckdbAvailable: Boolean =
    try Seq("python3", "-c", "import duckdb").! (ProcessLogger(_ => ())) == 0
    catch { case _: Exception => false }

  test("every SparkEntry query has oracle SQL and every oracle SQL a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("xxh64StrCtes ≡ Spark xxhash64 and codepoints ≡ length on strings " +
    "with \\n, \\r and \\t at every stripe and tail position") {
    assume(duckdbAvailable, "python3 duckdb module not available")
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog 0123456789 " * 2
    // `\n` at offset i of a string of length i + 1 + i % 13: every stripe
    // lane and every 8/4/1-byte tail sees one
    val strs = Seq("", "\n", "a\nb", "\r\n\t", "\n" * 40) ++
      (0 until 70).map(i => base.take(i) + "\n" + base.drop(i).take(i % 13))
    val dir = Files.createTempDirectory("graft_oracle_probe_").toString
    strs.zipWithIndex.toDF("s", "id")
      .select($"id", $"s", xxhash64($"s").as("spark_h"), length($"s").as("n"))
      .coalesce(1).write.parquet(s"$dir/in")
    val sql =
      s"""WITH src AS (SELECT id, s FROM read_parquet('$dir/in/*.parquet')),
         |${SparkEntry.xxh64StrCtes("src", "id", "s", "xh")}
         |SELECT xh.id, xh.h::VARCHAR, len(${SparkEntry.codepoints("src.s")})
         |FROM xh JOIN src USING (id) ORDER BY xh.id""".stripMargin
    Files.writeString(Paths.get(s"$dir/probe.sql"), sql)
    val out = Seq("python3", "-c",
      "import duckdb, sys\n" +
        "for r in duckdb.sql(open(sys.argv[1]).read()).fetchall():\n" +
        "    print(*r, sep=',')",
      s"$dir/probe.sql").!!
    val duck = out.trim.split("\n").map(_.split(",")).map {
      case Array(id, h, n) => id.toInt -> ((h, n.toInt))
    }.toMap
    val sparkRows = spark.read.parquet(s"$dir/in").collect()
    assert(sparkRows.length == strs.length && duck.size == strs.length)
    sparkRows.foreach { r =>
      val id = r.getAs[Int]("id")
      val (h, n) = duck(id)
      assert(h == java.lang.Long.toUnsignedString(r.getAs[Long]("spark_h")),
        s"xxh64 mismatch on ${strs(id).replace("\n", "\\n")}")
      assert(n == r.getAs[Int]("n"),
        s"codepoint count mismatch on ${strs(id).replace("\n", "\\n")}")
    }
  }
}
