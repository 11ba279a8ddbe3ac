package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The native one-pass GraftQualityE6 expression must be bit-identical
  * to the two-regex Column composition it replaced (kept as
  * graft.ops.KernelReferences.qualityScoreE6), including on multi-byte,
  * control-char, empty and long inputs. */
class GraftQualityE6Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-qualitye6-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("matches the regex-composition reference on adversarial texts") {
    val fixed = Seq(
      "", " ", "\t\n\r", "plain ascii words 123",
      "café — naïve façade", "驚くばかり", "mixed 驚 ascii 123 !?",
      "\u0000\u0001\u007f high\u00a0bytes", "~ tilde ! bang",
      "0123456789" * 100, "x" * 5000,
      "😀 emoji pair", "AZaz09 ;:",
      new String(Array[Char](0x1f, 0x20, 0x7e, 0x7f)))
    val synthed = (0L until 400L).map(graft.SparkEntry.sanitizeCorpusText)
    val df = (fixed ++ synthed).toDF("text")
    val rows = df.select(
        GraftFunctions.graft_quality_e6(col("text")).as("native"),
        graft.ops.KernelReferences.qualityScoreE6(col("text")).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    assert(rows.length == fixed.length + 400)
  }

  test("null-safe and SQL-registered") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_quality_e6(CAST(NULL AS STRING)) AS n, " +
        "graft_quality_e6('hello world') AS h").collect()(0)
    assert(r.isNullAt(0))
    assert(r.getLong(1) > 0L)
  }
}
