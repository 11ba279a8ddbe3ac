package graft.jobs

import org.apache.spark.sql.SparkSession

/** Crawl-load triage CLI: per-file WARC ingest health
  * (`Warc.warcFileSummaries`) as one JSON line per file plus a totals
  * line — the operational answer to "which of my 10^5 crawl files did
  * bit rot touch, and how much survived?":
  *
  *   spark-submit --class graft.jobs.WarcHealth app.jar \
  *     --input <warc glob> [--only-damaged true]
  */
object WarcHealth {

  private val KnownOpts = Set("input", "only-damaged")

  private val Usage =
    "usage: WarcHealth --input <warc glob> [--only-damaged true]"

  private def fail(msg: String): Nothing = {
    System.err.println(s"$msg; $Usage")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = JobArgs.parse(args, KnownOpts).fold(fail, identity)
    val input = opts.getOrElse("input", fail("--input is required"))
    val onlyDamaged =
      JobArgs.flag(opts, "only-damaged").fold(fail, identity)

    val builder = SparkSession.builder()
      .appName("graft-warc-health")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = JobArgs.session(builder)
    spark.sparkContext.setLogLevel("WARN")

    val rows = graft.sources.Warc.warcFileSummaries(spark, input).collect()
    def q(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    rows.sortBy(_.getString(0)).foreach { r =>
      val corrupt = r.getLong(5)
      if (!onlyDamaged || corrupt > 0)
        println(s"""{"file":${q(r.getString(0))},"records":${r.getLong(1)},""" +
          s""""responses":${r.getLong(2)},"truncated":${r.getLong(3)},""" +
          s""""payload_bytes":${r.getLong(4)},"corrupt_members":$corrupt}""")
    }
    println(s"""{"files":${rows.length},""" +
      s""""damaged_files":${rows.count(_.getLong(5) > 0)},""" +
      s""""records":${rows.map(_.getLong(1)).sum},""" +
      s""""responses":${rows.map(_.getLong(2)).sum},""" +
      s""""payload_bytes":${rows.map(_.getLong(4)).sum}}""")
    spark.stop()
  }
}
