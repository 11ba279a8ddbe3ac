package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.pipeline.ExtractPipeline
import graft.sources.{Jsonl, Sources, Warc}

/** spark-submit entry point for the production extraction run
  * (SURVEY §7.1 jobs/):
  *
  *   spark-submit --class graft.jobs.ExtractJob app.jar \
  *     --input <pages parquet | warc:<glob> | synth:N> --output <dir> \
  *     --lineage <dir> --run-id <id> [--buckets B]
  *
  * Resumable: rerunning with the same run-id skips committed buckets
  * (per-partition lineage anti-filter + idempotent dynamic overwrite).
  * On a cluster, buckets should be ≈ 2-4× total executor cores so the
  * salted url-hash repartition balances hot hosts (north_rule).
  */
object ExtractJob {

  private val KnownOpts =
    Set("input", "output", "lineage", "run-id", "buckets", "narrow",
      "warc-split-mb", "wet", "cdx", "jsonl")

  private val Usage =
    "usage: ExtractJob --input <parquet|warc:glob|synth:N> --output <dir> " +
      "--lineage <dir> --run-id <id> [--buckets B] [--narrow true] " +
      "[--warc-split-mb M] [--wet <dir>] [--cdx true] [--jsonl <dir>]"

  private def fail(msg: String): Nothing = {
    System.err.println(s"$msg; $Usage")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = JobArgs.parse(args, KnownOpts).fold(fail, identity)
    def flag(name: String): Boolean =
      JobArgs.flag(opts, name).fold(fail, identity)

    val input = opts.getOrElse("input", "synth:100000")
    val output = opts.getOrElse("output", "/tmp/graft-out")
    val lineage = opts.getOrElse("lineage", "/tmp/graft-lineage")
    val runId = opts.getOrElse("run-id", "run-default")

    val builder = SparkSession.builder()
      .appName(s"graft-extract-$runId")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = JobArgs.session(builder)
    spark.sparkContext.setLogLevel("WARN")

    val defaultBuckets =
      math.max(spark.sparkContext.defaultParallelism * 2, 8)
    val buckets = opts.get("buckets") match {
      case None => defaultBuckets
      case Some(v) =>
        scala.util.Try(v.toInt).filter(_ > 0)
          .getOrElse(fail(s"--buckets must be a positive int (got '$v')"))
    }

    val pages =
      if (input.startsWith("synth:")) {
        val n = input.stripPrefix("synth:").toLong
        ExtractPipeline.pages(spark, n, buckets)
      } else if (input.startsWith("warc:")) {
        // raw crawl ingest: parse WARC files (plain, .warc.gz, .warc.zst)
        // at the cluster edge, one task per file — the Common-Crawl
        // layout. --warc-split-mb M slices files bigger than M MB into
        // sub-file work units (exact gzip-member attribution) for rogue
        // giants.
        val unitBytes = opts.get("warc-split-mb").fold(Warc.WholeFiles) { v =>
          val mb = scala.util.Try(v.toLong).filter(_ > 0).getOrElse(
            fail(s"--warc-split-mb must be a positive int (got '$v')"))
          mb << 20
        }
        Warc.warcSplitFiles(spark,
          Warc.planSplits(spark, input.stripPrefix("warc:"), unitBytes))
      } else Sources.pagesTable(spark, input)

    // --narrow true: write only (url, text, status, bytes_in, bucket) —
    // half the output bytes for consumers that don't need the
    // fields/cards/analytics structs.
    val narrow = flag("narrow")
    // --wet <dir>: additionally publish the run's text as Common-Crawl
    // WET-style conversion records (the format downstream CC-WET
    // consumers already read). Needs warc_ts → wide output only.
    val wetDir = opts.get("wet")
    if (wetDir.isDefined && narrow)
      fail("--wet requires the wide output (drop --narrow: " +
        "WET records carry warc_ts, which narrow mode prunes)")
    // --cdx true: also write one CDX sidecar per WET part file (the
    // Common-Crawl index layout — urlkey, ts14, exact byte extents for
    // wayback-style random access)
    val cdx = flag("cdx")
    if (cdx && wetDir.isEmpty)
      fail("--cdx true requires --wet <dir> (the sidecars " +
        "index the WET output)")
    // --jsonl <dir>: additionally publish the run's text as gzipped
    // JSONL (one JSON object per line — the LLM-corpus interchange
    // format). Works in both wide and narrow modes (url/text/status
    // survive narrow pruning).
    val jsonlDir = opts.get("jsonl")
    val summary =
      ExtractPipeline.run(spark, pages, output, lineage, runId, buckets,
        ExtractPipeline.DefaultSalt, narrowOutput = narrow)
    val wetFiles = wetDir.map { d =>
      Warc.writeWet(spark.read.parquet(output)
        .select(col("url"), col("warc_ts"), col("text")), d, cdx = cdx).length
    }
    val jsonlFiles = jsonlDir.map { d =>
      Jsonl.write(spark.read.parquet(output)
        .select(col("url"), col("text"), col("status")), d).length
    }
    // one summary line for the orchestrator
    println(
      s"""{"run_id":"${summary.runId}","buckets":${summary.bucketsTotal},""" +
        s""""skipped":${summary.bucketsSkipped},"processed":${summary.bucketsProcessed},""" +
        s""""docs_in":${summary.docsIn},"docs_out":${summary.docsOut}""" +
        wetFiles.map(n => s""","wet_files":$n""").getOrElse("") +
        jsonlFiles.map(n => s""","jsonl_files":$n""").getOrElse("") + "}")
    spark.stop()
  }
}
