package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.streaming.StreamingExtract

/** spark-submit entry point for the INCREMENTAL extraction run — the
  * streaming-shaped analog of ExtractJob (reference queue worker, S7):
  *
  *   spark-submit --class graft.jobs.StreamJob app.jar \
  *     --input <pages parquet dir> --output <dir> --checkpoint <dir> \
  *     [--watermark "10 minutes"]
  *
  * `Trigger.AvailableNow` drains the current backlog and stops, so a
  * scheduled rerun is an incremental batch: the checkpoint remembers
  * which input files were processed (exactly-once file-source progress
  * — the streaming counterpart of ExtractJob's lineage-table resume),
  * and `dropDuplicates(url, warc_ts)` under the watermark suppresses
  * REDELIVERED records (same url and capture timestamp) within the
  * lateness window — a re-crawl carries a new warc_ts and flows
  * through, like any fresh capture. `--dedup first-seen` switches to
  * the stateful unbounded filter (flatMapGroupsWithState): exactly
  * once per url forever, re-crawls suppressed too, state carried in
  * the checkpoint across incremental runs. New files landing
  * in --input between runs are picked up next run; nothing is
  * reprocessed.
  */
object StreamJob {

  private val KnownOpts =
    Set("input", "output", "checkpoint", "watermark", "dedup")

  private val Usage =
    "usage: StreamJob --input <pages parquet dir> --output <dir> " +
      "--checkpoint <dir> [--watermark '10 minutes'] " +
      "[--dedup watermark|first-seen]"

  private def fail(msg: String): Nothing = {
    System.err.println(s"$msg; $Usage")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = JobArgs.parse(args, KnownOpts).fold(fail, identity)
    val input = opts.get("input")
    val output = opts.get("output")
    val checkpoint = opts.get("checkpoint")
    if (input.isEmpty || output.isEmpty || checkpoint.isEmpty)
      fail("--input, --output and --checkpoint are required")
    val watermark = opts.getOrElse("watermark", "10 minutes")
    // --dedup first-seen: unbounded exactly-once per url via the
    // stateful filter (suppresses re-crawls too, state lives in the
    // checkpoint); default watermark mode suppresses in-window
    // redeliveries only. Strict like every other flag.
    val dedup = opts.getOrElse("dedup", "watermark") match {
      case m @ ("watermark" | "first-seen") => m
      case other => fail(s"--dedup must be watermark or first-seen (got '$other')")
    }

    val builder = SparkSession.builder()
      .appName("graft-stream-extract")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = JobArgs.session(builder)
    spark.sparkContext.setLogLevel("WARN")

    val pagesIn = StreamingExtract.readPages(spark, input.get)
    val results =
      if (dedup == "first-seen") StreamingExtract.extractFirstSeen(pagesIn)
      else StreamingExtract.extract(pagesIn, watermark)
    val query = StreamingExtract
      .writer(results, output.get, checkpoint.get)
      .start()
    query.awaitTermination()

    // zero-file first run: AvailableNow terminates without committing a
    // batch, leaving the sink dir absent or holding only
    // _spark_metadata — a valid drain of an empty backlog, not an
    // error. Only that case is special-cased (no data files); any other
    // read failure (unreadable dir, schema problems) must surface, not
    // masquerade as an empty drain.
    val outPath = new org.apache.hadoop.fs.Path(output.get)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = outFs.exists(outPath) &&
      outFs.listStatus(outPath).exists { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val docsOut = if (!hasData) 0L else spark.read.parquet(output.get).count()
    // one summary line for the orchestrator (cumulative across runs —
    // the sink is append-mode)
    println(s"""{"docs_out_total":$docsOut,"output":"${output.get}"}""")
    spark.stop()
  }
}
