package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSONL (newline-delimited JSON) sink — the interchange format LLM
  * training stacks actually exchange corpora in (one JSON object per
  * line, gzip per file). `write` emits one `part-NNNNN.jsonl.gz` per
  * partition with the speculation-safe commit of [[PartFiles]] (shared
  * with [[Warc.writeWet]]): every task attempt streams to an
  * attempt-unique temp under `_jsonl_tmp/` and commits by atomic
  * rename, so a speculative duplicate can never interleave into a final
  * file and a failed job leaves no partial output. Rows are serialized with
  * Spark's codegen'd `to_json` (JSON string escaping keeps every record
  * on one line regardless of newlines in the data); the files read
  * straight back with `spark.read.schema(...).json(dir)` — or any
  * JSONL consumer.
  */
object Jsonl {

  private[sources] val TmpDir = "_jsonl_tmp"

  /** Write every row of `df` as one JSON line, one `part-NNNNN.jsonl.gz`
    * per non-empty partition. Returns (file, rows) per written file. */
  def write(df: DataFrame, dir: String): Seq[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    PartFiles.write(
      df.select(to_json(struct(df.columns.map(col): _*)).as("line")).as[String],
      dir, TmpDir)(writePartition(_, dir, _, _, _))
  }

  /** One attempt's partition write: stream lines to an attempt-unique
    * gzip temp and commit it ([[PartFiles.commit]]). */
  private[sources] def writePartition(it: Iterator[String], dir: String,
      pid: Int, attemptUid: String,
      conf: org.apache.hadoop.conf.Configuration): (String, Long) =
    PartFiles.commit(new Path(f"$dir/part-$pid%05d.jsonl.gz"),
      new Path(f"$dir/$TmpDir/part-$pid%05d-$attemptUid.jsonl.gz"), Nil,
      conf)(new java.util.zip.GZIPOutputStream(_)) { out =>
      var n = 0L
      it.foreach { line =>
        out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write('\n')
        n += 1
      }
      n
    }
}
