package graft.sources

import java.io.OutputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders}

/** The commit discipline of every part-file sink ([[Warc.writeWet]],
  * [[Jsonl.write]], the Bloom index files of
  * [[graft.ops.IncrementalDedup.writeBloomIndex]]). Each task attempt streams its partition to an
  * attempt-unique temp under the sink's scratch dir, then commits by
  * rename. Rename is atomic per attempt (HDFS: first committer wins and
  * the loser's rename returns false; POSIX local fs: whole-file atomic
  * replace), so a final part file is always exactly one attempt's
  * complete output: a speculative duplicate can never interleave into
  * it, and a failed or losing attempt deletes its temps and leaves no
  * partial final file. */
private[graft] object PartFiles {

  /** Runs `part(rows, partitionId, attemptUid, conf)` once per non-empty
    * partition of `ds` and returns its (file, records) results sorted by
    * file. Then sweeps `dir/scratch`: loser temps are deleted at commit
    * time, this clears the temps of attempts killed mid-write. A
    * straggling speculative attempt writing after the sweep leaves only
    * scratch, never a final file. */
  def write[T](ds: Dataset[T], dir: String, scratch: String)(
      part: (Iterator[T], Int, String, Configuration) => (String, Long))
      : Seq[(String, Long)] = {
    val hadoop = ds.sparkSession.sparkContext.hadoopConfiguration
    val conf = new SerializableHadoopConf(hadoop)
    val written = ds.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val ctx = org.apache.spark.TaskContext.get()
        // partitionId is safe HERE because this mapPartitions is
        // consumed directly by the collect() below (one stage, ids ==
        // input partitions); it must never be used to look up
        // bucket-keyed state in a frame a caller can compose (union
        // concatenation shifts the ids — see IncrementalDedup)
        val pid = if (ctx != null) ctx.partitionId() else 0
        // attempt-unique scratch name: a speculative duplicate and
        // the original can NEVER share a write target
        val attemptUid =
          if (ctx != null) s"a${ctx.taskAttemptId()}"
          else java.util.UUID.randomUUID().toString
        Iterator.single(part(it, pid, attemptUid, conf.conf))
      }
    }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
    new Path(dir).getFileSystem(hadoop).delete(new Path(dir, scratch), true)
    written
  }

  /** Commits one attempt's part file `fin`. `write` streams the records
    * into the temp `tmp`, through the wrapper `open` (closed after
    * `write`), and returns their count. `sidecars` are (temp, final)
    * pairs `write` fills alongside: they commit after the data when
    * this attempt wins, and are deleted with `tmp` when it fails or
    * loses. A sidecar is advisory (readers must work without it) and
    * every attempt writes byte-identical data and sidecars, so the worst
    * interleaving (one attempt's data, another's sidecar, or a crash
    * between the renames) leaves a correct pair or a data file without
    * its sidecar, never a wrong one. Returns (final file, records). */
  def commit[S <: OutputStream](fin: Path, tmp: Path,
      sidecars: Seq[(Path, Path)], conf: Configuration)(
      open: OutputStream => S)(write: S => Long): (String, Long) = {
    val fs = fin.getFileSystem(conf)
    def drop(): Unit = (tmp +: sidecars.map(_._1)).foreach(fs.delete(_, false))
    val out = open(fs.create(tmp, true))
    var n = 0L
    var ok = false
    try { n = write(out); ok = true }
    finally { out.close(); if (!ok) drop() }
    if (fs.rename(tmp, fin))
      sidecars.foreach { case (t, f) => if (!fs.rename(t, f)) fs.delete(t, false) }
    else {
      // loser of a speculative race (dest already committed) — or a
      // genuinely failed commit, which must fail the task
      drop()
      if (!fs.exists(fin))
        throw new java.io.IOException(s"part commit failed for $fin")
    }
    (fin.toString, n)
  }
}
