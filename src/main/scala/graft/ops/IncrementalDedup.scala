package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.apache.spark.util.sketch.BloomFilter

/** Incremental crawl dedup: which rows of a NEW crawl batch carry urls
  * absent from a (much larger) historical index. This is the recurring
  * 10^12-scale operation of a crawl-extraction pipeline — every fresh
  * crawl segment lands next to years of prior segments, and
  * re-extracting already-seen urls wastes the cluster. The reference
  * runs the same check per document against its idempotency cache
  * before doing any OCR work (reference
  * `ocr_service/modules/processor.py:136-151` — the cached result is
  * resolved before `_run_extraction`); this operator is that
  * membership check re-expressed as a distributed batch primitive.
  *
  * Semantics are EXACT: the output equals
  * `newBatch LEFT ANTI JOIN seen ON url`, bit for bit. The Bloom
  * filter only changes the execution shape, never the result — a url
  * the filter rejects is DEFINITELY unseen (Bloom filters have no
  * false negatives) and bypasses the join; the `mightContain` minority
  * (true dups + ~fpp of the rest) pays the exact anti-join, where
  * false positives are eliminated. Filter randomness therefore cannot
  * leak into the output, which is what makes the operator
  * constant-free ORACLE-comparable against a plain SQL anti-join.
  *
  * Scale shape (the reason this exists next to a plain anti-join):
  *  - the definite-new majority (a fresh crawl is mostly new urls)
  *    never shuffles at all — at 10^12 seen rows the anti-join's
  *    shuffle of the NEW side is gone for ~(1-dup-fpp) of the batch;
  *  - the exact join's SEEN side is pre-filtered by a second, tiny
  *    Bloom filter built over the candidate urls, so the historical
  *    index contributes ~|candidates| + fpp·|seen| rows to the shuffle
  *    instead of all 10^12 (the scan itself is unavoidable — membership
  *    needs the index — but scans are cheap next to shuffles, and the
  *    url column prunes to one parquet column);
  *  - both filters are budget-gated BEFORE construction: a filter
  *    whose sizing formula exceeds the byte budget raises immediately
  *    (the [[Similarity]] pre-collect discipline) instead of OOMing
  *    the driver. At |seen| beyond what one broadcast filter holds
  *    (~10^9 urls per GiB at 1% fpp), shard by url-hash bucket: build
  *    one filter per bucket over `seen` co-partitioned with the batch
  *    (each executor holds only its bucket's filter). That form is a
  *    composition of this one per bucket; the single-filter form is
  *    the right default for per-segment increments.
  */
object IncrementalDedup {

  /** Bytes the standard Bloom sizing formula allocates for n items at
    * the given fpp: m = -n·ln(p)/ln(2)^2 bits. */
  def filterBytes(n: Long, fpp: Double): Long = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1) (got $fpp)")
    val bits = -n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))
    math.ceil(bits / 8.0).toLong
  }

  private def budgetGuard(n: Long, fpp: Double, budget: Long,
      side: String): Unit = {
    val bytes = filterBytes(math.max(n, 1L), fpp)
    require(bytes <= budget,
      s"$side Bloom filter for $n urls at fpp=$fpp needs $bytes bytes " +
        s"(budget $budget): shard the filter by url-hash bucket " +
        "(one filter per bucket over co-partitioned inputs) instead of " +
        "broadcasting one filter for the whole index")
  }

  private def mightContainCol(df: DataFrame, bf: BloomFilter,
      urlCol: String): Column = {
    val bfB = df.sparkSession.sparkContext.broadcast(bf)
    val probe = udf((u: String) => u != null && bfB.value.mightContainString(u))
    probe(col(urlCol))
  }

  /** Rows of `newBatch` whose url does not appear in `seen` —
    * identical to `newBatch.join(seen, Seq(urlCol), "left_anti")` with
    * the Bloom-accelerated execution shape described on the object.
    *
    * @param expectedSeen pass the known |seen| url count to skip the
    *   sizing `count()` (e.g. from table metadata); -1 counts.
    * @param filterBudgetBytes bytes one broadcast Bloom filter may take
    *   (default: the [[Similarity]] broadcast budget; 256 MiB holds
    *   ~2.2·10^8 urls at 1% fpp).
    */
  def newUrls(newBatch: DataFrame, seen: DataFrame,
              urlCol: String = "url",
              fpp: Double = 0.01,
              expectedSeen: Long = -1L,
              filterBudgetBytes: Long = Similarity.DefaultBroadcastBudgetBytes)
      : DataFrame = {
    val seenUrls = seen.select(col(urlCol))
    val nSeen = if (expectedSeen > 0L) expectedSeen else seenUrls.count()
    budgetGuard(nSeen, fpp, filterBudgetBytes, "seen-side")
    val seenBf = seenUrls.stat.bloomFilter(urlCol, math.max(nSeen, 1L), fpp)

    val maybeSeen = mightContainCol(newBatch, seenBf, urlCol)
    // the probe verdict is computed ONCE and materialized (lazy
    // localCheckpoint — the candidate count below triggers it): without
    // this the batch lineage (and the Bloom probe UDF) re-evaluated
    // three times — definite-new filter, candidate count, and the
    // anti-join input — a triple full rescan at the operator's 10^12
    // batch scale. localCheckpoint, not persist(): a Dataset .persist
    // is registered in CacheManager and survives until an explicit
    // unpersist (which no one can call here — the result is lazy),
    // while checkpoint RDD blocks are freed by ContextCleaner as soon
    // as the frames go unreferenced.
    val flagged = newBatch.withColumn("__maybe_seen", maybeSeen)
      .localCheckpoint(false)
    // definite-new majority: filter rejection proves absence — no join,
    // no shuffle for these rows
    val definiteNew = flagged.filter(!col("__maybe_seen"))
      .drop("__maybe_seen")
    val candidates = flagged.filter(col("__maybe_seen"))
      .drop("__maybe_seen")
    withUnseenCandidates(definiteNew, candidates, seenUrls, urlCol, fpp,
      filterBudgetBytes)
  }

  /** `definiteNew` plus the `candidates` whose url is absent from
    * `seenUrls`: the exact tail of both forms. A candidate-side filter
    * (tiny: true dups + fpp of the batch) first cuts the seen side of
    * the exact anti-join from the whole index to ~|candidates| +
    * fpp·|seen| rows before the shuffle. */
  private def withUnseenCandidates(definiteNew: DataFrame,
      candidates: DataFrame, seenUrls: DataFrame, urlCol: String,
      fpp: Double, budgetBytes: Long): DataFrame = {
    val nCand = candidates.select(col(urlCol)).count()
    val seenPruned =
      if (nCand == 0L) seenUrls.limit(0) // no candidates: nothing to check
      else {
        budgetGuard(nCand, fpp, budgetBytes, "candidate-side")
        // stat.bloomFilter on an EMPTY frame returns an unreadable
        // filter (NPE at readFrom) — the nCand==0 branch avoids it
        val candBf = candidates.select(col(urlCol))
          .stat.bloomFilter(urlCol, math.max(nCand, 1L), fpp)
        seenUrls.filter(mightContainCol(seenUrls, candBf, urlCol))
      }
    // using-column joins move the key first; restore the candidates'
    // column order so the union is positionally correct
    val checked = candidates.join(seenPruned, Seq(urlCol), "left_anti")
      .select(candidates.columns.map(col).toIndexedSeq: _*)
    definiteNew.union(checked)
  }

  // ------------------------------------------------------------------
  // Sharded bloom index — the form for |seen| beyond one broadcast.
  //
  // One filter per url-hash bucket, persisted as files: the index build
  // is fully distributed (each task builds and commits its own
  // bucket's filter — the driver never holds any filter), and the probe
  // side loads exactly ONE bucket's filter per task. Total filter bytes
  // scale with |seen| but PER-TASK memory scales with |seen| / buckets —
  // at 10^12 urls and 4096 buckets, ~300 MB per task for 1% fpp where
  // the broadcast form would need ~1.2 TB on every executor.
  //
  // Bucket == physical partition is pinned the same way the extraction
  // pipeline pins it (the round-6 repartition lesson): repartition(B,
  // col(url)) places a row in partition pmod(hash(url), B), and SQL
  // hash() IS HashPartitioning's murmur3(seed 42) — so the build and
  // probe sides agree on the bucket by construction, with no bucket
  // column materialized anywhere.

  private def bloomPath(dir: String, bucket: Int): Path =
    new Path(f"$dir/bloom-$bucket%05d.bin")

  /** Build and persist one Bloom filter per url-hash bucket over
    * `seen`. Filters are insertion-order-independent, so the files are
    * byte-deterministic given the bucket membership; each task commits
    * via attempt-unique temp + rename (speculation-safe, same
    * discipline as the WET writer). Buckets with no urls write no file
    * (the probe treats a missing filter as "nothing seen here" — which
    * is exactly true). Returns the number of filter files written. */
  def writeBloomIndex(seen: DataFrame, dir: String, buckets: Int,
                      urlCol: String = "url",
                      fpp: Double = 0.01,
                      expectedSeen: Long = -1L): Long = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1) (got $fpp)")
    val spark = seen.sparkSession
    import spark.implicits._
    val nSeen = if (expectedSeen > 0L) expectedSeen
    else seen.select(col(urlCol)).count()
    // headroom: overflow past expectedItems only raises the realized
    // fpp (more candidates through the exact join), never correctness
    val perBucket = math.max(nSeen / buckets * 12 / 10, 64L)
    val conf = new graft.sources.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    // The bucket is derived from the DATA (pmod(hash(url), B) — the
    // exact expression HashPartitioning uses for the partition id), so
    // the repartition routes each bucket's rows into one task, but
    // nothing depends on TaskContext.partitionId: when a frame like
    // this is consumed through a union, partition ids are the UNION
    // stage's (observed: ids 8..15 for an 8-bucket frame) and would
    // name the wrong files. A task that ever receives several buckets
    // (plan fusion, AQE) simply writes several correct files.
    val written = seen.select(col(urlCol)).na.drop()
      .withColumn("__bucket", pmod(hash(col(urlCol)), lit(buckets)))
      .repartition(buckets, col(urlCol))
      .as[(String, Int)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val ctx = org.apache.spark.TaskContext.get()
          val attemptUid =
            if (ctx != null) s"a${ctx.taskAttemptId()}"
            else java.util.UUID.randomUUID().toString
          val filters = new collection.mutable.HashMap[Int, BloomFilter]()
          it.foreach { case (url, bucket) =>
            filters.getOrElseUpdate(bucket, BloomFilter.create(perBucket, fpp))
              .putString(url)
          }
          filters.foreach { case (bucket, bf) =>
            graft.sources.PartFiles.commit(bloomPath(dir, bucket),
              new Path(f"$dir/_bloom_tmp/bloom-$bucket%05d-$attemptUid.bin"),
              Nil, conf.conf)(identity) { out => bf.writeTo(out); 1L }
          }
          Iterator.single(filters.size.toLong)
        }
      }.collect().sum
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir, "_bloom_tmp"), true)
    // manifest (driver-written once, after the filters): the probe
    // REQUIRES its bucket count to match — probing an 8-bucket index
    // with buckets=16 would hash rows to filters that do not exist and
    // silently classify every seen url as new (same failure class as
    // resuming a run across a bucket-mapping change; same fix: stamp
    // the mapping, fail fast on mismatch)
    val out = fs.create(new Path(dir, MetaFile), true)
    try out.write(s"buckets=$buckets\nfpp=$fpp\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    written
  }

  private[ops] val MetaFile = "_bloom_meta"

  private def readMetaBuckets(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Int] = {
    val p = new Path(dir, MetaFile)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    "buckets=([0-9]+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
  }

  /** Rows of `newBatch` whose url is definitely absent from the
    * indexed corpus, plus the candidate minority that needs the exact
    * join — the probe half of the sharded form. Each task loads ONE
    * bucket's filter (lazily, once) and routes its partition's rows;
    * rows whose bucket has no filter file are all definitely new.
    * Output == `newBatch LEFT ANTI JOIN seen`, exactly as the
    * broadcast form: the filters only route. */
  def newUrlsSharded(newBatch: DataFrame, seen: DataFrame,
                     indexDir: String, buckets: Int,
                     urlCol: String = "url"): DataFrame = {
    require(buckets > 0, s"buckets must be positive (got $buckets)")
    val spark = newBatch.sparkSession
    val conf = new graft.sources.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val idxFs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readMetaBuckets(idxFs, indexDir).foreach { b =>
      require(b == buckets,
        s"bloom index at $indexDir was built with buckets=$b, probe " +
          s"requested $buckets — a mismatch hashes urls to filters that " +
          "do not exist and silently reports seen urls as new")
    }
    val cols = newBatch.columns
    // null urls can't hash-partition consistently with the build side's
    // na.drop; they are definitely new (anti-join keeps them) — route
    // them straight through
    val nullRows = newBatch.filter(col(urlCol).isNull)
    // bucket from the DATA, never TaskContext.partitionId: consumed
    // through the union below, this mapPartitions runs with the UNION
    // stage's partition ids (observed: ids 8..15 for an 8-bucket frame
    // — every id past B-1 loaded a nonexistent filter and silently
    // mis-routed the false positives). The per-task filter cache holds
    // one entry in the normal partition==bucket case and stays correct
    // if a task ever receives several buckets.
    val flagged = newBatch.filter(col(urlCol).isNotNull)
      .withColumn("__bucket", pmod(hash(col(urlCol)), lit(buckets)))
      .repartition(buckets, col(urlCol))
      .mapPartitions { it =>
        val loaded = new collection.mutable.HashMap[Int, BloomFilter]()
        var fs: org.apache.hadoop.fs.FileSystem = null
        def filterFor(bucket: Int): BloomFilter =
          loaded.getOrElseUpdate(bucket, {
            val fin = bloomPath(indexDir, bucket)
            if (fs == null) fs = fin.getFileSystem(conf.conf)
            if (!fs.exists(fin)) null
            else {
              val in = fs.open(fin)
              try BloomFilter.readFrom(in) finally in.close()
            }
          })
        val urlIdx = cols.indexOf(urlCol)
        val bucketIdx = cols.length // __bucket appended after batch cols
        it.map { row =>
          val bf = filterFor(row.getInt(bucketIdx))
          val maybe = bf != null && bf.mightContainString(row.getString(urlIdx))
          org.apache.spark.sql.Row.fromSeq(
            row.toSeq.dropRight(1) :+ maybe)
        }
      }(org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(
          newBatch.schema.fields :+ org.apache.spark.sql.types.StructField(
            "__maybe_seen", org.apache.spark.sql.types.BooleanType, false))))
      // materialized for the same reason as the broadcast form (lazy
      // localCheckpoint; see there for why not persist): the flag pass
      // (repartition + per-bucket filter load + probe) otherwise
      // re-runs for the definite-new filter, the candidate count, and
      // the anti-join input; the count below triggers it
      .localCheckpoint(false)
    val definiteNew = flagged.filter(!col("__maybe_seen")).drop("__maybe_seen")
      .union(nullRows)
    val candidates = flagged.filter(col("__maybe_seen")).drop("__maybe_seen")
    // the same candidate-side prune as the broadcast form: without it
    // the sharded form would scan-and-shuffle all of `seen` to serve a
    // few false positives
    withUnseenCandidates(definiteNew, candidates, seen.select(col(urlCol)),
      urlCol, 0.01, Similarity.DefaultBroadcastBudgetBytes)
  }
}
