package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's harness: its keys, the per-JVM memo (a second
  * run of a query in the same JVM reads the cached corpora, models and
  * indexes and must return the first run's rows) and the scratch dirs of
  * the eager roundtrip queries (deleted whether the query returns or
  * throws). */
class SparkEntryHarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** `graft_*` dirs under the scratch root, by name. */
  private def scratchDirs(): Set[String] = {
    val s = Files.list(SparkEntry.scratchRoot(spark))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_")).toSet
    finally s.close()
  }

  /** The per-JVM corpora and indexes live until the JVM exits. */
  private def jvmLived(name: String): Boolean =
    Seq("graft_warc_corpus_", "graft_stream_corpus_", "graft_bloom_idx_")
      .exists(name.startsWith)

  test("the registry keeps its 69 queries, each with an oracle") {
    val names = Set(
      "q1_pricing_summary", "q2_top_customers", "q3_window_rank",
      "q4_event_counts", "q5_event_windows", "q6_dedup_first_event",
      "q7_best_doc_per_lang", "q8_token_counts", "q9_quality_signals",
      "q10_dedup_exact", "q11_lang_distribution", "q12_source_rollup",
      "q13_supply_join", "q14_top_words", "q15_user_set_ops",
      "q16_json_props", "q17_rollup", "q18_sessionize",
      "x_al_sampling", "x_ann_brute", "x_ann_ivf", "x_ann_lsh",
      "x_ann_recall", "x_bpe_tokens", "x_bpe_train", "x_card_brands",
      "x_cdx_roundtrip", "x_cosine_exact", "x_cosine_neardups",
      "x_curation_funnel", "x_decontaminate", "x_dedup_recall",
      "x_domain_cap", "x_drift", "x_dsir_sample", "x_dup_clusters",
      "x_exact_substr", "x_extract_analytics", "x_extract_md5",
      "x_extract_normalized", "x_extract_pages", "x_incremental_dedup",
      "x_incremental_dedup_sharded", "x_jaccard_exact", "x_jsonl_roundtrip",
      "x_langid", "x_learning_patterns", "x_minhash_neardups",
      "x_mixture_budget", "x_mixture_sample", "x_multimodal_features",
      "x_multimodal_frames", "x_normalize_lines", "x_paragraph_dedup",
      "x_pii_scrub", "x_quality_tiers", "x_repetition_signals",
      "x_sanitize_fingerprint", "x_seq_materialize", "x_seq_pack",
      "x_simhash_neardups", "x_split_assign", "x_stream_extract",
      "x_url_dedup", "x_validation_stats", "x_warc_extract",
      "x_warc_ingest", "x_wet_roundtrip", "x_winnow_fingerprints")
    assert(names.size == 69)
    assert(SparkEntry.queries.keySet == names)
    assert(SparkEntry.oracleSql.keySet == names)
  }

  test("a second run in the same JVM returns the first run's rows, " +
      "and the roundtrip queries leave no scratch dir") {
    val harnessQueries = Seq(
      "x_ann_recall", "x_bpe_tokens", "x_bpe_train", "x_cdx_roundtrip",
      "x_decontaminate", "x_dedup_recall", "x_extract_analytics",
      "x_extract_md5", "x_extract_normalized", "x_extract_pages",
      "x_incremental_dedup", "x_incremental_dedup_sharded",
      "x_jsonl_roundtrip", "x_normalize_lines", "x_stream_extract",
      "x_warc_extract", "x_wet_roundtrip")
    val before = scratchDirs()
    harnessQueries.foreach { name =>
      def run(): (String, Seq[String]) = {
        val df = SparkEntry.queries(name)(spark, dir)
        (df.schema.treeString, df.collect().map(_.toString).toSeq.sorted)
      }
      val first = run()
      assert(first._2.nonEmpty, s"$name returned no rows")
      assert(run() == first, s"$name: the second run differs from the first")
    }
    val left = (scratchDirs() -- before).filterNot(jvmLived)
    assert(left.isEmpty, s"query scratch dirs left behind: $left")
  }

  test("withScratch deletes its dir when the body throws") {
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      SparkEntry.withScratch(spark, "graft_probe_") { d =>
        seen = d
        Files.createDirectories(d.resolve("a/b"))
        Files.writeString(d.resolve("a/b/part-0"), "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(seen.getParent == SparkEntry.scratchRoot(spark))
    assert(!Files.exists(seen))
  }
}
