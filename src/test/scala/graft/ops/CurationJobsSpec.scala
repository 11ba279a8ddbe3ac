package graft.ops

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs each corpus-statistics and near-dup curation route
  * takes to run and collect, pinned: a change that adds a guard job, a
  * probe count or a second collect to a route fails here. The corpora
  * are read from parquet, as the queries read them (a local relation
  * would answer counts without a job). */
class CurationJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-curation-jobs")

  private def parquet(name: String)(df: SparkSession => DataFrame): DataFrame = {
    val path = dir.resolve(name).toString
    df(spark).coalesce(2).write.parquet(path)
    spark.read.parquet(path)
  }

  /** 160 documents in two languages: words from a small vocabulary with
    * runs of spaces, three paragraphs each, and a shared boilerplate
    * paragraph and span on every fourth document. */
  private lazy val docs: DataFrame = parquet("docs") { s =>
    import s.implicits._
    val r = new java.util.Random(5)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def para(k: Int) = Seq.fill(k)(vocab(r.nextInt(vocab.length)))
      .mkString(if (r.nextInt(5) == 0) "  " else " ")
    val boiler = "shared footer text that many pages repeat word for word"
    (0L until 160L).map { i =>
      val ps = Seq(para(8 + r.nextInt(8)), para(6), para(10)) ++
        (if (i % 4 == 0) Seq(boiler) else Nil)
      (i, if (i % 3 == 0) "de" else "en", ps.mkString("\n\n"))
    }.toDF("doc_id", "lang", "text")
  }

  private lazy val bench: DataFrame = parquet("bench") { s =>
    import s.implicits._
    Seq((0L, "alpha beta gamma delta"), (1L, "shared footer text that"))
      .toDF("bid", "text")
  }

  private lazy val pairs: DataFrame = parquet("pairs") { s =>
    import s.implicits._
    ((0L until 40L).map(i => (i, i + 1)) ++
      (100L until 120L).map(i => (100L, i))).toDF("a", "b")
  }

  private def count[T](run: => T): Int = JobCounter(spark.sparkContext)(run)._2

  private def pin(name: String, want: Int)(run: => Any): Unit = {
    val got = count(run)
    info(s"$name: $got jobs")
    assert(got == want, s"$name took $got Spark jobs, pinned at $want")
  }

  test("quality tiers and DSIR selection") {
    pin("QualityTiers.scoreSelf -> tiersExact", 6)(QualityTiers.tiersExact(
      QualityTiers.scoreSelf(docs, "text", topK = 16), "lang", "score",
      "doc_id").collect())
    val target = docs.filter(col("doc_id") % 5 === 0)
    pin("Dsir importanceWeights -> scoreDocs -> selectTopFraction", 9)(
      Dsir.selectTopFraction(Dsir.scoreDocs(docs, "doc_id", "text",
        Dsir.importanceWeights(docs, target, "text")), "doc_id",
        nTiles = 4).collect())
  }

  test("decontamination, broadcast and shuffle twins") {
    pin("Decontaminate.contamination", 5)(Decontaminate.contamination(
      docs, "doc_id", "text", bench, "text", 3).collect())
    pin("Decontaminate.contaminationJoined", 4)(
      Decontaminate.contaminationJoined(docs, "doc_id", "text", bench,
        "text", 3).collect())
  }

  test("exact-substring removal, hashed and plain") {
    pin("ExactSubstr.removeDuplicatedSpans hashed", 5)(
      ExactSubstr.removeDuplicatedSpans(docs, "doc_id", "text", 5).collect())
    pin("ExactSubstr.removeDuplicatedSpans plain", 5)(
      ExactSubstr.removeDuplicatedSpans(docs, "doc_id", "text", 5,
        hashed = false).collect())
  }

  test("BPE training, local route") {
    pin("BpeTrain.trainMerges local", 5)(BpeTrain.trainMerges(
      BpeTrain.wordFrequencies(docs, "text"), numMerges = 12))
  }

  test("paragraph dedup, winnowing pairs and union-find clusters") {
    pin("ParagraphDedup.dedup", 5)(
      ParagraphDedup.dedup(docs, "doc_id", "text").collect())
    pin("Winnowing.candidatePairs", 4)(
      Winnowing.candidatePairs(docs, minShared = 2).collect())
    pin("DupClusters.connectedComponents local", 8)(
      DupClusters.connectedComponents(pairs).collect())
  }
}
