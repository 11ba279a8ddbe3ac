package graft.ops

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs each vector operator takes to run and collect, pinned:
  * a change that adds a guard job, a dim probe or a second collect to a
  * route fails here. The corpus is read from parquet, as the queries
  * read it (a local relation would answer counts without a job). */
class VectorJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 200 vectors of dim 16 in 8 clusters. */
  private lazy val vecs: Seq[(Long, Seq[Float])] = {
    val r = new java.util.Random(3)
    (0L until 200L).map { i =>
      val v = Array.tabulate(16)(d =>
        (if (d % 8 == i % 8) 1.0 else 0.0) + r.nextGaussian() * 0.15)
      (i, v.map(_.toFloat).toSeq)
    }
  }

  /** [[vecs]] read back from parquet. */
  private lazy val emb: DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vec-jobs")
      .resolve("emb").toString
    vecs.toDF("vec_id", "embedding").coalesce(2).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def jobs(run: => DataFrame): Int =
    JobCounter(spark.sparkContext)(run.collect())._2

  private def pin(name: String, want: Int)(run: => DataFrame): Unit = {
    val got = jobs(run)
    info(s"$name: $got jobs")
    assert(got == want, s"$name took $got Spark jobs, pinned at $want")
  }

  test("direct exact kernels run the pre-collect guard, then one collect") {
    val q = emb.filter(emb("vec_id") < 10)
    pin("bruteCosineTopK", 5)(Similarity.bruteCosineTopK(emb, q, 5))
    pin("exactCosineNearDups", 4)(Similarity.exactCosineNearDups(emb, 0.8))
  }

  test("auto routes below the crossover run no guard job") {
    pin("lshCosineTopK auto", 6)(Similarity.lshCosineTopK(emb, 5))
    pin("cosineNearDups auto", 9)(Similarity.cosineNearDups(emb, 0.8))
    pin("IvfIndex.topKAuto", 6)(IvfIndex.topKAuto(emb, 5))
  }

  test("forced LSH and IVF: join ranking, and broadcast ranking with knownN") {
    pin("lshCosineTopK forced", 6)(
      Similarity.lshCosineTopK(emb, 5, signBits = 5, tables = 12))
    pin("lshCosineTopK forced knownN", 7)(
      Similarity.lshCosineTopK(emb, 5, signBits = 5, tables = 12, knownN = 200L))
    val cents = vecs.take(8).map(_._2.toArray).toArray // one per cluster
    pin("IvfIndex.topK", 8)(IvfIndex.topK(emb, cents, 5))
    pin("IvfIndex.topK knownN", 9)(IvfIndex.topK(emb, cents, 5, knownN = 200L))
  }
}
