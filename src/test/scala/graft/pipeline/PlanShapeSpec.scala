package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Physical-plan invariants (PLANS.md): the extraction pipeline has
  * exactly ONE shuffle (the salted url-hash repartition), and the oracle
  * joins broadcast their dimension side. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "false") // plan text stability
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("extraction pipeline plans exactly one Exchange") {
    val ds = ExtractPipeline.extract(ExtractPipeline.pages(spark, 100, 4), 4)
    val plan = ds.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, plan:\n$plan")
    assert(plan.contains("MapPartitions") || plan.contains("mapPartitions"))
  }

  test("per-document statistics plan with ZERO exchanges") {
    // Repetition.signals has no cross-document state: the plan must be
    // a pure map stage (its first implementation exploded n-grams
    // through a two-level distributed aggregate — four exchanges for a
    // row-local statistic; this pins the regression out)
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.Repetition.signals(docs, "doc_id", "text", dupN = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"per-row stat must not shuffle:\n$plan")
    val pii = graft.ops.PiiScrub.stats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!pii.contains("Exchange"), s"per-row scrub must not shuffle:\n$pii")
  }

  /** A small documents table scanned from parquet, the way the
    * curation operators read their input. */
  private lazy val textDocs = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-docs").resolve("docs")
    Seq((1L, "alpha beta\n\ngamma"), (2L, "delta  epsilon"))
      .toDF("doc_id", "text").write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** Plan lines that evaluate `fn`, and whether each runs inside
    * whole-stage codegen (`*(n)`); the scan's DataFilters echo is not
    * an evaluation. */
  private def evaluating(plan: String, fn: String): Seq[(String, Boolean)] =
    plan.split("\n").toSeq
      .filter(l => l.contains(fn) && !l.contains("FileScan"))
      .map(l => l -> l.matches("""^[\s+\-:]*\*\(\d+\) .*"""))

  test("repetition gate runs the native expression inside codegen, no UDF") {
    // the gate shape of a curation run: a filter on one signal field
    // and a projection of another over the same struct
    import org.apache.spark.sql.functions._
    val plan = textDocs
      .withColumn("sig", graft.ops.Repetition.signalsStruct(col("text"), dupN = 2))
      .filter(col("sig._1") <= 120000L)
      .select(col("doc_id"), col("sig._3").as("n_words"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF("), s"repetition must not run as a UDF:\n$plan")
    val ops = evaluating(plan, "graftrepetitionsignals(")
    val names = ops.map(o => """\*\(\d+\) (\w+)""".r.findFirstMatchIn(o._1).map(_.group(1)))
    assert(names == Seq(Some("Project"), Some("Filter")), plan)
    assert(ops.forall(_._2), s"kernel outside whole-stage codegen:\n$plan")
  }

  test("blank-line paragraphs: no lambda, split once per row inside codegen") {
    val plan = graft.ops.ParagraphDedup.paragraphs(textDocs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("lambdafunction"), plan)
    // one evaluating operator: no inferred size/isnotnull filter that
    // would split the text again
    val ops = evaluating(plan, "graftparagraphs(")
    assert(ops.length == 1 && "graftparagraphs\\(".r.findAllIn(ops.head._1).length == 1, plan)
    assert(ops.forall(_._2), s"split outside whole-stage codegen:\n$plan")
  }

  test("broadcast-state scoring kernels plan with ZERO exchanges") {
    // QualityTiers scoring (broadcast vocabulary) and Decontaminate
    // scanning (broadcast benchmark set) are per-row kernels: the plan
    // must stay one map stage with the scan — a shuffle here would
    // mean the vocabulary/benchmark leaked into a join
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val score = graft.ops.QualityTiers.scoreDocs(docs, "text",
      Map("the" -> 10L, "a" -> 5L))
      .queryExecution.executedPlan.toString
    assert(!score.contains("Exchange"), s"scoring must not shuffle:\n$score")
    val cont = graft.ops.Decontaminate.contamination(docs, "doc_id",
      "text", Set("alpha beta gamma"), n = 3)
      .queryExecution.executedPlan.toString
    assert(!cont.contains("Exchange"), s"scan must not shuffle:\n$cont")
  }

  test("broadcast join chosen for dimension tables") {
    val dir = "/root/testdata/sf0.001"
    val plan = graft.SparkEntry.queries("q13_supply_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("filter + projection push down to parquet scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") === "en")
      .select("doc_id", "n_chars")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,en)"),
      plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      plan.take(2000))
  }

  test("bucketed tables join WITHOUT an exchange (co-located fact joins)") {
    // the 100 TB tool for fact⋈fact joins that can't broadcast: both
    // sides written bucketed+sorted on the join key join with ZERO
    // Exchange operators — each task reads matching bucket files. The
    // extraction pipeline's analog is its bucket-partitioned output;
    // this pins the Hive-bucketed variant end-to-end.
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft-bucketed")
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val orders = s.read.parquet("/root/testdata/sf0.001/orders.parquet")
      val lineitem = s.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      s.sql("DROP TABLE IF EXISTS g_orders_b")
      s.sql("DROP TABLE IF EXISTS g_lineitem_b")
      orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", wh.resolve("orders").toString)
        .saveAsTable("g_orders_b")
      lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", wh.resolve("lineitem").toString)
        .saveAsTable("g_lineitem_b")
      val joined = s.table("g_lineitem_b")
        .join(s.table("g_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the JOIN itself must be exchange-free: the only allowed
      // exchange is the final small groupBy partial→final hop
      val joinOnly = s.table("g_lineitem_b")
        .join(s.table("g_orders_b"), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!joinOnly.contains("Exchange"),
        s"bucketed join must not shuffle:\n${joinOnly.take(2000)}")
      assert(joinOnly.contains("SortMergeJoin"), joinOnly.take(800))
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      // results identical to the plain (shuffling) join
      val expect = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val got = joined.collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == expect)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.sql("DROP TABLE IF EXISTS g_orders_b")
      s.sql("DROP TABLE IF EXISTS g_lineitem_b")
    }
  }

  test("winnowing fingerprint stage plans with ZERO exchanges") {
    // the fingerprint kernel is row-local; shuffles happen only when a
    // caller explodes into buckets — the signal stage itself must stay
    // a pure map over the scan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.Winnowing.withFingerprints(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"fingerprint stage must not shuffle:\n$plan")
  }

  test("domain cap: rank-limit pushes a PARTIAL WindowGroupLimit below " +
      "the single exchange; salted variant adds exactly one") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 5).cast("string")).as("host"),
        col("n_chars").as("quality"))
    val order = Seq(col("quality").desc, col("doc_id").asc)
    // default path: ONE exchange, map-side top-k done by the optimizer
    val plan = graft.ops.DomainCap.cap(docs, 3, order, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"expected 1 shuffle:\n$plan")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"rank-limit pushdown missing — hot hosts would cross the " +
        s"exchange unpruned:\n$plan")
    // salted path: one extra exchange for the (host, salt) pre-phase
    val salted = graft.ops.DomainCap.cap(docs, 3, order, col("doc_id"),
      salts = 8).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(salted).length == 2,
      s"expected 2 shuffles:\n$salted")
  }
}
