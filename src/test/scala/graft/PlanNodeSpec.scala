package graft

import graft.plans.{KnnJoinExec, KnnJoinPlan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SparkSessionExtensions whole-operator path (SURVEY §2.2 UDF/UDAF
  * row): custom LogicalPlan → SparkStrategy → custom SparkPlan for the
  * batch kNN join. Pins (a) bit-equality with the KnnTopK aggregator over
  * the explicit cross product, (b) that the planner actually lowers
  * through KnnJoinExec, and (c) operator edge cases (empty sides, filtered
  * data, missing columns, INT ids, non-integral ids, non-float vectors).
  */
class PlanNodeSpec extends SparkSpecBase {
  import spark.implicits._

  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def queries: DataFrame =
    emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))

  private def collect(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.orderBy("query_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq

  test("KnnJoinPlan.join is bit-equal to the KnnTopK composition form") {
    val viaPlan = KnnJoinPlan.join(queries, emb, k = 3)
    val viaAgg = ExactKnn.crossTopK(queries, emb, k = 3, dim = core.Fixtures.Dim)
    assert(collect(viaPlan) == collect(viaAgg))
  }

  test("INT ids, negative ones included, come back as the same LONG ids") {
    // the operator reads ids with getLong: without the pre-projection cast
    // an INT -1 would come back as 4294967295
    val db = (-6 to 5).map(i => (i, Array(i.toFloat, (i * i).toFloat / 4f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((-3, Array(-2.5f, 1.0f)), (-1, Array(0.2f, 0.0f)), (2, Array(4.0f, 4.0f)))
      .toDF("query_id", "embedding")
    val got = collect(KnnJoinPlan.join(qs, db, k = 4))
    assert(got == ExactKnn.perQuery(qs, db, k = 4))
    assert(got.map(_._1).distinct == Seq(-3L, -1L, 2L))
  }

  test("the planner lowers KnnJoinPlan through KnnJoinExec") {
    val df = KnnJoinPlan.join(queries, emb, k = 3)
    val hasLogical = df.queryExecution.optimizedPlan.collect {
      case p: KnnJoinPlan => p
    }.nonEmpty
    val hasExec = df.queryExecution.executedPlan.collect {
      case e: KnnJoinExec => e
    }.nonEmpty
    assert(hasLogical, "logical node should survive optimization untouched")
    assert(hasExec, "physical plan should contain KnnJoinExec")
  }

  test("downstream relational ops compose over the custom node") {
    val df = KnnJoinPlan.join(queries, emb, k = 3)
      .filter(col("rn") === 1)
      .groupBy(col("query_id")).agg(min(col("dist")).as("d1"))
    assert(df.count() == 5)
    // rn=1 is the self-match (query vectors come from the db): dist 0.0
    assert(df.collect().forall(_.getDouble(1) == 0.0))
  }

  test("filter-before-k semantics: pre-filtered data side") {
    val filtered = emb.filter(col("label") === 3)
    val viaPlan = KnnJoinPlan.join(queries, filtered, k = 3)
    val viaAgg = ExactKnn.crossTopK(queries, filtered, k = 3, dim = core.Fixtures.Dim)
    assert(collect(viaPlan) == collect(viaAgg))
  }

  test("empty data side yields empty result; empty query side too") {
    val none = emb.filter(col("vec_id") < 0)
    assert(KnnJoinPlan.join(queries, none, k = 3).count() == 0)
    assert(KnnJoinPlan.join(none.select(col("vec_id").as("query_id"), col("embedding")),
      emb, k = 3).count() == 0)
  }

  test("payload columns are pruned from the data-side scan") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = KnnJoinPlan.join(queries, emb, k = 3)
      // every physical leaf (parquet scan OR cached-table scan, depending
      // on what earlier suites cached) must emit ONLY the contract columns
      // — `label` never crosses a scan boundary (join() pre-projects in
      // the logical plan, Catalyst pushes the pruning into the scan)
      val leaves = df.queryExecution.executedPlan.collectLeaves()
        .map(_.output.map(_.name).toSet)
      assert(leaves.nonEmpty && leaves.forall(s =>
        s == Set("vec_id", "embedding") || s == Set("query_id", "embedding")), leaves)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("missing contract column is rejected at planning") {
    val ex = intercept[Exception] {
      KnnJoinPlan.join(queries.withColumnRenamed("query_id", "qid"), emb, k = 3).collect()
    }
    assert(ex.getMessage.contains("query_id") ||
      (ex.getCause != null && ex.getCause.getMessage.contains("query_id")))
  }

  test("non-integral ids and non-float vectors are rejected, not misread") {
    // KnnJoinExec reads vectors with toFloatArray (ARRAY<DOUBLE> bytes would
    // be reinterpreted as floats); a STRING id cast to LONG would be null,
    // and null-id rows are skipped
    val doubles = intercept[IllegalArgumentException] {
      KnnJoinPlan.join(queries.select(col("query_id"),
        col("embedding").cast("array<double>").as("embedding")), emb, k = 3)
    }
    assert(doubles.getMessage.contains("ARRAY<FLOAT>"), doubles.getMessage)
    val strings = intercept[IllegalArgumentException] {
      KnnJoinPlan.join(queries, emb.withColumn("vec_id", col("vec_id").cast("string")), k = 3)
    }
    assert(strings.getMessage.contains("integral vec_id"), strings.getMessage)
  }

  test("dimension-mismatched data raises instead of silently skipping") {
    // mixed-dimension input is a data error: the operator must fail loudly
    // (mirroring Grid ingest validation), not measure a truncated distance
    val shortVecs = emb.limit(10)
      .withColumn("embedding", slice(col("embedding"), 1, 4))
    val ex = intercept[Exception] {
      KnnJoinPlan.join(queries, shortVecs, k = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("dim")), s"got: ${msgs(ex)}")
  }
}
