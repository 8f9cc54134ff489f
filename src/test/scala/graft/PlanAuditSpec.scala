package graft

import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Global plan hygiene over the ENTIRE declared registry: every query
  * plan (all of `SparkEntry.queries` — the test iterates the live
  * registry, so the count never goes stale) is built (AQE off, so the
  * real join strategies are visible) and checked against the two
  * big-data cliff patterns:
  *
  *  - CartesianProductExec: never acceptable — a non-broadcast cross of
  *    two distributed relations is the first thing to die at scale. The
  *    registry has ZERO.
  *  - BroadcastNestedLoopJoinExec: acceptable ONLY for the documented
  *    bounded-broadcast pattern — a crossJoin against a scalar aggregate
  *    (model constants, corpus totals, thresholds) or a size-targeted
  *    sample page (~20-25 rows at any SF by count-derived modulus). The
  *    whitelist below is exhaustive; a BNLJ appearing in ANY other query
  *    (e.g. an accidental non-equi join of two corpus-sized relations)
  *    fails this suite before it can reach a cluster.
  *
  * Plan building executes the driver-side prep some queries do (counts,
  * bounded codebook collects) at sf0.001 — cheap, and exactly what the
  * driver's Verify pays per query anyway.
  */
class PlanAuditSpec extends SparkSpecBase {

  /** Queries whose plans legitimately contain BNLJ: every occurrence is a
    * crossJoin of a scalar aggregate (1 row) or a count-derived bounded
    * sample/model page onto a distributed side. */
  private val bnljBounded: Set[String] = Set(
    // scalar corpus totals / denominators / thresholds
    "agg_sketches", // 1-row sketch/exact stats re-joined for the bound flags
    "agg_equidepth_hist", "agg_kmv_distinct", "agg_kmv_merge_daily",
    "agg_rfm_segments", "agg_theta_intersect", "agg_winsorized_monthly",
    "ann_ivf_cell_stats", "ann_ivf_append", // 1-row total re-joined for load factors
    "text_unigram_vocab", // 1-row Σcnt+|V| scalar inside the score stage
    "events_ewma_hourly", "events_funnel",
    "events_funnel_latency", "events_rolling_active_users",
    "profile_lineitem", "profile_approx", // 1-row stats x 1-row sketch aggregates
    "profile_approx_audit", // 1-row exact-distinct aggregate re-joined for the 3rsd flags
    "sample_dsir_importance", // 2x scoreSums vocab scalar
    "subquery_above_avg_orders", "text_bigram_lm",
    "text_bm25_topk", "text_chi2_lang_source", "text_chunk_bm25_doc",
    "text_nb_confusion", "text_perplexity_buckets", // scoreSums vocab scalar
    "pipeline_pretrain_v2", // scoreSums vocab scalar inside the bucket stage
    "text_pmi_bigrams", "text_quality_qnorm",
    "rank_ndcg_bm25", "rerank_rrf_hybrid", "range_join_price_bands",
    // size-targeted query/probe pages (count-derived, ~20-25 rows at any SF)
    "ann_ivf_filtered_recall", // 4 bands x the same bounded exact arm
    "ann_ivf_recall_curve", "dedup_edit_distance",
    "dedup_lsh_recall", "knn_classify_loo", "knn_hard_negatives",
    "sim_maxsim_join",
    "vec_pairwise_sim_estimate", "vec_truncate_recall")

  /** Wide fixture tables and their column counts: a scan that reads the
    * FULL schema of one of these for a narrower projection means column
    * pruning broke — at 100 TB that is the difference between reading the
    * projected columns and reading the table. */
  private val tableWidths = Map(
    "lineitem" -> 16, "orders" -> 9, "events" -> 7,
    "documents" -> 6, "part" -> 9, "customer" -> 8)

  test("no CartesianProduct anywhere; BNLJ only in the documented bounded-broadcast queries; no full-width scans of wide tables") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val p = fn(spark, sfDir).queryExecution.executedPlan
        val cart = p.collect { case c: CartesianProductExec => c }.size
        val bnlj = p.collect { case b: BroadcastNestedLoopJoinExec => b }.size
        if (cart > 0) offenders += s"$name: CartesianProduct x$cart"
        if (bnlj > 0 && !bnljBounded.contains(name)) offenders += s"$name: unexpected BNLJ x$bnlj"
        p.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
          .foreach { sc =>
            val path = sc.relation.location.rootPaths.headOption.map(_.toString).getOrElse("")
            tableWidths.foreach { case (t, w) =>
              if (path.contains(t) && sc.requiredSchema.size >= w)
                offenders += s"$name: full-width scan of $t (${sc.requiredSchema.size} cols)"
            }
          }
      }
      assert(offenders.isEmpty, s"plan hygiene violations:\n  ${offenders.mkString("\n  ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
