package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide smoke: every declared query runs on sf0.001 and
  * returns rows; every oracle entry names a registered query. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("oracle keys are a subset of query keys") {
    val unknown = Queries.oracle.keySet -- Queries.all.keySet
    assert(unknown.isEmpty, s"oracle without query: $unknown")
  }

  test("the SURVEY.md §2.2 normative names are all registered") {
    val normative = Seq(
      "q_scan_project", "q_filter_pred",
      "q_join_inner", "q_join_broadcast", "q_join_left", "q_join_semi",
      "q_join_anti", "q_join_theta", "q_join_range", "q_join_asof",
      "q_agg_scan", "q_agg_distinct", "q_agg_approx", "q_agg_rollup",
      "q_agg_cube", "q_agg_grouping_sets",
      "q_window_rank", "q_window_analytic", "q_window_frame_rows",
      "q_window_frame_range", "q_window_topk",
      "q_sort_multi", "q_topk",
      "q_union_all", "q_union_distinct", "q_intersect", "q_except",
      "q_str_funcs", "q_date_funcs", "q_math_funcs", "q_array_funcs",
      "q_map_funcs", "q_json_funcs",
      "q_tokenize", "q_ngram_bigram", "q_ngram_n", "q_ngram_count",
      "q_text_stats", "q_tfidf",
      "q_dedup_exact", "q_dedup_near", "q_sim_jaccard",
      "q_sim_cosine_topk", "q_knn",
      "q_stream_tumbling", "q_stream_sliding", "q_stream_session")
    val missing = normative.filterNot(Queries.all.contains)
    assert(missing.isEmpty, s"missing normative queries: $missing")
  }

  test("q_sql_*: a view the caller replaced is registered again") {
    val q3 = Queries.all("q_sql_q3")
    val before = q3(spark, TestSpark.sf0001).collect().toSeq
    assert(before.nonEmpty)
    // the registered view holds the memoized load, so repeats skip it
    assert(org.apache.spark.sql.graft.Shims.isTempViewOf(
      spark, "orders", Tables.orders(spark, TestSpark.sf0001)))
    spark.range(3).toDF("x").createOrReplaceTempView("orders")
    assert(q3(spark, TestSpark.sf0001).collect().toSeq == before)
  }

  for ((name, fn) <- Queries.all.toSeq.sortBy(_._1)) {
    test(s"$name returns rows on sf0.001") {
      assert(fn(spark, TestSpark.sf0001).count() > 0)
    }
  }
}
