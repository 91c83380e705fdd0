package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the optimizations the scale story depends on
  * must be visible in the physical plan, not assumed — pushdown
  * reaching the scan, column pruning, broadcast vs shuffle joins,
  * top-k without a global sort, map-side partial aggregation. A
  * regression here (a dropped hint, a codegen fallback reshaping a
  * plan, an accidental wide schema) fails fast instead of silently
  * costing a shuffle at scale. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    Queries.all(name)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  test("q_filter_pred: compound predicate reaches the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    // at least one concrete pushed filter, not an empty list
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"), p)
  }

  test("q_html_extract: one narrow codegen'd scan — no shuffle before the output order") {
    val p = plan("q_html_extract")
    // the whole strip/decode/normalize chain is projection-only: the
    // ONLY exchange allowed is the final total-order sort's range
    // partitioning — never a hash shuffle (no join/agg in the plan),
    // and the scan is a single batched parquet read
    assert(p.contains("FileScan parquet"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("q_image_resize: encode/decode/resize is one narrow pass — no shuffle before the output order") {
    val p = plan("q_image_resize")
    // the whole PNG round-trip + bilinear grid is per-row work (typed
    // mapPartitions + posexplode): the ONLY exchange allowed is the
    // final total-order range sort — never a hash shuffle, join or agg
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
  }

  test("q_bloom_decontaminate: probe is one narrow broadcast pass — no train-side join or shuffle") {
    val p = plan("q_bloom_decontaminate")
    // the sketch ships as a broadcast variable inside the probe UDF:
    // the TRAIN side must never join or hash-shuffle — membership is a
    // projection; only the final total-order sort exchanges
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q_partition_prune: the lang filter becomes a PARTITION filter, not a data scan") {
    val p = plan("q_partition_prune")
    // the partitioned layout must turn the filter into directory
    // pruning — a regression to a full-corpus scan shows up here, not
    // on the cluster bill
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"), p)
  }

  test("q_scan_project: column pruning reaches ReadSchema") {
    val p = plan("q_scan_project")
    // projected columns present, untouched wide columns absent
    assert(p.contains("l_orderkey"))
    assert(!p.contains("l_comment") && !p.contains("l_shipinstruct"), p)
  }

  test("q_join_broadcast: dims broadcast, never sort-merge") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_topk: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_scan: map-side partial aggregation before the shuffle") {
    val p = plan("q_agg_scan")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q_knn: bounded top-k agg is two-phase ObjectHashAggregate, no window") {
    val p = plan("q_knn")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("topkpairs"), p)
    assert(!p.contains("WindowExec") && !p.contains("Window "), p)
  }

  test("q_knn: certified-exact default has no nested-loop product or corpus broadcast") {
    // r12 (VERDICT r11 #1): the exact kNN default runs the grid-blocked
    // completion — a shuffled/broadcast EQUI-join on the block key —
    // never the old all-pairs theta join (BroadcastNestedLoopJoin
    // broadcast a whole corpus side: an OOM at 100 TB)
    val p = plan("q_knn")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sim_cosine_topk: cogroup grid, no product joins; only the 1-row τ attach nested-loops") {
    val p = plan("q_sim_cosine_topk")
    // the pair scoring runs in the typed block-cogroup (CoGroup node —
    // no join materializes pair rows); the only
    // BroadcastNestedLoopJoins allowed are the bounded 1-row τ-scalar
    // attaches (the attach subtree appears once per cogroup branch)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.sliding("BroadcastNestedLoopJoin".length)
            .count(_ == "BroadcastNestedLoopJoin") <= 2, p)
    assert(p.contains("CoGroup"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_semantic_decontaminate: bipartite grid cogroup — no corpus-proportional broadcast") {
    // r13 (VERDICT r12 #1): the registered binding must never
    // broadcast the probe set (it scales with the corpus — 2% here);
    // the exact plan is the bipartite grid cogroup, whose only
    // exchanges are the block-key hash shuffles + the output sort
    val p = plan("q_semantic_decontaminate")
    assert(p.contains("CoGroup"), p)
    assert(!p.contains("BroadcastExchange"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_embed: grid-blocked threshold join, no nested-loop product") {
    val p = plan("q_dedup_embed")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ann_ivf: posting join broadcasts under budget, no sort-merge join") {
    val p = plan("q_ann_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the query path reads the materialized posting table, it never
    // rebuilds the index (no margin dots => no graft_dot in the plan)
    assert(!p.contains("graft_dot(vn#") || p.contains("Scan parquet"), p)
  }

  test("q_join_range: band table broadcast via nested loop, fact side never re-shuffled per band") {
    val p = plan("q_join_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_pii_redact: pure narrow scan — only the final order-by exchanges") {
    val p = plan("q_pii_redact")
    assert(p.split("Exchange").length - 1 <= 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q_perplexity: the unigram LM joins broadcast, corpus side never sort-merges") {
    val p = plan("q_perplexity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_bm25: df and corpus stats broadcast, overlap prune below the explode") {
    val p = plan("q_bm25")
    // the ≤|query|-row df table and the 1-row stats DF must both ride
    // broadcasts — a sort-merge join here would shuffle the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // non-matching docs are dropped BEFORE the explode: the
    // arrays_overlap filter must sit under Generate, not above it
    val gen = p.indexOf("Generate explode")
    val flt = p.indexOf("arrays_overlap")
    assert(gen >= 0 && flt > gen, p) // plans print top-down: deeper = later
  }

  test("q_transitions: single window pass, map-side combine, two hash exchanges") {
    val p = plan("q_transitions")
    // both lags ride ONE Window node over one user_id exchange; the
    // |types|²-row groupBy is genuinely map-side combined (partial_count
    // + partial_sum of the exact integer gaps before its exchange —
    // the mean is derived from those, never a DOUBLE-buffered avg) —
    // `HashAggregate` alone would also match a single-stage aggregate
    // that shuffles raw hop rows
    assert(p.sliding("Window [".length).count(_ == "Window [") == 1, p)
    assert(p.contains("partial_count") && p.contains("partial_sum"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 hash exchanges (window + agg), got $exchanges\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_training_stable: row-level windows run at (shard, band) granularity, never shard-alone") {
    val p = plan("q_training_stable")
    // the banded-prefix-sum discipline: the window that sees EVERY row
    // (cum_in) partitions by (shard, band); only the band-TOTALS
    // window (band-count-bounded input) may partition by shard alone.
    // A refactor collapsing cum_in to a per-shard window would cap
    // parallelism at 8 tasks over the whole corpus.
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, p)
    val rowLevel = specs.filter(_.contains("pos_in_shard"))
    assert(rowLevel.nonEmpty && rowLevel.forall(s =>
      s.contains("shard") && s.contains("band")),
      s"row-level window not (shard, band)-partitioned:\n$specs")
    // (the stable-shard md5 projection itself is invisible here — the
    // segmented-rank localCheckpoint truncates lineage; its purity is
    // pinned by the streaming parity spec instead)
  }

  test("q_paths: both leads ride one window pass, path count map-side combined") {
    val p = plan("q_paths")
    // a refactor splitting the two leads into differing window specs
    // would print two Window nodes and pay a second sort
    assert(p.sliding("Window [".length).count(_ == "Window [") == 1, p)
    assert(p.contains("partial_count"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 hash exchanges (window + agg), got $exchanges\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_embed_outlier: centroid and stats ride broadcasts, no global window") {
    val p = plan("q_embed_outlier")
    // the d-row centroid and 1-row (mu, sd) both reach the distance
    // pass as broadcasts — a global Window here would funnel the
    // corpus through one partition
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_source_overlap: corpus collapses to distinct (hash, source) BELOW the self-join") {
    val p = plan("q_source_overlap")
    // the distinct aggregate must sit under the join — joining raw
    // doc rows first would make the fan-out doc-scale, not |sources|.
    // Whichever join strategy Spark picks must appear ABOVE (before)
    // the last aggregate in the top-down plan print.
    val join = math.max(p.indexOf("SortMergeJoin"), p.indexOf("BroadcastHashJoin"))
    val agg = p.lastIndexOf("HashAggregate")
    assert(join >= 0, p)
    assert(agg > join, p) // plans print top-down: deeper = later
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dup_rate: one hash-df aggregate, no cartesian, map-side combine") {
    val p = plan("q_dup_rate")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sql_q18: the IN-subquery decorrelates to a semi join, no subquery exec per row") {
    val p = plan("q_sql_q18")
    assert(p.contains("LeftSemi"), p)
    // decorrelated = NO subquery node of any kind survives (physical
    // plans print uncorrelated gates as "Subquery subquery#N" — the
    // class names "InSubqueryExec"/"ScalarSubquery" never appear, so
    // asserting their absence pins nothing)
    assert(!p.toLowerCase.contains("subquery"), p)
  }

  test("q_sql_q6: every predicate reaches the parquet scan") {
    val p = plan("q_sql_q6")
    assert(p.contains("PushedFilters: ["), p)
    // shipdate range, discount band and quantity bound all pushed
    assert(p.contains("l_shipdate") && p.contains("l_discount")
      && p.contains("l_quantity"), p)
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"), p)
  }

  test("q_token_entropy: two-level aggregation is partial+final, scan reads only (doc_id, text)") {
    val p = plan("q_token_entropy")
    assert(p.contains("partial_"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q_sql_q4: correlated EXISTS decorrelates to a semi join") {
    val p = plan("q_sql_q4")
    assert(p.contains("LeftSemi"), p)
  }

  test("q_sql_q21: EXISTS and NOT EXISTS both decorrelate (semi + anti), no per-row subquery") {
    val p = plan("q_sql_q21")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q_sql_q17: correlated scalar average decorrelates to an aggregate join, lineitem scanned at most twice") {
    val p = plan("q_sql_q17")
    // decorrelation = partial/final avg feeding a join, not a subquery
    // executed per outer row
    assert(p.contains("partial_avg") || p.contains("avg("), p)
    assert(!p.toLowerCase.contains("subquery"), p)
  }

  test("q_sql_q19: OR-of-ANDs keeps the equi-join (common conjunct extracted), no cartesian") {
    val p = plan("q_sql_q19")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_join_interval: bucket decomposition gives a hash equi-join on the bucket id") {
    val p = plan("q_join_interval")
    // the raw inequality-overlap form would plan the session×incident
    // join as a nested loop (no equi-key); the bucket id must hand
    // Catalyst a hash key. The ONE BroadcastNestedLoopJoin allowed is
    // the deliberate 1-row avg-threshold broadcast cross.
    assert(p.contains("Join [__bk") || p.contains("Join [cast(__bk"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.sliding("BroadcastNestedLoopJoin".length)
            .count(_ == "BroadcastNestedLoopJoin") <= 1, p)
  }

  test("q_sql_q13: left join survives with its extra condition (not degraded to inner)") {
    val p = plan("q_sql_q13")
    assert(p.contains("LeftOuter"), p)
  }

  test("q_dedup_incremental: batch hashes broadcast to the corpus scan, corpus never sort-merged") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_heavy_hitters_by_lang: candidate recount joins broadcast, never sort-merge") {
    val p = plan("q_heavy_hitters_by_lang")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_quality_z: one narrow projection + one per-lang window, no join") {
    val p = plan("q_quality_z")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("q_profile: each column pass reads a single-column schema") {
    val p = plan("q_profile")
    // every scan is pruned to one column — no scan reads the full row
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<o_orderstatus:string>"), p)
    assert(!p.contains("o_orderkey:bigint,o_custkey"), p)
  }

  test("q_sim_jaccard: the prefix self-join stays broadcast-hash (the set table keeps its stats)") {
    // regression pin: the set table must arrive with a size estimate
    // (r8: a materialized parquet scan — file-size stats; before: a
    // persist; a stats-less LogicalRDD here silently degrades the
    // join to sort-merge — measured 2x wall at sf0.1)
    val p = plan("q_sim_jaccard")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("FileScan parquet"), p)
  }

  test("q_url_filter: blocklist joins broadcast, corpus side never shuffles for the join") {
    val p = plan("q_url_filter")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // only the final total-order exchange — no hash shuffle anywhere
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_anchor_text: narrow extraction; rollup = counts agg + bounded text cut + one co-partitioned href join") {
    val p = plan("q_anchor_text")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    // the bounded-text window cut rides the same href partitioning
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("q_embed_quant: probes broadcast against the quantized corpus, no corpus shuffle before ranking") {
    val p = plan("q_embed_quant")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_mix_temperature: quota tables broadcast; ranking windows are bucketed, not one-per-lang") {
    val p = plan("q_mix_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-scale rank window partitions on (lang, bkt) — the
    // bucketed two-level rank — visible as both keys in the spec
    assert(p.contains("Window"), p)
    assert(p.contains(" bkt#"), p)
  }

  test("q_sql_q2: correlated scalar-min decorrelates to an aggregate join, no per-row rescan") {
    val p = plan("q_sql_q2")
    // the EUROPE-min subquery re-joins the dim chain; decorrelation
    // must turn it into min-aggregate-then-join, not a subquery
    // executed per outer part row
    assert(p.contains("partial_min") || p.contains("min("), p)
    assert(!p.toLowerCase.contains("subquery"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sql_q9: composite-key profit join stays equi, no cartesian or nested loop") {
    val p = plan("q_sql_q9")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_sql_q11: the uncorrelated total re-aggregate runs ONCE as a reusable subquery") {
    val p = plan("q_sql_q11")
    // an UNcorrelated scalar gate SHOULD appear as a Subquery node —
    // evaluated once and broadcast into the HAVING — never per group
    assert(p.contains("Subquery subquery"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sql_q16: count-DISTINCT buckets are planned as two-level aggregation with pushed part filters") {
    val p = plan("q_sql_q16")
    assert(p.contains("partial_count"), p)
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"), p)
  }

  test("q_sql_q20: the three-deep nesting decorrelates (semi joins), no per-row subquery") {
    val p = plan("q_sql_q20")
    assert(p.contains("LeftSemi"), p)
    assert(!p.toLowerCase.contains("subquery"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_triangle_count: wedge and closing joins stay equi, counts map-side combined") {
    val p = plan("q_triangle_count")
    // the whole pipeline is equi-joins + partial-agg counts — a
    // cartesian or nested-loop anywhere means the orientation keys
    // fell out of a join condition
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q_dsir: the bucket model joins back by BROADCAST; counts map-side combined") {
    val p = plan("q_dsir")
    // the ≤4096-row model and the 1-row totals must broadcast onto
    // the feature stream — a sort-merge join here would shuffle the
    // whole corpus feature stream by bucket id at scale
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q_corpus_kl: one word-count shuffle with map-side combine, no cartesian") {
    val p = plan("q_corpus_kl")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_span_cut: span marking stays equi-join, no pair blowup shape") {
    val p = plan("q_dedup_span_cut")
    // the rewrite must never plan the m² self-join of the pair report:
    // no cartesian/nested-loop, dup spans found by partial-agg groupBy
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  // ---------------------------------------------------------------
  // r8 sweep: the iterative graph family. The registered queries'
  // final plans only show checkpointed ExistingRDD scans (lineage
  // truncation is itself part of the contract), so the per-round
  // shapes are pinned on the FACTORED round bodies — a Catalyst
  // upgrade de-broadcasting or de-combining inside the loop fails
  // here, not silently at 10x the round cost.
  // ---------------------------------------------------------------

  private def roundFixture = {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 4L))
      .toDF("id", "label")
    (edges, labels)
  }

  test("CC propagation round: two equi-joins + partial-agg min, no cartesian/window") {
    val (edges, labels) = roundFixture
    val p = graft.ops.Dedup.propagationRound(edges, labels)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("PageRank round: equi-join + partial sum; dangling mass carried, no join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.sql.graft.Shims
    import org.apache.spark.sql.types.{Decimal, DecimalType}
    val (edges0, _) = roundFixture
    // r16 round contract: edges arrive with out-degree pre-attached,
    // nodes/rank carry the iteration-invariant dangling flag — the od
    // join and the dangling join are paid once at setup, not per round
    val outDeg = edges0.groupBy(col("src"))
      .agg(count(lit(1)).as("od"))
    val edges = edges0.join(outDeg, "src")
    val nodes = Seq((1L, false), (2L, false), (3L, false), (4L, true))
      .toDF("node", "dang")
    val rank = nodes.select(col("node"), col("dang"), lit(0.25).as("r"))
    // the dangling mass arrives as the value carried from the previous
    // round's checkpoint job (Iterate.rounds), not as a 1-row aggregate
    val dm = Shims.column(graft.ops.Carried(0, Decimal(0.25), DecimalType(38, 30)))
    val p = graft.ops.Graph
      .pageRankRound(nodes, edges, rank, 4L, dm)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), p)
    // the contribution equi-join and the join back to the nodes are the
    // round's only joins: no nested-loop join for the scalar, no cartesian
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("iterative queries: checkpointed lineage + no cartesian in the final plans") {
    // the full-query pin that IS visible post-checkpoint: iteration
    // state arrives as ExistingRDD scans (lineage truncation intact —
    // losing it doubles the plan per round and OOMs the driver by
    // ~round 25), and no stage regressed to a cartesian
    for (q <- Seq("q_page_rank", "q_hits", "q_ppr", "q_label_prop",
                  "q_bfs_depth", "q_kcore", "q_dedup_cluster")) {
      val p = plan(q)
      assert(p.contains("ExistingRDD") || p.contains("FileScan parquet"),
        s"$q lost its checkpoint/materialization boundary:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q_dedup_keep_best: reads the MATERIALIZED cluster table, one window over cluster keys") {
    val p = plan("q_dedup_keep_best")
    // the shared content-keyed cluster table arrives as a parquet
    // scan (not a rebuilt pair join + CC fixpoint)
    assert(p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q_fuzzy_join: reads the MATERIALIZED pair table; no cross join anywhere") {
    val p = plan("q_fuzzy_join")
    // the pair stream is built once per corpus (IndexCache) and
    // arrives as a parquet scan shared with q_jaro_sim and
    // q_entity_resolution
    assert(p.contains("FileScan parquet"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("fuzzyPairs BUILD: signature equi-join, never a string cross join") {
    // the pair-table build itself (what the cache materializes): the
    // candidate join must be equi on the deletion signature — the
    // naive all-pairs definition must never appear
    import spark.implicits._
    val strs = Seq((1L, "kitten"), (2L, "mitten")).toDF("id", "s")
    val p = graft.ops.Fuzzy.fuzzyPairs(strs, "id", "s")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q_gap_fill: events reduce once (partial agg), spine join stays equi") {
    val p = plan("q_gap_fill")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q_sssp: relaxation rounds are checkpointed, final fill is an outer equi-join") {
    val p = plan("q_sssp")
    // the per-round min aggregates live BEHIND the localCheckpoint
    // boundary (same contract as the other iterative pins): the final
    // plan must read the checkpointed tables, join them equi-outer for
    // the -1 fill, and never regress to a cartesian
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftOuter"), p)
  }

  test("q_modularity: simple-graph dedup + community joins, no data-sized cross join") {
    val p = plan("q_modularity")
    assert(!p.contains("CartesianProduct"), p)
    // the two 1-row scalar sides (m, total) are the only nested loops
    assert(p.contains("HashAggregate"), p)
  }

  test("q_rolling_median: one partial-agg reduction, quantiles run as window aggregates") {
    val p = plan("q_rolling_median")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_winsorize: bounds broadcast back, two partial-agg passes, no cartesian") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q_benford: one digit-count reduction with map-side combine") {
    val p = plan("q_benford")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_market_basket: within-basket self-join stays equi on (user, day)") {
    val p = plan("q_market_basket")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q_cusum: stats broadcast back; one daily reduction feeds the folds") {
    val p = plan("q_cusum")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_jaro_sim: native JW in a plain Project; top-1 prunes BEFORE the window shuffle") {
    val p = plan("q_jaro_sim")
    // the native expression evaluates in a Project (no UDF/Python
    // eval node), and Spark's rank-limit pushdown keeps only each
    // name's best candidate ahead of the window exchange
    assert(!p.contains("CartesianProduct") && !p.contains("BatchEvalPython"), p)
    assert(p.contains("jarowinklersim"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_key_skew: single-column pruned scans, one count reduction each") {
    val p = plan("q_key_skew")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // column pruning: the wide lineitem columns never load
    assert(!p.contains("l_comment") && !p.contains("l_extendedprice"), p)
  }

  test("q_target_encoding: dim broadcast, one category reduction, 1-row prior side") {
    val p = plan("q_target_encoding")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_psi_drift: bucket assignment rides the 1-row edges side, two count reductions") {
    val p = plan("q_psi_drift")
    assert(p.contains("partial_count"), p)
    // the only nested loops are the 1-row edge/total sides
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_rfm: parallel ranks — no single-partition global window anywhere") {
    // r9: the three quintile ranks are range-sort + zipWithIndex
    // (ExistingRDD), never a Window.orderBy that would funnel a
    // billion-user table through one task
    val p = plan("q_rfm")
    assert(!p.contains("Window"), p)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_interval_union: one key shuffle, two window passes, no join at all") {
    val p = plan("q_interval_union")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_join_cardinality: prediction runs on the two REDUCED count tables") {
    val p = plan("q_join_cardinality")
    // both sides partial-agg to key counts before the prediction join
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_assoc_stats: corpus reduces once; all post-cell joins are bounded sides") {
    val p = plan("q_assoc_stats")
    // exactly one scan family feeds the cell reduction; margins and
    // totals join the CELL table (category-bounded) — the corpus
    // itself is never crossed. The 1-row totals cross join is the
    // only nested-loop allowed.
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_token_budget: the corpus-sized window is banded; band offsets broadcast") {
    val p = plan("q_token_budget")
    // the per-doc cumsum window is PARTITIONED on the quality band —
    // never a corpus-sized Window.orderBy through one task; the
    // band-offset table (≤ 51 rows) is the only single-partition
    // window and it joins back by broadcast
    assert(p.contains("windowspecdefinition(qb"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ks_test: grid windows are per-source; corpus reduces before any window") {
    val p = plan("q_ks_test")
    // the cumsum windows run over the bounded sources × values grid,
    // partitioned by source — the raw corpus passes only one
    // partial-agg count reduction
    assert(p.contains("windowspecdefinition(source"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q_ngram_novelty: one min-reduce per gram, equi-join back, no window") {
    val p = plan("q_ngram_novelty")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_embed_cov: aggregator pass done, result is the bounded local artifact") {
    // the corpus pass runs ONCE inside the typed CovAggregator (partial
    // per-partition buffers, one merge) during construction; the
    // returned frame is the reassembled 2080-row model artifact — a
    // local relation, never a re-executed corpus scan or a d² explode
    val p = plan("q_embed_cov")
    assert(p.contains("LocalTableScan") || p.contains("localtablescan"), p)
    assert(!p.contains("Generate") && !p.contains("FileScan"), p)
  }

  test("q_rerank: pool broadcasts to the corpus scan; no corpus shuffle for features") {
    val p = plan("q_rerank")
    // the ≤ topN candidate pool joins the documents scan by BROADCAST
    // hash join (feature extraction is one narrow pruned corpus pass);
    // avgdl arrives as a 1-row broadcast side. A SortMergeJoin of the
    // corpus against a 50-row pool would shuffle 100 TB to meet 50 rows.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-term features are fixed-size expression trees on the scan
    // side: the only explodes are stage-1 BM25's own two (tf + df
    // candidate gen) — the feature pass must not add a third
    assert(p.sliding("Generate explode".length).count(_ == "Generate explode") == 2, p)
  }
}
