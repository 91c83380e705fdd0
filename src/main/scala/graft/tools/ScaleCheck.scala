package graft.tools

import org.apache.spark.sql.SparkSession

/** The 10× scaling proof-run: times a curated query subset at a base
  * dir and a `ScaleGen`-erated 10× dir and reports each query's
  * measured scaling exponent  e = log(t_big/t_base) / log(10)
  * against its DECLARED complexity, plus the q_dedup_cluster round
  * counts (must stay flat — O(log d)) —
  * `sbt "runMain graft.tools.ScaleCheck [baseDir] [bigDir] [nameFilter]"`
  * (the optional third arg restricts to queries containing the
  * substring — the incremental-check loop for new additions).
  *
  * Reading the exponents: e ≈ 1 is linear scaling, e ≈ 2 quadratic;
  * local[32] wall time includes fixed per-job latency, so small base
  * times bias e DOWN at this scale — the check is an upper bound
  * (e must not exceed the declared exponent + tolerance), not a
  * curve fit. */
object ScaleCheck {
  // (query, declared exponent): 1.0 = linear scan/shuffle shapes;
  // n log n sorts still measure ≈1 at 10×; 2.0 = by-spec exact pair
  // scans (their scale path is q_ann_ivf / banding, measured here too)
  val Subset: Seq[(String, Double)] = Seq(
    "q_agg_scan" -> 1.0,
    "q_join_inner" -> 1.0,
    "q_window_rank" -> 1.0,
    "q_sort_multi" -> 1.0,
    "q_ngram_count" -> 1.0,
    "q_html_extract" -> 1.0,
    "q_token_bpe" -> 1.0,
    "q_heavy_hitters" -> 1.0,
    "q_pack_chunks" -> 1.0,
    "q_dedup_exact" -> 1.0,
    "q_dedup_near" -> 1.0,
    "q_dedup_span" -> 1.0,
    "q_sim_jaccard" -> 1.0,
    "q_dedup_cluster" -> 1.0,
    "q_ann_ivf" -> 1.5,  // ALL-PAIRS self-kNN over an IVF index: per
                         // query ~√n candidates (h ≈ log2 √n keeps
                         // ~√n buckets of ~√n), × n queries = n^1.5
                         // total — the IVF design point; a production
                         // batch-vs-index query is the √n per-query
                         // term, and the exact-scan alternative is n²
    "q_stream_session" -> 1.0,
    "q_sql_q1" -> 1.0,
    "q_sql_q21" -> 1.0,
    "q_quality_model" -> 1.0,
    "q_url_canon" -> 1.0,
    "q_curate_web" -> 1.0,
    // r7 additions
    "q_url_filter" -> 1.0,    // narrow canon + broadcast blocklist
    "q_anchor_text" -> 1.0,   // narrow extract + one rollup
    "q_page_rank" -> 1.0,     // fixed rounds, linear edges/nodes
    "q_embed_quant" -> 1.0,   // fixed probes × linear corpus
    "q_mix_temperature" -> 1.0,
    "q_perplexity_kn" -> 1.0, // LM build + one join, all linear
    "q_bpe_learn" -> 1.0,     // vocabulary-scale: measures ≈0 (the
                              // initial word count is the only
                              // corpus-size term)
    "q_link_degree" -> 1.0,   // two aggregates + one outer join
    "q_split_assign" -> 1.0,  // narrow projection
    "q_embed_project" -> 1.0, // narrow projection
    "q_ann_quant" -> 1.5,     // same all-pairs-over-IVF total as
                              // q_ann_ivf (int8 kernel, same buckets)
    "q_sim_cosine_topk" -> 2.0, // EXACT top-k pairs: Θ(n²) dots by
                                // spec (r12: grid-blocked equi-join,
                                // no corpus broadcast; the τ filter
                                // cuts aggregate input, not FLOPs —
                                // sub-quadratic exactness on
                                // near-orthogonal data is SETH-hard;
                                // the ≤1.5 scale path is q_ann_ivf)
    "q_knn" -> 2.0,             // same contract/plan per-vector
    "q_dedup_embed" -> 2.0,     // same grid, fixed threshold
    "q_sim_containment" -> 2.0, // candidates ∝ Σ_p df_A(p)·df_B(p):
                                // near-linear on natural vocabularies,
                                // quadratic on this 40-word synthetic
                                // vocab where no token is rare
    "q_bm25" -> 1.0,          // overlap-pruned explode + one tf shuffle
    "q_transitions" -> 1.0,   // one user-keyed window + |types|² report
    "q_paths" -> 1.0,         // same window pass, |types|³ report
    "q_embed_outlier" -> 1.0, // two narrow scans + broadcast scalars
    "q_label_prop" -> 1.0,    // fixed rounds; extraction is the only
                              // corpus-size term (domain graph fixed)
    "q_spike_detect" -> 1.0,  // bounded daily rollup + keyed window
    "q_source_overlap" -> 1.0, // distinct (hash, source) then ≤|src|² join
    "q_dup_rate" -> 1.0,      // hash df agg + one join back
    "q_quality_tiers" -> 1.0, // parallel rank (range sort + zipWithIndex)
    "q_ppr" -> 1.0,           // fixed rounds, linear edges/nodes
    // r7 late additions
    "q_sql_q2" -> 1.0,        // correlated-min decorrelated to agg+join
    "q_sql_q9" -> 1.0,        // the heaviest partsupp shape: 6-relation
                              // equi-join chain + one rollup, linear
    "q_sql_q11" -> 1.0,       // derived-partsupp agg + scalar gate
    "q_sql_q16" -> 1.0,       // distinct-agg over the derived partsupp
    "q_sql_q20" -> 1.0,       // nested semi joins, all linear
    "q_triangle_count" -> 1.0, // pair counting is the only corpus-size
                              // term; the graph itself is vocabulary-
                              // bounded (ScaleGen's salted replicas
                              // add disjoint vocab slices — block-
                              // diagonal graphs, linear wedge growth)
    "q_bfs_depth" -> 1.0,     // pair counting again; the BFS itself
                              // touches each reachable edge once
                              // (salted replicas: the seed's own
                              // component only, rest report -1)
    "q_sample_weighted" -> 1.0, // one narrow scan, no shuffle
    // r7 close-out additions
    "q_dsir" -> 1.0,          // two feature-stream scans, aggregates
                              // bounded at 4096 buckets, model broadcast
    "q_corpus_kl" -> 1.0,     // one word-count shuffle; everything
                              // after is vocab-bounded
    "q_dedup_keep_best" -> 1.0, // the cluster pipeline + one window
    "q_dedup_span_cut" -> 1.0, // span-hash groupBy + equi-joins +
                              // one doc_id rebuild shuffle
    "q_perplexity_target" -> 1.0, // the q_perplexity one-shuffle shape
    // r8 retrieval batch
    "q_hybrid_rrf" -> 1.0,    // BM25 pool (overlap-pruned) + one probe
                              // dot scan; fusion runs on ≤2·poolK rows
    "q_phrase_search" -> 1.0, // single narrow in-row scan, no shuffle
    "q_skyline" -> 1.0,       // per-date min + bounded distinct-date
                              // sweep + broadcast join back
    "q_centroid_drift" -> 1.0, // one (label, dim) decimal-sum shuffle;
                              // pairwise stage is |labels|² on ≤dims
                              // wide rows
    // r8 fuzzy/time-series/association batch
    "q_fuzzy_join" -> 1.0,    // r9 distinct-value collapse: the
                              // deletion-signature join runs on
                              // DISTINCT names (duplication-immune —
                              // ScaleGen's verbatim ×10 replication
                              // adds only the linear id join-back);
                              // genuinely-distinct near-variant
                              // clusters stay quadratic in TRUE pair
                              // volume (inherent; maxSigGroup caps)
    "q_gap_fill" -> 1.0,      // one (type, hour) partial-agg shuffle;
                              // spine/windows are calendar-bounded
    "q_ewma" -> 1.0,          // one (type, day) partial-agg shuffle;
                              // fold runs on the calendar-bounded table
    "q_assoc_stats" -> 1.0,   // one cell reduction; everything after is
                              // category-bounded
    "q_sssp" -> 1.0,          // fixed rounds; pair counting is the only
                              // corpus-size term (vocab graph bounded)
    "q_modularity" -> 1.0,    // LPA + one edge dedup/degree shuffle;
                              // contingency is community-bounded
    "q_rolling_median" -> 1.0, // one daily reduction; windows run on
                              // calendar-bounded rows
    "q_seasonal_anomaly" -> 1.0, // one hourly reduction; profile and
                              // z-scoring calendar-bounded
    "q_robust_z" -> 1.0,      // one daily reduction; median/MAD passes
                              // calendar-bounded
    "q_winsorize" -> 1.0,     // percentile agg + broadcast bounds join
                              // + one more partial-agg pass
    "q_benford" -> 1.0,       // one digit-count shuffle; 9 rows after
    "q_rfm" -> 1.0,           // per-user reduction; ntile windows on the
                              // user table
    "q_market_basket" -> 1.0, // basket distinct + type-bounded fanout
    "q_cusum" -> 1.0,         // one daily reduction; folds calendar-bounded
    "q_jaro_sim" -> 1.0,      // the distinct-pair stream + a window at
                              // distinct-name cardinality + linear id
                              // join-back (r9)
    "q_gini" -> 1.0,          // per-user reduction + keyed rank window
    "q_key_skew" -> 1.0,      // three single-column count reductions
    "q_ab_test" -> 1.0,       // per-user reduction + 2-row aggregate
    "q_entity_resolution" -> 1.0, // distinct-pair candidates + O(log d)
                              // CC on the distinct-name graph + linear
                              // id join-back (r9)
    "q_target_encoding" -> 1.0, // one broadcast join + category reduction
    "q_psi_drift" -> 1.0,     // percentile pass + two bucket reductions
    "q_interval_union" -> 1.0, // one key shuffle + two windows
    "q_join_cardinality" -> 1.0, // two count reductions + actual join
    "q_quantile_bins" -> 1.0, // percentile pass + one binned reduction
    "q_rolling_active" -> 1.0, // user-day reduction + bounded w fan-out
    "q_autocorr" -> 1.0,      // one daily reduction; lag pairs
                              // calendar-bounded
    "q_histogram_2d" -> 1.0,  // one cell reduction
    "q_burstiness" -> 1.0,    // one daily reduction + moment sums
    // r10 operator batch
    "q_graph_reciprocity" -> 1.0, // edge dedup + reversed-key semi-join
    "q_assortativity" -> 1.0, // degree reductions + node-keyed joins +
                              // 4-row-per-edge explode, all linear
    "q_zipf_fit" -> 1.0,      // one token-count shuffle; regression on
                              // the bounded top-1000 (measures ≈ count)
    "q_heaps_fit" -> 1.0,     // per-doc agg + per-source 1-row regression
    "q_ngram_novelty" -> 1.0, // bigram min-reduce + equi-join back
    "q_ks_test" -> 1.0,       // one (source, value) reduction; grid is
                              // sources × max-doc-len bounded
    "q_token_budget" -> 1.0,  // banded two-level prefix sum
    // r11 operator batch
    "q_auc" -> 1.0,           // distinct-score count reduction + the
                              // token_budget banded prefix sum
    "q_rerank" -> 1.0,        // stage-1 hybrid pools (BM25 prune +
                              // broadcast-probe dots, both linear) +
                              // a bounded-pool broadcast feature pass
    "q_embed_cov" -> 1.0,     // one CovAggregator pass (radix-split
                              // long partials, 6368-long merge);
                              // output d²-bounded
    "q_embed_pca" -> 1.0,     // covMatrix + a k-dot broadcast pass
    // r12 oracle-conversion batch (the md5/DECIMAL-carrier rewrites
    // must not have changed the scale shapes)
    "q_kmeans" -> 1.0,        // fixed iterations × one narrow assign
                              // pass + k·d-bounded decimal means
    "q_bloom_decontaminate" -> 1.0, // eval-side sketch build + one
                              // narrow broadcast-probe train pass
    "q_image_resize" -> 1.0,  // per-doc encode/decode/resize, no
                              // shuffle at all
    "q_shuffle_shard" -> 1.0, // one range-partitioned sort + narrow
                              // modular deal (n log n measures ≈1)
    "q_length_batch" -> 1.0,  // one segmented-rank sort + broadcast
                              // bucket-base join
    "q_mix_interleave" -> 1.0, // two segmented-rank sorts + broadcast
                              // source-count join
    "q_span_depth" -> 1.0,    // 5 narrow span-hash shuffles, one per
                              // dyadic width
    // r13 batch
    "q_semantic_decontaminate" -> 2.0, // EXACT threshold screen with a
                              // probe set that is 2% OF THE CORPUS:
                              // Θ(|corpus|·|probes|) dots by spec —
                              // now paid as bipartite-grid SHUFFLE
                              // (probe rows × blocks), never a
                              // corpus-proportional broadcast; the
                              // sub-quadratic path is
                              // semanticMatchesAnn over the posting
                              // index (recall < 1)
    "q_frame_sample" -> 1.0,  // per-doc container walk + sampled-frame
                              // codec, no shuffle before the output
                              // sort
    "q_hits" -> 1.0,          // fixed rounds over the MATERIALIZED page
                              // edge table (r13: built once per corpus,
                              // shared with q_page_rank / q_ppr)
    "q_cooccur" -> 1.0,       // the materialized pair-count table +
                              // TakeOrderedAndProject
    "q_crawl_triad" -> 1.0,   // two keyed windows + narrow extract/
                              // gates + the batch-scale band probe
                              // (candidates ∝ colliding pairs — linear
                              // on re-crawl traffic)
    "q_training_pipeline" -> 1.0, // hash-dedup shuffle + narrow gates +
                              // segmented-rank shuffle + banded
                              // per-shard prefix sums
    "q_audio_stats" -> 1.0,   // per-doc PCM encode/decode, no shuffle
                              // before the output sort
    // r14 additions
    "q_warc_triad" -> 1.0,    // WARC render + parse are per-page; the
                              // triad behind them is q_crawl_triad
    "q_warc_gz" -> 1.0,       // r15: same per-page shape + per-record
                              // gzip members (deflate is linear in
                              // payload bytes)
    "q_dedup_index_append" -> 1.0, // r15: batch bands broadcast to one
                              // narrow corpus-band scan (the
                              // incrementalNearDup shape) + batch-
                              // scale banding of accepts
    "q_warc_cdx" -> 1.0,      // r15: CDX scan is records-linear; the
                              // sampled point fetch reads only its
                              // byte ranges (sub-linear in archive
                              // bytes by construction)
    "q_corpus_refresh" -> 1.0, // r15: partition-pruned read of
                              // delta-touched shards + manifest patch;
                              // corpus-size terms are the pruned scan
                              // and the manifest row filter
    "q_train_quality" -> 1.0, // fixed iterations × one narrow
                              // aggregate scan each
    "q_training_stable" -> 1.0, // hash shard + segmented rank +
                              // banded prefix sums
    "q_multimodal_features" -> 1.0, // per-doc fixture encode + header
                              // parses, no shuffle
    "q_ann_pq" -> 1.0,        // r15: the PQ tier's OWN bucket space is
                              // sized by target occupancy (h ≈
                              // log2(n/B), B = PqOccupancy) — per-probe
                              // ADC candidates are bounded at
                              // ~T·(q+1)·B by construction, so the
                              // all-pairs total is O(n); the √n-bucket
                              // n^1.5 shape stays with q_ann_ivf/
                              // q_ann_quant, whose buckets still scale
                              // as √n
  )

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val big = if (args.length > 1) args(1) else "/root/repo/tmpdata/sf1"
    // optional 4th arg: the big/base data ratio the exponent divides by
    // (default 10; the sf10 proof-run passes 100)
    val ratio = if (args.length > 3) args(3).toDouble else 10.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String, dir: String): (Double, Long) = {
      // full settle, the Bench r9 lesson: clearCache() alone leaves
      // rdd-level blocks (iterative queries' localCheckpoints) live;
      // across a long suite the bloated heap inflates every later
      // query's GC time and corrupts the exponents (chunked runs of
      // this tool measured a 30x inflation on late slots)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      val t0 = System.nanoTime()
      val n = graft.Queries.all(name)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // one warmup absorbs session/codegen startup
    time("q_agg_scan", base)

    // comma-separated substrings: a query runs if it contains ANY
    val only = if (args.length > 2 && args(2).nonEmpty)
      Some(args(2).split(',').toSeq) else None
    println(f"${"query"}%-22s ${"t_base"}%8s ${"t_10x"}%8s ${"rows_b"}%9s ${"rows_10x"}%9s ${"exp"}%6s decl")
    Subset.filter(q => only.forall(_.exists(q._1.contains))).foreach { case (name, decl) =>
      val (tb, nb) = time(name, base)
      val (tx, nx) = time(name, big)
      val e = math.log(tx / tb) / math.log(ratio)
      def rounds(dir: String) = graft.ops.Dedup.corpusClusterRounds(spark, dir)
      val extra = if (name == "q_dedup_cluster")
        s"  rounds ${rounds(base)} -> ${rounds(big)}" else ""
      println(f"$name%-22s $tb%8.2f $tx%8.2f $nb%9d $nx%9d $e%6.2f $decl%4.1f$extra")
    }
    spark.stop()
  }
}
