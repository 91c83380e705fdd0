package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{CovAggregator, TopKFunctions, VectorFunctions}

/** Embedding-similarity operators (SURVEY.md §2.2 dedup/similarity).
  *
  * Shape discipline for scale: vectors are cast float→double ONCE and
  * L2-normalized ONCE in a narrow projection, so the pair stage is a
  * single codegen'd dot product per pair ([[graft.functions
  * .DotProduct]]) — never norm arithmetic inside the join.
  *
  * EXACT top-k/kNN plan shape (r12, replacing the r1-r11 all-pairs
  * theta join): exact top-k cosine over adversarial (near-orthogonal)
  * vectors provably needs Ω(n²) dot products — no candidate scheme
  * can certify it has seen every qualifying pair without a bound, and
  * in high dimension angular/pivot bounds collapse under
  * concentration of measure (the fixture corpus IS that worst case:
  * 3rd-neighbour cosines sit at 0.25-0.32, within-label mean cosine ≈
  * cross-label ≈ 0). What CAN be fixed is the execution shape, and
  * both defaults now certify exactness without a scale-killing plan:
  *
  *  1. a LIGHT LSH candidate pass (2 tables, 1 probe flip — the
  *     [[annIndex]] machinery) yields a PROVABLE lower bound τ on the
  *     kth-best score (candidates are real pairs, so their kth-best
  *     never exceeds the true kth-best; fewer than k candidates ⇒
  *     τ = −2, i.e. no pruning, never a wrong answer);
  *  2. a GRID-BLOCKED completion pass ([[gridScoredPairs]]) scores
  *     every remaining pair in a typed cogroup keyed by block —
  *     NO corpus-sized broadcast, NO BroadcastNestedLoopJoin /
  *     CartesianProduct (the old theta join broadcast a whole side:
  *     an OOM at 100 TB) — with the τ filter fused into the tight
  *     per-pair dot loop, so downstream sees ~k·n rows, not n². On a
  *     near-dup-heavy production corpus τ is high and the surviving
  *     stream is tiny; on the adversarial fixture the dots still all
  *     run (they must), spread evenly across B(B+1)/2 block-pair
  *     tasks with O(n·B) replicated narrow rows — the
  *     communication-optimal layout for dense pair scoring.
  *
  * The sub-quadratic path remains [[qAnnIvf]]/[[annNeighbors]]
  * (documented recall < 1); [[cosineTopKExhaustive]]/[[knnExhaustive]]
  * are the τ-free diagnostics of the same grid shape.
  */
object Similarity {

  /** Normalized double vectors for any (vec_id, embedding) DataFrame:
    * (vec_id, vn) with |vn| = 1 — the library entry point
    * ([[graft.Graft.normalizeEmbeddings]]). */
  def normalizeEmbeddings(embeddings: DataFrame): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    embeddings
      .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("v"), col("v"))))
      .select(col("vec_id"),
              transform(col("v"), x => x / col("nrm")).as("vn"))
    // NOT persisted: the normalize is a Project BELOW the pair join,
    // so it already runs O(n) per side (never per pair) — a cache
    // would only save one extra narrow parquet scan, while leaking a
    // cache entry per distinct input in a tuning loop (the lifecycle
    // class the r5/r6 advisors flagged on kmeans/incrementalNearDup).
  }

  private[graft] def normalized(spark: SparkSession, dir: String): DataFrame =
    normalizeEmbeddings(Tables.embeddings(spark, dir))

  /** Light LSH config for the τ (certification-threshold) pass of the
    * exact defaults: enough candidates for a useful bound, a fraction
    * of the full ANN search cost. */
  private val TauTables = 2
  private val TauFlips = 0

  /** Rounding to 6 dp displaces a value by < 5e-7, so two pairs whose
    * unrounded scores differ by < 1e-6 can swap rank between the
    * unrounded τ bound and the rounded presentation order. The
    * completion filter subtracts this margin so a rounded-rank winner
    * can never be cut by an unrounded τ. */
  private val RoundMargin = 2e-6

  /** Grid block sizing: ~256 rows per block (a 64-dim double block is
    * ~130 KB — L2-resident for the inner pair loop), capped at 1024
    * blocks so the block-pair task count B(B+1)/2 stays ≤ ~525k on an
    * arbitrarily large corpus. Beyond the cap, blocks grow instead —
    * per-task work AND the cogroup's buffered home block (n/B rows ×
    * ~vector width bytes) rise while the task grid and the O(n·B)
    * replicated shuffle volume stay bounded; that buffer-vs-grid
    * tension is inherent to any 2D pair-scoring schedule, and at
    * n ≈ 10⁹ the home block is ~0.5 GB/task — size executor memory
    * or raise the cap accordingly. */
  private[graft] def gridBlocks(n: Long): Int =
    math.min(1024L, math.max(1L, (n + 255L) / 256L)).toInt

  /** EVERY unordered pair of distinct vectors scored exactly once
    * with an UNROUNDED dot, pre-filtered by per-row thresholds —
    * the grid-blocked completion engine of the exact defaults.
    *
    * Input: (vec_id, vn, tau); output: (id_a, id_b, cos_sim) for the
    * pairs with dot ≥ min(tau_a, tau_b) − margin. Side A replicates
    * each row to block ids bi..B-1, side B keys rows by their own
    * block, so block pair (i, j ≥ i) meets in exactly one task and
    * the replicated shuffle volume is O(n·B) narrow rows — never a
    * corpus broadcast, never a nested-loop product.
    *
    * Execution is a typed COGROUP with a tight JVM loop, not an
    * equi-join: the first grid cut joined the replicated sides with
    * SMJ/BHJ and materialized TWO 64-double arrays into every join
    * output row — ~1 KB of row copies per pair, which measured 108 s
    * (q_sim_cosine_topk) / 178 s (q_dedup_embed) at sf1's 2·10⁸
    * pairs where the dots themselves are ~4 s of FLOPs. The cogroup
    * buffers ONLY the home block (≤ ~n/B rows — the per-task memory
    * knob; [[gridBlocks]] documents the B-vs-block-size tension),
    * streams the probe side, and emits only τ-survivors, so per pair
    * the work is one 64-FMA loop and a compare — no row
    * materialization at all for the filtered-out 99.99 %. The dot
    * accumulates ascending, bit-identical to
    * [[graft.functions.DotProduct]] (the τ phase's scores must be
    * comparable against completion scores).
    *
    * Same-block pairs dedup by id order; cross-block pairs are
    * structurally unique (only the lower block probes up). Output ids
    * are NOT normalized to id_a < id_b across blocks; pair-symmetric
    * consumers don't care, presentation layers normalize. */
  /** Early-exit stride: the dot loop checks a Cauchy–Schwarz upper
    * bound every `ExitStride` elements — partial + ‖a_tail‖·‖b_tail‖ —
    * and abandons a pair as soon as the bound proves it below the τ
    * cut. The bound over-estimates the remainder (never prunes a true
    * survivor; FP slack ~1e-15 sits nine orders inside the 2e-6
    * rounding margin), so exactness is unconditional; the win scales
    * with τ — a production near-dup scan at cos ≥ 0.9 abandons most
    * pairs after the first stride. */
  private val ExitStride = 16

  /** Suffix L2 norms at [[ExitStride]] checkpoints: out(c) =
    * ‖v[c·stride ..]‖ for c = 0 .. d/stride. */
  private def suffixNorms(v: Array[Double]): Array[Double] = {
    val nChk = v.length / ExitStride + 1
    val out = new Array[Double](nChk)
    var c = nChk - 1
    var i = v.length - 1
    var ss = 0.0
    while (c >= 0) {
      val lo = c * ExitStride
      while (i >= lo) { ss += v(i) * v(i); i -= 1 }
      out(c) = math.sqrt(ss)
      c -= 1
    }
    out
  }

  private[graft] def gridScoredPairs(uTau: DataFrame, blocks: Int,
                                     margin: Double): DataFrame = {
    val spark = uTau.sparkSession
    import spark.implicits._
    val ds = uTau
      .select(col("vec_id"), col("vn"), col("tau"),
              pmod(col("vec_id"), lit(blocks)).cast("int").as("gb"))
      .as[(Long, Array[Double], Double, Int)]
    // suffix norms computed ONCE per (replicated) row, not per pair
    val probes = ds.flatMap { case (id, vn, tau, bi) =>
      val sn = suffixNorms(vn)
      (bi until blocks).iterator.map(bj => (bj, id, vn, tau, bi, sn))
    }.groupByKey(_._1)
    val homes = ds.map { case (id, vn, tau, bi) =>
      (id, vn, tau, bi, suffixNorms(vn))
    }.groupByKey(_._4)
    probes.cogroup(homes) { (bj, as, bs) =>
      val home = bs.toArray
      as.flatMap { case (_, ida, vna, ta, bi, sna) =>
        val sameBlock = bi == bj
        home.iterator.flatMap { case (idb, vnb, tb, _, snb) =>
          if (sameBlock && ida >= idb) Iterator.empty
          else {
            val d = math.min(vna.length, vnb.length)
            val tmin = math.min(ta, tb) - margin
            var s = 0.0
            var i = 0
            var alive = true
            while (alive && i < d) {
              val lim = math.min(i + ExitStride, d)
              while (i < lim) { s += vna(i) * vnb(i); i += 1 }
              if (i < d) {
                val c = i / ExitStride
                if (s + sna(c) * snb(c) < tmin) alive = false
              }
            }
            if (alive && s >= tmin) Iterator.single((ida, idb, s))
            else Iterator.empty
          }
        }
      }
    }.toDF("id_a", "id_b", "cos_sim")
  }

  /** (corpus size, dims) of any (vec_id, embedding) frame — the two
    * driver-side scalars the exact defaults need for grid/plane
    * sizing. `knownN ≥ 0` skips the count (registered queries pass the
    * memoized [[corpusSize]]). */
  private def sizeAndDim(embeddings: DataFrame, knownN: Long): (Long, Int) = {
    val n = sizeOnly(embeddings, knownN)
    val head = embeddings.select(size(col("embedding")).as("d")).limit(1).collect()
    (n, if (head.isEmpty) 0 else head(0).getInt(0))
  }

  /** Corpus size only — for grid-block sizing that needs no
    * dimensionality (r13 review: the dim probe is a one-row Spark job
    * that size-only callers were paying just to discard; with a known
    * size it costs no job at all). */
  private def sizeOnly(embeddings: DataFrame, knownN: Long): Long =
    if (knownN >= 0) knownN else embeddings.count()

  private def emptyPairs(u: DataFrame): DataFrame =
    u.select(col("vec_id").as("id_a"), col("vec_id").as("id_b"),
             lit(0.0).as("cos_sim"))
      .filter(lit(false))

  /** Exact top-N most-similar pairs (cosine) over any
    * (vec_id, embedding) DataFrame ([[graft.Graft.cosineTopK]]) —
    * certified two-phase (see the object scaladoc): LSH candidates
    * bound the Nth-best score from below, the grid completion keeps
    * exactly the contenders. Result is identical to
    * [[cosineTopKExhaustive]] on ANY input (the τ bound is proven,
    * not probabilistic). */
  def cosineTopK(embeddings: DataFrame, n: Int = 100): DataFrame =
    cosineTopKSized(embeddings, n, -1L)

  private[graft] def cosineTopKSized(embeddings: DataFrame, n: Int,
                                     knownN: Long): DataFrame = {
    val (sz, dim) = sizeAndDim(embeddings, knownN)
    val u = normalizeEmbeddings(embeddings)
    val pairs =
      if (sz == 0) emptyPairs(u)
      else {
        val cand = annCandidatesFrom(annIndex(u, sz, TauTables, TauFlips, dim),
                                     sz, TauTables, dim)
          .filter(col("id_a") < col("id_b"))
          .dropDuplicates("id_a", "id_b")
        // τ rides a 1-row broadcast; valid only when the candidate
        // stream actually produced n pairs (else -2 = scan everything)
        val tau = cand.orderBy(col("cos_sim").desc).limit(n)
          .agg(when(count(lit(1)) >= n, min(col("cos_sim")))
                 .otherwise(lit(-2.0)).as("tau"))
        gridScoredPairs(u.crossJoin(broadcast(tau)),
                        gridBlocks(sz), RoundMargin)
      }
    pairs
      .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"),
              round(col("cos_sim"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
      .limit(n)
  }

  /** τ-free exact top-N pairs — the diagnostic twin of [[cosineTopK]]
    * (same grid-blocked shape, every pair reaches the sort). Use it to
    * audit the certified path; results are identical by construction. */
  def cosineTopKExhaustive(embeddings: DataFrame, n: Int = 100): DataFrame = {
    val sz = sizeOnly(embeddings, -1L)
    val u = normalizeEmbeddings(embeddings)
    (if (sz == 0) emptyPairs(u)
     else gridScoredPairs(u.withColumn("tau", lit(-2.0)), gridBlocks(sz), 0.0))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"),
              round(col("cos_sim"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
      .limit(n)
  }

  /** q_sim_cosine_topk: [[cosineTopK]] on the test corpus (corpus size
    * from the memoized [[corpusSize]] — no per-query count job). */
  def qSimCosineTopk(spark: SparkSession, dir: String): DataFrame =
    cosineTopKSized(Tables.embeddings(spark, dir), 100,
                    corpusSize(spark, dir))

  /** Bounded top-k cut per id_a on (cos_sim desc, id_b asc) — the
    * native [[graft.functions.TopKPairs]] aggregate
    * (map-side-combinable, primitive buffer ≤ k) instead of a window:
    * the shuffle carries k rows per group per map partition, not every
    * scored pair, no partition-wide sort runs, and the per-row update
    * is allocation-free (the typed-UDAF form, kept as
    * [[graft.functions.TopKAggregator]] with a parity golden, paid a
    * ~6 µs/row encoder round-trip on the multi-million-row pair
    * streams). Tie semantics identical to
    * `row_number() over (...) <= k`. */
  private[ops] def topKCut(pairs: DataFrame, k: Int,
                      distinct: Boolean = false): DataFrame = {
    TopKFunctions.register(pairs.sparkSession)
    pairs
      .groupBy("id_a")
      .agg(TopKFunctions.topk(col("cos_sim"), col("id_b"), k, distinct).as("top"))
      .select(col("id_a"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("id_a"), (col("pos") + 1).cast("int").as("rn"),
              col("p.id").as("id_b"), col("p.score").as("cos_sim"))
      .orderBy("id_a", "rn")
  }

  /** Each unordered scored pair mirrored into both directions (the
    * per-vector cut needs each side), rounded to the oracle's 6 dp
    * BEFORE ranking (the DuckDB oracle ranks by the rounded score). */
  private def mirrorRounded(pairs: DataFrame): DataFrame =
    pairs
      .select(explode(array(
        struct(col("id_a"), col("id_b"), col("cos_sim")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b"), col("cos_sim"))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
              round(col("p.cos_sim"), 6).as("cos_sim"))

  /** Per-vector exact k nearest neighbours by cosine over any
    * (vec_id, embedding) DataFrame ([[graft.Graft.knn]]) — certified
    * two-phase (see the object scaladoc): the light LSH pass yields a
    * PER-VECTOR kth-best lower bound τ_v (−2 where a vector has < k
    * candidates — no pruning, never a wrong answer); the grid
    * completion keeps pair (a,b) iff its dot clears min(τ_a, τ_b)
    * minus the rounding margin, which is exactly the set of pairs
    * that can still enter either side's top-k. Identical results to
    * [[knnExhaustive]] on ANY input. */
  def knn(embeddings: DataFrame, k: Int = 3): DataFrame =
    knnSized(embeddings, k, -1L)

  private[graft] def knnSized(embeddings: DataFrame, k: Int,
                              knownN: Long): DataFrame = {
    val (sz, dim) = sizeAndDim(embeddings, knownN)
    val u = normalizeEmbeddings(embeddings)
    val pairs =
      if (sz == 0) emptyPairs(u)
      else {
        TopKFunctions.register(u.sparkSession)
        val cand = annCandidatesFrom(annIndex(u, sz, TauTables, TauFlips, dim),
                                     sz, TauTables, dim)
        // per-vector kth-best candidate score: the same bounded TopK
        // buffer as the final cut (map-side combine, ≤ k per group)
        val tauTab = cand
          .groupBy(col("id_a").as("tv"))
          .agg(TopKFunctions.topk(col("cos_sim"), col("id_b"), k,
                                  distinct = true).as("top"))
          .select(col("tv"),
                  when(size(col("top")) >= k,
                       element_at(col("top"), k).getField("score"))
                    .otherwise(lit(-2.0)).as("tau"))
        val uTau = u.join(tauTab, col("vec_id") === col("tv"), "left")
          .select(col("vec_id"), col("vn"),
                  coalesce(col("tau"), lit(-2.0)).as("tau"))
        gridScoredPairs(uTau, gridBlocks(sz), RoundMargin)
      }
    topKCut(mirrorRounded(pairs), k)
  }

  /** τ-free exact kNN — the diagnostic twin of [[knn]] (same grid
    * shape, every pair reaches the bounded top-k buffers). Results are
    * identical by construction. */
  def knnExhaustive(embeddings: DataFrame, k: Int = 3): DataFrame = {
    val sz = sizeOnly(embeddings, -1L)
    val u = normalizeEmbeddings(embeddings)
    val pairs = if (sz == 0) emptyPairs(u)
      else gridScoredPairs(u.withColumn("tau", lit(-2.0)), gridBlocks(sz), 0.0)
    topKCut(mirrorRounded(pairs), k)
  }

  /** q_knn: [[knn]] (k = 3) on the test corpus (corpus size from the
    * memoized [[corpusSize]] — no per-query count job). */
  def qKnn(spark: SparkSession, dir: String): DataFrame =
    knnSized(Tables.embeddings(spark, dir), 3, corpusSize(spark, dir))

  /** EVERY (probe, corpus) pair scored exactly once against a FIXED
    * threshold — the bipartite sibling of [[gridScoredPairs]] for
    * one-sided threshold queries (decontamination, retrieval-style
    * screens). Corpus rows stay HOME, keyed by their own block; probe
    * rows replicate across the corpus's block grid — O(|probes| · B)
    * replicated narrow rows of SHUFFLE, never a broadcast, so the
    * plan's memory footprint is flat no matter how the probe set
    * grows with the corpus (the r12 verdict's last scale-blind
    * binding: the old plan broadcast a corpus-proportional probe
    * set). Per task the home block (≤ n/B rows) is buffered once and
    * the probe stream runs the same early-exit dot loop as
    * [[gridScoredPairs]] (ascending accumulation — bit-identical to
    * [[graft.functions.DotProduct]] and the SQL oracle's ordered
    * list_sum; Cauchy–Schwarz stride exit against the τ cut, which
    * for a threshold query is the threshold itself — no LSH pass can
    * tighten it, which is why the EXACT route here is grid-only while
    * top-k queries run the two-phase τ plan).
    *
    * Emits (vec_id, probe_id, cos) UNROUNDED for pairs with
    * cos ≥ tau − margin; callers re-apply the exact rounded filter. */
  private[graft] def gridBipartitePairs(corpus: DataFrame, probes: DataFrame,
                                        blocks: Int, tau: Double,
                                        margin: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val home = corpus
      .select(col("vec_id"), col("vn"),
              pmod(col("vec_id"), lit(blocks)).cast("int").as("gb"))
      .as[(Long, Array[Double], Int)]
      .map { case (id, vn, gb) => (id, vn, gb, suffixNorms(vn)) }
      .groupByKey(_._3)
    val rep = probes.select(col("vec_id"), col("vn"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, vn) =>
        val sn = suffixNorms(vn)
        (0 until blocks).iterator.map(b => (b, id, vn, sn))
      }.groupByKey(_._1)
    rep.cogroup(home) { (_, ps, cs) =>
      val corpusBlock = cs.toArray
      val cut = tau - margin
      ps.flatMap { case (_, pid, vnp, snp) =>
        corpusBlock.iterator.flatMap { case (cid, vnc, _, snc) =>
          if (cid == pid) Iterator.empty
          else {
            val d = math.min(vnp.length, vnc.length)
            var s = 0.0
            var i = 0
            var alive = true
            while (alive && i < d) {
              val lim = math.min(i + ExitStride, d)
              while (i < lim) { s += vnp(i) * vnc(i); i += 1 }
              if (i < d) {
                val c = i / ExitStride
                if (s + snp(c) * snc(c) < cut) alive = false
              }
            }
            if (alive && s >= cut) Iterator.single((cid, pid, s))
            else Iterator.empty
          }
        }
      }
    }.toDF("vec_id", "probe_id", "cos")
  }

  /** Semantic (embedding-space) decontamination: every corpus vector
    * whose cosine against ANY probe-set vector clears `minCos` — the
    * "is this training doc a paraphrase of an eval doc" test that
    * n-gram decontamination ([[Curation.decontaminate]]) misses by
    * construction. EXACT, via the bipartite grid
    * ([[gridBipartitePairs]]): the probe set rides the shuffle across
    * the corpus's block grid — no corpus-proportional broadcast, so
    * the plan survives an eval set that grows with the corpus (the
    * r12 scale-design fix; the old broadcast plan remains as the
    * [[semanticMatchesBroadcast]] diagnostic twin, proven equivalent
    * by spec). The |corpus| × |probes| dot-product work is inherent
    * to the exact answer — the early-exit stride abandons most pairs
    * a fraction into the loop at any realistic threshold; the
    * sub-quadratic path is [[semanticMatchesAnn]] (documented
    * recall < 1, shared materialized posting index). */
  def semanticMatches(corpus: DataFrame, probes: DataFrame,
                      minCos: Double = 0.4): DataFrame =
    semanticMatchesSized(corpus, probes, minCos, -1L)

  private[graft] def semanticMatchesSized(corpus: DataFrame, probes: DataFrame,
                                          minCos: Double,
                                          knownN: Long): DataFrame = {
    val sz = sizeOnly(corpus, knownN)
    val c = normalizeEmbeddings(corpus)
    val p = normalizeEmbeddings(probes)
    gridBipartitePairs(c, p, gridBlocks(sz), minCos, RoundMargin)
      .select(col("vec_id"), col("probe_id"),
              round(col("cos"), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_probe_hits"),
           round(max(col("cos")), 6).as("max_cos"))
      .orderBy("vec_id")
  }

  /** The r6–r12 brute-force plan — probe set broadcast against one
    * narrow corpus scan of codegen dots. Kept as the diagnostic twin
    * of [[semanticMatches]] (SimilaritySpec proves grid ≡ broadcast)
    * and as the right plan when the probe set is BOUNDED (a fixed
    * eval suite of a few thousand rows — KBs of broadcast); it must
    * not be fed a probe set that scales with the corpus. */
  private[graft] def semanticMatchesBroadcast(corpus: DataFrame,
                                              probes: DataFrame,
                                              minCos: Double = 0.4): DataFrame = {
    val c = normalizeEmbeddings(corpus)
    val p = normalizeEmbeddings(probes)
    c.select(col("vec_id"), col("vn"))
      .join(broadcast(p.select(col("vec_id").as("probe_id"),
                               col("vn").as("vn_p"))),
            col("vec_id") =!= col("probe_id"))
      .select(col("vec_id"), col("probe_id"),
              round(VectorFunctions.dot(col("vn"), col("vn_p")), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_probe_hits"),
           round(max(col("cos")), 6).as("max_cos"))
      .orderBy("vec_id")
  }

  /** Sub-quadratic decontamination probe over the MATERIALIZED ANN
    * posting index ([[annPostings]]) — the fast path when exactness
    * can yield to recall: probe vectors are looked up in the posting
    * table by id (they already carry bucket codes + probe masks — no
    * re-hash), fan out their multi-probe buckets, and equi-join the
    * postings on (tbl, bucket); candidate dots clear `minCos` and
    * pairs seen in several tables collapse via a distinct count.
    * Recall is the OR-amplified table recall (measured ≥ 0.94 @ 8
    * tables on the fixture — SimilaritySpec), NOT 1.0: the registered
    * query stays on the exact grid. No broadcast of either side at
    * scale (the posting join is the bucketed at-rest join of
    * [[qAnnIvf]]); probe-side work scales with |probes| · (q+1),
    * corpus-side with posting-list hits only. */
  def semanticMatchesAnn(spark: SparkSession, dir: String,
                         probePred: Column, minCos: Double = 0.4): DataFrame = {
    VectorFunctions.register(spark)
    val codes = annPostings(spark, dir)
    val home = codes.filter(!probePred)
      .select(col("tbl"), col("bucket"), col("vec_id"), col("vn"))
    val probeSide = codes.filter(probePred).select(
      col("tbl"), col("vec_id").as("probe_id"), col("vn").as("vn_p"),
      explode(transform(col("pm"), m => col("bucket").bitwiseXOR(m)))
        .as("bucket"))
    probeSide.join(home, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("vec_id"), col("probe_id"),
              round(VectorFunctions.dot(col("vn"), col("vn_p")), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .groupBy("vec_id")
      .agg(count_distinct(col("probe_id")).as("n_probe_hits"),
           round(max(col("cos")), 6).as("max_cos"))
      .orderBy("vec_id")
  }

  /** q_semantic_decontaminate: [[semanticMatches]] with probe set
    * vec_id % 50 == 0 against the rest of the corpus (block sizing
    * from the memoized [[corpusSize]] — no per-query count job). */
  def qSemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    semanticMatchesSized(e.filter(col("vec_id") % 50 =!= 0),
                         e.filter(col("vec_id") % 50 === 0),
                         0.4, corpusSize(spark, dir))
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ minCos) over any
    * (vec_id, embedding) DataFrame ([[graft.Graft.embeddingNearDups]]).
    * The threshold is GIVEN here, so no τ pass is needed: one
    * grid-blocked scoring join ([[gridPairs]] — no corpus broadcast,
    * no nested-loop product) with the filter fused into the codegen
    * stage; only qualifying pairs (a tiny stream on any real corpus)
    * reach the sort. */
  def embeddingNearDups(embeddings: DataFrame, minCos: Double = 0.4): DataFrame = {
    val sz = sizeOnly(embeddings, -1L)
    val u = normalizeEmbeddings(embeddings)
    // the GIVEN threshold is the in-stage τ (margin covers the 6-dp
    // presentation rounding; the exact rounded filter re-applies it)
    (if (sz == 0) emptyPairs(u)
     else gridScoredPairs(u.withColumn("tau", lit(minCos)),
                          gridBlocks(sz), RoundMargin))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"),
              round(col("cos_sim"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .orderBy("id_a", "id_b")
  }

  /** q_dedup_embed: [[embeddingNearDups]] on the test corpus (0.4 sits
    * at the top ~0.1% of this data's pair distribution — no planted
    * dups). */
  def qDedupEmbed(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDups(Tables.embeddings(spark, dir))

  /** Offline index-build analog: corpus size per data dir, computed
    * once per JVM and memoized. At cluster scale this is index metadata
    * persisted alongside the index (or read from parquet footers), not
    * a per-query job — r2's version re-ran the sizing `count()` scan on
    * every invocation. */
  private val corpusSizes =
    new IndexCache[java.lang.Long]("corpus_sizes", "embeddings",
      (s, d) => Tables.embeddings(s, d).count())
  private[graft] def corpusSize(spark: SparkSession, dir: String): Long =
    corpusSizes.get(spark, dir)

  /** q_ann_ivf: approximate nearest neighbour via OR-amplified
    * hyperplane LSH — the sub-quadratic scale path for [[qKnn]].
    *
    * Index: T = 8 independent tables of h seeded random hyperplanes
    * (h scales with the corpus: h ≈ log2(√n) ⇒ ~√n buckets of ~√n
    * vectors per table — the classic IVF sizing; no data column is
    * assumed). A vector's bucket in table t is its h-bit sign pattern
    * under that table's planes; the T·h planes are driver-side
    * literals (T·h·d doubles — O(KB), a broadcast codebook). The whole
    * index (bucket codes + probe masks + normalized vectors — the
    * posting table) is built ONCE per corpus and materialized to
    * columnar storage ([[annPostings]]); queries never re-derive it.
    *
    * Search: within each table, QUERY-DIRECTED multi-probe (Lv et al.,
    * multi-probe LSH): the query probes its own bucket plus the
    * `ProbeFlips` single-bit flips with the smallest hyperplane margin
    * |v·p_j| — the bits most likely to diverge for a true neighbour —
    * rather than all h flips, cutting the candidate stream ~h/(q+1)×
    * at nearly the same recall. A neighbour missed by one table is
    * caught by another (OR-amplification: per-table miss rates
    * multiply, P(hit) = 1-(1-p₁)^T; measured 0.82 at T = 4 →
    * 0.95 at T = 8, sf0.1 — the AnnTune sweep). The inverted list carries the vector (the
    * IVF posting-list layout), so the (table, bucket) join feeds the
    * codegen dot directly — one shuffle, one codegen stage, no
    * re-join for vectors. The same pair colliding in several
    * tables/probes is deduplicated INSIDE the bounded top-k buffer
    * (`TopKAggregator(distinct = true)`) — no candidate-stream
    * `dropDuplicates` shuffle. Candidate fraction ≈ T(q+1)/2^h of the
    * directed pair space, shrinking as √n grows; map-side partial
    * top-k means the final shuffle is ≤ k rows per group per
    * partition. Skewed corpora would salt hot buckets
    * ([[graft.ops.Skew]]). Oracle-exempt; golden asserts recall@3 ≥
    * 0.7 vs the exact kNN, AnnRecall measures recall/latency at sf0.1.
    */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame =
    // ranking runs on UNROUNDED scores (same dot → same double, so the
    // in-buffer duplicate dedup still fires); the display rounding is
    // applied to the ≤ k·n cut survivors, not the multi-million-row
    // candidate stream — Spark's Round on double allocates a BigDecimal
    // per call. q_knn can't do this: its DuckDB oracle ranks by the
    // rounded score, so it must round before its cut.
    topKCut(annCandidates(spark, dir), 3, distinct = true)
      .withColumn("cos_sim", round(col("cos_sim"), 6))

  /** Builds the LSH posting table for a corpus: one row per (vector,
    * table) holding the bucket code, the directed probe masks, and the
    * normalized vector (the IVF posting-list layout — the inverted
    * list carries the vector). This is the OFFLINE index build. It
    * runs after [[Tables.widen]] of the embeddings scan, so the
    * index lands as several part files and every reader (the search,
    * [[semanticMatchesAnn]], the int8 index build) scans it wide
    * without an exchange of its vectors. */
  private def buildAnnIndex(spark: SparkSession, dir: String): DataFrame =
    annIndex(normalizeEmbeddings(Tables.widen(Tables.embeddings(spark, dir))),
             corpusSize(spark, dir))

  /** The index build over any normalized (vec_id, vn) DataFrame with
    * corpus size n — shared by the dir-keyed materialized path and the
    * facade's inline path ([[graft.Graft.annNeighbors]]). `tables` and
    * `flips` are the recall/latency knobs: more OR-amplified tables
    * multiply per-table miss rates away (recall 1-(1-p)^T) at
    * proportional candidate cost; more single-bit probe flips widen
    * each table's search at ~linear candidate cost. `dim` is the
    * vector dimensionality (the hyperplanes must match it — the
    * facade contract is ANY (vec_id, embedding) frame, not the
    * fixture's 64 dims).
    *
    * Bucket-count policy — the declared-complexity knob:
    *   - default (`targetOccupancy = None`): h ≈ log2(√n) ⇒ ~√n
    *     buckets of ~√n vectors — the classic IVF sizing; per-query
    *     candidates grow as √n, so an ALL-PAIRS self-kNN totals n^1.5
    *     (q_ann_ivf / q_ann_quant's declared exponent).
    *   - occupancy-targeted (`targetOccupancy = Some(B)`):
    *     h ≈ log2(n/B) ⇒ ~n/B buckets of ~B vectors — per-query
    *     candidates are bounded at ~tables·(flips+1)·B BY DESIGN
    *     whatever n does, so the all-pairs total is O(n) and an index
    *     rebuild at 100× the corpus re-sizes the bucket space instead
    *     of letting ADC candidate streams balloon (the q_ann_pq r15
    *     policy — its declared exponent is earned down to 1.0 by this
    *     line, not by measurement luck). */
  private[graft] def annIndex(base: DataFrame, n: Long,
                              tables: Int = NumTables,
                              flips: Int = DefaultProbeFlips,
                              dim: Int = Dim,
                              targetOccupancy: Option[Long] = None): DataFrame = {
    require(tables >= 1 && flips >= 0,
      s"annIndex: need tables >= 1 and flips >= 0, got ($tables, $flips)")
    VectorFunctions.register(base.sparkSession)
    val h = targetOccupancy match {
      case Some(b) =>
        require(b >= 1, s"annIndex: targetOccupancy must be >= 1, got $b")
        math.max(3, math.round(
          math.log(math.max(1.0, n.toDouble / b)) / math.log(2)).toInt)
      case None => math.max(3,
        math.round(math.log(math.sqrt(n.toDouble)) / math.log(2)).toInt)
    }
    val probeFlips = math.min(flips, h) // probes per table = 1 + probeFlips
    val rng = new scala.util.Random(42)
    val planes = Array.fill(tables, h)(Array.fill(dim)(rng.nextGaussian()))
    val powArr = typedlit((0 until h).map(1 << _))
    // per table: signed margins -> (bucket code, directed probe masks)
    def margins(t: Int): Column =
      array(planes(t).map(p =>
        VectorFunctions.dot(col("vn"), typedlit(p.toSeq))): _*)
    def bucketOf(m: Column): Column = (0 until h).map(j =>
      when(element_at(m, j + 1) >= 0d, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)
    def probeMasksOf(m: Column): Column = {
      // flip candidates ranked by |margin| asc: least-confident bits
      val ranked = array_sort(transform(
        sequence(lit(0), lit(h - 1)),
        j => struct(abs(element_at(m, j + 1)).as("a"), j.as("j"))))
      concat(array(lit(0)),
             transform(slice(ranked, 1, probeFlips),
                       s => element_at(powArr, s.getField("j") + 1)))
    }
    base
      .select(col("vec_id") +: col("vn") +:
              (0 until tables).map(t => margins(t).as(s"m$t")): _*)
      .select(col("vec_id"), col("vn"),
              posexplode(array((0 until tables).map(t =>
                struct(bucketOf(col(s"m$t")).as("b"),
                       probeMasksOf(col(s"m$t")).as("pm"))): _*))
                .as(Seq("tbl", "s")))
      .select(col("vec_id"), col("vn"), col("tbl"),
              col("s.b").as("bucket"), col("s.pm").as("pm"))
  }

  // r9 retune (AnnTune sweep at sf0.1, recall@3 vs exact kNN):
  //   T=4 q=4 (the r3-r8 config): 2.57M cands, recall 0.816
  //   T=8 q=3: 4.18M cands (1.6x), recall 0.948
  // More OR-amplified tables with a slightly narrower per-table probe
  // beat wider probing of few tables at equal cost (independent miss
  // rates multiply; extra flips just re-read correlated buckets).
  private val NumTables = 8
  private val DefaultProbeFlips = 3
  private val Dim = 64

  /** Materialized posting table per corpus dir, built once per JVM —
    * the index-build/query split of a real ANN engine: the build
    * (normalize, T×h margin dots, bucket codes, probe masks) runs
    * offline and lands in columnar storage; queries only read the
    * postings. At cluster scale this is the persisted index table
    * (bucketed by (tbl, bucket) at rest); here it is a temp parquet
    * dir keyed by corpus. */
  private val indexPaths =
    IndexCache.materializedParquet("embeddings", "graft_ann_index")(
      buildAnnIndex)
  private[graft] def annPostings(spark: SparkSession, dir: String): DataFrame =
    // Read as built: [[buildAnnIndex]] widens before it writes, so the
    // index is one part file per build task and every reader (the
    // search, [[semanticMatchesAnn]], the int8 index write) scans it
    // wide with no exchange. A read-side widen here once fanned the
    // at-rest int8 table into tiny part files (QuantSpec's size golden
    // caught it); with the wide build the int8 index keeps the float
    // index's files and the goldens hold (plans/corpus_widen.txt).
    graft.Tables.loadPath(spark, indexPaths.get(spark, dir))
  private[graft] def annIndexPath(spark: SparkSession, dir: String): String =
    indexPaths.get(spark, dir)

  /** Incremental ANN index APPEND (r15): posting rows (vec_id, vn,
    * tbl, bucket, pm) for NEW vectors under the corpus index's FROZEN
    * geometry — completing the maintenance triple (near-dup bands:
    * [[Dedup.appendNearDupIndex]]; PQ codes:
    * [[Quant.encodePqAgainst]]). The hyperplanes are a pure function
    * of (tables, h, dim) and a fixed seed, and h derives from the
    * index's BUILD-TIME corpus size — so appending can never move an
    * existing posting row, and a re-encode of an already-indexed
    * vector reproduces its rows bit-identically (QuantSpec pins
    * both). Re-sizing the bucket space for a grown corpus is a
    * deliberate whole-index rebuild, which the content-keyed
    * [[IndexCache]] performs automatically the moment the backing
    * table itself changes. `vecs`: (vec_id, embedding). */
  def encodeAnnAgainst(spark: SparkSession, dir: String,
                       vecs: DataFrame): DataFrame =
    annIndex(normalizeEmbeddings(vecs), corpusSize(spark, dir))

  /** The scored LSH candidate stream feeding [[qAnnIvf]]'s top-k cut —
    * exposed separately so AnnRecall can profile the generation stage
    * against the aggregation stage. */
  private[graft] def annCandidates(spark: SparkSession, dir: String): DataFrame =
    annCandidatesFrom(annPostings(spark, dir), corpusSize(spark, dir))

  /** Scored LSH candidates from any posting table ([[annIndex]]). */
  private[graft] def annCandidatesFrom(codes: DataFrame, n: Long,
                                       tables: Int = NumTables,
                                       dim: Int = Dim): DataFrame = {
    VectorFunctions.register(codes.sparkSession)
    val home = codes.select(col("tbl"), col("bucket"),
                            col("vec_id").as("id_b"), col("vn").as("vn_b"))
    val probes = codes.select(
      col("tbl"), col("vec_id").as("id_a"), col("vn").as("vn_a"),
      explode(transform(col("pm"), m => col("bucket").bitwiseXOR(m)))
        .as("bucket"))
    // posting lists that fit the broadcast budget ship as a broadcast
    // codebook (probe side never shuffles); a corpus past the
    // threshold falls back to the (tbl, bucket) shuffle join — at rest
    // that side is the bucketed index table (sources.Formats bucketBy)
    val homeBytes = n * tables * (dim * 8 + 64L)
    val homeSide = if (homeBytes < (8L << 20)) broadcast(home) else home
    probes.join(homeSide, Seq("tbl", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
              VectorFunctions.dot(col("vn_a"), col("vn_b")).as("cos_sim"))
  }

  /** Approximate k nearest neighbours over any (vec_id, embedding)
    * DataFrame — the facade path ([[graft.Graft.annNeighbors]]): the
    * index is built inline (one sizing count() — the index-build
    * step); for repeated querying of the same corpus, materialize the
    * index instead (the registered q_ann_ivf path / a bucketed-at-rest
    * posting table). Same recall characteristics as q_ann_ivf. */
  def annNeighbors(embeddings: DataFrame, k: Int = 3,
                   tables: Int = NumTables,
                   probeFlips: Int = DefaultProbeFlips): DataFrame = {
    val (n, dim) = sizeAndDim(embeddings, -1L)
    val postings = annIndex(normalizeEmbeddings(embeddings), n,
                            tables, probeFlips, dim)
    topKCut(annCandidatesFrom(postings, n, tables, dim), k, distinct = true)
      .withColumn("cos_sim", round(col("cos_sim"), 6))
  }

  /** Embedding-space outlier report: Euclidean distance of every
    * vector to the corpus centroid, z-scored, top-N most anomalous —
    * the hygiene check that catches corrupt/degenerate embeddings
    * (zero vectors, wrong-model rows, encoder blowups) before they
    * poison dedup/ANN/clustering downstream.
    *
    * Scale: the centroid is a d-row aggregate (posexplode → per-dim
    * avg) reassembled in-plan and broadcast — never a global window;
    * the distance pass is a narrow codegen projection (zip-diff +
    * [[graft.functions.VectorExpressions]] dot); the (mu, sd) scalars
    * ride a second broadcast 1-row DF. Two narrow corpus scans total,
    * no wide shuffle beyond the d-row and 1-row aggregates. */
  def embedOutliers(embeddings: DataFrame, topN: Int = 50): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    val v = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cent = broadcast(
      v.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("pos").agg(avg(col("x")).as("c"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
                       s => s("c")).as("cent")))
    val dists = v.crossJoin(cent)
      .withColumn("diff", zip_with(col("v"), col("cent"), (x, y) => x - y))
      .select(col("vec_id"),
              sqrt(VectorFunctions.dot(col("diff"), col("diff"))).as("dist"))
    val stats = broadcast(dists.agg(
      avg(col("dist")).as("mu"), stddev(col("dist")).as("sd")))
    dists.crossJoin(stats)
      .select(col("vec_id"), round(col("dist"), 6).as("dist"),
              round(when(col("sd").isNull || col("sd") === 0.0, 0.0)
                .otherwise((col("dist") - col("mu")) / col("sd")), 6)
                .as("dist_z"))
      .orderBy(col("dist_z").desc, col("vec_id").asc)
      .limit(topN)
  }

  /** q_embed_outlier: [[embedOutliers]] on the test embeddings. */
  def qEmbedOutlier(spark: SparkSession, dir: String): DataFrame =
    embedOutliers(Tables.embeddings(spark, dir))

  /** Exact power-of-two scale for the centroid sum carrier: a float32
    * value x with |x| ≥ 2⁻²⁶ has at most 50 binary fraction bits, so
    * x·2⁵⁰ (double arithmetic) is EXACT and integral — the per-element
    * cast to DECIMAL(38,0) loses nothing and the distributed sum is
    * order-independent (the boundary-audit discipline: a plain double
    * sum's partial-aggregation order differs run-to-run and
    * engine-to-engine, which is exactly why q_kmeans is golden-exempt;
    * this operator doesn't have to be). */
  private val CentroidScale: Double = 1125899906842624.0 // 2^50

  /** The exact mean vector of `v` (an array of doubles) per `keys`
    * group of `rows`: (keys…, c), `c` in dim order. Each component
    * rides the [[CentroidScale]] carrier: x·2⁵⁰ cast to DECIMAL(38,0),
    * summed per (keys, dim), divided once by 2⁵⁰·n. A value whose
    * x·2⁵⁰ is not integral raises ("…fraction bits…") instead of
    * being silently rounded. Scale: one (keys, dim) partial-combined
    * shuffle of n·dims narrow rows, then one regroup of the
    * |groups|·dims means; `collect_list` sees exactly `dims` elements
    * per group. [[centroidDrift]] and [[Clustering.lloyd]] use it. */
  private[graft] def meanVectors(rows: DataFrame, keys: Seq[String], v: Column): DataFrame = {
    val S = CentroidScale
    val x = col("x")
    val xs = when(x * S === floor(x * S), (x * S).cast("decimal(38,0)"))
      .otherwise(raise_error(concat(
        lit("exact mean: value has >50 fraction bits: "), x.cast("string"))))
    rows.select(keys.map(col) :+ posexplode(v).as(Seq("dim", "x")): _*)
      .groupBy((keys :+ "dim").map(col): _*)
      .agg((sum(xs).cast("double") / (lit(S) * count(lit(1)))).as("mu"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
                     s => s("mu")).as("c"))
  }

  /** Per-group embedding centroids and pairwise centroid cosine — the
    * embedding-space drift report between corpus slices (labels,
    * sources, time buckets): a falling inter-centroid cosine means the
    * slices are pulling apart semantically.
    *
    * Scale: the only fact-table-sized stage is the (group, dim)
    * exact-mean sum ([[meanVectors]]) — n·dims narrow rows, one
    * shuffle bounded by |groups|·dims. Centroid assembly and the
    * pairwise cosine run on |groups| rows (bounded: label/source
    * cardinality doesn't grow with corpus size — the same contract as
    * the k-means centroid table).
    */
  def centroidDrift(embeddings: DataFrame,
                    groupCol: String = "label"): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    val arrs = meanVectors(
      embeddings.select(col(groupCol).as("grp"),
                        transform(col("embedding"), x => x.cast("double")).as("v")),
      Seq("grp"), col("v"))
    val counts = embeddings.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"))
    val sized = arrs.join(counts, "grp")
    val a = sized.select(col("grp").as("label_a"), col("c").as("ca"),
                         col("n").as("n_a"))
    val b = sized.select(col("grp").as("label_b"), col("c").as("cb"),
                         col("n").as("n_b"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(VectorFunctions.dot(col("ca"), col("cb")) /
              (sqrt(VectorFunctions.dot(col("ca"), col("ca"))) *
               sqrt(VectorFunctions.dot(col("cb"), col("cb")))), 6)
          .as("centroid_cos"))
      .orderBy("label_a", "label_b")
  }

  /** q_centroid_drift: [[centroidDrift]] of the test embeddings by
    * `label`. */
  def qCentroidDrift(spark: SparkSession, dir: String): DataFrame =
    centroidDrift(Tables.embeddings(spark, dir))

  private val ProductScale: Double = CentroidScale * CentroidScale // 2^100

  /** Embedding dimensionality from the first row (r11 review: the
    * facade contract is ANY (vec_id, embedding) frame, not the
    * fixture's 64 dims); uniform length is enforced per row by
    * [[graft.functions.CovAggregator]]'s require. */
  private def embedDim(embeddings: DataFrame): Int = {
    val head = embeddings.select(size(col("embedding")).as("d")).limit(1).collect()
    require(head.nonEmpty, "empty embeddings input")
    head(0).getInt(0)
  }

  /** Exact upper-triangle covariance matrix of the embedding columns:
    * (di, dj, cov) for di ≤ dj — the E[xy] − E[x]E[y] form on
    * ORDER-INDEPENDENT integer carriers, the [[centroidDrift]]
    * discipline extended to second moments: each per-row product
    * x·y is exact in double (two 24-bit float32 mantissas → ≤ 48
    * significant bits), and ×2^100 it is an exact integer whenever
    * x·2^50 is (runtime-guarded) — so Σxy rides DECIMAL(38,0), and
    * the one double expression combining Σxy, Σx, Σy, n is evaluated
    * on identical operands by both engines. Magnitude: |Σxy·2^100| ≤
    * n·2^100 — inside DECIMAL(38,0) to n ≈ 10^7 rows.
    *
    * Scale: ONE narrow pass — per row a single Generate of the
    * d(d+1)/2 = 2080 upper-triangle products (a plan-time-constant
    * array, no self-join, no d² explode), then one (di, dj) partial-agg
    * reduction; the 64-row first-moment table joins back by broadcast.
    * The output is d²-bounded (2080 rows), never corpus-sized. */
  def covMatrix(embeddings: DataFrame): DataFrame = {
    val S = CentroidScale
    val P = ProductScale
    val d = embedDim(embeddings)
    val spark = embeddings.sparkSession
    import spark.implicits._
    // one narrow distributed pass: the typed CovAggregator accumulates
    // all d(d+1)/2 radix-split product sums per partition (partial agg)
    // and merges 6 368-long buffers — no explode, no shuffle of a
    // products stream, no per-row BigDecimal (the first cut generated
    // the 2080 products as a nested higher-order-function struct array
    // into a DECIMAL(38,0) sum: ~200 s at 100× where this pass is
    // seconds). The finished buffer is a BOUNDED model artifact (the
    // k-means-centroid pattern); the exact wide-integer reassembly and
    // the one double combining expression per pair run on the driver
    // over 2 080 entries, bit-identical to the oracle's DECIMAL path.
    val buf = embeddings
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[Seq[Double]]
      .select(new CovAggregator(d).toColumn)
      .head()
    val n = buf.n
    require(n > 0, "covMatrix: empty embeddings input")
    val big34 = java.math.BigDecimal.valueOf(17179869184L)
    val big68 = big34.multiply(big34)
    def firstMoment(i: Int): Double =
      big34.multiply(java.math.BigDecimal.valueOf(buf.xa(i)))
        .add(java.math.BigDecimal.valueOf(buf.xc(i)))
        .doubleValue() / (S * n)
    // Spark's round(double, 6) semantics exactly: HALF_UP on the
    // shortest decimal representation (BigDecimal.valueOf)
    def rnd6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val rows = {
      var k = 0
      val out = Seq.newBuilder[(Long, Long, Double)]
      for (i <- 0 until d; j <- i until d) {
        val sxy = big68.multiply(java.math.BigDecimal.valueOf(buf.pa(k)))
          .add(big34.multiply(java.math.BigDecimal.valueOf(buf.pb(k))))
          .add(java.math.BigDecimal.valueOf(buf.pc(k)))
        out += ((i.toLong, j.toLong,
          rnd6(sxy.doubleValue() / (P * n) - firstMoment(i) * firstMoment(j))))
        k += 1
      }
      out.result()
    }
    rows.toDF("di", "dj", "cov").orderBy("di", "dj")
  }

  /** q_embed_cov: [[covMatrix]] of the test embeddings. */
  def qEmbedCov(spark: SparkSession, dir: String): DataFrame =
    covMatrix(Tables.embeddings(spark, dir))

  /** PCA projection of every embedding onto the top-`k` principal
    * components: (vec_id, pc1 … pck) — the whitening/visualization/
    * IVF-PQ-training primitive. The covariance matrix comes from
    * [[covMatrix]] (deterministic integer carriers, d² = 4096 doubles
    * — a BOUNDED model artifact collected to the driver, the k-means-
    * centroid pattern, never corpus-scale); eigenvectors by fixed-
    * iteration power iteration with deflation (deterministic: fixed
    * start 1/√d, fixed 200 steps, no RNG), sign-canonicalized so each
    * component's largest-|loading| coordinate is positive. The
    * projection itself is the scale path: k broadcast literal vectors
    * dotted against each row in one narrow codegen'd pass.
    *
    * Oracle-exempt (no eigensolver in SQL; the COVARIANCE input is the
    * oracle-green q_embed_cov): PcaSpec pins planted-axis recovery,
    * eigenvalue ordering, component orthogonality and determinism. */
  def pcaProject(embeddings: DataFrame, k: Int = 2): DataFrame = {
    val d = embedDim(embeddings)
    require(k >= 1 && k <= d, s"pcaProject: k must be in [1, $d], got $k")
    val spark = embeddings.sparkSession
    // bounded model artifact: 2080 upper-triangle entries -> dense sym
    val cov = Array.ofDim[Double](d, d)
    covMatrix(embeddings).collect().foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    def matVec(m: Array[Array[Double]], x: Array[Double]): Array[Double] = {
      val y = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * x(j); j += 1 }
        y(i) = s; i += 1
      }
      y
    }
    def norm(x: Array[Double]): Double = math.sqrt(x.map(a => a * a).sum)
    val comps = Array.ofDim[Double](k, d)
    val eigs = new Array[Double](k)
    val m = cov.map(_.clone())
    def rayleigh(x: Array[Double]): Double = {
      val y = matVec(m, x)
      var s = 0.0; var i = 0
      while (i < d) { s += x(i) * y(i); i += 1 }
      s
    }
    def iterate(x0: Array[Double], steps: Int): Array[Double] = {
      var xs = x0
      for (_ <- 0 until steps) {
        val y = matVec(m, xs)
        val n = norm(y)
        // deflated-to-zero residual matrix: keep the previous iterate
        if (n > 0) xs = y.map(_ / n)
      }
      xs
    }
    for (c <- 0 until k) {
      // deterministic start cascade, max-Rayleigh SELECT-THEN-CONTINUE
      // (r11 advice + r12 oracle): a start that is EXACTLY a
      // non-dominant eigenvector (e.g. all-ones when the variance lies
      // along e0−e1 — FP symmetry keeps every iterate on e0+e1)
      // passes any escapes-the-null-space check yet never leaves the
      // minor axis, silently inverting the eigenvalue order. So EVERY
      // cascade start (uniform, then each basis vector — at least one
      // basis vector has a nonzero v1 component since v1 ≠ 0) runs a
      // fixed SelIters selection phase; the iterate with the LARGEST
      // Rayleigh quotient (strict >, earliest start on exact FP ties)
      // wins and continues to the full 200 steps — equivalent to
      // running 200 steps on the winning start alone, at (starts ×
      // SelIters + 200) matvecs instead of (starts × 200). The
      // stuck-start trap still loses: its Rayleigh is pinned at the
      // minor eigenvalue while any start with a dominant component
      // exceeds it within SelIters (power-iteration Rayleigh
      // quotients are monotone non-decreasing on a PSD matrix).
      // Every arithmetic step here is mirrored verbatim by the
      // q_embed_pca DuckDB oracle (Queries.pcaOracleSql) — keep them
      // in lockstep.
      val starts = Iterator(Array.fill(d)(1.0 / math.sqrt(d))) ++
        (0 until d).iterator.map { i =>
          val e = new Array[Double](d); e(i) = 1.0; e }
      var x: Array[Double] = null
      var lambda = Double.NegativeInfinity
      for (s0 <- starts) {
        if (norm(matVec(m, s0)) > 0) {
          val xs = iterate(s0, SelIters)
          val l = rayleigh(xs)
          if (x == null || l > lambda) { x = xs; lambda = l }
        }
      }
      if (x == null) { // zero residual matrix: well-defined zero-variance
        x = Array.fill(d)(1.0 / math.sqrt(d)); lambda = 0.0
      } else {
        x = iterate(x, 200 - SelIters)
        lambda = rayleigh(x)
      }
      // sign canon: largest-|loading| coordinate (lowest dim on ties)
      // positive — removes the eigenvector's inherent sign ambiguity
      val pivot = x.indices.maxBy(i => (math.abs(x(i)), -i))
      val canon = if (x(pivot) < 0) x.map(-_) else x
      comps(c) = canon; eigs(c) = lambda
      // deflate: m -= lambda v v^T
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { m(i)(j) -= lambda * canon(i) * canon(j); j += 1 }
        i += 1
      }
    }
    VectorFunctions.register(spark)
    val v = embeddings
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val projCols = (0 until k).map { c =>
      val lits = array(comps(c).map(lit): _*)
      round(VectorFunctions.dot(col("v"), lits), 6).as(s"pc${c + 1}")
    }
    v.select(col("vec_id") +: projCols: _*).orderBy("vec_id")
  }

  /** Selection-phase iteration count of [[pcaProject]]'s start
    * cascade — shared with the mirrored DuckDB oracle. */
  private[graft] val SelIters = 24

  /** q_embed_pca: [[pcaProject]] top-2 projections of the test
    * embeddings. */
  def qEmbedPca(spark: SparkSession, dir: String): DataFrame =
    pcaProject(Tables.embeddings(spark, dir))
}
