package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SetFunctions, SimHashFunctions}

/** Deduplication operators (SURVEY.md §2.2 + north-star LLM-pipeline
  * surface): exact hash-grouping, prefix-filtered exact Jaccard,
  * MinHash+LSH banding, SimHash banding, and connected-component
  * clustering for near-duplicate handling at scale.
  *
  * Scale story: exact dedup is one hash-shuffle; the exact Jaccard
  * join is prefix-filtered (SSJoin/PPJoin — candidates from an
  * inverted-index join on each set's rarest-token prefix, provably
  * lossless, no O(n²) term) plus the size-ratio bound; MinHash+LSH
  * replaces even the verify-side exactness with a band-bucket shuffle
  * — the 100 TB recall path; clustering turns any pair list into
  * one-survivor components with per-round lineage truncation. All
  * pure expression pipelines except the (deliberately iterative)
  * clustering: deterministic, no driver data, no RNG at execution
  * time (hash-perm constants are baked at plan build).
  */
object Dedup {

  /** Exact duplicate grouping by content hash over any
    * (doc_id, text, ...) DataFrame — the library entry point
    * ([[graft.Graft.dedupExact]]). */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
      .orderBy("h")

  /** q_dedup_exact: [[dedupExact]] on the test corpus. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExact(Tables.documents(spark, dir))

  /** q_sim_jaccard: exact within-language pairwise token-set Jaccard
    * ≥ 0.9 — the exact counterpart (and verifier) of q_dedup_near —
    * via a PREFIX-FILTERED set-similarity join (the SSJoin/PPJoin
    * family: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08), replacing
    * the blocked O(n²) self-join entirely while provably returning the
    * identical result:
    *
    *  1. token sets are re-encoded as ranks in a RAREST-FIRST global
    *     order (document frequency asc, hash asc — a broadcast-joined
    *     vocabulary), so each set's sorted prefix holds its rarest
    *     tokens;
    *  2. J(A,B) ≥ τ forces |A∩B| ≥ τ·|A|, so A and B must share an
    *     element inside their first |X| - ⌈τ·|X|⌉ + 1 elements — the
    *     candidate join is an inverted-index join on prefix tokens
    *     (rare ⇒ short posting lists ⇒ near-linear candidates), never
    *     an all-pairs product;
    *  3. candidates (plus the size-ratio prune, also implied by
    *     J ≥ τ) are verified exactly with the codegen merge
    *     intersection ([[graft.functions.SortedIntersectSize]]);
    *     |A∪B| = |A|+|B|-|A∩B|.
    *
    * Injective token→hash→rank mapping preserves distinct counts and
    * intersections, so the DuckDB string-set oracle is unchanged. The
    * rank comes from a range-partitioned sort + zipWithIndex (parallel
    * dense ranking), never a single-partition global window.
    *
    * Verify placement (r5): the sorted rank arrays ride THROUGH the
    * prefix join (a prefix row is ~(1-τ)|X| per doc, so the exploded
    * side is small) and each candidate occurrence is verified INLINE in
    * the same codegen stage — merge-intersect, jaccard, filter — with
    * only the ≥ τ survivors deduplicated. The r3 shape deduplicated the
    * 10×-larger raw candidate stream first and then re-joined the
    * arrays on twice (3 shuffles of candidate-scale data); verifying
    * duplicate occurrences redundantly is pure co-located CPU (a ~|X|
    * merge scan) and removes all of them. A same pair can collide on
    * up to prefixLen tokens, so multiplicity is bounded by the prefix
    * length, not the corpus.
    */
  def qSimJaccard(spark: SparkSession, dir: String): DataFrame =
    finishJaccard(jaccardVerifiedFrom(corpusTokenSets(spark, dir), 0.9))

  /** [[qSimJaccard]]'s engine over any (doc_id, lang, toks) DataFrame —
    * the library entry point ([[graft.Graft.jaccardPairs]]). */
  def jaccardPairs(docToks: DataFrame, tau: Double = 0.9): DataFrame =
    finishJaccard(jaccardVerified(docToks, tau))

  private def finishJaccard(verified: DataFrame): DataFrame =
    verified
      // duplicate candidate occurrences carry identical jac — dedup the
      // survivors (output-scale), not the candidate stream
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
      .orderBy("doc_a", "doc_b")

  /** Content-keyed MATERIALIZED [[rankedTokenSets]] table for the
    * test corpus — the [[IndexCache]] lifecycle (re-fingerprint per
    * get, rebuild iff the corpus changed). The table is
    * tau-INDEPENDENT, so q_sim_jaccard, q_sim_containment and the
    * near-dup cluster build all share one materialization instead of
    * each re-paying the tokenize + vocab-rank + re-encode front half
    * (~2 s each at sf0.1). At cluster scale this is the at-rest form
    * of the set-similarity index: re-encoded rarest-first token
    * arrays, partition-friendly, consumed by any threshold. */
  private val tokenSetTablePaths =
    IndexCache.materializedParquet("documents", "graft_token_sets")(
      (s, d) => rankedTokenSets(Tables.docTokens(s, d)))

  private[graft] def corpusTokenSets(spark: SparkSession,
                                     dir: String): DataFrame =
    graft.Tables.loadPath(spark, tokenSetTablePaths.get(spark, dir))

  /** Semantics-keyed LRU of the persisted set tables (r11 verdict #5:
    * the bare persist() relied on callers' clearCache — a long
    * session composing many distinct inputs leaked an entry each;
    * now repeated inputs reuse one entry and eviction unpersists). */
  private val tokenSetPlans = new PlanCache("token_set_plans", maxEntries = 4)

  /** Shared front half of the set-similarity joins: per-doc SORTED
    * arrays of rarest-first vocabulary ranks,
    * (doc_id, lang, hset, nset), persisted via a bounded
    * semantics-keyed [[PlanCache]] (feeds both sides of a self-join).
    * Used by [[jaccardVerified]] and [[containmentPairs]]. */
  private[graft] def rankedTokenSets(docToks: DataFrame): DataFrame =
    tokenSetPlans.get(docToks)(rankedTokenSetsPlan)

  private def rankedTokenSetsPlan(docToks: DataFrame): DataFrame = {
    val spark = docToks.sparkSession
    SetFunctions.register(spark, permA, permB, MersennePrime)
    val d0 = docToks
      .select(col("doc_id"), col("lang"),
              // sorted distinct token hashes in one pass (full 64 bits
              // — injectivity backs the oracle parity of the counts)
              SetFunctions.shingleHashes(col("toks"), 1, -1L).as("hs"))
    // rarest-first vocabulary rank (df asc). NOT a global row_number
    // window (that collapses the whole vocabulary through one task —
    // the classic scale-killer on a 100 TB corpus's vocab): a range-
    // partitioned sort + zipWithIndex assigns the identical dense rank
    // fully in parallel (one lightweight partition-count pass). One of
    // the two deliberate RDD touches in the codebase (the other is the
    // multimodal codec boundary) — dense global indexing is a genuine
    // per-partition-offset computation Catalyst has no operator for.
    val vocabDf = d0.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val vocab = spark.createDataFrame(
      vocabDf.orderBy("df", "h").rdd
        .zipWithIndex.map { case (r, i) => org.apache.spark.sql.Row(
          r.getLong(0), i + 1L) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType))))
    // NO broadcast hint on the rank table: a 100 TB web corpus has a
    // Heaps-law vocabulary (10^8-10^9 distinct tokens) — a forced
    // broadcast of that table OOMs executors. A plain equi-join on
    // `h` lets AQE broadcast at runtime when the vocab actually fits
    // (it does at test SFs — same plan as before) and fall back to a
    // shuffle join when it doesn't. Candidate volume downstream is
    // unchanged: the join only attaches ranks, it doesn't filter.
    d0.select(col("doc_id"), col("lang"), explode(col("hs")).as("h"))
      .join(vocab, "h")
      .groupBy("doc_id", "lang")
      .agg(sort_array(collect_list(col("rank"))).as("hset"))
      .withColumn("nset", size(col("hset")))
      // persisted by the PlanCache wrapper, NOT localCheckpoint, and
      // deliberately so: a localCheckpoint here replaces the plan
      // with a stats-less LogicalRDD, and the downstream prefix
      // self-join loses its size estimate — Catalyst falls back from
      // broadcast-hash to sort-merge and q_sim_jaccard measures 2x
      // slower (6.0 s vs 3.0 s warm at sf0.1; q_dedup_cluster, which
      // consumes the pair stream, 11.5 s vs 8.1 s).
  }

  /** The verified ≥ τ pair stream BEFORE presentation (unsorted,
    * unrounded, a pair may appear once per shared prefix token).
    * Consumers that are insensitive to duplicates — min-label
    * propagation, EXISTS-style flags — read this directly and skip the
    * output-only dedup/round/sort ([[dedupClusters]] feed). */
  private[graft] def jaccardVerified(docToks: DataFrame,
                                     tau: Double = 0.9): DataFrame =
    jaccardVerifiedFrom(rankedTokenSets(docToks), tau)

  /** [[jaccardVerified]] over a PREBUILT (doc_id, lang, hset, nset)
    * set table — the materialized-index path ([[corpusTokenSets]]). */
  private[graft] def jaccardVerifiedFrom(d: DataFrame,
                                         tau: Double): DataFrame = {
    // the verify kernel is a registered codegen function; the
    // materialized-table path skips rankedTokenSets' registration site
    SetFunctions.register(d.sparkSession, permA, permB, MersennePrime)
    val prefixLen = col("nset") - ceil(col("nset") * tau).cast("int") + 1
    // the rank array rides along: the candidate join feeds the verify
    // expression directly, no re-join for payloads
    val pre = d.select(col("doc_id"), col("lang"), col("nset"), col("hset"),
                       explode(slice(col("hset"), lit(1), prefixLen)).as("p"))
    val a = pre.select(col("doc_id").as("doc_a"), col("lang"),
                       col("nset").as("n_a"), col("hset").as("hset_a"), col("p"))
    val b = pre.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
                       col("nset").as("n_b"), col("hset").as("hset_b"),
                       col("p").as("p_b"))
    a.join(b,
        col("lang") === col("lang_b") && col("p") === col("p_b")
          && col("doc_a") < col("doc_b")
          // size-ratio prune, implied by the final J >= tau filter
          && col("n_a") >= col("n_b") * tau && col("n_b") >= col("n_a") * tau)
      .withColumn("inter",
        SetFunctions.sortedIntersectSize(col("hset_a"), col("hset_b")))
      .select(col("doc_a"), col("doc_b"),
              (col("inter").cast("double")
                / (col("n_a") + col("n_b") - col("inter"))).as("jac"))
      .filter(col("jac") >= tau)
  }

  /** Exact DIRECTED containment join: pairs where
    * `|A∩B| / |A| ≥ τ` — doc A's token set is (nearly) a subset of
    * doc B's. The asymmetric cousin of [[jaccardPairs]] that Jaccard
    * misses when sizes differ (a quoted paragraph inside a 100×
    * longer page has J ≈ 0.01 but containment ≈ 1): quote detection,
    * subset-dedup, wrapper-page collapse.
    *
    * Prefix filter (exact, asymmetric): if `|A∩B| ≥ τ|A|` then at
    * most `(1-τ)|A|` of A's tokens fall outside B, so A's
    * `⌊(1-τ)|A|⌋+1` RAREST tokens must hit B somewhere — the probe
    * side explodes only that prefix, while the container side posts
    * its full (rarest-first ranked) token list. Candidates are driven
    * by the df of A's rarest tokens, so volume stays near-linear; the
    * only size prune available is `|B| ≥ τ|A|` (containment imposes
    * no upper bound on the container). Verify is the same inline
    * codegen merge-intersect as the Jaccard join, on the arrays that
    * rode through the candidate join.
    */
  def containmentPairs(docToks: DataFrame, tau: Double = 0.9): DataFrame =
    containmentPairsFrom(rankedTokenSets(docToks), tau)

  /** [[containmentPairs]] over a PREBUILT set table
    * ([[corpusTokenSets]]). */
  private[graft] def containmentPairsFrom(d: DataFrame,
                                          tau: Double): DataFrame = {
    SetFunctions.register(d.sparkSession, permA, permB, MersennePrime)
    val prefixLen = col("nset") - ceil(col("nset") * tau).cast("int") + 1
    // r16 (guide §2.2 "shuffle fewer bytes"): the container side
    // explodes its FULL ranked list (that is the algorithm), so
    // carrying hset_b through that explode duplicated each container's
    // array |B| times — O(Σ|B|²) join-input bytes — and the verify
    // intersect ran once per SHARED PREFIX TOKEN of a pair instead of
    // once per pair. Candidates are now generated array-free, deduped
    // to distinct (doc_a, doc_b) FIRST, and the two arrays re-attach
    // by equi-join against the (bounded, at-rest) set table before a
    // single verify per pair. Same candidate set, same verify kernel,
    // same emitted rows.
    val a = d.select(col("doc_id").as("doc_a"), col("lang"),
                     col("nset").as("n_a"),
                     explode(slice(col("hset"), lit(1), prefixLen)).as("p"))
    val b = d.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
                     col("nset").as("n_b"),
                     explode(col("hset")).as("p_b"))
    val cand = a.join(b,
        col("lang") === col("lang_b") && col("p") === col("p_b")
          && col("doc_a") =!= col("doc_b")
          && col("n_b") >= col("n_a") * tau)
      .select(col("doc_a"), col("doc_b"), col("n_a"))
      .dropDuplicates("doc_a", "doc_b")
    // INVARIANT (r17, ADVICE): the re-attach below keys on doc_id
    // ALONE, so its equivalence to the old carry-through form rests on
    // doc_id being unique in the set table — which [[rankedTokenSets]]
    // guarantees (one row per corpus doc; doc_id is the corpus primary
    // key). Keying on (doc_id, lang) was A/B'd and cost +0.5 s at
    // sf0.1 (a wider shuffle key on both probe sides) for a case the
    // contract already excludes.
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("hset").as("hset_a")),
            "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("hset").as("hset_b")),
            "doc_b")
      .withColumn("inter",
        SetFunctions.sortedIntersectSize(col("hset_a"), col("hset_b")))
      .select(col("doc_a"), col("doc_b"),
              (col("inter").cast("double") / col("n_a")).as("cont"))
      .filter(col("cont") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("cont"), 6).as("cont"))
      .orderBy("doc_a", "doc_b")
  }

  /** q_sim_containment: [[containmentPairsFrom]] over the shared
    * materialized set table. */
  def qSimContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairsFrom(corpusTokenSets(spark, dir), 0.9)

  // ---- MinHash + LSH (q_dedup_near — oracle-exact since r12: every
  //      hash in the pipeline is engine-independent) ----

  private[graft] val MinhashK = 48        // signature length
  private[graft] val Bands = 12           // LSH bands...
  private val RowsPerBand = 4      // ...of 4 rows: P(candidate | J=0.9) ≈ 1-6e-5
  private[graft] val MersennePrime = 2147483647L
  // Deterministic hash-permutation constants (fixed seed — results are
  // reproducible run to run; no RNG at execution time).
  private[graft] val (permA, permB) = {
    val rng = new scala.util.Random(42)
    (Array.fill(MinhashK)(1L + rng.nextInt(Int.MaxValue - 1)),
     Array.fill(MinhashK)(rng.nextInt(Int.MaxValue).toLong))
  }

  /** 3-token shingle hashes (sorted distinct, folded to [0, p)) for a
    * tokens col — one [[graft.functions.ShingleHashes]] pass per doc
    * (the interpreted ngram→hash→distinct→sort expression chain cost
    * ~750 µs/doc, ~3.8 s per materialization at sf0.1). Sorted so the
    * verify stage can use the merge-scan intersection. */
  private[graft] def shingleHashes(toks: Column): Column =
    SetFunctions.shingleHashes(toks, 3, MersennePrime)

  /** MinHash signature: sig[i] = min over shingles of (a_i*h + b_i)
    * mod p — one [[graft.functions.MinHashSig]] loop per document
    * (the interpreted higher-order formulation cost ~10 s at sf0.1). */
  private[graft] def minhashSig(sh: Column): Column =
    graft.functions.SetFunctions.minhashSig(sh)

  /** LSH band bucket key: md5 over the decimal rendering
    * "band,v1,...,v_r" of the signature slice — r12, replacing the
    * r2-r11 Spark murmur3 `hash()`. md5-of-concat is engine-independent
    * (DuckDB: `md5(band || ',' || string_agg(v, ',' ORDER BY i))`), so
    * the banded candidate join is oracle-checkable in SQL; the 32-hex
    * key is 4× a murmur long but still ~12× smaller than dragging the
    * signature slice itself through the self-join (the r2 lesson). */
  private[graft] def bandKey(sig: Column, band: Column, rowsPerBand: Int): Column =
    md5(concat_ws(",", band.cast("string"),
      array_join(transform(slice(sig, band * rowsPerBand + 1, lit(rowsPerBand)),
                           _.cast("string")), ",")))

  /** q_dedup_near: MinHash signatures → LSH band buckets → candidate
    * pairs → exact shingle-Jaccard verification ≥ 0.8. Oracle-exact
    * since r12: md5-low64 shingle hashes, fixed-seed permutation
    * constants interpolated into the oracle SQL, and md5 band keys
    * make every stage DuckDB-expressible (Queries.minhashCtes), so
    * the banding recall is CHECKED, not trusted — on top of the
    * planted-duplicate recall properties ScalaTest already asserts.
    */
  def qDedupNear(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(Tables.docTokensWide(spark, dir))

  /** [[qDedupNear]]'s engine over any (doc_id, toks) DataFrame — the
    * library entry point ([[graft.Graft.nearDupPairs]]). `bands` is
    * the recall/cost knob: the 48-permutation signature splits into
    * `bands` bands of 48/bands rows — more bands (shorter bands) catch
    * lower-similarity pairs at more candidate cost; candidate
    * P(J) = 1-(1-J^(48/bands))^bands. Must divide 48. */
  def nearDupPairs(docToks: DataFrame, tau: Double = 0.8,
                   bands: Int = Bands): DataFrame = {
    require(bands >= 1 && MinhashK % bands == 0,
      s"nearDupPairs: bands must divide $MinhashK, got $bands")
    val rowsPerBand = MinhashK / bands
    val spark = docToks.sparkSession
    SetFunctions.register(spark, permA, permB, MersennePrime)
    // Persisted: the shingle table feeds both self-join sides and both
    // verify joins — without it each consumer re-parses, re-hashes and
    // re-sorts every document (4× the dominant cost). At cluster scale
    // this is the signature table you'd materialize to storage.
    // Not widened here: the input arrives as wide as its caller made
    // it (q_dedup_near reads Tables.docTokensWide, so the exchange
    // moves raw text and this shingle pass runs on every split). r16
    // and r17 measured a widen here as a loss at sf0.1 (2.4 vs 1.75 s,
    // then 1.74 vs 1.66 s) with 32-wide partitions of token arrays;
    // the text widen at the byte-derived width measured level or
    // better at sf0.1 and on the 3x corpus (plans/corpus_widen.txt).
    // EAGER localCheckpoint, not persist (r17, measured): with a lazy
    // cache the self-join sides and verify joins all start on a COLD
    // cache and each recomputes the parse+hash+sort pipeline into it
    // (ProfileOne: three serial ~530 ms single-task stages per run —
    // the r16 priming count() guarded exactly this, but as an extra
    // job; the eager checkpoint is the same materialization without
    // one). Jobs 16 → 9, stage work 3.3 → 1.0 s (ProfileOne).
    val docs = docToks
      .select(col("doc_id"), shingleHashes(col("toks")).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    // band → bucket key (hash of the band's signature slice). Only
    // (doc_id, band, bkey) flows through the self-join — the shingle
    // arrays are re-joined onto the deduplicated candidate PAIRS, not
    // dragged through every band row (12× array payload otherwise).
    val banded = docs
      .withColumn("sig", minhashSig(col("sh")))
      .select(col("doc_id"), col("sig"),
              explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
              bandKey(col("sig"), col("band"), rowsPerBand).as("bkey"))
      .localCheckpoint()
    // (r17 history: the r16 snapshot commit guarded the cache-miss
    // race with a priming `banded.count()`; the first r17 A/B measured
    // that count as a small net loss and removed it, but ProfileOne
    // then showed the race really does triple the signature compute —
    // the eager checkpoints above are the same guard without the extra
    // job, and measure faster than both prior forms.)
    val cands = bandCandidates(banded)
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter",
        SetFunctions.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .select(col("doc_a"), col("doc_b"),
              (col("inter").cast("double")
                / (size(col("sh_a")) + size(col("sh_b")) - col("inter"))).as("jac"))
      .filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  /** Hot-band salting threshold: a band bucket larger than this gets
    * split into ceil(size/threshold) salted sub-keys. */
  val HotBucketThreshold = 4096

  /** Band-bucket self-join with HOT-BUCKET SALTING (r14, verdict ask
    * #7): a boilerplate-heavy corpus puts thousands of documents into
    * ONE (band, bkey) bucket, and a plain self-join then evaluates
    * that bucket's |B|² candidate pairs inside a single task — the
    * q_join_skew failure mode on the LSH key. Mitigation: bucket
    * sizes ride the same shuffle key (a co-partitioned count + join,
    * ~free for normal buckets), and a bucket of size |B| >
    * [[HotBucketThreshold]] splits into S = ceil(|B|/threshold)
    * salts — the probe side takes salt = hash(doc) mod S, the build
    * side replicates each row to all S salts, and the join key grows
    * to (band, bkey, salt). Every intra-bucket pair still meets in
    * exactly one salt task (a's salt; b's replica is there), so the
    * RESULT SET IS IDENTICAL — the oracle row doesn't move — while
    * per-task candidates drop from |B|² to ≤ threshold·|B| and the
    * hot bucket spreads over S tasks. Normal buckets have S = 1: no
    * replication, no behavior change. The |B|² total verification
    * WORK is inherent to LSH on boilerplate (every pair really is a
    * candidate); what salting buys is that no single task owns it. */
  private[graft] def bandCandidates(banded: DataFrame,
                                    hotBucket: Int = HotBucketThreshold): DataFrame = {
    val sizes = banded.groupBy("band", "bkey")
      .agg(count(lit(1)).as("bsz"))
      .withColumn("nsalt",
        ceil(col("bsz") / lit(hotBucket.toDouble)).cast("int"))
      .select(col("band"), col("bkey"), col("nsalt"))
    val sized = banded.join(sizes, Seq("band", "bkey"))
    val saltOf = pmod(conv(substring(
        md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      col("nsalt").cast("long")).cast("int")
    val a = sized.select(col("band"), col("bkey"),
                         col("doc_id").as("doc_a"), saltOf.as("salt"))
    val bn = sized.select(col("band").as("band_b"), col("bkey").as("bkey_b"),
                          col("doc_id").as("doc_b"),
                          explode(sequence(lit(0), col("nsalt") - 1))
                            .as("salt_b"))
    a.join(bn,
        col("band") === col("band_b") && col("bkey") === col("bkey_b")
          && col("salt") === col("salt_b")
          && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** q_dedup_cluster: connected components over the exact near-dup
    * pairs ([[qSimJaccard]] edges) → cluster id (component-min doc_id),
    * cluster size, and the keeper flag — the step a corpus dedup
    * actually ships: near-dup PAIRS are not actionable until they are
    * CLUSTERS with one survivor each (A~B, B~C must keep one of
    * {A,B,C}, not two).
    *
    * Algorithm: iterative min-label propagation (the degenerate-simple
    * member of the large-star/small-star family): every node starts
    * labelled with itself; each round takes the min of its label and
    * its neighbours' labels; converges in O(component diameter)
    * rounds. Each round is one join + one partial-agg groupBy on the
    * edge list — no driver data beyond the single scalar convergence
    * check per round (the standard iterative-algorithm control flow;
    * the labels themselves never leave the executors). Near-dup
    * components are shallow in practice (dup clusters, not social
    * graphs), so the round count is small; the 50-round cap is a
    * safety net, not a tuning knob. Docs in no pair (singleton
    * clusters) are not emitted — the universe is the pair graph.
    * Oracle: DuckDB recursive-CTE transitive closure with min-label
    * aggregation over the same pair query. */
  def qDedupCluster(spark: SparkSession, dir: String): DataFrame =
    corpusClusters(spark, dir).orderBy("doc_id")

  /** Content-keyed MATERIALIZED near-dup cluster table for the test
    * corpus — the [[IndexCache]] lifecycle the ANN posting tables
    * already use (re-fingerprints the backing parquet per get,
    * rebuilds iff the corpus changed). q_dedup_cluster and
    * q_dedup_keep_best both consume the same pair stream + CC
    * propagation; before r8 each independently paid rankedTokenSets +
    * the prefix-filter join + its own propagation loop (~10.8 s
    * combined at sf0.1). Now the first consumer builds and the
    * second pays only its own presentation (keepBest = one quality
    * join + per-cluster window). At cluster scale this is the
    * standard artifact contract: clusters are an INDEX over the
    * corpus, not a per-query recomputation.
    *
    * Feed = verified pairs deduplicated (the dedup keeps the ITERATED
    * edge list small) but WITHOUT qSimJaccard's round + total sort —
    * presentation-only work the propagation never reads; the DuckDB
    * recursive-CTE oracle's closure is identical either way. */
  private val clusterTablePaths =
    IndexCache.artifact[(String, Int)]("documents", "graft_dedup_clusters") { (s, d, out) =>
      val (clusters, rounds) = clustersAndRounds(
        jaccardVerifiedFrom(corpusTokenSets(s, d), 0.9)
          .dropDuplicates("doc_a", "doc_b"))
      clusters.write.parquet(s"$out/clusters.parquet")
      (s"$out/clusters.parquet", rounds)
    }

  private[graft] def corpusClusters(spark: SparkSession,
                                    dir: String): DataFrame =
    graft.Tables.loadPath(spark, clusterTablePaths.get(spark, dir)._1)

  /** Propagation rounds the corpus cluster table took to converge. */
  private[graft] def corpusClusterRounds(spark: SparkSession,
                                         dir: String): Int =
    clusterTablePaths.get(spark, dir)._2

  /** [[qDedupCluster]]'s engine over ANY (doc_a, doc_b, ...) pair
    * DataFrame — jaccard pairs, MinHash pairs, embedding pairs all
    * work; the library entry point ([[graft.Graft.dedupClusters]]). */
  def dedupClusters(pairDf: DataFrame): DataFrame =
    clustersAndRounds(pairDf)._1

  /** [[dedupClusters]] and its propagation round count — observability
    * for the O(log d) pointer-jumping claim (pinned by the long-chain
    * fixture in GraftFacadeSpec). */
  private[graft] def clustersAndRounds(pairDf: DataFrame): (DataFrame, Int) = {
    // Each round's plan references the previous round TWICE (directly
    // and through nbr_min), so every round ends in a checkpoint
    // ([[Iterate.rounds]]); without lineage truncation the logical plan
    // doubles per round — exponential analysis cost and a driver OOM by
    // ~round 25. The symmetric edge list comes from ONE explode pass
    // (not pairs ∪ swap), so the feeding pair query is evaluated
    // exactly once, inside the setup checkpoint.
    // size-adaptive iteration width (r16): see [[Tables.adaptiveParts]]
    val nParts = graft.Tables.adaptiveParts(pairDf)
    // partitioned on dst, NOT src (r16): the per-round neighbour-min
    // join probes edges.dst = labels.id, so a src-partitioned edge
    // table was re-shuffled by dst in EVERY round — dst-partitioning
    // satisfies that join for free (the list is symmetric, so the two
    // layouts hold identical rows). The one groupBy(src) that keyed
    // off the old layout is the seed aggregate, paid once. The feeding
    // pair query's size estimate is usually unusable, so the loop is
    // sized from the materialized edge count.
    val symmetric = pairDf
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val (labels, rounds) = Iterate.over(symmetric, nParts, col("dst"))((loop, edges, _) => propagate(loop, edges))
    val sized = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    (finishClusters(labels, sized), rounds)
  }

  /** The min-label propagation loop over a symmetric (src, dst) edge
    * list checkpointed on `loop` and partitioned on dst: (id, label) for
    * every node, and the rounds it took.
    *
    * Seeded with min(id, min neighbour) — the first propagation round
    * for free (one groupBy on the edge list, no join). Labels only ever
    * DECREASE (min propagation), so the label sum strictly decreases
    * iff any label changed — a scalar observed on each round's
    * checkpoint job instead of a (self-lineage-ambiguous) prev⋈next
    * join. DECIMAL(38,0), not Long: billions of 64-bit ids sum past
    * 2^63 and a wrapped-equal Long sum would falsely signal
    * convergence. Pointer jumping closes any component in
    * O(log diameter) rounds; its join leaves the labels keyed on their
    * label, so each round ends partitioned on id again. */
  private[graft] def propagate(loop: Iterate, edges: DataFrame): (DataFrame, Int) = {
    val out = loop.rounds(edges.groupBy(col("src").as("id"))
        .agg(least(col("src"), min(col("dst"))).as("label")),
      50, sum(col("label").cast("decimal(38,0)")))(
      (labels, _) => loop.partitioned(propagationRound(edges, labels), col("id")),
      stop = _ == _, failAtCap = true)
    loop.release(edges)
    out
  }

  /** One min-label propagation + pointer-jumping round, factored out
    * of [[dedupClusters]] so its PLAN SHAPE is pinnable
    * (PlanShapeSpec): the full query's final plan only shows the
    * checkpointed `ExistingRDD`, hiding any in-loop regression to a
    * cartesian or a lost map-side combine. Shape contract: two
    * equi-joins (neighbour-min, pointer jump) + one partial-agg min;
    * no cartesian, no window. Every join builds its hash table from the
    * label side: a broadcast would be a job of its own in every round
    * ([[Iterate.rounds]]), and the edge list on the dst key it is
    * partitioned on is never sorted or re-shuffled. */
  private[graft] def propagationRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    // neighbour-min propagation ...
    val lbl = labels.hint("shuffle_hash")
    val nbrMin = edges.join(lbl, edges("dst") === lbl("id"))
      .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
    val prop = labels
      .join(nbrMin.hint("shuffle_hash"), labels("id") === nbrMin("src"), "left")
      .select(col("id"),
              least(col("label"), coalesce(col("nbr_min"), col("label")))
                .as("label"))
    // ... then pointer jumping (label ← label(label)): path
    // compression turns the O(diameter) round count into O(log d) —
    // every label is a node id, so the self-join always resolves
    prop.as("x")
      .join(prop.select(col("id").as("jid"), col("label").as("jlabel")).hint("shuffle_hash").as("j"),
            col("x.label") === col("j.jid"), "left")
      .select(col("x.id").as("id"),
              coalesce(col("j.jlabel"), col("x.label")).as("label"))
  }

  private def finishClusters(labels: DataFrame,
                             sized: DataFrame): DataFrame = {
    labels.join(sized, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster"),
              col("cluster_size"),
              (col("id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Per-cluster canonical selection — the curation ACTION the
    * cluster report feeds: given near-dup clusters and a per-doc
    * quality score, keep the highest-quality member of each cluster
    * (doc_id tiebreak) instead of [[dedupClusters]]'s min-id keeper.
    * "Keep the best copy, not the first copy" — the policy real
    * corpus dedup ships, since boilerplate mirrors often have the
    * lowest ids. Emits (cluster, cluster_size, best_doc,
    * best_quality, worst_quality): the quality spread is the audit
    * column — a wide spread inside one cluster flags a template
    * family, not a true mirror.
    *
    * Scale shape: one key join with the (already aggregated) quality
    * table, one window over `cluster` — groups are cluster-sized
    * (bounded by construction: near-dup clusters are shallow), so no
    * skew surface. The argmax is over the ROUNDED quality so the
    * selection reproduces across engines bit-for-bit.
    *
    * Members missing from `quality` are KEPT in the ranking (LEFT
    * join) but sort last (nulls-last): an inner join would silently
    * shrink the candidate set while cluster_size still reported the
    * full cluster — a partial scoring run would then elect a wrong
    * "best" with no signal. An unscored best is only possible when a
    * whole cluster is unscored, and then best_quality is visibly
    * null. */
  def keepBest(clusters: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    clusters
      .join(quality, Seq("doc_id"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster")
          .orderBy(col("quality").desc_nulls_last, col("doc_id"))))
      .withColumn("worst_quality",
        min(col("quality")).over(
          Window.partitionBy("cluster")))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("cluster_size"),
              col("doc_id").as("best_doc"),
              col("quality").as("best_quality"),
              col("worst_quality"))
      .orderBy("cluster")
  }

  /** q_dedup_keep_best: [[keepBest]] over the exact near-dup clusters
    * ([[qDedupCluster]]'s graph) scored by the composite quality
    * ([[TextAnalysis.qualityScore]]). */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    // shares [[corpusClusters]] with q_dedup_cluster and the
    // materialized quality-stats table with the quality family — this
    // query pays only the quality join + per-cluster window
    keepBest(corpusClusters(spark, dir),
             TextAnalysis.qualityFromStats(
               TextAnalysis.corpusQualityStats(spark, dir))
               .select("doc_id", "quality"))

  /** Substring-dedup REWRITE (the action half of [[sharedSpans]]'
    * report — Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): every `w`-token window that occurs
    * more than once in the corpus keeps exactly its globally-first
    * occurrence (min (doc_id, pos)); every other occurrence has its
    * `w` positions excised, and each document is rebuilt from its
    * surviving tokens in order. Emits (doc_id, n_before, n_after,
    * text_after) for every input doc — unchanged docs ride through.
    *
    * Where near-dup clustering drops whole documents, this cuts the
    * boilerplate RUN (license header, site chrome, quoted reply) out
    * of otherwise-unique documents — the form of duplication document
    * dedup cannot see. Greedy union semantics: overlapping duplicated
    * windows merge their covered positions (a removed occurrence
    * overlapping the keeper in the same doc may shorten the kept run
    * — the standard approximation; the oracle implements the
    * identical rule).
    *
    * Scale shape, and why the REWRITE is safer at 100 TB than the
    * pair REPORT: the duplicated-span table is a groupBy on the span
    * hash (map-side combine, one row per span — a boilerplate span in
    * m docs costs m input rows, never the m² pairs of a self-join),
    * occurrence marking is one hash equi-join against that table, the
    * coverage explode is w× on REMOVED occurrences only, and the
    * rebuild is one doc_id shuffle. First-occurrence identity is the
    * encoded key doc_id·10⁶+pos — valid while pos < 10⁶ AND
    * doc_id < 2⁶³/10⁶ ≈ 9.2·10¹², and GUARDED in-plan: a row outside
    * either bound raises rather than silently electing a wrong keeper
    * (an overflow/collision here would excise the wrong document's
    * text). Chunk longer docs / renumber wider ids upstream. */
  def spanCut(docToks: DataFrame, w: Int = 20): DataFrame = {
    val toksed = docToks.select(col("doc_id"), col("toks"))
    val enc = col("doc_id") * lit(1000000L) + col("pos")
    val wins = toksed
      .select(col("doc_id"),
              posexplode(Text.ngramCol(col("toks"), w)).as(Seq("i", "span")))
      .select(col("doc_id"), (col("i") + 1).as("pos"),
              md5(col("span")).as("sp"))
      .withColumn("pos",
        when(col("pos") >= 1000000L || col("doc_id") < 0L
               || col("doc_id") >= 9223372036854L,
          raise_error(concat(
            lit("spanCut: (doc_id, pos) outside the encodable range: "),
            col("doc_id"), lit("/"), col("pos"))).cast("int"))
          .otherwise(col("pos")))
    val dup = wins
      .groupBy("sp")
      .agg(count(lit(1)).as("n_occ"), min(enc).as("keeper"))
      .filter(col("n_occ") > 1)
      .select("sp", "keeper")
    val removed = wins.join(dup, "sp")
      .filter(enc =!= col("keeper"))
      .select(col("doc_id"),
              explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .distinct()
    val kept = toksed
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "tok")))
      .select(col("doc_id"), (col("i") + 1).as("p"), col("tok"))
      .join(removed, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_after_raw"),
           array_join(
             transform(
               array_sort(collect_list(struct(col("p"), col("tok")))),
               s => s.getField("tok")), " ").as("text_raw"))
    toksed.select(col("doc_id"), size(col("toks")).cast("long").as("n_before"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_before"),
              coalesce(col("n_after_raw"), lit(0L)).as("n_after"),
              coalesce(col("text_raw"), lit("")).as("text_after"))
      .orderBy("doc_id")
  }

  /** q_dedup_span_cut: [[spanCut]] on the test corpus. */
  def qDedupSpanCut(spark: SparkSession, dir: String): DataFrame =
    spanCut(Tables.docTokens(spark, dir))

  /** q_dedup_span: exact shared-span detection — pairs of documents
    * sharing at least one verbatim `w`-token window (the
    * substring-level dedup signal of RefinedWeb/Lee-et-al-style exact
    * dedup, at token granularity): doc pairs that are NOT near-dups
    * globally can still share a long quoted/boilerplate run, and a
    * curation pass wants those spans counted. Shape: one explode to
    * distinct per-doc span hashes (xxhash64 of the joined window — the
    * at-rest key form; full strings would shuffle 20× the bytes), one
    * self-join on the span hash with doc_a < doc_b, one partial-agg
    * count per pair. Span hash collisions (64-bit) are negligible;
    * the DuckDB oracle joins on the exact STRINGS, so a hash collision
    * would surface as a mismatch — the oracle doubles as the collision
    * check. */
  def qDedupSpan(spark: SparkSession, dir: String): DataFrame =
    sharedSpans(Tables.docTokens(spark, dir))

  /** Boilerplate DEPTH profile (r12) — the corpus diagnostic between
    * "has a 32-token shared span" ([[sharedSpans]]' flag) and full
    * substring dedup: per document, the largest dyadic width
    * w ∈ {64, 32, 16, 8, 4} at which it shares a w-token span with
    * ANOTHER document (0 = none). The dyadic ladder brackets the true
    * longest shared span within a factor of 2 — the tuning signal for
    * choosing [[spanCut]]'s width: a corpus whose mass sits at depth
    * ≥ 32 has long boilerplate runs worth excising; depth ≤ 8 is
    * ordinary phrase reuse no span cut should touch.
    *
    * Scale shape: one span-hash groupBy per width (5 narrow shuffles,
    * each the [[sharedSpans]] m-rows-not-m²-pairs discipline);
    * cross-doc means DISTINCT-doc count ≥ 2 per span value, so a
    * within-doc repeat never flags. Span hashes use the RAW md5-low64
    * mode (prime = 0; r13, advisor): unlike the Jaccard-COUNT uses of
    * shingle hashes, a cross-doc collision here between two DIFFERENT
    * spans changes the answer (a spurious depth flag), not just the
    * representation — so the hash needs BOTH cryptographic collision
    * resistance AND the full 64-bit range. The first r13 attempt used
    * the MinHash mod-2^31-1 mode and the sf1 gate caught 4 223
    * birthday collisions over ~10^8 spans — the string-space oracle
    * doubling as the collision check, exactly as designed. */
  def spanDepthProfile(docToks: DataFrame,
                       widths: Seq[Int] = Seq(64, 32, 16, 8, 4)): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ >= 1))
    val spark = docToks.sparkSession
    SetFunctions.register(spark, permA, permB, MersennePrime)
    // NO cache on base (r17): both consumers (the tagged-span explode
    // and the n_toks projection) sit above the SAME widen exchange
    // inside ONE plan, so exchange reuse already evaluates the scan +
    // repartition once — the old persist paid a 40+ MB token-array
    // cache write for work reuse the plan gets for free.
    val base = graft.Tables.widen(docToks
      .select(col("doc_id").cast("long").as("doc_id"), col("toks")),
      bytesPerTask = 64L << 10)
    // ALL widths ride ONE tagged span stream (r16): shingleHashes
    // stays per-doc DISTINCT within each width, and the w tag keeps
    // widths separate under the shared key, so a count per (h, w)
    // counts DOCS. r17 (the r16 verdict's q_span_depth ask): the r16
    // shape evaluated this explode TWICE (groupBy side + join-back
    // probe side — the md5 span hashing is the dominant cost) and
    // shuffled the full stream through both the aggregate and the
    // join. The cross-doc test is now ONE window count over (h, w):
    // the stream is hashed once and shuffled once, and the flags are
    // identical (nd ≥ 2 over per-doc-distinct rows ≡ the old
    // dup-join membership). The per-(h,w) window group is the span's
    // document frequency — the same key-skew exposure the old join
    // had; a boilerplate-hot span buffers its group, which spills via
    // the window's row array rather than blowing a join task.
    val sp = base.select(col("doc_id"),
      explode(flatten(array(widths.map { w =>
        transform(SetFunctions.shingleHashes(col("toks"), w, 0L),
                  h => struct(h.as("h"), lit(w).as("w")))
      }: _*))).as("s"))
      .select(col("doc_id"), col("s.h").as("h"), col("s.w").as("w"))
    val flags = sp
      .withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h", "w")))
      .filter(col("nd") >= 2)
      .select(col("doc_id"), col("w"))
    val depth = flags.groupBy("doc_id").agg(max(col("w")).as("depth"))
    base
      .select(col("doc_id"), size(col("toks")).as("n_toks"))
      .join(depth, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
              coalesce(col("depth"), lit(0)).as("depth"))
      .orderBy("doc_id")
      .localCheckpoint()
  }

  /** q_span_depth: [[spanDepthProfile]] on the test corpus. */
  def qSpanDepth(spark: SparkSession, dir: String): DataFrame =
    spanDepthProfile(Tables.docTokens(spark, dir))

  /** [[qDedupSpan]]'s engine over any (doc_id, toks) DataFrame — the
    * library entry point ([[graft.Graft.sharedSpans]]).
    *
    * Hot-key guard: a span shared by m docs contributes m·(m-1)/2
    * pairs to the self-join — one boilerplate run (site chrome, legal
    * text) in a 100 TB corpus would put an m² blowup on a single
    * shuffle key. Spans with document frequency > `maxDf` are dropped
    * BEFORE the join (they are boilerplate by definition and their
    * pairs carry no dedup signal — the invertedIndex posting-cap
    * rationale, Curation.scala). The df count rides the same
    * hash-partition-by-span the join needs, and is linear per key, so
    * the guard itself cannot blow up. The bound is part of the
    * operator's declared semantics: the DuckDB oracle applies the
    * SAME df filter. */
  def sharedSpans(docToks: DataFrame, w: Int = 20, maxDf: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // widen (r16): the w-token window render + hash is the heavy
    // narrow stage; one-split scans serialize it (integer counts
    // downstream, order-safe)
    val spans = graft.Tables.widen(docToks, bytesPerTask = 64L << 10)
      .select(col("doc_id"),
              explode(array_distinct(Text.ngramCol(col("toks"), w))).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= maxDf)
      .drop("df")
    val a = spans.select(col("doc_id").as("doc_a"), col("sh"))
    val b = spans.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("sh") === col("sh_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy("doc_a", "doc_b")
  }

  /** q_dedup_simhash: SimHash near-dup candidates — 64-bit simhash per
    * doc ([[graft.functions.SimHash64]]), banded into 4×16-bit keys
    * (a pair within Hamming distance 3 shares at least one intact
    * 16-bit band by pigeonhole... not guaranteed for d=4+, but ≥1 band
    * collision is the standard recall/cost tradeoff), candidates
    * verified by exact Hamming ≤ 8. ORACLE-exact since r12: the token
    * hash is md5-low64 ([[graft.functions.SimHash64]]) — DuckDB's
    * `md5_number_lower` — so the whole banded pipeline is mirrored in
    * SQL; also golden-tested on planted duplicates.
    */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashDups(Tables.docTokens(spark, dir))

  /** [[qDedupSimhash]]'s engine over any (doc_id, toks) DataFrame —
    * the library entry point ([[graft.Graft.simhashDups]]). */
  def simhashDups(docToks: DataFrame, maxHamming: Int = 8): DataFrame = {
    val spark = docToks.sparkSession
    SimHashFunctions.register(spark)
    // EAGER localCheckpoint, not persist (r17): both self-join sides
    // start on a cold cache and each recomputes the simhash pipeline —
    // the nearDupPairs finding; materialize once, without the extra
    // job the r16 priming `docs.count()` paid.
    val docs = docToks
      .select(col("doc_id"), SimHashFunctions.simhash64(col("toks")).as("sh"))
      .localCheckpoint()
    val banded = docs
      .select(col("doc_id"), col("sh"),
              explode(sequence(lit(0), lit(3))).as("band"))
      // & 65535, NOT % 65536: sh is a signed long, and for band 0 the
      // unsigned shift is a no-op — a negative sh's % stays NEGATIVE,
      // so neg-vs-pos doc pairs sharing band 0 silently never collided
      // (a recall bug the r12 DuckDB oracle caught on its first run)
      .withColumn("bkey",
        expr("shiftrightunsigned(sh, band * 16) & 65535"))
    val a = banded.select(col("band"), col("bkey"),
                          col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band").as("band_b"), col("bkey").as("bkey_b"),
                          col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b")
              && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** The (shingles, bands) tables of a MinHash band index over any
    * (doc_id, toks) corpus — the AT-REST signature store of an
    * incremental near-dup pipeline. Shingles and band keys live in
    * separate tables so the probe join never drags the shingle arrays
    * through the band rows (the r2 lesson: 12× array payload). At
    * cluster scale both land in columnar storage bucketed by their
    * join keys; [[nearDupIndex]] materializes them to parquet once
    * per (JVM, corpus). */
  private[graft] def buildNearDupIndex(docToks: DataFrame,
                                       bands: Int = Bands): (DataFrame, DataFrame) = {
    val spark = docToks.sparkSession
    SetFunctions.register(spark, permA, permB, MersennePrime)
    val rowsPerBand = MinhashK / bands
    val sh = docToks
      .select(col("doc_id"), shingleHashes(col("toks")).as("sh"))
      .filter(size(col("sh")) > 0)
    val bandTab = sh
      .withColumn("sig", minhashSig(col("sh")))
      .select(col("doc_id"), col("sig"),
              explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
              bandKey(col("sig"), col("band"), rowsPerBand).as("bkey"))
    (sh, bandTab)
  }

  private val nearDupIndexPaths =
    IndexCache.artifact[String]("documents", "graft_neardup_index") { (spark, d, p) =>
      val docs = Tables.docTokens(spark, d)
        .select(col("doc_id"), shingleHashes(col("toks")).as("sh"))
        .filter(size(col("sh")) > 0)
        .persist()
      val rowsPerBand = MinhashK / Bands
      docs.write.mode("overwrite").parquet(s"$p/shingles.parquet")
      docs.withColumn("sig", minhashSig(col("sh")))
        .select(col("doc_id"), col("sig"),
                explode(sequence(lit(0), lit(Bands - 1))).as("band"))
        .select(col("doc_id"), col("band"),
                bandKey(col("sig"), col("band"), rowsPerBand).as("bkey"))
        .write.mode("overwrite").parquet(s"$p/bands.parquet")
      docs.unpersist()
      p
    }

  /** Materialized [[buildNearDupIndex]] for a corpus dir (the offline
    * index-build step; content-keyed — rebuilt iff the backing table
    * changed, see [[IndexCache]]). */
  private[graft] def nearDupIndex(spark: SparkSession,
                                  dir: String): (DataFrame, DataFrame) = {
    // the index build resolves graft_* temp functions — register them
    // up front so a fresh session's FIRST dedup call doesn't throw
    SetFunctions.register(spark, permA, permB, MersennePrime)
    val base = nearDupIndexPaths.get(spark, dir)
    (graft.Tables.loadPath(spark, s"$base/shingles.parquet"),
     graft.Tables.loadPath(spark, s"$base/bands.parquet"))
  }

  /** Incremental near-dup: an incoming (doc_id, toks) batch probed
    * against a corpus's materialized band index — the near-dup analog
    * of [[incrementalDedup]] and the operational form of
    * [[nearDupPairs]] for a daily crawl: corpus signatures are
    * computed ONCE at index-build time, never again.
    *
    * Scale shape: the batch's band keys (batch × bands rows)
    * BROADCAST against one scan of the band table (candidates are
    * batch-scale out); corpus shingles are then fetched for the
    * matched corpus docs only (again a broadcast semi-bound), and the
    * exact merge-scan Jaccard verifies each candidate. Nothing
    * corpus-scale is ever shuffled or recomputed. Same probabilistic
    * contract as [[nearDupPairs]] (banding recall) — and since r12 the
    * same oracle story: the probe pipeline mirrors in DuckDB SQL, so
    * q_dedup_incr_near is hash-exact-checked, with DedupSpec's planted
    * recall goldens on top. Emits (doc_id, corpus_id, jac ≥ tau). */
  def incrementalNearDup(corpusShingles: DataFrame, corpusBands: DataFrame,
                         incoming: DataFrame, tau: Double = 0.8,
                         bands: Int = Bands): DataFrame = {
    val (incSh, incBands) = buildNearDupIndex(incoming, bands)
    val incShP = incSh.persist()
    try incrementalNearDupFrom(corpusShingles, corpusBands,
                               (incShP, incBands), tau)
    finally { incShP.unpersist(false); () }
  }

  /** [[incrementalNearDup]] over a PREBUILT incoming index — so
    * [[appendNearDupIndex]], which needs the (shingles, bands) frames
    * anyway, probes without paying the MinHash/shingle pass twice.
    * Caching of the incoming frames is the CALLER's responsibility
    * (the result is localCheckpointed, so the caller may unpersist
    * as soon as this returns). */
  private[graft] def incrementalNearDupFrom(corpusShingles: DataFrame,
                                            corpusBands: DataFrame,
                                            inc: (DataFrame, DataFrame),
                                            tau: Double): DataFrame = {
    val (incShP, incBands) = inc
    val cands = corpusBands
      .join(broadcast(incBands
              .select(col("doc_id").as("inc_id"), col("band"), col("bkey"))),
            Seq("band", "bkey"))
      .select(col("inc_id"), col("doc_id").as("corpus_id"))
      .dropDuplicates("inc_id", "corpus_id")
    val corpusHit = corpusShingles
      .join(broadcast(cands.select(col("corpus_id").as("doc_id")).distinct()),
            "doc_id")
      .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
    val out = cands
      .join(incShP.select(col("doc_id").as("inc_id"), col("sh").as("sh_i")), "inc_id")
      .join(corpusHit, "corpus_id")
      .withColumn("inter",
        SetFunctions.sortedIntersectSize(col("sh_i"), col("sh_c")))
      .select(col("inc_id").as("doc_id"), col("corpus_id"),
              (col("inter").cast("double")
                / (size(col("sh_i")) + size(col("sh_c")) - col("inter"))).as("jac"))
      .filter(col("jac") >= tau)
      .select(col("doc_id"), col("corpus_id"), round(col("jac"), 6).as("jac"))
      .orderBy("doc_id", "corpus_id")
      // materialize (lineage cut) so the caller can release the
      // batch-shingle cache immediately — repeated probe calls must
      // not accumulate cached DataFrames until LRU eviction
      .localCheckpoint()
    out
  }

  /** Corpus snapshot diff — the change report between two crawl
    * versions: per doc_id, `added` (only in the new snapshot),
    * `removed` (only in the old), `changed` (both, different content
    * hash), or `unchanged`. One full-outer hash join on doc_id; at
    * rest both snapshots would be bucketed by doc_id making the diff
    * shuffle-free. The audit step every versioned corpus store runs
    * before promoting a snapshot. */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("h_old"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("h_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
              when(col("h_old").isNull, lit("added"))
                .when(col("h_new").isNull, lit("removed"))
                .when(col("h_old") === col("h_new"), lit("unchanged"))
                .otherwise(lit("changed")).as("status"))
      .orderBy("doc_id")
  }

  /** CDC apply (MERGE-style upsert): fold a change batch
    * (doc_id, op ∈ {U, D}, text, seq) into a snapshot — the
    * copy-on-write commit step of every lakehouse table format.
    * LAST change per key wins (max seq — a window over the
    * batch-scale change set only); `U` inserts or replaces, `D`
    * deletes. One full-outer join keyed on doc_id; with the snapshot
    * bucketed by doc_id at rest the rewrite is shuffle-free and
    * touches only the joined partitions. Returns the next snapshot. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // deterministic tie-break for equal seq on the same key: deletes
    // win over upserts, then lexicographic text — two runs over the
    // same batch always pick the same change
    val last = changes
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("seq").desc, col("op").asc, col("text").asc_nulls_first)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("op"), col("text").as("new_text"))
    snapshot.select(col("doc_id"), col("text"))
      .join(last, Seq("doc_id"), "full_outer")
      // a D on an absent key is a no-op; a U always lands
      .filter(col("op").isNull || col("op") === "U")
      .select(col("doc_id"),
              when(col("op") === "U", col("new_text")).otherwise(col("text"))
                .as("text"))
      .orderBy("doc_id")
  }

  /** q_upsert: [[applyChanges]] with a synthetic CDC batch — deletes
    * (ids ending in 7), updates with a CONFLICTING earlier change
    * (ids ending in 3: seq 1 writes a stale body, seq 2 the final
    * one — last-wins must hold), and fresh inserts. Emits (doc_id,
    * content hash) of the next snapshot so the dump stays compact. */
  def qUpsert(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    val dels = v1.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), lit("D").as("op"), lit(null).cast("string").as("text"),
              lit(1L).as("seq"))
    val stale = v1.filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), lit("U").as("op"),
              concat(col("text"), lit(" stale")).as("text"), lit(1L).as("seq"))
    val fresh = v1.filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), lit("U").as("op"),
              concat(col("text"), lit(" v2")).as("text"), lit(2L).as("seq"))
    val ins = v1.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"), lit("U").as("op"),
              col("text"), lit(1L).as("seq"))
    applyChanges(v1, dels.unionAll(stale).unionAll(fresh).unionAll(ins))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .orderBy("doc_id")
  }

  /** The q_corpus_refresh CDC batch: the q_upsert shapes RESTRICTED to
    * doc_id < 150 — so only the low shards (plus the insert block's
    * shard) are touched and every other shard of the at-rest corpus
    * must come through the refresh byte-identical. */
  private[graft] def refreshCdcBatch(v1: DataFrame): DataFrame = {
    val low = v1.filter(col("doc_id") < 150)
    val dels = low.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), lit("D").as("op"),
              lit(null).cast("string").as("text"), lit(1L).as("seq"))
    val stale = low.filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), lit("U").as("op"),
              concat(col("text"), lit(" stale")).as("text"), lit(1L).as("seq"))
    val fresh = low.filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), lit("U").as("op"),
              concat(col("text"), lit(" v2")).as("text"), lit(2L).as("seq"))
    val ins = v1.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"), lit("U").as("op"),
              col("text"), lit(1L).as("seq"))
    dels.unionAll(stale).unionAll(fresh).unionAll(ins)
  }

  /** Content-keyed at-rest corpus for q_corpus_refresh:
    * [[graft.sources.Formats.writeShards]] of (doc_id, text) at
    * span=100. The refresh MUTATES this directory — safe because the
    * delta is idempotent (re-applying converges to the same corpus
    * and manifest), so re-runs of the query are deterministic. */
  private val refreshFixture =
    IndexCache.artifact[String]("documents", "graft_refresh_corpus") { (s, d, p) =>
      graft.sources.Formats.writeShards(
        Tables.documents(s, d).select(col("doc_id"), col("text")), p, 100L)
      p
    }

  /** q_corpus_refresh (r15, verdict ask #5): apply a CDC delta to a
    * corpus AT REST and re-emit ONLY the changed shards —
    * [[graft.sources.Formats.refreshShards]] composing the q_upsert
    * fold with writeShards' stable doc_id-div sharding. Emits the
    * post-refresh manifest with the per-shard `changed` flag; the
    * oracle recomputes the folded corpus' shard aggregates and the
    * affected-shard set in SQL, so wrong shard routing, a lost
    * untouched-shard row, or a stale manifest row all hash-diff.
    * Byte-identity of untouched shard FILES is pinned in SourcesSpec
    * (not SQL-expressible). */
  def qCorpusRefresh(spark: SparkSession, dir: String): DataFrame = {
    val path = refreshFixture.get(spark, dir)
    val ch = refreshCdcBatch(Tables.documents(spark, dir))
    graft.sources.Formats.refreshShards(path, ch, shardSpan = 100L)
      .select(col("shard").cast("long").as("shard"), col("n_docs"),
              col("n_tokens"), col("min_doc_id"), col("max_doc_id"),
              col("changed"))
      .orderBy("shard")
  }

  /** q_corpus_diff: [[corpusDiff]] against a synthetic v2 snapshot —
    * docs ending in 7 dropped, docs ending in 3 rewritten, a block of
    * new ids appended. */
  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    val v2 = v1.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"),
              when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2")))
                .otherwise(col("text")).as("text"))
      .unionAll(v1.filter(col("doc_id") < 20)
        .select((col("doc_id") + 500000).as("doc_id"), col("text")))
    corpusDiff(v1, v2)
  }

  /** Near-dup INDEX MAINTENANCE at rest (r15): the ACCEPT path that
    * completes [[incrementalNearDup]]'s probe — incoming docs with a
    * ≥ tau match are dropped (their keeper already lives in the
    * index); novel docs' shingle + band rows are computed with the
    * SAME fixed permutation constants and returned union-ready with
    * the at-rest tables. The permutations are INDEX ARTIFACTS (the
    * frozen-PQ-codebook / stableShard property for the dedup tier):
    * appending can never move or invalidate an existing index row, so
    * the daily fold is append-only and untouched index files stay
    * byte-identical — re-banding the world is a deliberate,
    * whole-index event. Returns (acceptedShingles, acceptedBands). */
  def appendNearDupIndex(corpusShingles: DataFrame, corpusBands: DataFrame,
                         incoming: DataFrame, tau: Double = 0.8,
                         bands: Int = Bands): (DataFrame, DataFrame) = {
    // build the incoming index ONCE, cache it across the probe and
    // the accept outputs (the MinHash/shingle pass is the dominant
    // cost of an append — recomputing it per consumer doubled the
    // operation), localCheckpoint the delta-scale results so the
    // cache can be dropped before returning
    val (incSh0, incBands0) = buildNearDupIndex(incoming, bands)
    val incSh = incSh0.persist()
    val incBands = incBands0.persist()
    try {
      // matched is DELTA-scale (≤ the incoming batch's doc count) —
      // broadcast it; the localCheckpointed probe output has no
      // stats, so without the hint the anti-join planned as a
      // sort-merge
      val matched = broadcast(
        incrementalNearDupFrom(corpusShingles, corpusBands,
                               (incSh, incBands), tau)
          .select(col("doc_id")).distinct())
      (incSh.join(matched, Seq("doc_id"), "left_anti").localCheckpoint(),
       incBands.join(matched, Seq("doc_id"), "left_anti").localCheckpoint())
    } finally {
      incSh.unpersist(false); incBands.unpersist(false); ()
    }
  }

  /** q_dedup_index_append (r15): [[appendNearDupIndex]] with a mixed
    * synthetic batch — the q_dedup_incr_near truncated re-crawls
    * (mostly ≥ tau vs their originals → rejected) plus x-prefixed
    * novel docs (wholly new shingle sets → accepted). Emits the
    * accepted docs' band rows (doc_id, band, bkey); the oracle
    * recomputes the probe AND the accepted band rows with the same
    * md5/permutation constants, so a wrong accept decision or a
    * drifted band key both hash-diff. */
  def qDedupIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val (sh, bandTab) = nearDupIndex(spark, dir)
    val t = Tables.docTokens(spark, dir)
    val recrawl = t.filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"),
              slice(col("toks"), lit(1), size(col("toks")) - 1).as("toks"))
    val novel = t.filter(col("doc_id") < 30)
      .select((col("doc_id") + 200000).as("doc_id"),
              transform(col("toks"), x => concat(lit("x"), x)).as("toks"))
    val (_, acceptedBands) =
      appendNearDupIndex(sh, bandTab, recrawl.unionAll(novel))
    acceptedBands.select(col("doc_id"), col("band"), col("bkey"))
      .orderBy("doc_id", "band")
  }

  /** q_dedup_incr_near: [[incrementalNearDup]] with a synthetic
    * re-crawl batch — docs 0-49 re-fetched with their last token
    * dropped (high-Jaccard near-dups of their originals). Oracle-
    * exact since r12 like [[qDedupNear]] (the probe pipeline mirrors
    * in SQL); DedupSpec additionally pins recall of the planted mods
    * and exactness of the verify stage. */
  def qDedupIncrNear(spark: SparkSession, dir: String): DataFrame = {
    val (sh, bandTab) = nearDupIndex(spark, dir)
    val incoming = Tables.docTokens(spark, dir)
      .filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"),
              slice(col("toks"), lit(1), size(col("toks")) - 1).as("toks"))
    incrementalNearDup(sh, bandTab, incoming)
  }

  /** Incremental (snapshot + delta) exact dedup — the operational
    * daily shape of a crawl pipeline: an existing deduplicated corpus
    * is huge and AT REST; a small incoming batch must be classified
    * against it without re-deduplicating the world. Per incoming doc:
    *
    *   - `dup_existing` — content hash already in the corpus
    *     (`dup_of` = the corpus keeper, its lowest doc_id);
    *   - `dup_incoming` — first seen earlier IN THIS BATCH
    *     (`dup_of` = that earlier incoming doc_id); existing wins
    *     when both apply;
    *   - `new` — genuinely novel content (`dup_of` null).
    *
    * Scale shape: the batch's distinct hashes BROADCAST to a single
    * narrow scan of the corpus (the corpus is never shuffled — the
    * inner join keeps only corpus rows whose hash occurs in the
    * batch, batch-scale output); the within-batch prior is a window
    * over the batch only. Total shuffled data is batch-scale
    * regardless of corpus size. At rest you'd persist the corpus
    * hash column (or bucket by it) and this becomes a pure
    * hash-lookup join with no text re-hash.
    */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inc = incoming.select(col("doc_id"), md5(col("text")).as("h"))
    // corpus hits for the batch's hashes: ONE scan of existing,
    // filtered by the broadcast batch hash set, reduced to per-hash
    // keepers (batch-scale)
    val exHits = existing.select(md5(col("text")).as("h"), col("doc_id"))
      .join(broadcast(inc.select("h").distinct()), "h")
      .groupBy("h").agg(min(col("doc_id")).as("ex_keeper"))
    val prior = Window.partitionBy("h").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    inc
      .withColumn("prior", min(col("doc_id")).over(prior))
      .join(exHits, Seq("h"), "left")
      .select(col("doc_id"),
              when(col("ex_keeper").isNotNull, lit("dup_existing"))
                .when(col("prior").isNotNull, lit("dup_incoming"))
                .otherwise(lit("new")).as("status"),
              coalesce(col("ex_keeper"), col("prior")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** q_dedup_incremental: [[incrementalDedup]] with a synthetic
    * re-crawl batch derived from the corpus — 50 unchanged re-fetches
    * (→ dup_existing), 50 changed pages (→ new), and 25 of the
    * changed pages fetched twice (→ dup_incoming). */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val refetched = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val changed = d.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(col("text"), lit(" updated")).as("text"))
    val doubled = d.filter(col("doc_id") >= 50 && col("doc_id") < 75)
      .select((col("doc_id") + 200000).as("doc_id"),
              concat(col("text"), lit(" updated")).as("text"))
    incrementalDedup(d, refetched.unionAll(changed).unionAll(doubled))
  }

  /** Cross-source duplication matrix: for every source pair, how many
    * DISTINCT texts appear in both — the crawl-redundancy report that
    * tells a curation team which feeds to drop or dedup-first.
    *
    * Scale: the corpus collapses to distinct (hash, source) rows
    * before any join, so the self-join fan-out per hash is bounded by
    * |sources| (a text in every source makes C(|sources|, 2) pairs,
    * never a doc-count term); output is ≤ C(|sources|, 2) rows. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val hs = docs.select(sha2(col("text"), 256).as("h"), col("source"))
      .distinct()
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Per-source contamination report: how many of a source's docs
    * carry a text that also appears SOMEWHERE ELSE in the corpus
    * (any source, any doc) — the "is this feed adding anything new"
    * number next to [[sourceOverlap]]'s pairwise view. Null-text docs
    * count in `n_docs` but never as duplicates (a null is not "the
    * same text" as another null) — a LEFT join keeps them through the
    * null-keyed df lookup instead of silently dropping them from the
    * denominator.
    *
    * Scale: one hash aggregate for corpus-wide df + one broadcast-able
    * join back; the report is |source| rows. */
  def contaminationRate(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("source"), sha2(col("text"), 256).as("h"))
    val df = hashed.where(col("h").isNotNull)
      .groupBy("h").agg(count(lit(1)).as("hdf"))
    hashed.join(df, Seq("h"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("hdf") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
              round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
                .as("dup_doc_rate"))
      .orderBy("source")
  }

  /** Mirror-slice constants — ONE set of literals shared between
    * [[mirroredDocs]] and the Queries oracle CTE (same-constants
    * discipline, like Graph.PprSeedPrefix). */
  private[graft] val MirrorMod = 5
  private[graft] val MirrorOffset = 500000
  private[graft] val MirrorSource = "mirror"

  /** The constructed corpus for q_source_overlap / q_dup_rate: the
    * fixture has no natural cross-source duplicates, so every
    * [[MirrorMod]]-th doc is mirrored into a synthetic
    * [[MirrorSource]] source (same text, new doc_id) — the documented
    * constructed-input pattern (q_upsert / q_dedup_incremental). */
  private def mirroredDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
    d.unionAll(
      d.where(col("doc_id") % MirrorMod === 0)
        .select((col("doc_id") + MirrorOffset).as("doc_id"), col("text"),
                lit(MirrorSource).as("source"), col("lang")))
  }

  /** q_source_overlap: [[sourceOverlap]] over the mirrored corpus. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(mirroredDocs(spark, dir))

  /** q_dup_rate: [[contaminationRate]] over the mirrored corpus. */
  def qDupRate(spark: SparkSession, dir: String): DataFrame =
    contaminationRate(mirroredDocs(spark, dir))
}
