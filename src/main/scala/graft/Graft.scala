package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType}
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, Curation, Dedup, Similarity, TextAnalysis}

/** The public library facade: every LLM-pipeline operator over
  * caller-supplied DataFrames — nothing here knows about the test
  * corpus. A user of the reference plugin (or of any corpus pipeline)
  * works against this object:
  *
  * {{{
  * val docs: DataFrame   // (doc_id long, text string, lang string)
  * val keepers = Graft.dedupExact(docs)
  * val nearDups = Graft.nearDupPairs(docs)          // MinHash+LSH
  * val clusters = Graft.dedupClusters(Graft.jaccardPairs(docs))
  * val curated = Graft.curate(docs)
  * val nbrs = Graft.knn(embeddings, k = 10)         // (vec_id, embedding)
  * val aligned = Graft.asof(trades, quotes, "sym", "sym", "t", "qt")
  * }}}
  *
  * Column contracts: document operators need `(doc_id, text)` (+
  * `lang` where noted); embedding operators need
  * `(vec_id long, embedding array<float|double>)`. Registered test
  * queries (`Queries`/`SparkEntry`) are thin wrappers binding these
  * same engines to the driver's parquet tables — the oracle coverage
  * is coverage of THIS surface.
  */
object Graft {

  /** Tokenized view of a docs DataFrame: adds `toks` (lowercased,
    * trimmed, whitespace-split — `ml.feature.Tokenizer` semantics). */
  def tokenize(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(lower(trim(col("text"))), "\\s+"))

  // ---- dedup ----

  /** Exact duplicate groups by sha256(text): (h, keeper, n_dups). */
  def dedupExact(docs: DataFrame): DataFrame = Dedup.dedupExact(docs)

  /** MinHash+LSH near-duplicate pairs with exact shingle-Jaccard ≥ tau
    * verification: (doc_a, doc_b, jac). `bands` (a divisor of 48) is
    * the recall/cost knob — more, shorter bands catch lower-similarity
    * pairs at higher candidate volume. */
  def nearDupPairs(docs: DataFrame, tau: Double = 0.8,
                   bands: Int = 12): DataFrame =
    Dedup.nearDupPairs(tokenize(docs), tau, bands)

  /** Salted equi-join for hot-key fact⋈fact joins — result identical
    * to the plain inner join, each hot key spread over `buckets`
    * reducers. */
  def saltedInnerJoin(skewed: DataFrame, other: DataFrame,
                      key: String, buckets: Int): DataFrame =
    ops.Skew.saltedInnerJoin(skewed, other, key, buckets)

  /** Exact within-`lang` token-set Jaccard ≥ tau pairs via the
    * prefix-filtered set-similarity join: (doc_a, doc_b, jac). */
  def jaccardPairs(docs: DataFrame, tau: Double = 0.9): DataFrame =
    Dedup.jaccardPairs(tokenize(docs), tau)

  /** Exact DIRECTED containment pairs (|A∩B|/|A| ≥ τ): quote /
    * subset-of-a-longer-page detection that symmetric Jaccard misses
    * when sizes differ. (doc_a, doc_b, cont). */
  def containmentPairs(docs: DataFrame, tau: Double = 0.9): DataFrame =
    Dedup.containmentPairs(tokenize(docs), tau)

  /** SimHash near-duplicate candidates within Hamming ≤ maxHamming:
    * (doc_a, doc_b, hamming). */
  def simhashDups(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    Dedup.simhashDups(tokenize(docs), maxHamming)

  /** Connected components over ANY (doc_a, doc_b) pair DataFrame:
    * (doc_id, cluster, cluster_size, is_keeper) — turns near-dup
    * pairs from any of the pair operators into one-survivor
    * clusters. */
  def dedupClusters(pairs: DataFrame): DataFrame = Dedup.dedupClusters(pairs)

  /** Per-cluster canonical selection: keep the highest-quality member
    * of each [[dedupClusters]] cluster (doc_id tiebreak) — (cluster,
    * cluster_size, best_doc, best_quality, worst_quality). `quality`
    * is any (doc_id, quality) table, e.g. [[qualityScore]]'s. */
  def keepBest(clusters: DataFrame, quality: DataFrame): DataFrame =
    Dedup.keepBest(clusters, quality)

  // ---- text analysis / curation ----

  /** Stopword-overlap language ID (needs `lang` for the agreement
    * column). */
  def langId(docs: DataFrame): DataFrame = TextAnalysis.langId(tokenize(docs))

  /** Length/TTR/stopword composite quality score per document. */
  def qualityScore(docs: DataFrame): DataFrame =
    TextAnalysis.qualityScore(tokenize(docs))

  /** Whitespace/regex token and character counts per document. */
  def tokenCounts(docs: DataFrame): DataFrame = TextAnalysis.tokenCounts(docs)

  /** Content + sorted-bag fingerprints with bag-group sizes. */
  def fingerprints(docs: DataFrame): DataFrame =
    TextAnalysis.fingerprints(tokenize(docs))

  /** End-to-end curation: exact-dedup keepers × quality cut × token
    * band, with `lang` carried (needs `lang`). */
  def curate(docs: DataFrame): DataFrame =
    TextAnalysis.curate(docs, tokenize(docs))

  /** Corpus bigram collocations by PMI. */
  def collocations(docs: DataFrame, minSupport: Int = 5,
                   topN: Int = 50): DataFrame =
    TextAnalysis.collocations(tokenize(docs), minSupport, topN)

  /** Token-length histogram with share and cumulative share. */
  def lengthHist(docs: DataFrame): DataFrame =
    TextAnalysis.lengthHist(tokenize(docs))

  // ---- corpus curation: selection, mixing, sharding, hygiene ----

  /** Deterministic uniform sample: keep rows whose md5(doc_id) 4-hex
    * prefix is below `thrHex` ('1999' ≈ 10%). Reproducible, no RNG. */
  def sampleHash(docs: DataFrame, thrHex: String = "1999"): DataFrame =
    Curation.sampleHash(docs, thrHex)

  /** Deterministic stratified sample: first `n` docs per `lang` in
    * md5(doc_id) order. */
  def stratifiedSample(docs: DataFrame, n: Int = 10): DataFrame =
    Curation.stratifiedSample(docs, n)

  /** Per-source weighted mixing audit: (source, tier, n_total,
    * n_kept) under the deterministic md5-bucket keep rule. */
  def mixWeighted(docs: DataFrame): DataFrame = Curation.mixWeighted(docs)

  /** Quality-proportional deterministic sample over (doc_id, lang,
    * source, toks) rows: keep-probability = integer milli-quality /
    * 1000, decided by the md5-bucket-vs-hex-threshold compare — zero
    * RNG state, integer-exact, reproducible anywhere. */
  def weightedSample(docToks: DataFrame): DataFrame =
    Curation.weightedSample(docToks)

  /** Temperature-smoothed (rate ∝ count^½) language rebalancing with
    * integer-exact quotas and a two-level parallel rank:
    * (doc_id, lang, rn). */
  def temperatureMix(docs: DataFrame): DataFrame =
    Curation.temperatureMix(docs)

  /** Deterministic md5-band train/val/test assignment, stable under
    * corpus growth: (doc_id, lang, split). */
  def splitAssign(docs: DataFrame): DataFrame = Curation.splitAssign(docs)

  /** Token-offset sharding into `budget`-token training chunks via a
    * distributed two-level prefix sum: (doc_id, n_toks, tok_offset,
    * chunk). */
  def packChunks(docs: DataFrame, budget: Long = 2048,
                 bucketSpan: Long = 1000): DataFrame =
    Curation.packChunks(tokenize(docs), budget, bucketSpan)

  /** Benchmark decontamination: train docs sharing any word `n`-gram
    * with the eval split: (doc_id, n_hit_grams, n_eval_docs). */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int = 4): DataFrame =
    Curation.decontaminate(tokenize(train), tokenize(eval), n)

  /** Gopher-style repetition hygiene metrics + filter flag per doc. */
  def repetitionMetrics(docs: DataFrame, tokThr: Double = 0.6,
                        gramThr: Double = 0.2): DataFrame =
    Curation.repetitionMetrics(tokenize(docs), tokThr, gramThr)

  /** Inverted index: (term, df, cf, postings) with posting lists
    * bounded to `maxPostings` before any collection. */
  def invertedIndex(docs: DataFrame, minDf: Long = 5,
                    maxPostings: Int = 20): DataFrame =
    Curation.invertedIndex(tokenize(docs), minDf, maxPostings)

  /** Okapi BM25 top-k document ranking against a term query:
    * (doc_id, n_hit, bm25). Non-matching docs are pruned before the
    * explode; corpus stats and the df table ride broadcasts. */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
           k1: Double = ops.Text.Bm25K1, b: Double = ops.Text.Bm25B,
           topK: Int = 100): DataFrame =
    ops.Text.bm25(tokenize(docs), queryTerms, k1, b, topK)

  /** Context-window chunking: `size`-token windows advancing by
    * `stride` per doc: (doc_id, chunk_idx, chunk, n_chunk_toks). */
  def chunkDocs(docs: DataFrame, size: Int = 128,
                stride: Int = 64): DataFrame =
    Curation.chunkDocs(tokenize(docs), size, stride)

  /** Sketch decontamination: eval n-grams folded into a broadcast
    * Bloom filter, corpus flagged in one narrow pass (no false
    * negatives; per-probe false-positive rate `fpp`). By default the
    * filter is sized from the eval split itself; pass `expectedGrams`
    * to skip that count job when the caller already knows the bound. */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame, n: Int = 4,
                         fpp: Double = 1e-6,
                         expectedGrams: Long = 0L): DataFrame =
    Curation.bloomDecontaminate(tokenize(train), tokenize(eval), n, fpp,
                                expectedGrams)

  /** Per-doc Shannon entropy of the token distribution:
    * (doc_id, n_toks, n_distinct, entropy, norm_entropy). */
  def tokenEntropy(docs: DataFrame): DataFrame =
    TextAnalysis.tokenEntropy(tokenize(docs))

  /** Per-doc perplexity under the corpus's own unigram LM:
    * (doc_id, n_toks, nll, ppl). */
  def perplexity(docs: DataFrame): DataFrame =
    TextAnalysis.perplexity(tokenize(docs))

  /** Per-doc perplexity under an interpolated Kneser–Ney BIGRAM LM
    * built from the corpus itself: (doc_id, n_bigrams, nll, ppl). */
  def perplexityKn(docs: DataFrame, discount: Double = 0.75): DataFrame =
    TextAnalysis.perplexityKn(tokenize(docs), discount)

  /** Learn a BPE merge table from the corpus (tokenizer training):
    * (rank, left, right, pair_count), vocabulary-scale iteration. */
  def learnBpeMerges(docs: DataFrame, nMerges: Int = 20): DataFrame =
    ops.BpeTrain.learnBpeMerges(tokenize(docs), nMerges)

  /** PII detection + redaction over (id, text) rows: match counts per
    * class and the masked text. */
  def piiRedact(rows: DataFrame): DataFrame = TextAnalysis.piiRedact(rows)

  /** Unicode normalization of (doc_id, text): NFC compose (native
    * codegen Expression — Spark has no built-in), Unicode lowercase,
    * whitespace collapse, trim; (doc_id, norm). */
  def normalizeText(docs: DataFrame): DataFrame =
    TextAnalysis.normalizeText(docs)

  /** Model-based quality scoring: fastText-style hashed linear
    * classifier inference over unigram+bigram features —
    * (doc_id, n_feats, score, keep). The weight table is a
    * deterministic index function (swap for trained weights in
    * production; the inference mechanics are identical). */
  def modelQuality(docs: DataFrame): DataFrame =
    TextAnalysis.modelQuality(tokenize(docs))

  /** Trains the quality classifier in-engine (fixed-iteration
    * quantized-gradient descent over [[TextAnalysis.qualityStats]]
    * features — see [[TextAnalysis.trainQualityWeights]]) and returns
    * the corpus scored with the trained artifact:
    * (doc_id, label, score, keep). The trained complement of
    * [[modelQuality]]'s fixed-weight inference. */
  def trainQuality(docs: DataFrame): DataFrame = {
    // tolerate inputs without lang/source (the qualityScore pattern)
    val toks = Seq("lang", "source").foldLeft(tokenize(docs)) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, org.apache.spark.sql.functions.lit(null)
        .cast("string"))
    }
    val stats = TextAnalysis.qualityStats(toks)
    TextAnalysis.scoreQuality(stats, TextAnalysis.trainQualityWeights(stats))
  }

  /** CCNet-style cross-perplexity: every doc scored under the TARGET
    * slice's Laplace-smoothed unigram LM — (doc_id, n_toks, nll,
    * ppl_target); low ppl_target = target-like (Wenzek et al. 2020).
    * The absolute-fit complement of [[dsirWeights]]' ratio. */
  def crossPerplexity(docs: DataFrame, isTarget: Column): DataFrame =
    TextAnalysis.crossPerplexity(tokenize(docs), isTarget)

  /** DSIR-style importance weights: top-k docs by mean hashed-n-gram
    * log-likelihood ratio of a target slice vs the raw corpus —
    * (doc_id, n_feats, dsir_w). `isTarget` marks the target-domain
    * exemplar rows (e.g. `col("source") === "curated"`). */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  buckets: Int = 4096, topK: Int = 100): DataFrame =
    Curation.dsirWeights(tokenize(docs), isTarget, buckets, topK)

  /** Batch-build the DSIR model artifact: (per-bucket log-likelihood
    * ratios, unseen-bucket default) — driver-side model state (the
    * kmeans-centroid contract) for stateless scoring via
    * [[dsirScore]] or `streaming.EventStreams.dsirScoreStream`. */
  def dsirModel(docs: DataFrame, isTarget: Column,
                buckets: Int = 4096): (Map[String, Double], Double) =
    Curation.dsirModel(tokenize(docs), isTarget, buckets)

  /** Stateless DSIR scoring against a [[dsirModel]] artifact: adds
    * (n_feats, dsir_w) as a pure projection — no shuffle, no join;
    * zero-feature rows are dropped (the [[dsirWeights]] row set). */
  def dsirScore(docs: DataFrame, model: Map[String, Double],
                default: Double, buckets: Int = 4096): DataFrame =
    Curation.dsirScoreCols(tokenize(docs), model, default, buckets)
      .drop("toks")

  /** Per-doc whitespace vs greedy-merge BPE token counts over
    * tokenized docs — the context-window budget in the tokens the
    * model actually sees ([[graft.functions.Bpe]]); pair with
    * `packChunks(..., tokenCount = Bpe.bpeCount(col("toks")))` to
    * budget packing in BPE space. */
  def bpeTokenCounts(docs: DataFrame): DataFrame = {
    val toks = tokenize(docs)
    functions.Bpe.register(toks.sparkSession)
    toks.select(col("doc_id"),
                org.apache.spark.sql.functions.size(col("toks")).as("n_ws"),
                functions.Bpe.bpeCount(col("toks")).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** Raw-HTML main-content extraction over (doc_id, html) rows:
    * boilerplate-block drop, tag strip, entity decode, whitespace
    * normalize → (doc_id, title, content, n_chars, n_words). */
  def htmlExtract(rows: DataFrame): DataFrame = ops.Html.htmlExtract(rows)

  /** URL canonicalization over (doc_id, url) rows: lowercase
    * scheme+host, strip www/default ports/fragments/utm params/dot
    * segments/index leaf → (doc_id, url, canon, domain, n_params). */
  def canonicalizeUrls(rows: DataFrame): DataFrame =
    ops.Url.canonicalizeUrls(rows)

  /** URL-keyed dedup: group (doc_id, url) rows by the canonical form,
    * keep the min doc_id, count variants — the crawl step BEFORE
    * content dedup. */
  def dedupByUrl(rows: DataFrame): DataFrame = ops.Url.dedupByUrl(rows)

  /** URL filtering against a broadcast domain blocklist + path-pattern
    * rules: every row tagged 'domain' / 'path' / 'kept' (auditable;
    * the kept stream is `.filter(col("kept"))`). */
  def urlFilter(rows: DataFrame, blockedDomains: DataFrame,
                pathRules: Seq[String]): DataFrame =
    ops.Url.urlFilter(rows, blockedDomains, pathRules)

  /** `<a href>` edge list from (doc_id, html) rows:
    * (doc_id, href, anchor), entity-decoded and squashed. */
  def extractLinks(rows: DataFrame): DataFrame = ops.Links.extractLinks(rows)

  /** Per-target link rollup: (href, n_links, n_docs, texts) with the
    * sorted distinct anchor-text set bounded to [[ops.Links.MaxTexts]]. */
  def anchorStats(links: DataFrame): DataFrame = ops.Links.anchorStats(links)

  /** PageRank over a (src, dst) edge list, fixed `iters` power
    * iterations with uniform teleport and dangling-mass
    * redistribution: (node, pr), one shuffle per round. */
  def pageRank(edges: DataFrame, iters: Int = 10): DataFrame =
    ops.Graph.pageRank(edges, iters)

  /** Link-graph degree report per node: out/in degree, distinct
    * neighbor counts, self-link count. */
  def degreeStats(edges: DataFrame): DataFrame = ops.Graph.degreeStats(edges)

  /** HITS hubs & authorities over a (src, dst) edge list, fixed
    * iterations, L1-normalized: (node, hub, auth). */
  def hits(edges: DataFrame, iters: Int = 10): DataFrame =
    ops.Graph.hits(edges, iters)

  /** Deterministic label-propagation communities over a (src, dst)
    * edge list treated undirected (most-frequent neighbour label,
    * min-label tiebreak, fixed rounds): (node, community). */
  def labelPropagation(edges: DataFrame, iters: Int = 5): DataFrame =
    ops.Graph.labelPropagation(edges, iters)

  /** Personalized PageRank: teleport and dangling mass land on the
    * `seeds` (node) set only, so unreachable nodes score exactly 0:
    * (node, pr). The topic/trust-biased ranking. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 10): DataFrame =
    ops.Graph.personalizedPageRank(edges, seeds, iters)

  /** Per-node triangle count + local clustering coefficient over a
    * (src, dst) edge list treated as a simple undirected graph:
    * (node, degree, triangles, clustering). Degree-ordered
    * orientation, so wedge fan-out is O(sqrt m) per node, never
    * raw-degree-quadratic. */
  def triangleCount(edges: DataFrame): DataFrame =
    ops.Graph.triangleCount(edges)

  /** Minimum hop distance from a `seeds` (node) set over a directed
    * (src, dst) edge list: (node, depth), -1 for unreachable nodes.
    * Monotone frontier expansion with early exit — total work is one
    * pass over the reachable edges, not per-round re-relaxation. */
  def bfsDepth(edges: DataFrame, seeds: DataFrame,
               maxDepth: Int = ops.Graph.BfsMaxDepth): DataFrame =
    ops.Graph.bfsDepth(edges, seeds, maxDepth)

  /** Connected components over a generic (src, dst) edge list — the
    * [[dedupClusters]] O(log d) pointer-jumping engine under
    * graph-flavored names: (node, component, component_size,
    * is_root), where the component id and root are the component's
    * minimum node. Any orderable id type (numeric doc ids, string
    * hosts/tokens alike) via order-preserving dictionary encoding. */
  def connectedComponents(edges: DataFrame): DataFrame =
    ops.Graph.connectedComponents(edges)

  /** k-core decomposition over any (src, dst) edge list (treated
    * undirected/simple): the maximal subgraph where every node keeps
    * degree ≥ k, by simultaneous peeling; (node, core_deg). Throws if
    * the peel hasn't converged in `maxRounds`. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame =
    ops.Graph.kCore(edges, k, maxRounds)

  /** Exact shared-span pairs: docs sharing a verbatim `w`-token window
    * (substring-level dedup signal): (doc_a, doc_b, n_shared_spans).
    * Spans appearing in more than `maxDf` docs are dropped as
    * boilerplate — the hot-key bound that keeps the span self-join
    * from an m² blowup on one key. */
  def sharedSpans(docs: DataFrame, w: Int = 20, maxDf: Int = 128): DataFrame =
    Dedup.sharedSpans(tokenize(docs), w, maxDf)

  /** Substring-dedup rewrite: every duplicated `w`-token window keeps
    * only its globally-first occurrence; docs are rebuilt from the
    * surviving tokens — (doc_id, n_before, n_after, text_after).
    * Cuts boilerplate RUNS out of otherwise-unique documents, the
    * duplication document-level dedup cannot see. */
  def spanCut(docs: DataFrame, w: Int = 20): DataFrame =
    Dedup.spanCut(tokenize(docs), w)

  /** Per-source corpus report: doc counts, language spread, token
    * totals/means, mean quality (needs a `source` column). */
  def domainStats(docs: DataFrame): DataFrame =
    TextAnalysis.domainStats(tokenize(docs))

  /** Per-source distribution drift vs the corpus unigram LM:
    * (source, n_toks, vocab, kl, xent). KL moves when a source's
    * token distribution shifts (spam flood, language drift) long
    * before per-doc filters trip; xent is the bits-per-token cost of
    * modeling the source with the corpus LM (needs `source`). */
  def corpusDivergence(docs: DataFrame): DataFrame =
    TextAnalysis.corpusDivergence(tokenize(docs))

  /** Skip-gram co-occurrence counts within a ±k window:
    * (w1, w2, n_cooc) top-N — the embedding-training count table. */
  def cooccurrence(docs: DataFrame, k: Int = 3, minCount: Long = 5,
                   topN: Int = 100): DataFrame =
    TextAnalysis.cooccurrence(tokenize(docs), k, minCount, topN)

  /** Exact heavy hitters via the two-pass Misra–Gries sketch +
    * recount: (token, cnt) for every token above N/(k+1) of the
    * corpus token stream. */
  def heavyHitters(docs: DataFrame, k: Int = 199): DataFrame =
    TextAnalysis.heavyHitters(tokenize(docs), k)

  /** Per-group exact heavy hitters (top terms per language/domain):
    * (group, token, cnt) above each group's N_g/(k+1). Fully
    * distributed — even the candidate set never touches the driver. */
  def heavyHittersByGroup(docs: DataFrame, groupCol: String = "lang",
                          k: Int = 99): DataFrame =
    TextAnalysis.heavyHittersByGroup(tokenize(docs), groupCol, k)

  /** Heavy hitters with corpus-derived support: tokens above HALF THE
    * MODE's count (and the MG-certifiable floor N/(k+1)) — the form
    * that stays non-empty when corpus growth dilutes absolute
    * shares. */
  def heavyHittersNearMax(docs: DataFrame, k: Int = 1999): DataFrame =
    TextAnalysis.heavyHittersNearMax(tokenize(docs), k)

  /** Per-group [[heavyHittersNearMax]]. */
  def heavyHittersByGroupNearMax(docs: DataFrame,
                                 groupCol: String = "lang",
                                 k: Int = 999): DataFrame =
    TextAnalysis.heavyHittersByGroupNearMax(tokenize(docs), groupCol, k)

  /** Column-level profile of any DataFrame:
    * (col_name, n_rows, n_null, n_distinct, min_s, max_s). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    ops.Profile.profile(df, cols)

  /** Incremental exact dedup of an incoming batch against an existing
    * corpus: (doc_id, status ∈ {dup_existing, dup_incoming, new},
    * dup_of). The corpus is scanned once, never shuffled. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame): DataFrame =
    Dedup.incrementalDedup(existing, incoming)

  /** Build the (shingles, bands) MinHash index of a corpus — the
    * at-rest signature store incremental near-dup probes against. */
  def buildNearDupIndex(docs: DataFrame): (DataFrame, DataFrame) =
    Dedup.buildNearDupIndex(tokenize(docs))

  /** Corpus snapshot diff: per doc_id, added / removed / changed /
    * unchanged between two (doc_id, text) snapshots. */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame =
    Dedup.corpusDiff(oldSnap, newSnap)

  /** CDC apply: fold a (doc_id, op ∈ {U,D}, text, seq) change batch
    * into a snapshot, last change per key wins — the MERGE/commit
    * step of a versioned corpus store. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame): DataFrame =
    Dedup.applyChanges(snapshot, changes)

  /** Attach observed metrics to a plan — collected DURING the next
    * action on it, costing ZERO extra jobs or scans (`df.observe`).
    * The pipeline-telemetry contract at scale: rows kept, null rates,
    * mean quality etc. ride along with the write instead of
    * re-scanning 100 TB to count them. Read the values from the
    * `Observation` after the action completes. */
  def observed(df: DataFrame, obs: org.apache.spark.sql.Observation,
               metric: org.apache.spark.sql.Column,
               more: org.apache.spark.sql.Column*): DataFrame =
    df.observe(obs, metric, more: _*)

  /** Per-language quality z-scores over (doc_id, text, lang):
    * (doc_id, lang, quality, quality_z) — threshold the standardized
    * score, not the absolute composite. */
  def qualityZ(docs: DataFrame): DataFrame =
    TextAnalysis.qualityZ(tokenize(docs))

  /** Quality-tier report: `tiers` rank buckets of the quality
    * composite (tier 1 = best): (tier, n_docs, avg_q, min_q, max_q).
    * Closed-form integer bucket over a parallel global rank — never a
    * single-partition window. */
  def qualityTiers(docs: DataFrame, tiers: Int = 4): DataFrame =
    TextAnalysis.qualityTiers(tokenize(docs), tiers)

  /** Cross-source duplication matrix: distinct texts shared per
    * source pair: (source_a, source_b, n_shared). */
  def sourceOverlap(docs: DataFrame): DataFrame = Dedup.sourceOverlap(docs)

  /** Per-source contamination: docs whose text appears anywhere else
    * in the corpus: (source, n_docs, n_dup_docs, dup_doc_rate). */
  def contaminationRate(docs: DataFrame): DataFrame =
    Dedup.contaminationRate(docs)

  /** Semantic decontamination: corpus vectors whose cosine against any
    * probe (eval) vector clears minCos — (vec_id, n_probe_hits,
    * max_cos). Exact, via the bipartite grid: probes ride the shuffle
    * across the corpus block grid — no corpus-proportional broadcast,
    * so the plan survives a probe set that grows with the corpus. */
  def semanticMatches(corpus: DataFrame, probes: DataFrame,
                      minCos: Double = 0.4): DataFrame =
    ops.Similarity.semanticMatches(corpus, probes, minCos)

  /** Probe an incoming batch against a corpus near-dup index (from
    * [[buildNearDupIndex]], typically materialized): (doc_id,
    * corpus_id, jac ≥ tau). Corpus signatures are never recomputed;
    * shuffle volume is batch-scale. */
  def incrementalNearDup(corpusShingles: DataFrame, corpusBands: DataFrame,
                         incoming: DataFrame, tau: Double = 0.8): DataFrame =
    Dedup.incrementalNearDup(corpusShingles, corpusBands,
                             tokenize(incoming), tau)

  /** Boilerplate depth profile: per doc, the largest dyadic width
    * w ∈ {64,32,16,8,4} at which it shares a w-token span with another
    * doc (0 = none) — the tuning signal for [[spanCut]]'s width. */
  def spanDepthProfile(docs: DataFrame): DataFrame =
    ops.Dedup.spanDepthProfile(tokenize(docs))

  /** Deterministic global training-order shuffle + round-robin shard
    * deal: (doc_id, skey, shard, pos_in_shard). Same salt → same
    * permutation; every shard is balanced to ±1 and itself a uniform
    * sample of the shuffled order. */
  def shuffleShards(docs: DataFrame, salt: String = "r12",
                    shards: Int = 16): DataFrame =
    ops.Curation.shuffleShards(docs, salt, shards)

  /** Deterministic proportional source interleave (α = 0.5
    * temperature): (doc_id, source, pos_in_source, global_pos) — the
    * schedule that turns mixing weights into a training order; any
    * prefix of it carries ≈ the intended source mix. */
  def mixInterleave(docs: DataFrame, salt: String = "r12"): DataFrame =
    ops.Curation.mixInterleave(docs, salt)

  /** Length-grouped batching for padding efficiency: (doc_id, n_toks,
    * bucket, batch_id, slot) — fixed-width length buckets, longest-
    * first within a bucket, dealt into `batchSize` batches. */
  def lengthBatches(docs: DataFrame, bucketWidth: Int = 32,
                    batchSize: Int = 8): DataFrame =
    ops.Curation.lengthBatches(tokenize(docs), bucketWidth, batchSize)

  /** Streaming twin of [[incrementalNearDup]]: an unbounded
    * (doc_id, ts, toks) document stream probed against the
    * materialized corpus band index via stateless stream-static
    * joins; the only state is the watermark-bounded multi-band
    * collision dedup. Emits (doc_id, ts, corpus_id, jac ≥ tau). */
  def nearDupProbeStream(docs: DataFrame, corpusShingles: DataFrame,
                         corpusBands: DataFrame, tau: Double = 0.8,
                         watermark: String = "10 minutes"): DataFrame =
    streaming.EventStreams.nearDupProbeStream(
      docs, corpusShingles, corpusBands, tau, watermark = watermark)

  /** Batched bilinear luma thumbnails over typed media rows — the
    * resize member of the multimodal quartet: (doc_id, kind, src_w,
    * src_h, thumb). No shuffle; undecodable bytes yield an honest
    * opaque row with an empty grid. */
  def thumbnails(media: org.apache.spark.sql.Dataset[ops.Multimodal.MediaRow],
                 tw: Int = 5, th: Int = 5)
      : org.apache.spark.sql.Dataset[ops.Multimodal.MediaThumb] =
    ops.Multimodal.thumbnails(media, tw, th)

  /** Fixed-rate video keyframe sampling — the sample member of the
    * multimodal quartet: every `every`-th JPEG frame of an
    * MJPEG-in-MP4 stream is decoded to (doc_id, frame_idx, n_frames,
    * mean luma); skipped frames are sliced by marker scan but never
    * pay the codec. No shuffle. */
  def sampleFrames(media: org.apache.spark.sql.Dataset[ops.Multimodal.MediaRow],
                   every: Int = 3)
      : org.apache.spark.sql.Dataset[ops.Multimodal.FrameSample] =
    ops.Multimodal.sampleFrames(media, every)

  /** The composed incremental crawl triad as ONE streaming query —
    * pages (doc_id, url, html, ts) in, corpus near-dup hits
    * (doc_id, ts, corpus_id, jac) out: URL-canon dedup → markup strip
    * + content dedup + quality gates → band-index probe; exactly
    * three watermark-bounded state stores. */
  def crawlTriadStream(pages: DataFrame, corpusShingles: DataFrame,
                       corpusBands: DataFrame, tau: Double = 0.8,
                       watermark: String = "10 minutes"): DataFrame =
    streaming.EventStreams.crawlTriadStream(
      pages, corpusShingles, corpusBands, tau, watermark)

  /** The BATCH crawl triad over (doc_id, url, html) pages: canon
    * dedup → extraction → content dedup → quality gates → near-dup
    * probe vs a materialized corpus band index; emits the
    * contamination stream (doc_id, corpus_id, jac ≥ tau). The
    * streaming twin is [[crawlTriadStream]] — same stages, same
    * shared gate definition. */
  def crawlTriad(pages: DataFrame, corpusShingles: DataFrame,
                 corpusBands: DataFrame, tau: Double = 0.8): DataFrame =
    Curation.crawlTriad(pages, corpusShingles, corpusBands, tau)

  /** The training-assembly composition over (doc_id, text) documents:
    * exact dedup keepers → quality gate → deterministic md5 shuffle
    * dealt to `shards` → per-shard `budget`-token chunk packing —
    * (doc_id, shard, pos_in_shard, chunk, n_toks, quality). */
  def trainingPipeline(docs: DataFrame, shards: Int = 8,
                       budget: Long = 2048): DataFrame =
    Curation.trainingPipeline(docs, shards, budget)

  /** Exact-screen decontamination's sub-quadratic sibling over the
    * materialized ANN posting index (recall < 1 — the registered
    * exact path is [[semanticMatches]]): corpus rows matching
    * `probePred` act as the probe set. */
  def semanticMatchesAnn(spark: SparkSession, dir: String,
                         probePred: org.apache.spark.sql.Column,
                         minCos: Double = 0.4): DataFrame =
    ops.Similarity.semanticMatchesAnn(spark, dir, probePred, minCos)

  /** Deterministic Lloyd's k-means over (vec_id, embedding):
    * (vec_id, cluster, dist). */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 5): DataFrame =
    Clustering.kmeans(embeddings, k, iters)

  // ---- embeddings ----

  /** L2-normalized (vec_id, vn) view, persisted. */
  def normalizeEmbeddings(embeddings: DataFrame): DataFrame =
    Similarity.normalizeEmbeddings(embeddings)

  /** Exact top-N most-similar pairs by cosine — certified two-phase
    * (LSH-derived proven threshold + grid-blocked completion; no
    * corpus broadcast, no nested-loop product). */
  def cosineTopK(embeddings: DataFrame, n: Int = 100): DataFrame =
    Similarity.cosineTopK(embeddings, n)

  /** τ-free exact top-N pairs — the diagnostic twin of [[cosineTopK]]
    * (identical results by construction). */
  def cosineTopKExhaustive(embeddings: DataFrame, n: Int = 100): DataFrame =
    Similarity.cosineTopKExhaustive(embeddings, n)

  /** Exact per-vector k nearest neighbours: (id_a, rn, id_b, cos_sim)
    * — certified two-phase (per-vector proven thresholds + grid
    * completion). */
  def knn(embeddings: DataFrame, k: Int = 3): DataFrame =
    Similarity.knn(embeddings, k)

  /** τ-free exact kNN — the diagnostic twin of [[knn]] (identical
    * results by construction). */
  def knnExhaustive(embeddings: DataFrame, k: Int = 3): DataFrame =
    Similarity.knnExhaustive(embeddings, k)

  /** Embedding-cosine near-duplicate pairs (cos ≥ minCos). */
  def embeddingNearDups(embeddings: DataFrame, minCos: Double = 0.4): DataFrame =
    Similarity.embeddingNearDups(embeddings, minCos)

  /** Embedding-space outlier report: (vec_id, dist, dist_z) —
    * z-scored Euclidean distance to the broadcast corpus centroid,
    * top-N most anomalous. The corrupt-embedding hygiene check. */
  def embedOutliers(embeddings: DataFrame, topN: Int = 50): DataFrame =
    Similarity.embedOutliers(embeddings, topN)

  /** APPROXIMATE per-vector k nearest neighbours (OR-amplified
    * multi-probe LSH — the sub-quadratic scale path for [[knn]]);
    * builds the index inline. For repeated querying, materialize the
    * posting table once instead. `tables`/`probeFlips` are the
    * recall/latency knobs: recall ≈ 1-(1-p)^tables, candidate volume
    * ≈ tables·(probeFlips+1). */
  def annNeighbors(embeddings: DataFrame, k: Int = 3,
                   // the r9 AnnTune operating point (recall@3 0.95 at
                   // sf0.1): more OR-amplified tables with a narrower
                   // per-table probe beat the old 4×4 (recall 0.82)
                   tables: Int = 8, probeFlips: Int = 3): DataFrame =
    Similarity.annNeighbors(embeddings, k, tables, probeFlips)

  /** Per-vector symmetric int8 quantization (4x smaller vectors, one
    * float scale each): (vec_id, qvec, max_abs). */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame =
    ops.Quant.quantizeEmbeddings(embeddings)

  /** Approximate dot-product top-k over the int8-quantized corpus —
    * the integer-kernel/4x-memory search path. */
  def quantizedTopK(embeddings: DataFrame, nProbes: Int = 5,
                    k: Int = 10): DataFrame =
    ops.Quant.quantizedTopK(embeddings, nProbes, k)

  /** Johnson–Lindenstrauss projection to 16 dims (fixed seeded
    * planes, 1/√k scaling): (vec_id, proj) — the dim-reduction half
    * of the embedding-footprint story. */
  def projectEmbeddings(embeddings: DataFrame): DataFrame =
    ops.Quant.projectEmbeddings(embeddings)

  // ---- event analytics ----

  /** [[funnel]] with a per-step conversion horizon (e.g. "1 HOUR"):
    * each stage counts only conversions within that interval of the
    * previous stage's first event. */
  def funnelWithin(events: DataFrame, stages: Seq[String],
                   horizon: String): DataFrame =
    ops.Events.funnelWithin(events, stages, Some(horizon))

  /** Ordered conversion funnel over any stage list: each stage counts
    * users whose first qualifying event strictly follows the previous
    * stage's; (stage, name, n_users). Input: (user_id, event_type, ts). */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame =
    ops.Events.funnel(events, stages)

  /** Last-touch attribution: each `convType` conversion credited to
    * the user's latest preceding `touchTypes` event within `horizon`
    * (else `direct`); (channel, n_conv, revenue). */
  def attribution(events: DataFrame, touchTypes: Seq[String],
                  convType: String, horizon: String = "7 DAYS"): DataFrame =
    ops.Events.attribution(events, touchTypes, convType, horizon)

  /** Weekly cohort retention: users per (first-event cohort week,
    * activity-week offset). Input: (user_id, ts). */
  def retention(events: DataFrame): DataFrame = ops.Events.retention(events)

  /** Daily resample with gap filling + forward fill per user:
    * (user_id, d, v, n, v_ff); missing days appear with n = 0 and the
    * last observed value carried forward. */
  def resampleDaily(events: DataFrame): DataFrame =
    ops.Events.resampleDaily(events)

  /** Markov transition matrix over per-user event sequences:
    * (prev_type, next_type, n, avg_gap_us) for every consecutive
    * event-type hop, ordered by ts with event_id tiebreak. Input:
    * (user_id, event_id, ts, event_type). */
  def transitions(events: DataFrame): DataFrame =
    ops.Events.transitions(events)

  /** Top-N 3-hop clickstream paths ("a>b>c", n) over per-user event
    * sequences — [[transitions]] generalized to hop triples. Input:
    * (user_id, event_id, ts, event_type). */
  def eventPaths(events: DataFrame, topN: Int = 10): DataFrame =
    ops.Events.eventPaths(events, topN)

  /** Daily volume anomaly detection per event type: every calendar
    * day in the type's span (zero-filled gaps included, so stalls are
    * visible) z-scored against its trailing 7-day baseline, `spike`
    * flagged at |z| > zThr. Input: (event_type, ts). */
  def spikeDetect(events: DataFrame, zThr: Double = 3.0): DataFrame =
    ops.Events.spikeDetect(events, zThr)

  /** Densify a per-(event_type, hour) metric onto the full hourly
    * spine; repair holes by forward fill and linear interpolation.
    * Input: (event_type, ts, value). */
  def gapFillHourly(events: DataFrame): DataFrame =
    ops.Events.gapFillHourly(events)

  /** Time-aware exponentially weighted moving average of the daily
    * cent-rounded value sum per event type; the decay exponent is the
    * calendar-day gap. Input: (event_type, ts, value). */
  def ewmaDaily(events: DataFrame, decay: Double = 0.5): DataFrame =
    ops.Events.ewmaDaily(events, decay)

  /** Edit-distance similarity join: all row pairs whose strings are
    * within Levenshtein distance [1, maxDist], via complete
    * deletion-neighborhood candidates + exact verify. */
  def fuzzyPairs(strs: DataFrame, idCol: String, strCol: String,
                 maxDist: Int = 1, maxSigGroup: Int = 0): DataFrame =
    ops.Fuzzy.fuzzyPairs(strs, idCol, strCol, maxDist, maxSigGroup)

  /** Contingency-table association profile of two categorical
    * columns: per-cell expected counts, χ² and mutual-information
    * contributions, plus deterministic χ²/MI totals and Cramér's V. */
  def assocStats(df: DataFrame, aCol: String, bCol: String): DataFrame =
    ops.Profile.assocStats(df, aCol, bCol)

  /** Weighted single-source shortest paths (synchronous Bellman-Ford
    * rounds; integer non-negative costs; −1 = not reached within the
    * round budget). Input: (src, dst, cost) + seeds (node). */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int = 10): DataFrame =
    ops.Graph.sssp(edges, seeds, rounds)

  /** Newman modularity of a community assignment over the undirected
    * simple graph: per-community terms + the deterministic global
    * score. Inputs: (src, dst) edges and (node, community). */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame =
    ops.Graph.modularity(edges, communities)

  /** Rolling exact p50/p90 of the daily value sum per event type over
    * the trailing `window`-observation frame. */
  def rollingQuantilesDaily(events: DataFrame, window: Int = 7): DataFrame =
    ops.Events.rollingQuantilesDaily(events, window)

  /** Seasonal-profile anomaly detection: hours z-scored against their
    * own (type, hour-of-day) baseline over the observed span. */
  def seasonalAnomaly(events: DataFrame, zThr: Double = 2.0): DataFrame =
    ops.Events.seasonalAnomaly(events, zThr)

  /** Robust (median/MAD, Iglewicz–Hoaglin) outlier scoring of the
    * zero-filled daily counts per event type. */
  def robustOutliers(events: DataFrame, zThr: Double = 3.5): DataFrame =
    ops.Events.robustOutliers(events, zThr)

  /** Winsorization report of `valCol` per `groupCol`: quantile clip
    * bounds, clip counts, and cent-exact means before/after. */
  def winsorize(df: DataFrame, groupCol: String, valCol: String,
                lo: Double = 0.05, hi: Double = 0.95): DataFrame =
    ops.Profile.winsorize(df, groupCol, valCol, lo, hi)

  /** Benford first-significant-digit audit of a positive numeric
    * column: observed shares vs log10(1+1/d) with χ² contributions. */
  def benford(df: DataFrame, valCol: String): DataFrame =
    ops.Profile.benford(df, valCol)

  /** RFM quintile segmentation of purchase behavior per user:
    * recency/frequency/monetary with 1–5 scores and the segment code. */
  def rfm(events: DataFrame, purchaseType: String = "purchase"): DataFrame =
    ops.Analytics.rfm(events, purchaseType)

  /** Market-basket association rules over per-(user, day) baskets of
    * distinct event types: support, both confidences, lift. */
  def marketBasket(events: DataFrame): DataFrame =
    ops.Analytics.marketBasket(events)

  /** Two-sided CUSUM changepoint detection on the standardized daily
    * count series per event type; alarm above `h`. */
  def cusum(events: DataFrame, k: Double = 0.5, h: Double = 5.0): DataFrame =
    ops.Analytics.cusum(events, k, h)

  /** Two-proportion z-test between the variants of `variantExpr`
    * ('A'/'B'), conversion = "user has ≥1 event satisfying
    * `convExpr`"; pooled-variance z with a degenerate guard. */
  def abTest(events: DataFrame, variantExpr: org.apache.spark.sql.Column,
             convExpr: org.apache.spark.sql.Column): DataFrame =
    ops.Analytics.abTest(events, variantExpr, convExpr)

  /** Exact tie-corrected ROC AUC of a (score, label) frame: one row
    * (n_pos, n_neg, auc). Never enumerates pairs — per-distinct-score
    * counts + a banded prefix sum, bounded for any score domain. */
  def auc(scored: DataFrame): DataFrame = ops.Analytics.auc(scored)

  /** Hybrid retrieval: RRF fusion of a BM25 pool and a dense
    * cosine-vs-probe pool, each cut to `poolK` before fusion. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
                queryTerms: Seq[String] = ops.Text.Bm25Query,
                probeId: Long = ops.Search.HybridProbeId,
                poolK: Int = ops.Search.HybridPoolK,
                rrfK: Int = ops.Search.RrfK,
                topN: Int = ops.Search.HybridTopN): DataFrame =
    ops.Search.hybridRrf(tokenize(docs), embeddings, queryTerms,
                         probeId, poolK, rrfK, topN)

  /** Stage-2 feature reranking of the hybrid pool: coverage/query-tf/
    * first-position/length-prior readout over ≤ topN broadcast
    * candidates — one narrow pruned corpus pass. */
  def rerank(docs: DataFrame, embeddings: DataFrame,
             queryTerms: Seq[String] = ops.Text.Bm25Query,
             probeId: Long = ops.Search.HybridProbeId,
             poolK: Int = ops.Search.HybridPoolK,
             rrfK: Int = ops.Search.RrfK,
             topN: Int = ops.Search.HybridTopN): DataFrame =
    ops.Search.rerank(tokenize(docs), embeddings, queryTerms,
                      probeId, poolK, rrfK, topN)

  /** Positional phrase search: docs containing `phrase` as consecutive
    * tokens, with occurrence count and first position — one narrow
    * native-expression scan, no explode or self-join. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame =
    ops.Search.phraseSearch(tokenize(docs), phrase)

  /** Exact upper-triangle covariance matrix of the embedding columns
    * (di ≤ dj): order-independent integer carriers, one narrow pass,
    * d²-bounded output. */
  def covMatrix(embeddings: DataFrame): DataFrame =
    Similarity.covMatrix(embeddings)

  /** PCA projection onto the top-k principal components: deterministic
    * power iteration over the [[covMatrix]] model artifact, then one
    * broadcast-literal dot pass per component. */
  def pcaProject(embeddings: DataFrame, k: Int = 2): DataFrame =
    Similarity.pcaProject(embeddings, k)

  /** Gini concentration of a cent-exact metric per group (rank
    * formula on the (value, id) total order). */
  def gini(df: DataFrame, groupCol: String, idCol: String,
           valCol: String): DataFrame =
    ops.Profile.gini(df, groupCol, idCol, valCol)

  /** Join-key skew profile: rows, distinct keys, top-1/top-10 shares,
    * order-independent entropy, effective key count. */
  def keySkew(df: DataFrame, cols: Seq[String]): DataFrame =
    ops.Profile.keySkew(df, cols)

  /** End-to-end entity resolution: fuzzy blocking + Jaro–Winkler
    * scoring + connected-components merge; minimum member canonical. */
  def resolveEntities(strs: DataFrame, idCol: String, strCol: String,
                      maxDist: Int = 1, minJw: Double = 0.9): DataFrame =
    ops.Fuzzy.resolveEntities(strs, idCol, strCol, maxDist, minJw)

  /** Smoothed target encoding of a categorical column:
    * (Σtarget + m·prior)/(n + m) with the global-mean prior. */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
                   m: Double = 100.0): DataFrame =
    ops.Profile.targetEncode(df, catCol, targetCol, m)

  /** Population Stability Index drift report between a reference and
    * a current sample of a numeric column (reference-decile buckets). */
  def psiDrift(ref: DataFrame, cur: DataFrame, valCol: String): DataFrame =
    ops.Profile.psiDrift(ref, cur, valCol)

  /** Rolling distinct actives: DAU plus trailing `window`-day active
    * users per report day (WAU/MAU), via bounded fan-out explode. */
  def rollingActives(events: DataFrame, window: Int = 7): DataFrame =
    ops.Events.rollingActives(events, window)

  /** Lag-k autocorrelation (k = 1..maxLag) of the daily cent-exact
    * value series per event type; NULL on zero variance. */
  def autocorrDaily(events: DataFrame, maxLag: Int = 7): DataFrame =
    ops.Events.autocorrDaily(events, maxLag)

  /** Interval union per key: merged-island count + total covered
    * microseconds from overlapping [s, e] timestamp intervals. */
  def intervalUnion(iv: DataFrame): DataFrame =
    ops.Relational.intervalUnion(iv)

  /** Per-node edge reciprocity over a directed (src, dst) edge list:
    * (node, out_deg, recip, recip_ratio). */
  def reciprocity(edges: DataFrame): DataFrame =
    ops.Graph.reciprocity(edges)

  /** Four-mode directed degree assortativity (in-in/in-out/out-in/
    * out-out Pearson r over distinct non-self edges). */
  def assortativity(edges: DataFrame): DataFrame =
    ops.Graph.assortativity(edges)

  /** Zipf's-law log-log least-squares fit over the top-1000 token
    * ranks of a (w) token DataFrame: one row
    * (n_types, n_tokens, n_ranks, slope, intercept, r2). */
  def zipfFit(tokens: DataFrame): DataFrame = ops.CorpusLaws.zipfFit(tokens)

  /** Heaps'-law vocabulary-growth fit per source over
    * (doc_id, source, w) tokens: (source, n_docs, beta, k, r2). */
  def heapsFit(tokens: DataFrame): DataFrame = ops.CorpusLaws.heapsFit(tokens)

  /** Per-document n-gram novelty in doc_id order: of each doc's
    * distinct n-grams, the share no smaller doc_id contains —
    * (doc_id, n_grams, n_novel, novelty) from a (doc_id, toks) frame. */
  def ngramNovelty(docToks: DataFrame, n: Int = 2): DataFrame =
    ops.Text.ngramNovelty(docToks, n)

  /** Exact two-sample KS drift statistic, each source vs the rest,
    * over an integer per-row statistic: (source, n_src, n_rest,
    * ks_at, ks_d) from a (source, <valCol>) frame. */
  def ksBySource(perRow: DataFrame, valCol: String = "n_toks"): DataFrame =
    ops.Profile.ksBySource(perRow, valCol)

  /** Greedy quality-first selection under an inclusive token budget
    * over a (doc_id, n_toks, quality) frame: the kept docs with
    * running totals. */
  def tokenBudget(q: DataFrame, budget: Long = 12000L): DataFrame =
    ops.Curation.tokenBudget(q, budget)

  /** Exact equi-join cardinality prediction from the two key-count
    * tables (Σ c_l(k)·c_r(k)) plus the heaviest key's contribution —
    * the pre-shuffle salting diagnostic. */
  def joinCardinality(left: DataFrame, leftKey: String,
                      right: DataFrame, rightKey: String,
                      withActual: Boolean = true): DataFrame =
    ops.Profile.joinCardinality(left, leftKey, right, rightKey, withActual)

  /** Equi-depth decile binning of a numeric column with per-bin
    * cent-exact target means. */
  def quantileBins(df: DataFrame, valCol: String, targetCol: String): DataFrame =
    ops.Profile.quantileBins(df, valCol, targetCol)

  /** Equi-width 2-D histogram with cent-exact per-cell measure means
    * (the heatmap feed; the equi-depth complement is quantileBins). */
  def histogram2d(df: DataFrame, xCol: String, xWidth: Double,
                  yCol: String, yWidth: Double, measureCol: String): DataFrame =
    ops.Profile.histogram2d(df, xCol, xWidth, yCol, yWidth, measureCol)

  /** Fano factor (variance/mean of zero-filled daily counts) per
    * event type — the burstiness diagnostic. */
  def burstiness(events: DataFrame): DataFrame =
    ops.Profile.burstiness(events)

  /** Native Jaro–Winkler similarity column (codegen expression;
    * register functions first or build with GraftExtensions). */
  def jaroWinkler(a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    functions.StringSimilarity.jaroWinkler(a, b)

  // ---- joins / session ----

  /** Backward as-of join through the native plan node (Inner or
    * LeftOuter): for each left row, the latest right row with equal
    * key and right-ts ≤ left-ts. */
  def asof(left: DataFrame, right: DataFrame,
           leftKeyCol: String, rightKeyCol: String,
           leftTsCol: String, rightTsCol: String,
           joinType: JoinType = Inner): DataFrame =
    plans.AsOfJoins.asof(left, right, leftKeyCol, rightKeyCol,
                         leftTsCol, rightTsCol, joinType)

  /** Interval-overlap join of two closed timestamp intervals, each
    * pair exactly once, via fixed-width bucket decomposition — a hash
    * equi-join on the bucket id, never a nested loop. Column names
    * must be disjoint across the two sides. */
  def intervalJoin(a: DataFrame, b: DataFrame,
                   aStart: String, aEnd: String,
                   bStart: String, bEnd: String,
                   bucketWidth: String = "1 hour"): DataFrame =
    ops.Relational.intervalJoin(a, b, aStart, aEnd, bStart, bEnd, bucketWidth)

  // ---- r15: script-aware text + index/corpus maintenance ----

  /** Script-aware tokenization: CJK runs (Han/kana/Hangul) become
    * character bigrams, everything else the whitespace tokenizer —
    * adds `toks` to any (doc_id, text) frame, drop-in for the
    * shingle/dedup/BM25 stack on mixed-script corpora. */
  def tokenizeScriptAware(docs: DataFrame): DataFrame =
    docs.withColumn("toks",
      ops.Text.tokenizeScriptAware(org.apache.spark.sql.functions.col("text")))

  /** Near-dup index MAINTENANCE: fold an incoming (doc_id, toks)
    * batch into a materialized band index — ≥ tau matches rejected,
    * novel docs' (shingles, bands) returned union-ready; frozen
    * permutations mean appends never move an existing row. */
  def appendNearDupIndex(corpusShingles: DataFrame, corpusBands: DataFrame,
                         incoming: DataFrame,
                         tau: Double = 0.8): (DataFrame, DataFrame) =
    ops.Dedup.appendNearDupIndex(corpusShingles, corpusBands, incoming, tau)

  /** Training-shard writer: deterministic doc_id-div sharding +
    * manifest ([[graft.sources.Formats.writeShards]]). */
  def writeShards(docs: DataFrame, path: String,
                  shardSpan: Long = 1000): DataFrame =
    sources.Formats.writeShards(docs, path, shardSpan)

  /** Corpus refresh AT REST: fold a CDC batch into a [[writeShards]]
    * corpus rewriting ONLY the delta-touched shards; untouched shard
    * files stay byte-identical; returns the patched manifest with a
    * per-shard `changed` flag. */
  def refreshShards(path: String, changes: DataFrame,
                    shardSpan: Long = 1000): DataFrame =
    sources.Formats.refreshShards(path, changes, shardSpan)

  /** Registers every graft SQL function on the session — or build the
    * session with `.withExtensions(new plans.GraftExtensions)` to get
    * functions AND the as-of planner strategy. Streaming operators
    * (content-hash dedup, interval join, custom sessions) live in
    * [[graft.streaming.EventStreams]]; the WARC/WAT/WET/CDX container
    * family (batch + streaming + gzip members + ranged point reads)
    * lives in [[graft.sources.Warc]]. */
  def registerFunctions(spark: SparkSession): Unit =
    functions.GraftFunctions.registerAll(spark)
}
