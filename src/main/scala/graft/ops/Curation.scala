package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.Tables

/** Training-corpus curation operators beyond dedup/similarity: the
  * selection, mixing, sharding and hygiene steps a large-scale
  * LLM-data pipeline runs between "raw corpus" and "training shards".
  * North-star surface (SURVEY.md §2.4 addendum); no reference
  * counterpart exists — the reference ships a single n-gram transform
  * (`/root/reference/src/main/java/co/cask/hydrator/plugin/
  * NGramTransform.java:116-118`) and none of these.
  *
  * Scale design: sampling/mixing/repetition are pure narrow
  * projections+filters (no shuffle at all); packing is a distributed
  * two-level prefix sum (per-bucket windows run in parallel; only the
  * per-bucket totals — one row per bucket — see a global window);
  * decontamination shuffles on the n-gram join key with the eval side
  * broadcast (eval sets are small by construction); the inverted index
  * bounds its posting lists BEFORE any collect_list so no group ever
  * materializes an unbounded array.
  */
object Curation {

  /** Shared DSIR bucketing contract: md5 hex-prefix length for a
    * power-of-16 bucket count — model build, batch scoring and the
    * join-path scorer must all hash features identically, so the
    * computation (and its precondition) lives once. */
  private def hexPrefixDigits(buckets: Int): Int = {
    require(Seq(16, 256, 4096, 65536).contains(buckets),
            s"buckets must be a power of 16 (hex-prefix bucketing), got $buckets")
    (math.log(buckets.toDouble) / math.log(16.0)).round.toInt
  }

  /** Deterministic uniform sampling by content-independent hash:
    * keep a row iff the first 4 hex chars of md5(doc_id) fall below
    * `thrHex` (lexicographic compare on lowercase hex ≡ numeric
    * compare on the 16-bit prefix — '1999' ≈ 10%). Same sample on
    * every engine and every run — the property training-data splits
    * need (resumable, auditable, no RNG state). Narrow filter: at
    * 100 TB this is a full scan and nothing else; with the sample
    * hash materialized at rest it becomes a pushed-down predicate.
    */
  def sampleHash(docs: DataFrame, thrHex: String = "1999"): DataFrame =
    docs
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
      .filter(col("bucket") < lit(thrHex))
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .orderBy("doc_id")

  /** q_sample_hash: [[sampleHash]] on the test corpus (~10%). */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame =
    sampleHash(Tables.documents(spark, dir))

  /** Deterministic stratified sampling: the first `n` docs per
    * stratum (lang) in md5(doc_id) order — "equal-size per-language
    * eval split" without an RNG. Per-stratum window; strata sort in
    * parallel, and the rank filter cuts each to `n` rows.
    */
  def stratifiedSample(docs: DataFrame, n: Int = 10): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
              md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy("h", "doc_id")))
      .filter(col("rn") <= n)
      .select("doc_id", "lang", "rn")
      .orderBy("lang", "rn")

  /** q_sample_stratified: [[stratifiedSample]] (10 per lang). */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir))

  /** Weighted dataset mixing: each source is assigned a sampling
    * tier (source number mod 3 → 80% / 50% / 10%) and rows are kept
    * by the same deterministic md5-bucket rule as [[sampleHash]];
    * emits the per-source audit summary (total vs kept). This is the
    * mixture-weights step of corpus assembly (e.g. upweight curated
    * sources, downweight crawl) as one narrow filter + one partial
    * aggregate — at scale the kept rows stream straight to the
    * training-shard writer and only the per-source counters shuffle.
    */
  def mixWeighted(docs: DataFrame): DataFrame = {
    val tiered = docs
      .withColumn("tier", substring(col("source"), 4, 8).cast("int") % 3)
      .withColumn("thr",
        when(col("tier") === 0, lit("cccc"))
          .when(col("tier") === 1, lit("8000"))
          .otherwise(lit("1999")))
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
    tiered
      .groupBy("source", "tier")
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("bucket") < col("thr"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** q_mix_weighted: [[mixWeighted]] on the test corpus. */
  def qMixWeighted(spark: SparkSession, dir: String): DataFrame =
    mixWeighted(Tables.documents(spark, dir))

  /** Quality-PROPORTIONAL deterministic sampling — keep-probability
    * scales with each row's own quality, where [[sampleHash]] is one
    * global rate and [[mixWeighted]] a per-source tier. This is the
    * "sample good documents more" curation draw, still with zero RNG
    * state: same sample on every engine, every run, resumable and
    * auditable.
    *
    * Integer-exact end to end (the [[temperatureMix]] discipline):
    * the weight is the milli-unit composite
    * `w = least(n_toks,100)·3 + (n_distinct·300) div n_toks +
    * ((n_toks−n_stop)·400) div n_toks` (the [[TextAnalysis
    * .qualityScore]] 0.3/0.3/0.4 blend in integer arithmetic, capped
    * at 999), and a row is kept iff its 16-bit md5 bucket falls below
    * `(w·65536) div 1000` rendered as 4 lowercase hex chars — a
    * lexicographic compare that IS the numeric compare, computed
    * per-row with only hex/lpad/lower (no hex-parsing, which DuckDB
    * lacks). Keep-prob = w/1000 exactly; no float ever enters the
    * decision, so the oracle matches bit-for-bit. Narrow filter:
    * at 100 TB this is one scan, no shuffle before the output sort. */
  def weightedSample(docToks: DataFrame): DataFrame =
    weightedSampleFromStats(TextAnalysis.qualityStats(docToks))

  /** [[weightedSample]] as a pure derivation of the
    * [[TextAnalysis.qualityStats]] integers — the corpus wrapper feeds
    * the MATERIALIZED stats table so the tokenize scan is paid once
    * per corpus, not once per consumer. */
  private[graft] def weightedSampleFromStats(stats: DataFrame): DataFrame = {
    stats
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_toks"), col("n_distinct"), col("n_stop"))
      .withColumn("w_milli",
        // empty toks ⇒ weight 0 (never sampled): without the guard the
        // two ratio terms divide by zero — an ANSI-mode crash, and with
        // ANSI off least() SKIPS the NULLs and hands the empty doc the
        // MAXIMUM weight. The fixture can't hit this (split of '' is
        // ['']) but the caller-supplied entry point can.
        when(col("n_toks") === 0, lit(0L)).otherwise(
          least(least(col("n_toks"), lit(100)) * 3
                  + expr("(n_distinct * 300) div n_toks")
                  + expr("((n_toks - n_stop) * 400) div n_toks"),
                lit(999)).cast("long")))
      .withColumn("bucket",
        substring(md5(col("doc_id").cast("string")), 1, 4))
      .filter(col("bucket") <
        lpad(lower(hex(expr("(w_milli * 65536) div 1000"))), 4, "0"))
      .select("doc_id", "lang", "source", "w_milli", "bucket")
      .orderBy("doc_id")
  }

  /** q_sample_weighted: [[weightedSample]] on the test corpus
    * (materialized stats). */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedSampleFromStats(TextAnalysis.corpusQualityStats(spark, dir))

  /** Temperature-smoothed language rebalancing — the multilingual
    * corpus-mixing standard (sampling rate ∝ count^α, α = 1/2, so
    * low-resource languages are upweighted relative to their share):
    * computes a per-language quota from the smoothed weights and
    * takes the first `quota` docs per language in md5(doc_id) order.
    *
    * Every step is INTEGER-EXACT so the draw is reproducible anywhere
    * (and oracle-checkable): the smoothed weight is the integer
    * milli-sqrt `s = floor(sqrt(c)*1000 + 0.5)`, and the quota is the
    * integer division `((total div 2) * s) div sum(s)` capped at `c`
    * — no cross-language float sum whose accumulation order could
    * perturb a boundary.
    *
    * Scale shape: the per-language weight/quota table is |langs| rows
    * (broadcast); the per-language rank does NOT use one
    * window-partition per language (a single task would rank the
    * entire dominant language at 100 TB) — it is a two-level exact
    * rank in the [[packChunks]] style: rank within (lang, 2-hex-char
    * md5 bucket) in parallel, then add the per-lang running total of
    * the 256 bounded bucket counts. Identical to the global rank
    * because the bucket key is a prefix of the ordering key.
    */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      .withColumn("s", floor(sqrt(col("c")) * 1000 + lit(0.5)).cast("long"))
    val totals = counts.agg(sum("c").as("total"), sum("s").as("ssum"))
    val quota = counts.crossJoin(broadcast(totals))
      .withColumn("n_take", least(expr("((total div 2) * s) div ssum"), col("c")))
      .select(col("lang"), col("n_take"))
    val h = docs.select(col("doc_id"), col("lang"),
                        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val within = h.withColumn("w_rn", row_number().over(
      Window.partitionBy("lang", "bkt").orderBy(col("h"), col("doc_id"))))
    val bktPrefix = h.groupBy("lang", "bkt").agg(count(lit(1)).as("bn"))
      .withColumn("pfx", coalesce(sum(col("bn")).over(
        Window.partitionBy("lang").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("bkt"), col("pfx"))
    within.join(broadcast(bktPrefix), Seq("lang", "bkt"))
      .withColumn("rn", (col("pfx") + col("w_rn")).cast("int"))
      .join(broadcast(quota), "lang")
      .filter(col("rn") <= col("n_take"))
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("lang", "rn")
  }

  /** q_mix_temperature: [[temperatureMix]] on the test corpus. */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(spark, dir))

  /** Deterministic train/val/test split — the assignment every
    * pipeline makes before training, done the [[sampleHash]] way (md5
    * bucket bands, no RNG) so it is resumable, reproducible across
    * runs/engines, and STABLE UNDER CORPUS GROWTH: a doc's split
    * never changes when other docs arrive, which is what keeps eval
    * sets from silently leaking into train across crawl refreshes.
    * Band edges are hex-string thresholds on the first 4 md5 nibbles
    * (fa00/fd00 ≈ 97.66% / 1.17% / 1.17%). Narrow projection.
    */
  def splitAssign(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
      .withColumn("split",
        when(col("bucket") < "fa00", "train")
          .when(col("bucket") < "fd00", "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy("doc_id")

  /** q_split_assign: [[splitAssign]] on the test corpus. */
  def qSplitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables.documents(spark, dir))

  /** Deterministic global corpus shuffle + shard assignment — the
    * training-order randomization every pretraining ingestion runs
    * before writing shards: documents are ordered by
    * md5(salt ":" doc_id) (a reproducible pseudorandom permutation —
    * re-running with the same salt always yields the same order, a
    * new salt a fresh independent one), given a dense global position,
    * and dealt round-robin into `shards`. Round-robin (pos mod
    * shards), not contiguous chunking, so every shard is (a) balanced
    * to ±1 row and (b) itself a uniform sample of the shuffled order —
    * a training job reading any shard subset still sees an unbiased
    * stream, the property contiguous chunks lack.
    *
    * Scale shape: one range-partitioned sort on the 32-hex key +
    * zipWithIndex per-partition offsets (the [[graft.ops.Dedup.rankedTokenSets]]
    * parallel dense-ranking discipline — never a single-partition
    * global window), then a narrow modular projection. The md5 key is
    * engine-independent, so the whole permutation is oracle-checked
    * row-for-row. Emits (doc_id, skey, shard, pos_in_shard). */
  def shuffleShards(docs: DataFrame, salt: String = "r12",
                    shards: Int = 16): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = docs.sparkSession
    // materialized once: the sort is consumed by zipWithIndex's offset
    // pass + the data pass (the qualityTiersOf lesson)
    val keyed = docs
      .select(col("doc_id").cast("long").as("doc_id"),
              md5(concat_ws(":", lit(salt), col("doc_id").cast("string")))
                .as("skey"))
      .localCheckpoint()
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ranked = spark.createDataFrame(
      keyed.orderBy(col("skey").asc, col("doc_id").asc).rdd
        .zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getLong(0), r.getString(1), i) },
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("skey", StringType),
        StructField("pos", LongType))))
    ranked
      .select(col("doc_id"), col("skey"),
              (col("pos") % shards).cast("int").as("shard"),
              expr(s"pos div ${shards}L").as("pos_in_shard"))
      .orderBy("doc_id")
  }

  /** q_shuffle_shard: [[shuffleShards]] (salt "r12", 16 shards) on the
    * test corpus. */
  def qShuffleShard(spark: SparkSession, dir: String): DataFrame =
    shuffleShards(Tables.documents(spark, dir))

  /** Length-grouped batching — the padding-efficiency step of a
    * training ingestion: documents are grouped into fixed-width
    * length buckets (`bucket = n_toks div bucketWidth`, integer-exact
    * on any engine), ranked longest-first inside their bucket, and cut
    * into training batches of `batchSize`, so each batch pads to
    * near-identical lengths instead of to the corpus max. Emits
    * (doc_id, n_toks, bucket, batch_id, slot).
    *
    * Scale shape: NOT a per-bucket window — bucket count is small
    * (max_len / bucketWidth), so `Window.partitionBy(bucket)` would
    * cap parallelism at ~30 tasks and put millions of rows through
    * each at corpus scale. Instead the segmented-rank discipline: ONE
    * range-partitioned global sort on (bucket, n_toks desc, doc_id) +
    * zipWithIndex per-partition offsets gives the global position;
    * the within-bucket rank is pos − min(pos) over the bucket, a join
    * against a bucket-count-bounded table. Identical arithmetic to the
    * oracle's per-bucket `row_number`. */
  def lengthBatches(docToks: DataFrame, bucketWidth: Int = 32,
                    batchSize: Int = 8): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1,
      s"bucketWidth/batchSize must be >= 1, got $bucketWidth/$batchSize")
    val spark = docToks.sparkSession
    val sized = docToks
      .select(col("doc_id").cast("long").as("doc_id"),
              size(col("toks")).cast("long").as("n_toks"))
      .withColumn("bucket", expr(s"n_toks div ${bucketWidth}L"))
      .localCheckpoint() // the sort below feeds two passes
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ranked = spark.createDataFrame(
      sized.orderBy(col("bucket").asc, col("n_toks").desc, col("doc_id").asc)
        .rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), r.getLong(2), i) },
      StructType(Seq(
        StructField("doc_id", LongType), StructField("n_toks", LongType),
        StructField("bucket", LongType), StructField("pos", LongType))))
      .localCheckpoint() // consumed by the bucket-min agg AND the join
    val bucketBase = ranked.groupBy("bucket").agg(min(col("pos")).as("base"))
    ranked.join(broadcast(bucketBase), "bucket")
      .withColumn("r", col("pos") - col("base"))
      .select(col("doc_id"), col("n_toks"), col("bucket").cast("int").as("bucket"),
              expr(s"cast(r div ${batchSize}L as int)").as("batch_id"),
              (col("r") % batchSize).cast("int").as("slot"))
      .orderBy("doc_id")
  }

  /** q_length_batch: [[lengthBatches]] (32-token buckets, batches of
    * 8) on the test corpus. */
  def qLengthBatch(spark: SparkSession, dir: String): DataFrame =
    lengthBatches(Tables.docTokens(spark, dir))

  /** Deterministic proportional source interleave — the SCHEDULE that
    * turns mixing weights into an actual training order (the missing
    * half of [[temperatureMix]]/q_mix_weighted, which only compute the
    * weights): each source's docs are shuffled within-source
    * (md5(salt:doc_id) order, the [[shuffleShards]] permutation), then
    * emitted in ascending `sched = (pos_in_source + 1) / weight` —
    * the classic proportional-fill schedule: after any prefix of the
    * global order, every source has contributed ≈ prefix·w_s/Σw docs,
    * so a training job that stops early has still seen the intended
    * mix. `weight = sqrt(count)` is the α = 0.5 temperature point;
    * sqrt (unlike pow) is IEEE-correctly-rounded on every engine, so
    * the schedule keys — exact integers divided by an exact sqrt —
    * are bit-identical in SQL and the whole order oracle-checks.
    *
    * Scale shape: two range-partitioned sorts + zipWithIndex (the
    * segmented-rank discipline for the within-source position — source
    * count is small, a per-source window would cap parallelism — then
    * a global rank on the schedule key), one broadcast of the
    * source-count table. Emits
    * (doc_id, source, pos_in_source, global_pos). */
  def mixInterleave(docs: DataFrame, salt: String = "r12"): DataFrame = {
    val spark = docs.sparkSession
    val keyed = docs
      .select(col("doc_id").cast("long").as("doc_id"),
              col("source"),
              md5(concat_ws(":", lit(salt), col("doc_id").cast("string")))
                .as("skey"))
      .localCheckpoint()
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    val ranked = spark.createDataFrame(
      keyed.orderBy(col("source").asc, col("skey").asc, col("doc_id").asc)
        .rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getLong(0), r.getString(1), i) },
      StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("pos", LongType))))
      .localCheckpoint()
    val srcBase = ranked.groupBy("source")
      .agg(min(col("pos")).as("base"), count(lit(1)).as("n"))
    val sched = ranked.join(broadcast(srcBase), "source")
      .withColumn("pos_in_source", col("pos") - col("base"))
      .withColumn("sched",
        (col("pos_in_source") + lit(1L)).cast("double") / sqrt(col("n")))
      .localCheckpoint()
    val global = spark.createDataFrame(
      sched.select(col("doc_id"), col("source"), col("pos_in_source"),
                   col("sched"))
        .orderBy(col("sched").asc, col("source").asc, col("doc_id").asc)
        .rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getLong(0), r.getString(1),
                                   r.getLong(2), r.getDouble(3), i) },
      StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("pos_in_source", LongType), StructField("sched", DoubleType),
        StructField("global_pos", LongType))))
    global.select(col("doc_id"), col("source"), col("pos_in_source"),
                  col("global_pos"))
      .orderBy("doc_id")
  }

  /** q_mix_interleave: [[mixInterleave]] (salt "r12", α = 0.5) on the
    * test corpus. */
  def qMixInterleave(spark: SparkSession, dir: String): DataFrame =
    mixInterleave(Tables.documents(spark, dir))

  /** Token-offset sharding ("packing"): concatenate the corpus in
    * doc_id order and assign each document the training chunk where
    * its first token lands (chunk = global token offset ÷ budget) —
    * the document→context-window map of a GPT-style token stream.
    *
    * The global running sum is a DISTRIBUTED TWO-LEVEL PREFIX SUM,
    * not a single global window (`Window.orderBy` with no partition
    * collapses to one task — the classic scale-killer):
    * docs are range-bucketed by doc_id (`bucket = doc_id div
    * bucketSpan`, deterministic, no sampling); the within-bucket
    * cumsum is a per-bucket window (parallel across buckets); bucket
    * prefix totals are one row per bucket, so THEIR cumsum is a
    * window over a bounded table, broadcast back. offset = bucket
    * prefix + within-bucket cumsum.
    */
  /** Append a BOUNDED banding key for the two-level prefix-sum
    * pattern: `floor` of the min-max-normalized `score` × 50, i.e.
    * ≤ 51 bands for ANY score domain (r10 advice: `floor(score·50)`
    * is bounded only for scores in [0,1] — logits or counts make the
    * band table unbounded and the band-offset window + broadcast
    * single-partition again). Min/max is one map-side-combined scalar
    * aggregate broadcast back as a 1-row cross join; normalization is
    * monotone, so the band key remains a monotone coarsening of the
    * ordering key and results are unchanged. A constant-score input
    * degenerates to one band — correct, and no worse than any
    * ordering on a constant key. */
  private[ops] def withBoundedBand(df: DataFrame, score: String,
                                   bandCol: String): DataFrame = {
    val rng = df.agg(min(col(score)).as("_bmin"), max(col(score)).as("_bmax"))
    df.crossJoin(broadcast(rng))
      .withColumn(bandCol,
        when(col("_bmax") <= col("_bmin"), lit(0L))
          .otherwise(floor((col(score) - col("_bmin")) /
            (col("_bmax") - col("_bmin")) * 50).cast("long")))
      .drop("_bmin", "_bmax")
  }

  /** Greedy QUALITY-FIRST selection under a token budget — the "best
    * B tokens of this corpus" curation primitive: rank documents by
    * (quality desc, doc_id) and keep each while its INCLUSIVE running
    * token total stays within the budget. Output: the kept documents
    * with their running totals, ordered by doc_id.
    *
    * Scale: the global quality-ordered cumsum is the [[packChunks]]
    * two-level prefix sum with QUALITY-BAND buckets
    * ([[withBoundedBand]]: min-max-normalized floor(q̂·50), ≤ 51 bands
    * for ANY quality domain — a monotone coarsening of the ordering
    * key, so band-major order ≡ global order): per-band windows run in
    * parallel, the band-offset window sees ≤ 51 rows, and the band
    * table is broadcast. No corpus-sized single-partition window; the
    * cumsum is exact integer arithmetic regardless of banding. */
  def tokenBudget(q: DataFrame, budget: Long = 12000L): DataFrame = {
    val banded = withBoundedBand(
      q.select(col("doc_id"), col("n_toks"), col("quality")), "quality", "qb")
    val wIn = Window.partitionBy("qb")
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = banded.withColumn("cum_in",
      coalesce(sum(col("n_toks").cast("long")).over(wIn), lit(0L)))
    val bands = banded.groupBy("qb")
      .agg(sum(col("n_toks").cast("long")).as("btot"))
      .withColumn("boff",
        coalesce(sum(col("btot")).over(
          Window.orderBy(col("qb").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("qb", "boff")
    within.join(broadcast(bands), "qb")
      .withColumn("cum_toks", col("boff") + col("cum_in") + col("n_toks"))
      .filter(col("cum_toks") <= budget)
      .select(col("doc_id"), col("n_toks"), col("quality"), col("cum_toks"))
      .orderBy("doc_id")
  }

  /** q_token_budget: [[tokenBudget]] (B = 12 000 tokens) over the
    * materialized quality-stats composite. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(TextAnalysis.qualityFromStats(
      TextAnalysis.corpusQualityStats(spark, dir)))

  def packChunks(docToks: DataFrame, budget: Long = 2048,
                 bucketSpan: Long = 1000,
                 tokenCount: Column = size(col("toks"))): DataFrame = {
    // `tokenCount` is the budget's unit: whitespace tokens by default,
    // or a tokenizer-aware counter (e.g. functions.Bpe.bpeCount) so
    // windows are budgeted in the tokens the model will actually see
    val t = docToks.select(col("doc_id"),
                           tokenCount.cast("long").as("n_toks"),
                           (col("doc_id").divide(bucketSpan)).cast("long").as("bkt"))
    val within = t.withColumn("cum_in",
      coalesce(sum(col("n_toks")).over(
        Window.partitionBy("bkt").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val prefix = t.groupBy("bkt").agg(sum(col("n_toks")).as("btot"))
      .withColumn("boff",
        coalesce(sum(col("btot")).over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bkt", "boff")
    within.join(broadcast(prefix), "bkt")
      .withColumn("tok_offset", col("boff") + col("cum_in"))
      .select(col("doc_id"), col("n_toks"), col("tok_offset"),
              expr(s"tok_offset div $budget").as("chunk"))
      .orderBy("doc_id")
  }

  /** q_pack_chunks: [[packChunks]] with a 2048-token budget. */
  def qPackChunks(spark: SparkSession, dir: String): DataFrame =
    packChunks(Tables.docTokens(spark, dir))

  /** Benchmark decontamination: find training documents sharing any
    * word n-gram with an evaluation split. Reports, per contaminated
    * train doc, how many of its distinct n-grams hit the eval set and
    * how many eval docs it collides with. The join key is the n-gram
    * string; the eval side is broadcast (eval sets are thousands of
    * docs, not billions), so at scale this is one broadcast-hash pass
    * over the exploded train n-grams — no shuffle of the corpus.
    * At rest you'd hash the n-grams (xxhash64) to shrink the key;
    * kept as strings here for oracle parity.
    */
  def decontaminate(trainToks: DataFrame, evalToks: DataFrame,
                    n: Int = 4): DataFrame = {
    def grams(df: DataFrame, idAs: String): DataFrame =
      df.select(col("doc_id").as(idAs),
                explode(array_distinct(Text.ngramCol(col("toks"), n))).as("gn"))
    val tr = grams(trainToks, "doc_id")
    val ev = grams(evalToks, "eval_id")
    tr.join(broadcast(ev), "gn")
      .groupBy("doc_id")
      .agg(countDistinct(col("gn")).as("n_hit_grams"),
           countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** q_decontaminate: eval split = doc_id % 50 == 0, train = the
    * rest; 4-gram collisions. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.docTokensWide(spark, dir)
    decontaminate(d.filter(col("doc_id") % 50 =!= 0),
                  d.filter(col("doc_id") % 50 === 0))
  }

  /** Sketch-based decontamination — the 100 TB form of
    * [[decontaminate]]: the eval split's distinct n-grams are folded
    * into a Bloom filter (one small-side job, the offline
    * sketch-build), the sketch ships to every executor as a broadcast,
    * and the corpus is flagged in ONE narrow pass — no join, no
    * shuffle of the training side at all. The trade is one-sided
    * error: a Bloom filter has NO false negatives (every truly
    * contaminated doc is flagged — the guarantee decontamination
    * needs) and a bounded false-positive rate `fpp` (a small
    * overcautious extra drop). `fpp` is PER PROBE: a clean doc with g
    * grams is falsely flagged with probability ≈ 1−(1−fpp)^g, so pick
    * fpp ≪ 1/g — the 1e-6 default holds per-doc FP under 1e-4 for
    * thousand-gram documents at ~29 bits per eval gram. Emits every
    * train doc with its gram count, probe-hit count and flag; callers
    * keep `!contaminated`.
    *
    * The probe is a deliberate scala UDF: a Bloom-filter membership
    * test (hashing against a broadcast bit array) is a sketch codec,
    * not a Catalyst expression — same boundary as the multimodal
    * decode ([[Multimodal]]). Oracle-exact since r12: the sketch is
    * rebuilt on engine-independent primitives
    * ([[graft.functions.Md5Bloom]] — md5-low64/high64 double hashing,
    * integer-exact sizing), so DuckDB reproduces the EXACT bit
    * pattern, false positives included, and the flag set is checked
    * row-for-row. CurationSpec's no-false-negative guarantee against
    * the exact [[decontaminate]] and the FP-count bound remain on top.
    */
  def bloomDecontaminate(trainToks: DataFrame, evalToks: DataFrame,
                         n: Int = 4, fpp: Double = 1e-6,
                         expectedGrams: Long = 0L): DataFrame = {
    val spark = trainToks.sparkSession
    val evalGrams = evalToks
      .select(explode(array_distinct(Text.ngramCol(col("toks"), n))).as("gn"))
    // expectedGrams <= 0 → size the filter from the eval split itself
    // (one extra small-side count job): a hardwired capacity silently
    // saturates on a larger-than-expected eval set, blowing the fpp
    // bound (the no-false-negative guarantee would survive, the
    // "small overcautious extra drop" promise would not). The count is
    // pre-dedup across docs, i.e. an upper bound on distinct grams —
    // a slightly oversized filter, never an undersized one. The 2^16
    // floor absorbs the double-hashing (Kirsch–Mitzenmacher) penalty,
    // which makes tiny filters miss their nominal fpp by an additive
    // O(1/m) term (measured: 5 false flags at nominal sizing on a
    // 383-gram eval split, 0 with headroom); the floor costs a fixed
    // ~230 KB and vanishes relative to nominal sizing at real eval
    // scale.
    val capacity = if (expectedGrams > 0) expectedGrams
                   else math.max(1L << 16, evalGrams.count())
    val m = graft.functions.Md5Bloom.mBits(capacity, fpp)
    val k = graft.functions.Md5Bloom.numHashes(fpp)
    // sketch build: distinct probe positions → 64-bit words (bit_or
    // partial-aggregates map-side). The collect is the sketch itself —
    // m/64 longs, ~230 KB at the 2^16 capacity floor — the bounded
    // model-state class (k-means centroids, BPE merge tables), shipped
    // back out as ONE broadcast instead of a per-probe join.
    val posUdf = udf((g: String) =>
      graft.functions.Md5Bloom.positions(g, m, k))
    val words: Map[Long, Long] = evalGrams
      .select(explode(posUdf(col("gn"))).as("pos")).distinct()
      .select(expr("pos div 64").as("w"),
              expr("shiftleft(1L, cast(pos % 64 as int))").as("msk"))
      .groupBy("w").agg(expr("bit_or(msk)").as("wd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(words)
    val hits = udf((grams: Seq[String]) =>
      if (grams == null) 0
      else grams.count { g =>
        graft.functions.Md5Bloom.positions(g, m, k).forall { p =>
          (bc.value.getOrElse(p >>> 6, 0L) & (1L << (p & 63L).toInt)) != 0L
        }
      })
    trainToks
      .select(col("doc_id"),
              array_distinct(Text.ngramCol(col("toks"), n)).as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
              hits(col("grams")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
      .orderBy("doc_id")
  }

  /** q_bloom_decontaminate: same eval split as [[qDecontaminate]]
    * (doc_id % 50 == 0), sketch path. */
  def qBloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.docTokens(spark, dir)
    bloomDecontaminate(d.filter(col("doc_id") % 50 =!= 0),
                       d.filter(col("doc_id") % 50 === 0))
  }

  /** Gopher-style repetition hygiene metrics per document: duplicate
    * token fraction (1 − distinct/total tokens), duplicate 3-gram
    * fraction, and the filter flag. Pure narrow projection — no
    * shuffle, whole-stage-codegen'd, embarrassingly parallel at any
    * scale.
    */
  def repetitionMetrics(docToks: DataFrame,
                        tokThr: Double = 0.6,
                        gramThr: Double = 0.2): DataFrame = {
    val g3 = Text.ngramCol(col("toks"), 3)
    val dupTok = lit(1.0) -
      size(array_distinct(col("toks"))).cast("double") / size(col("toks"))
    val dupG3 = when(size(g3) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g3)).cast("double") / size(g3))
    docToks.select(
        col("doc_id"),
        size(col("toks")).as("n_toks"),
        round(dupTok, 6).as("dup_tok_frac"),
        round(dupG3, 6).as("dup_3gram_frac"),
        (dupTok > tokThr || dupG3 > gramThr).as("flagged"))
      .orderBy("doc_id")
  }

  /** q_rep_filter: [[repetitionMetrics]] on the test corpus. */
  def qRepFilter(spark: SparkSession, dir: String): DataFrame =
    repetitionMetrics(Tables.docTokens(spark, dir))

  /** Inverted index over the corpus: per term, document frequency,
    * collection frequency, and the first `maxPostings` doc_ids
    * (comma-joined — the driver's pandas compare can't sort raw array
    * columns). The posting list is BOUNDED BEFORE collection: a
    * per-term row_number keeps only the `maxPostings` smallest
    * doc_ids, so `collect_list` never sees more than that — on a
    * 100 TB corpus no executor ever holds a full posting list (df/cf
    * still come from the unbounded partial aggregate, which is just
    * counters).
    */
  def invertedIndex(docToks: DataFrame, minDf: Long = 5,
                    maxPostings: Int = 20): DataFrame = {
    val td = docToks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val stats = td.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val postings = td
      .withColumn("rn", row_number().over(
        Window.partitionBy("term").orderBy("doc_id")))
      .filter(col("rn") <= maxPostings)
      .groupBy("term")
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
        .as("postings"))
    stats.join(postings, "term")
      .filter(col("df") >= minDf)
      .select("term", "df", "cf", "postings")
      .orderBy("term")
  }

  /** q_inverted_index: [[invertedIndex]] on the test corpus. */
  def qInvertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(Tables.docTokens(spark, dir))

  /** Context-window chunking: each document split into `size`-token
    * windows advancing by `stride` (overlapping when stride < size) —
    * the chunker RAG indexing and fixed-context training both run.
    * Every token is covered: the last window starts at the final
    * stride step and may be short; a doc shorter than `size` yields
    * one chunk. Pure narrow generator expression (sequence → slice →
    * join, the [[Text.ngramCol]] family generalized to a stride) +
    * posexplode — embarrassingly parallel, no shuffle before the
    * output order. */
  def chunkDocs(docToks: DataFrame, size: Int = 128,
                stride: Int = 64): DataFrame = {
    require(size >= 1 && stride >= 1, s"need size/stride >= 1, got ($size, $stride)")
    val n = org.apache.spark.sql.functions.size(col("toks"))
    val nChunks = when(n <= size, lit(1))
      .otherwise(ceil((n - size).cast("double") / stride).cast("int") + 1)
    // carry the sliced-array length alongside the joined string:
    // size(split("", " ")) is 1 (split of "" yields [""]), so an empty
    // doc's single empty chunk must take its token count from the
    // slice itself, not from re-splitting the joined text
    val chunks = transform(sequence(lit(0), nChunks - 1), { ci =>
      val win = slice(col("toks"), ci * stride + 1, lit(size))
      struct(array_join(win, " ").as("chunk"),
             org.apache.spark.sql.functions.size(win).as("n"))
    })
    docToks
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
              col("c.chunk").as("chunk"), col("c.n").as("n_chunk_toks"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q_chunk_docs: [[chunkDocs]] with a 128-token window, stride 64. */
  def qChunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.docTokens(spark, dir))

  /** q_curate_web: the end-to-end WEB curation pipeline — what a crawl
    * actually runs, composed from this library's own stages: raw HTML
    * in ([[Html.htmlExtractCols]] markup strip), model-based quality
    * gate ([[TextAnalysis.modelQuality]] hashed-linear inference),
    * exact dedup to content-hash keepers, curated docs out. Shape at
    * scale: two narrow projection scans (extract, score) + ONE hash
    * shuffle (the dedup group) + one key join — no stage adds a
    * shuffle the standalone operators don't already have. Oracle:
    * the same composition in DuckDB, generated from the same
    * constants. */
  def qCurateWeb(spark: SparkSession, dir: String): DataFrame = {
    // widen (r16): the single-split fixture scan serialized the whole
    // regex-extract chain on one core; every downstream step is
    // row-local or integer-keyed, so redistribution is order-safe
    val pages = Tables.widen(Tables.documents(spark, dir)
      .select(col("doc_id"), Html.renderPlainPage.as("html")))
    // The extraction stage is MATERIALIZED (in production: landed in a
    // table — crawl pipelines always persist extraction output between
    // stages). Besides matching reality, this is load-bearing for the
    // plan: both downstream branches read `content` as a plain
    // attribute, so (a) the regex chain runs once, not once per
    // branch, and (b) the keep-filter predicate pushdown cannot
    // substitute the whole extract→tokenize→hash-sum expression tree
    // into a scan-level filter condition (measured 12 s vs 0.4 s at
    // sf0.1 — the pushed condition re-evaluated the full chain).
    val extracted = Html.htmlExtractCols(pages)
      .select(col("doc_id"), col("content"))
      .localCheckpoint()
    val scored = TextAnalysis.modelQualityCols(
      extracted.select(col("doc_id"), split(col("content"), " ").as("toks")))
      .filter(col("keep"))
      .select(col("doc_id"), col("n_feats"), col("score"))
    val keepers = extracted
      .groupBy(md5(col("content")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val out = scored.join(keepers, "doc_id")
      .orderBy("doc_id")
      .localCheckpoint()
    extracted.unpersist()
    out
  }

  // ------------------------------------------------------------------
  // q_crawl_triad (r13): the BATCH twin of the composed streaming
  // crawl pipeline (streaming.EventStreams.crawlTriadStream) —
  // url-dedup → extract + content-dedup + quality gates → near-dup
  // probe against a materialized corpus band index — as one
  // oracle-checked registry row. The stream ≡ batch parity spec
  // (StreamingSpec) pins the two against each other; this row pins
  // the batch side against DuckDB end to end.
  // ------------------------------------------------------------------

  /** The alternate-chrome page shell: same title, different nav and
    * footer boilerplate — extraction must collapse it onto the
    * [[Html.renderPlainPage]] content (the stage-2 casualty of the
    * triad fixture). ONE constant pair for the Spark side and the
    * oracle. */
  private[graft] val AltW1 =
    "<html><head><title>t</title></head><body><nav>alternate rail</nav><p>"
  private[graft] val AltW2 =
    "</p><footer>other foot</footer></body></html>"

  /** The batch crawl triad over any (doc_id, url, html) page set:
    * canonical-URL dedup (min doc_id keeps — the batch analog of the
    * stream's first-arrival state), markup strip, content-hash dedup,
    * the [[TextAnalysis]] quality composite + repetition gate, then
    * the incremental near-dup probe against a PRE-BUILT corpus band
    * index ([[Dedup.incrementalNearDup]] — corpus-side tables never
    * reshaped; probe work scales with the batch). Emits the
    * contamination stream (doc_id, corpus_id, jac ≥ tau).
    *
    * Shape at scale: two keyed windows (canon, content hash — each
    * one hash shuffle, never global), one extraction projection run
    * ONCE (localCheckpoint — the qCurateWeb lesson: without it the
    * regex chain re-evaluates under every downstream branch/pushdown),
    * narrow gates, then the batch-scale probe joins. */
  def crawlTriad(pages: DataFrame, corpusShingles: DataFrame,
                 corpusBands: DataFrame, tau: Double = 0.8,
                 minQuality: Double = 0.5,
                 maxDupTokFrac: Double = 0.6): DataFrame = {
    // Both dedup gates are ARG-MIN-BY-doc_id selections; as
    // row_number windows they shuffled + sorted every FULL page row.
    // As min(struct(doc_id, payload)) aggregates (r17 — the r16 LPA
    // treatment) they are map-side combinable: each partition emits
    // one candidate row per key instead of all rows, and the sort
    // disappears. doc_id leads the struct and is unique, so the
    // surviving row per key is identical (and tie-free by
    // construction where the window relied on unstable tiebreak).
    val canonFirst = pages
      .groupBy(Url.canonCol(col("url")).as("canon"))
      .agg(min(struct(col("doc_id"), col("html"))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.html").as("html"))
    val extracted = canonFirst
      .select(col("doc_id"), Html.contentColumn(col("html")).as("text"))
      .localCheckpoint()
    val hashFirst = extracted
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(struct(col("doc_id"), col("text"))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    // the SHARED stream/batch gate (TextAnalysis.qualityGate — the
    // streaming pipeline calls the same definition)
    val gated = TextAnalysis.qualityGate(
        hashFirst.withColumn("toks", split(lower(trim(col("text"))), "\\s+")),
        minQuality, maxDupTokFrac)
      .select(col("doc_id"), col("toks"))
    Dedup.incrementalNearDup(corpusShingles, corpusBands, gated, tau)
  }

  /** q_crawl_triad: [[crawlTriad]] over a three-cohort re-crawl of the
    * documents corpus against its own materialized near-dup index —
    * every pipeline stage has an observable casualty class:
    *  - base pages (+1M, doc_id % 5 = 0): survive to the probe and
    *    hit their corpus originals at jac 1.0 (plus planted dups);
    *  - URL variants (+2M, doc_id % 10 = 0): the [[Url.renderVariantUrl]]
    *    re-crawl form — die at the canonical-URL stage (min-id keeps
    *    the base page);
    *  - chrome variants (+3M, doc_id % 10 = 5): same content behind
    *    the [[AltW1]]/[[AltW2]] shell — die at the content-hash stage;
    *  - low-quality bases die at the gates (no corpus hit emitted).
    * The oracle rebuilds the identical pipeline in SQL from the same
    * constants (canon chain, extraction chain, quality formula, md5
    * MinHash probe). */
  def qCrawlTriad(spark: SparkSession, dir: String): DataFrame = {
    val (sh, bandTab) = Dedup.nearDupIndex(spark, dir)
    crawlTriad(triadPages(spark, dir), sh, bandTab)
  }

  /** The triad's three-cohort re-crawl page set (doc_id, url, html) —
    * shared by the direct batch query, the WARC round-trip query, and
    * the fixture writer. */
  private[graft] def triadPages(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
              Url.renderUrl.as("url"), Html.renderPlainPage.as("html"))
    val urlVar = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
              Url.renderVariantUrl.as("url"), Html.renderPlainPage.as("html"))
    val chromeVar = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 3000000L).as("doc_id"),
              concat(lit("https://example-"), col("source"), lit(".com/alt-"),
                     col("doc_id").cast("string")).as("url"),
              concat(lit(AltW1), col("text"), lit(AltW2)).as("html"))
    base.unionByName(urlVar).unionByName(chromeVar)
  }

  /** Content-keyed WARC fixture directory: [[triadPages]] rendered
    * once per corpus fingerprint as real WARC response records
    * ([[graft.sources.Warc.writeWarc]]), 8 files. */
  private val warcFixture =
    IndexCache.artifact[String]("documents", "graft-warc") { (s, d, p) =>
      graft.sources.Warc.writeWarc(triadPages(s, d), p, 8)
      p
    }

  /** The `.warc.gz` twin of [[warcFixture]]: the SAME pages as
    * per-record gzip members (r15 — the framing real crawl dumps
    * ship in). */
  private val warcGzFixture =
    IndexCache.artifact[String]("documents", "graft-warcgz") { (s, d, p) =>
      graft.sources.Warc.writeWarc(triadPages(s, d), p, 8, gzip = true,
                                   cdx = true)
      p
    }

  /** q_warc_cdx (r15): RANGED POINT READS through the CDX sidecar —
    * a doc_id-sampled subset of the gzipped fixture's index rows is
    * fetched by (file, offset, length) slice
    * ([[graft.sources.Warc.fetchRecords]]: one reused stream per
    * segment, each slice a complete gzip member), unwrapped, and
    * reduced to (doc_id, content hash, char count). The oracle
    * reconstructs the same pages in SQL — so a wrong offset, a
    * mis-sliced member, or a drifted index row all hash-diff. This is
    * the record-serving path of a 100 TB archive: full scans are for
    * pipelines; the CDX makes individual records addressable. */
  def qWarcCdx(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val fix = warcGzFixture.get(spark, dir)
    val picks = Warc.readCdx(spark, fix)
      .filter(pmod(col("doc_id"), lit(7)) === 0)
    Warc.fetchRecords(spark, fix, picks).toDF()
      .where(col("_corrupt_record").isNull)
      .select(Warc.docIdCol(col("record_id")).as("doc_id"),
              md5(Warc.httpBodyCol(col("content"))).as("h"),
              length(Warc.httpBodyCol(col("content"))).as("n_chars"))
      .orderBy("doc_id")
  }

  /** q_warc_triad: the crawl triad fed THROUGH the WARC source — the
    * same three-cohort pages as [[qCrawlTriad]] are rendered to real
    * WARC files (warcinfo lead record + HTTP-wrapped response
    * records), read back by the from-scratch streaming record reader
    * ([[graft.sources.Warc.readWarc]]), unwrapped (HTTP body, target
    * URI, record-id doc_id), and pushed through the identical
    * pipeline — so the WARC encode→frame→parse→unwrap round trip is
    * oracle-checked end to end by the q_crawl_triad SQL: any framing,
    * charset, or quarantine bug surfaces as a casualty-set diff. */
  def qWarcTriad(spark: SparkSession, dir: String): DataFrame =
    warcTriadFrom(spark, dir, warcFixture.get(spark, dir))

  /** q_warc_gz (r15): the identical triad through the GZIPPED fixture
    * — per-record gzip members decompressed by the from-scratch
    * member walker ([[graft.sources.Gzip]]), so the whole
    * compress→member-frame→inflate→parse→unwrap chain is
    * oracle-checked by the same crawl-triad SQL: a member-framing or
    * CRC bug surfaces as a casualty-set diff. */
  def qWarcGz(spark: SparkSession, dir: String): DataFrame =
    warcTriadFrom(spark, dir, warcGzFixture.get(spark, dir))

  private def warcTriadFrom(spark: SparkSession, dir: String,
                            fixture: String): DataFrame = {
    import graft.sources.Warc
    val recs = Warc.readWarc(spark, fixture)
      .where(col("warc_type") === "response" &&
             col("_corrupt_record").isNull)
    val pages = recs.select(
      Warc.docIdCol(col("record_id")).as("doc_id"),
      col("target_uri").as("url"),
      Warc.httpBodyCol(col("content")).as("html"))
    val (sh, bandTab) = Dedup.nearDupIndex(spark, dir)
    crawlTriad(pages, sh, bandTab)
  }

  /** The training-assembly composition (r13) — the batch pipeline
    * between "raw corpus" and "what the trainer reads", end to end:
    * exact dedup (content-hash keepers) → the SHARED quality gate
    * ([[TextAnalysis.qualityGate]] — the same definition the crawl
    * triad and the curation stream run) → deterministic md5 global
    * shuffle dealt round-robin to `shards` ([[shuffleShards]]) → each
    * shard's documents packed into `budget`-token training chunks in
    * shuffle order. Emits one row per surviving document:
    * (doc_id, shard, pos_in_shard, chunk, n_toks, quality).
    *
    * Scale shape: one hash-dedup shuffle, narrow gates, the
    * shuffle-shard segmented rank (global range sort + zipWithIndex —
    * never a single-partition window), and a BANDED two-level prefix
    * sum for the per-shard token offsets (the [[packChunks]]
    * discipline: in-band windows run at (shard, band) granularity;
    * only band TOTALS ride the per-shard offset window — n/bandSpan
    * rows, not n). */
  def trainingPipeline(docs: DataFrame, shards: Int = 8,
                       budget: Long = 2048, minQuality: Double = 0.5,
                       maxDupTokFrac: Double = 0.6, salt: String = "r12",
                       bandSpan: Long = 1000): DataFrame = {
    require(shards >= 1 && budget >= 1 && bandSpan >= 1,
      s"bad trainingPipeline params: shards=$shards budget=$budget band=$bandSpan")
    val keepers = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // EAGER checkpoint (r17): gated feeds BOTH the placement join and
    // shuffleShards — un-cached, the exact-dedup + quality-gate regex
    // pass over the corpus evaluated twice per run (ProfileOne: two
    // ~300 ms single-task stages reading the documents scan).
    val gated = TextAnalysis.qualityGate(
        docs.join(keepers, "doc_id")
          .select(col("doc_id"),
                  split(lower(trim(col("text"))), "\\s+").as("toks")),
        minQuality, maxDupTokFrac)
      .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
              col("quality"))
      .localCheckpoint()
    val placed = gated.join(
      shuffleShards(gated, salt, shards)
        .select(col("doc_id"), col("shard"), col("pos_in_shard")),
      "doc_id")
    val banded = placed.withColumn("band", expr(s"pos_in_shard div $bandSpan"))
    val wIn = Window.partitionBy("shard", "band").orderBy("pos_in_shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = banded.withColumn("cum_in",
      coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
    val bandTotals = banded.groupBy("shard", "band")
      .agg(sum(col("n_toks")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.partitionBy("shard").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "band", "boff")
    within.join(broadcast(bandTotals), Seq("shard", "band"))
      .withColumn("tok_offset", col("boff") + col("cum_in"))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"),
              expr(s"tok_offset div ${budget}L").as("chunk"),
              col("n_toks"), col("quality"))
      .orderBy("doc_id")
  }

  /** q_training_pipeline: [[trainingPipeline]] (8 shards, 2048-token
    * chunks) over the documents corpus. */
  def qTrainingPipeline(spark: SparkSession, dir: String): DataFrame =
    trainingPipeline(Tables.documents(spark, dir))

  /** STABLE hash-shard assignment — the [[splitAssign]] stability
    * property applied to sharding: a document's shard is a pure
    * function of (salt, doc_id), so APPENDING documents never moves
    * an existing one (the property an incremental/streaming assembly
    * needs; [[shuffleShards]]' global md5 permutation deliberately
    * does NOT have it — inserting one doc shifts every later rank).
    * 15 md5 hex chars → 60-bit positive value, mod shards. */
  def stableShard(docId: Column, salt: String, shards: Int): Column =
    pmod(conv(substring(
           md5(concat_ws(":", lit(salt), docId.cast("string"))), 1, 15),
         16, 10).cast("long"), lit(shards.toLong)).cast("int")

  /** The STABLE training assembly — the batch twin of
    * [[graft.streaming.EventStreams.trainingPipelineStream]] and the
    * parity anchor its spec pins: exact dedup keepers (min doc_id per
    * content hash) → the SHARED [[TextAnalysis.qualityGate]] → the
    * stable hash shard ([[stableShard]]) → per-shard doc_id-order
    * chunk packing. Within-shard rank uses the segmented-rank
    * discipline (ONE global range sort on (shard, doc_id) +
    * zipWithIndex; rank = pos − min(pos) per shard via a
    * shard-count-bounded join — never a per-shard window over the
    * corpus), and token offsets use the banded two-level prefix sum
    * ([[trainingPipeline]]'s chunker). Emits
    * (doc_id, shard, pos_in_shard, chunk, n_toks, quality) — the
    * SAME row the stream's stateful packer emits, because within a
    * shard both fold documents in doc_id order. */
  def trainingAssemblyStable(docs: DataFrame, shards: Int = 8,
                             budget: Long = 2048, minQuality: Double = 0.5,
                             maxDupTokFrac: Double = 0.6,
                             salt: String = "r12",
                             bandSpan: Long = 1000): DataFrame = {
    require(shards >= 1 && budget >= 1 && bandSpan >= 1,
      s"bad trainingAssemblyStable params: shards=$shards budget=$budget")
    val spark = docs.sparkSession
    val keepers = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val gated = TextAnalysis.qualityGate(
        docs.join(keepers, "doc_id")
          .select(col("doc_id"),
                  split(lower(trim(col("text"))), "\\s+").as("toks")),
        minQuality, maxDupTokFrac)
      .select(col("doc_id").cast("long").as("doc_id"),
              col("n_toks").cast("long").as("n_toks"), col("quality"))
      .withColumn("shard", stableShard(col("doc_id"), salt, shards))
      .localCheckpoint()
    // segmented per-shard rank: global (shard, doc_id) sort + offsets
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
      StructField, StructType}
    val ranked = spark.createDataFrame(
      gated.orderBy(col("shard").asc, col("doc_id").asc).rdd
        .zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
                                   r.getDouble(2), r.getInt(3), i) },
      StructType(Seq(
        StructField("doc_id", LongType), StructField("n_toks", LongType),
        StructField("quality", DoubleType), StructField("shard", IntegerType),
        StructField("pos", LongType))))
      .localCheckpoint()
    val base = ranked.groupBy("shard").agg(min(col("pos")).as("p0"))
    val placed = ranked.join(broadcast(base), "shard")
      .withColumn("pos_in_shard", col("pos") - col("p0"))
    // banded two-level prefix sum for token offsets (the
    // trainingPipeline chunker verbatim)
    val banded = placed.withColumn("band",
      expr(s"pos_in_shard div $bandSpan"))
    val wIn = Window.partitionBy("shard", "band").orderBy("pos_in_shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = banded.withColumn("cum_in",
      coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
    val bandTotals = banded.groupBy("shard", "band")
      .agg(sum(col("n_toks")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.partitionBy("shard").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "band", "boff")
    within.join(broadcast(bandTotals), Seq("shard", "band"))
      .withColumn("tok_offset", col("boff") + col("cum_in"))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"),
              expr(s"tok_offset div ${budget}L").as("chunk"),
              col("n_toks"), col("quality"))
      .orderBy("doc_id")
  }

  /** q_training_stable: [[trainingAssemblyStable]] (8 shards,
    * 2048-token chunks) over the documents corpus. */
  def qTrainingStable(spark: SparkSession, dir: String): DataFrame =
    trainingAssemblyStable(Tables.documents(spark, dir))

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed-n-gram bag is under a
    * TARGET domain's feature distribution than under the raw corpus's,
    * then keep the top-k — the principled "make the corpus look like
    * the target domain" selection step next to the model-based
    * classifier ([[TextAnalysis.modelQuality]]).
    *
    * weight(doc) = mean over the doc's features f of
    * `ln p̂_target(bucket(f)) − ln p̂_raw(bucket(f))`, with unigram +
    * bigram features hashed into `buckets` md5 buckets and both
    * distributions Laplace-smoothed: p̂(b) = (c(b)+1)/(N+buckets).
    *
    * Scale shape: one feature-stream aggregate with map-side combine
    * into at most `buckets` rows (BOTH counts ride a single pass —
    * the target count is a conditional aggregate, not a second scan),
    * totals reduced from that bucket table, the ≤`buckets`-row model
    * broadcast back onto the feature stream, one per-doc aggregate.
    * No shuffle is ever wider than the bucket table; at 100 TB the
    * corpus is scanned twice (count pass + score pass) and nothing
    * else. Docs with zero tokens have no features and are absent,
    * like every n-gram operator here.
    *
    * Bucket ids stay 3-hex-char STRINGS (md5 prefix): lexicographic
    * grouping needs no hex→int conversion, and the same `substr(md5)`
    * renders identically in the DuckDB oracle. */
  def dsirWeights(docToks: DataFrame, isTarget: Column,
                  buckets: Int = 4096, topK: Int = 100): DataFrame =
    dsirScores(docToks, isTarget, buckets)
      .orderBy(col("dsir_w").desc, col("doc_id"))
      .limit(topK)

  /** [[dsirWeights]] without the top-k cut: every scored doc, ordered
    * by doc_id. This is the REGISTERED form — a top-k over a rounded,
    * order-dependent float mean can flip which ROWS cross the cut
    * when a weight sits at a rounding boundary (the q_sql_q11 flake
    * class, but as a whole-row mismatch); the doc_id order makes the
    * row set deterministic and lets the oracle check every doc's
    * weight, not just the top slice. */
  def dsirScores(docToks: DataFrame, isTarget: Column,
                 buckets: Int = 4096): DataFrame = {
    val hexDigits = hexPrefixDigits(buckets)
    val feats = docToks
      .select(col("doc_id"), isTarget.as("is_t"),
              explode(concat(col("toks"), Text.ngramCol(col("toks"), 2)))
                .as("f"))
      .select(col("doc_id"), col("is_t"),
              substring(md5(col("f")), 1, hexDigits).as("bk"))
    val lm = feats.groupBy("bk")
      .agg(count(lit(1)).as("c_r"),
           count(when(col("is_t"), 1)).as("c_t"))
    val tot = lm.agg(sum(col("c_r")).cast("double").as("n_r"),
                     sum(col("c_t")).cast("double").as("n_t"))
    val b = lit(buckets.toDouble)
    feats
      .join(broadcast(lm), "bk")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
           avg(log(col("c_t") + 1) - log(col("n_t") + b)
             - log(col("c_r") + 1) + log(col("n_r") + b)).as("w"))
      .select(col("doc_id"), col("n_feats").cast("long").as("n_feats"),
              round(col("w"), 6).as("dsir_w"))
      .orderBy("doc_id")
    // ACCEPTED RESIDUAL RISK (r8 boundary audit): dsir_w is an
    // order-dependent per-doc avg of log-ratio terms rounded at 6 dp
    // (the q_sql_q11 flake class; no exact carrier for sums of logs).
    // tools/boundary_audit.py at sf0.01 shows every value > 200 ulps
    // from a boundary; re-audited each round at close-out.
  }

  /** q_dsir: [[dsirScores]] on the test corpus, with the `src0`
    * slice standing in for the target domain (the constructed-input
    * pattern — in production the target counts come from a curated
    * exemplar corpus; the estimator mechanics are identical). */
  def qDsir(spark: SparkSession, dir: String): DataFrame =
    // widen (r16, measured −1 s): both DSIR passes explode + md5-hash
    // ~2 features per token, which a one-split scan serializes on one
    // core; per-doc avgs fold in unchanged order (a doc's features
    // never split across partitions)
    dsirScores(Tables.widen(Tables.docTokens(spark, dir),
                 bytesPerTask = 64L << 10),
               col("source") === "src0")

  /** The DSIR model as a driver-side artifact: per-bucket
    * log-likelihood ratios (≤`buckets` entries) plus the
    * unseen-bucket default. This is MODEL STATE, not data — the same
    * k·d-doubles contract as kmeans centroids — built once in batch
    * so scoring becomes a STATELESS narrow projection
    * ([[dsirScoreCols]]): usable on a structured stream (no state, no
    * watermark, append-safe) and as a one-scan batch scorer. Each
    * bucket's weight is the identical 4-term expression
    * [[dsirScores]] evaluates per feature, so the two paths agree to
    * float-fold order. */
  def dsirModel(docToks: DataFrame, isTarget: Column,
                buckets: Int = 4096): (Map[String, Double], Double) = {
    val hexDigits = hexPrefixDigits(buckets)
    val lm = docToks
      .select(col("doc_id"), isTarget.as("is_t"),
              explode(concat(col("toks"), Text.ngramCol(col("toks"), 2)))
                .as("f"))
      .select(col("is_t"), substring(md5(col("f")), 1, hexDigits).as("bk"))
      .groupBy("bk")
      .agg(count(lit(1)).as("c_r"),
           count(when(col("is_t"), 1)).as("c_t"))
      .collect()
    val b = buckets.toDouble
    val nR = lm.map(_.getLong(1)).sum.toDouble
    val nT = lm.map(_.getLong(2)).sum.toDouble
    val weights = lm.map { r =>
      r.getString(0) ->
        (math.log(r.getLong(2) + 1) - math.log(nT + b)
          - math.log(r.getLong(1) + 1) + math.log(nR + b))
    }.toMap
    (weights, math.log(nR + b) - math.log(nT + b))
  }

  /** Stateless DSIR scoring against a [[dsirModel]]: adds (n_feats,
    * dsir_w) to any (…, toks) DataFrame as a pure projection — one
    * map-literal lookup per feature, no shuffle, no join, stream-safe
    * (the registered batch path is [[dsirScores]]; this is the
    * incremental-scoring twin). Zero-feature / null-toks rows are
    * dropped, matching [[dsirScores]]' row set. */
  def dsirScoreCols(docToks: DataFrame, model: Map[String, Double],
                    default: Double, buckets: Int = 4096): DataFrame = {
    val hexDigits = hexPrefixDigits(buckets)
    val m = typedlit(model)
    docToks
      .withColumn("__feats", concat(col("toks"), Text.ngramCol(col("toks"), 2)))
      .withColumn("n_feats", size(col("__feats")).cast("long"))
      // zero-feature (or null-toks) rows are DROPPED, matching
      // dsirScores' row set exactly — a contentless doc scoring a
      // constant would outrank real (negative-log-ratio) docs in any
      // downstream top-k
      .filter(col("n_feats") > 0)
      .withColumn("dsir_w",
        round(
          aggregate(col("__feats"), lit(0.0),
            (acc, f) => acc + coalesce(
              element_at(m, substring(md5(f), 1, hexDigits)), lit(default)))
            / col("n_feats"), 6))
      .drop("__feats")
  }
}
