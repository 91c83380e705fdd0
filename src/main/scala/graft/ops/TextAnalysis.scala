package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data-pipeline text analysis (north star): language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * expression pipelines (narrow, codegen-friendly, no shuffle except
  * the fingerprint group-size join).
  */
object TextAnalysis {

  /** Marker stopword lists per language (tiny, deterministic). The
    * heuristic is overlap-count argmax with alphabetical tiebreak —
    * the structure of real n-gram lang-ID, minus a trained model. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "nicht", "ist"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "you", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr" -> Seq("le", "de", "un", "et", "la", "il", "ne", "je", "pas", "que"),
    "zh" -> Seq("de", "yi", "shi", "bu", "le", "ren", "wo", "zai", "you", "ta"),
  )

  // Script classes for the lang-ID script tier (r15). Kana is checked
  // before Han (Japanese text mixes kanji + kana; Han-only ⇒ zh),
  // Hangul identifies Korean.
  private[graft] val HanJava = "[\\u4E00-\\u9FFF\\u3400-\\u4DBF]"
  private[graft] val KanaJava = "[\\u3040-\\u30FF]"
  private[graft] val HangulJava = "[\\uAC00-\\uD7AF]"

  /** Characters of `text` matching a script class — length difference
    * after deleting them; pure column arithmetic. */
  private def scriptCount(text: Column, cls: String): Column =
    length(text) - length(regexp_replace(text, cls, ""))

  /** q_lang_id: language identification — SCRIPT HISTOGRAM FIRST
    * (kana ⇒ ja, hangul ⇒ ko, Han-only ⇒ zh: scripts that don't
    * whitespace-delimit defeat stopword matching by construction),
    * stopword-overlap argmax within Latin. Emits per-language marker
    * scores, the prediction ('und' when nothing fires), and agreement
    * with the labeled lang. */
  def qLangId(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.docTokens(spark, dir))

  /** q_lang_id_script (r15): the script tier driven by CONSTRUCTED
    * mixed-script input (the fixture corpus is ASCII, so q_lang_id's
    * script branches never fire there) — per doc_id mod 4 a Han,
    * kana+Han, or Hangul snippet is appended (cohort 3 untouched
    * Latin). Oracle-checked: the DuckDB mirror runs the same script
    * counts and CASE chain, so ja/ko/zh decisions are correctness-
    * gated, not just golden-pinned. */
  def qLangIdScript(spark: SparkSession, dir: String): DataFrame = {
    val suffix = when(col("doc_id") % 4 === 0, lit(" 中文数据"))
      .when(col("doc_id") % 4 === 1, lit(" あい中"))
      .when(col("doc_id") % 4 === 2, lit(" 한국"))
      .otherwise(lit(""))
    val m = Tables.documents(spark, dir).filter(col("doc_id") < 400)
      .select(col("doc_id"), col("lang"),
              concat(col("text"), suffix).as("text"))
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    langId(m)
  }

  /** [[qLangId]]'s engine over any (doc_id, lang, toks) DataFrame —
    * the library entry point ([[graft.Graft.langId]]). When a raw
    * `text` column is present the script tier gates the prediction;
    * a toks-only frame falls back to pure stopword argmax (script
    * runs survive whitespace tokenization inside tokens, but the
    * raw text is the honest place to count them). */
  def langId(docToks: DataFrame): DataFrame = {
    val d = docToks
      .withColumn("tset", array_distinct(col("toks")))
    val scored = markers.foldLeft(d) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang",
        size(array_intersect(col("tset"), typedLit(words.distinct))))
    }
    // argmax with alphabetical tiebreak: first lang (in sorted order)
    // whose score is >= all others and > 0.
    val stopwordPred = markers.map(_._1).foldRight(lit("und"): Column) { (lang, els) =>
      val ge = markers.map(_._1).filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _)
      when(ge && col(s"s_$lang") > 0, lit(lang)).otherwise(els)
    }
    val pred =
      if (docToks.columns.contains("text"))
        when(scriptCount(col("text"), KanaJava) > 0, lit("ja"))
          .when(scriptCount(col("text"), HangulJava) > 0, lit("ko"))
          .when(scriptCount(col("text"), HanJava) > 0, lit("zh"))
          .otherwise(stopwordPred)
      else stopwordPred
    scored
      .withColumn("pred", pred)
      .select(col("doc_id") +: col("lang") +:
              markers.map { case (l, _) => col(s"s_$l") } :+
              col("pred") :+ (col("pred") === col("lang")).as("agrees"): _*)
      .orderBy("doc_id")
  }

  /** The flat stopword list backing the quality composite (shared with
    * the streaming curation pipeline and
    * [[Curation.weightedSample]]). */
  private[graft] val stopwords: Seq[String] =
    markers.flatMap(_._2).distinct.sorted

  /** The INTEGER-EXACT per-document token stats every quality-family
    * consumer derives from: (doc_id, lang, source, n_toks, n_distinct,
    * sum_tok_len, n_stop). One narrow tokenize+count scan; every
    * downstream ratio/composite is a pure projection over these four
    * integers, so deriving from the stats is bit-identical to deriving
    * from the raw tokens. */
  def qualityStats(docToks: DataFrame): DataFrame = {
    val stop = typedLit(stopwords)
    docToks.select(
      col("doc_id"), col("lang"), col("source"),
      size(col("toks")).as("n_toks"),
      size(array_distinct(col("toks"))).as("n_distinct"),
      aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
        .as("sum_tok_len"),
      size(filter(col("toks"), t => array_contains(stop, t))).as("n_stop"))
  }

  /** Content-keyed MATERIALIZED [[qualityStats]] table for the test
    * corpus — the [[IndexCache]] lifecycle the ANN posting / token-set
    * / fuzzy-pair tables already use (re-fingerprint per get, rebuild
    * iff the corpus changed). ~8 registered queries consume the
    * quality composite or its token counts (q_quality_score/z/tiers,
    * q_curate, q_sample_weighted, q_domain_stats, q_dedup_keep_best);
    * before r10 each re-paid the tokenize + distinct + stopword scan
    * from raw text. At 100 TB this is the standing per-doc feature
    * table a curation run materializes once per crawl snapshot. */
  private val qualityStatsPaths =
    IndexCache.materializedParquet("documents", "graft_quality_stats")(
      (s, d) => qualityStats(Tables.docTokens(s, d)))

  private[graft] def corpusQualityStats(spark: SparkSession,
                                        dir: String): DataFrame =
    graft.Tables.loadPath(spark, qualityStatsPaths.get(spark, dir))

  /** q_quality_score: length / type-token-ratio / stopword-ratio
    * composite quality score per document — derived from the
    * materialized [[corpusQualityStats]] table. */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityFromStats(corpusQualityStats(spark, dir))

  /** The quality composite derived from a [[qualityStats]] projection
    * — identical arithmetic (the composite reads the RAW double
    * ratios; rounding applies only to the reported columns). */
  private[graft] def qualityFromStats(stats: DataFrame): DataFrame = {
    val ttr = col("n_distinct").cast("double") / col("n_toks")
    val avgLen = col("sum_tok_len").cast("double") / col("n_toks")
    val stopR = col("n_stop").cast("double") / col("n_toks")
    stats.select(
      col("doc_id"), col("n_toks"),
      round(ttr, 6).as("ttr"),
      round(avgLen, 6).as("avg_tok_len"),
      round(stopR, 6).as("stop_ratio"),
      round(least(col("n_toks") / 100.0, lit(1.0)) * 0.3
            + ttr * 0.3 + (lit(1.0) - stopR) * 0.4, 6)
        .as("quality"))
      .orderBy("doc_id")
  }

  /** The quality GATE shared by the streaming and batch crawl
    * pipelines ([[graft.streaming.EventStreams]] curateRowsStage /
    * [[Curation.crawlTriad]]): expects a `toks` column, appends
    * n_toks / quality (the composite, rounded) / dup_tok_frac and
    * keeps the passers. ONE definition (r13 review) so the
    * stream ≡ batch parity the specs pin cannot drift through a
    * formula edit applied to one copy. */
  private[graft] def qualityGate(withToks: DataFrame, minQuality: Double,
                                 maxDupTokFrac: Double): DataFrame = {
    val stop = typedlit(stopwords)
    val nToks = size(col("toks"))
    val ttr = size(array_distinct(col("toks"))).cast("double") / nToks
    val stopRatio =
      size(filter(col("toks"), t => array_contains(stop, t))).cast("double") / nToks
    withToks
      .withColumn("n_toks", nToks)
      .withColumn("quality", round(least(nToks / 100.0, lit(1.0)) * 0.3
        + ttr * 0.3 + (lit(1.0) - stopRatio) * 0.4, 6))
      .withColumn("dup_tok_frac", round(lit(1.0) - ttr, 6))
      .filter(col("quality") >= minQuality
        && col("dup_tok_frac") <= maxDupTokFrac)
  }

  /** [[qQualityScore]]'s engine over any (doc_id, toks) DataFrame —
    * the library entry point ([[graft.Graft.qualityScore]]). */
  def qualityScore(docToks: DataFrame): DataFrame =
    // tolerate inputs without lang/source (qualityStats carries them
    // for the corpus table; the composite needs only doc_id + toks)
    qualityFromStats(qualityStats(
      Seq("lang", "source").foldLeft(docToks) { (df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast("string"))
      }))

  /** Per-language quality calibration: z-score of the quality
    * composite WITHIN each language — absolute quality cuts
    * systematically bias against languages whose surface statistics
    * (stopword density, token length) differ, so real curation
    * thresholds the per-language standardized score instead. Same
    * narrow quality projection, plus one per-lang window pass (avg +
    * sample stddev over the unbounded frame); a degenerate
    * single-doc/constant language yields z = 0, not a NaN. */
  def qualityZ(docToks: DataFrame): DataFrame =
    qualityZFromStats(qualityStats(
      if (docToks.columns.contains("source")) docToks
      else docToks.withColumn("source", lit(null).cast("string"))))

  private[graft] def qualityZFromStats(stats: DataFrame): DataFrame = {
    val ttr = col("n_distinct").cast("double") / col("n_toks")
    val stopR = col("n_stop").cast("double") / col("n_toks")
    val q = stats
      .select(col("doc_id"), col("lang"),
        round(least(col("n_toks") / 100.0, lit(1.0)) * 0.3
              + ttr * 0.3 + (lit(1.0) - stopR) * 0.4, 6)
          .as("quality"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    q.withColumn("mu", avg(col("quality")).over(w))
      .withColumn("sd", stddev(col("quality")).over(w))
      .select(col("doc_id"), col("lang"), col("quality"),
              round(when(col("sd").isNull || col("sd") === 0.0, lit(0.0))
                      .otherwise((col("quality") - col("mu")) / col("sd")), 6)
                .as("quality_z"))
      .orderBy("doc_id")
  }

  /** q_quality_z: [[qualityZ]] on the test corpus (materialized
    * stats). */
  def qQualityZ(spark: SparkSession, dir: String): DataFrame =
    qualityZFromStats(corpusQualityStats(spark, dir))

  /** Quality-tier report: the corpus split into `tiers` rank buckets
    * of the [[qualityScore]] composite (tier 1 = best), with per-tier
    * count and quality stats — the "keep the top N quartiles" cut
    * every curation run starts from.
    *
    * The bucket comes from a CLOSED-FORM integer rank formula
    * (((rank−1)·tiers) div n) + 1, not SQL `ntile` — identical
    * arithmetic is written on both engines, integer-exact. The global
    * rank itself is the [[Dedup.rankedTokenSets]] discipline: a
    * range-partitioned sort + zipWithIndex (parallel dense ranking),
    * never a single-partition window — one of the deliberate RDD
    * touches in the codebase (dense global indexing is a genuine
    * per-partition-offset computation Catalyst has no operator for).
    * The n scalar rides a broadcast 1-row DF. */
  def qualityTiers(docToks: DataFrame, tiers: Int = 4): DataFrame =
    qualityTiersOf(qualityScore(docToks), tiers)

  /** [[qualityTiers]] over an already-scored (doc_id, quality)
    * DataFrame — the corpus wrappers feed the materialized
    * [[corpusQualityStats]] derivation here. */
  private[graft] def qualityTiersOf(quality: DataFrame,
                                    tiers: Int = 4): DataFrame = {
    val spark = quality.sparkSession
    // doc_id normalized to long (any integral id type works in the
    // typed RDD map below) and null-quality docs EXCLUDED — a doc
    // with no score (null text) has no tier; silently NPE-ing the
    // whole job on one bad row is not an option for a library report
    val q = quality
      .select(col("doc_id").cast("long").as("doc_id"), col("quality"))
      .where(col("quality").isNotNull)
      // materialized ONCE: the sort below is consumed twice
      // (zipWithIndex's offset pass + the final aggregate) and the
      // count() next; without this the whole quality lineage would
      // recompute three times
      .localCheckpoint()
    // n as a driver long (bounded model state) instead of a broadcast
    // 1-row DF: removes a third consumer of the ranked plan
    val n = q.count()
    if (n == 0)
      return q.select(lit(0).cast("int").as("tier"),
        lit(0L).as("n_docs"), lit(0.0).as("avg_q"),
        lit(0.0).as("min_q"), lit(0.0).as("max_q")).limit(0)
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ranked = spark.createDataFrame(
      q.orderBy(col("quality").desc, col("doc_id").asc).rdd
        .zipWithIndex.map { case (r, i) => org.apache.spark.sql.Row(
          r.getLong(0), r.getDouble(1), i + 1L) },
      StructType(Seq(
        StructField("doc_id", LongType), StructField("quality", DoubleType),
        StructField("rank", LongType))))
    ranked
      .withColumn("tier",
        expr(s"cast(((rank - 1) * $tiers) div ${n}L + 1 as int)"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_docs"),
           mean6(col("quality")).as("avg_q"),
           min(col("quality")).as("min_q"),
           max(col("quality")).as("max_q"))
      .orderBy("tier")
  }

  /** The mean of 6-dp values `c`, rounded half up to 6 dp, exactly: the
    * values summed as integer millionths in DECIMAL (order-independent)
    * and divided once, in integers. A double `avg` sums in task order,
    * which can move a mean across the rounding boundary. */
  private def mean6(c: Column): Column = {
    val twice = sum(round(c * 1e6).cast("decimal(38,0)")) * 2 + count(c) // 2S + n
    val den = count(c) * 2
    ((twice - twice % den) / den).cast("double") / 1e6
  }

  /** q_quality_tiers: [[qualityTiers]] quartiles on the test corpus
    * (materialized stats). */
  def qQualityTiers(spark: SparkSession, dir: String): DataFrame =
    qualityTiersOf(qualityFromStats(corpusQualityStats(spark, dir)))

  /** q_token_count: whitespace tokens vs BPE-ish regex tokens
    * ([a-z]+ | digit-runs | single non-space residue) vs chars. */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.documents(spark, dir))

  /** q_quality_model: MODEL-BASED quality scoring — the fastText-style
    * linear-classifier inference pass production pipelines run next to
    * the hand-built composite ([[qualityScore]]): hashed bag of
    * unigram + bigram features, one weight lookup per feature, mean
    * activation as the score, sign as the keep/drop label. The weight
    * table is a deterministic function of the feature index (the
    * shipped-model-artifact pattern: in production the same expression
    * reads a trained weight array broadcast from the model file; the
    * inference MECHANICS — feature hashing, bigram composition, mean
    * pooling, thresholding — are identical and are what this operator
    * tests). All arithmetic is INTEGER until the final division
    * (weights in milli-units, exact sums in any order), so the DuckDB
    * oracle matches bit-for-bit despite fold-order differences.
    * Narrow per-row expression pipeline: one scan, no shuffle, no UDF
    * — at 100 TB this is the cheapest possible inference shape.
    * Since r14 the TRAINED twin exists: [[qTrainQuality]] learns its
    * weights in-engine ([[trainQualityWeights]]) and
    * [[scoreQuality]] is the inference pass over that trained
    * artifact. */
  def qQualityModel(spark: SparkSession, dir: String): DataFrame =
    modelQuality(Tables.docTokens(spark, dir))

  /** [[qQualityModel]]'s engine over any (doc_id, toks) DataFrame —
    * the library entry point ([[graft.Graft.modelQuality]]). */
  def modelQuality(docToks: DataFrame, dim: Int = 1024): DataFrame =
    modelQualityCols(docToks, dim).orderBy("doc_id")

  /** [[modelQuality]] minus the total order — the projection-only form
    * for composition ([[Curation.qCurateWeb]]) and streaming. */
  def modelQualityCols(docToks: DataFrame, dim: Int = 1024): DataFrame = {
    // feature index: first 8 md5 hex digits (engine-portable, unlike
    // murmur) mod table size; weight: Knuth multiplicative mix of the
    // index into [-1000, 1000] milli-units
    def weight(t: Column): Column =
      pmod(pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
                lit(dim.toLong)) * lit(2654435761L), lit(2001L)) - lit(1000L)
    docToks
      .select(col("doc_id"),
              concat(col("toks"), Text.ngramCol(col("toks"), 2)).as("feats"))
      .select(col("doc_id"),
              size(col("feats")).as("n_feats"),
              aggregate(col("feats"), lit(0L),
                        (acc, t) => acc + weight(t)).as("w_milli"))
      .select(col("doc_id"), col("n_feats"),
              round(col("w_milli") /
                (lit(1000.0) * greatest(col("n_feats"), lit(1))), 6).as("score"),
              (col("w_milli") > 0).as("keep"))
  }

  // ------------------------------------------------------------------
  // In-engine quality-classifier TRAINING (r14, verdict ask #3): the
  // distributed logistic-regression-style trainer that produces the
  // weights [[modelQuality]]'s shipped-artifact pattern assumes exist.
  // ------------------------------------------------------------------

  /** Fixed training hyper-parameters, shared with the DuckDB oracle
    * generator ([[graft.Queries.trainQualityOracleSql]]). */
  val TrainIters = 5
  val TrainEta = 8.0

  /** Milli-integer feature row + label for the quality trainer:
    * x = [bias, capped-length, TTR, 1−stop-ratio] in [0, 1000], all
    * built with EXACT integer arithmetic ((a·2000 + b) div (2·b) is
    * integer round-half-up of 1000·a/b — no FP anywhere in the
    * features, so they are engine-identical by construction). The
    * label is the corpus quality-gate cut itself (the same rounded
    * composite [[qualityGate]] thresholds), i.e. the trainer learns to
    * replicate the hand-built gate from cheap surface features — the
    * standard bootstrap for a learned quality filter. */
  private[graft] def trainFeatures(stats: DataFrame): DataFrame =
    stats.select(
      col("doc_id"),
      lit(1000L).as("x1"),
      (least(col("n_toks"), lit(100)) * 10L).cast("long").as("x2"),
      expr("(n_distinct * 2000 + n_toks) div (2 * n_toks)").as("x3"),
      (lit(1000L) - expr("(n_stop * 2000 + n_toks) div (2 * n_toks)"))
        .as("x4"),
      when(round(least(col("n_toks") / 100.0, lit(1.0)) * 0.3
             + (col("n_distinct").cast("double") / col("n_toks")) * 0.3
             + (lit(1.0) - col("n_stop").cast("double") / col("n_toks")) * 0.4,
             6) >= 0.5, 1.0).otherwise(0.0).as("y"))

  /** z = (w·x)/1000 with a FIXED left-to-right association — the same
    * expression shape the oracle writes, so IEEE arithmetic makes the
    * Double bit-identical across engines. */
  private def zCol(w: Seq[Column]): Column =
    (w(0) * col("x1") + w(1) * col("x2") +
     w(2) * col("x3") + w(3) * col("x4")) / lit(1000.0)

  /** The RATIONAL sigmoid σ̃(z) = 0.5 + z/(2(1+|z|)) — the "fast
    * sigmoid". Chosen over exp's logistic deliberately: every
    * operation is IEEE +,−,×,÷,|·| (correctly rounded by spec in any
    * engine), so the whole forward pass is bit-identical in Spark and
    * DuckDB, which no transcendental can promise (libm exp differs by
    * ulps across platforms). Monotone, (0,1), σ̃(0)=0.5 — a drop-in
    * squashing function for gradient training. */
  private def sigCol(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** Distributed fixed-iteration gradient training of the quality
    * classifier: w ← w + η·Σᵢ rᵢxᵢ/(n·10¹²) with per-example residuals
    * r = y − σ̃(z) QUANTIZED to nano-units (BIGINT) before the sum —
    * the [[Clustering.kmeans]] exact-carrier discipline: integer sums
    * are fold-order-independent, so partition order can't move a bit
    * and the unrolled DuckDB oracle reproduces every iteration
    * exactly. A loop on [[Iterate.rounds]]: the features are one
    * checkpoint (n observed on its job), the state is the one-row
    * (w1..w4) table, and each round reads the weights as carried
    * scalars, never as literals, so every round runs the same
    * generated code. Per round: one narrow scan, d=4 aggregate sums,
    * one job. At 100 TB: iters × one pass over the materialized
    * features, no shuffle but the global sum's (map-side partial + one
    * reduce). Gradient sums ride DECIMAL(38,0) (|rq·x| ≤ 10¹² per
    * row — Long would overflow past ~10⁶ rows per 10¹² docs). */
  def trainQualityWeights(stats: DataFrame, iters: Int = TrainIters,
                          eta: Double = TrainEta): Array[Double] = {
    val spark = stats.sparkSession
    import spark.implicits._
    val ws = Seq("w1", "w2", "w3", "w4")
    // the one exchange of a round is the global sum's, into one partition
    Iterate(spark, 1) { loop =>
      val (f, c) = loop.observed(trainFeatures(stats), count(lit(1)))
      val n = c.getLong(0)
      require(n > 0, "trainQualityWeights: empty input")
      val (last, _) = loop.rounds(Seq((0.0, 0.0, 0.0, 0.0)).toDF(ws: _*), iters,
                                  ws.map(w => max(col(w))): _*) { (_, w) =>
        val rq = round((col("y") - sigCol(zCol(w))) * lit(1.0e9)).cast("long")
        val g = (1 to 4).map(j => sum((rq * col(s"x$j")).cast("decimal(38,0)")).as(s"g$j"))
        f.agg(g.head, g.tail: _*)
          // same Double expression shape as the oracle's weight CTE:
          // w + eta * (g / (n * 1e12))
          .select((0 until 4).map(j =>
            (w(j) + lit(eta) * (col(s"g${j + 1}").cast("double") / lit(n * 1.0e12))).as(ws(j))): _*)
      }
      val row = loop.collect(last).head
      loop.release(f, last)
      Array.tabulate(4)(row.getDouble)
    }
  }

  /** Inference with a trained weight artifact — the scoring pass
    * [[modelQuality]]'s Scaladoc describes ("reads a trained weight
    * array broadcast from the model file"): one narrow projection,
    * no shuffle. keep thresholds the ROUNDED score so the cut is
    * reproducible across engines. */
  def scoreQuality(stats: DataFrame, w: Array[Double]): DataFrame =
    trainFeatures(stats)
      .select(col("doc_id"), col("y").cast("int").as("label"),
              round(sigCol(zCol(w.toSeq.map(lit))), 6).as("score"))
      .withColumn("keep", col("score") >= 0.5)
      .orderBy("doc_id")

  /** q_train_quality: train on the corpus quality-stats table, then
    * score the whole corpus with the trained artifact. Oracle: the
    * full training loop unrolled in DuckDB CTEs (the q_page_rank
    * fixed-rounds pattern) — weights never leave SQL there, so the
    * compare verifies every gradient sum and weight update, not just
    * the final scores. */
  def qTrainQuality(spark: SparkSession, dir: String): DataFrame = {
    val stats = corpusQualityStats(spark, dir)
    scoreQuality(stats, trainQualityWeights(stats))
  }

  /** q_token_bpe: whitespace vs true greedy-merge BPE token counts
    * per document ([[graft.functions.Bpe]]) — what a context-window
    * budget actually costs in subword tokens. (doc_id, n_ws, n_bpe,
    * bpe_ratio). Narrow per-row scan, broadcast merge table, no
    * shuffle. Oracle-exempt (DuckDB has no BPE); golden-checked in
    * BpeSpec against an independent single-node reference. */
  def qTokenBpe(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Bpe.register(spark)
    Tables.docTokens(spark, dir)
      .select(col("doc_id"),
              size(col("toks")).as("n_ws"),
              graft.functions.Bpe.bpeCount(col("toks")).as("n_bpe"))
      .withColumn("bpe_ratio",
        round(col("n_bpe").cast("double") / greatest(col("n_ws"), lit(1)), 6))
      .orderBy("doc_id")
  }

  /** [[qTokenCount]]'s engine over any (doc_id, text) DataFrame —
    * the library entry point ([[graft.Graft.tokenCounts]]). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .as("re_tokens"),
        length(trim(col("text"))).as("n_chars"),
        length(regexp_replace(col("text"), "[^a-z]", "")).as("n_alpha"))
      .orderBy("doc_id")

  /** q_curate: the end-to-end training-data curation pipeline — the
    * composition an LLM-corpus build actually runs: exact-dedup down to
    * content-hash keepers, then filter by composite quality and token
    * band, carry the language label. Shape at scale: one hash shuffle
    * for the keeper group, one narrow quality projection, one key join
    * (AQE picks the strategy); no driver state. The filter is on the
    * ROUNDED quality so the cut is reproducible across engines. */
  def qCurate(spark: SparkSession, dir: String): DataFrame =
    curateScored(Tables.documents(spark, dir),
                 qualityFromStats(corpusQualityStats(spark, dir)))

  /** [[qCurate]]'s engine over any (doc_id, text, lang) + tokenized
    * DataFrames — the library entry point ([[graft.Graft.curate]]). */
  def curate(docs: DataFrame, docToks: DataFrame): DataFrame =
    curateScored(docs, qualityScore(docToks))

  private def curateScored(docs: DataFrame, quality: DataFrame): DataFrame = {
    val keepers = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    quality
      .join(keepers, "doc_id")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .filter(col("quality") >= 0.70 && col("n_toks").between(20, 1000))
      .select("doc_id", "lang", "n_toks", "quality")
      .orderBy("doc_id")
  }

  /** q_collocations: bigram collocation mining by pointwise mutual
    * information — PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over corpus
    * unigram/bigram frequencies, min-support 5, top 50. The classic
    * n-gram analytics the reference's transform feeds into. Shape at
    * scale: two word-count shuffles with map-side partial aggregation
    * (unigrams, bigrams), the two corpus totals broadcast as 1-row
    * scalars (never a driver `.first()`), two key joins of the
    * min-support-filtered bigram table against the unigram counts, and
    * a `TakeOrderedAndProject` top-50 — no full sort. */
  def qCollocations(spark: SparkSession, dir: String): DataFrame =
    collocations(Tables.docTokens(spark, dir))

  /** [[qCollocations]]'s engine over any (toks) DataFrame — the
    * library entry point ([[graft.Graft.collocations]]). */
  def collocations(docToks: DataFrame, minSupport: Int = 5,
                   topN: Int = 50): DataFrame = {
    val toks = docToks.select(col("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
    // corpus totals derived from the GROUPED tables (r17): Σ of the
    // unigram/bigram counts is exactly the exploded row count (integer
    // sums — bit-identical operands), and aggregating the vocab-sized
    // count tables re-uses their exchanges instead of re-exploding the
    // corpus — 4 full token scans per run drop to 2 (ProfileOne: four
    // serial 170-410 ms single-task scan stages).
    val n1 = uc.agg(sum(col("c")).cast("double").as("n1"))
    val bg = toks.select(explode(Text.ngramCol(col("toks"), 2)).as("bigram"))
    // eager checkpoint: the total's pruned subtree (c_ab only) is not
    // canonical-equal to the join consumer's, so exchange reuse missed
    // it and the bigram explode ran twice (ProfileOne: two identical
    // 400-570 ms scan stages); the vocab-sized materialization
    // guarantees one pass
    val bc = bg.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val n2 = bc.agg(sum(col("c_ab")).cast("double").as("n2"))
    bc.filter(col("c_ab") >= minSupport)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uc.select(col("w").as("w1"), col("c").as("c_1")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c_2")), "w2")
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .select(col("bigram"), col("c_ab"),
              round(log((col("c_ab") / col("n2"))
                / ((col("c_1") / col("n1")) * (col("c_2") / col("n1")))), 6)
                .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topN)
  }

  /** q_length_hist: corpus token-length histogram — 25-token buckets
    * capped at bucket 12, doc counts, corpus share, and cumulative
    * share (the length-distribution profile a curation run reads
    * before choosing its token band). One groupBy on the bucket; the
    * share/cumulative windows run over the ≤13-row histogram, not the
    * corpus. */
  def qLengthHist(spark: SparkSession, dir: String): DataFrame =
    lengthHist(Tables.docTokens(spark, dir))

  /** [[qLengthHist]]'s engine over any (toks) DataFrame — the library
    * entry point ([[graft.Graft.lengthHist]]). */
  def lengthHist(docToks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docToks
      .select(least(floor(size(col("toks")) / 25), lit(12)).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.select(col("bucket"), col("n_docs"),
             round(col("n_docs") / sum(col("n_docs")).over(wAll), 6).as("share"),
             round(sum(col("n_docs")).over(wCum)
               / sum(col("n_docs")).over(wAll), 6).as("cum_share"))
      .orderBy("bucket")
  }

  /** q_token_entropy: per-document Shannon entropy of the token
    * distribution — the gibberish/repetition signal a quality pipeline
    * reads next to [[repetitionMetrics]]: low entropy = few tokens
    * dominate (boilerplate, keyword stuffing), entropy near ln(k) =
    * uniform usage. Computed as H = ln n − (Σ c·ln c)/n over per-doc
    * token counts — one explode + two partial-aggregate shuffles, no
    * driver state; norm_entropy divides by ln(distinct) to land in
    * [0, 1] regardless of doc length. */
  def qTokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropy(Tables.docTokens(spark, dir))

  /** [[qTokenEntropy]]'s engine over any (doc_id, toks) DataFrame —
    * the library entry point ([[graft.Graft.tokenEntropy]]). */
  def tokenEntropy(docToks: DataFrame): DataFrame =
    docToks
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_toks"),
           count(lit(1)).as("n_distinct"),
           (log(sum(col("c"))) -
             sum(col("c") * log(col("c"))) / sum(col("c"))).as("h"))
      .select(col("doc_id"), col("n_toks"), col("n_distinct"),
              round(col("h"), 6).as("entropy"),
              round(when(col("n_distinct") > 1,
                         col("h") / log(col("n_distinct")))
                      .otherwise(lit(0.0)), 6).as("norm_entropy"))
      .orderBy("doc_id")

  /** q_perplexity: per-document perplexity under the corpus's own
    * unigram language model — the model-free analog of the LM-based
    * quality filter (CCNet/Gopher style): P(w) = c(w)/N from corpus
    * counts, NLL(doc) = −(1/|doc|)·Σ ln P(wᵢ), ppl = e^NLL. Documents
    * made of rare tokens score high (surprising), repetitive
    * common-token docs score low. Scale shape: one word-count shuffle
    * with map-side combine for the LM, the corpus total N as a
    * broadcast 1-row scalar (never a driver `.first()`), one key join
    * of the exploded corpus against the LM (AQE picks broadcast when
    * the vocabulary fits), one per-doc aggregate. */
  def qPerplexity(spark: SparkSession, dir: String): DataFrame =
    perplexity(Tables.docTokens(spark, dir))

  /** [[qPerplexity]]'s engine over any (doc_id, toks) DataFrame — the
    * library entry point ([[graft.Graft.perplexity]]). */
  def perplexity(docToks: DataFrame): DataFrame = {
    val words = docToks.select(col("doc_id"), explode(col("toks")).as("w"))
    val lm = words.groupBy("w").agg(count(lit(1)).as("c"))
    val n = lm.agg(sum(col("c")).cast("double").as("n"))
    words
      .join(lm, "w")
      .crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
           (-avg(log(col("c") / col("n")))).as("nll"))
      .select(col("doc_id"), col("n_toks"),
              round(col("nll"), 6).as("nll"),
              round(exp(col("nll")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** q_perplexity_target: CCNet-style cross-perplexity — every
    * document scored under the TARGET slice's unigram LM (not the
    * corpus's own, as [[perplexity]] does): the canonical "keep what
    * a Wikipedia-trained LM finds unsurprising" quality filter
    * (Wenzek et al. 2020). Low ppl_target = target-like. Complements
    * [[Curation.dsirScores]]: DSIR ranks by the target/raw LIKELIHOOD
    * RATIO, this by absolute target-LM fit.
    *
    * P(w) = (c_t(w)+1)/(N_t+V), Laplace-smoothed over the CORPUS
    * vocabulary V — off-target words are unseen in the target LM, so
    * unsmoothed probabilities would be 0 (infinite NLL); smoothing
    * over V keeps every corpus word scorable and the estimator
    * proper.
    *
    * Scale shape: one word-count shuffle with map-side combine (the
    * target count rides as a conditional aggregate over the same
    * pass), the (V, N_t) totals a 1-row broadcast, one vocab-scale
    * key join (AQE broadcasts a small LM), one per-doc aggregate —
    * the [[perplexity]] shape exactly. */
  def qPerplexityTarget(spark: SparkSession, dir: String): DataFrame =
    crossPerplexity(Tables.docTokens(spark, dir), col("source") === "src0")

  /** [[qPerplexityTarget]]'s engine over any (doc_id, toks, …)
    * DataFrame — the library entry point
    * ([[graft.Graft.crossPerplexity]]). */
  def crossPerplexity(docToks: DataFrame, isTarget: Column): DataFrame = {
    val words = docToks
      .select(col("doc_id"), isTarget.as("is_t"), explode(col("toks")).as("w"))
    val lm = words.groupBy("w")
      .agg(count(when(col("is_t"), 1)).as("c_t"))
    val tot = lm.agg(count(lit(1)).cast("double").as("v"),
                     sum(col("c_t")).cast("double").as("n_t"))
    words
      .join(lm, "w")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
           (-avg(log((col("c_t") + 1) / (col("n_t") + col("v"))))).as("nll"))
      .select(col("doc_id"), col("n_toks"),
              round(col("nll"), 6).as("nll"),
              round(exp(col("nll")), 6).as("ppl_target"))
      .orderBy("doc_id")
    // ACCEPTED RESIDUAL RISK (r8 boundary audit): nll/ppl_target are
    // order-dependent per-doc avgs of log terms rounded at 6 dp (the
    // q_sql_q11 flake class; no exact carrier for sums of logs).
    // tools/boundary_audit.py at sf0.01 shows every value > 200 ulps
    // from a boundary; re-audited each round at close-out.
  }

  /** Interpolated Kneser–Ney bigram perplexity — the stronger LM
    * quality signal next to the unigram [[perplexity]] (CCNet-style
    * pipelines score with a smoothed n-gram LM, not raw unigram
    * frequency):
    * `P(w2|w1) = max(c12-D,0)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/T`
    * with discount D = 0.75, where c1 = Σ_w c(w1,w), N1+(w1,·) is the
    * distinct-successor count, N1+(·,w2) the distinct-predecessor
    * (continuation) count, and T the number of distinct bigram types.
    *
    * All model quantities are INTEGER counts; every probability is
    * one fixed expression over them, written identically in the
    * DuckDB oracle (with `::DOUBLE` on the discount — a bare 0.75 is
    * DECIMAL in both engines' parsers). Scale shape: one bigram-count
    * shuffle with map-side combine builds the LM; the successor/
    * continuation tables are one groupBy each over the (smaller)
    * bigram-type table; T is a broadcast 1-row scalar; the corpus
    * bigram stream joins the LM once (AQE broadcasts a small LM) and
    * aggregates per doc. Docs with < 2 tokens have no bigrams and are
    * absent, like every n-gram operator here. */
  /** The KN model's count tables over any (doc_id, toks) DataFrame:
    * (bigram stream, bigram counts, left/successor counts,
    * continuation counts, bigram-type total) — split out so the spec
    * can assert the Σ_w2 P(w2|w1) = 1 normalization directly. */
  private[graft] def knCounts(docToks: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val bg = docToks
      .select(col("doc_id"),
              explode(arrays_zip(
                slice(col("toks"), lit(1), size(col("toks")) - 1),
                slice(col("toks"), lit(2), size(col("toks")) - 1))).as("b"))
      .select(col("doc_id"), col("b.0").as("w1"), col("b.1").as("w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val lc = bc.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fwd"))
    val cc = bc.groupBy("w2").agg(count(lit(1)).as("n1back"))
    val tt = bc.agg(count(lit(1)).as("t"))
    (bg, bc, lc, cc, tt)
  }

  def perplexityKn(docToks: DataFrame, discount: Double = 0.75): DataFrame = {
    val d = lit(discount)
    val (bg, bc, lc, cc, tt) = knCounts(docToks)
    val p = greatest(col("c12") - d, lit(0.0)) / col("c1") +
      d * col("n1fwd") / col("c1") * (col("n1back") / col("t"))
    bg.join(bc, Seq("w1", "w2"))
      .join(lc, "w1")
      .join(cc, "w2")
      .crossJoin(broadcast(tt))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), (-avg(log(p))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
              round(col("nll"), 6).as("nll"),
              round(exp(col("nll")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** q_perplexity_kn: [[perplexityKn]] on the test corpus. */
  def qPerplexityKn(spark: SparkSession, dir: String): DataFrame =
    perplexityKn(Tables.docTokens(spark, dir))

  /** PII patterns shared by [[piiRedact]] and its DuckDB oracle — kept
    * to the regex subset with identical semantics in Java regex and
    * RE2 (char classes, bounded repeats, no lookaround). */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private[graft] val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** q_pii_redact: PII detection + redaction. The test corpus is
    * synthetic word salad with no PII, so the query first RENDERS a
    * contact blob per customer from structured columns (name, a
    * derived email, a phone, an IPv4) — the in-query-constructed-input
    * pattern q_map_funcs uses — then runs the actual operator: count
    * emails/phones/IPs and replace each class with a typed mask
    * token. Pure narrow projection (regex scan per row, codegen'd
    * `RegExpReplace`/`RegExpExtractAll`); a one-split input is widened
    * first ([[piiRedact]]), while at 100 TB, with thousands of splits,
    * this is a full scan and nothing else, the shape PII scrubbing
    * needs. */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val blob = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"),
              concat(
                lit("contact "), col("c_name"),
                lit(" mail "), lower(regexp_replace(col("c_name"), "[^a-zA-Z0-9]", "")),
                lit("@example.com tel 555-"),
                lpad(pmod(col("c_custkey"), lit(1000)).cast("string"), 3, "0"),
                lit("-"),
                lpad(pmod(col("c_custkey") * 7, lit(10000)).cast("string"), 4, "0"),
                lit(" host 10."), pmod(col("c_nationkey"), lit(256)).cast("string"),
                lit(".0."), pmod(col("c_custkey"), lit(256)).cast("string"))
                .as("text"))
    piiRedact(blob)
  }

  /** [[qPiiRedact]]'s engine over any (id, text) DataFrame — the
    * library entry point ([[graft.Graft.piiRedact]]). The regex kernel
    * runs after [[Tables.widen]], so a one-split input does not
    * scan on one core. */
  def piiRedact(rows: DataFrame): DataFrame =
    Tables.widen(rows)
      .select(
        col("id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("text"), lit(IpRe), lit(0))).as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          IpRe, "[IP]").as("redacted"))
      .orderBy("id")

  /** q_cooccur: skip-gram co-occurrence counts — ordered token pairs
    * within a ±`k` window, corpus-wide counts, min-support cut, top-N
    * (the count table word2vec/GloVe-style embedding training reads).
    * The pair generation is one narrow higher-order expression per doc
    * (guarded against Spark's descending `sequence` on short rows, the
    * same trap as [[Text.ngramCol]]); then one word-pair count shuffle
    * with map-side combine and a `TakeOrderedAndProject` top-N. */
  def qCooccur(spark: SparkSession, dir: String): DataFrame =
    coocPairs(spark, dir)
      .orderBy(col("n_cooc").desc, col("w1").asc, col("w2").asc)
      .limit(100)

  /** MATERIALIZED ±3-window min-count-5 co-occurrence pair table
    * (r13 — VERDICT r12 #2): the (w1, w2, n_cooc) relation consumed
    * by q_cooccur / q_triangle_count / q_bfs_depth / q_sssp is the
    * most expensive shared derivation in the registry (per-doc pair
    * explode + corpus-wide count shuffle), and each consumer re-ran
    * it. Built once per corpus, content-keyed ([[IndexCache]]), landed
    * in columnar storage — the persisted collocation table an
    * embedding/graph pipeline materializes next to the corpus.
    * Strings + longs only: parquet round trip exact, oracles
    * untouched. */
  private val coocPairPaths =
    IndexCache.materializedParquet("documents", "graft_cooc_pairs")(
      (s, d) => cooccurPairCounts(Tables.docTokens(s, d)))
  private[graft] def coocPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.loadPath(spark, coocPairPaths.get(spark, dir))

  /** The thresholded co-occurrence pair table WITHOUT the top-N
    * report cut — the full (w1, w2, n_cooc) count relation, shared by
    * [[cooccurrence]] (which adds the ordering + limit) and
    * [[Graph.qTriangleCount]] (which reads the pairs as a token
    * graph). One narrow pair expression per doc, one word-pair count
    * shuffle with map-side combine. */
  private[graft] def cooccurPairCounts(docToks: DataFrame, k: Int = 3,
                                       minCount: Long = 5): DataFrame = {
    val n = size(col("toks"))
    val pairStruct = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w1",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("w2",
          org.apache.spark.sql.types.StringType))))
    val pairs = when(n < 2, array().cast(pairStruct)).otherwise(
      flatten(transform(sequence(lit(1), n - 1), i =>
        transform(sequence(i + 1, least(i + lit(k), n)), j =>
          struct(element_at(col("toks"), i).as("w1"),
                 element_at(col("toks"), j).as("w2"))))))
    docToks
      .select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= minCount)
  }

  /** [[qCooccur]]'s engine over any (toks) DataFrame — the library
    * entry point ([[graft.Graft.cooccurrence]]). */
  def cooccurrence(docToks: DataFrame, k: Int = 3, minCount: Long = 5,
                   topN: Int = 100): DataFrame =
    cooccurPairCounts(docToks, k, minCount)
      .orderBy(col("n_cooc").desc, col("w1").asc, col("w2").asc)
      .limit(topN)

  /** q_domain_stats: the per-source corpus report a curation run reads
    * before setting mixture weights — doc counts, language spread,
    * token totals and means, mean quality — one partial-agg shuffle on
    * `source` joined with the (already aggregated) per-doc quality.
    * At 100 TB this is the daily corpus dashboard: group cardinality
    * is the source list, so shuffle volume is counters, not rows. */
  def qDomainStats(spark: SparkSession, dir: String): DataFrame =
    domainStatsFromStats(corpusQualityStats(spark, dir))

  /** [[qDomainStats]]'s engine over any (doc_id, source, lang, toks)
    * DataFrame — the library entry point
    * ([[graft.Graft.domainStats]]). */
  def domainStats(docToks: DataFrame): DataFrame =
    domainStatsFromStats(qualityStats(docToks))

  /** [[domainStats]] as a pure derivation of the [[qualityStats]]
    * integers: every reported figure (token totals/means, the quality
    * composite mean) is a projection of (n_toks, n_distinct, n_stop)
    * — one |sources|-cardinality partial-agg shuffle, NO join and no
    * second tokenize pass. */
  private[graft] def domainStatsFromStats(stats: DataFrame): DataFrame = {
    val ttr = col("n_distinct").cast("double") / col("n_toks")
    val stopR = col("n_stop").cast("double") / col("n_toks")
    val quality = round(least(col("n_toks") / 100.0, lit(1.0)) * 0.3
                        + ttr * 0.3 + (lit(1.0) - stopR) * 0.4, 6)
    stats
      .withColumn("quality", quality)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("lang")).as("n_langs"),
           sum(col("n_toks")).as("total_toks"),
           round(avg(col("n_toks")), 6).as("avg_toks"),
           mean6(col("quality")).as("avg_quality"))
      .orderBy("source")
  }

  /** q_corpus_kl: distribution-level corpus drift — per source, the
    * KL divergence and cross-entropy of the source's unigram
    * distribution against the whole corpus's. The corpus-monitoring
    * readout next to the per-doc quality gates: a crawl source whose
    * token distribution drifts (template spam flood, language shift,
    * encoding regression) moves its KL long before per-doc filters
    * trip, and cross-entropy is the bits-per-token cost of modeling
    * the source with the corpus LM.
    *
    * KL(s‖c) = Σ_w p_s(w)·(ln p_s(w) − ln p_c(w)) needs no smoothing:
    * only words the source contains contribute, and every source word
    * is a corpus word by construction (source ⊆ corpus).
    *
    * Scale shape: ONE corpus-scale shuffle — the (source, word) count
    * with map-side combine; corpus counts derive from that table by a
    * second vocab-bounded aggregate (never a second pass over the
    * data), per-source totals are |sources| rows broadcast, the corpus
    * total a 1-row broadcast, and the scoring join is vocab-scale.
    * At 100 TB the report costs one word-count aggregation. */
  def qCorpusKl(spark: SparkSession, dir: String): DataFrame =
    corpusDivergence(Tables.docTokens(spark, dir))

  /** [[qCorpusKl]]'s engine over any (source, toks) DataFrame — the
    * library entry point ([[graft.Graft.corpusDivergence]]). */
  def corpusDivergence(docToks: DataFrame): DataFrame = {
    val cs = docToks
      .select(col("source"), explode(col("toks")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c_s"))
    val cc = cs.groupBy("w").agg(sum(col("c_s")).as("c_c"))
    val ns = cs.groupBy("source").agg(sum(col("c_s")).cast("double").as("n_s"))
    val nc = cc.agg(sum(col("c_c")).cast("double").as("n_c"))
    cs.join(cc, "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nc))
      .groupBy("source", "n_s")
      .agg(count(lit(1)).as("vocab"),
           sum((col("c_s") / col("n_s"))
             * (log(col("c_s") / col("n_s"))
               - log(col("c_c") / col("n_c")))).as("kl"),
           sum(-(col("c_s") / col("n_s"))
             * log(col("c_c") / col("n_c"))).as("xent"))
      .select(col("source"), col("n_s").cast("long").as("n_toks"),
              col("vocab"), round(col("kl"), 6).as("kl"),
              round(col("xent"), 6).as("xent"))
      .orderBy("source")
    // ACCEPTED RESIDUAL RISK (r8 boundary audit): kl/xent are
    // order-dependent vocab-scale double sums rounded at 6 dp — the
    // q_sql_q11 flake class. No exact integer carrier exists for a
    // sum of p*log terms. tools/boundary_audit.py (part of the round
    // close-out) shows every sf0.01 value > 200 ulps from a rounding
    // boundary; a flip would need a value within summation-order
    // error (~1e2 ulps) of a half-unit at 1e-6 — re-audit per round
    // rather than distort the metric's definition.
  }

  /** q_fingerprint: content fingerprints — md5 of the normalized text
    * (order-sensitive) and md5 of the sorted distinct token set (bag
    * fingerprint), plus the bag-group size: set-identical docs share
    * fp_bag, giving real duplicate groups on this data. */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprints(Tables.docTokens(spark, dir))

  /** [[qFingerprint]]'s engine over any (doc_id, text, toks)
    * DataFrame — the library entry point
    * ([[graft.Graft.fingerprints]]). */
  def fingerprints(docToks: DataFrame): DataFrame = {
    val d = docToks
      .select(
        col("doc_id"),
        md5(lower(trim(col("text")))).as("fp_exact"),
        md5(array_join(sort_array(array_distinct(col("toks"))), " ")).as("fp_bag"))
    val groups = d.groupBy("fp_bag").agg(count(lit(1)).as("n_same_bag"))
    d.join(groups, "fp_bag")
      .select("doc_id", "fp_exact", "fp_bag", "n_same_bag")
      .orderBy("doc_id")
  }

  /** Exact heavy hitters at stream scale — the two-pass
    * sketch-then-verify shape: tokens whose corpus frequency exceeds
    * N/(k+1), computed WITHOUT ever shuffling a full token-frequency
    * table.
    *
    * Pass 1 folds every token into one
    * [[graft.functions.MisraGriesAggregator]] summary (k counters;
    * per-partition partials merge under the PODS'12 rule, so one
    * O(k) row crosses the wire) — by the MG guarantee its key set is
    * a SUPERSET of every token with true count > N/(k+1). Pass 2
    * recounts ONLY those ≤ k candidates exactly (an `isin` literal
    * filter — pushable to the scan — then a ≤ k-group partial agg)
    * and takes the global N from the same pass, so the final filter
    * `cnt > N/(k+1)` returns the exact heavy-hitter set with exact
    * counts. A vocabulary-scale groupBy never happens; the only
    * full-corpus work is two narrow scans.
    *
    * This is the standard production shape for "top terms over 100 TB"
    * (vocabulary >> memory): the sketch bounds the candidate set, the
    * recount removes the approximation. Deterministic given the data
    * (the sketch's intermediate counts depend on partition order, but
    * the VERIFIED output doesn't — any MG run's key set contains all
    * true heavy hitters, and the recount is exact), hence
    * oracle-checkable against a plain GROUP BY / HAVING.
    */
  def heavyHitters(docToks: DataFrame, k: Int = 199): DataFrame = {
    val toks = docToks.select(explode(col("toks")).as("t"))
    // pass 1: sketch and stream length in ONE global aggregate — the
    // only state crossing the wire is k counters + one long
    val mg = udaf(new graft.functions.MisraGriesAggregator(k))
    val row = toks.agg(mg(col("t")).as("mg"), count(lit(1)).as("n")).head()
    val candidates = row.getMap[String, Long](0).keys.toSeq
    val thr = row.getLong(1).toDouble / (k + 1)
    // pass 2: exact recount of the ≤ k candidates (literal isin filter
    // → scan-pushable; ≤ k groups → shuffle of counters only)
    toks.filter(col("t").isin(candidates: _*))
      .groupBy(col("t").as("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > thr)
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Heavy hitters with CORPUS-DERIVED support (r9): tokens whose
    * exact count exceeds HALF THE MODE's count — `2·cnt > maxCnt` —
    * AND the Misra–Gries-certifiable floor `(k+1)·cnt > N`. The
    * absolute-fraction form ([[heavyHitters]]) goes vacuously empty
    * when corpus growth dilutes every token's share below 1/(k+1)
    * (exactly what ScaleGen's per-replica vocabulary salt does at
    * 10×); anchoring support to the mode keeps the report non-empty
    * at any scale the floor permits, with the floor making the MG
    * completeness argument airtight: an admitted token has
    * cnt > N/(k+1), so it is in the sketch; and whenever any token
    * passes the floor the true mode does too, so `maxCnt` computed
    * from the recounted candidates is the true mode count. All
    * comparisons are integer (2·cnt, (k+1)·cnt) — no float
    * thresholds to diverge between engines. */
  def heavyHittersNearMax(docToks: DataFrame, k: Int = 1999): DataFrame = {
    val toks = docToks.select(explode(col("toks")).as("t"))
    val mg = udaf(new graft.functions.MisraGriesAggregator(k))
    val row = toks.agg(mg(col("t")).as("mg"), count(lit(1)).as("n")).head()
    val candidates = row.getMap[String, Long](0).keys.toSeq
    val n = row.getLong(1)
    val exact = toks.filter(col("t").isin(candidates: _*))
      .groupBy(col("t").as("token"))
      .agg(count(lit(1)).as("cnt"))
    val mx = exact.agg(max(col("cnt")).as("max_cnt"))
    exact.crossJoin(broadcast(mx)) // 1-row side
      .filter(col("cnt") * 2 > col("max_cnt") &&
              col("cnt") * (k + 1) > n)
      .select(col("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** q_heavy_hitters: [[heavyHittersNearMax]] (k = 1999: tokens with
    * more than half the mode's count, certifiable down to 0.05% of
    * the stream). */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersNearMax(Tables.docTokens(spark, dir))

  /** PER-GROUP exact heavy hitters ("top terms per language/domain"):
    * the grouped form of [[heavyHitters]], fully distributed — the
    * driver never touches even the candidate set. Pass 1 is one
    * groupBy building a Misra–Gries summary + stream length PER
    * GROUP (state: k counters per group, the per-group analog of the
    * global guarantee — each group's sub-stream has its own
    * N_g/(k+1) bound). The candidate (group, token) pairs are the
    * exploded sketch keys — ≤ k·|groups| rows, broadcast into the
    * recount join — and the exact per-candidate recount + HAVING
    * filter yields the exact per-group heavy-hitter sets. No
    * vocabulary-scale shuffle; both corpus passes are narrow. */
  def heavyHittersByGroup(docToks: DataFrame, groupCol: String = "lang",
                          k: Int = 99): DataFrame = {
    val toks = docToks.select(col(groupCol).as("g"), explode(col("toks")).as("t"))
    val mg = udaf(new graft.functions.MisraGriesAggregator(k))
    val sketches = toks.groupBy("g")
      .agg(mg(col("t")).as("mg"), count(lit(1)).as("n"))
    val cands = sketches
      .select(col("g"), col("n"), explode(map_keys(col("mg"))).as("t"))
    toks.join(broadcast(cands), Seq("g", "t"))
      .groupBy("g", "t", "n")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > col("n") / (k + 1))
      .select(col("g").as(groupCol), col("t").as("token"), col("cnt"))
      .orderBy(col(groupCol), col("cnt").desc, col("token"))
  }

  /** Per-group [[heavyHittersNearMax]]: tokens above half their
    * group's mode count AND the per-group MG floor. Fully
    * distributed — same shape as [[heavyHittersByGroup]] plus one
    * group-bounded max join. */
  def heavyHittersByGroupNearMax(docToks: DataFrame,
                                 groupCol: String = "lang",
                                 k: Int = 999): DataFrame = {
    val toks = docToks.select(col(groupCol).as("g"), explode(col("toks")).as("t"))
    val mg = udaf(new graft.functions.MisraGriesAggregator(k))
    val sketches = toks.groupBy("g")
      .agg(mg(col("t")).as("mg"), count(lit(1)).as("n"))
    val cands = sketches
      .select(col("g"), col("n"), explode(map_keys(col("mg"))).as("t"))
    val exact = toks.join(broadcast(cands), Seq("g", "t"))
      .groupBy("g", "t", "n")
      .agg(count(lit(1)).as("cnt"))
    val mx = exact.groupBy("g").agg(max(col("cnt")).as("max_cnt"))
    exact.join(broadcast(mx), Seq("g"))
      .filter(col("cnt") * 2 > col("max_cnt") &&
              col("cnt") * (k + 1) > col("n"))
      .select(col("g").as(groupCol), col("t").as("token"), col("cnt"))
      .orderBy(col(groupCol), col("cnt").desc, col("token"))
  }

  /** q_heavy_hitters_by_lang: [[heavyHittersByGroupNearMax]] per
    * language (k = 999). */
  def qHeavyHittersByLang(spark: SparkSession, dir: String): DataFrame =
    heavyHittersByGroupNearMax(Tables.docTokens(spark, dir))

  /** Unicode text normalization — the canonical first pass of every
    * corpus pipeline, BEFORE tokenizing/hashing/dedup: NFC compose
    * (decomposed e+◌́ ≡ precomposed é — without it, cross-source
    * duplicates differing only in normalization form slip past both
    * exact and near dedup), Unicode lowercase, whitespace collapse,
    * trim. NFC is the one step Spark has no built-in for —
    * [[graft.functions.NfcNormalize]] is a native codegen Expression
    * (JDK Normalizer kernel, ASCII fast path, zero-copy when already
    * normalized), so the whole pipeline stays inside one
    * whole-stage-codegen span over a narrow (doc_id, text) scan:
    * embarrassingly parallel, no shuffle until the output sort. */
  def normalizeText(docs: DataFrame): DataFrame = {
    graft.functions.NormalizeFunctions.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      trim(regexp_replace(
        lower(graft.functions.NormalizeFunctions.nfc(col("text"))),
        "\\s+", " ")).as("norm"))
      .orderBy("doc_id")
  }

  /** q_normalize_text: [[normalizeText]] over documents plus planted
    * non-NFC rows (the fixture text is ASCII, so combining marks,
    * precomposed accents, fullwidth letters and raw tab/newline runs
    * are appended as literal rows — mirrored `chr()`-for-`chr()` in
    * the DuckDB oracle, the constructed-input pattern). */
  def qNormalizeText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      (9000001L, "Cafe\u0301  du  MONDE"),   // combining acute + space runs
      (9000002L, "A\u030A  STRAND"),         // A + combining ring -> a-ring
      (9000003L, "already caf\u00E9"),       // precomposed: NFC is identity
      (9000004L, "  tabs\tand\nnewlines  "),     // \s covers tab + newline
      (9000005L, "FULLWIDTH \uFF21\uFF22")  // fullwidth A B lowercase in place
    ).toDF("doc_id", "text")
    normalizeText(
      Tables.documents(spark, dir).select("doc_id", "text").unionAll(planted))
  }
}
