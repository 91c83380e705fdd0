package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver test data
  * (`/root/testdata/sf*`; schemas in FIXTURES.md §B).
  *
  * Design (SURVEY.md §1.2): DataFrame-first, columnar parquet at rest.
  * Loaders are thin `spark.read.parquet` wrappers so Catalyst sees the
  * scan directly — predicate pushdown / column pruning reach the parquet
  * reader with no intermediate materialization (unlike the reference's
  * per-stage RDD round-trip, NGramTransform.java:96-120).
  */
object Tables {

  /** Resolved-table memo (r16, guide §1.2 "time the computation"):
    * `spark.read.parquet` pays Hadoop file listing + parquet footer
    * schema inference on EVERY call — measured 80-100 ms per table
    * (tools/RegProbe), and the SQL family re-resolves 9 tables per
    * query. A production deployment registers tables ONCE in a
    * catalog/metastore and re-resolving per query is pure overhead;
    * this memo is that catalog. Values are LAZY plans only — no rows,
    * no cached blocks, every action still scans parquet from disk —
    * so this is metadata reuse, not result caching. Keyed by
    * (session identity, dir, name); safe because fixture dirs are
    * write-once (test fixtures create a fresh temp dir per write) and
    * a new session re-resolves from scratch. */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  /** Generic loader: `$dir/$name.parquet`. The memo is BOUNDED (r17,
    * ADVICE): a long-lived JVM cycling many sessions/dirs (the test
    * suite's temp fixtures) would otherwise retain every session and
    * its file listings forever. Past the cap the memo clears — the
    * next load of each table re-pays one 80-100 ms resolution, never
    * a correctness change. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (resolved.size() > 256) resolved.clear()
    resolved.computeIfAbsent((spark, dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Memoized ABSOLUTE-PATH parquet loader for write-once artifact
    * paths (r17 — the [[load]] treatment extended to the derived-index
    * accessors): every [[graft.ops.IndexCache]] artifact lands in a
    * fresh temp dir per corpus fingerprint and is never rewritten in
    * place, so the resolved plan can be reused for the path's
    * lifetime. ConstructProbe measured 80-100 ms of listing + footer
    * inference per `spark.read.parquet` call, paid by every ANN /
    * dedup / graph query on every execution. Mutable directories
    * (writeShards corpora — refreshed in place) must NOT use this. */
  def loadPath(spark: SparkSession, path: String): DataFrame = {
    if (resolved.size() > 256) resolved.clear()
    resolved.computeIfAbsent((spark, path, ""),
      _ => spark.read.parquet(path))
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events.ts` normalization, schema-adaptive. Two layouts exist:
    *   - parquet TIMESTAMP(NANOS) (original fixture + ScaleGen output):
    *     Spark 4 refuses it by default (PARQUET_TYPE_ILLEGAL), so read
    *     nanos as long, then truncate to micros with *integer* division
    *     (`div`, not `/` — a long→double round-trip at ~1.7e18 ns loses
    *     up to ~128 ns, enough to flip a µs digit vs the DuckDB oracle's
    *     exact integer truncation).
    *   - parquet TIMESTAMP(MICROS) (regenerated fixture): loads as a
    *     timestamp directly; pass through.
    * Either way the result is TIMESTAMP_NTZ — parity with orders/
    * lineitem and with DuckDB's naive TIMESTAMP; session tz is UTC so
    * any LTZ→NTZ cast is wall-clock-identity.
    *
    * Also pins parquet TIMESTAMP_MICROS output so Verify's result dumps
    * round-trip losslessly for the oracle compare.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val raw = load(spark, dir, "events")
    val tsNorm = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
      case _                                   => col("ts")
    }
    raw.withColumn("ts", tsNorm.cast(org.apache.spark.sql.types.TimestampNTZType))
  }

  /** Normalized document tokens: `documents.text` has a trailing space
    * (FIXTURES.md §B trap) — trim before splitting, both engines.
    * Matches `ml.feature.Tokenizer` semantics (lowercase + `\s+` split)
    * on this data.
    */
  def docTokens(spark: SparkSession, dir: String): DataFrame =
    // NOT widened here (r16, measured): an unconditional widen at the
    // source taxed every light token consumer with an extra exchange
    // (+0.1-0.4 s each, +4 s suite-wide) while only the compute-heavy
    // consumers won. Those use [[docTokensWide]] instead.
    documents(spark, dir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))

  /** [[docTokens]] with the text scan widened BEFORE tokenization
    * (r16, guide §2.5): the exchange moves raw text (smaller than
    * token arrays) and the split + downstream explode/hash work runs
    * after it, in parallel. For HEAVY per-token consumers (full-corpus
    * explode → aggregate pipelines); light consumers keep
    * [[docTokens]] — see the measured note there. No-op partitioning
    * on a multi-split production corpus, like [[widen]] itself. */
  def docTokensWide(spark: SparkSession, dir: String): DataFrame =
    widen(documents(spark, dir))
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))

  /** Widen a NARROW scan for a compute-heavy consumer (r16, guide
    * §2.5's unsplittable-input rule: "repartition immediately after
    * the read"). The driver fixtures are single-row-group parquet
    * files — one split, so scan-adjacent narrow compute (regex chains,
    * codec work, shingle hashing) serializes on ONE core no matter how
    * many the session has. Callers must be row-local or
    * order-independent downstream (round-robin redistribution reorders
    * rows across partitions).
    *
    * Width (r17): one task per `bytesPerTask` of the input's ESTIMATED
    * bytes, clamped to `defaultParallelism` — the same decision at
    * every core count, so kilobyte fixtures are not fanned out to
    * every core of a large box. The default budget is small (8 KB per
    * task) because every call site is scan-adjacent HEAVY compute —
    * image/audio decode, regex extraction, shingle hashing — where CPU
    * per byte, not bytes, is the bound.
    *
    * No-op test: the input's SPLITS ([[scanSplits]]) against that
    * width. A file scan counts its real files, so an input written as
    * several part files (the wide-built ANN index, a production
    * corpus) is left as it is. The guarantee: an input with at least
    * `defaultParallelism` splits is returned as the same object, with
    * no exchange added — at 100 TB, with thousands of splits, this is
    * always that branch. Deciding never runs a job or plans the
    * physical plan. */
  def widen(df: DataFrame, bytesPerTask: Long = 8L << 10): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (est / bytesPerTask + 1).min(BigInt(p)).toInt
    if (scanSplits(df) >= want) df else df.repartition(want)
  }

  /** Splits the scans under `df`'s optimized plan produce, summed over
    * its leaves (exact for a scan, filter, projection or union of
    * scans). A file leaf counts `len / filesMaxPartitionBytes + 1` per
    * file of its already-listed file index, so no I/O. Spark cuts no
    * split larger than that, and packs small files no tighter than
    * about `totalBytes / defaultParallelism` per task, so a count of at
    * least `defaultParallelism` plans about that many tasks. Other
    * leaves (checkpoints, local relations) count their size estimate
    * at the same split size. */
  private[graft] def scanSplits(df: DataFrame): BigInt = {
    val splitBytes = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    def splits(bytes: BigInt): BigInt = bytes / splitBytes + 1
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.listFiles(Nil, Nil).flatMap(_.files).map(f => splits(f.getLen)).sum
      case leaf => splits(leaf.stats.sizeInBytes)
    }.sum
  }

  /** Width for an ITERATION's checkpointed tables, derived from the
    * input's estimated bytes (r16, guide §2: partitioning must be
    * scale-adaptive, not a constant tuned for local mode or the
    * cluster). A frozen `defaultParallelism`-wide checkpoint forces
    * every loop round into that many tasks even when the graph is
    * kilobytes — and blocks AQE from coalescing the per-round
    * shuffles. Parquet-backed inputs estimate accurately (file
    * size); an unestimable derived plan clamps to full parallelism,
    * i.e. exactly the old behavior, never worse. */
  def adaptiveParts(df: DataFrame, bytesPerPart: Long = 64L << 20): Int = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    val want = est / bytesPerPart + 1
    if (want >= p) p
    else {
      // A LOW estimate is trusted in full only when the plan is a bare
      // scan (parquet file sizes and literal relations estimate
      // honestly). Catalyst's size propagation through joins and
      // aggregates can UNDERestimate (r16 ADVICE), and pinning every
      // round of a cluster-scale loop to ~1 task on a bad guess is the
      // expensive failure mode — derived plans keep a
      // defaultParallelism/8 floor. Loops whose width truly matters
      // size it from a materialized count ([[ops.Iterate.over]]).
      val bareScan = plan match {
        case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _ => false
      }
      val floor = if (bareScan) 1 else math.max(1, p / 8)
      math.max(floor, want.toInt)
    }
  }
}
