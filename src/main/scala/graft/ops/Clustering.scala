package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Embedding-space clustering — the semantic-bucketing step of a
  * training-data pipeline (domain discovery, cluster-balanced
  * sampling, SemDeDup-style semantic dedup all start from a k-means
  * partition of the embedding space).
  *
  * Deterministic Lloyd's iterations, DataFrame-first, one trainer
  * ([[lloyd]]) for q_kmeans and for the PQ codebooks ([[Quant]]):
  *
  *  - init is the k lowest-id points of each group (no RNG — the same
  *    corpus always yields the same model; k-means++ would add seed
  *    state for little gain at this k);
  *  - the assign step ([[assign]]) is a broadcast join of the points
  *    with their group's centroids: squared distance
  *    ‖v‖² − 2·v·c + ‖c‖² per (point, centroid) pair (the dots are the
  *    codegen [[graft.functions.DotProduct]]), argmin
  *    `min(struct(d2, cid))` per point — lexicographic struct ordering
  *    gives the lowest-cid tiebreak deterministically. The generated
  *    code does not depend on k or on the centroid values;
  *  - the update step is the exact mean per (group, cluster)
  *    ([[Similarity.meanVectors]]: posexplode → (cluster, dim)
  *    partial-agg sum over the 2⁵⁰-scaled DECIMAL(38,0) carrier, one
  *    divide, arrays rebuilt in dim order) — centroids stay a table on
  *    the executors, k·d cells per group;
  *  - an empty cluster keeps its previous centroid (no resampling —
  *    determinism again).
  *
  * Oracle-exact since r12: with the integer carrier the update means
  * are order-independent, and every other step is fixed-order scalar
  * double arithmetic (the ascending [[graft.functions.DotProduct]]
  * loop ≡ DuckDB's `list_sum(list_transform(...))` — the established
  * bit-parity the recursive-CTE PCA oracle already leans on), so the
  * whole 5-iteration Lloyd run unrolls in SQL
  * ([[graft.Queries.kmeansOracleSql]]). The carrier requires each
  * component ·2⁵⁰ to be integral (true for any float32-origin value
  * ≥ 2⁻²⁶) and raises loudly otherwise — the same contract as
  * centroidDrift. ClusteringSpec's structural goldens (planted
  * clusters recovered, inertia monotone, bitwise determinism) remain
  * on top.
  */
object Clustering {

  /** q_kmeans: [[kmeans]] (k = 8, 5 iterations) on the test corpus. */
  def qKmeans(spark: SparkSession, dir: String): DataFrame =
    kmeans(Tables.embeddings(spark, dir))

  /** Lloyd's k-means over any (vec_id, embedding) DataFrame — the
    * library entry point ([[graft.Graft.kmeans]]). Returns one row per
    * vector: (vec_id, cluster, dist) with dist the Euclidean distance
    * to the final centroid. The points, the centroid rounds and the
    * final assignment are checkpoints of one loop; only the result's
    * blocks outlive the call, so a k/iters tuning loop accumulates no
    * cached tables. */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1)
    VectorFunctions.register(embeddings.sparkSession)
    val v = embeddings.select(lit(0).as("g"), col("vec_id").as("id"),
                              transform(col("embedding"), x => x.cast("double")).as("v"))
    // NOT widened (r16, measured): the per-iteration stages carry a
    // ~300 ms fixed per-task cost at this scale (ProfileOne: exec time
    // grows linearly with task count while wall stays flat), so
    // fanning the one-split fixture to 32 tasks multiplied overhead
    // without cutting wall time (q_kmeans 2.1 s -> 3.6 s, reverted).
    Iterate(embeddings.sparkSession, Tables.adaptiveParts(v)) { loop =>
      val points = pointTable(loop, v)
      val books = lloyd(loop, points, k, iters)
      val out = loop.checkpoint(assign(points, books)
        .select(col("id").as("vec_id"), col("cid").as("cluster"),
                round(sqrt(col("d2")), 6).as("dist"))
        .orderBy("vec_id"))
      loop.release(points, books)
      out
    }
  }

  /** (g, id, v) `points` checkpointed on `loop` in the layout
    * [[lloyd]] reads them in: partitioned on (g, id) and sorted by it
    * within each partition, the grouping of every round's per-point
    * argmin, which the broadcast join keeps, so that argmin needs no
    * exchange. Their count is observed on the same job: empty points
    * are rejected here. The caller releases the checkpoint. */
  private[graft] def pointTable(loop: Iterate, points: DataFrame): DataFrame = {
    val (t, n) = loop.observed(
      loop.partitioned(points, col("g"), col("id")).sortWithinPartitions("g", "id"),
      count(lit(1)))
    require(n.getLong(0) > 0, "lloyd: points input is empty")
    t
  }

  /** Fixed-iteration Lloyd over (g, id, v) points: k centroids per
    * group `g`, trained on each group's points alone — q_kmeans is one
    * group, the PQ codebooks ([[Quant]]) are one group per subspace.
    * `points` is a [[pointTable]] of `loop`; the caller owns it.
    * Returns the (g, cid, c) centroid table, a checkpoint of `loop` the
    * caller releases.
    *
    * The seeds are the k lowest ids of each group (a group of n < k
    * points gets n centroids); each round is [[assign]] plus the exact
    * mean per (g, cid) ([[Similarity.meanVectors]]: x·2⁵⁰ is integral
    * for any float32-origin |x| ≥ 2⁻²⁶, so the DECIMAL(38,0) sum is
    * order-independent and the one final divide is deterministic on
    * any engine; the guard raises on values the carrier cannot hold),
    * and an empty cluster keeps its previous centroid. The round is
    * planned once ([[Iterate.rounds]]): the centroid table reaches the
    * points as broadcast data, never as literals, so every round runs
    * the same generated code. */
  private[graft] def lloyd(loop: Iterate, points: DataFrame, k: Int,
                           iters: Int): DataFrame = {
    val seeds = points
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("id")))
      .filter(col("rn") <= k)
      .select(col("g"), (col("rn") - 1).cast("int").as("cid"), col("v").as("c"))
    val (books, _) = loop.rounds(loop.partitioned(seeds, col("g"), col("cid")), iters) { (books, _) =>
      val means = Similarity.meanVectors(assign(points, books), Seq("g", "cid"), col("v"))
      loop.partitioned(books.join(means.hint("shuffle_hash"), Seq("g", "cid"), "left")
        .select(col("g"), col("cid"), coalesce(means("c"), books("c")).as("c")),
        col("g"), col("cid"))
    }
    books
  }

  /** The nearest centroid of each point: (g, id, v, cid, d2), d2 the
    * squared distance to centroid `cid` of the point's group in
    * `books` (g, cid, c). One broadcast join (the centroid table is
    * k·d cells per group — model state, broadcast by construction)
    * and one per-point `min(struct(d2, cid))`. The generated code has
    * the same size at any k: an argmin over a k-term literal array
    * costs seconds of codegen per job at k = 256. */
  private[graft] def assign(points: DataFrame, books: DataFrame): DataFrame = {
    val d2 = VectorFunctions.dot(col("v"), col("v")) -
      lit(2.0) * VectorFunctions.dot(col("v"), col("c")) + col("c2")
    points.join(broadcast(books.withColumn("c2", VectorFunctions.dot(col("c"), col("c")))), "g")
      .groupBy("g", "id")
      .agg(min(struct(d2.as("d2"), col("cid"))).as("best"), first(col("v")).as("v"))
      .select(col("g"), col("id"), col("v"), col("best.cid").as("cid"),
              // clamp tiny negative FP residue so sqrt stays real
              greatest(col("best.d2"), lit(0.0)).as("d2"))
  }
}
