package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Embedding-space clustering — the semantic-bucketing step of a
  * training-data pipeline (domain discovery, cluster-balanced
  * sampling, SemDeDup-style semantic dedup all start from a k-means
  * partition of the embedding space).
  *
  * Deterministic Lloyd's iterations, DataFrame-first:
  *
  *  - init is the k lowest `vec_id` vectors (no RNG — the same corpus
  *    always yields the same model; k-means++ would add seed state for
  *    little gain at this k);
  *  - the assign step is one narrow codegen projection: squared
  *    distance ‖v‖² − 2·v·c + ‖c‖² against every centroid (the v·c
  *    dot is the codegen [[graft.functions.DotProduct]]; ‖c‖² folds to
  *    a literal), argmin via `array_min` over (d2, cid) structs —
  *    lexicographic struct ordering gives the lowest-cid tiebreak
  *    deterministically;
  *  - the update step is posexplode → (cluster, dim) partial-agg mean
  *    over the EXACT 2⁵⁰-scaled DECIMAL(38,0) carrier (the
  *    [[graft.ops.Similarity.centroidDrift]] discipline — r12,
  *    replacing the FP-order-dependent `avg`): k·d cells come back to
  *    the driver as the next model — centroids are MODEL state (k·d
  *    doubles, O(KB)), the same thing MLlib's KMeans collects per
  *    iteration; corpus rows never leave the executors;
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
    * to the final centroid. */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1)
    val spark = embeddings.sparkSession
    VectorFunctions.register(spark)
    // NOT widened (r16, measured): the per-iteration stages carry a
    // ~300 ms fixed per-task cost at this scale (ProfileOne: exec time
    // grows linearly with task count while wall stays flat), so
    // fanning the one-split fixture to 32 tasks multiplied overhead
    // without cutting wall time (q_kmeans 2.1 s -> 3.6 s, reverted).
    val v = embeddings
      .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
      .persist() // read once per iteration + the final assign
    // deterministic init: the k lowest vec_ids' vectors (k rows; a
    // corpus with n < k simply yields n clusters)
    var centroids: IndexedSeq[Seq[Double]] = v
      .orderBy("vec_id").limit(k)
      .collect()
      .map(_.getSeq[Double](1))
      .toIndexedSeq
    require(centroids.nonEmpty, "kmeans: embeddings input is empty")
    centroids = lloyd(v, centroids, iters)
    // materialize the final assignment (localCheckpoint cuts the
    // lineage back to `v`) so the persisted projection can be released
    // here — repeated facade calls (a k/iters tuning loop) must not
    // accumulate cached DataFrames until LRU eviction
    val out = assign(v, centroids)
      .select(col("vec_id"), col("cluster"),
              round(sqrt(col("d2")), 6).as("dist"))
      .orderBy("vec_id")
      .localCheckpoint()
    v.unpersist()
    out
  }

  /** The fixed-iteration Lloyd loop over a persisted (vec_id, v)
    * projection, factored out of [[kmeans]] so PQ codebook training
    * ([[Quant]]) reuses the identical machinery: exact update-mean
    * carrier (x·2⁵⁰ is integral for any float32-origin |x| ≥ 2⁻²⁶,
    * so the DECIMAL(38,0) sum is order-independent — partition order
    * can't move a bit — and the single final-divide rounding is
    * deterministic on any engine; the guard raises on values the
    * carrier can't hold instead of silently reintroducing FP-order
    * nondeterminism), empty clusters keep their previous centroid.
    * Per iteration: one narrow assign scan + one (cluster, dim)
    * groupBy; centroid state is k·d doubles of driver model state. */
  private[graft] def lloyd(v: DataFrame, init: IndexedSeq[Seq[Double]],
                           iters: Int): IndexedSeq[Seq[Double]] = {
    var centroids = init
    val dim = init.head.length
    val S = 1125899906842624.0 // 2^50
    val xs = when(col("x") * S === floor(col("x") * S),
                  (col("x") * S).cast("decimal(38,0)"))
      .otherwise(raise_error(concat(
        lit("kmeans: embedding value has >50 fraction bits: "),
        col("x").cast("string"))))
    Iterate(v.sparkSession, Tables.adaptiveParts(v)) { loop =>
    for (_ <- 1 to iters) {
      val means = loop.collect(assign(v, centroids)
        .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cluster", "d")
        .agg(sum(xs).as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("d"),
                (col("s").cast("double") / (lit(S) * col("n"))).as("m")))
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          val c = new Array[Double](dim)
          rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
          cid -> c.toSeq
        }
      // empty cluster -> previous centroid survives
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    }
    centroids
  }

  /** One assign pass: (vec_id, v, cluster, d2) with the argmin
    * centroid id and squared distance.
    *
    * Centroids are passed as DATA, not literals (r17): baking each
    * round's centroids in as `typedlit` constants made every Lloyd
    * round a DISTINCT generated class — recompiled and JIT-cold each
    * round (ProfileOne r16: per-rep wall 31.8 → 7.4 → 3.9 s as the
    * JIT warmed). Referencing them through a broadcast 1-row
    * (cs, c2s) table keeps the generated source identical across
    * rounds (only k and dim shape the expression tree), so one
    * compiled class serves the whole run. Arithmetic is unchanged bit
    * for bit: ‖c‖² is still the driver-side Scala fold (now shipped
    * as a value instead of a literal), the dot is the same ascending
    * codegen loop, and `element_at` only changes WHERE the operand
    * bytes come from. */
  private[graft] def assign(v: DataFrame,
                     centroids: IndexedSeq[Seq[Double]]): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val cdf = Seq((
      centroids.map(_.toArray).toArray,
      centroids.map(c => c.map(x => x * x).sum).toArray
    )).toDF("cs", "c2s")
    val vv = VectorFunctions.dot(col("v"), col("v"))
    val scored: Seq[Column] = centroids.indices.map { i =>
      struct((vv - lit(2.0) *
                VectorFunctions.dot(col("v"), element_at(col("cs"), i + 1))
               + element_at(col("c2s"), i + 1)).as("d2"),
             lit(i).as("cid"))
    }
    v.crossJoin(broadcast(cdf))
      .withColumn("best", array_min(array(scored: _*)))
      .select(col("vec_id"), col("v"),
              col("best.cid").as("cluster"),
              // clamp tiny negative FP residue so sqrt stays real
              greatest(col("best.d2"), lit(0.0)).as("d2"))
  }
}
