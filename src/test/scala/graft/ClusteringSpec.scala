package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Clustering, Iterate}

/** Deterministic k-means goldens — structure the FP-order-exempt
  * oracle can't pin: planted well-separated clusters recovered
  * exactly, inertia monotone in iteration count, bitwise determinism
  * across invocations. */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 3 planted clusters at distance 10 on orthogonal axes, tight
    * ±0.1-style jitter baked in by hand (deterministic, no RNG). */
  private def planted = {
    val base = Seq.tabulate(3)(c => Array.tabulate(8)(d => if (d == c) 10f else 0f))
    // vec_id = j*3 + c, so the deterministic init (the k lowest ids:
    // 0,1,2) seeds one centroid inside each planted group
    val rows = for (c <- 0 until 3; j <- 0 until 5) yield {
      val v = base(c).clone()
      v((c + j) % 8) += 0.01f * (j + 1)
      ((j * 3 + c).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("kmeans recovers planted well-separated clusters exactly") {
    val out = Graft.kmeans(planted, k = 3, iters = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(out.length == 15)
    // each planted group lands in ONE cluster, groups in distinct clusters
    val byGroup = out.groupBy(t => t._1 % 3).map { case (g, rows) =>
      g -> rows.map(_._2).toSet }
    assert(byGroup.values.forall(_.size == 1), s"impure cluster: $byGroup")
    assert(byGroup.values.flatten.toSet.size == 3, s"merged clusters: $byGroup")
    // members sit near their centroid, far from the others (sep = 10)
    assert(out.forall(_._3 < 1.0), "a member is far from its own centroid")
  }

  test("kmeans inertia is monotone non-increasing in iterations (sf0.001)") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    def inertia(iters: Int): Double =
      Graft.kmeans(emb, k = 8, iters = iters)
        .agg(sum(col("dist") * col("dist"))).head().getDouble(0)
    val i1 = inertia(1); val i3 = inertia(3); val i5 = inertia(5)
    assert(i3 <= i1 + 1e-6 && i5 <= i3 + 1e-6, s"inertia rose: $i1 -> $i3 -> $i5")
  }

  test("kmeans is deterministic across invocations") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val a = Graft.kmeans(emb, k = 4, iters = 3).collect().toSeq
    val b = Graft.kmeans(emb, k = 4, iters = 3).collect().toSeq
    assert(a == b)
  }

  test("degenerate inputs: empty corpus rejected clearly, n < k yields n clusters") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] { Graft.kmeans(empty, k = 3) }
    assert(e.getMessage.contains("empty"))
    val two = Seq((1L, Seq.fill(4)(1f)), (2L, Seq.fill(4)(9f)))
      .toDF("vec_id", "embedding")
    val out = Graft.kmeans(two, k = 5, iters = 2).collect()
    assert(out.length == 2)
    assert(out.map(_.getInt(1)).distinct.length == 2) // each its own cluster
    assert(out.forall(_.getDouble(2) == 0.0))         // centroid == member
  }

  test("every vector is assigned and clusters are within range") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val out = Graft.kmeans(emb, k = 8, iters = 2).collect()
    assert(out.length == emb.count())
    assert(out.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 8))
    assert(out.forall(r => r.getDouble(2) >= 0))
  }

  /** The (g, cid, c) model [[Clustering.lloyd]] trains on `points` in
    * a loop of `width`. */
  private def model(points: DataFrame, k: Int, iters: Int,
                    width: Int): Set[(Int, Int, Seq[Double])] =
    Iterate(spark, width) { loop =>
      val p = Clustering.pointTable(loop, points)
      val books = Clustering.lloyd(loop, p, k, iters)
      val out = books.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
      loop.release(p, books)
      out
    }

  /** `embeddings` as the (g, id, v) points of group `g`. */
  private def group(g: Int, embeddings: DataFrame): DataFrame =
    embeddings.select(lit(g).as("g"), col("vec_id").as("id"),
                      transform(col("embedding"), x => x.cast("double")).as("v"))

  test("lloyd over groups: each group gets exactly the centroids a one-group run gives it") {
    val a = group(0, planted)
    val b = group(1, Tables.embeddings(spark, TestSpark.sf0001))
    // n < k: two points, two centroids, each the point itself
    val c = group(2, Seq((5L, Seq(1f, 2f)), (9L, Seq(3f, 4f))).toDF("vec_id", "embedding"))
    val grouped = model(a.union(b).union(c), k = 3, iters = 4, width = 3)
    val alone = Seq(a, b, c).flatMap(model(_, k = 3, iters = 4, width = 1)).toSet
    assert(grouped == alone)
    assert(grouped.count(_._1 == 0) == 3 && grouped.count(_._1 == 1) == 3)
    assert(grouped.filter(_._1 == 2).map(_._3) == Set(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    val e = intercept[IllegalArgumentException](model(a.limit(0), k = 3, iters = 2, width = 3))
    assert(e.getMessage.contains("empty"))
  }

  test("lloyd: a sub-2^-50-grid value trips the exact-mean guard") {
    // 2^-51 as a float: x * 2^50 = 0.5 — not integral, must raise
    val tiny = java.lang.Float.intBitsToFloat((127 - 51) << 23)
    assert(tiny.toDouble == math.pow(2, -51))
    val e = Seq((1L, Seq(tiny, 0f)), (2L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception](Graft.kmeans(e, k = 1, iters = 1))
    assert(ex.getMessage.contains("fraction bits"))
  }
}
