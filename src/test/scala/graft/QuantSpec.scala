package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Quant

/** Int8 embedding quantization: range/error invariants on the real
  * corpus, hand-checked quantization arithmetic, and search recall of
  * the quantized top-k against the exact float dot-product ranking. */
class QuantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("qvec range is [-127,127] and every nonzero vector hits ±127") {
    val q = Quant.quantizeEmbeddings(graft.Tables.embeddings(spark, dir))
    val bad = q.filter(
      exists(col("qvec"), v => abs(v) > 127) ||
        (col("max_abs") > 0f && !exists(col("qvec"), v => abs(v) === 127)))
    assert(bad.count() === 0)
  }

  test("dequantization error is within half a quantization step") {
    // |x_i - q_i * max_abs/127| <= max_abs/254 (+ float slack)
    val emb = graft.Tables.embeddings(spark, dir)
    val q = Quant.quantizeEmbeddings(emb)
      .join(emb, "vec_id")
      .select(col("max_abs"),
        aggregate(
          zip_with(col("embedding"), col("qvec"),
            (x, r) => abs(x - r * col("max_abs") / lit(127.0))),
          lit(0.0), (acc, e) => greatest(acc, e)).as("max_err"))
    val viol = q.filter(col("max_err") > col("max_abs") / lit(254.0) * 1.0001)
    assert(viol.count() === 0)
  }

  test("hand-computed quantization of a known vector and the zero vector") {
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Quant.quantizeEmbeddings(df).orderBy("vec_id")
      .select("qvec").as[Seq[Int]].collect()
    // scale = 127/0.5 = 254: 0.5→127, -0.25→floor(-63.5+0.5)=-63, 0.125→32
    assert(out(0) == Seq(127, -63, 32))
    assert(out(1) == Seq(0, 0, 0))
  }

  test("JL projection: 16 dims out, deterministic, squared norms unbiased") {
    import graft.ops.Quant
    val emb = graft.Tables.embeddings(spark, dir)
    val p1 = Quant.projectEmbeddings(emb).collect()
    assert(p1.forall(_.getSeq[Double](1).length == Quant.ProjDim))
    // deterministic: fixed seeded planes, same output both runs
    val p2 = Quant.projectEmbeddings(emb).collect()
    assert(p1.map(_.toString).toSeq == p2.map(_.toString).toSeq)
    // E[|proj|^2] = |x|^2 under the 1/sqrt(k) scaling: the MEAN ratio
    // over the corpus concentrates at 1 (per-vector variance ~2/k)
    val ratios = Quant.projectEmbeddings(emb).join(emb, "vec_id")
      .select(
        aggregate(col("proj"), lit(0.0), (a, v) => a + v * v).as("np"),
        aggregate(col("embedding"), lit(0.0),
                  (a, v) => a + v.cast("double") * v).as("no"))
      .collect().map(r => r.getDouble(0) / r.getDouble(1))
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.05, s"mean norm ratio $mean")
  }

  test("q_ann_quant: recall@3 vs exact kNN within 0.05 of the float ANN; index 4x smaller at rest") {
    import graft.ops.{Quant, Similarity}
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.Queries.all("q_knn")(spark, dir))
    val floatAnn = pairs(graft.Queries.all("q_ann_ivf")(spark, dir))
    val quantAnn = pairs(graft.Queries.all("q_ann_quant")(spark, dir))
    val rFloat = (floatAnn & exact).size.toDouble / exact.size
    val rQuant = (quantAnn & exact).size.toDouble / exact.size
    // int8 on a normalized vector costs (almost) no recall
    assert(rQuant >= rFloat - 0.05, s"quant recall $rQuant vs float $rFloat")
    assert(rQuant >= 0.7, s"recall floor: $rQuant")
    // the at-rest posting table is the size story: <= half the float one
    def bytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(path))
    }
    val fb = bytes(Similarity.annIndexPath(spark, dir))
    val qb = bytes(Quant.quantIndexPath(spark, dir))
    assert(qb < fb / 2, s"quant index $qb bytes vs float $fb")
  }

  test("q_ann_pq: recall@3 floor vs exact kNN; PQ posting table <= 1/4 of the int8 table") {
    import graft.ops.{Quant, Similarity}
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.Queries.all("q_knn")(spark, dir))
    val pqAnn = pairs(graft.Queries.all("q_ann_pq")(spark, dir))
    val rPq = (pqAnn & exact).size.toDouble / exact.size
    // 8-byte codes + exact refine of the ADC top-R shortlist: the
    // floor documents the tier's contract (r15 PqTune sweep: measured
    // 0.940 at sf0.1 with B=64/q=4/R=80, higher at sf0.001 — floor
    // raised 0.7 → 0.85 with margin)
    assert(rPq >= 0.85, s"pq recall floor: $rPq")
    // the size story is the POINT of PQ: one packed 8-byte code word
    // vs 64 int8s + scale — at rest the PQ posting table must be
    // <= 1/4 of the int8 posting table (same tbl/bucket/vec_id keys)
    def bytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(path))
    }
    val qb = bytes(Quant.quantIndexPath(spark, dir))
    val pb = bytes(Quant.pqIndexPath(spark, dir))
    assert(pb <= qb / 4, s"pq index $pb bytes vs int8 $qb")
    // codebook is bounded model state: M*K rows
    assert(Quant.pqCodebook(spark, dir).size == Quant.PqM * Quant.PqK)
    // every posting row carries a packed code word, and the PQ table
    // covers the same rows as the int8 posting table
    val posts = Quant.pqPostings(spark, dir)
    assert(posts.filter(org.apache.spark.sql.functions.col("code64").isNull)
      .count() == 0)
    assert(posts.count() == Quant.quantPostings(spark, dir).count())
  }

  test("incremental PQ encode: frozen codebook, appends never move existing codes, exact re-crawl gets identical codes") {
    import graft.ops.{Quant, Similarity}
    val before = Quant.pqPostings(spark, dir)
      .select("vec_id", "code64").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // append: exact copies of three corpus vectors under new ids
    val base = Similarity.annPostings(spark, dir)
      .select(col("vec_id"), col("vn")).distinct()
      .filter(col("vec_id").isin(3L, 7L, 11L))
    val appended = base.select((col("vec_id") + 100000L).as("vec_id"),
                               col("vn"))
    val codes = Quant.encodePqAgainst(spark, dir, appended)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical content -> identical code word (frozen codebook)
    Seq(3L, 7L, 11L).foreach { id =>
      assert(codes(id + 100000L) == before(id), s"vec $id code moved")
    }
    // and the existing index is untouched by construction: same
    // content-keyed path, same bytes
    val after = Quant.pqPostings(spark, dir)
      .select("vec_id", "code64").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
  }

  test("incremental ANN encode: frozen geometry, re-encode of indexed vectors reproduces their posting rows bit-identically") {
    import graft.ops.Similarity
    val posts = Similarity.annPostings(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("tbl"), col("bucket"),
                concat_ws(",", col("pm")))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .toSet
    // re-encode three already-indexed vectors from their RAW
    // embeddings: frozen (planes, h) must reproduce the exact rows
    val raw = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(3L, 7L, 11L))
    val enc = Similarity.encodeAnnAgainst(spark, dir, raw)
    assert(rows(enc) == rows(posts.filter(col("vec_id").isin(3L, 7L, 11L))))
    // genuinely new vectors get rows in the SAME bucket space (bucket
    // ids within the index's range, tables complete)
    val shifted = raw.select((col("vec_id") + 100000L).as("vec_id"),
                             col("embedding"))
    val nenc = Similarity.encodeAnnAgainst(spark, dir, shifted)
    val maxBucket = posts.agg(max(col("bucket"))).collect().head.getInt(0)
    val got = nenc.select("vec_id", "tbl", "bucket").collect()
    assert(got.map(_.getLong(0)).forall(_ >= 100000L))
    assert(got.map(_.getInt(1)).distinct.length ==
      posts.select("tbl").distinct().count())
    assert(got.map(_.getInt(2)).forall(b => b >= 0 && b <= maxBucket * 2 + 1))
    // and a shifted copy of vec v buckets exactly where v does
    assert(rows(nenc) == rows(enc.select((col("vec_id") + 100000L).as("vec_id"),
      col("tbl"), col("bucket"), col("pm"))))
  }

  test("quantized top-10 recalls >= 0.8 of the exact float dot top-10") {
    val emb = graft.Tables.embeddings(spark, dir)
    val approx = Quant.quantizedTopK(emb, nProbes = 5, k = 10)
      .select("probe_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact float dot-product ranking, same probe/tiebreak contract
    val v = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val p = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val dot = aggregate(zip_with(col("pv"), col("v"), (x, y) => x * y),
      lit(0.0), (acc, e) => acc + e)
    val exact = v.join(broadcast(p), col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"), dot.as("dot"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
          .orderBy(col("dot").desc, col("vec_id").asc)))
      .filter(col("rnk") <= 10)
      .select("probe_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }
}
