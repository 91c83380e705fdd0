package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shims

import graft.ops.{Quant, Similarity}

/** PQ search-geometry sweep (r15 — the [[AnnTune]] pattern): for each
  * (target occupancy B, probe flips q) the index is rebuilt in the
  * PQ tier's own bucket space and searched at several ADC-shortlist
  * depths R, reporting recall@3 vs the exact kNN plus wall time —
  * the measured curve behind the PqTables/PqFlips/PqOccupancy/
  * PqRefineR constants and the QuantSpec recall floor.
  * `sbt "runMain graft.tools.PqTune [sfDir]"` — run SERIALLY (no
  * concurrent Spark jobs; timing discipline). */
object PqTune {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val knn = Similarity.qKnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    println(f"${"B"}%4s ${"q"}%2s ${"R"}%4s ${"posts"}%9s ${"recall@3"}%9s ${"sec"}%7s")
    for (occ <- Seq(32L, 64L, 128L); q <- Seq(3, 4)) {
      val idxDir = Shims.tempDir("graft_pq_tune").toString
      val cb = Quant.buildPqIndex(spark, dir, Quant.PqTables, q, occ, idxDir)
      val nPosts = spark.read.parquet(s"$idxDir/postings.parquet").count()
      for (r <- Seq(30, 50, 80)) {
        val t0 = System.nanoTime()
        val ann = Quant.annPqFrom(spark, dir, idxDir, cb, r).collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val aset = ann.map(x => (x.getLong(0), x.getLong(1))).toSet
        val recall = (knn & aset).size.toDouble / knn.size
        println(f"$occ%4d $q%2d $r%4d $nPosts%9d $recall%9.4f $sec%7.2f")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
