package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionOperation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.widen]]'s contract: a one-split input is widened to its
  * byte-derived width, an input with at least `defaultParallelism`
  * splits comes back as the same object with no exchange (the
  * many-split no-op), and deciding runs no Spark job. */
class WidenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def p = spark.sparkContext.defaultParallelism

  /** 20k rows of text written as `files` parquet part files, read back. */
  private def written(files: Int): DataFrame = {
    val dir = TestSpark.tempDir("widen-spec").resolve("t.parquet").toString
    spark.range(20000).select(col("id"), concat(lit("row "), col("id")).as("text"))
      .repartition(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def repartitions(df: DataFrame): Seq[RepartitionOperation] =
    df.queryExecution.logical.collect { case r: RepartitionOperation => r }

  test("a one-file input widens to min(p, est / bytesPerTask + 1)") {
    val in = written(1)
    assert(in.inputFiles.length == 1)
    val est = in.queryExecution.optimizedPlan.stats.sizeInBytes
    for (budget <- Seq(8L << 10, (est / 2).toLong, (est * 2).toLong)) {
      val want = (est / budget + 1).min(BigInt(p)).toInt
      repartitions(Tables.widen(in, budget)) match {
        case Seq(r: Repartition) if want > 1 =>
          assert(r.numPartitions == want && r.shuffle, s"budget $budget: $r")
        case Seq() if want == 1 =>
        case other => fail(s"budget $budget, want $want: $other")
      }
    }
    // the default budget fans this input (tens of KB) to every core
    assert(Tables.widen(in).rdd.getNumPartitions == p)
    assert(Tables.widen(in).count() == 20000)
  }

  test("an input written as >= p part files comes back as the same DataFrame") {
    val in = written(p)
    assert(in.inputFiles.length == p)
    assert(Tables.scanSplits(in) == p)
    for (df <- Seq(in, in.filter(col("id") % 3 === 0).select(upper(col("text")))))
      Seq(8L << 10, 1L).foreach { budget =>
        val w = Tables.widen(df, budget)
        assert(w eq df, s"budget $budget")
        assert(repartitions(w).isEmpty)
      }
  }

  test("widen starts no Spark job") {
    val inputs = Seq(written(1), written(p))
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Shims.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      inputs.foreach(Tables.widen(_))
      Shims.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(jobs.get == 0)
  }
}
