package graft


import org.apache.spark.ml.Pipeline
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.NGramTransformer

/** The reference plugin contract through the first-class ML stage:
  * fixture goldens, the deploy-time schema gate, strict fail-fast,
  * Pipeline composition, and save/load persistence — everything a
  * user switching from the reference's configurable plugin touches. */
class NGramTransformerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tokenRows = Seq(
    Tuple1(Seq("hi", "i", "am", "cdap")),
    Tuple1(Seq("how", "are", "you", "cdap"))
  ).toDF("tokens")

  test("reference 2N golden through the stage (single-field output contract)") {
    val out = new NGramTransformer().setInputCol("tokens").setN(2)
      .transform(tokenRows)
    assert(out.columns.toSeq == Seq("ngrams")) // R3/R7: exactly one field
    assert(out.collect().map(_.getSeq[String](0)).toSeq == Seq(
      Seq("hi i", "i am", "am cdap"),
      Seq("how are", "are you", "you cdap")))
  }

  test("reference 3N golden + short row yields empty array (default mode)") {
    val rows = tokenRows.union(Seq(Tuple1(Seq("hi", "i"))).toDF("tokens"))
    val out = new NGramTransformer().setInputCol("tokens").setN(3)
      .transform(rows).collect().map(_.getSeq[String](0)).toSeq
    assert(out == Seq(
      Seq("hi i am", "i am cdap"),
      Seq("how are you", "are you cdap"),
      Seq.empty))
  }

  test("string input tokenizes first; append mode keeps input columns") {
    val docs = Seq((1L, "Hi I heard about Spark")).toDF("id", "text")
    val out = new NGramTransformer().setInputCol("text").setN(2)
      .setAppend(true).transform(docs)
    assert(out.columns.toSeq == Seq("id", "text", "ngrams"))
    assert(out.head().getSeq[String](2) ==
      Seq("hi i", "i heard", "heard about", "about spark"))
  }

  test("schema gate rejects missing and wrongly-typed input at transformSchema") {
    val t = new NGramTransformer().setInputCol("nope")
    intercept[IllegalArgumentException] { t.transformSchema(tokenRows.schema) }
    val ints = Seq(Tuple1(Seq(1, 2, 3))).toDF("tokens")
    intercept[IllegalArgumentException] {
      new NGramTransformer().setInputCol("tokens").transformSchema(ints.schema)
    }
    intercept[IllegalArgumentException] { new NGramTransformer().setN(0) }
  }

  test("strict mode fails the run on a short row, end to end") {
    val rows = Seq(Tuple1(Seq("hi", "i"))).toDF("tokens")
    val out = new NGramTransformer().setInputCol("tokens").setN(3)
      .setStrict(true).transform(rows)
    val e = intercept[Exception] { out.collect() }
    assert(e.getMessage != null)
  }

  test("composes in an ml.Pipeline and matches Text.ngramMl") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
    val stage = new NGramTransformer().setInputCol("text").setN(2)
      .setAppend(true).setOutputCol("ngrams")
    val viaStage = new Pipeline().setStages(Array(stage)).fit(docs)
      .transform(docs).select("doc_id", "ngrams")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaMl = graft.ops.Text.ngramMl(docs, "text", 2, "ngrams")
      .select("doc_id", "ngrams")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaStage == viaMl)
  }

  test("save/load round-trips the configured stage") {
    val dir = TestSpark.tempDir("graft_ngram_stage").toString + "/st"
    new NGramTransformer().setInputCol("tokens").setN(3).setStrict(false)
      .setOutputCol("g3").save(dir)
    val back = NGramTransformer.load(dir)
    assert(back.getOrDefault(back.n) == 3)
    assert(back.getOrDefault(back.inputCol) == "tokens")
    val out = back.transform(tokenRows)
    assert(out.columns.toSeq == Seq("g3"))
    assert(out.head().getSeq[String](0) == Seq("hi i am", "i am cdap"))
  }
}
