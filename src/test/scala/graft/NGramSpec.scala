package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Text

/** Reference goldens ported verbatim (FIXTURES.md §A; reference cites
  * NGramTransformTest.java:74-76,:233-245 and
  * docs/NGramTransform-sparkcompute.md:35-53). */
class NGramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tokensDf(rows: Seq[Seq[String]]) =
    rows.map(Tuple1(_)).toDF("tokens")

  private def run(rows: Seq[Seq[String]], n: Int): Seq[Seq[String]] =
    Text.ngramOverTokens(tokensDf(rows), "tokens", n, "ngrams")
      .collect().map(_.getSeq[String](0).toSeq).toSeq

  test("2N golden (NGramTransformTest.java:233-238)") {
    assert(run(Seq(Seq("hi", "i", "am", "cdap"), Seq("how", "are", "you", "cdap")), 2)
      == Seq(Seq("hi i", "i am", "am cdap"), Seq("how are", "are you", "you cdap")))
  }

  test("3N golden (NGramTransformTest.java:240-245)") {
    assert(run(Seq(Seq("hi", "i", "am", "cdap"), Seq("how", "are", "you", "cdap")), 3)
      == Seq(Seq("hi i am", "i am cdap"), Seq("how are you", "are you cdap")))
  }

  test("docs worked example (NGramTransform-sparkcompute.md:35-53)") {
    assert(run(Seq(
      Seq("hi", "i", "heard", "about", "spark"),
      Seq("hdfs", "is", "a", "file", "system"),
      Seq("spark", "is", "an", "engine")), 2)
      == Seq(
        Seq("hi i", "i heard", "heard about", "about spark"),
        Seq("hdfs is", "is a", "a file", "file system"),
        Seq("spark is", "is an", "an engine")))
  }

  test("short row yields empty array (default mode)") {
    assert(run(Seq(Seq("hi", "i")), 3) == Seq(Seq.empty))
  }

  test("strict mode fails the run on a short row (reference R9 semantics)") {
    val df = tokensDf(Seq(Seq("hi", "i")))
    val ex = intercept[Exception] {
      Text.ngramOverTokens(df, "tokens", 3, "ngrams", strict = true).collect()
    }
    assert(ex.getMessage.contains("fewer than 3 tokens"))
  }

  test("output schema is exactly one array<string> field (NGramTransformTest.java:163-165)") {
    val multi = Seq(("a", Seq("x", "y", "z"))).toDF("name", "tokens")
    val out = Text.ngramOverTokens(multi, "tokens", 2, "ngrams")
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == Seq(("ngrams", ArrayType(StringType))))
  }

  test("non-array input rejected at analysis time (NGramTransformTest.java:221-226)") {
    val bad = Seq(Tuple1("not an array")).toDF("tokens")
    intercept[IllegalArgumentException] {
      Text.ngramOverTokens(bad, "tokens", 2, "ngrams")
    }
    intercept[IllegalArgumentException] {
      Text.ngramOverTokens(bad, "missing", 2, "ngrams")
    }
  }

  test("n must be >= 1 (ml.NGram ParamValidators.gtEq(1) analog)") {
    intercept[IllegalArgumentException] { Text.ngramCol(col("x"), 0) }
  }

  /** 1:1 with testFewerSequenceThanNStrings (NGramTransformTest.java:
    * 201-219): in strict mode the whole RUN fails on a < n row and the
    * sink receives zero rows. Here: a parquet write of the strict plan
    * throws, and the output dir holds no committed part files. */
  test("strict run fails end-to-end, sink stays empty (NGramTransformTest.java:201-219)") {
    val dir = TestSpark.tempDir("graft_strict_sink").toString
    val df = tokensDf(Seq(Seq("Less")))  // the reference's 1-token row vs n=3
    intercept[Exception] {
      Text.ngramOverTokens(df, "tokens", 3, "ngrams", strict = true)
        .write.mode("overwrite").parquet(s"$dir/out")
    }
    val committed = Option(new java.io.File(s"$dir/out").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    assert(committed.isEmpty)
  }

  /** 1:1 with testNullNGramSize (NGramTransformTest.java:227-231): a
    * missing/invalid n-gram size is rejected at config-build time on
    * every entry point (the reference NPEs building the ETL config;
    * our analog is the require(n >= 1) gate). */
  test("invalid n rejected on every entry point (NGramTransformTest.java:227-231)") {
    val df = tokensDf(Seq(Seq("a", "b")))
    intercept[IllegalArgumentException] { Text.ngramOverTokens(df, "tokens", 0, "ngrams") }
    intercept[IllegalArgumentException] { Text.ngramColStrict(col("x"), 0) }
    intercept[IllegalArgumentException] { Text.ngramsScala(Seq("a"), 0) }
    intercept[IllegalArgumentException] {
      Text.ngramMl(df.withColumn("text", lit("a b")), "text", 0, "ngrams")
    }
  }

  test("ml.Pipeline path == expression path on the goldens") {
    val docs = Seq((0L, "hi i heard about spark"), (1L, "spark is an engine"), (2L, "hi"))
      .toDF("doc_id", "text")
    val ml = Text.ngramMl(docs, "text", 2, "ngrams")
      .select("doc_id", "ngrams").collect().toSeq
    val ex = docs.select(col("doc_id"),
        Text.ngramCol(split(lower(trim(col("text"))), "\\s+"), 2).as("ngrams"))
      .collect().toSeq
    assert(ml == ex)
  }

  test("UDF variant == expression form (scalar UDF extension point)") {
    val docs = Tables.docTokens(spark, TestSpark.sf0001).limit(50)
    val both = docs.select(
        Text.ngramCol(col("toks"), 2).as("a"),
        Text.ngramUdf(col("toks"), lit(2)).as("b"))
      .collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }
}
