package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** [[Profile]]'s per-query record: valid JSON, the action's task count
  * equal to its stages' tasks, and eager loop rounds counted as
  * construction jobs. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a profile record parses and splits jobs by phase") {
    val latency = Profile.jobLatencyMs(spark)
    val recs = Seq("q_ngram_bigram", "q_page_rank").map { q =>
      q -> new ObjectMapper().readTree(Profile.record(spark, TestSpark.sf0001, q, latency))
    }.toMap
    recs.foreach { case (q, r) =>
      assert(!r.has("error"), s"$q: $r")
      assert(r.get("rows").asLong > 0, s"$q: $r")
      val stages = r.get("stages").elements().asScala.toSeq
      val exec = stages.filter(_.get("phase").asText == "execute")
      val execute = r.get("execute")
      assert(execute.get("tasks").asInt > 0, s"$q: $r")
      assert(execute.get("tasks").asInt == exec.map(_.get("tasks").asInt).sum, s"$q: $r")
      assert(execute.get("stages").asInt == exec.size, s"$q: $r")
      assert(r.get("driver").get("jobs").asInt >= r.get("construct_jobs").asInt +
        execute.get("jobs").asInt, s"$q: $r")
    }
    assert(recs("q_page_rank").get("construct_jobs").asInt > 0, recs("q_page_rank"))
    assert(recs("q_ngram_bigram").get("construct_jobs").asInt == 0, recs("q_ngram_bigram"))
  }
}
