package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational
import graft.plans.{AsOfJoins, GraftExtensions}

/** The custom-plan extension point: logical node → strategy → physical
  * merge-scan exec, checked for plan shape, hand-computed semantics,
  * and equivalence with the window-encoded formulation. */
class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hand-computed backward as-of semantics (inner, ties, no-match)") {
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:05")),
      (2L, 100L, ts("2024-01-01 10:00:00")),  // exactly simultaneous quote
      (3L, 100L, ts("2024-01-01 09:59:59")),  // before any quote: dropped
      (4L, 200L, ts("2024-01-01 11:00:00")),  // user with no quotes: dropped
      (5L, 300L, ts("2024-01-01 12:00:00"))
    ).toDF("trade_id", "uid", "t")
    val quotes = Seq(
      (100L, ts("2024-01-01 10:00:00"), 1.0),
      (100L, ts("2024-01-01 10:00:03"), 2.0),
      (300L, ts("2024-01-01 00:00:00"), 9.0)
    ).toDF("q_uid", "q_t", "px")
    val out = AsOfJoins.asof(trades, quotes, "uid", "q_uid", "t", "q_t")
      .select("trade_id", "px").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 2.0, 2L -> 1.0, 5L -> 9.0))
  }

  test("left-outer as-of keeps unmatched left rows with null right side") {
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:05")),
      (2L, 100L, ts("2024-01-01 10:00:00")),
      (3L, 100L, ts("2024-01-01 09:59:59")),  // before any quote: kept, null px
      (4L, 200L, ts("2024-01-01 11:00:00")),  // user with no quotes: kept, null px
      (5L, 300L, ts("2024-01-01 12:00:00"))
    ).toDF("trade_id", "uid", "t")
    val quotes = Seq(
      (100L, ts("2024-01-01 10:00:00"), 1.0),
      (100L, ts("2024-01-01 10:00:03"), 2.0),
      (300L, ts("2024-01-01 00:00:00"), 9.0)
    ).toDF("q_uid", "q_t", "px")
    val out = AsOfJoins.asof(trades, quotes, "uid", "q_uid", "t", "q_t",
        org.apache.spark.sql.catalyst.plans.LeftOuter)
      .select("trade_id", "px").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map(1L -> Some(2.0), 2L -> Some(1.0), 3L -> None,
                      4L -> None, 5L -> Some(9.0)))
  }

  private def dirFixture = {
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:05")),
      (2L, 100L, ts("2024-01-01 10:00:00")),   // exactly simultaneous quote
      (3L, 100L, ts("2024-01-01 09:59:59")),   // before any quote
      (4L, 200L, ts("2024-01-01 11:00:00")),   // user with no quotes
      (5L, 300L, ts("2024-01-01 12:00:00")),   // only a 12h-old quote
      (6L, 100L, ts("2024-01-01 10:00:01.5"))  // EQUIDISTANT between quotes
    ).toDF("trade_id", "uid", "t")
    val quotes = Seq(
      (100L, ts("2024-01-01 10:00:00"), 1.0),
      (100L, ts("2024-01-01 10:00:03"), 2.0),
      (300L, ts("2024-01-01 00:00:00"), 9.0)
    ).toDF("q_uid", "q_t", "px")
    (trades, quotes)
  }

  private def run(direction: graft.plans.AsOfDirection,
                  tol: Option[Double] = None,
                  jt: org.apache.spark.sql.catalyst.plans.JoinType =
                    org.apache.spark.sql.catalyst.plans.Inner) = {
    val (trades, quotes) = dirFixture
    AsOfJoins.asof(trades, quotes, "uid", "q_uid", "t", "q_t",
                   jt, direction, tol)
      .select("trade_id", "px").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
  }

  test("forward as-of: earliest at-or-after quote; simultaneous matches; no future quote drops") {
    assert(run(graft.plans.AsOfDirection.Forward) ==
      Map(2L -> Some(1.0),  // rt == lt IS a forward match
          3L -> Some(1.0),  // next quote 1s ahead
          6L -> Some(2.0))) // 10:00:03 is the next quote
  }

  test("nearest as-of: closer side wins, exact tie chooses backward") {
    assert(run(graft.plans.AsOfDirection.Nearest) ==
      Map(1L -> Some(2.0),  // only backward exists
          2L -> Some(1.0),  // distance 0
          3L -> Some(1.0),  // only forward exists
          5L -> Some(9.0),  // only backward (12h away, no tolerance)
          6L -> Some(1.0))) // 1.5s either way: tie → backward
  }

  test("tolerance bounds the backward gap; out-of-tolerance is NO match") {
    val oneHourUs = 3600e6
    assert(run(graft.plans.AsOfDirection.Backward, Some(oneHourUs)) ==
      Map(1L -> Some(2.0), 2L -> Some(1.0), 6L -> Some(1.0)))
    // trade 5's only quote is 12h stale → dropped under Inner ...
    // ... but kept with a null right side under LeftOuter
    assert(run(graft.plans.AsOfDirection.Backward, Some(oneHourUs),
               org.apache.spark.sql.catalyst.plans.LeftOuter) ==
      Map(1L -> Some(2.0), 2L -> Some(1.0), 3L -> None,
          4L -> None, 5L -> None, 6L -> Some(1.0)))
  }

  test("tolerance composes with nearest: an out-of-tolerance side simply loses") {
    assert(run(graft.plans.AsOfDirection.Nearest, Some(3600e6)) ==
      Map(1L -> Some(2.0), 2L -> Some(1.0),
          3L -> Some(1.0), 6L -> Some(1.0)))
  }

  test("pre-partitioned children are re-distributed, not silently zipped") {
    // children arriving with their own (wrong) partitionings must still
    // produce correct results: EnsureRequirements has to re-establish
    // the co-partitioning, and the exec asserts equal partition counts
    val ev = Tables.events(spark, TestSpark.sf0001)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
      .repartition(7, col("ts"))                  // wrong key, odd count
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su_user"), col("ts").as("signup_ts"))
      .repartitionByRange(3, col("signup_ts"))    // different layout again
    val pre = AsOfJoins
      .asof(purchases, signups, "user_id", "su_user", "ts", "signup_ts")
      .select("event_id", "user_id", "ts", "signup_ts")
      .orderBy("event_id").collect().toSeq
    val plain = Relational.qJoinAsofNative(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(pre == plain)
  }

  test("physical plan is AsOfJoinExec (no window, no union)") {
    val df = Relational.qJoinAsofNative(spark, TestSpark.sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(!plan.contains("WindowExec") && !plan.contains("Union"))
  }

  test("native node == union+window formulation on events") {
    val a = Relational.qJoinAsofNative(spark, TestSpark.sf0001).collect().toSeq
    val b = Relational.qJoinAsof(spark, TestSpark.sf0001).collect().toSeq
    assert(a == b)
  }

  test("GraftExtensions injects the planner strategy via withExtensions") {
    // apply() must accept a fresh SparkSessionExtensions without error;
    // behavioral coverage runs through the registered session strategy
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    assert(spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
  }

  test("unknown column rejected at build time") {
    val l = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("k", "t")
    intercept[IllegalArgumentException] {
      AsOfJoins.asof(l, l.toDF("k2", "t2"), "nope", "k2", "t", "t2")
    }
  }

  test("bucketed-at-rest children: native as-of plans with ZERO shuffles") {
    import graft.sources.Formats
    val dir = TestSpark.tempDir("graft_asof_bucketed").toString
    val ev = Tables.events(spark, TestSpark.sf0001)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su_user"), col("ts").as("signup_ts"))
    // the shuffle is paid ONCE at write time; both sides co-bucketed
    // on the as-of key — the at-rest layout of a trade/quote store
    Formats.writeBucketed(purchases, "asof_purchases_b",
      s"$dir/purchases", 4, "user_id")
    Formats.writeBucketed(signups, "asof_signups_b",
      s"$dir/signups", 4, "su_user")
    val joined = AsOfJoins.asof(
      Formats.readBucketed(spark, "asof_purchases_b"),
      Formats.readBucketed(spark, "asof_signups_b"),
      "user_id", "su_user", "ts", "signup_ts")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan) // TreeNode strips the Exec suffix
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange"),
      s"bucketed as-of must not shuffle either side:\n$plan")
    // layout changes the plan, never the result
    val viaScan = AsOfJoins.asof(purchases, signups,
      "user_id", "su_user", "ts", "signup_ts")
    assert(joined.count() == viaScan.count())
  }

  test("left-only filters push below the as-of node and reach the scan") {
    val ev = Tables.events(spark, TestSpark.sf0001)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su_user"), col("ts").as("signup_ts"))
    val joined = AsOfJoins.asof(purchases, signups,
      "user_id", "su_user", "ts", "signup_ts")
    val filtered = joined.filter(col("event_id") % 2 === 0)
    // the optimized plan must hold the left-only filter BELOW AsOfJoin
    val opt = filtered.queryExecution.optimizedPlan
    val asOf = opt.collect { case a: graft.plans.AsOfJoin => a }
    assert(asOf.nonEmpty, opt.toString)
    assert(asOf.head.left.toString.contains("event_id"), // filter inside left child
      s"filter not pushed:\n$opt")
    // mixed predicate: right-side conjunct must STAY above (as-of
    // semantics forbid right-stream filtering before the merge)
    val mixed = joined.filter(col("event_id") % 2 === 0 &&
      col("signup_ts").isNotNull)
    val opt2 = mixed.queryExecution.optimizedPlan
    val top2 = opt2.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
    assert(top2.exists(_.condition.toString.contains("signup_ts")), opt2.toString)
    // and pushing must not change results
    val pushed = filtered.select("event_id", "signup_ts").collect().toSet
    val reference = joined.collect()
      .filter(_.getLong(0) % 2 == 0)
    assert(pushed.size == reference.length)
  }
}
