package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Graph, Iterate}

/** The loop skeleton every iterative operator runs on ([[Iterate]]):
  * round caps fail loudly, and a loop's AQE-off fixed-width regime
  * stays on the loop's private session — the caller's conf never
  * changes, so a query running beside a loop keeps AQE and its
  * result. */
class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"

  test("fixpoint: a round whose scalar never repeats throws at the cap") {
    var rounds = 0
    val e = intercept[IllegalStateException] {
      Iterate(spark, 2) { loop =>
        var df = spark.range(8).toDF("x")
        var prev: Any = null
        loop.fixpoint(3, failAtCap = true) { _ =>
          rounds += 1
          val (next, s) = loop.observed(df.select((col("x") + 1).as("x")), sum(col("x")))
          val converged = s.get(0) == prev
          df = next
          prev = s.get(0)
          converged
        }
      }
    }
    assert(rounds == 3)
    assert(e.getMessage.contains("3 rounds"), e.getMessage)
  }

  test("loop rounds run AQE-off at the loop width; the caller's conf reads unchanged") {
    // the probe runs synchronously inside every optimization, reading
    // the caller's conf and the conf of the session planning the query
    // (a loop session copies the caller's optimizer extensions)
    val seen = new ConcurrentLinkedQueue[(String, String, Boolean, Int)]()
    val probe = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val planning = SQLConf.get
        seen.add((spark.conf.get(Aqe), spark.conf.get(Width),
          planning.adaptiveExecutionEnabled, planning.numShufflePartitions))
        plan
      }
    }
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
      .toDF("src", "dst")
    val width = Tables.adaptiveParts(edges)
    val caller = (spark.conf.get(Aqe), spark.conf.get(Width))
    assert(caller._1 == "true" && caller._2.toInt != width)
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra :+ probe
    val pr = try {
      val df = Graft.pageRank(edges, iters = 3)
      df.collect()
      df
    } finally spark.experimental.extraOptimizations = extra
    val s = seen.asScala.toSeq
    assert(s.nonEmpty)
    assert(s.forall(x => (x._1, x._2) == caller),
      s"caller conf changed during the loop: ${s.map(x => (x._1, x._2)).distinct}")
    assert(s.exists(x => !x._3 && x._4 == width),
      s"no plan ran AQE-off at width $width: ${s.map(x => (x._3, x._4)).distinct}")
    // the loop's result belongs to the caller's session again
    assert(pr.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    // a loop checkpoint keeps the pinned width: AQE would have coalesced
    // these 7 tiny groups into one partition
    Iterate(spark, 3) { loop =>
      val cp = loop.checkpoint(spark.range(100).groupBy((col("id") % 7).as("k")).count())
      val parts = cp.queryExecution.analyzed.collectFirst {
        case r: LogicalRDD => r.rdd.getNumPartitions
      }
      assert(parts.contains(3), parts)
      assert((spark.conf.get(Aqe), spark.conf.get(Width)) == caller)
    }
  }

  private val graph = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "e" -> "d", "b" -> "e")

  /** Jobs `body` starts. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Shims.drainListeners(sc)
    sc.addSparkListener(listener)
    try body finally {
      Shims.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("fixed-round loops: the setup jobs plus one job per round") {
    val edges = graph.toDF("src", "dst")
    // pageRank's setup: the edge table, the node table (its count rides
    // the same job) and the initial ranks; labelPropagation's: the
    // adjacency and the initial labels. Each round is its checkpoint job.
    for (iters <- Seq(2, 6)) {
      val pr = jobsOf(Graph.pageRank(edges, iters))
      assert(pr <= 3 + iters, s"pageRank($iters): $pr jobs")
      val lp = jobsOf(Graph.labelPropagation(edges, iters))
      assert(lp <= 2 + iters, s"labelPropagation($iters): $lp jobs")
    }
  }

  test("fixed-round loops: rounds 2..n compile no new code") {
    val edges = graph.toDF("src", "dst")
    // a one-round run compiles the setup and the round; rounds 2..6 run
    // the same code with other carried dangling masses, which a literal
    // would have inlined into a new class each round
    Graph.pageRank(edges, iters = 1)
    Graph.labelPropagation(edges, iters = 1)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Graph.pageRank(edges, iters = 6)
    Graph.labelPropagation(edges, iters = 6)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("fixed-round loops release each superseded round state") {
    val sc = spark.sparkContext
    val edges = graph.toDF("src", "dst")
    def held(body: => DataFrame): Int = {
      val before = sc.getPersistentRDDs.keySet
      val out = body
      val grown = (sc.getPersistentRDDs.keySet -- before).size
      out.collect()
      grown
    }
    // each keeps only its final state: not its setup tables (edges and
    // nodes, the adjacency), the initial state or the 9 intermediate ones
    assert(held(Graph.pageRank(edges, iters = 10)) <= 1)
    assert(held(Graph.labelPropagation(edges, iters = 10)) <= 1)
  }

  test("concurrent: TPC-H q1 beside a running pageRank keeps AQE and its serial result") {
    val dir = TestSpark.sf0001
    def q1() = Queries.all("q_agg_scan")(spark, dir)
    val serial = q1().collect().toSeq
    val edges = Graph.pageEdges(spark, dir)
    @volatile var done = false
    @volatile var failure: Throwable = null
    val loop = new Thread(() =>
      try Graft.pageRank(edges).collect()
      catch { case t: Throwable => failure = t }
      finally done = true)
    loop.start()
    val runs = scala.collection.mutable.Buffer.empty[(Boolean, Seq[Row])]
    while (!done || runs.size < 3) {
      val df = q1()
      val adaptive = df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
      runs += ((adaptive, df.collect().toSeq))
    }
    loop.join()
    assert(failure == null, s"pageRank failed: $failure")
    assert(runs.forall(_._1),
      s"${runs.count(!_._1)} of ${runs.size} q1 runs planned without AQE")
    assert(runs.forall(_._2 == serial))
  }

  test("loop jobs carry the caller's session tag and addTag tags") {
    // the tags Spark itself puts on every caller-session job are the
    // expected set: the session tag and the real tag of "t" (each
    // execution also gets a tag of its own, dropped by the intersection)
    val sc = spark.sparkContext
    val marker = "graft.iterate.spec"
    val seen = new ConcurrentLinkedQueue[(String, Set[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(marker) != null).foreach { p =>
          val tags = Option(p.getProperty("spark.job.tags")).toSeq
            .flatMap(_.split(",")).filter(_.nonEmpty).toSet
          seen.add((p.getProperty(marker), tags))
        }
    }
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
      .toDF("src", "dst")
    sc.addSparkListener(listener)
    spark.addTag("t")
    try {
      sc.setLocalProperty(marker, "caller")
      spark.range(1).count()
      spark.range(2).count()
      sc.setLocalProperty(marker, "loop")
      Graft.pageRank(edges, iters = 3).collect()
    } finally {
      sc.setLocalProperty(marker, null)
      spark.removeTag("t")
      Shims.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    val (caller, loop) = seen.asScala.toSeq.partition(_._1 == "caller")
    val expected = caller.map(_._2).reduce(_ intersect _)
    assert(expected.size == 2 && expected.exists(_.endsWith("-t")), expected)
    assert(loop.size > 3, s"only ${loop.size} pageRank jobs")
    val missing = loop.map(_._2).filterNot(expected.subsetOf)
    assert(missing.isEmpty,
      s"${missing.size} of ${loop.size} pageRank jobs lack the caller's tags $expected: ${missing.headOption}")
  }
}
