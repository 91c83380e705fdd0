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

import graft.ops.{Clustering, Dedup, Graph, Iterate, TextAnalysis}

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

  test("rounds: a round whose scalar never repeats throws at the cap") {
    // a (k, x) state partitioned on k; every round adds 1 to x, so its
    // observed sum never repeats
    val init = spark.range(8).select((col("id") % 2).as("k"), col("id").as("x"))
      .repartition(2, col("k"))
    def grow(failAtCap: Boolean): Int = Iterate(spark, 2) { loop =>
      loop.rounds(init, 3, sum(col("x")))(
        (df, _) => df.select(col("k"), (col("x") + 1).as("x")),
        stop = _ == _, failAtCap = failAtCap)._2
    }
    assert(grow(failAtCap = false) == 3)
    var e: IllegalStateException = null
    // one job checkpoints the initial state, one each round
    val jobs = jobsOf { e = intercept[IllegalStateException](grow(failAtCap = true)) }
    assert(jobs == 1 + 3, s"$jobs jobs, not the initial state and exactly 3 rounds")
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

  /** The directed path p00 → p01 → … of `n` nodes. From p00, BFS and
    * unit-cost SSSP take n rounds: n − 1 that reach one node each and
    * one that changes nothing. Symmetrized, 2-core peeling takes
    * n / 2 + 1 rounds (n even): each strips both ends, the last strips
    * nothing. */
  private def path(n: Int): DataFrame =
    (0 until n - 1).map(i => (f"p$i%02d", f"p${i + 1}%02d")).toDF("src", "dst")
  private def costed(edges: DataFrame): DataFrame = edges.withColumn("cost", lit(1L))
  private lazy val origin = Seq("p00").toDF("node")
  /** The long-id path 0 — 1 — … of `n` nodes as dedup pairs. */
  private def chain(n: Int): DataFrame =
    (0L until n - 1L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")

  /** Quality stats of 20 long, diverse docs and 20 short, repetitive ones. */
  private lazy val quality =
    ((0 until 20).map(i => (i.toLong, 100, 100, 0)) ++ (20 until 40).map(i => (i.toLong, 10, 1, 10)))
      .toDF("doc_id", "n_toks", "n_distinct", "n_stop")
  private lazy val vectors = Tables.embeddings(spark, TestSpark.sf0001)

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
    // the loops that stop on their observed scalars: BFS's and SSSP's
    // setup is the edge table, the node table and the initial state;
    // k-core's and CC's the sized edge table and the initial state
    for (n <- Seq(4, 8)) {
      val bfs = jobsOf(Graph.bfsDepth(path(n), origin))
      assert(bfs <= 3 + n, s"bfsDepth over $n nodes: $bfs jobs")
      val sssp = jobsOf(Graph.sssp(costed(path(n)), origin))
      assert(sssp <= 3 + n, s"sssp over $n nodes: $sssp jobs")
      val core = jobsOf(Graph.kCore(path(n), 2))
      assert(core <= 2 + n / 2 + 1, s"kCore over $n nodes: $core jobs")
    }
    for (n <- Seq(2, 40)) {
      var rounds = 0
      val cc = jobsOf { rounds = Dedup.clustersAndRounds(chain(n))._2 }
      assert(cc <= 2 + rounds, s"clustersAndRounds over $n nodes: $cc jobs, $rounds rounds")
    }
    // the model loops: the trainer's setup is the features and the
    // initial weights, and one job collects the last weights; Lloyd's
    // is the points and the seeds, each round also broadcasts the
    // centroid table, and the final assignment is a broadcast and a
    // checkpoint (plus the sort's sampling job at width > 1)
    for (iters <- Seq(2, 6)) {
      val tq = jobsOf(TextAnalysis.trainQualityWeights(quality, iters))
      assert(tq <= 3 + iters, s"trainQualityWeights($iters): $tq jobs")
      val km = jobsOf(Clustering.kmeans(vectors, iters = iters))
      assert(km <= 5 + 2 * iters, s"kmeans($iters): $km jobs")
    }
  }

  test("fixed-round loops: rounds 2..n compile no new code") {
    val edges = graph.toDF("src", "dst")
    // a one-round run compiles the setup and the round; later rounds run
    // the same code with other carried values (dangling masses, depths),
    // which a literal would have inlined into a new class each round.
    // Each loop is warmed and measured back to back: the JVM-wide cache
    // of generated classes holds 100, so warming every loop first would
    // let them evict each other's classes and count recompiles.
    val loops = Seq[(String, () => Unit, () => Unit)](
      ("pageRank", () => Graph.pageRank(edges, iters = 1), () => Graph.pageRank(edges, iters = 6)),
      ("labelPropagation", () => Graph.labelPropagation(edges, iters = 1),
        () => Graph.labelPropagation(edges, iters = 6)),
      ("bfsDepth", () => Graph.bfsDepth(path(8), origin, maxDepth = 1),
        () => Graph.bfsDepth(path(8), origin, maxDepth = 6)),
      ("sssp", () => Graph.sssp(costed(path(8)), origin, rounds = 1),
        () => Graph.sssp(costed(path(8)), origin, rounds = 6)),
      // a peel capped at one round throws after running it
      ("kCore", () => intercept[IllegalStateException](Graph.kCore(path(8), 2, maxRounds = 1)),
        () => Graph.kCore(path(8), 2)),
      // one edge converges in one round, the 40-node chain in several
      ("clustersAndRounds", () => Dedup.clustersAndRounds(chain(2)),
        () => Dedup.clustersAndRounds(chain(40))),
      // the model loops: weights and centroids are carried or broadcast
      // data, never literals
      ("trainQualityWeights", () => TextAnalysis.trainQualityWeights(quality, iters = 1),
        () => TextAnalysis.trainQualityWeights(quality, iters = 6)),
      ("kmeans", () => Clustering.kmeans(vectors, iters = 1),
        () => Clustering.kmeans(vectors, iters = 6)))
    for ((name, warm, run) <- loops) {
      warm()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"$name: $compiled classes compiled after its warm-up")
    }
  }

  test("convergence loops keep their state's partitioning at width 3 and above") {
    // CC and k-core size their loop from the edge count, so they run
    // their loops directly at width 3; BFS and SSSP take the width of
    // an input whose size estimate is large (a cross join's estimate is
    // the product of its sides', and a filter does not reduce it)
    val one = spark.range(1000).filter(col("id") === 0)
    val wide = (df: DataFrame) => df.crossJoin(one).drop("id").crossJoin(one).drop("id")
    assert(Tables.adaptiveParts(wide(path(8))) >= 3)
    def rows(df: DataFrame) = df.collect().toSeq
    assert(rows(Graph.bfsDepth(wide(path(8)), origin)) == rows(Graph.bfsDepth(path(8), origin)))
    assert(rows(Graph.sssp(wide(costed(path(8))), origin)) ==
           rows(Graph.sssp(costed(path(8)), origin)))
    val pairs = chain(40)
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val (labels, rounds) = Iterate(spark, 3) { loop =>
      Dedup.propagate(loop, loop.checkpoint(sym.repartition(3, col("dst"))))
    }
    val (clusters, narrowRounds) = Dedup.clustersAndRounds(pairs)
    assert(rounds == narrowRounds)
    assert(rows(labels.orderBy("id")) ==
           rows(clusters.select(col("doc_id").as("id"), col("cluster").as("label"))))
    // the pendant f goes in the first round, the second changes nothing
    val g = (graph :+ ("e" -> "f")).toDF("src", "dst")
    val core = Iterate(spark, 3) { loop =>
      Graph.peel(loop, loop.checkpoint(g.union(g.select(col("dst"), col("src"))).distinct()
        .repartition(3, col("src"))), 2, 50)
    }
    assert(rows(core.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
                  .orderBy("node")) == rows(Graph.kCore(g, 2)))
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
    // the same for the loops that stop on a scalar (8, 8, 5 rounds and
    // CC's several); BFS and SSSP also keep the node table their result
    // reads
    assert(held(Graph.bfsDepth(path(8), origin)) <= 2)
    assert(held(Graph.sssp(costed(path(8)), origin)) <= 2)
    assert(held(Graph.kCore(path(8), 2)) <= 1)
    assert(held(Dedup.clustersAndRounds(chain(40))._1) <= 1)
    // kmeans keeps only its result: not its points, seeds or centroids
    assert(held(Clustering.kmeans(vectors, iters = 6)) <= 1)
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
