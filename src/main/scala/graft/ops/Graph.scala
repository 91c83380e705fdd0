package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Queries, Tables}

/** PageRank over the crawl link graph — the classic web quality
  * signal for corpus curation (rank-weighted sampling, spam
  * demotion), composed directly on [[Links.extractLinks]] output.
  *
  * Iteration shape (every loop in this file runs on the [[Iterate]]
  * skeleton: private loop session, eager per-round checkpoint,
  * observed convergence scalar, round cap): the edge list is
  * hash-partitioned on src and localCheckpoint'ed ONCE on the loop
  * session, which keeps its partitioning; each of the fixed `iters`
  * rounds ([[Iterate.rounds]]: planned once, one job per round) is
  * one hash shuffle (contribution sum grouped by dst) between two
  * co-partitioned hash joins — no broadcast, so no broadcast job —
  * and ends in an EAGER checkpoint so the logical plan never grows
  * with the round count. The dangling mass is observed on that
  * checkpoint's job and carried into the next round as a scalar (no
  * collect in the data path, no 1-row aggregate job per round). At
  * 100 TB the per-round cost is one shuffle of the rank table keyed
  * the same way every round.
  *
  * EAGER, not lazy (r16): a LAZILY-checkpointed round table is first
  * materialized inside the NEXT round's action, where AQE ran the
  * broadcast stage (then the dangling-mass scalar) and the shuffle
  * stage (contrib join) concurrently — both computing the same
  * un-materialized checkpoint. That race (a) double-computes the
  * round and (b) can deadlock outright: `RDD.doCheckpoint` takes
  * RDDCheckpointData$ then the RDD lock while
  * `DAGScheduler.getCacheLocs` takes them in the opposite order
  * (observed as a permanent hang in PlanShapeSpec). Eager
  * materialization finishes the checkpoint before any concurrent
  * consumer exists — and measured FASTER suite-wide (the redundant
  * double-compute dominated the one extra job per round).
  *
  * Fixed iteration count (no convergence test) keeps the run
  * deterministic and lets the DuckDB oracle UNROLL the same `iters`
  * steps from the same constants: same init (uniform 1/n), same
  * teleport/damping literals, same dangling-mass redistribution, with
  * the result rounded at the very end only.
  */
object Graph {

  private val Damping = "0.85"
  private val Teleport = "0.15" // 1 - damping, emitted as a literal

  /** PageRank over any (src, dst) string edge DataFrame (parallel
    * edges count once per occurrence): (node, pr) rounded to 6 dp,
    * ordered by node. Nodes = distinct src ∪ dst; nodes with no
    * out-edges are dangling and redistribute their mass uniformly. */
  def pageRank(edgeDf: DataFrame, iters: Int = 10): DataFrame =
    pageRankState(edgeDf, iters)
      .select(col("node"), round(col("r"), 6).as("pr")).orderBy("node")

  /** [[pageRank]]'s last round state, unrounded: (node, dang, r). */
  private[graft] def pageRankState(edgeDf: DataFrame, iters: Int): DataFrame = {
    // size-adaptive iteration width (r16): see [[Tables.adaptiveParts]]
    Iterate(edgeDf.sparkSession, Tables.adaptiveParts(edgeDf)) { loop =>
      val edges = degreeEdges(loop, edgeDf)
      // graph SIZE rides the node table's checkpoint job: nc is bounded
      // model state (one long, the dedupClusters convergence-scalar
      // contract)
      val (nodes, n) = loop.observed(danglingNodes(edges), count(lit(1)))
      val nc = n.getLong(0)
      // empty graph: the empty state instead of dividing the uniform
      // init by zero (ANSI mode throws)
      if (nc == 0) nodes.select(col("node"), col("dang"), lit(0.0).as("r"))
      else {
        val rank = loop.rounds(
          nodes.select(col("node"), col("dang"), (lit(1.0) / lit(nc)).as("r")),
          iters, danglingMass) { (rank, dm) =>
          pageRankRound(nodes, edges, rank, nc, dm.head)
        }._1
        loop.release(edges, nodes)
        rank
      }
    }
  }

  /** (src, dst, od): the edge list with each source's out-degree
    * attached, checkpointed on the loop session partitioned on src.
    * Out-degree is ITERATION-INVARIANT, so it is joined ONCE here
    * instead of inside every round (r16, guide §2.4), and it is
    * grouped on the src-partitioned edges themselves, so the setup is
    * one shuffle. The division r/od stays per-edge with the same
    * operands, so the arithmetic is bit-identical to the unrolled
    * oracle. */
  private def degreeEdges(loop: Iterate, edgeDf: DataFrame): DataFrame = {
    val e = edgeDf.select(col("src"), col("dst"))
    loop.checkpoint(e.join(
      e.groupBy(col("src")).agg(count(lit(1)).as("od")).hint("shuffle_hash"), "src"))
  }

  /** (node, dang) for every node of `edges`, partitioned on node at the
    * loop width: the iteration-invariant dangling flag (a node is
    * dangling iff it never appears as a src) rides the node table, so
    * the dangling mass is a flag-filtered aggregate over the rank table
    * itself, not a per-round join (r16). */
  private def danglingNodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"), lit(false).as("dang"))
      .union(edges.select(col("dst").as("node"), lit(true).as("dang")))
      .groupBy(col("node")).agg(min(col("dang")).as("dang"))

  /** The rank mass on dangling nodes, observed on the job that
    * checkpoints a rank table and carried into the next round: a
    * DECIMAL sum, exact in any merge order (a double sum of observed
    * partition buffers would depend on task-completion order). Null
    * when no node dangles. */
  private def danglingMass: Column =
    sum(when(col("dang"), col("r").cast("decimal(38,30)")))

  /** Sum of each node's in-edge contributions r/od: one equi-join of
    * the src-partitioned edges with the node-partitioned rank table
    * (co-partitioned at the loop width: hash-joined in place, no
    * exchange and no broadcast) + a map-side-combined sum by dst. */
  private def contributions(edges: DataFrame, rank: DataFrame): DataFrame =
    edges
      .join(rank.hint("shuffle_hash"), edges("src") === rank("node"))
      .select(col("dst"), (col("r") / col("od")).as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))

  /** One PageRank power-iteration round, factored out of [[pageRank]]
    * so its PLAN SHAPE is pinnable (PlanShapeSpec): the final plan of
    * the full query only shows checkpointed `ExistingRDD` scans, so a
    * cartesian or broadcast regression inside the loop would otherwise
    * be invisible to a plan assert. Shape contract: contrib is one
    * equi-join + map-side-combined partial sum, joined back to the
    * nodes by a co-partitioned equi-join; the dangling mass `dm` (the
    * value [[danglingMass]] carried from the previous round) is a
    * scalar in the projection — no nested-loop join, never a
    * CartesianProduct. */
  private[graft] def pageRankRound(nodes: DataFrame, edges: DataFrame,
                                   rank: DataFrame, nc: Long, dm: Column): DataFrame = {
    // lit(double), NOT expr("0.85"): Spark parses a bare decimal
    // literal as DECIMAL(2,2), which would silently run the whole
    // iteration in decimal arithmetic while DuckDB runs ::DOUBLE
    val d = lit(Damping.toDouble)
    val t = lit(Teleport.toDouble)
    val contrib = contributions(edges, rank)
    nodes
      .join(contrib.hint("shuffle_hash"), nodes("node") === contrib("dst"), "left")
      .select(col("node"), col("dang"),
              (t / lit(nc) +
                d * (coalesce(col("contrib"), lit(0.0)) +
                      coalesce(dm.cast("double"), lit(0.0)) / lit(nc))).as("r"))
  }

  /** Personalized PageRank: [[pageRank]] with the teleport vector
    * concentrated on a SEED set — the topic/trust-biased ranking
    * (seed a vetted domain list, rank everything by proximity to it).
    * Teleport AND dangling mass both land uniformly on the seeds
    * (the standard PPR convention), so every round is
    * r(node) = (t + d·dm)·isSeed/|S| + d·contrib(node); nodes
    * unreachable from any seed get EXACTLY 0 (no uniform floor —
    * that separation is the point of personalization).
    *
    * Same iteration discipline and oracle story as [[pageRank]]:
    * fixed rounds, edges/nodes/dangling flags checkpointed once, the
    * dangling mass carried from each round's checkpoint job into the
    * next, one eager checkpoint job per round; the seed flag is one
    * co-partitioned join at setup. `seeds` is a (node) DataFrame; ids
    * absent from the graph are ignored. */
  def personalizedPageRank(edgeDf: DataFrame, seeds: DataFrame,
                           iters: Int = 10): DataFrame = {
    val d = lit(Damping.toDouble)
    val t = lit(Teleport.toDouble)
    // size-adaptive iteration width (r16): see [[Tables.adaptiveParts]]
    val rank = Iterate(edgeDf.sparkSession, Tables.adaptiveParts(edgeDf)) { loop =>
      val edges = degreeEdges(loop, edgeDf)
      val seedSet = seeds.select(col("node")).distinct()
        .select(col("node"), lit(1.0).as("is_seed"))
      // nodes carry BOTH iteration-invariant flags: the seed indicator
      // and the dangling flag; |S| is bounded model state (one long,
      // like pageRank's nc) observed on the same job
      val (nodes, s) = loop.observed(danglingNodes(edges)
        .join(seedSet.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"), col("dang"),
                coalesce(col("is_seed"), lit(0.0)).as("is_seed")),
        count(when(col("is_seed") === 1.0, true)))
      val ns = s.getLong(0)
      if (ns == 0) nodes.select(col("node"), lit(0.0).as("r"))
      else {
        val rank = loop.rounds(nodes.select(col("node"), col("dang"), col("is_seed"),
                                            (col("is_seed") / lit(ns)).as("r")),
                               iters, danglingMass) { (r0, dm) =>
          val contrib = contributions(edges, r0)
          nodes
            .join(contrib.hint("shuffle_hash"), nodes("node") === contrib("dst"), "left")
            .select(col("node"), col("dang"), col("is_seed"),
                    ((t + d * coalesce(dm.head.cast("double"), lit(0.0))) * col("is_seed") / lit(ns) +
                      d * coalesce(col("contrib"), lit(0.0))).as("r"))
        }._1
        loop.release(edges, nodes)
        rank
      }
    }
    rank.select(col("node"), round(col("r"), 6).as("pr")).orderBy("node")
  }

  /** The seed rule for q_ppr: every page of source src0 — ONE literal
    * shared with the oracle. */
  private[graft] val PprSeedPrefix = "https://example-src0.com/page-"

  /** q_ppr: [[personalizedPageRank]] over the page-level link fixture
    * ([[pageEdges]]), seeded on src0's pages. */
  def qPpr(spark: SparkSession, dir: String): DataFrame = {
    val edges = pageEdges(spark, dir)
    val seeds = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .where(col("node").startsWith(PprSeedPrefix))
    personalizedPageRank(edges, seeds)
  }

  /** DuckDB oracle for q_ppr: the PPR update unrolled like
    * [[oracleSql]], with the seed indicator from the same prefix
    * literal. */
  private[graft] def pprOracleSql(iters: Int = 10): String = {
    val steps = (1 to iters).map { k =>
      val p = s"pr${k - 1}"
      s"""pr$k AS MATERIALIZED (
         |  SELECT nd.node, nd.is_seed,
         |    ($Teleport::DOUBLE + $Damping::DOUBLE * dg.dm)
         |        * nd.is_seed / sn.ns
         |      + $Damping::DOUBLE * coalesce(c.contrib, 0.0::DOUBLE) AS r
         |  FROM nodes nd
         |  CROSS JOIN sn
         |  CROSS JOIN (SELECT coalesce(sum(p.r), 0.0::DOUBLE) AS dm
         |              FROM $p p LEFT JOIN od ON p.node = od.src
         |              WHERE od.src IS NULL) dg
         |  LEFT JOIN (SELECT e.dst AS node, sum(p.r / od.od) AS contrib
         |             FROM e JOIN $p p ON e.src = p.node
         |             JOIN od ON od.src = e.src
         |             GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pageEdgeCtes,
       |nodes AS MATERIALIZED (SELECT node,
       |          CASE WHEN starts_with(node, ${sqlLit(PprSeedPrefix)})
       |               THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS is_seed
       |        FROM (SELECT DISTINCT node FROM
       |            (SELECT src AS node FROM e
       |             UNION ALL SELECT dst FROM e))),
       |sn AS (SELECT sum(is_seed)::BIGINT AS ns FROM nodes),
       |od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS od FROM e GROUP BY src),
       |pr0 AS MATERIALIZED (SELECT node, is_seed, is_seed / sn.ns AS r
       |        FROM nodes CROSS JOIN sn),
       |$steps
       |SELECT node, round(CAST(CAST(r AS VARCHAR) AS DECIMAL(38,18)), 6)::DOUBLE AS pr
       |FROM pr$iters ORDER BY node""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_page_rank: edges from the Links fixture — each doc's own page
  // URL links to the next page, its source hub, and a per-lang
  // partner site (targets via the REAL extraction path,
  // Links.extractLinks over the rendered pages). Hubs, partners, and
  // the one past-the-end "next" target have no out-edges, so the
  // dangling machinery is exercised on the fixture too.
  // ------------------------------------------------------------------

  private[graft] val PageUrlPrefix = "https://example-"
  private[graft] val PageUrlMid = ".com/page-"
  /** Host of an href — ONE constant for the Spark side and the
    * q_link_degree oracle (same-constants discipline). */
  private[graft] val HrefHostRe = "^https://([^/]*)"

  /** Page-level (src, dst) edge derivation from the Links fixture —
    * the ONE Spark-side construction behind [[pageEdges]]. */
  private[graft] def buildPageEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val links = Links.extractLinks(
      docs.select(col("doc_id"), Links.renderLinkPage.as("html")))
    val pageUrl = concat(lit(PageUrlPrefix), col("source"),
                         lit(PageUrlMid), col("doc_id").cast("string"))
    links
      .join(docs.select(col("doc_id"), pageUrl.as("src")), "doc_id")
      .select(col("src"), col("href").as("dst"))
  }

  /** MATERIALIZED page-level adjacency table (r13 — VERDICT r12 #2):
    * the page edge list consumed by q_page_rank / q_hits / q_ppr is
    * derived (HTML render + regex link extraction + join) ONCE per
    * corpus and lands in columnar storage, content-keyed via
    * [[IndexCache]] exactly like the dedup cluster / ANN posting
    * tables — at cluster scale this is the persisted edge table every
    * graph job reads (bucketed by src at rest), not a per-query
    * re-extraction of the corpus. The three consumers re-ran the
    * extraction (and its checkpoint) per query: ~a third of the whole
    * bench suite's time was graph-edge re-derivation. All values are
    * strings/longs — the parquet round trip is exact, so the oracles
    * are untouched. */
  private val pageEdgePaths =
    IndexCache.materializedParquet("documents", "graft_page_edges")(
      buildPageEdges)
  private[graft] def pageEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.loadPath(spark, pageEdgePaths.get(spark, dir))

  /** The matching pg/l/e oracle CTE block (no WITH) — the ONE SQL
    * derivation of the same page edges, shared by the q_page_rank /
    * q_hits / q_ppr oracles so they can't drift. */
  private[graft] def pageEdgeCtes: String =
    s"""pg AS MATERIALIZED (SELECT d.doc_id, d.source,
       |        ${Links.pageFixtureSql} AS html
       |      FROM documents d),
       |l AS MATERIALIZED (SELECT doc_id,
       |        unnest(regexp_extract_all(html, ${sqlLit(Links.AnchorRe)}, 1)) AS href
       |      FROM pg),
       |e AS MATERIALIZED (SELECT ${sqlLit(PageUrlPrefix)} || d.source ||
       |        ${sqlLit(PageUrlMid)} || d.doc_id::VARCHAR AS src,
       |        l.href AS dst
       |      FROM l JOIN documents d ON l.doc_id = d.doc_id)""".stripMargin

  /** q_page_rank: [[pageRank]] over the extracted link fixture. */
  def qPageRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(pageEdges(spark, dir))

  /** HITS hubs & authorities — the OTHER classic link-analysis
    * signal: authorities are pages linked BY good hubs, hubs are
    * pages linking TO good authorities (mutual recursion), computed
    * by fixed power iterations with L1 normalization at the end
    * (L1, not L2: the normalizer is then a plain sum, written
    * identically in the unrolled oracle, with no sqrt in the loop).
    * Same iteration discipline as [[pageRank]]: edges checkpointed
    * once in both orientations, two contribution shuffles per round
    * (auth ← hubs over in-edges, hub ← auths over out-edges), one
    * checkpoint job per round on the hub table (the intermediate auth
    * has a single consumer, this round's hub update; only the last
    * round's auth, which the final join also reads, is checkpointed).
    * Returns (node, hub, auth) rounded 6 dp, ordered by node. */
  def hits(edgeDf: DataFrame, iters: Int = 10): DataFrame = {
    // size-adaptive iteration width (r16): see [[Tables.adaptiveParts]]
    val nParts = Tables.adaptiveParts(edgeDf)
    Iterate(edgeDf.sparkSession, nParts) { loop =>
      val edges = loop.checkpoint(edgeDf.select(col("src"), col("dst"))
        .repartition(nParts, col("src")))
      // SECOND copy of the adjacency partitioned on dst (r16, guide
      // §2.4): the hub update joins edges on dst every round — the
      // standard both-orientations adjacency layout. Same rows, so
      // every join result (and the oracle) is unchanged.
      val edgesByDst = loop.checkpoint(edges.repartition(nParts, col("dst")))
      val (nodes, n) = loop.observed(edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct(), count(lit(1)))
      // SPARSE, UNNORMALIZED iteration: only nodes with out-edges ever
      // hold hub mass and only nodes with in-edges hold authority mass
      // (a zero score contributes exactly 0.0 to every sum), and power
      // iteration is scale-invariant, so the L1 normalization happens
      // ONCE at the end. Magnitudes grow ~fan² per round unnormalized,
      // so each round reads the hub vector divided by 2^⌊log2(max h)⌋,
      // the max carried from the job that checkpointed it: dividing by
      // a POWER OF TWO only shifts exponents (r11 verdict #4), so every
      // sum is bit-for-bit the unnormalized iteration's value ×2^-K and
      // the final quotients h/Σh are UNCHANGED — the unrolled oracle
      // needs no rescale, determinism never depends on distributed sum
      // order (masses stay exact integer-dyadics within the 2^53
      // regime), and exponent overflow is impossible at any `iters` on
      // any fan. The max is exact in any merge order; dividing by the
      // raw L1 norm instead would make every mass a rounded quotient
      // and every later sum order-dependent. Zeros are filled at
      // presentation.
      def authOf(hub: DataFrame, scale: Column): DataFrame =
        edges.join(hub.hint("shuffle_hash"), edges("src") === hub("node"))
          .groupBy(col("dst")).agg(sum(col("h") * scale).as("a"))
          .select(col("dst").as("node"), col("a"))
      def hubOf(auth: DataFrame): DataFrame =
        edgesByDst.join(auth.hint("shuffle_hash"), edgesByDst("dst") === auth("node"))
          .groupBy(col("src")).agg(sum(col("a")).as("h"))
          .select(col("src").as("node"), col("h"))
      if (n.getLong(0) == 0)
        nodes.select(col("node"), lit(0.0).as("hub"), lit(0.0).as("auth"))
      else {
        val hub0 = edges.select(col("src").as("node")).distinct()
          .select(col("node"), lit(1.0).as("h"))
        val last = loop.rounds(hub0, iters - 1, max(col("h"))) { (hub, m) =>
          hubOf(authOf(hub, when(m.head > 0d, pow(lit(2.0), -floor(log2(m.head))))
                              .otherwise(lit(1.0))))
        }._1
        // the L1 norms ride the last auth and hub checkpoint jobs: exact
        // in any merge order, like every sum of these integer dyadics
        val (auth, na) = loop.observed(authOf(last, lit(1.0)), sum(col("a")))
        val (hub, nh) = loop.observed(hubOf(auth), sum(col("h")))
        loop.release(edges, edgesByDst, last)
        def normalized(score: String, norm: Row): Column = round(
          if (norm.isNullAt(0) || norm.getDouble(0) <= 0d) lit(0.0)
          else coalesce(col(score), lit(0.0)) / lit(norm.getDouble(0)), 6)
        nodes
          .join(hub.withColumnRenamed("node", "hn"),
                nodes("node") === col("hn"), "left")
          .join(auth.withColumnRenamed("node", "an"),
                nodes("node") === col("an"), "left")
          .select(col("node"), normalized("h", nh).as("hub"),
                  normalized("a", na).as("auth"))
      }
    }.orderBy("node")
  }

  /** q_hits: [[hits]] over the extracted link fixture
    * ([[pageEdges]]). */
  def qHits(spark: SparkSession, dir: String): DataFrame =
    hits(pageEdges(spark, dir))

  /** DuckDB oracle for q_hits: the same `iters` SPARSE unnormalized
    * double updates unrolled as MATERIALIZED CTEs, one L1 normalize
    * at the end, zero-fill on the node list — identical arithmetic
    * to the Spark loop. */
  private[graft] def hitsOracleSql(iters: Int = 10): String = {
    val steps = (1 to iters).map { k =>
      val p = if (k == 1) "h0" else s"hub${k - 1}"
      s"""auth$k AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(p.h) AS a
         |  FROM e JOIN $p p ON e.src = p.node GROUP BY e.dst),
         |hub$k AS MATERIALIZED (
         |  SELECT e.src AS node, sum(p.a) AS h
         |  FROM e JOIN auth$k p ON e.dst = p.node GROUP BY e.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pageEdgeCtes,
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |            (SELECT src AS node FROM e
       |             UNION ALL SELECT dst FROM e)),
       |h0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0::DOUBLE AS h
       |        FROM e),
       |$steps,
       |hn AS (SELECT sum(h) AS nh FROM hub$iters),
       |an AS (SELECT sum(a) AS na FROM auth$iters)
       |SELECT nd.node,
       |  round(CAST(CAST(
       |    CASE WHEN nh > 0 THEN coalesce(hub$iters.h, 0.0::DOUBLE) / nh
       |         ELSE 0.0::DOUBLE END AS VARCHAR) AS DECIMAL(38,18)), 6)::DOUBLE
       |    AS hub,
       |  round(CAST(CAST(
       |    CASE WHEN na > 0 THEN coalesce(auth$iters.a, 0.0::DOUBLE) / na
       |         ELSE 0.0::DOUBLE END AS VARCHAR) AS DECIMAL(38,18)), 6)::DOUBLE
       |    AS auth
       |FROM nodes nd
       |LEFT JOIN hub$iters ON hub$iters.node = nd.node
       |LEFT JOIN auth$iters ON auth$iters.node = nd.node
       |CROSS JOIN hn CROSS JOIN an
       |ORDER BY nd.node""".stripMargin
  }

  /** Domain-level link-graph degree report: out-degree, in-degree,
    * distinct neighbor counts, and self-link share per domain — the
    * cheap structural profile next to [[pageRank]] (hub/spam domains
    * jump out of the degree distribution before any iteration runs).
    * Two map-side-combined aggregates over the edge list + one outer
    * join; no iteration. */
  def degreeStats(edgeDf: DataFrame): DataFrame = {
    val out = edgeDf.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"),
           countDistinct(col("dst")).as("out_nbrs"),
           sum(when(col("src") === col("dst"), 1L).otherwise(0L))
             .as("self_links"))
    val in = edgeDf.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"),
           countDistinct(col("src")).as("in_nbrs"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
              coalesce(col("out_deg"), lit(0L)).as("out_deg"),
              coalesce(col("out_nbrs"), lit(0L)).as("out_nbrs"),
              coalesce(col("in_deg"), lit(0L)).as("in_deg"),
              coalesce(col("in_nbrs"), lit(0L)).as("in_nbrs"),
              coalesce(col("self_links"), lit(0L)).as("self_links"))
      .orderBy("node")
  }

  /** q_link_degree: [[degreeStats]] over the DOMAIN-level edges
    * ([[domainEdges]] — shared with q_label_prop). */
  def qLinkDegree(spark: SparkSession, dir: String): DataFrame =
    degreeStats(domainEdges(spark, dir))

  private[graft] def degreeOracleSql: String = {
    s"""WITH $domainEdgeCtes,
       |o AS (SELECT src AS node, count(*)::BIGINT AS out_deg,
       |        count(DISTINCT dst)::BIGINT AS out_nbrs,
       |        sum(CASE WHEN src = dst THEN 1 ELSE 0 END)::BIGINT AS self_links
       |      FROM e GROUP BY src),
       |i AS (SELECT dst AS node, count(*)::BIGINT AS in_deg,
       |        count(DISTINCT src)::BIGINT AS in_nbrs
       |      FROM e GROUP BY dst)
       |SELECT node,
       |  coalesce(out_deg, 0) AS out_deg, coalesce(out_nbrs, 0) AS out_nbrs,
       |  coalesce(in_deg, 0) AS in_deg, coalesce(in_nbrs, 0) AS in_nbrs,
       |  coalesce(self_links, 0) AS self_links
       |FROM o FULL OUTER JOIN i USING (node)
       |ORDER BY node""".stripMargin
  }

  /** Deterministic synchronous label propagation over any (src, dst)
    * edge DataFrame, treated undirected: each round every node adopts
    * the label most frequent among its neighbours, ties broken by the
    * SMALLEST label — the determinism twist that makes classic LPA
    * (random tie-break, random order) oracle-able: the whole
    * computation is integer counts + string mins, no RNG and no
    * floats, so Spark and an unrolled SQL oracle agree bit-exactly.
    * Every node also casts ONE vote for its own current label (a
    * self-loop in the undirected adjacency): without the self-vote,
    * synchronous LPA oscillates forever on bipartite structures — a
    * single edge a–b swaps labels every round and never merges; the
    * self-vote breaks the swap symmetry so even cycles and stars
    * converge. Returns (node, community) — community ids are label
    * VALUES (equal label = same community), ordered by node.
    *
    * Scale: fixed `iters` rounds; per round one edge×label join
    * (shuffle on the label key), one (node, label) count, and one
    * per-node arg-max window — all keyed on node/label, never global.
    * Same iteration discipline as [[pageRank]]: the adjacency is
    * repartitioned + checkpointed ONCE on `b` — the key every
    * round's join probes — so the checkpointed partitioning satisfies
    * the join requirement and the edge list is never reshuffled;
    * eager per-round localCheckpoint truncates lineage, nothing to
    * the driver. */
  def labelPropagation(edgeDf: DataFrame, iters: Int = 5): DataFrame = {
    // size-adaptive iteration width (r16): see [[Tables.adaptiveParts]]
    val nParts = Tables.adaptiveParts(edgeDf)
    val bid = edgeDf.select(col("src").as("a"), col("dst").as("b"))
      .union(edgeDf.select(col("dst").as("a"), col("src").as("b")))
    val labels = Iterate(edgeDf.sparkSession, nParts) { loop =>
      // adjacency = both edge directions + one self-loop per node (the
      // self-vote); partitioned on b because the per-round join is
      // und.b = labels.node
      val und = loop.checkpoint(bid
        .union(bid.select(col("a")).distinct()
          .select(col("a"), col("a").as("b")))
        .repartition(nParts, col("b")))
      // every node starts with its own label (an aggregate, not an alias
      // of the key, so the table stays partitioned on node)
      val (last, _) = loop.rounds(bid.groupBy(col("a").as("node")).agg(min(col("a")).as("lbl")),
                                  iters) { (lbls, _) =>
        val freq = und.join(lbls.hint("shuffle_hash"), und("b") === lbls("node"))
          .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("cnt"))
        // arg-max as a partial-aggregable min over (-cnt, lbl) structs
        // (r16): ≡ the former row_number window ordered (cnt DESC, lbl
        // ASC) — struct ordering is lexicographic and (a, lbl) rows are
        // unique — but map-side combinable and sort-free, so the round
        // sheds the window's full-row shuffle + sort.
        val top = freq
          .groupBy(col("a"))
          .agg(min(struct((-col("cnt")).as("nc"), col("lbl"))).as("b"))
          .select(col("a").as("node"), col("b.lbl").as("newl"))
        lbls.join(top.hint("shuffle_hash"), Seq("node"), "left")
          .select(col("node"), coalesce(col("newl"), col("lbl")).as("lbl"))
      }
      loop.release(und)
      last
    }
    labels.select(col("node"), col("lbl").as("community")).orderBy("node")
  }

  /** Domain-level (src, dst) edge derivation from the Links fixture —
    * the ONE Spark-side construction behind [[domainEdges]]
    * (page-level links rolled up to registrable domains, the
    * frontier-policy granularity). */
  private[graft] def buildDomainEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val links = Links.extractLinks(
      docs.select(col("doc_id"), Links.renderLinkPage.as("html")))
    links
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(concat(lit("example-"), col("source"), lit(".com")).as("src"),
              regexp_extract(col("href"), HrefHostRe, 1).as("dst"))
  }

  /** MATERIALIZED domain-level adjacency table (r13 — the
    * [[pageEdges]] treatment for the domain rollup): built once per
    * corpus, content-keyed, shared by q_link_degree / q_label_prop /
    * q_modularity / q_graph_reciprocity / q_assortativity. String
    * columns only — parquet round trip exact, oracles untouched. */
  private val domainEdgePaths =
    IndexCache.materializedParquet("documents", "graft_domain_edges")(
      buildDomainEdges)
  private[graft] def domainEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.loadPath(spark, domainEdgePaths.get(spark, dir))

  /** The matching h/l/e oracle CTE block (no WITH keyword) — the ONE
    * SQL derivation of the same domain edges, shared by the
    * q_link_degree and q_label_prop oracles so the two can't drift. */
  private[graft] def domainEdgeCtes: String =
    s"""h AS MATERIALIZED (SELECT d.doc_id, d.source, ${Links.pageFixtureSql} AS html
       |           FROM documents d),
       |l AS MATERIALIZED (SELECT doc_id,
       |        unnest(regexp_extract_all(html, ${sqlLit(Links.AnchorRe)}, 1)) AS href
       |      FROM h),
       |e AS MATERIALIZED (SELECT 'example-' || d.source || '.com' AS src,
       |        regexp_extract(l.href, ${sqlLit(HrefHostRe)}, 1) AS dst
       |      FROM l JOIN documents d ON l.doc_id = d.doc_id)""".stripMargin

  /** q_label_prop: [[labelPropagation]] over the DOMAIN-level link
    * graph ([[domainEdges]]) — community ids at the frontier-policy
    * granularity, so the node set is #domains, not #pages. */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(domainEdges(spark, dir))

  /** DuckDB oracle for q_label_prop: the same fixed update steps
    * unrolled as chained MATERIALIZED CTEs from the same literals —
    * integer counts + string mins throughout, no floats to round;
    * `und` carries the same per-node self-vote row. */
  private[graft] def lpOracleSql(iters: Int = 5): String = {
    val steps = (1 to iters).map { k =>
      val p = s"lp${k - 1}"
      s"""c$k AS MATERIALIZED (
         |  SELECT und.a, p.lbl, count(*)::BIGINT AS cnt
         |  FROM und JOIN $p p ON und.b = p.node GROUP BY und.a, p.lbl),
         |t$k AS MATERIALIZED (
         |  SELECT a AS node, lbl FROM (
         |    SELECT a, lbl, row_number() OVER
         |      (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn FROM c$k)
         |  WHERE rn = 1),
         |lp$k AS MATERIALIZED (
         |  SELECT p.node, coalesce(t.lbl, p.lbl) AS lbl
         |  FROM $p p LEFT JOIN t$k t ON p.node = t.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $domainEdgeCtes,
       |bid AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
       |      UNION ALL SELECT dst AS a, src AS b FROM e),
       |und AS MATERIALIZED (SELECT a, b FROM bid
       |      UNION ALL SELECT DISTINCT a, a AS b FROM bid),
       |lp0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM bid),
       |$steps
       |SELECT node, lbl AS community FROM lp$iters ORDER BY node""".stripMargin
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB oracle: the same fixed number of update steps unrolled as
    * chained CTEs from the same literals; rounded only at the end. */
  private[graft] def oracleSql(iters: Int = 10): String = {
    val steps = (1 to iters).map { k =>
      val p = s"pr${k - 1}"
      s"""pr$k AS MATERIALIZED (
         |  SELECT nd.node,
         |    $Teleport::DOUBLE / nc.nc
         |      + $Damping::DOUBLE * (coalesce(c.contrib, 0.0::DOUBLE)
         |                            + dg.dm / nc.nc) AS r
         |  FROM nodes nd
         |  CROSS JOIN n nc
         |  CROSS JOIN (SELECT coalesce(sum(p.r), 0.0::DOUBLE) AS dm
         |              FROM $p p LEFT JOIN od ON p.node = od.src
         |              WHERE od.src IS NULL) dg
         |  LEFT JOIN (SELECT e.dst AS node, sum(p.r / od.od) AS contrib
         |             FROM e JOIN $p p ON e.src = p.node
         |             JOIN od ON od.src = e.src
         |             GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pageEdgeCtes,
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |            (SELECT src AS node FROM e
       |             UNION ALL SELECT dst FROM e)),
       |n AS (SELECT count(*)::BIGINT AS nc FROM nodes),
       |od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS od FROM e GROUP BY src),
       |pr0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE / nc.nc AS r
       |        FROM nodes CROSS JOIN n nc),
       |$steps
       |SELECT node, round(CAST(CAST(r AS VARCHAR) AS DECIMAL(38,18)), 6)::DOUBLE AS pr
       |FROM pr$iters ORDER BY node""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_triangle_count: per-node triangle participation + local
  // clustering coefficient — the cohesion signal (spam-farm link
  // blocks are triangle-dense, navigational chains are triangle-free)
  // and the standard "can your engine do a two-hop self-join without
  // blowing up" benchmark.
  // ------------------------------------------------------------------

  /** Per-node triangle counts and local clustering coefficient over
    * any (src, dst) edge DataFrame (direction, parallel edges and
    * self-loops are all normalized away first): (node, degree,
    * triangles, clustering) ordered by node, clustering rounded 6 dp.
    *
    * Shape is the degree-ordered orientation algorithm (Schank-Wagner
    * / the MR-equivalent of Suri-Vassilvitskii): every edge is
    * oriented from its LOWER (degree, node) endpoint to the higher,
    * wedges are generated only at an edge's lower endpoint, and a
    * wedge becomes a triangle iff the oriented closing edge exists.
    * Each triangle is found exactly once, and — the scale property —
    * per-node wedge fan-out is bounded by the oriented out-degree,
    * O(sqrt(m)), NOT by the raw degree: a celebrity node with 10^7
    * neighbours generates no wedge explosion because its edges all
    * point INTO it. Every stage is an equi-join or a map-side-combined
    * count; nothing is quadratic in degree. The naive a<b<c
    * three-way join the DuckDB oracle runs is count-identical, so the
    * oracle checks the orientation logic end to end. */
  def triangleCount(edgeDf: DataFrame): DataFrame = {
    // checkpointed once: und embeds the caller's full lineage (for
    // q_triangle_count, the corpus-scale pair aggregation) and is
    // consumed by deg (×2) and the orientation join (×1); oriented
    // feeds the wedge self-join (×2) and the closing-edge probe (×1).
    // Without the pin, plan dedup rests entirely on ReuseExchange
    // canonicalization — one divergent branch and the corpus scan
    // runs up to ~9× (the pageRank/bfsDepth input discipline).
    val und = edgeDf
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient a—b from the lower (degree, name) endpoint; carry the
    // dst endpoint's key so wedge pairs can be ordered the same way
    val oriented = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
             struct(col("a").as("s"), col("b").as("d"), col("db").as("kd")))
          .otherwise(
             struct(col("b").as("s"), col("a").as("d"), col("da").as("kd")))
          .as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"), col("e.kd"))
      .localCheckpoint()
    val wedges = oriented.select(col("src"), col("dst").as("d1"), col("kd").as("k1"))
      .join(oriented.select(col("src"), col("dst").as("d2"), col("kd").as("k2")),
            "src")
      .filter(struct(col("k1"), col("d1")) < struct(col("k2"), col("d2")))
    val tris = wedges
      .join(oriented.select(col("src").as("d1"), col("dst").as("d2")),
            Seq("d1", "d2"))
      .select(col("src").as("x"), col("d1").as("y"), col("d2").as("z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
              coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") < 2, lit(0.0)).otherwise(
          round((col("triangles") * 2).cast("double") /
                  (col("degree") * (col("degree") - lit(1L))), 6)))
      .orderBy("node")
  }

  /** q_triangle_count: [[triangleCount]] over the token
    * CO-OCCURRENCE graph ([[TextAnalysis.cooccurPairCounts]] — tokens
    * co-occurring in a ±3 window at least 5 times). The Links page
    * fixture is triangle-free by construction (next-links dangle, the
    * domain rollup is source↔partner bipartite), so the corpus's own
    * collocation structure is the natural triangle-rich graph. */
  def qTriangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCount(
      TextAnalysis.coocPairs(spark, dir)
        .select(col("w1").as("src"), col("w2").as("dst")))

  // ------------------------------------------------------------------
  // q_bfs_depth: multi-source BFS hop distance — the crawl-depth /
  // graph-radius primitive (frontier policies cap crawl depth;
  // distance-from-trusted-set is a quality prior like PPR but in
  // hops, not mass).
  // ------------------------------------------------------------------

  /** Minimum hop distance from a seed set over a directed (src, dst)
    * edge list: (node, depth) for EVERY graph node, `-1` for nodes
    * the seeds cannot reach, ordered by node. Seeds sit at depth 0;
    * expansion stops at `maxDepth` (a crawl-policy cap — and what
    * lets the oracle bound its recursion identically).
    *
    * A third iteration discipline next to [[pageRank]] (fixed-round
    * full relaxation) and [[labelPropagation]] (fixed-round
    * synchronous vote): MONOTONE FRONTIER expansion. The state is the
    * settled (node, depth) table; its max depth and row count are
    * observed on each round's checkpoint job, and round d's frontier is
    * the rows at the carried max depth, filtered BEFORE the edge join —
    * the settled set never re-enters the join, so total work is
    * Σ|frontier_d| edge lookups ≈ one pass over the reachable edges
    * across ALL rounds, not per round. Each round ([[Iterate.rounds]]:
    * planned once, one job per round) is one equi-join against the
    * setup edge table (both partitioned on the join key), one
    * distinct, one anti-join against the settled set and a union; an
    * unchanged row count is the natural end of the graph (early exit
    * on an empty frontier — BFS on a shallow graph must not pay the
    * full cap). Depths are integers end to end: bit-exact against the
    * oracle's bounded recursive CTE. */
  private[graft] val BfsMaxDepth = 8

  def bfsDepth(edgeDf: DataFrame, seeds: DataFrame,
               maxDepth: Int = BfsMaxDepth): DataFrame = {
    // null-safe: an aggregate-built seed frame (min over an empty
    // graph) yields one NULL row, which must not become a node
    val seedNodes = seeds.select(col("node"))
      .filter(col("node").isNotNull).distinct()
    // size-adaptive iteration width (r16): see [[Tables.adaptiveParts]]
    val (nodes, dist) = Iterate(edgeDf.sparkSession, Tables.adaptiveParts(edgeDf)) { loop =>
      val edges = loop.checkpoint(
        loop.partitioned(edgeDf.select(col("src"), col("dst")).distinct(), col("src")))
      val nodes = loop.checkpoint(edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .unionAll(seedNodes)
        .distinct())
      val init = loop.partitioned(seedNodes.withColumn("depth", lit(0L)), col("node"))
      val (dist, _) = loop.rounds(init, maxDepth, max(col("depth")), count(lit(1)))({ (settled, c) =>
        val frontier = settled.filter(col("depth") === c.head)
        val fresh = frontier.hint("shuffle_hash")
          .join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node")).distinct()
          .join(settled.hint("shuffle_hash"), Seq("node"), "left_anti")
          .select(col("node"), (c.head + 1L).as("depth"))
        loop.partitioned(settled.unionAll(fresh), col("node"))
      }, stop = _ == _)
      loop.release(edges)
      (nodes, dist)
    }
    nodes.join(dist, Seq("node"), "left")
      .select(col("node"), coalesce(col("depth"), lit(-1L)).as("depth"))
      .orderBy("node")
  }

  /** Connected components over a generic (src, dst) edge list — the
    * [[Dedup.dedupClusters]] O(log d) pointer-jumping engine behind a
    * graph-flavored contract: (node, component, component_size,
    * is_root), component id = the component's minimum node.
    *
    * The engine's convergence scalar is `sum(label)` (labels only
    * decrease, so the sum strictly decreases iff anything changed) —
    * a NUMERIC-id assumption. Arbitrary ids (string hosts, tokens)
    * are dictionary-encoded first with an ORDER-PRESERVING dense id
    * (range-partitioned sort + zipWithIndex, the [[TextAnalysis
    * .qualityTiers]] parallel-rank discipline — never a
    * single-partition window): numeric order ≡ source order, so the
    * engine's min-label semantics decode back to "component id = min
    * original node". Two dictionary joins total (encode + decode),
    * not per round. */
  def connectedComponents(edgeDf: DataFrame): DataFrame = {
    val spark = edgeDf.sparkSession
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // LONG ids run the engine DIRECTLY (r16): the dictionary exists
    // only to make arbitrary ids numeric and order-preserving, which
    // longs already are — min-label over the raw ids IS "component =
    // min original node", so the sort + zipWithIndex + two encode +
    // two decode joins (~8 jobs) are pure overhead for numeric-keyed
    // graphs (the entity-resolution path).
    if (edgeDf.schema("src").dataType == LongType &&
        edgeDf.schema("dst").dataType == LongType) {
      val pairs = edgeDf.select(col("src").as("doc_a"), col("dst").as("doc_b"))
      // empty-graph guard stays OUTSIDE the engine (the engine's
      // convergence scalar needs >= 1 label row)
      if (pairs.isEmpty)
        return pairs.select(col("doc_a").as("node"),
          col("doc_a").as("component"), lit(0L).as("component_size"),
          lit(false).as("is_root")).limit(0)
      return Dedup.dedupClusters(pairs)
        .select(col("doc_id").as("node"), col("cluster").as("component"),
                col("cluster_size").as("component_size"),
                col("is_keeper").as("is_root"))
        .orderBy("node")
    }
    val nodes = edgeDf.select(col("src").as("node"))
      .unionAll(edgeDf.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val f = nodes.schema.fields(0)
    if (nodes.isEmpty)
      return nodes.select(col("node"), col("node").as("component"),
        lit(0L).as("component_size"), lit(false).as("is_root")).limit(0)
    val dict = spark.createDataFrame(
      nodes.orderBy(col("node").asc).rdd.zipWithIndex
        .map { case (r, i) => org.apache.spark.sql.Row(r.get(0), i) },
      StructType(Seq(f.copy(name = "node"), StructField("nid", LongType))))
      .localCheckpoint()
    val enc = edgeDf
      .join(dict.select(col("node").as("src"), col("nid").as("doc_a")), "src")
      .join(dict.select(col("node").as("dst"), col("nid").as("doc_b")), "dst")
      .select("doc_a", "doc_b")
    Dedup.dedupClusters(enc)
      .join(dict.select(col("nid").as("doc_id"), col("node")), "doc_id")
      .join(dict.select(col("nid").as("cluster"),
                        col("node").as("component")), "cluster")
      .select(col("node"), col("component"),
              col("cluster_size").as("component_size"),
              col("is_keeper").as("is_root"))
      .orderBy("node")
  }

  /** q_bfs_depth: [[bfsDepth]] over the symmetrized token
    * co-occurrence graph, seeded on the lexicographically first
    * token. The synthetic vocabulary is shared across languages, so
    * at oracle scale the graph is ONE component and every node gets a
    * real hop depth; the -1 (unreachable) path is pinned by the
    * GraphSpec goldens and exercised at 10× by ScaleGen's salted
    * replicas (disjoint vocab slices the seed cannot reach). */
  def qBfsDepth(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextAnalysis.coocPairs(spark, dir)
      .select(col("w1"), col("w2"))
    val und = pairs.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(pairs.select(col("w2").as("src"), col("w1").as("dst")))
    val seed = und.agg(min(col("src")).as("node"))
    bfsDepth(und, seed)
  }

  /** k-core decomposition: the maximal subgraph in which EVERY node
    * keeps degree ≥ k — the standard graph-density filter (spam/link-
    * farm blocks are high-core, navigational chains are 1-core; a
    * crawl-frontier policy reads it the way curation reads quality
    * tiers). Input treated as an undirected simple graph (symmetrized,
    * self-loops dropped, parallel edges collapsed); output = the
    * surviving nodes with their WITHIN-CORE degree, `(node, core_deg)`.
    *
    * A FOURTH iteration discipline next to fixed-round relaxation
    * (PR/HITS/PPR), synchronous vote (LPA) and monotone frontier
    * (BFS): simultaneous peeling — every round removes ALL nodes
    * currently below k at once, and terminates at the first round that
    * removes nothing. Rounds = the graph's "peeling depth", typically
    * a handful on real web/co-occurrence graphs; the adversarial case
    * is a k=2 path (one layer exposed per round), which is why the
    * round cap THROWS instead of silently returning a not-yet-core
    * subgraph — a wrong "dense" verdict on 100 TB is worse than a
    * loud one.
    *
    * Scale shape per round ([[Iterate.rounds]]: the edge list is the
    * state, planned once, one job per round): one degree count riding
    * the edge table's src hash-partitioning, two hash semi-joins
    * against the survivors (the survivor list only SHRINKS, so late
    * rounds get cheaper) and, at width > 1, one repartition back to
    * src; the pruned edge count, observed on the round's checkpoint
    * job, is the convergence scalar. */
  def kCore(edgeDf: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val base = edgeDf.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // the symmetrize+distinct feed is a derived plan whose size
    // Catalyst cannot estimate: the loop is sized from its edge count
    // (size-adaptive iteration width, r16: see [[Tables.adaptiveParts]])
    val core = Iterate.over(base
      .unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), Tables.adaptiveParts(edgeDf), col("src")) { (loop, edges, rows) =>
      if (rows == 0L) edges else peel(loop, edges, k, maxRounds)
    }
    core.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
      .orderBy("node")
  }

  /** [[kCore]]'s peeling loop over a symmetric (src, dst) edge list
    * checkpointed on `loop` and partitioned on src: the k-core's edges.
    * The semi-join on dst leaves the edges partitioned on dst, so each
    * round ends partitioned on src again. */
  private[graft] def peel(loop: Iterate, edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val (core, _) = loop.rounds(edges, maxRounds, count(lit(1)))({ (e, _) =>
      val surv = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node")).hint("shuffle_hash")
      loop.partitioned(e
        .join(surv.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(surv.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst"), col("src"))
    }, stop = _ == _, failAtCap = true)
    loop.release(edges)
    core
  }

  /** The q_kcore constructed edge fixture, shared by the Spark query
    * and (as SQL text) its oracle: the corpus has no dense subgraph
    * fixture, so one is derived deterministically from doc ids on the
    * FIXED doc_id < 500 slice (identical graph at every scale) —
    * a 12-node planted clique (ids 1000+, degree 11, the surviving
    * core), a pseudo-random periphery on 200 nodes (degree ≈ 5 — all
    * peels at k = 6), and sparse bridges tying the two together so
    * peeling actually erodes across rounds (2 rounds to the core). */
  private[graft] def kcoreEdges(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("doc_id") < 500).select(col("doc_id"))
    val peri = d.select((col("doc_id") % 200).as("src"),
      ((col("doc_id") * 17 + expr("doc_id div 200") + 3) % 200).as("dst"))
    val cn = d.select((lit(1000) + col("doc_id") % 12).as("n")).distinct()
    val clique = cn.as("x").crossJoin(cn.select(col("n").as("m")).as("y"))
      .filter(col("n") < col("m"))
      .select(col("n").as("src"), col("m").as("dst"))
    val bridge = d.filter(col("doc_id") % 37 === 0)
      .select((col("doc_id") % 200).as("src"),
              (lit(1000) + col("doc_id") % 12).as("dst"))
    peri.unionAll(clique).unionAll(bridge)
  }

  /** q_kcore: [[kCore]] (k = 6) over the [[kcoreEdges]] fixture. */
  def qKCore(spark: SparkSession, dir: String): DataFrame =
    kCore(kcoreEdges(spark, dir), k = 6)

  /** The matching unrolled-peel oracle: the same fixture in SQL, then
    * `rounds` MATERIALIZED peel steps (each = degree filter + edge
    * prune). `rounds` must be ≥ the fixture's peeling depth (2 — the
    * slice is scale-fixed, so the depth is too); extra rounds are
    * no-ops, matching the Spark side's early exit at the core. */
  private[graft] def kcoreOracleSql(k: Int = 6, rounds: Int = 6): String = {
    val steps = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT src FROM (
         |  SELECT src, count(*) AS deg FROM e${i - 1} GROUP BY src)
         |  WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT c.src, c.dst FROM e${i - 1} c
         |  JOIN s$i a ON c.src = a.src JOIN s$i b ON c.dst = b.src)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 500),
       |raw AS (
       |  SELECT doc_id % 200 AS a, (doc_id * 17 + doc_id // 200 + 3) % 200 AS b FROM d
       |  UNION ALL
       |  SELECT x.n, y.n FROM (SELECT DISTINCT 1000 + doc_id % 12 AS n FROM d) x,
       |       (SELECT DISTINCT 1000 + doc_id % 12 AS n FROM d) y
       |  WHERE x.n < y.n
       |  UNION ALL
       |  SELECT doc_id % 200, 1000 + doc_id % 12 FROM d WHERE doc_id % 37 = 0),
       |u AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
       |      FROM raw WHERE a <> b),
       |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM u
       |                    UNION ALL SELECT b, a FROM u),
       |$steps
       |SELECT src AS node, count(*) AS core_deg
       |FROM e$rounds GROUP BY src ORDER BY node""".stripMargin
  }

  // ------------------------------------------------------------------
  // Weighted single-source shortest paths (Bellman-Ford rounds)
  // ------------------------------------------------------------------

  private[graft] val SsspRounds = 10

  /** Weighted single-source shortest paths by synchronous Bellman-Ford
    * relaxation: `rounds` rounds of
    * `dist(v) ← min(dist(v), min_u dist(u) + cost(u,v))`, which is
    * EXACT for every path of ≤ `rounds` edges (the fixed-round
    * contract both engines share — same as PR/HITS/PPR). Costs must
    * be non-negative integers: min over integers is order-independent,
    * so no floats anywhere and no FP-order exemption.
    *
    * Scale shape per round ([[Iterate.rounds]]: planned once, one job
    * per round): one equi-join of the reached table against the edge
    * list (both hash-partitioned on the join key), one partial-agg min
    * — shuffle volume is frontier-adjacent edges, not the graph; the
    * round's eager checkpoint cuts the iterative lineage. Unreachable
    * nodes report dist −1. */
  def sssp(edgeDf: DataFrame, seeds: DataFrame,
           rounds: Int = SsspRounds): DataFrame = {
    val seedNodes = seeds.select(col("node"))
      .filter(col("node").isNotNull).distinct()
    // size-adaptive iteration width (r16): see [[Tables.adaptiveParts]]
    val (nodes, dist) = Iterate(edgeDf.sparkSession, Tables.adaptiveParts(edgeDf)) { loop =>
      val edges = loop.checkpoint(
        loop.partitioned(edgeDf.select(col("src"), col("dst"), col("cost")), col("src")))
      val nodes = loop.checkpoint(edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .unionAll(seedNodes)
        .distinct())
      // stop test: reached-count and total distance; distances only
      // DECREASE and the reached set only GROWS under min relaxation, so
      // an unchanged (count, sum) pair means a fixed point — and a fixed
      // point is final (further rounds are idempotent), so early exit
      // returns EXACTLY the fixed-round result. Sum carried in
      // DECIMAL(38,0): the CC overflow-safe discipline.
      val init = loop.partitioned(seedNodes.withColumn("dist", lit(0L)), col("node"))
      val (dist, _) = loop.rounds(init, rounds,
                                  count(lit(1)), sum(col("dist").cast("decimal(38,0)")))({ (d, _) =>
        val relaxed = d.hint("shuffle_hash")
          .join(edges, d("node") === edges("src"))
          .select(col("dst").as("node"), (col("dist") + col("cost")).as("dist"))
        d.unionAll(relaxed).groupBy("node").agg(min(col("dist")).as("dist"))
      }, stop = _ == _)
      loop.release(edges)
      (nodes, dist)
    }
    nodes.join(dist, Seq("node"), "left")
      .select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy("node")
  }

  /** q_sssp: [[sssp]] over the token co-occurrence graph with
    * integer edge costs INVERSELY tied to co-occurrence strength
    * (`cost = floor(1000 / n_cooc)`, min 1): frequent collocations
    * are cheap hops, rare ones expensive — "semantic distance" from
    * the lexicographically first token. */
  def qSssp(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextAnalysis.coocPairs(spark, dir)
    val cost = greatest(floor(lit(1000.0) / col("n_cooc")).cast("long"), lit(1L))
    val und = pairs.select(col("w1").as("src"), col("w2").as("dst"), cost.as("cost"))
      .unionAll(pairs.select(col("w2").as("src"), col("w1").as("dst"), cost.as("cost")))
    val seed = und.agg(min(col("src")).as("node"))
    sssp(und, seed)
  }

  /** DuckDB oracle for q_sssp: the same fixed relaxation rounds
    * unrolled as chained MATERIALIZED CTEs — all-integer arithmetic,
    * min-aggregated per round exactly like the engine. */
  private[graft] def ssspOracleSql(coocCtes: String,
                                   rounds: Int = SsspRounds): String = {
    val steps = (1 to rounds).map { k =>
      val p = s"d${k - 1}"
      s"""d$k AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM $p
         |    UNION ALL
         |    SELECT e.dst AS node, $p.dist + e.cost AS dist
         |    FROM $p JOIN e ON e.src = $p.node) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coocCtes,
       |e AS MATERIALIZED (SELECT src, dst,
       |        greatest(CAST(floor(1000.0 / n_cooc) AS BIGINT), 1) AS cost
       |      FROM (SELECT w1 AS src, w2 AS dst, n_cooc FROM cnt
       |            UNION ALL SELECT w2, w1, n_cooc FROM cnt)),
       |nodes AS (SELECT DISTINCT node FROM (
       |            SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |seed AS (SELECT min(src) AS node FROM e),
       |d0 AS (SELECT node, 0::BIGINT AS dist FROM seed WHERE node IS NOT NULL),
       |$steps
       |SELECT n.node AS node, coalesce(d.dist, -1)::BIGINT AS dist
       |FROM nodes n LEFT JOIN d$rounds d ON n.node = d.node
       |ORDER BY n.node""".stripMargin
  }

  // ------------------------------------------------------------------
  // Community modularity
  // ------------------------------------------------------------------

  /** Newman modularity of a community assignment over the undirected
    * SIMPLE graph (canonical distinct pairs, self-loops dropped):
    * per community c, `q_term = m_c/m − (d_c/2m)²`, where m_c =
    * intra-community edges, d_c = degree sum, m = total edges; the
    * global score is Σ q_term. Communities: (node, community).
    * Only nodes with ≥1 simple-graph edge count toward n_nodes/d_c.
    *
    * Determinism: m_c, d_c, m are exact integers, so each q_term is
    * the same double on both engines; the TOTAL sums the 6-dp-ROUNDED
    * terms in integer micro-units (order-independent — the
    * [[Profile.assocStats]] discipline).
    *
    * Scale: simple-graph dedup + degree count ride one edge shuffle;
    * everything after is community-bounded. */
  def modularity(edgeDf: DataFrame, communities: DataFrame): DataFrame = {
    val se = edgeDf.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
              greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val m = se.agg(count(lit(1)).as("m"))
    val deg = se.select(col("u").as("node"))
      .unionAll(se.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val comm = communities.select(col("node"), col("community"))
    val ec = se
      .join(comm.withColumnRenamed("node", "u").withColumnRenamed("community", "cu"), "u")
      .join(comm.withColumnRenamed("node", "v").withColumnRenamed("community", "cv"), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("m_in"))
    val dc = comm.join(deg, "node")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_tot"))
    val t = dc.join(ec, Seq("community"), "left")
      .withColumn("m_in", coalesce(col("m_in"), lit(0L)))
      .crossJoin(m) // 1-row side
      .withColumn("q_term",
        round(col("m_in").cast("double") / col("m")
          - (col("d_tot").cast("double") / (col("m") * 2))
            * (col("d_tot").cast("double") / (col("m") * 2)), 6))
    val total = t.agg(
      (sum(round(col("q_term") * 1e6).cast("decimal(38,0)")).cast("double") / 1e6)
        .as("modularity"))
    t.select(col("community"), col("n_nodes"), col("m_in"), col("d_tot"),
             col("q_term"))
      .crossJoin(total) // 1-row side
      .orderBy("community")
  }

  /** q_modularity: [[modularity]] of the label-propagation
    * communities over the domain link graph — "how community-like
    * did LPA's answer come out", the standard quality score read
    * next to the assignment itself. */
  def qModularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = domainEdges(spark, dir)
    modularity(edges, labelPropagation(edges))
  }

  /** DuckDB oracle for q_modularity: the LPA chain verbatim from
    * [[lpOracleSql]]'s steps, then the same integer contingency. */
  private[graft] def modularityOracleSql(iters: Int = 5): String = {
    val steps = (1 to iters).map { k =>
      val p = s"lp${k - 1}"
      s"""c$k AS MATERIALIZED (
         |  SELECT und.a, p.lbl, count(*)::BIGINT AS cnt
         |  FROM und JOIN $p p ON und.b = p.node GROUP BY und.a, p.lbl),
         |t$k AS MATERIALIZED (
         |  SELECT a AS node, lbl FROM (
         |    SELECT a, lbl, row_number() OVER
         |      (PARTITION BY a ORDER BY cnt DESC, lbl ASC) AS rn FROM c$k)
         |  WHERE rn = 1),
         |lp$k AS MATERIALIZED (
         |  SELECT p.node, coalesce(t.lbl, p.lbl) AS lbl
         |  FROM $p p LEFT JOIN t$k t ON p.node = t.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $domainEdgeCtes,
       |bid AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
       |      UNION ALL SELECT dst AS a, src AS b FROM e),
       |und AS MATERIALIZED (SELECT a, b FROM bid
       |      UNION ALL SELECT DISTINCT a, a AS b FROM bid),
       |lp0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM bid),
       |$steps,
       |comm AS (SELECT node, lbl AS community FROM lp$iters),
       |se AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |       FROM e WHERE src <> dst),
       |mm AS (SELECT count(*) AS m FROM se),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |          SELECT u AS node FROM se UNION ALL SELECT v FROM se)
       |        GROUP BY node),
       |ec AS (SELECT ca.community, count(*) AS m_in
       |       FROM se JOIN comm ca ON se.u = ca.node
       |               JOIN comm cb ON se.v = cb.node
       |       WHERE ca.community = cb.community GROUP BY 1),
       |dc AS (SELECT c.community, count(*)::BIGINT AS n_nodes,
       |              sum(d.deg)::BIGINT AS d_tot
       |       FROM comm c JOIN deg d ON c.node = d.node GROUP BY 1),
       |t0 AS (SELECT dc.community, dc.n_nodes,
       |         coalesce(ec.m_in, 0)::BIGINT AS m_in, dc.d_tot
       |       FROM dc LEFT JOIN ec ON dc.community = ec.community),
       |t AS (SELECT t0.community, t0.n_nodes, t0.m_in, t0.d_tot,
       |        round(CAST(CAST((t0.m_in::DOUBLE / mm.m
       |          - (t0.d_tot::DOUBLE / (mm.m * 2)) * (t0.d_tot::DOUBLE / (mm.m * 2))
       |          ) AS VARCHAR) AS DECIMAL(38,18)), 6)::DOUBLE AS q_term
       |      FROM t0, mm),
       |tot AS (SELECT
       |    sum(CAST(round(q_term * 1e6) AS DECIMAL(38,0)))::DOUBLE / 1e6
       |      AS modularity FROM t)
       |SELECT community, n_nodes, m_in, d_tot, q_term, modularity
       |FROM t, tot ORDER BY community""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_graph_reciprocity / q_assortativity: the two remaining classic
  // link-structure READOUTS (next to degree stats, clustering
  // coefficient, and modularity) — reciprocity tells a crawler how
  // mutual the citation structure is (link farms reciprocate,
  // editorial links mostly don't); degree assortativity says whether
  // hubs link to hubs (assortative, r > 0) or to the periphery
  // (disassortative, r < 0), which drives sampling and spam priors.
  // ------------------------------------------------------------------

  /** Per-node edge reciprocity over a directed (src, dst) edge list:
    * for each node with out-edges, how many of its distinct non-self
    * out-edges are reciprocated (the reverse edge exists), as
    * (node, out_deg, recip, recip_ratio) ordered by node.
    *
    * Scale: the edge list is deduped once (one shuffle), the
    * reciprocation test is ONE self-equi-join on the reversed key
    * pair (same hash partitioning both sides — a co-partitioned
    * shuffle join, never broadcast-dependent), and both counts are
    * map-side-combined groupBys on src. No per-node adjacency is ever
    * collected. */
  def reciprocity(edgeDf: DataFrame): DataFrame = {
    val ed = edgeDf.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val out = ed.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val rev = ed.select(col("dst").as("src"), col("src").as("dst"))
    val recip = ed.join(rev, Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("recip"))
    out.join(recip, Seq("node"), "left")
      .select(col("node"), col("out_deg"),
              coalesce(col("recip"), lit(0L)).as("recip"),
              round(coalesce(col("recip"), lit(0L)).cast("double") /
                      col("out_deg"), 6).as("recip_ratio"))
      .orderBy("node")
  }

  /** q_graph_reciprocity: [[reciprocity]] over the DOMAIN-level link
    * graph ([[domainEdges]] — the q_link_degree granularity). */
  def qGraphReciprocity(spark: SparkSession, dir: String): DataFrame =
    reciprocity(domainEdges(spark, dir))

  private[graft] def reciprocityOracleSql: String =
    s"""WITH $domainEdgeCtes,
       |ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
       |o AS (SELECT src AS node, count(*)::BIGINT AS out_deg
       |      FROM ed GROUP BY src),
       |r AS (SELECT e1.src AS node, count(*)::BIGINT AS recip
       |      FROM ed e1 JOIN ed e2 ON e2.src = e1.dst AND e2.dst = e1.src
       |      GROUP BY e1.src)
       |SELECT o.node AS node, o.out_deg,
       |  coalesce(r.recip, 0)::BIGINT AS recip,
       |  ${Queries.rnd("coalesce(r.recip, 0)::DOUBLE / o.out_deg", 6)}
       |    AS recip_ratio
       |FROM o LEFT JOIN r ON o.node = r.node
       |ORDER BY node""".stripMargin

  /** Directed degree assortativity (Foster et al. 2010): the Pearson
    * correlation, over distinct non-self edges, between a degree of
    * the source and a degree of the target — all four mode
    * combinations (in-in, in-out, out-in, out-out) as
    * (mode, n_edges, r) ordered by mode. r > 0: high-degree nodes
    * attach to high-degree nodes.
    *
    * Determinism discipline (the keySkew/modularity carrier rule):
    * degrees are INTEGERS, so every regression sum (Σx, Σy, Σxy,
    * Σx², Σy²) is carried as DECIMAL(38,0) — order-independent and
    * bit-exact against the oracle's identical integer sums; doubles
    * appear only in the one final closed-form expression.
    *
    * Scale: two groupBy degree counts, two equi-joins edge→degree
    * (both keyed on the node — broadcastable when the node set is
    * small, plain shuffle joins otherwise), then a 4-row explode +
    * one map-side-combined aggregate. Nothing global but the 4-row
    * result. */
  def assortativity(edgeDf: DataFrame): DataFrame = {
    val ed = edgeDf.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val od = ed.groupBy(col("src").as("node")).agg(count(lit(1)).as("odeg"))
    val id = ed.groupBy(col("dst").as("node")).agg(count(lit(1)).as("ideg"))
    val deg = od.join(id, Seq("node"), "full")
      .select(col("node"), coalesce(col("odeg"), lit(0L)).as("odeg"),
              coalesce(col("ideg"), lit(0L)).as("ideg"))
    val sd = deg.select(col("node").as("src"), col("odeg").as("s_od"),
                        col("ideg").as("s_id"))
    val dd = deg.select(col("node").as("dst"), col("odeg").as("d_od"),
                        col("ideg").as("d_id"))
    val pairs = ed.join(sd, "src").join(dd, "dst")
      .select(explode(array(
        struct(lit("in_in").as("mode"), col("s_id").as("x"), col("d_id").as("y")),
        struct(lit("in_out").as("mode"), col("s_id").as("x"), col("d_od").as("y")),
        struct(lit("out_in").as("mode"), col("s_od").as("x"), col("d_id").as("y")),
        struct(lit("out_out").as("mode"), col("s_od").as("x"), col("d_od").as("y"))
      )).as("p"))
      .select(col("p.mode").as("mode"), col("p.x").as("x"), col("p.y").as("y"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sums = pairs.groupBy(col("mode")).agg(
      count(lit(1)).as("n_edges"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val n = dec(col("n_edges"))
    val cov = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    sums.select(col("mode"), col("n_edges"),
      when(vx === 0.0 || vy === 0.0, lit(0.0))
        .otherwise(round(cov / (sqrt(vx) * sqrt(vy)), 6)).as("r"))
      .orderBy("mode")
  }

  /** q_assortativity: [[assortativity]] over the DOMAIN-level link
    * graph ([[domainEdges]]). */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativity(domainEdges(spark, dir))

  /** Integer sums ride HUGEINT on the DuckDB side (sum(BIGINT) is
    * exact int128 there — NOT decimal: DuckDB widens a
    * DECIMAL(38,0)×DECIMAL(38,0) product to DOUBLE); the Spark side
    * carries the same sums as DECIMAL(38,0). Same exact integers →
    * the same one final double expression on both engines. */
  private[graft] def assortativityOracleSql: String = {
    val cov = "(n_edges::HUGEINT * sxy - sx * sy)::DOUBLE"
    val vx = "(n_edges::HUGEINT * sxx - sx * sx)::DOUBLE"
    val vy = "(n_edges::HUGEINT * syy - sy * sy)::DOUBLE"
    s"""WITH $domainEdgeCtes,
       |ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
       |dg AS (SELECT node, coalesce(sum(o), 0)::BIGINT AS odeg,
       |         coalesce(sum(i), 0)::BIGINT AS ideg
       |       FROM (SELECT src AS node, 1 AS o, 0 AS i FROM ed
       |             UNION ALL SELECT dst, 0, 1 FROM ed)
       |       GROUP BY node),
       |j AS (SELECT s.ideg AS si, s.odeg AS so, d.ideg AS di, d.odeg AS dd
       |      FROM ed JOIN dg s ON ed.src = s.node
       |              JOIN dg d ON ed.dst = d.node),
       |p AS (SELECT 'in_in' AS mode, si AS x, di AS y FROM j
       |      UNION ALL SELECT 'in_out', si, dd FROM j
       |      UNION ALL SELECT 'out_in', so, di FROM j
       |      UNION ALL SELECT 'out_out', so, dd FROM j),
       |s AS (SELECT mode, count(*)::BIGINT AS n_edges,
       |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
       |        sum(x * x) AS sxx, sum(y * y) AS syy
       |      FROM p GROUP BY mode)
       |SELECT mode, n_edges,
       |  CASE WHEN $vx = 0 OR $vy = 0 THEN 0.0::DOUBLE
       |       ELSE ${Queries.rnd(s"$cov / (sqrt($vx) * sqrt($vy))", 6)}
       |  END AS r
       |FROM s ORDER BY mode""".stripMargin
  }
}
