package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** PageRank: hand-computed fixed points, probability-mass
  * conservation, dangling redistribution, and convergence toward the
  * analytic stationary distribution. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int = 10) =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("symmetric 2-cycle fixes at the uniform distribution") {
    // a↔b: uniform 1/2 is the exact fixed point of every iteration
    val r = ranks(Seq("a" -> "b", "b" -> "a"))
    assert(math.abs(r("a") - 0.5) < 1e-9 && math.abs(r("b") - 0.5) < 1e-9)
  }

  test("mass is conserved: ranks sum to 1 with dangling nodes present") {
    // c is dangling; its mass must be redistributed, not lost
    val r = ranks(Seq("a" -> "b", "a" -> "c", "b" -> "c"))
    // tolerance: each reported rank is rounded to 6 dp (±5e-7)
    assert(math.abs(r.values.sum - 1.0) <= r.size * 5e-7 + 1e-9,
      s"sum=${r.values.sum}")
  }

  test("pageRank: dangling mass spread over partitions gives bit-identical reruns") {
    // 600 nodes, most multiples of 3 dangling (no out-edges), hashed over
    // the loop's partitions. The dangling mass is observed on each
    // round's checkpoint job, whose partition buffers merge in
    // task-completion order: only an exact carrier makes the unrounded
    // ranks repeat bit for bit.
    val es = (0 until 600).filter(_ % 3 != 0).flatMap { i =>
      Seq(s"n$i" -> s"n${(i * 7 + 1) % 600}", s"n$i" -> s"n${(i * 13 + 5) % 600}")
    }.toDF("src", "dst")
    // a size estimate over 64 MB widens the loop (adaptiveParts): the
    // cross join with a one-row range multiplies the estimate, not the rows
    val edges = es.crossJoin(spark.range(0, 100000, 1, 1).where(col("id") < 1)).drop("id")
    val width = Tables.adaptiveParts(edges)
    assert(width > 1, s"width $width")
    def run() = Graph.pageRankState(edges, 10).orderBy("node").collect()
      .map(r => (r.getString(0), r.getBoolean(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    val (a, b) = (run(), run())
    assert(a.count(_._2) > 100, s"${a.count(_._2)} dangling nodes")
    assert(a.sameElements(b))
  }

  test("sink of a chain outranks its sources; dangling-only graph is uniform") {
    val chain = ranks(Seq("a" -> "b", "b" -> "c"))
    assert(chain("c") > chain("b") && chain("b") > chain("a"))
    // every node dangling (no edges FROM half the nodes): b,c both
    // only receive — their update is symmetric, ranks equal
    val star = ranks(Seq("a" -> "b", "a" -> "c"))
    assert(math.abs(star("b") - star("c")) < 1e-12)
  }

  test("hits: bipartite graph separates pure hubs from pure authorities; L1 mass = 1") {
    // h1,h2 point at a1,a2 (h1 at both — the better hub; a1 from both
    // — the better authority)
    val edges = Seq("h1" -> "a1", "h1" -> "a2", "h2" -> "a1")
      .toDF("src", "dst")
    val r = Graph.hits(edges, iters = 20).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r("h1")._1 > r("h2")._1 && r("h2")._1 > 0) // hub ordering
    assert(r("a1")._2 > r("a2")._2 && r("a2")._2 > 0) // authority ordering
    assert(r("a1")._1 == 0.0 && r("a2")._1 == 0.0)    // sinks: zero hub
    assert(r("h1")._2 == 0.0 && r("h2")._2 == 0.0)    // sources: zero auth
    // L1 normalization: each score vector sums to 1 (± 6dp rounding)
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-5)
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-5)
  }

  test("hits: power-of-two rescale is invisible — equals the unnormalized reference exactly") {
    // iters = 7 crosses the k = 5 rescale; the reference below runs
    // UNNORMALIZED (no rescale) with exact small-integer masses, so
    // equality at 6 dp proves the rescale only shifts exponents and
    // cancels in the final L1 quotient
    val es = Seq("h1" -> "a1", "h1" -> "a2", "h2" -> "a1", "a1" -> "h2")
    val r = Graph.hits(es.toDF("src", "dst"), iters = 7).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    var h = es.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[String, Double]
    for (_ <- 1 to 7) {
      a = es.groupBy(_._2).map { case (d, in) =>
        d -> in.map(e => h.getOrElse(e._1, 0.0)).sum }
      h = es.groupBy(_._1).map { case (s, out) =>
        s -> out.map(e => a.getOrElse(e._2, 0.0)).sum }
    }
    def rnd6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val (nh, na) = (h.values.sum, a.values.sum)
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    for (n <- nodes) {
      assert(r(n)._1 == rnd6(h.getOrElse(n, 0.0) / nh), s"hub($n)")
      assert(r(n)._2 == rnd6(a.getOrElse(n, 0.0) / na), s"auth($n)")
    }
  }

  test("hits: iters = 25 on an extreme-fan multigraph stays finite (overflow regression)") {
    // 2e6 parallel edges each way: hub mass grows (2e6)^2 per round —
    // (4e12)^25 ≈ 1e315 overflows double without the every-5-rounds
    // power-of-two rescale (r11 verdict #4). Symmetry makes the
    // normalized fixed point exactly uniform.
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
      .withColumn("m", explode(sequence(lit(1), lit(2000000))))
      .drop("m")
    val r = Graph.hits(edges, iters = 25).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r.size == 2)
    r.values.foreach { case (hub, auth) =>
      assert(!hub.isNaN && !hub.isInfinite && !auth.isNaN && !auth.isInfinite)
      assert(hub == 0.5 && auth == 0.5, r.toString)
    }
  }

  test("hits: empty edges -> empty result; symmetric 2-cycle is uniform") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Graph.hits(empty, iters = 3).count() === 0)
    val cyc = Graph.hits(Seq("a" -> "b", "b" -> "a").toDF("src", "dst"))
      .collect().map(x => (x.getDouble(1), x.getDouble(2)))
    cyc.foreach { case (h, a) =>
      assert(math.abs(h - 0.5) < 1e-9 && math.abs(a - 0.5) < 1e-9)
    }
  }

  test("labelPropagation: two cliques over one bridge split into two communities") {
    // complete triangles {a,b,c} and {x,y,z}, one bridge c-x: labels
    // must converge to one id per clique, different across the bridge
    val edges = Seq(
      "a" -> "b", "a" -> "c", "b" -> "c",
      "x" -> "y", "x" -> "z", "y" -> "z",
      "c" -> "x"
    ).toDF("src", "dst")
    val out = Graph.labelPropagation(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a") == out("b") && out("b") == out("c"))
    assert(out("x") == out("y") && out("y") == out("z"))
    assert(out("a") != out("x"))
  }

  test("labelPropagation: empty edges -> empty; determinism across runs") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Graph.labelPropagation(empty, iters = 2).count() === 0)
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
      .toDF("src", "dst")
    val r1 = Graph.labelPropagation(edges).collect().map(_.toSeq)
    val r2 = Graph.labelPropagation(edges).collect().map(_.toSeq)
    assert(r1.toSeq == r2.toSeq) // min-tiebreak LPA has no RNG to drift
  }

  test("labelPropagation: bipartite shapes converge (self-vote breaks the swap symmetry)") {
    // WITHOUT the self-vote, synchronous LPA oscillates on any
    // bipartite structure: a single edge swaps labels forever and the
    // two connected nodes report different communities
    val one = Graph.labelPropagation(Seq("a" -> "b").toDF("src", "dst"))
      .collect().map(_.getString(1)).distinct
    assert(one.length == 1) // a and b merged
    // even 4-cycle: one community, not the {a,c}/{b,d} bipartite split
    val cyc = Graph.labelPropagation(
      Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a").toDF("src", "dst"))
      .collect().map(_.getString(1)).distinct
    assert(cyc.length == 1, cyc.mkString(","))
    // star: hub + leaves agree
    val star = Graph.labelPropagation(
      Seq("hub" -> "l1", "hub" -> "l2", "hub" -> "l3").toDF("src", "dst"))
      .collect().map(_.getString(1)).distinct
    assert(star.length == 1, star.mkString(","))
  }

  test("personalizedPageRank: mass stays on the seed side, unreachable = exactly 0") {
    import spark.implicits._
    // two components; seed sits in the first
    val edges = Seq("a" -> "b", "b" -> "c", "x" -> "y", "y" -> "x")
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    // enough rounds that the chain's 3-cycle oscillation (mass a→b→c
    // then dangling-recycled to the seed) has decayed to the fixpoint
    val pr = Graph.personalizedPageRank(edges, seeds, iters = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("a") > pr("b") && pr("b") > pr("c") && pr("c") > 0.0)
    assert(pr("x") == 0.0 && pr("y") == 0.0) // no teleport floor
    // all mass on the seed component, total conserved
    assert(math.abs(pr.values.sum - 1.0) < 1e-5)
    // empty seed set: zeros, not a crash
    val z = Graph.personalizedPageRank(edges,
      Seq.empty[String].toDF("node"), iters = 3).collect()
    assert(z.forall(_.getDouble(1) == 0.0))
  }

  test("degreeStats: hand-computed degrees, distinct neighbors, self-links") {
    val edges = Seq(
      "a" -> "b", "a" -> "b", "a" -> "a", // parallel edge + self-link
      "b" -> "c"
    ).toDF("src", "dst")
    val out = Graph.degreeStats(edges).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("a") == (3L, 2L, 1L, 1L, 1L)) // out 3 (2 distinct), in 1 (self)
    assert(out("b") == (1L, 1L, 2L, 1L, 0L)) // in 2 edges from 1 neighbor
    assert(out("c") == (0L, 0L, 1L, 1L, 0L)) // sink: zero out-degree
  }

  test("triangleCount: K4 + pendant + isolated edge, hand-computed counts") {
    // K4 on a,b,c,d: every node is in C(3,2)=3 triangles, clustering 1.
    // e hangs off d (degree 1, zero triangles); f—g is an isolated
    // edge (degree 1 each). Direction, duplicates and self-loops in
    // the input must all be normalized away.
    val edges = Seq(
      "a" -> "b", "b" -> "a", // duplicate both directions
      "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d", "c" -> "d",
      "d" -> "e", "f" -> "g", "a" -> "a" // pendant, isolated, self-loop
    ).toDF("src", "dst")
    val out = Graph.triangleCount(edges).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("a") == ((3L, 3L, 1.0)), out("a"))
    assert(out("b") == ((3L, 3L, 1.0)))
    assert(out("c") == ((3L, 3L, 1.0)))
    // d: degree 4 (K4 + e), 3 triangles, cc = 6/12 = 0.5
    assert(out("d") == ((4L, 3L, 0.5)), out("d"))
    assert(out("e") == ((1L, 0L, 0.0)))
    assert(out("f") == ((1L, 0L, 0.0)) && out("g") == ((1L, 0L, 0.0)))
  }

  test("triangleCount: triangle-free shapes (star, path, 4-cycle) all report zero") {
    // the classic false-positive shapes: hub wedges, chains, and even
    // cycles have wedges everywhere but no closing edge
    val star = Seq("h" -> "x1", "h" -> "x2", "h" -> "x3", "h" -> "x4")
    val path = Seq("p1" -> "p2", "p2" -> "p3", "p3" -> "p4")
    val cycle = Seq("c1" -> "c2", "c2" -> "c3", "c3" -> "c4", "c4" -> "c1")
    val out = Graph.triangleCount(
      (star ++ path ++ cycle).toDF("src", "dst")).collect()
    assert(out.nonEmpty && out.forall(_.getLong(2) == 0L),
      out.mkString(","))
    // empty input: empty result, not a crash
    assert(Graph.triangleCount(
      Seq.empty[(String, String)].toDF("src", "dst")).collect().isEmpty)
  }

  test("bfsDepth: chain depths, unreachable component = -1, depth cap honored") {
    // a->b->c->d chain seeded at a, plus x->y disconnected
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "y")
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val out = Graph.bfsDepth(edges, seeds).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L,
                      "x" -> -1L, "y" -> -1L), out)
    // crawl-policy cap: maxDepth 2 leaves d unreached
    val capped = Graph.bfsDepth(edges, seeds, maxDepth = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped("d") == -1L && capped("c") == 2L, capped)
  }

  test("bfsDepth: direction respected, multi-seed min wins, cycle terminates early") {
    // edges point INTO a: nothing downstream of a is reachable
    val back = Graph.bfsDepth(Seq("b" -> "a", "c" -> "b").toDF("src", "dst"),
                              Seq("a").toDF("node")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back == Map("a" -> 0L, "b" -> -1L, "c" -> -1L), back)
    // two seeds on a 4-cycle: every node within 1 hop of some seed;
    // the cycle must terminate via the empty-frontier exit, not spin
    // to the cap re-discovering settled nodes
    val cyc = Graph.bfsDepth(
      Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a").toDF("src", "dst"),
      Seq("a", "c").toDF("node")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cyc == Map("a" -> 0L, "b" -> 1L, "c" -> 0L, "d" -> 1L), cyc)
    // aggregate-built seed over an empty graph: one NULL row in,
    // empty result out, no crash
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val nullSeed = empty.agg(min(col("src")).as("node"))
    assert(Graph.bfsDepth(empty, nullSeed).collect().isEmpty)
  }

  test("connectedComponents: string-id graph splits into labeled components with min roots") {
    // two components: {a,b,c} (path) and {x,y}; ids are STRINGS —
    // the pointer-jumping engine must not assume numeric doc ids
    val out = Graft.connectedComponents(
      Seq("b" -> "a", "b" -> "c", "x" -> "y").toDF("src", "dst"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out("a") == (("a", 3L, true)), out)
    assert(out("b") == (("a", 3L, false)) && out("c") == (("a", 3L, false)))
    assert(out("x") == (("x", 2L, true)) && out("y") == (("x", 2L, false)))
    // empty edge list: empty result, not a crash
    assert(Graft.connectedComponents(
      Seq.empty[(String, String)].toDF("src", "dst")).collect().isEmpty)
  }

  test("kCore: planted clique survives with in-core degrees, pendant chain peels away") {
    // 5-clique (degree 4 inside) with a 3-node chain hanging off node a:
    // k=3 keeps exactly the clique; the chain erodes over rounds
    val clique = for {
      x <- Seq("a", "b", "c", "d", "e"); y <- Seq("a", "b", "c", "d", "e")
      if x < y
    } yield (x, y)
    val chain = Seq(("a", "p1"), ("p1", "p2"), ("p2", "p3"))
    val out = Graft.kCore((clique ++ chain).toDF("src", "dst"), k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 4L, "b" -> 4L, "c" -> 4L, "d" -> 4L, "e" -> 4L), out)
  }

  test("kCore: k=2 path peels one layer per round to empty; duplicate+reversed edges collapse") {
    // a path has no 2-core; parallel/reversed duplicates must not
    // inflate degrees into a fake core
    val path = Seq(("n1", "n2"), ("n2", "n1"), ("n1", "n2"),
                   ("n2", "n3"), ("n3", "n4"))
    assert(Graft.kCore(path.toDF("src", "dst"), k = 2).collect().isEmpty)
    // self-loops don't count toward degree
    val loops = Seq(("s", "s"), ("s", "t"))
    assert(Graft.kCore(loops.toDF("src", "dst"), k = 2).collect().isEmpty)
    // empty input: empty output, no crash
    assert(Graft.kCore(Seq.empty[(String, String)].toDF("src", "dst"), 2)
      .collect().isEmpty)
  }

  test("kCore: round cap below the peeling depth fails loudly, not silently wrong") {
    // 8-node path at k=2 needs ~4 peel rounds; cap at 2 must throw
    val path = (1 to 7).map(i => (s"v$i", s"v${i + 1}"))
    intercept[IllegalStateException] {
      Graft.kCore(path.toDF("src", "dst"), k = 2, maxRounds = 2)
    }
  }

  test("converges to the analytic stationary point of the 3-node example") {
    // classic: a->b, a->c, b->c, c->a with d=0.85 has a known
    // stationary solution; 50 iterations get within 1e-6
    val r = ranks(Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a"), iters = 50)
    // solve: ra = 0.15/3 + 0.85*rc; rb = 0.15/3 + 0.85*ra/2;
    //        rc = 0.15/3 + 0.85*(ra/2 + rb)
    val t = 0.15 / 3
    var (ra, rb, rc) = (1.0 / 3, 1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 200) {
      val (na, nb, nc) =
        (t + 0.85 * rc, t + 0.85 * ra / 2, t + 0.85 * (ra / 2 + rb))
      ra = na; rb = nb; rc = nc
    }
    assert(math.abs(r("a") - ra) < 1e-6, s"${r("a")} vs $ra")
    assert(math.abs(r("b") - rb) < 1e-6)
    assert(math.abs(r("c") - rc) < 1e-6)
  }

  test("adjacency tables: one materialization per corpus, exact vs the derivation, two corpora coexist") {
    // r13 (VERDICT r12 #2): the page/domain/cooc edge tables are
    // content-keyed materializations — repeated consumers must not
    // rebuild (entry counts flat), the read-back must equal the
    // derivation row-for-row, and a second corpus gets its own entry
    // without evicting the first
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.ops.TextAnalysis
    val dir = TestSpark.sf0001
    val mat = Graph.pageEdges(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val der = Graph.buildPageEdges(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(mat.sorted.toSeq == der.sorted.toSeq && mat.nonEmpty)
    // prime all three tables for this dir BEFORE capturing the counts
    // (the first get legitimately builds)
    Graph.domainEdges(spark, dir); TextAnalysis.coocPairs(spark, dir)
    def counts = {
      val live = graft.ops.IndexCache.liveEntries
      (live("graft_page_edges"), live("graft_domain_edges"), live("graft_cooc_pairs"))
    }
    val (p0, d0, c0) = counts
    // a tuning loop over the same corpus: no growth
    (1 to 5).foreach { _ =>
      Graph.pageEdges(spark, dir); Graph.domainEdges(spark, dir)
      TextAnalysis.coocPairs(spark, dir)
    }
    assert(counts == ((p0, d0, c0)))
    // a second corpus (a copy under a new path): exactly one more
    // entry per table, first corpus untouched
    val tmp = TestSpark.tempDir("graft_adj_lifecycle").toString
    Files.copy(Paths.get(dir, "documents.parquet"),
               Paths.get(tmp, "documents.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    val mat2 = Graph.pageEdges(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1)))
    Graph.domainEdges(spark, tmp); TextAnalysis.coocPairs(spark, tmp)
    assert(mat2.sorted.toSeq == mat.sorted.toSeq)
    assert(counts == ((p0 + 1, d0 + 1, c0 + 1)))
  }
}
