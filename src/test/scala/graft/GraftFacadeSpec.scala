package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The public library facade driven on HAND-BUILT DataFrames — no test
  * corpus, no parquet: what a user switching from the reference would
  * actually write. */
class GraftFacadeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "en"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank zzzz", "en"),
    (3L, "an entirely different document about spark query engines and storage", "en"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today", "en"), // exact dup of 1
    (5L, "der schnelle braune fuchs springt heute", "de")
  ).toDF("doc_id", "text", "lang")

  test("dedupExact groups identical bodies") {
    val g = Graft.dedupExact(docs).collect()
    assert(g.length == 4) // docs 1+4 collapse
    val dup = g.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keeper = min doc_id
  }

  test("nearDupPairs finds the one-token-changed copy") {
    val pairs = Graft.nearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("spanDepthProfile: planted shared spans land in the right dyadic bucket") {
    val spark0 = spark
    import spark0.implicits._
    val run = (1 to 40).map(i => s"w$i").mkString(" ") // 40 shared tokens
    val corpus = Seq(
      (1L, run + " uniqueA tail1"),           // shares a 32-span with 2
      (2L, run + " uniqueB tail2"),
      (3L, "five little tokens only here x1"),// shares a 4-span with 4
      (4L, "five little tokens only here x2"),
      (5L, "nothing in common with anyone at all z")
    ).toDF("doc_id", "text")
    val d = Graft.spanDepthProfile(corpus)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(d(1L) == 32 && d(2L) == 32, s"$d") // 40-token run: >=32, <64
    assert(d(3L) == 4 && d(4L) == 4, s"$d")   // 6 shared tokens: >=4, <8
    assert(d(5L) == 0, s"$d")
  }

  test("thumbnails facade: real PNG round-trip to a 3x3 grid") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(graft.ops.Multimodal.MediaRow(
      5L, graft.ops.Multimodal.gradientPng(5L), "image/png"))
    val t = Graft.thumbnails(rows.toDS(), 3, 3).collect().head
    assert(t.kind == "image" && t.src_w == 16 && t.thumb.length == 9)
    assert(t.thumb.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("jaccardPairs + dedupClusters elect one keeper per component") {
    val clusters = Graft.dedupClusters(Graft.jaccardPairs(docs, tau = 0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // {1,2,4} form one cluster with keeper 1; doc 3 and 5 are singletons (absent)
    assert(clusters.map(_._1).toSet == Set(1L, 2L, 4L))
    assert(clusters.forall(_._2 == 1L) && clusters.forall(_._3 == 3L))
    assert(clusters.filter(_._4).map(_._1).toSeq == Seq(1L))
  }

  test("dedupClusters on a raw pair list (any pair source)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val c = Graft.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(c(1L) == ((1L, 3L, true)) && c(2L) == ((1L, 3L, false)) &&
           c(3L) == ((1L, 3L, false)))
    assert(c(7L) == ((7L, 2L, true)) && c(8L) == ((7L, 2L, false)))
  }

  test("curate keeps quality keepers only (exact dup dropped)") {
    val out = Graft.curate(docs).collect().map(_.getLong(0)).toSet
    assert(!out.contains(4L)) // the non-keeper exact dup never survives
  }

  test("langId and qualityScore run on arbitrary docs") {
    val lid = Graft.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(7)).toMap
    assert(lid(1L) == "en" && lid(5L) == "de")
    val q = Graft.qualityScore(docs).collect()
    assert(q.length == 5 && q.forall(r => r.getDouble(5) > 0))
  }

  test("knn and cosineTopK run on a hand-built embedding table") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val nn = Graft.knn(emb, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(nn == Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
    val top = Graft.cosineTopK(emb, n = 2).collect()
    assert(top.length == 2)
    assert(Set((top(0).getLong(0), top(0).getLong(1)),
               (top(1).getLong(0), top(1).getLong(1))) == Set((1L, 2L), (3L, 4L)))
  }

  test("annNeighbors approximates knn on a hand-built embedding table") {
    val rng = new scala.util.Random(7)
    val emb = (1L to 120L).map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val exact = Graft.knn(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Graft.annNeighbors(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.size == exact.size) // every vector reports k rows
    val recall = (exact & approx).size.toDouble / exact.size
    // tiny corpus => few buckets per table => recall well above the
    // sf0.1 operating point; 0.6 is a loose flake guard
    assert(recall >= 0.6, s"recall@3 = $recall")
    // the recall/latency knobs: a single-table no-flip index still
    // returns k rows per vector (lower recall is the documented trade)
    val narrow = Graft.annNeighbors(emb, k = 3, tables = 1, probeFlips = 0)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(narrow.nonEmpty && narrow.size <= approx.size + exact.size)
    // OR-amplification property: recall is monotone in the table count
    // (per-table miss rates multiply away: 1-(1-p)^T). Deterministic
    // planes (seeded rng), so these are fixed values, not a flake.
    val recallAt = (t: Int) => {
      val got = Graft.annNeighbors(emb, k = 3, tables = t, probeFlips = 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val recalls = Seq(1, 2, 4).map(recallAt)
    assert(recalls == recalls.sorted,
      s"recall not monotone in tables: ${Seq(1, 2, 4).zip(recalls)}")
    intercept[IllegalArgumentException] {
      Graft.annNeighbors(emb, k = 3, tables = 0)
    }
  }

  test("dedupClusters: 200-node path graph converges in O(log d) rounds via pointer jumping") {
    import graft.ops.Dedup
    // worst case for plain min-propagation: a pure chain, diameter 199
    // — without pointer jumping it needs ~100 rounds and would hit the
    // 50-round cap (and throw); with label(label) compression it needs
    // ~log2(200)
    val chain = (1L to 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (clusters, rounds) = Dedup.clustersAndRounds(chain)
    val c = clusters.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(c.length == 200)
    assert(c.forall(_._2 == 1L), "single component labeled by min id")
    assert(c.forall(_._3 == 200L))
    assert(c.count(_._4) == 1 && c.find(_._4).get._1 == 1L)
    assert(rounds <= 10,
      s"pointer jumping should close a 199-edge chain in ~8 rounds, took $rounds")
  }

  test("dedupClusters: huge 64-bit ids — convergence sum must not wrap") {
    // ids near Long.MaxValue: a Long-typed sum(label) wraps after a
    // handful of rows (200 * 2^62 >> 2^63) and a wrapped-equal sum
    // could falsely signal convergence mid-propagation. The DECIMAL
    // (38,0) carrier sums exactly; the clusters must still close.
    val base = Long.MaxValue - 400L
    val chain = (0L until 199L).map(i => (base + i, base + i + 1))
      .toDF("doc_a", "doc_b")
    val c = Graft.dedupClusters(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(c.length == 200)
    assert(c.forall(_._2 == base), "one component labeled by min id")
    assert(c.forall(_._3 == 200L))
  }

  test("asof through the facade") {
    val trades = Seq((1L, 100L, java.sql.Timestamp.valueOf("2024-01-01 10:00:05")))
      .toDF("trade_id", "uid", "t")
    val quotes = Seq((100L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.5))
      .toDF("q_uid", "q_t", "px")
    val out = Graft.asof(trades, quotes, "uid", "q_uid", "t", "q_t").collect()
    assert(out.length == 1 && out.head.getDouble(5) == 1.5)
  }

  test("collocations and lengthHist run on arbitrary docs") {
    assert(Graft.collocations(docs, minSupport = 2, topN = 10).collect()
      .exists(_.getString(0) == "quick brown"))
    val h = Graft.lengthHist(docs).collect()
    assert(h.map(_.getLong(1)).sum == 5)
  }

  test("sharedSpans finds the verbatim window, ignores disjoint docs") {
    val d = Seq(
      (1L, "a b c d e f g h i j k l"),      // shares the 10-token run with 2
      (2L, "a b c d e f g h i j zz yy"),
      (3L, "totally different words here entirely unrelated content now")
    ).toDF("doc_id", "text")
    val out = Graft.sharedSpans(d, w = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // windows of 10 over 12 tokens: docs 1,2 share exactly "a..j"
    assert(out.toSeq == Seq((1L, 2L, 1L)))
  }

  test("domainStats aggregates per source") {
    val d = Seq(
      (1L, "one two three", "en", "srcA"),
      (2L, "four five six seven", "en", "srcA"),
      (3L, "acht neun", "de", "srcB")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Graft.domainStats(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("srcA") == ((2L, 1L, 7L)))
    assert(out("srcB") == ((1L, 1L, 2L)))
  }

  test("corpusDivergence: KL is 0 for a corpus-typical source, positive for a drifted one") {
    // srcSame mirrors the corpus distribution exactly (same doc twice);
    // srcDrift is all one rare word
    val d = Seq(
      (1L, "a b c d", "en", "srcSame"),
      (2L, "a b c d", "en", "srcSame"),
      (3L, "zz zz zz zz", "en", "srcDrift"),
      (4L, "a b c d", "en", "srcSame2")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Graft.corpusDivergence(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // every source's KL vs the blended corpus is ≥ 0; the drifted
    // all-one-word source diverges strictly more than the typical ones
    assert(out.values.forall(_._3 >= 0.0), s"$out")
    assert(out("srcDrift")._3 > out("srcSame")._3, s"$out")
    assert(out("srcDrift")._1 == 4L && out("srcDrift")._2 == 1L)
    // xent ≥ KL + entropy lower bound: xent − kl = H(p_s) ≥ 0
    out.values.foreach { case (_, _, kl, xe) => assert(xe >= kl - 1e-9) }
    // identical-distribution sources get identical scores
    assert(math.abs(out("srcSame")._3 - out("srcSame2")._3) < 1e-9)
  }

  test("crossPerplexity: target-like docs score lower target-LM perplexity") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "alpha beta gamma delta", "tgt"),
      (1L, "alpha beta gamma epsilon", "tgt"),
      (2L, "alpha beta gamma delta", "raw"),  // pure target vocabulary
      (3L, "qq rr ss tt", "raw")              // fully off-target
    ).toDF("doc_id", "text", "source")
    val out = Graft.crossPerplexity(docs, col("source") === "tgt")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(2L) < out(3L), s"$out")        // target-like beats off-target
    assert(out.values.forall(_ > 0.0))
    // off-target doc: every word unseen in target → ppl = (N_t+V)/1
    // exactly (all terms identical) — pins the smoothing arithmetic:
    // N_t = 8 target tokens, V = 9 distinct corpus words
    assert(math.abs(out(3L) - 17.0) < 1e-6, s"$out")
  }

  test("keepBest picks the highest-quality member per cluster, min-id on ties") {
    val clusters = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)
    ).toDF("doc_id", "cluster", "cluster_size")
    val quality = Seq(
      1L -> 0.5, 2L -> 0.9, 3L -> 0.7,
      10L -> 0.8, 11L -> 0.8
    ).toDF("doc_id", "quality")
    val out = Graft.keepBest(clusters, quality).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                 r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, 0.9, 0.5),    // best is doc 2, spread 0.9→0.5
      (10L, 2L, 10L, 0.8, 0.8))) // quality tie → min doc_id
  }

  test("spanCut: duplicated windows keep the first occurrence only; docs rebuilt in order") {
    val docs = Seq(
      (1L, "a b c d e"),     // first occurrence of every window → intact
      (2L, "x y c d e"),     // tail shares doc 1's "c d e" → cut to "x y"
      (3L, "a b c d e"),     // full mirror of doc 1 → cut to nothing
      (4L, "p q r p q r"),   // within-doc repeat → second "p q r" cut
      (5L, "s t")            // shorter than w → no windows, rides through
    ).toDF("doc_id", "text")
    val out = Graft.spanCut(docs, w = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 5L, 5L, "a b c d e"),
      (2L, 5L, 2L, "x y"),
      (3L, 5L, 0L, ""),
      (4L, 6L, 3L, "p q r"),
      (5L, 2L, 2L, "s t")))
  }

  test("spanCut: an unencodable doc_id fails loudly instead of electing a wrong keeper") {
    // negative ids break the doc_id·10⁶+pos first-occurrence encoding —
    // the guard must raise, not silently excise the wrong document
    val docs = Seq((-1L, "a b c d e"), (7L, "a b c d e")).toDF("doc_id", "text")
    val e = intercept[Exception] { Graft.spanCut(docs, w = 3).collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("spanCut")), msgs(e).mkString(" | "))
  }

  test("funnel and retention on hand-built events") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, "view", t("2024-01-01 10:00:00")),
      (1L, "buy", t("2024-01-01 10:05:00")),   // converts
      (2L, "view", t("2024-01-01 11:00:00")),  // views only
      (3L, "buy", t("2024-01-01 09:00:00")),   // buy WITHOUT prior view
      (2L, "view", t("2024-01-10 11:00:00"))   // week-1 activity for u2
    ).toDF("user_id", "event_type", "ts")
    val f = Graft.funnel(ev, Seq("view", "buy"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f == Map("view" -> 2L, "buy" -> 1L)) // u3's buy doesn't count
    val r = Graft.retention(ev)
      .collect().map(x => (x.getInt(1), x.getLong(2)))
    // all 3 users active in their cohort week; u2 returns one week later
    assert(r.toSet == Set((0, 3L), (1, 1L)))
  }

  test("transitions: per-user hops, exact gaps, event_id tiebreak") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 1L, t("2024-01-01 10:00:00"), "a"),
      (1L, 2L, t("2024-01-01 10:00:01"), "b"), // a→b gap 1s
      (1L, 3L, t("2024-01-01 10:00:03"), "a"), // b→a gap 2s
      (2L, 4L, t("2024-01-01 11:00:00"), "b"),
      (2L, 5L, t("2024-01-01 11:00:02"), "b"), // b→b gap 2s
      // same-instant events: event_id orders them (c→d, never d→c)
      (3L, 7L, t("2024-01-01 12:00:00"), "d"),
      (3L, 6L, t("2024-01-01 12:00:00"), "c")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Graft.transitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", "b", 1L, 1e6), ("b", "a", 1L, 2e6),
      ("b", "b", 1L, 2e6), ("c", "d", 1L, 0.0)))
  }

  test("bm25: rare-term match outranks common, tf and length monotone") {
    val docs = Seq(
      (1L, "join join join pad"), // tf=3 on the common term
      (2L, "join pad pad pad"),   // tf=1 on the common term
      (3L, "vector pad pad pad")  // tf=1 on the rare term
    ).toDF("doc_id", "text")
    val out = Graft.bm25(docs, Seq("join", "vector"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2))
    // idf(vector)=ln(1+2.5/1.5) beats idf(join)=ln(1+1.5/2.5); with
    // dl=avgdl the tf term collapses to idf, so d3 > d1 > d2 and
    // d2's score is exactly idf(join).
    assert(out.map(_._1).toSeq == Seq(3L, 1L, 2L))
    assert(math.abs(out.toMap.apply(2L) - math.log(1.6)) < 1e-6)
  }

  test("eventPaths: 3-hop triples counted across users, count-desc order") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 1L, t("2024-01-01 10:00:00"), "a"),
      (1L, 2L, t("2024-01-01 10:00:01"), "b"),
      (1L, 3L, t("2024-01-01 10:00:02"), "c"),
      (1L, 4L, t("2024-01-01 10:00:03"), "d"), // u1: a>b>c, b>c>d
      (2L, 5L, t("2024-01-01 11:00:00"), "a"),
      (2L, 6L, t("2024-01-01 11:00:01"), "b"),
      (2L, 7L, t("2024-01-01 11:00:02"), "c")  // u2: a>b>c
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Graft.eventPaths(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.toSeq == Seq("a>b>c" -> 2L, "b>c>d" -> 1L))
  }

  test("embedOutliers: planted far vector ranks first, topN bounds output") {
    val emb = Seq(
      (1L, Array(0f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(1f, 1f)),
      (5L, Array(100f, 100f)) // the corrupt row
    ).toDF("vec_id", "embedding")
    val out = Graft.embedOutliers(emb, topN = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.length == 3)
    assert(out.head._1 == 5L && out.head._2 > 1.5) // far row, big z
    assert(out.tail.forall(_._2 < 0))              // cluster sits below mean
  }

  test("spikeDetect: planted burst and zero-day stall both flag, first day has no baseline") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // type "a": days 1..9 alternate 9/11 events (non-zero variance
    // baseline); day 10 bursts to 100. type "b": same baseline, then
    // days 10-11 SILENT (no rows at all) and day 12 resumes.
    def baseline(tpe: String) = (1 to 9).flatMap { day =>
      val n = if (day % 2 == 1) 9 else 11
      (1 to n).map(i => (tpe, t(f"2024-01-$day%02d 0$i:00:00")))
    }
    val rows = baseline("a") ++
      (1 to 100).map(i => ("a", t(f"2024-01-10 ${10 + i % 12}%02d:${i % 60}%02d:00"))) ++
      baseline("b") ++ (1 to 10).map(i => ("b", t(f"2024-01-12 0$i:00:00")))
    val out = Graft.spikeDetect(rows.toDF("event_type", "ts")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(("a", "2024-01-01"))._2 == 0.0 && !out(("a", "2024-01-01"))._3)
    assert(out(("a", "2024-01-10"))._3 && out(("a", "2024-01-10"))._2 > 3.0)
    assert((2 to 9).forall(d => !out(("a", f"2024-01-0$d"))._3))
    // the stall days exist as rows (n = 0) and flag with z << -3
    assert(out(("b", "2024-01-10")) == ((0L, out(("b", "2024-01-10"))._2, true))
      && out(("b", "2024-01-10"))._2 < -3.0)
    assert(out(("b", "2024-01-11"))._1 == 0L) // gap materialized
  }

  test("sourceOverlap/contaminationRate: hand-built cross-source dups") {
    val docs = Seq(
      (1L, "shared text", "s1", "en"), (2L, "only in s1", "s1", "en"),
      (3L, "shared text", "s2", "en"), (4L, "only in s2", "s2", "en"),
      (5L, "lonely", "s3", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val ov = Graft.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(ov.toSeq == Seq(("s1", "s2", 1L)))
    val cr = Graft.contaminationRate(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(cr("s1") == ((1L, 0.5)) && cr("s2") == ((1L, 0.5))
      && cr("s3") == ((0L, 0.0)))
  }

  test("qualityTiers: buckets partition the corpus in rank order") {
    // 4 docs with clearly separated quality (longer + more distinct
    // tokens scores higher under the composite)
    val docs = Seq(
      (1L, "w w w w"), (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "x x y"), (4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val out = Graft.qualityTiers(docs, tiers = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._1).toSeq == Seq(1, 2))
    assert(out.map(_._2).sum == 4L && out.forall(_._2 == 2L))
    // tier 1's WORST doc is at least as good as tier 2's BEST
    assert(out(0)._3 >= out(1)._4)
  }

  test("piiRedact masks every class and counts hits") {
    val rows = Seq(
      (1L, "reach me at jane.doe+x@mail.example.org or 415-555-0137 from 192.168.0.1"),
      (2L, "no pii here at all")
    ).toDF("id", "text")
    val out = Graft.piiRedact(rows).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(1L)._4 ==
      "reach me at [EMAIL] or [PHONE] from [IP]")
    assert(out(2L) == ((0, 0, 0, "no pii here at all")))
  }

  test("tokenEntropy: uniform doc scores 1.0, repeated-token doc scores 0") {
    val rows = Seq((1L, "a a b b", "en"), (2L, "w w w w", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Graft.tokenEntropy(rows).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // H([a,a,b,b]) = ln2; normalized by ln(2 distinct) = 1.0
    assert(math.abs(out(1L)._2 - math.log(2)) < 1e-6 && out(1L)._3 == 1.0)
    assert(out(2L) == ((1L, 0.0, 0.0)))
  }

  test("perplexity: rare-token docs score above common-token docs") {
    val rows = Seq(
      (1L, "common common common common", "en"),
      (2L, "common common common rareword", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Graft.perplexity(rows).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(2L) > out(1L))
    // doc 1: P(common) = 7/8 -> ppl = 8/7
    assert(math.abs(out(1L) - 8.0 / 7.0) < 1e-5)
  }

  test("incrementalDedup classifies a batch against a corpus") {
    val existing = docs
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // = doc 1
      (11L, "a never before seen document body"),
      (12L, "a never before seen document body"),          // dup of 11 in-batch
      (13L, "another genuinely new document")
    ).toDF("doc_id", "text")
    val out = Graft.incrementalDedup(existing, incoming).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(10L) == (("dup_existing", 1L))) // keeper = min corpus id (1, not 4)
    assert(out(11L) == (("new", -1L)))
    assert(out(12L) == (("dup_incoming", 11L)))
    assert(out(13L) == (("new", -1L)))
  }

  test("profile reports nulls, distincts and string-rendered bounds per column") {
    val rows = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (3L, null), (null, "b"))
      .toDF("id", "s")
    val p = Graft.profile(rows, Seq("id", "s")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(p("id") == ((4L, 1L, 3L, "1", "3")))
    assert(p("s") == ((4L, 1L, 2L, "a", "b")))
  }

  test("heavyHitters on hand-built docs: only the dominant token survives") {
    val rows = Seq(
      (1L, "spark spark spark spark spark one", "en"),
      (2L, "spark spark spark spark two three", "en")
    ).toDF("doc_id", "text", "lang")
    // N = 12, k = 3 -> threshold 3: 'spark' (9) qualifies, others (1) don't
    val hh = Graft.heavyHitters(rows, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq == Seq(("spark", 9L)))
  }

  /** The live artifact dirs named `prefix-*` under `java.io.tmpdir`. */
  private def artifactDirs(prefix: String): Set[java.io.File] =
    new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith(prefix + "-")).map(_.getCanonicalFile).toSet

  test("index caches: mutating the corpus under the same path rebuilds, entry count stays flat") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.ops.{Dedup, IndexCache}
    val tmp = TestSpark.tempDir("graft_idx_lifecycle").toString
    Files.copy(Paths.get(TestSpark.sf0001, "documents.parquet"),
               Paths.get(tmp, "documents.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    def entries = IndexCache.liveEntries("graft_neardup_index")
    // the index dir a shingle table was read from: <dir>/shingles.parquet/part-*
    def indexDir(sh: org.apache.spark.sql.DataFrame) =
      new java.io.File(new java.net.URI(sh.inputFiles.head)).getParentFile.getParentFile
    val before = entries
    val ambient = artifactDirs("graft_neardup_index")
    val (sh1, _) = Dedup.nearDupIndex(spark, tmp)
    val full = sh1.count()
    // 20-call tuning loop on an unchanged corpus: no rebuild, no growth
    (1 to 20).foreach(_ => Dedup.nearDupIndex(spark, tmp))
    assert(entries == before + 1)
    // mutate the corpus in place: halve it and rewrite the same file
    val half = spark.read.parquet(s"$tmp/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
    val stage = TestSpark.tempDir("graft_idx_stage").toString
    half.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, Paths.get(tmp, "documents.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    // re-query: fresh index over the mutated corpus, still one entry
    val (sh2, _) = Dedup.nearDupIndex(spark, tmp)
    assert(sh2.count() < full)
    assert(entries == before + 1)
    // the superseded index dir is deleted; this corpus owns one dir
    assert(!indexDir(sh1).exists(), s"superseded ${indexDir(sh1)} still exists")
    assert(artifactDirs("graft_neardup_index") -- ambient ==
      Set(indexDir(sh2).getCanonicalFile))
  }

  test("index caches: a failed artifact build leaves no dir, the next get builds cleanly") {
    import java.nio.file.{Files, Paths}
    import graft.ops.IndexCache
    val prefix = "graft_failing_build"
    var fail = true
    val cache = IndexCache.artifact[String]("documents", prefix) { (_, _, out) =>
      Files.write(Paths.get(out, "part"), Array[Byte](1))
      if (fail) throw new IllegalStateException("planted build failure")
      out
    }
    intercept[IllegalStateException](cache.get(spark, TestSpark.sf0001))
    assert(artifactDirs(prefix).isEmpty)
    assert(IndexCache.liveEntries(prefix) == 0)
    fail = false
    val out = cache.get(spark, TestSpark.sf0001)
    assert(Files.exists(Paths.get(out, "part")))
    assert(artifactDirs(prefix) == Set(new java.io.File(out).getCanonicalFile))
    assert(IndexCache.liveEntries(prefix) == 1)
  }

  test("cluster table: q_dedup_cluster and q_dedup_keep_best share one materialization") {
    import graft.ops.{Dedup, IndexCache}
    val dir = TestSpark.sf0001
    def entries = IndexCache.liveEntries("graft_dedup_clusters")
    val before = entries
    val clusters = Dedup.qDedupCluster(spark, dir).collect()
    val built = entries
    assert(built == before + 1 || (before > 0 && built == before))
    // the second consumer must reuse the materialized table (entry
    // count flat), and its clusters must be the same graph
    val kb = Dedup.qDedupKeepBest(spark, dir).collect()
    assert(entries == built, "keep_best rebuilt the cluster table")
    assert(kb.map(_.getLong(0)).toSet ==
      clusters.map(_.getLong(1)).toSet, "same cluster ids from both consumers")
  }

  test("containmentPairs: finds the quoted subset both sizes apart, jaccard misses it") {
    val docs = Seq(
      // doc 1 is a strict token-subset of doc 2 (quote inside a longer page)
      (1L, "alpha beta gamma", "en", "s", 16L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 60L),
      // unrelated doc shares nothing
      (3L, "one two three four", "en", "s", 18L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val cont = Graft.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // directed: 1 ⊂ 2 only; 2's set is NOT ⊆ 1's
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // symmetric jaccard at the same τ can't see it (J = 3/10)
    assert(Graft.jaccardPairs(docs).count() === 0)
  }

  test("web-graph facade: links → pageRank, urlFilter verdicts on arbitrary rows") {
    val pages = Seq(
      (1L, "<p><a href=\"https://b.com/\">to b</a></p>"),
      (2L, "<p><a href=\"https://a.com/\">to a</a></p>")
    ).toDF("doc_id", "html")
    val links = Graft.extractLinks(pages)
    assert(links.count() === 2)
    val stats = Graft.anchorStats(links).collect()
    assert(stats.map(_.getString(0)).sorted.toSeq ==
      Seq("https://a.com/", "https://b.com/"))
    val edges = links.select(
      concat(lit("https://"), col("doc_id").cast("string")).as("src"),
      col("href").as("dst"))
    val pr = Graft.pageRank(edges, iters = 5)
    assert(pr.count() === 4) // 2 sources + 2 targets
    val filtered = Graft.urlFilter(
      Seq((1L, "https://bad.com/x"), (2L, "https://good.com/x"))
        .toDF("doc_id", "url"),
      Seq("bad.com").toDF("domain"), Seq("/never-matches/"))
    assert(filtered.filter(col("kept")).count() === 1)
  }

  test("splitAssign / projectEmbeddings / degreeStats facade on hand-built data") {
    val docs = Seq.tabulate(50) { i =>
      (i.toLong, s"text $i", "en", "s", 6L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val split = Graft.splitAssign(docs)
    assert(split.count() === 50)
    assert(split.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // deterministic: same assignment on a rerun
    assert(split.collect().toSeq == Graft.splitAssign(docs).collect().toSeq)
    val emb = Seq((0L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    assert(Graft.projectEmbeddings(emb).collect()
      .head.getSeq[Double](1).length === 16)
    val deg = Graft.degreeStats(
      Seq("a" -> "b").toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(deg("a") == (1L, 0L) && deg("b") == (0L, 1L))
  }

  test("quantization + temperature mixing facade on hand-built data") {
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
                  (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val q = Graft.quantizeEmbeddings(emb)
    assert(q.count() === 3)
    val topk = Graft.quantizedTopK(emb, nProbes = 1, k = 2).collect()
    assert(topk.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // nearest first
    val docs = Seq.tabulate(40) { i =>
      (i.toLong, s"text $i", if (i < 32) "en" else "fr", "s", 6L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val mixed = Graft.temperatureMix(docs)
    val by = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // α=1/2 narrows the 32:8 ratio toward sqrt(32):sqrt(8) = 2:1
    assert(by("en").toDouble / by("fr") < 32.0 / 8)
  }

  test("r10 facade batch: laws, link readouts, novelty, drift, budget") {
    val toks = (Seq.fill(4)("a") ++ Seq.fill(2)("b") ++ Seq("c")).toDF("w")
    assert(Graft.zipfFit(toks).collect()(0).getAs[Long]("n_types") == 3L)
    val dToks = Seq((1L, "s", "a"), (1L, "s", "b"), (2L, "s", "a"))
      .toDF("doc_id", "source", "w")
    assert(Graft.heapsFit(dToks).collect()(0).getAs[Long]("n_docs") == 2L)
    val edges = Seq("a" -> "b", "b" -> "a", "a" -> "c").toDF("src", "dst")
    assert(Graft.reciprocity(edges).count() == 2L)
    assert(Graft.assortativity(edges).count() == 4L)
    val docs = Seq((1L, Seq("x", "y")), (2L, Seq("x", "y")))
      .toDF("doc_id", "toks")
    val nov = Graft.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov == Map(1L -> 1.0, 2L -> 0.0))
    val ks = Graft.ksBySource(
      Seq(("A", 1), ("B", 9)).toDF("source", "n_toks")).collect()
    assert(ks.forall(_.getDouble(4) == 1.0)) // disjoint supports: D = 1
    val q = Seq((1L, 10, 0.9), (2L, 10, 0.1)).toDF("doc_id", "n_toks", "quality")
    assert(Graft.tokenBudget(q, budget = 10L).collect()
             .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("pair-query tuning loop over distinct inputs leaves no cached plans behind") {
    val base = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(0f, 0.9f, 0.1f)),
      (5L, Array(0f, 0f, 1f)), (6L, Array(0.1f, 0f, 0.9f))
    ).toDF("vec_id", "embedding")
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    (1 to 20).foreach { i =>
      // a DIFFERENT input each iteration — the shape that used to
      // accumulate one cache entry per call until LRU eviction
      Graft.cosineTopK(base.filter(col("vec_id") <= lit(6 - (i % 2))), n = 5)
        .collect()
    }
    // <= not ==: earlier tests' localCheckpoint RDDs (pageRank,
    // dedupClusters) are reclaimed ASYNCHRONOUSLY by the
    // ContextCleaner, so the ambient count can shrink mid-test; the
    // regression under test is GROWTH (one new entry per call)
    assert(spark.sparkContext.getPersistentRDDs.size <= persisted0)
  }

  test("set-similarity tuning loop: bounded live persists, repeats reuse, results unchanged") {
    // r11 verdict #5: rankedTokenSets used to persist() per call with
    // no release — one leaked cache entry per distinct input. The
    // PlanCache contract: repeats of the same input reuse one entry,
    // distinct inputs are LRU-bounded, eviction unpersists.
    def corpus(tag: String) = Seq(
      (1L, s"alpha beta gamma delta $tag", "en"),
      (2L, s"alpha beta gamma delta $tag", "en"),
      (3L, "totally different tokens here", "en")
    ).toDF("doc_id", "text", "lang")
    def live = graft.ops.IndexCache.liveEntries("token_set_plans")
    val a1 = Graft.jaccardPairs(corpus("a")).collect().map(_.toSeq).toSeq
    val liveAfterFirst = live
    val a2 = Graft.jaccardPairs(corpus("a")).collect().map(_.toSeq).toSeq
    assert(a1 == a2 && a1.nonEmpty) // docs 1,2 are verbatim dups
    // a REPEATED input must reuse its entry, not add one (other suite
    // tests may already hold ambient entries — compare relatively)
    val liveAfterRepeat = live
    assert(liveAfterRepeat == liveAfterFirst,
      s"repeat grew the cache: $liveAfterFirst -> $liveAfterRepeat")
    // 8 distinct inputs: live entries stay at the LRU bound, and the
    // early input still returns the same rows after its eviction
    (0 until 8).foreach(i => Graft.containmentPairs(corpus(s"x$i")).collect())
    assert(live <= 4, s"live entries: $live")
    val a3 = Graft.jaccardPairs(corpus("a")).collect().map(_.toSeq).toSeq
    assert(a3 == a1)
  }

  test("retrieval path: hybridRrf pool feeds rerank; auc scores a labeled frame") {
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.436f), 0),
      (2L, Array(0.8f, 0.6f), 0), (3L, Array(0.7f, 0.714f), 0))
      .toDF("vec_id", "embedding", "label")
    val pool = Graft.hybridRrf(docs.limit(4).union(
        Seq((0L, "probe text", "en")).toDF("doc_id", "text", "lang")),
      emb, queryTerms = Seq("fox", "spark"), probeId = 0L, poolK = 3, topN = 3)
    assert(pool.count() > 0)
    val rr = Graft.rerank(docs, emb, queryTerms = Seq("fox", "spark"),
      probeId = 0L, poolK = 3, topN = 3).collect()
    assert(rr.nonEmpty)
    // rerank output is ordered by the readout score
    val scores = rr.map(r => r.getDouble(r.fieldIndex("rerank"))).toList
    assert(scores == scores.sorted.reverse)
    val a = Graft.auc(Seq((0.9, true), (0.4, false), (0.6, true))
      .toDF("score", "label")).collect()(0)
    assert(a.getDouble(2) == 1.0)
  }

  test("r15 facade: tokenizeScriptAware, appendNearDupIndex, writeShards -> refreshShards chain") {
    import org.apache.spark.sql.functions._
    val cjk = Graft.tokenizeScriptAware(
      Seq((1L, "hello 中文")).toDF("doc_id", "text"))
      .select("toks").as[Seq[String]].head()
    assert(cjk == Seq("hello", "中文"))
    // index maintenance: a wholly novel doc is accepted
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val (sh, bands) = Graft.buildNearDupIndex(corpus)
    val (accSh, accBands) = Graft.appendNearDupIndex(sh, bands,
      Seq((99L, Seq("x", "y", "z", "w", "v"))).toDF("doc_id", "toks"))
    assert(accSh.count() == 1 && accBands.count() > 0)
    // shard write + refresh round trip through the facade
    val dir = TestSpark.tempDir("graft_facade_refresh").toString
    Graft.writeShards(Seq((1L, "one doc"), (250L, "two doc")).toDF("doc_id", "text"),
      dir, 100L)
    val m = Graft.refreshShards(dir,
      Seq((1L, "U", "one doc v2", 1L)).toDF("doc_id", "op", "text", "seq"), 100L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(m == Map(0L -> true, 2L -> false))
  }
}
