package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** Assembles the declared query surface (SURVEY.md §2.2) and the DuckDB
  * oracle SQL for each SQL-expressible query (parity rules §2.3).
  *
  * Every query takes `(spark, sfDir)` and ends in a total order on a
  * unique key tuple; all doubles are rounded in-query; column names are
  * aliased identically on the Spark and oracle sides (the driver's
  * compare sorts columns by name before hashing). Where return types
  * differ across engines (DuckDB count/rank→BIGINT vs Spark INT,
  * ceil→DOUBLE vs LONG, sum(int)→HUGEINT), the oracle SQL carries
  * explicit casts to Spark's type.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  /** Shared DuckDB snippets: normalized doc tokens (trim-then-split —
    * documents.text has a trailing space, SURVEY.md §7.4.7) and the
    * ns→µs timestamp truncation for events (§7.4.1). */
  private val TOKS = "string_split(lower(trim(text)), ' ')"
  private val TS = "CAST(ts AS TIMESTAMP)"

  /** The ±3-window, min-count-5 co-occurrence pair counts (no WITH) —
    * the ONE SQL derivation shared by the q_cooccur and
    * q_triangle_count oracles (mirrors
    * [[ops.TextAnalysis.cooccurPairCounts]]). */
  private val coocCtes: String =
    s"""t AS (SELECT $TOKS AS toks FROM documents),
       |p AS (SELECT unnest(flatten(list_transform(
       |        generate_series(1, greatest(len(toks)-1, 0)), i ->
       |        list_transform(generate_series(i+1, least(i+3, len(toks))), j ->
       |          {'w1': toks[i], 'w2': toks[j]})))) AS pr FROM t),
       |cnt AS (SELECT pr.w1 AS w1, pr.w2 AS w2, count(*)::BIGINT AS n_cooc
       |        FROM p GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin

  /** DuckDB emulation of Spark's `round(double, s)`. Spark rounds the
    * SHORTEST DECIMAL REPRESENTATION of the double (Round uses
    * `BigDecimal.valueOf`, i.e. `Double.toString`), while DuckDB rounds
    * the exact binary value — e.g. 6925.5*0.09 = 623.294999999999963...
    * prints as "623.295", so Spark gives 623.30 and DuckDB 623.29.
    * Round-tripping through VARCHAR (shortest repr on DuckDB too) and a
    * DECIMAL makes DuckDB match Spark exactly (verified on 60k rows). */
  private[graft] def rnd(e: String, s: Int): String =
    s"round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,18)), $s)::DOUBLE"

  /** q_embed_cov's DuckDB form — the exact DECIMAL-carrier mirror of
    * [[graft.functions.CovAggregator]], extracted to a val because the
    * q_embed_pca oracle nests it as its matrix source. */
  private val covOracleSql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |           FROM embeddings),
       |x AS (SELECT vec_id, i - 1 AS dim, v[i] AS x
       |      FROM v, unnest(generate_series(1, 64)) AS t(i)),
       |sx AS (SELECT dim, sum(CAST(x * 1125899906842624.0 AS DECIMAL(38,0))) AS sx
       |       FROM x GROUP BY dim),
       |n AS (SELECT count(*)::BIGINT AS n FROM v),
       |p AS (SELECT a.dim AS di, b.dim AS dj,
       |        sum(CAST(a.x * b.x * 1267650600228229401496703205376.0
       |                 AS DECIMAL(38,0))) AS sxy
       |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
       |      GROUP BY 1, 2)
       |SELECT di, dj,
       |  ${rnd("sxy::DOUBLE / (1267650600228229401496703205376.0 * n.n)" +
               " - (si.sx::DOUBLE / (1125899906842624.0 * n.n))" +
               " * (sj.sx::DOUBLE / (1125899906842624.0 * n.n))", 6)} AS cov
       |FROM p
       |JOIN sx si ON p.di = si.dim
       |JOIN sx sj ON p.dj = sj.dim
       |CROSS JOIN n
       |ORDER BY di, dj""".stripMargin

  /** DuckDB oracle for q_embed_pca — a VERBATIM arithmetic mirror of
    * [[graft.ops.Similarity.pcaProject]] (r12, verdict ask #2: the
    * covariance input was already oracle-exact and the power iteration
    * is deterministic, so the whole eigensolver unrolls in SQL):
    *
    *  - the covariance CTE is [[covOracleSql]] nested MATERIALIZED —
    *    both engines consume the SAME 6-dp-rounded matrix, proven
    *    hash-exact by the standing q_embed_cov row, so every
    *    downstream double is computed from bit-identical operands;
    *  - per component, a recursive CTE runs the select-then-continue
    *    cascade: all 65 starts (uniform, then each basis vector —
    *    seeds with a zero first matvec are filtered like the engine)
    *    iterate SelIters steps, the max-Rayleigh/earliest-sid iterate
    *    wins (ORDER BY rq DESC, sid LIMIT 1 ≡ the engine's strict->
    *    earliest-tie fold) and continues to 200 steps total. The
    *    recursion carries (x, y = M·x) so each step evaluates the
    *    matvec ONCE (the naive normalize-expression form re-evaluates
    *    it per element — 64× the work); list_sum over list_transform
    *    sums sequentially in index order, matching the engine's
    *    ascending-j loops;
    *  - sign canon (largest-|loading| pivot, lowest index on ties,
    *    flip if negative) via a struct sort; deflation
    *    `mm[i][j] - lambda * c[i] * c[j]` in the engine's exact
    *    left-associated order;
    *  - projections are raw-embedding dots against the two canon
    *    components, rounded with the Spark-HALF_UP-compatible [[rnd]].
    *
    * The engine's zero-matrix fallback (all starts filtered) is not
    * mirrored — a zero covariance never occurs on real embeddings and
    * the recursion would simply return no rows, failing loudly rather
    * than silently. Cost is iteration-count-bounded, not corpus-bound:
    * the cascade is ~(65·SelIters + 176)·2 matvecs of d=64 regardless
    * of scale; only the nested covariance CTE grows with n. */
  /** q_kmeans's DuckDB form — the full 5-iteration Lloyd run unrolled
    * (r12, continuing verdict #2's conversion programme). Exactness
    * rests on two established facts: (a) the update means use the
    * 2⁵⁰-scaled DECIMAL(38,0) carrier (the q_embed_cov /
    * q_centroid_drift discipline), so the only distributed reduction
    * is order-independent integer addition; (b) every other step is
    * fixed-order scalar double arithmetic — the engine's ascending
    * DotProduct loop ≡ `list_sum(list_transform(...))`, the same
    * bit-parity the 200-step recursive-CTE PCA oracle already proves.
    * Assignment ties break on lowest cid on both sides (Spark's
    * lexicographic struct `array_min` ≡ `row_number() OVER (ORDER BY
    * d2, cid)`). Empty clusters keep the previous centroid via the
    * LEFT JOIN + CASE. */
  private[graft] def kmeansOracleSql(d: Int = 64, k: Int = 8,
                                     iters: Int = 5): String = {
    val S = "1125899906842624.0" // 2^50
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1,$d), j -> $a[j] * $b[j]))"
    def sq(a: String) = s"list_sum(list_transform($a, q -> q * q))"
    // assign pass t (uses centroids c{t-1}): per vec, argmin (d2, cid)
    def assignCte(t: Int) =
      s"""ka$t AS (SELECT vec_id, v, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |  FROM (SELECT e.vec_id, e.v, c.cid,
         |          (e.vv - 2.0 * ${dot("e.v", "c.cv")}) + c.c2 AS d2
         |        FROM kev e CROSS JOIN kc${t - 1} c) z)"""
        .stripMargin
    // update pass t: exact decimal mean per (cid, dim); empty cluster
    // keeps the previous centroid
    def updateCte(t: Int) =
      s"""km$t AS (SELECT cid, u.j AS dim,
         |    sum(CAST(v[u.j] * $S AS DECIMAL(38,0))) AS sm, count(*) AS n
         |  FROM ka$t, unnest(generate_series(1,$d)) AS u(j)
         |  WHERE rn = 1 GROUP BY cid, u.j),
         |kn$t AS (SELECT cid, list(sm::DOUBLE / ($S * n) ORDER BY dim) AS cv
         |  FROM km$t GROUP BY cid),
         |kc$t AS (SELECT p.cid,
         |    CASE WHEN f.cid IS NULL THEN p.cv ELSE f.cv END AS cv,
         |    CASE WHEN f.cid IS NULL THEN p.c2 ELSE ${sq("f.cv")} END AS c2
         |  FROM kc${t - 1} p LEFT JOIN kn$t f ON p.cid = f.cid)"""
        .stripMargin
    val its = (1 to iters).map(t => s"${assignCte(t)},\n${updateCte(t)}")
      .mkString(",\n")
    s"""WITH kv AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |kev AS (SELECT vec_id, v, ${dot("v", "v")} AS vv FROM kv),
       |kc0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
       |    v AS cv, ${sq("v")} AS c2
       |  FROM (SELECT vec_id, v FROM kv ORDER BY vec_id LIMIT $k) s),
       |$its,
       |${assignCte(iters + 1)}
       |SELECT vec_id, cid::INT AS cluster,
       |  ${rnd("sqrt(greatest(d2, 0.0))", 6)} AS dist
       |FROM ka${iters + 1} WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  private[graft] def pcaOracleSql(d: Int = 64, k: Int = 2,
                                  totalIters: Int = 200): String = {
    val sel = graft.ops.Similarity.SelIters
    def mv(x: String) =
      s"list_transform(generate_series(1,$d), mvi -> list_sum(" +
        s"list_transform(generate_series(1,$d), mvj -> mm[mvi][mvj] * $x[mvj])))"
    val nrmY = "sqrt(list_sum(list_transform(y, nv -> nv*nv)))"
    val xn = s"CASE WHEN $nrmY > 0 THEN list_transform(y, sv -> sv / $nrmY) ELSE x END"
    val rqXY = s"list_sum(list_transform(generate_series(1,$d), rqi -> x[rqi] * y[rqi]))"
    val pivot = s"array_sort(list_transform(generate_series(1,$d), " +
      "pi -> {'a': -abs(x[pi]), 'i': pi}))[1].i"
    def comp(c: Int): String =
      s"""it$c(t, sid, x, y) AS (
         |  SELECT 0, sid, x0, ${mv("x0")} FROM starts, m$c
         |  WHERE sqrt(list_sum(list_transform(${mv("x0")}, nv -> nv*nv))) > 0
         |  UNION ALL
         |  SELECT t+1, sid, xn, ${mv("xn")}
         |  FROM (SELECT t, sid, $xn AS xn, mm FROM it$c, m$c) sub
         |  WHERE t < $sel
         |),
         |sel$c AS MATERIALIZED (
         |  SELECT x, y FROM it$c WHERE t = $sel
         |  ORDER BY $rqXY DESC, sid ASC LIMIT 1),
         |itb$c(t, x, y) AS (
         |  SELECT $sel, x, y FROM sel$c
         |  UNION ALL
         |  SELECT t+1, xn, ${mv("xn")}
         |  FROM (SELECT t, $xn AS xn, mm FROM itb$c, m$c) sub
         |  WHERE t < $totalIters
         |),
         |c$c AS MATERIALIZED (
         |  SELECT CASE WHEN x[$pivot] < 0 THEN list_transform(x, cv -> -cv)
         |              ELSE x END AS c,
         |         $rqXY AS lambda
         |  FROM itb$c WHERE t = $totalIters),
         |m${c + 1} AS MATERIALIZED (
         |  SELECT list_transform(generate_series(1,$d), di ->
         |    list_transform(generate_series(1,$d), dj ->
         |      mm[di][dj] - lambda * c[di] * c[dj])) AS mm
         |  FROM m$c, c$c)""".stripMargin
    val comps = (1 to k).map(comp).mkString(",\n")
    val projCols = (1 to k).map { c =>
      rnd(s"list_sum(list_transform(generate_series(1,$d), " +
          s"di -> v[di] * c$c.c[di]))", 6) + s" AS pc$c"
    }.mkString(",\n  ")
    val projFrom = (1 to k).map(c => s"c$c").mkString(", ")
    s"""WITH RECURSIVE
       |cov AS MATERIALIZED ($covOracleSql),
       |fullm AS (SELECT di AS i, dj AS j, cov FROM cov
       |          UNION ALL SELECT dj, di, cov FROM cov WHERE di <> dj),
       |m1 AS MATERIALIZED (SELECT list(r ORDER BY i) AS mm FROM
       |    (SELECT i, list(cov ORDER BY j) AS r FROM fullm GROUP BY i)),
       |starts AS MATERIALIZED (
       |  SELECT 0 AS sid,
       |         list_transform(generate_series(1,$d), u -> 1.0/sqrt($d.0)) AS x0
       |  UNION ALL
       |  SELECT s.range::INT + 1,
       |         list_transform(generate_series(1,$d),
       |           u -> CASE WHEN u = s.range::INT + 1 THEN 1.0 ELSE 0.0 END)
       |  FROM range($d) s),
       |$comps,
       |ve AS (SELECT vec_id, list_transform(embedding, ev -> ev::DOUBLE) AS v
       |       FROM embeddings)
       |SELECT vec_id,
       |  $projCols
       |FROM ve, $projFrom
       |ORDER BY vec_id""".stripMargin
  }

  /** q_train_quality oracle: the ENTIRE fixed-iteration quality-
    * classifier training loop unrolled in DuckDB CTEs (the q_page_rank
    * pattern applied to gradient training) — per iteration a gradient
    * CTE (nano-quantized residual × milli-integer feature, BIGINT →
    * exact HUGEINT sums, the fold-order-independence the Spark side
    * gets from DECIMAL(38,0)) and a weight CTE with the identical
    * Double update expression `w + eta * (g / (c * 1e12))`. The
    * forward pass uses the RATIONAL fast sigmoid (no libm exp), so
    * every Double on both engines is the same IEEE-defined bit
    * pattern; the compare therefore verifies every gradient sum and
    * every weight update, not just the final scores. Mirrors
    * [[graft.ops.TextAnalysis.trainQualityWeights]]/[[graft.ops.TextAnalysis.scoreQuality]]. */
  private[graft] def trainQualityOracleSql(
      iters: Int = graft.ops.TextAnalysis.TrainIters,
      eta: String = "8.0"): String = {
    val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
    val z = "(w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4) / 1000.0"
    val iterCtes = (1 to iters).map { t =>
      val prev = s"wt${t - 1}"
      s"""g$t AS (SELECT sum(rq * x1) AS g1, sum(rq * x2) AS g2,
         |    sum(rq * x3) AS g3, sum(rq * x4) AS g4
         |  FROM (SELECT x1, x2, x3, x4,
         |      CAST(round((y - (0.5 + z / (2.0 * (1.0 + abs(z))))) * 1e9) AS BIGINT) AS rq
         |    FROM (SELECT f.*, $z AS z FROM f, $prev) z$t) r$t),
         |wt$t AS (SELECT w1 + $eta * (g1 / (c * 1e12)) AS w1,
         |    w2 + $eta * (g2 / (c * 1e12)) AS w2,
         |    w3 + $eta * (g3 / (c * 1e12)) AS w3,
         |    w4 + $eta * (g4 / (c * 1e12)) AS w4
         |  FROM $prev, g$t, nn)""".stripMargin
    }.mkString(",\n")
    // MATERIALIZED: the iteration CTEs reference f once per unrolled
    // round; without the hint DuckDB re-inlines the tokenize +
    // stopword scan ~2x per iteration (measured >180 s at sf1 vs
    // 23 s materialized)
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $TOKS AS toks FROM documents),
       |st AS MATERIALIZED (SELECT doc_id,
       |  len(toks)::BIGINT AS n_toks,
       |  len(list_distinct(toks))::BIGINT AS n_distinct,
       |  len(list_filter(toks, t -> list_contains($stop, t)))::BIGINT AS n_stop
       |FROM t),
       |f AS MATERIALIZED (SELECT doc_id,
       |  1000::BIGINT AS x1,
       |  (least(n_toks, 100) * 10)::BIGINT AS x2,
       |  ((n_distinct * 2000 + n_toks) // (2 * n_toks))::BIGINT AS x3,
       |  (1000 - (n_stop * 2000 + n_toks) // (2 * n_toks))::BIGINT AS x4,
       |  CASE WHEN ${rnd("least(n_toks::DOUBLE / 100.0, 1.0) * 0.3::DOUBLE" +
            " + (n_distinct::DOUBLE / n_toks) * 0.3::DOUBLE" +
            " + (1.0::DOUBLE - n_stop::DOUBLE / n_toks) * 0.4::DOUBLE", 6)} >= 0.5
       |       THEN 1.0 ELSE 0.0 END AS y
       |FROM st),
       |nn AS (SELECT count(*)::BIGINT AS c FROM f),
       |wt0 AS (SELECT 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2,
       |               0.0::DOUBLE AS w3, 0.0::DOUBLE AS w4),
       |$iterCtes
       |SELECT doc_id, y::INT AS label, ${rnd("s", 6)} AS score,
       |  ${rnd("s", 6)} >= 0.5 AS keep
       |FROM (SELECT doc_id, y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS s
       |  FROM (SELECT f.doc_id, f.y, $z AS z
       |        FROM f, wt$iters) zf) sf
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Sources / filters / joins / sorts / set ops
  // -------------------------------------------------------------------

  val relational: Map[String, Q] = Map(
    "q_scan_project"   -> (Relational.qScanProject _),
    "q_source_roundtrip" -> (Relational.qSourceRoundtrip _),
    "q_partition_prune"  -> (Relational.qPartitionPrune _),
    "q_filter_pred"    -> (Relational.qFilterPred _),
    "q_join_inner"     -> (Relational.qJoinInner _),
    "q_join_broadcast" -> (Relational.qJoinBroadcast _),
    "q_join_left"      -> (Relational.qJoinLeft _),
    "q_join_semi"      -> (Relational.qJoinSemi _),
    "q_join_anti"      -> (Relational.qJoinAnti _),
    "q_join_theta"     -> (Relational.qJoinTheta _),
    "q_join_range"     -> (Relational.qJoinRange _),
    "q_join_asof"      -> (Relational.qJoinAsof _),
    "q_join_asof_native" -> (Relational.qJoinAsofNative _),
    "q_join_asof_left" -> (Relational.qJoinAsofLeft _),
    "q_join_asof_tol"  -> (Relational.qJoinAsofTol _),
    "q_join_asof_fwd"  -> (Relational.qJoinAsofFwd _),
    "q_join_asof_near" -> (Relational.qJoinAsofNear _),
    "q_sort_multi"     -> (Relational.qSortMulti _),
    "q_topk"           -> (Relational.qTopk _),
    "q_union_all"      -> (Relational.qUnionAll _),
    "q_union_distinct" -> (Relational.qUnionDistinct _),
    "q_intersect"      -> (Relational.qIntersect _),
    "q_except"         -> (Relational.qExcept _),
    "q_join_skew"      -> (Relational.qJoinSkew _),
    "q_join_interval"  -> (Relational.qJoinInterval _),
    "q_skyline"        -> (Relational.qSkyline _),
    "q_interval_union" -> (Relational.qIntervalUnion _),
  )

  val relationalOracle: Map[String, String] = Map(
    // mirrors Relational.intervalUnion: integer-µs window arithmetic,
    // running-max island detection, identical (su, eu) order
    "q_interval_union" ->
      s"""WITH iv AS (SELECT user_id AS key, epoch_us($TS) AS su,
         |              epoch_us($TS + INTERVAL 5 MINUTE) AS eu FROM events),
         |m AS (SELECT key, su, eu,
         |        max(eu) OVER (PARTITION BY key ORDER BY su, eu
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |      FROM iv),
         |b AS (SELECT key, su, eu,
         |        CASE WHEN pme IS NULL OR su > pme THEN 1 ELSE 0 END AS brk
         |      FROM m),
         |i AS (SELECT key, su, eu,
         |        sum(brk) OVER (PARTITION BY key ORDER BY su, eu
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |      FROM b),
         |g AS (SELECT key, island, min(su) AS i_start, max(eu) AS i_end
         |      FROM i GROUP BY 1, 2)
         |SELECT key, count(*) AS n_islands,
         |  sum(i_end - i_start)::BIGINT AS covered_us
         |FROM g GROUP BY key ORDER BY key""".stripMargin,
    // deliberately NOT the engine's sweep-line formulation: the oracle
    // states the raw dominance definition (reduced only by "a dominator
    // exists iff a (date, min-price-at-date) dominator exists" — the
    // distinct-date table keeps DuckDB's NOT EXISTS off the O(n²)
    // self-join)
    "q_skyline" ->
      """WITH d AS (SELECT l_shipdate AS dd, min(l_extendedprice) AS m
        |           FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
        |FROM lineitem l
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d
        |  WHERE (d.dd > l.l_shipdate AND d.m <= l.l_extendedprice)
        |     OR (d.dd = l.l_shipdate AND d.m < l.l_extendedprice))
        |ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 100""".stripMargin,
    // r12 source/sink pair: both engine round-trips must reproduce the
    // parquet truth exactly, so the oracle is the same aggregate off
    // the parquet table emitted once per format
    "q_source_roundtrip" ->
      """WITH a AS (SELECT lang, count(*)::BIGINT AS n_docs,
        |    sum(n_chars)::BIGINT AS sum_chars,
        |    min(doc_id) AS min_id, max(doc_id) AS max_id
        |  FROM documents GROUP BY lang)
        |SELECT fmt, lang, n_docs, sum_chars, min_id, max_id
        |FROM (SELECT 'csv' AS fmt UNION ALL SELECT 'json') f CROSS JOIN a
        |ORDER BY fmt, lang""".stripMargin,
    "q_partition_prune" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_discount, l_tax
        |FROM lineitem
        |WHERE (l_returnflag IN ('A','R') AND l_quantity BETWEEN 5 AND 15
        |       AND l_linestatus LIKE 'F%')
        |   OR (l_discount <= 0.01 AND l_tax > 0.07)
        |   OR (l_partkey IS NOT DISTINCT FROM 42)
        |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |         l_discount, l_tax""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_custkey, n_name, r_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,
    "q_join_left" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
         |       ${rnd("coalesce(sum(o_totalprice), 0)", 2)} AS total_spent
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_theta" ->
      s"""SELECT l_returnflag, count(*) AS n, ${rnd("sum(l_extendedprice)", 2)} AS rev
         |FROM lineitem JOIN orders
         |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_range" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('b0_low', 0.0, 100.0), ('b1_mid', 100.0, 200.0),
        |  ('b2_high', 200.0, 300.0), ('b3_top', 300.0, 500.0))
        |SELECT band, count(*) AS n, RNDSV AS sv
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin
        .replace("RNDSV", rnd("sum(value)", 2)),
    "q_join_asof" ->
      s"""WITH p AS (SELECT event_id, user_id, $TS AS ts FROM events
         |           WHERE event_type = 'purchase'),
         |s AS (SELECT user_id, $TS AS ts FROM events WHERE event_type = 'signup')
         |SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
         |FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
         |ORDER BY p.event_id""".stripMargin,
    // the native plan-node formulation answers the same oracle
    "q_join_asof_native" ->
      s"""WITH p AS (SELECT event_id, user_id, $TS AS ts FROM events
         |           WHERE event_type = 'purchase'),
         |s AS (SELECT user_id, $TS AS ts FROM events WHERE event_type = 'signup')
         |SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
         |FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
         |ORDER BY p.event_id""".stripMargin,
    "q_join_asof_left" ->
      s"""WITH p AS (SELECT event_id, user_id, $TS AS ts FROM events
         |           WHERE event_type = 'purchase'),
         |s AS (SELECT user_id, $TS AS ts FROM events WHERE event_type = 'signup')
         |SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
         |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
         |ORDER BY p.event_id""".stripMargin,
    // backward match first, gap bound second — the exec applies the
    // same order, so the residual filter is the exact semantics
    "q_join_asof_tol" ->
      s"""WITH p AS (SELECT event_id, user_id, $TS AS ts FROM events
         |           WHERE event_type = 'purchase'),
         |s AS (SELECT user_id, $TS AS ts FROM events WHERE event_type = 'signup')
         |SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
         |FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
         |WHERE p.ts - s.ts <= INTERVAL 1 DAY
         |ORDER BY p.event_id""".stripMargin,
    "q_join_asof_fwd" ->
      s"""WITH p AS (SELECT event_id, user_id, $TS AS ts FROM events
         |           WHERE event_type = 'purchase'),
         |s AS (SELECT user_id, $TS AS ts FROM events WHERE event_type = 'signup'),
         |m AS (SELECT p.event_id, p.user_id, p.ts,
         |        (SELECT min(s.ts) FROM s
         |         WHERE s.user_id = p.user_id AND s.ts >= p.ts) AS signup_ts
         |      FROM p)
         |SELECT event_id, user_id, ts, signup_ts FROM m
         |WHERE signup_ts IS NOT NULL ORDER BY event_id""".stripMargin,
    "q_join_asof_near" ->
      s"""WITH p AS (SELECT event_id, user_id, $TS AS ts FROM events
         |           WHERE event_type = 'purchase'),
         |s AS (SELECT user_id, $TS AS ts FROM events WHERE event_type = 'signup'),
         |m AS (SELECT p.event_id, p.user_id, p.ts,
         |        (SELECT max(s.ts) FROM s
         |         WHERE s.user_id = p.user_id AND s.ts <= p.ts) AS bw,
         |        (SELECT min(s.ts) FROM s
         |         WHERE s.user_id = p.user_id AND s.ts >= p.ts) AS fw
         |      FROM p)
         |SELECT event_id, user_id, ts,
         |  CASE WHEN bw IS NULL THEN fw WHEN fw IS NULL THEN bw
         |       WHEN ts - bw <= fw - ts THEN bw ELSE fw END AS signup_ts
         |FROM m WHERE bw IS NOT NULL OR fw IS NOT NULL
         |ORDER BY event_id""".stripMargin,
    "q_sort_multi" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
        |       nullif(o_orderstatus, 'O') AS status_n
        |FROM orders
        |ORDER BY status_n ASC NULLS FIRST, o_totalprice DESC, o_orderkey ASC
        |LIMIT 500""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_union_all" ->
      """SELECT 'f' AS src, o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'big' AS src, o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY src, o_orderkey""".stripMargin,
    "q_union_distinct" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY custkey""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY custkey""".stripMargin,
    "q_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY custkey""".stripMargin,
    // the salted join is semantics-preserving, so its oracle is the
    // PLAIN join — the whole point of the query
    "q_join_skew" ->
      s"""SELECT o_orderpriority,
         |  ${rnd("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue,
         |  count(*)::BIGINT AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // sessions CTE = the q_stream_session gaps-and-islands SQL; the
    // oracle joins on the RAW inequality overlap (correct but
    // nested-loop) — the Spark side's bucket decomposition must
    // produce the identical pair set
    "q_join_interval" ->
      s"""WITH o AS (SELECT user_id, event_id, $TS AS ts, event_type FROM events),
         |l AS (SELECT user_id, event_id, ts, event_type,
         |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM o),
         |f AS (SELECT user_id, event_id, ts,
         |        CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
         |             THEN 1 ELSE 0 END AS is_new FROM l),
         |s AS (SELECT user_id, ts,
         |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |      FROM f),
         |sess AS (SELECT user_id, min(ts) AS s0, max(ts) AS s1
         |         FROM s GROUP BY user_id, sid),
         |h AS (SELECT date_trunc('hour', $TS) AS inc_h, count(*) AS n_err
         |      FROM events WHERE event_type = 'error' GROUP BY 1),
         |inc AS (SELECT inc_h, n_err FROM h
         |        ORDER BY n_err DESC, inc_h ASC LIMIT 5)
         |SELECT inc.inc_h, inc.n_err, count(*) AS n_sessions,
         |       count(DISTINCT sess.user_id) AS n_users
         |FROM inc JOIN sess
         |  ON sess.s0 <= inc.inc_h + INTERVAL 1 HOUR - INTERVAL 1 MICROSECOND
         | AND inc.inc_h <= sess.s1
         |GROUP BY inc.inc_h, inc.n_err ORDER BY inc.inc_h""".stripMargin,
  )

  // -------------------------------------------------------------------
  // Aggregations
  // -------------------------------------------------------------------

  val aggregates: Map[String, Q] = Map(
    "q_agg_scan"          -> (Aggregates.qAggScan _),
    "q_agg_distinct"      -> (Aggregates.qAggDistinct _),
    "q_agg_approx"        -> (Aggregates.qAggApprox _),
    "q_agg_rollup"        -> (Aggregates.qAggRollup _),
    "q_agg_cube"          -> (Aggregates.qAggCube _),
    "q_agg_grouping_sets" -> (Aggregates.qAggGroupingSets _),
    "q_pivot"             -> (Aggregates.qPivot _),
    "q_percentiles"       -> (Aggregates.qPercentiles _),
    "q_stats_moments"     -> (Aggregates.qStatsMoments _),
    "q_percentiles_approx" -> (Aggregates.qPercentilesApprox _),
  )

  private def rollupSelect(groupClause: String): String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${rnd("sum(l_quantity)", 2)} AS sum_qty, count(*) AS n,
       |  grouping(l_returnflag)::INT AS g_rf, grouping(l_linestatus)::INT AS g_ls
       |FROM lineitem GROUP BY $groupClause
       |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  val aggregatesOracle: Map[String, String] = Map(
    // exact integer-unit sums (order-independent), divisions and
    // rounding mirroring the Spark expression — see Aggregates.qAggScan
    "q_agg_scan" ->
      s"""WITH g AS (SELECT l_returnflag, l_linestatus,
         |  sum(CAST(round(l_quantity * 100) AS DECIMAL(38,0))) AS qc,
         |  sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))) AS pc,
         |  sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
         |      AS DECIMAL(38,0))) AS dc,
         |  sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
         |      * 1000000) AS DECIMAL(38,0))) AS cc,
         |  sum(CAST(round(l_discount * 100) AS DECIMAL(38,0))) AS dsc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus)
         |SELECT l_returnflag, l_linestatus,
         |  ${rnd("qc::DOUBLE / 100", 2)} AS sum_qty,
         |  ${rnd("pc::DOUBLE / 100", 2)} AS sum_base_price,
         |  ${rnd("dc::DOUBLE / 10000", 2)} AS sum_disc_price,
         |  ${rnd("cc::DOUBLE / 1000000", 2)} AS sum_charge,
         |  ${rnd("qc::DOUBLE / 100 / count_order", 2)} AS avg_qty,
         |  ${rnd("pc::DOUBLE / 100 / count_order", 2)} AS avg_price,
         |  ${rnd("dsc::DOUBLE / 100 / count_order", 4)} AS avg_disc,
         |  count_order
         |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_distinct" ->
      s"""SELECT l_returnflag,
         |  count(DISTINCT l_partkey) AS dist_parts,
         |  count(DISTINCT l_suppkey) AS dist_supps,
         |  ${rnd("sum(DISTINCT l_quantity)", 2)} AS sum_dist_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_pivot" -> {
      val cases = Seq("click", "view", "purchase", "signup", "error").map { t =>
        s"${rnd(s"sum(CASE WHEN event_type = '$t' THEN value END)", 2)} AS $t"
      }.mkString(",\n  ")
      s"""SELECT user_id,
         |  $cases
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q_percentiles" ->
      s"""SELECT l_returnflag,
         |  ${rnd("quantile_cont(l_extendedprice, 0.25)", 4)} AS p25,
         |  ${rnd("quantile_cont(l_extendedprice, 0.5)", 4)} AS median,
         |  ${rnd("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90,
         |  ${rnd("quantile_cont(l_quantity, 0.5)", 4)} AS median_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_stats_moments" ->
      s"""SELECT l_returnflag,
         |  ${rnd("stddev_samp(l_quantity)", 4)} AS sd_qty,
         |  ${rnd("var_samp(l_quantity)", 4)} AS var_qty,
         |  ${rnd("stddev_samp(l_extendedprice)", 4)} AS sd_price,
         |  ${rnd("corr(l_quantity, l_extendedprice)", 4)} AS corr_qty_price,
         |  ${rnd("covar_samp(l_discount, l_tax)", 6)} AS covar_disc_tax
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_rollup" -> rollupSelect("ROLLUP (l_returnflag, l_linestatus)"),
    "q_agg_cube" -> rollupSelect("CUBE (l_returnflag, l_linestatus)"),
    "q_agg_grouping_sets" ->
      rollupSelect("GROUPING SETS ((l_returnflag), (l_linestatus), ())"),
  )

  // -------------------------------------------------------------------
  // Windows
  // -------------------------------------------------------------------

  val windows: Map[String, Q] = Map(
    "q_window_rank"        -> (Windows.qWindowRank _),
    "q_window_analytic"    -> (Windows.qWindowAnalytic _),
    "q_window_frame_rows"  -> (Windows.qWindowFrameRows _),
    "q_window_frame_range" -> (Windows.qWindowFrameRange _),
    "q_window_topk"        -> (Windows.qWindowTopk _),
    "q_window_dist"        -> (Windows.qWindowDist _),
  )

  val windowsOracle: Map[String, String] = Map(
    "q_window_rank" ->
      """SELECT c_custkey, c_nationkey,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |  rank() OVER (PARTITION BY c_nationkey
        |               ORDER BY floor(c_acctbal / 1000) DESC)::INT AS rnk,
        |  dense_rank() OVER (PARTITION BY c_nationkey
        |               ORDER BY floor(c_acctbal / 1000) DESC)::INT AS drnk,
        |  row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY floor(c_acctbal / 1000) DESC, c_custkey ASC)::INT AS rn,
        |  ntile(4) OVER (PARTITION BY c_nationkey
        |               ORDER BY floor(c_acctbal / 1000) DESC, c_custkey ASC)::INT AS nt
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_window_analytic" ->
      s"""SELECT event_id, user_id, value,
         |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY $TS, event_id) AS lag_v,
         |  lead(value, 1) OVER (PARTITION BY user_id ORDER BY $TS, event_id) AS lead_v,
         |  first_value(value) OVER (PARTITION BY user_id ORDER BY $TS, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_v,
         |  last_value(value) OVER (PARTITION BY user_id ORDER BY $TS, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v
         |FROM events ORDER BY event_id""".stripMargin,
    "q_window_frame_rows" ->
      s"""SELECT event_id, user_id, value,
         |  ${rnd(s"sum(value) OVER (PARTITION BY user_id ORDER BY $TS, event_id " +
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)} AS running_sum,
         |  ${rnd(s"avg(value) OVER (PARTITION BY user_id ORDER BY $TS, event_id " +
                  "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 4)} AS mov_avg3,
         |  count(*) OVER (PARTITION BY user_id ORDER BY $TS, event_id
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_frame
         |FROM events ORDER BY event_id""".stripMargin,
    "q_window_frame_range" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice ASC
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_near,
        |  RNDSUM AS sum_near
        |FROM orders ORDER BY o_orderkey""".stripMargin
        .replace("RNDSUM",
          rnd("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice ASC " +
              "RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)", 2)),
    "q_window_topk" ->
      """SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey ASC)::INT AS rn
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,
    "q_window_dist" ->
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice,
         |  ${rnd("percent_rank() OVER (PARTITION BY o_orderstatus " +
                  "ORDER BY o_totalprice ASC, o_orderkey ASC)", 6)} AS pct_rank,
         |  ${rnd("cume_dist() OVER (PARTITION BY o_orderstatus " +
                  "ORDER BY o_totalprice ASC, o_orderkey ASC)", 6)} AS cume
         |FROM orders ORDER BY o_orderkey""".stripMargin,
  )

  // -------------------------------------------------------------------
  // Scalar families
  // -------------------------------------------------------------------

  val scalars: Map[String, Q] = Map(
    "q_str_funcs"   -> (Scalars.qStrFuncs _),
    "q_date_funcs"  -> (Scalars.qDateFuncs _),
    "q_math_funcs"  -> (Scalars.qMathFuncs _),
    "q_array_funcs" -> (Scalars.qArrayFuncs _),
    "q_map_funcs"   -> (Scalars.qMapFuncs _),
    "q_json_funcs"  -> (Scalars.qJsonFuncs _),
  )

  val scalarsOracle: Map[String, String] = Map(
    "q_str_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up_name, lower(p_brand) AS lo_brand,
        |  trim('  ' || p_type || '  ') AS tr_type,
        |  substring(p_name, 1, 8) AS sub_name,
        |  concat_ws('-', p_brand, p_type) AS cat_bt,
        |  length(p_name)::INT AS len_name,
        |  replace(p_type, ' ', '_') AS rep_type,
        |  lpad(p_brand, 12, '*') AS pad_brand,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
        |  (p_type LIKE '%ECO%') AS is_eco,
        |  array_to_string(string_split(p_name, ' '), '|') AS name_toks
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
        |  day(o_orderdate)::INT AS dy, quarter(o_orderdate)::INT AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon_start,
        |  o_orderdate + INTERVAL 5 DAY AS plus5,
        |  datediff('day', TIMESTAMP '1995-01-01', o_orderdate)::INT AS days_since,
        |  epoch_ms(o_orderdate) AS epoch_ms,
        |  last_day(o_orderdate) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${rnd("l_extendedprice * l_discount", 2)} AS rd,
         |  ${rnd("abs(l_extendedprice - 50000)", 2)} AS ab,
         |  CAST(ceil(l_discount * 100) AS BIGINT) AS ce,
         |  CAST(floor(l_tax * 100) AS BIGINT) AS fl,
         |  ${rnd("sqrt(l_extendedprice)", 6)} AS sq,
         |  ${rnd("ln(l_extendedprice + 1)", 6)} AS lg,
         |  ${rnd("exp(l_discount)", 6)} AS ex,
         |  ${rnd("pow(l_quantity, 2)", 2)} AS pw,
         |  ((l_orderkey - 3) % 7 + 7) % 7 AS pm,
         |  sign(l_discount - 0.05)::INT AS sg,
         |  greatest(l_extendedprice, l_quantity * 1000) AS gr,
         |  least(l_extendedprice, l_quantity * 1000) AS le
         |FROM lineitem ORDER BY l_orderkey, l_linenumber, rd, ab, fl, pw""".stripMargin,
    "q_array_funcs" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |e AS (SELECT doc_id, toks, unnest(generate_series(1, 3)) AS i FROM t)
         |SELECT doc_id,
         |  len(toks)::INT AS n_toks,
         |  toks[1] AS first_tok,
         |  array_to_string(toks[2:4], '|') AS sl,
         |  list_contains(toks, 'the') AS has_the,
         |  array_to_string(list_sort(toks[1:4]), '|') AS srt4,
         |  len(list_distinct(toks))::INT AS n_dist,
         |  array_to_string(flatten([toks[1:2], toks[3:4]]), '|') AS flat4,
         |  array_to_string(list_transform(generate_series(1, 3),
         |                  j -> toks[j] || '_' || toks[j+1]), '|') AS zipped,
         |  (i - 1)::INT AS pos, toks[i] AS tok
         |FROM e ORDER BY doc_id, pos""".stripMargin,
    "q_map_funcs" ->
      s"""WITH t AS (SELECT doc_id,
         |  map(['toks', 'chars'],
         |      [len($TOKS)::BIGINT, n_chars::BIGINT]) AS m
         |FROM documents)
         |SELECT doc_id,
         |  array_to_string(map_keys(m), '|') AS ks,
         |  array_to_string(map_values(m), '|') AS vs,
         |  map_extract(m, 'toks')[1] AS v_toks,
         |  map_extract(m, 'chars')[1] AS v_chars
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k')::INT AS k,
        |  json_extract_string(props, '$.k')::INT AS kj
        |FROM events ORDER BY event_id""".stripMargin,
  )

  // -------------------------------------------------------------------
  // Event-time (batch forms)
  // -------------------------------------------------------------------

  val events: Map[String, Q] = Map(
    "q_stream_tumbling" -> (Events.qStreamTumbling _),
    "q_stream_sliding"  -> (Events.qStreamSliding _),
    "q_stream_session"  -> (Events.qStreamSession _),
    "q_funnel"          -> (Events.qFunnel _),
    "q_retention"       -> (Events.qRetention _),
    "q_funnel_within"   -> (Events.qFunnelWithin _),
    "q_transitions"     -> (Events.qTransitions _),
    "q_paths"           -> (Events.qPaths _),
    "q_spike_detect"    -> (Events.qSpikeDetect _),
    "q_attribution"     -> (Events.qAttribution _),
    "q_gap_fill"        -> (Events.qGapFill _),
    "q_ewma"            -> (Events.qEwma _),
    "q_rolling_median"  -> (Events.qRollingMedian _),
    "q_seasonal_anomaly" -> (Events.qSeasonalAnomaly _),
    "q_robust_z"        -> (Events.qRobustZ _),
    "q_rolling_active"  -> (Events.qRollingActive _),
    "q_autocorr"        -> (Events.qAutocorr _),
    "q_rfm"             -> (Analytics.qRfm _),
    "q_market_basket"   -> (Analytics.qMarketBasket _),
    "q_cusum"           -> (Analytics.qCusum _),
    "q_ab_test"         -> (Analytics.qAbTest _),
    "q_auc"             -> (Analytics.qAuc _),
  )

  val eventsOracle: Map[String, String] = Map(
    // mirrors Events.gapFillHourly: cent-rounded integer-unit hourly
    // sums (order-independent), ffill/lerp via IGNORE-NULLS windows,
    // interpolation fraction on exact integer microsecond gaps
    "q_gap_fill" ->
      s"""WITH e AS (SELECT event_type, $TS AS ts, value FROM events),
         |hy AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n,
         |         sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS vc
         |       FROM e GROUP BY 1, 2),
         |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
         |             date_trunc('hour', max(ts)) AS h1 FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |sp AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
         |       FROM ty, b),
         |j AS (SELECT sp.event_type, sp.hr, coalesce(hy.n, 0) AS n,
         |        hy.vc::DOUBLE / 100 AS v
         |      FROM sp LEFT JOIN hy ON sp.event_type = hy.event_type AND sp.hr = hy.hr),
         |f AS (SELECT *,
         |        last_value(v IGNORE NULLS) OVER wp AS pv,
         |        last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER wp AS ph,
         |        first_value(v IGNORE NULLS) OVER wn AS nv,
         |        first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER wn AS nh
         |      FROM j
         |      WINDOW wp AS (PARTITION BY event_type ORDER BY hr
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |             wn AS (PARTITION BY event_type ORDER BY hr
         |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, hr, n, ${rnd("v", 2)} AS v, ${rnd("pv", 2)} AS v_ffill,
         |  ${rnd("CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL THEN nv " +
                  "WHEN nv IS NULL THEN pv ELSE pv + (nv - pv) " +
                  "* (epoch_us(hr) - epoch_us(ph))::DOUBLE " +
                  "/ (epoch_us(nh) - epoch_us(ph))::DOUBLE END", 6)} AS v_lerp
         |FROM f ORDER BY event_type, hr""".stripMargin,
    // mirrors Events.autocorrDaily: Pearson r from exact integer-cent
    // sums, one closed-form double expression, NULL on zero variance
    "q_autocorr" ->
      s"""WITH d AS (SELECT event_type, date_trunc('day', $TS) AS dy,
         |             sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS vc
         |           FROM events GROUP BY 1, 2),
         |ks AS (SELECT unnest(generate_series(1, 7))::INT AS k),
         |p AS (SELECT a.event_type, ks.k, a.vc AS x, b.vc AS y
         |      FROM d a CROSS JOIN ks
         |      JOIN d b ON a.event_type = b.event_type
         |              AND b.dy = a.dy + to_days(ks.k)),
         |g AS (SELECT event_type, k, count(*) AS n,
         |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |        sum(x * x) AS sxx, sum(y * y) AS syy
         |      FROM p GROUP BY 1, 2),
         |v AS (SELECT event_type, k, n,
         |        (n * sxy - sx * sy)::DOUBLE AS cov,
         |        (n * sxx - sx * sx)::DOUBLE AS vx,
         |        (n * syy - sy * sy)::DOUBLE AS vy
         |      FROM g)
         |SELECT event_type, k, n,
         |  CASE WHEN vx = 0 OR vy = 0 THEN NULL
         |       ELSE ${rnd("cov / sqrt(vx * vy)", 6)} END AS r
         |FROM v ORDER BY event_type, k""".stripMargin,
    // mirrors Events.rollingActives: bounded fan-out explode of
    // user-day facts, all-integer counts
    "q_rolling_active" ->
      s"""WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', $TS) AS d
         |            FROM events),
         |dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
         |sp AS (SELECT date_trunc('day', max($TS)) AS d1 FROM events),
         |co AS (SELECT DISTINCT user_id,
         |         unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS rd
         |       FROM ud),
         |ag AS (SELECT rd AS d, count(*) AS active_w FROM co GROUP BY rd)
         |SELECT ag.d::DATE AS d, coalesce(dau.dau, 0) AS dau, ag.active_w
         |FROM ag CROSS JOIN sp LEFT JOIN dau ON ag.d = dau.d
         |WHERE ag.d <= sp.d1 ORDER BY d""".stripMargin,
    // mirrors Analytics.abTest: integer conversion counts, one shared
    // pooled-z division/sqrt tree
    "q_ab_test" ->
      s"""WITH pu AS (SELECT user_id,
         |              max(CASE WHEN event_type = 'purchase' AND value > 90
         |                  THEN 1 ELSE 0 END) AS conv
         |            FROM events GROUP BY user_id),
         |v AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         |        conv FROM pu),
         |ag AS (SELECT variant, count(*) AS n, sum(conv)::BIGINT AS k
         |       FROM v GROUP BY variant),
         |ab AS (SELECT a.n AS n_a, a.k AS k_a, b.n AS n_b, b.k AS k_b
         |       FROM (SELECT n, k FROM ag WHERE variant = 'A') a,
         |            (SELECT n, k FROM ag WHERE variant = 'B') b),
         |s AS (SELECT n_a, k_a, n_b, k_b,
         |        k_a::DOUBLE / n_a AS p_a, k_b::DOUBLE / n_b AS p_b,
         |        (k_a + k_b)::DOUBLE / (n_a + n_b) AS p_pool
         |      FROM ab),
         |z AS (SELECT n_a, k_a, n_b, k_b, p_a, p_b,
         |        CASE WHEN p_pool = 0 OR p_pool = 1 THEN 0.0::DOUBLE
         |             ELSE (p_a - p_b) / sqrt(p_pool * (1.0::DOUBLE - p_pool)
         |               * (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)) END AS z
         |      FROM s)
         |SELECT n_a, k_a, n_b, k_b, ${rnd("p_a", 6)} AS p_a, ${rnd("p_b", 6)} AS p_b,
         |  ${rnd("z", 6)} AS z, abs(${rnd("z", 6)}) > 1.96 AS significant
         |FROM z""".stripMargin,
    // mirrors Analytics.auc: per-distinct-score (pos, neg) counts,
    // exact HUGEINT pair numerator (= the Spark side's DECIMAL(38,0)),
    // one double division on identical operands
    "q_auc" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$qualityCtes,
         |hh AS (SELECT doc_id, md5(text) AS h FROM documents),
         |g AS (SELECT h, count(*)::BIGINT AS gn FROM hh GROUP BY h),
         |l AS (SELECT hh.doc_id, (g.gn > 1) AS label
         |      FROM hh JOIN g USING (h)),
         |sc AS (SELECT q.quality AS s, l.label
         |       FROM q JOIN l ON q.doc_id = l.doc_id),
         |vc AS (SELECT s,
         |         sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS pos,
         |         sum(CASE WHEN label THEN 0 ELSE 1 END)::BIGINT AS neg
         |       FROM sc GROUP BY s),
         |c AS (SELECT s, pos, neg,
         |        coalesce(sum(neg) OVER (ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cneg
         |      FROM vc),
         |a AS (SELECT sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg,
         |        sum(pos::HUGEINT * (2 * cneg::HUGEINT + neg)) AS num2
         |      FROM c)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.5::DOUBLE
         |       ELSE ${rnd("num2::DOUBLE / (2::HUGEINT * n_pos * n_neg)::DOUBLE", 6)}
         |  END AS auc
         |FROM a""".stripMargin,
    // mirrors Analytics.rfm: deterministic (metric, user_id) ntile
    // orderings; both engines assign ntile remainder to the FIRST
    // buckets; cent-exact monetary
    "q_rfm" ->
      s"""WITH p AS (SELECT user_id, $TS AS ts, value FROM events
         |           WHERE event_type = 'purchase'),
         |hz AS (SELECT max(date_trunc('day', ts)) AS h FROM p),
         |per AS (SELECT user_id,
         |          max(date_trunc('day', ts)) AS last_d,
         |          count(*) AS frequency,
         |          sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS mc
         |        FROM p GROUP BY user_id),
         |m AS (SELECT user_id,
         |        date_diff('day', last_d, hz.h)::BIGINT AS recency_days,
         |        frequency, mc::DOUBLE / 100 AS monetary
         |      FROM per, hz),
         |sc AS (SELECT user_id, recency_days, frequency, monetary,
         |        (6 - ntile(5) OVER (ORDER BY recency_days, user_id))::INT AS r_score,
         |        ntile(5) OVER (ORDER BY frequency, user_id)::INT AS f_score,
         |        ntile(5) OVER (ORDER BY monetary, user_id)::INT AS m_score
         |      FROM m)
         |SELECT user_id, recency_days, frequency, ${rnd("monetary", 2)} AS monetary,
         |  r_score, f_score, m_score,
         |  r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
         |FROM sc ORDER BY user_id""".stripMargin,
    // mirrors Analytics.marketBasket: integer basket/item/pair counts,
    // ratios computed on identical doubles
    "q_market_basket" ->
      s"""WITH it AS (SELECT DISTINCT user_id, date_trunc('day', $TS) AS d,
         |              event_type AS item FROM events),
         |nb AS (SELECT count(*) AS n_baskets FROM
         |         (SELECT DISTINCT user_id, d FROM it)),
         |im AS (SELECT item, count(*) AS n_item FROM it GROUP BY item),
         |pr AS (SELECT a.item AS x, b.item AS y, count(*) AS n_xy
         |       FROM it a JOIN it b ON a.user_id = b.user_id AND a.d = b.d
         |       WHERE a.item < b.item GROUP BY 1, 2)
         |SELECT pr.x, pr.y, pr.n_xy, ix.n_item AS n_x, iy.n_item AS n_y,
         |  nb.n_baskets,
         |  ${rnd("pr.n_xy::DOUBLE / nb.n_baskets", 6)} AS support,
         |  ${rnd("pr.n_xy::DOUBLE / ix.n_item", 6)} AS conf_x_y,
         |  ${rnd("pr.n_xy::DOUBLE / iy.n_item", 6)} AS conf_y_x,
         |  ${rnd("pr.n_xy::DOUBLE * nb.n_baskets / (ix.n_item::DOUBLE * iy.n_item)", 6)} AS lift
         |FROM pr JOIN im ix ON pr.x = ix.item JOIN im iy ON pr.y = iy.item, nb
         |ORDER BY pr.x, pr.y""".stripMargin,
    // mirrors Analytics.cusum: the sequential max(0, ...) recursion as
    // list_reduce with a prepended 0 sentinel (DuckDB's reduce seeds
    // from the first element; the sentinel makes it Spark's
    // aggregate(hist, 0.0, ...) exactly), fold order = day order
    "q_cusum" ->
      s"""WITH e AS (SELECT event_type, $TS AS ts FROM events),
         |dy AS (SELECT event_type, date_trunc('day', ts) AS d, count(*) AS n
         |       FROM e GROUP BY 1, 2),
         |st AS (SELECT event_type, count(*) AS cnt, sum(n) AS s1, sum(n * n) AS s2
         |       FROM dy GROUP BY 1),
         |st2 AS (SELECT event_type, s1::DOUBLE / cnt AS mu,
         |          sqrt(s2::DOUBLE / cnt - (s1::DOUBLE / cnt) * (s1::DOUBLE / cnt)) AS sd
         |        FROM st),
         |sz AS (SELECT dy.event_type, dy.d, dy.n,
         |         CASE WHEN st2.sd = 0 THEN 0.0::DOUBLE
         |              ELSE (dy.n - st2.mu) / st2.sd END AS s
         |       FROM dy JOIN st2 ON dy.event_type = st2.event_type),
         |hh AS (SELECT event_type, d, n, s,
         |         list(s) OVER (PARTITION BY event_type ORDER BY d
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist
         |       FROM sz)
         |SELECT event_type, d::DATE AS d, n, ${rnd("s", 6)} AS s,
         |  ${rnd("list_reduce(list_prepend(0.0::DOUBLE, hist), " +
                  "(acc, x) -> greatest(0.0::DOUBLE, acc + x - 0.5::DOUBLE))", 6)} AS cusum_pos,
         |  ${rnd("list_reduce(list_prepend(0.0::DOUBLE, hist), " +
                  "(acc, x) -> greatest(0.0::DOUBLE, acc - x - 0.5::DOUBLE))", 6)} AS cusum_neg,
         |  (${rnd("list_reduce(list_prepend(0.0::DOUBLE, hist), " +
                  "(acc, x) -> greatest(0.0::DOUBLE, acc + x - 0.5::DOUBLE))", 6)} > 5.0
         |   OR ${rnd("list_reduce(list_prepend(0.0::DOUBLE, hist), " +
                  "(acc, x) -> greatest(0.0::DOUBLE, acc - x - 0.5::DOUBLE))", 6)} > 5.0) AS alarm
         |FROM hh ORDER BY event_type, d""".stripMargin,
    // mirrors Events.robustOutliers: integer daily counts on the
    // zero-filled spine, exact-half medians/MADs, one shared division
    "q_robust_z" ->
      s"""WITH e AS (SELECT event_type, $TS AS ts FROM events),
         |dy AS (SELECT event_type, date_trunc('day', ts) AS d, count(*) AS n
         |       FROM e GROUP BY 1, 2),
         |b AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM dy GROUP BY 1),
         |sp AS (SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
         |       FROM b),
         |f AS (SELECT sp.event_type, sp.d, coalesce(dy.n, 0) AS n
         |      FROM sp LEFT JOIN dy ON sp.event_type = dy.event_type AND sp.d = dy.d),
         |md AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM f GROUP BY 1),
         |dv AS (SELECT f.event_type, f.d, f.n, md.med, abs(f.n - md.med) AS ad
         |       FROM f JOIN md ON f.event_type = md.event_type),
         |ma AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dv GROUP BY 1),
         |z AS (SELECT dv.event_type, dv.d, dv.n, dv.med, ma.mad,
         |        ${rnd("CASE WHEN ma.mad = 0 THEN 0.0::DOUBLE " +
                        "ELSE 0.6745 * (dv.n - dv.med) / ma.mad END", 6)} AS rz
         |      FROM dv JOIN ma ON dv.event_type = ma.event_type)
         |SELECT event_type, d::DATE AS d, n, ${rnd("med", 6)} AS med,
         |  ${rnd("mad", 6)} AS mad, rz, abs(rz) > 3.5 AS outlier
         |FROM z ORDER BY event_type, d""".stripMargin,
    // mirrors Events.rollingQuantilesDaily: DuckDB's quantile_cont
    // over the same ROWS frame IS Spark's percentile definition
    // (h = (n-1)·q linear interpolation); frame contents are exact
    // cent doubles
    "q_rolling_median" ->
      s"""WITH e AS (SELECT event_type, $TS AS ts, value FROM events),
         |d AS (SELECT event_type, date_trunc('day', ts) AS dy,
         |        sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS vc
         |      FROM e GROUP BY 1, 2),
         |x AS (SELECT event_type, dy::DATE AS dy, vc::DOUBLE / 100 AS x FROM d)
         |SELECT event_type, dy, ${rnd("x", 2)} AS x,
         |  ${rnd("quantile_cont(x, 0.5) OVER w", 6)} AS roll_p50,
         |  ${rnd("quantile_cont(x, 0.9) OVER w", 6)} AS roll_p90,
         |  count(x) OVER w AS roll_n
         |FROM x WINDOW w AS (PARTITION BY event_type ORDER BY dy
         |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, dy""".stripMargin,
    // mirrors Events.seasonalAnomaly: per-(type, hour-of-day) baseline
    // from exact integer Σn and Σn² over the densified spine; identical
    // double expression trees on both engines
    "q_seasonal_anomaly" ->
      s"""WITH e AS (SELECT event_type, $TS AS ts FROM events),
         |hy AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
         |       FROM e GROUP BY 1, 2),
         |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
         |             date_trunc('hour', max(ts)) AS h1 FROM e),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |sp AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
         |       FROM ty, b),
         |f AS (SELECT sp.event_type, sp.hr, coalesce(hy.n, 0) AS n,
         |        hour(sp.hr)::INT AS hod
         |      FROM sp LEFT JOIN hy ON sp.event_type = hy.event_type AND sp.hr = hy.hr),
         |pr AS (SELECT event_type, hod, count(*) AS cnt,
         |         sum(n) AS s1, sum(n * n) AS s2
         |       FROM f GROUP BY 1, 2),
         |p2 AS (SELECT event_type, hod, s1::DOUBLE / cnt AS mu,
         |         sqrt(s2::DOUBLE / cnt - (s1::DOUBLE / cnt) * (s1::DOUBLE / cnt)) AS sd
         |       FROM pr),
         |z AS (SELECT f.event_type, f.hr, f.hod, f.n, p2.mu, p2.sd,
         |        ${rnd("CASE WHEN sd = 0 THEN 0.0::DOUBLE ELSE (n - mu) / sd END", 6)} AS z
         |      FROM f JOIN p2 ON f.event_type = p2.event_type AND f.hod = p2.hod)
         |SELECT event_type, hr, hod, n, ${rnd("mu", 6)} AS mu, ${rnd("sd", 6)} AS sd, z
         |FROM z WHERE abs(z) > 2.0 ORDER BY event_type, hr""".stripMargin,
    // mirrors Events.ewmaDaily: decay 0.5 → every weight a power of
    // two, every product exact, fold order = day order on both engines
    "q_ewma" ->
      s"""WITH e AS (SELECT event_type, $TS AS ts, value FROM events),
         |d AS (SELECT event_type, date_trunc('day', ts) AS dy,
         |        sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS vc
         |      FROM e GROUP BY 1, 2),
         |x AS (SELECT event_type, dy, vc::DOUBLE / 100 AS x FROM d),
         |h AS (SELECT event_type, dy, x,
         |        list(struct_pack(dy := dy, x := x)) OVER (
         |          PARTITION BY event_type ORDER BY dy
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist
         |      FROM x)
         |SELECT event_type, dy::DATE AS dy, ${rnd("x", 2)} AS x,
         |  ${rnd("list_sum(list_transform(hist, s -> s.x * pow(0.5, date_diff('day', s.dy, dy)))) " +
                  "/ list_sum(list_transform(hist, s -> pow(0.5, date_diff('day', s.dy, dy))))", 6)} AS ewma
         |FROM h ORDER BY event_type, dy""".stripMargin,
    "q_stream_tumbling" ->
      s"""SELECT time_bucket(INTERVAL '1 hour', $TS) AS ws, event_type,
         |  count(*) AS n, ${rnd("sum(value)", 2)} AS sv
         |FROM events GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
    "q_stream_sliding" ->
      s"""WITH e AS (SELECT time_bucket(INTERVAL '30 minutes', $TS) AS tb, value FROM events),
         |x AS (SELECT unnest([tb, tb - INTERVAL '30 minutes']) AS ws, value FROM e)
         |SELECT ws, count(*) AS n, ${rnd("sum(value)", 2)} AS sv
         |FROM x GROUP BY ws ORDER BY ws""".stripMargin,
    "q_stream_session" ->
      s"""WITH o AS (SELECT user_id, event_id, $TS AS ts FROM events),
         |l AS (SELECT user_id, event_id, ts,
         |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM o),
         |f AS (SELECT user_id, event_id, ts,
         |        CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
         |             THEN 1 ELSE 0 END AS is_new FROM l),
         |s AS (SELECT user_id, ts,
         |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |      FROM f)
         |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
         |       count(*) AS n_events
         |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin,
    "q_funnel" ->
      s"""WITH v AS (SELECT user_id, min($TS) AS t_view FROM events
         |           WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min($TS) AS t_click FROM events e
         |      JOIN v ON e.user_id = v.user_id AND $TS > v.t_view
         |      WHERE event_type = 'click' GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min($TS) AS t_buy FROM events e
         |      JOIN c ON e.user_id = c.user_id AND $TS > c.t_click
         |      WHERE event_type = 'purchase' GROUP BY e.user_id)
         |SELECT 1 AS stage, 'view' AS name, (SELECT count(*) FROM v) AS n_users
         |UNION ALL
         |SELECT 2, 'click', (SELECT count(*) FROM c)
         |UNION ALL
         |SELECT 3, 'purchase', (SELECT count(*) FROM p)
         |ORDER BY stage""".stripMargin,
    "q_funnel_within" ->
      s"""WITH v AS (SELECT user_id, min($TS) AS t_view FROM events
         |           WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min($TS) AS t_click FROM events e
         |      JOIN v ON e.user_id = v.user_id AND $TS > v.t_view
         |        AND $TS <= v.t_view + INTERVAL 1 HOUR
         |      WHERE event_type = 'click' GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min($TS) AS t_buy FROM events e
         |      JOIN c ON e.user_id = c.user_id AND $TS > c.t_click
         |        AND $TS <= c.t_click + INTERVAL 1 HOUR
         |      WHERE event_type = 'purchase' GROUP BY e.user_id)
         |SELECT 1 AS stage, 'view' AS name, (SELECT count(*) FROM v) AS n_users
         |UNION ALL
         |SELECT 2, 'click', (SELECT count(*) FROM c)
         |UNION ALL
         |SELECT 3, 'purchase', (SELECT count(*) FROM p)
         |ORDER BY stage""".stripMargin,
    "q_retention" ->
      s"""WITH ev AS (SELECT user_id, date_trunc('week', $TS) AS w FROM events),
         |f AS (SELECT user_id, min(w) AS cohort FROM ev GROUP BY user_id),
         |a AS (SELECT DISTINCT user_id, w FROM ev)
         |SELECT f.cohort,
         |  ((a.w::DATE - f.cohort::DATE) // 7)::INT AS week_offset,
         |  count(*) AS n_users
         |FROM a JOIN f USING (user_id)
         |GROUP BY f.cohort, week_offset
         |ORDER BY f.cohort, week_offset""".stripMargin,
    "q_transitions" ->
      s"""WITH o AS (SELECT event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY $TS, event_id) AS prev_type,
         |    epoch_us($TS) - epoch_us(lag($TS) OVER (PARTITION BY user_id ORDER BY $TS, event_id)) AS gap
         |  FROM events)
         |SELECT prev_type, event_type AS next_type, count(*) AS n,
         |  ${rnd("sum(gap)::DOUBLE / count(gap)", 2)} AS avg_gap_us
         |FROM o WHERE prev_type IS NOT NULL
         |GROUP BY prev_type, next_type ORDER BY prev_type, next_type""".stripMargin,
    "q_paths" ->
      s"""WITH o AS (SELECT event_type AS t0,
         |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY $TS, event_id) AS t1,
         |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY $TS, event_id) AS t2
         |  FROM events)
         |SELECT concat_ws('>', t0, t1, t2) AS path, count(*) AS n
         |FROM o WHERE t1 IS NOT NULL AND t2 IS NOT NULL
         |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "q_spike_detect" ->
      s"""WITH daily AS (SELECT event_type, date_trunc('day', $TS) AS d,
         |    count(*) AS n FROM events GROUP BY event_type, d),
         |b AS (SELECT event_type, min(d) AS d0, max(d) AS d1
         |      FROM daily GROUP BY event_type),
         |g AS (SELECT event_type,
         |        unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM b),
         |f AS (SELECT g.event_type, g.d, coalesce(daily.n, 0) AS n
         |      FROM g LEFT JOIN daily
         |        ON g.event_type = daily.event_type AND g.d = daily.d),
         |w AS (SELECT event_type, d, n,
         |    avg(n) OVER (PARTITION BY event_type ORDER BY d
         |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS mu,
         |    stddev(n) OVER (PARTITION BY event_type ORDER BY d
         |                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sd
         |  FROM f),
         |z AS (SELECT event_type, d, n,
         |    ${rnd("CASE WHEN sd IS NULL OR sd = 0.0 THEN 0.0" +
                   " ELSE (n - mu) / sd END", 6)} AS z
         |  FROM w)
         |SELECT event_type, d::DATE AS d, n, z,
         |  abs(z) > 3.0::DOUBLE AS spike
         |FROM z ORDER BY event_type, d""".stripMargin,
    "q_attribution" ->
      s"""WITH e AS (SELECT user_id, event_id, $TS AS ts, event_type, value
         |           FROM events
         |           WHERE event_type IN ('view', 'click', 'purchase')),
         |c AS (SELECT user_id, event_id, ts, event_type, value,
         |    last_value(CASE WHEN event_type IN ('view', 'click') THEN ts END
         |               IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ts,
         |    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
         |               IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
         |  FROM e)
         |SELECT CASE WHEN lt_ts IS NOT NULL AND ts <= lt_ts + INTERVAL 1 HOUR
         |            THEN lt_type ELSE 'direct' END AS channel,
         |  count(*) AS n_conv, ${rnd("sum(value)", 2)} AS revenue
         |FROM c WHERE event_type = 'purchase'
         |GROUP BY channel ORDER BY channel""".stripMargin,
  )

  // -------------------------------------------------------------------
  // Text / n-gram
  // -------------------------------------------------------------------

  val text: Map[String, Q] = Map(
    "q_tokenize"     -> (Text.qTokenize _),
    "q_tokenize_cjk" -> (Text.qTokenizeCjk _),
    "q_ngram_bigram" -> (Text.qNgramBigram _),
    "q_ngram_n"      -> (Text.qNgramN _),
    "q_ngram_count"  -> (Text.qNgramCount _),
    "q_ngram_novelty" -> (Text.qNgramNovelty _),
    "q_text_stats"   -> (Text.qTextStats _),
    "q_tfidf"        -> (Text.qTfidf _),
    "q_bm25"         -> (Text.qBm25 _),
    "q_phrase_search" -> (Search.qPhraseSearch _),
  )

  val textOracle: Map[String, String] = Map(
    // independent formulation: element-wise conjunction per start
    // position (the engine compares a slice against the phrase array);
    // the greatest(..., 1) clamp matches the engine's — position 1 on a
    // too-short doc compares against out-of-bounds NULLs → filtered out
    "q_phrase_search" -> {
      val conj = Search.Phrase.zipWithIndex
        .map { case (w, i) => s"toks[i + $i] = '$w'" }.mkString(" AND ")
      val n = Search.Phrase.length
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |m AS (SELECT doc_id,
         |        list_filter(generate_series(1, greatest(len(toks) - ${n - 1}, 1)),
         |                    i -> $conj) AS pos
         |      FROM t)
         |SELECT doc_id, len(pos)::INT AS n_matches, pos[1]::INT AS first_pos
         |FROM m WHERE len(pos) > 0 ORDER BY doc_id""".stripMargin
    },
    "q_tokenize" ->
      s"""SELECT doc_id, array_to_string($TOKS, '|') AS toks,
         |  len($TOKS)::INT AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // r15: script-aware tokenization over constructed mixed-script
    // input — the same regex class / run extraction / bigram slide as
    // Text.tokenizeScriptAware (RE2 \x{...} spelling of the Java
    // \uXXXX class; DuckDB substr/len are character-based like
    // Spark's, and the snippet literals are the same CjkFixtureChars)
    "q_tokenize_cjk" -> {
      val re = Text.CjkClassRe2 + "+"
      val cs = Text.CjkFixtureChars.map(c => s"'$c'").mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, text,
         |    cs[(doc_id % 11)::INT + 1] || cs[((doc_id + 3) % 11)::INT + 1] ||
         |    cs[((doc_id * 7 + 1) % 11)::INT + 1] AS snip
         |  FROM (SELECT doc_id, text, $cs AS cs FROM documents
         |        WHERE doc_id < 200)),
         |m AS (SELECT doc_id,
         |    CASE doc_id % 3 WHEN 0 THEN text || ' ' || snip
         |                    WHEN 1 THEN snip || ' ' || text
         |                    ELSE snip END AS text
         |  FROM d),
         |t AS (SELECT doc_id, list_concat(
         |    list_filter(string_split(lower(trim(regexp_replace(text, '$re', ' ', 'g'))), ' '),
         |                x -> x <> ''),
         |    flatten(list_transform(regexp_extract_all(text, '$re'),
         |      r -> list_transform(generate_series(1, greatest(len(r) - 1, 1)),
         |                          i -> substr(r, i, 2))))) AS toks
         |  FROM m)
         |SELECT doc_id, array_to_string(toks, '|') AS toks,
         |  len(toks)::INT AS n_tokens
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "q_ngram_bigram" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents)
         |SELECT doc_id,
         |  array_to_string(
         |    list_transform(generate_series(1, greatest(len(toks)-1, 0)),
         |                   i -> toks[i] || ' ' || toks[i+1]), '|') AS ngrams
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_ngram_n" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents)
         |SELECT doc_id,
         |  CASE WHEN len(toks) < 3 THEN ''
         |       ELSE array_to_string(
         |         list_transform(generate_series(1, len(toks)-2),
         |                        i -> array_to_string(toks[i:i+2], ' ')), '|')
         |  END AS ngrams
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_ngram_count" ->
      s"""WITH t AS (SELECT $TOKS AS toks FROM documents),
         |g AS (SELECT unnest(list_transform(generate_series(1, greatest(len(toks)-1,0)),
         |                    i -> toks[i] || ' ' || toks[i+1])) AS ngram FROM t)
         |SELECT ngram, count(*) AS cnt FROM g
         |GROUP BY ngram ORDER BY cnt DESC, ngram ASC LIMIT 50""".stripMargin,
    "q_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |        unnest(list_transform(generate_series(1, greatest(len(toks)-1,0)),
         |                              i -> toks[i] || ' ' || toks[i+1])) AS g
         |      FROM t),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
         |p AS (SELECT g.doc_id, count(*)::BIGINT AS n_grams,
         |        sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
         |          AS n_novel
         |      FROM g JOIN f USING (g) GROUP BY g.doc_id)
         |SELECT t.doc_id,
         |  coalesce(p.n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(p.n_novel, 0)::BIGINT AS n_novel,
         |  CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0.0::DOUBLE
         |       ELSE ${rnd("p.n_novel::DOUBLE / p.n_grams", 6)} END AS novelty
         |FROM t LEFT JOIN p ON t.doc_id = p.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "q_text_stats" ->
      s"""WITH t AS (SELECT lang, $TOKS AS toks, length(trim(text)) AS nc FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  ${rnd("avg(len(toks))", 2)} AS avg_tokens,
         |  ${rnd("avg(nc)", 2)} AS avg_chars,
         |  ${rnd("avg(len(list_distinct(toks))::DOUBLE / len(toks))", 6)} AS avg_distinct_ratio
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         |  ${rnd("tf.tf * ln(n.n_docs / dfq.df)", 6)} AS tfidf
         |FROM tf, dfq, n WHERE tf.term = dfq.term
         |ORDER BY tf.doc_id, tf.term""".stripMargin,
    // BM25 constants are interpolated from ops.Text so both engines are
    // GUARANTEED the identical doubles whatever values a caller picks
    // (shortest-repr round-trip), instead of trusting literal-vs-computed
    // folds to coincide.
    "q_bm25" -> {
      val terms = Text.Bm25Query.map(t => s"'$t'").mkString(", ")
      val k1 = Text.Bm25K1
      val b  = Text.Bm25B
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks)) AS avgdl FROM t),
         |e AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM e
         |       WHERE term IN ($terms) GROUP BY doc_id, dl, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |w AS (SELECT tf.doc_id,
         |        ln(1.0::DOUBLE + (s.n_docs - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE))
         |          * (tf.tf * ${k1 + 1.0}::DOUBLE)
         |          / (tf.tf + $k1::DOUBLE * (${1.0 - b}::DOUBLE + $b::DOUBLE * tf.dl / s.avgdl)) AS wt
         |      FROM tf JOIN dfq ON tf.term = dfq.term, s)
         |SELECT doc_id, count(*) AS n_hit, ${rnd("sum(wt)", 6)} AS bm25
         |FROM w GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 100""".stripMargin
    },
  )

  // -------------------------------------------------------------------
  // Dedup / similarity
  // -------------------------------------------------------------------

  val dedupSim: Map[String, Q] = Map(
    "q_dedup_exact"     -> (Dedup.qDedupExact _),
    "q_dedup_near"      -> (Dedup.qDedupNear _),
    "q_sim_jaccard"     -> (Dedup.qSimJaccard _),
    "q_sim_cosine_topk" -> (Similarity.qSimCosineTopk _),
    "q_knn"             -> (Similarity.qKnn _),
    "q_embed_quant"     -> (Quant.qEmbedQuant _),
    "q_embed_project"   -> (Quant.qEmbedProject _),
    "q_ann_quant"       -> (Quant.qAnnQuant _),
    "q_sim_containment" -> (Dedup.qSimContainment _),
    "q_embed_outlier"   -> (Similarity.qEmbedOutlier _),
    "q_source_overlap"  -> (Dedup.qSourceOverlap _),
    "q_dup_rate"        -> (Dedup.qDupRate _),
    "q_centroid_drift"  -> (Similarity.qCentroidDrift _),
    "q_hybrid_rrf"      -> (Search.qHybridRrf _),
    "q_rerank"          -> (Search.qRerank _),
    "q_embed_cov"       -> (Similarity.qEmbedCov _),
    "q_embed_pca"       -> (Similarity.qEmbedPca _),
  )

  /** Shared oracle CTE for the mirrored-corpus queries — interpolated
    * from Dedup's mirror constants so the constructed input can't
    * drift from the Spark side. */
  private val MIRROR =
    s"""m AS (SELECT doc_id, text, source, lang FROM documents
       |      UNION ALL
       |      SELECT doc_id + ${Dedup.MirrorOffset}, text,
       |             '${Dedup.MirrorSource}', lang
       |      FROM documents WHERE doc_id % ${Dedup.MirrorMod} = 0)""".stripMargin

  /** Shared oracle CTE: L2-normalized double vectors. */
  private val NORMVEC =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |      FROM v),
      |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM n)""".stripMargin

  /** Shared stage-1 hybrid-retrieval CTE chain (BM25 pool + dense
    * pool + RRF fusion), ending in `pool(doc_id, lex_rank,
    * dense_rank, rrf)` — consumed by the q_hybrid_rrf readout and as
    * the candidate set of q_rerank. A `def` (not a val): oracle maps
    * interpolate it during `<clinit>`, and defs are immune to the
    * initialization-order NPE class RegistryClinitSpec pins. */
  private def hybridPoolCtes: String = {
    val terms = Text.Bm25Query.map(t => s"'$t'").mkString(", ")
    val k1 = Text.Bm25K1
    val b  = Text.Bm25B
    val kk = Search.RrfK
    val pid = Search.HybridProbeId
    val pk = Search.HybridPoolK
    val tn = Search.HybridTopN
    val fuse = s"(CASE WHEN lex_rank = 0 THEN 0.0::DOUBLE " +
      s"ELSE 1.0::DOUBLE / (lex_rank + $kk) END + " +
      s"CASE WHEN dense_rank = 0 THEN 0.0::DOUBLE " +
      s"ELSE 1.0::DOUBLE / (dense_rank + $kk) END)"
    s"""t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks)) AS avgdl FROM t),
       |e AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM e
       |       WHERE term IN ($terms) GROUP BY doc_id, dl, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |w AS (SELECT tf.doc_id,
       |        ln(1.0::DOUBLE + (s.n_docs - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE))
       |          * (tf.tf * ${k1 + 1.0}::DOUBLE)
       |          / (tf.tf + $k1::DOUBLE * (${1.0 - b}::DOUBLE + $b::DOUBLE * tf.dl / s.avgdl)) AS wt
       |      FROM tf JOIN dfq ON tf.term = dfq.term, s),
       |bm AS (SELECT doc_id, ${rnd("sum(wt)", 6)} AS bm25 FROM w GROUP BY doc_id
       |       ORDER BY bm25 DESC, doc_id LIMIT $pk),
       |lr AS (SELECT doc_id,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id)::INT AS lex_rank
       |       FROM bm),
       |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |nn AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
       |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM nn),
       |pv AS (SELECT vn AS pvn FROM u WHERE vec_id = $pid),
       |ds AS (SELECT u.vec_id AS doc_id,
       |         ${rnd("list_sum(list_transform(generate_series(1, 64), i -> u.vn[i] * pv.pvn[i]))", 6)} AS cos_sim
       |       FROM u, pv WHERE u.vec_id <> $pid
       |       ORDER BY cos_sim DESC, doc_id LIMIT $pk),
       |dr AS (SELECT doc_id,
       |         row_number() OVER (ORDER BY cos_sim DESC, doc_id)::INT AS dense_rank
       |       FROM ds),
       |f AS (SELECT coalesce(lr.doc_id, dr.doc_id) AS doc_id,
       |        coalesce(lex_rank, 0) AS lex_rank,
       |        coalesce(dense_rank, 0) AS dense_rank
       |      FROM lr FULL OUTER JOIN dr ON lr.doc_id = dr.doc_id),
       |pool AS (SELECT doc_id, lex_rank, dense_rank, ${rnd(fuse, 6)} AS rrf
       |         FROM f ORDER BY rrf DESC, doc_id LIMIT $tn)""".stripMargin
  }

  /** The engine's fixed-seed MinHash permutation constants as a
    * DuckDB VALUES CTE — interpolated from [[graft.ops.Dedup.permA]]/
    * `permB` directly so the oracle can never drift from the plan. */
  private def mhPermsCte: String = {
    val vals = graft.ops.Dedup.permA.zip(graft.ops.Dedup.permB).zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")
    s"mh_perms(i, a, b) AS (SELECT * FROM (VALUES $vals) AS pv(i, a, b))"
  }

  /** MinHash CTE chain over a (doc_id, toks) CTE named `src` — the
    * exact SQL mirror of the engine's signature pipeline (r12,
    * verdict #2 continued): 3-token shingles, md5-low64 mod p shingle
    * hashes ([[graft.functions.ShingleHashes]]'s prime>0 mode —
    * DuckDB's `md5_number_lower(s) % p` in UBIGINT arithmetic,
    * bit-for-bit `Long.remainderUnsigned`), 48-permutation signatures
    * (min (a*h+b) mod p — products < 2^62, no overflow on either
    * engine), and the md5 "band,v1,..,v4" band keys
    * ([[graft.ops.Dedup.bandKey]]). Emits CTEs `<p>sh` (doc_id, h)
    * and `<p>bnd` (doc_id, band, bkey); requires [[mhPermsCte]] in
    * the same WITH. */
  private def minhashCtes(p: String, src: String): String = {
    val prime = graft.ops.Dedup.MersennePrime
    val rpb = graft.ops.Dedup.MinhashK / graft.ops.Dedup.Bands
    s"""${p}g AS (SELECT doc_id,
       |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sgl
       |  FROM $src, unnest(generate_series(1, len(toks) - 2)) AS u(i)),
       |${p}sh AS (SELECT DISTINCT doc_id,
       |    (md5_number_lower(sgl) % ${prime}::UBIGINT)::BIGINT AS h
       |  FROM ${p}g),
       |${p}sig AS (SELECT doc_id, mp.i, min((mp.a * h + mp.b) % $prime) AS v
       |  FROM ${p}sh CROSS JOIN mh_perms mp GROUP BY doc_id, mp.i),
       |${p}bnd AS (SELECT doc_id, (i // $rpb) AS band,
       |    md5((i // $rpb)::VARCHAR || ',' ||
       |        string_agg(v::VARCHAR, ',' ORDER BY i)) AS bkey
       |  FROM ${p}sig GROUP BY doc_id, (i // $rpb))""".stripMargin
  }

  val dedupSimOracle: Map[String, String] = Map(
    // exact DECIMAL(38,0) carrier at 2^50 (power-of-two scaling is
    // exact on float32-origin doubles) — the per-(label, dim) sum is
    // order-independent, so this query does NOT inherit q_kmeans's
    // FP-order golden exemption
    // RRF fusion: BM25 constants and the probe/pool/cut parameters are
    // interpolated from ops.Search/ops.Text so both engines are
    // guaranteed identical values; both pools rank on ROUNDED scores
    // with a doc_id tiebreak, so rank assignment (and therefore the
    // fused order) is reproducible across engines
    "q_hybrid_rrf" ->
      s"""WITH $hybridPoolCtes
         |SELECT doc_id, lex_rank, dense_rank, rrf
         |FROM pool ORDER BY rrf DESC, doc_id""".stripMargin,
    // stage-2 reranking over the stage-1 pool: features are each
    // rounded to 6 dp BEFORE the readout, so both engines combine
    // identical operands; weights/terms interpolated from ops.Search
    "q_rerank" -> {
      val terms = Text.Bm25Query
      val (wRrf, wCov, wQtf, wPos, wLen) = Search.RerankWeights
      val covSql = terms.map(t =>
        s"CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END").mkString(" + ")
      val qtfSql = terms.map(t =>
        s"len(list_filter(toks, x -> x = '$t'))").mkString(" + ")
      // DuckDB 1.0 list_position returns 0 when absent and least()
      // ignores NULLs — exactly Spark's array_position/least contract,
      // so the same nullif-absences-then-coalesce-0 shape works
      val posSql = terms.map(t =>
        s"nullif(list_position(toks, '$t'), 0)").mkString(", ")
      s"""WITH $hybridPoolCtes,
         |s2 AS (SELECT sum(len(toks))::DOUBLE / count(*) AS avgdl FROM t),
         |ft AS (SELECT p.doc_id, p.rrf, t.toks,
         |         greatest(len(t.toks)::DOUBLE, 1.0) AS dl
         |       FROM pool p JOIN t ON p.doc_id = t.doc_id),
         |fx AS (SELECT doc_id, rrf,
         |         ${rnd(s"($covSql)::DOUBLE / ${terms.size}", 6)} AS cov,
         |         ${rnd(s"($qtfSql)::DOUBLE / dl", 6)} AS qtf,
         |         coalesce(least($posSql), 0)::BIGINT AS first_pos,
         |         ${rnd("abs(ln(dl / s2.avgdl))", 6)} AS len_prior
         |       FROM ft, s2),
         |fy AS (SELECT doc_id, rrf, cov, qtf, first_pos, len_prior,
         |         CASE WHEN first_pos = 0 THEN 0.0::DOUBLE
         |              ELSE ${rnd("1.0::DOUBLE / first_pos", 6)} END AS pos_feat
         |       FROM fx)
         |SELECT doc_id, rrf, cov, qtf, first_pos, pos_feat, len_prior,
         |  ${rnd(s"$wRrf::DOUBLE * rrf + $wCov::DOUBLE * cov + $wQtf::DOUBLE * qtf" +
                 s" + $wPos::DOUBLE * pos_feat - $wLen::DOUBLE * len_prior", 6)} AS rerank
         |FROM fy ORDER BY rerank DESC, doc_id""".stripMargin
    },
    // covariance on the centroid-drift integer-carrier discipline
    // extended to second moments: per-row float32 products are exact
    // in double and exact integers at scale 2^100, so every sum is
    // order-independent and the one combining double expression sees
    // identical operands in both engines
    "q_embed_cov" -> covOracleSql,
    "q_embed_pca" -> pcaOracleSql(),
    "q_centroid_drift" ->
      """WITH e AS (SELECT label, i AS dim, embedding[i]::DOUBLE AS x
        |           FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        |s AS (SELECT label, dim,
        |        sum(CAST(x * 1125899906842624.0 AS DECIMAL(38,0))) AS sm
        |      FROM e GROUP BY label, dim),
        |cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        |c AS (SELECT s.label, s.dim,
        |        sm::DOUBLE / (1125899906842624.0 * cnt.n) AS mu
        |      FROM s JOIN cnt USING (label)),
        |arr AS (SELECT label, list(mu ORDER BY dim) AS cv FROM c GROUP BY label),
        |j AS (SELECT arr.label, cv, n FROM arr JOIN cnt USING (label))
        |SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
        |  round(CAST(CAST((
        |    list_sum(list_transform(generate_series(1, len(a.cv)), i -> a.cv[i] * b.cv[i]))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(a.cv)), i -> a.cv[i] * a.cv[i])))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(b.cv)), i -> b.cv[i] * b.cv[i]))))
        |  ) AS VARCHAR) AS DECIMAL(38,18)), 6)::DOUBLE AS centroid_cos
        |FROM j a, j b WHERE a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin,
    "q_dedup_exact" ->
      """SELECT sha256(text) AS h, min(doc_id) AS keeper, count(*) AS n_dups
        |FROM documents GROUP BY h ORDER BY h""".stripMargin,
    // r12: the unrolled exact-carrier Lloyd run (see kmeansOracleSql)
    "q_kmeans" -> kmeansOracleSql(),
    // r12 (verdict #2): oracle-checkable since the per-token hash is
    // md5-low64 — DuckDB's md5_number_lower, bit-for-bit the engine's
    // little-endian u64 of digest bytes 8..15. The full pipeline
    // mirrors the engine: Charikar bit-majority simhash, 4x16-bit
    // banding, pair dedup, exact hamming <= 8 verify
    "q_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |tok AS (SELECT doc_id, md5_number_lower(unnest(toks)) AS h FROM t),
         |bits AS (SELECT doc_id, b.range AS b,
         |    sum(CASE WHEN (h >> b.range::INT) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM tok CROSS JOIN range(64) b GROUP BY doc_id, b.range),
         |sh AS (SELECT doc_id,
         |    bit_or(CASE WHEN s > 0 THEN 1::UBIGINT << b::INT
         |                ELSE 0::UBIGINT END) AS sh
         |  FROM bits GROUP BY doc_id),
         |banded AS (SELECT doc_id, sh,
         |    b.range::INT AS band, ((sh >> (b.range * 16)::INT) & 65535) AS bkey
         |  FROM sh CROSS JOIN range(4) b),
         |cand AS (SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |    a.sh AS sha, b2.sh AS shb
         |  FROM banded a JOIN banded b2
         |    ON a.band = b2.band AND a.bkey = b2.bkey
         |   AND a.doc_id < b2.doc_id),
         |d AS (SELECT DISTINCT doc_a, doc_b,
         |    bit_count(xor(sha, shb))::INT AS hamming FROM cand)
         |SELECT doc_a, doc_b, hamming FROM d
         |WHERE hamming <= 8 ORDER BY doc_a, doc_b""".stripMargin,
    // r12 (verdict #2 continued): q_dedup_near leaves the exempt list
    // the same way simhash did — every hash in the MinHash pipeline
    // (md5-low64 shingles, fixed-seed permutations interpolated from
    // the plan constants, md5 band keys) is now engine-independent, so
    // banding candidates AND the exact-Jaccard verify mirror in SQL
    "q_dedup_near" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$mhPermsCte,
         |${minhashCtes("mh_", "t")},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM mh_bnd a JOIN mh_bnd b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS n FROM mh_sh GROUP BY doc_id),
         |itr AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c JOIN mh_sh x ON x.doc_id = c.doc_a
         |              JOIN mh_sh y ON y.doc_id = c.doc_b AND y.h = x.h
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b, ${rnd("jac", 6)} AS jac FROM (
         |  SELECT i.doc_a, i.doc_b,
         |    i.inter::DOUBLE / (sa.n + sb.n - i.inter) AS jac
         |  FROM itr i JOIN sz sa ON sa.doc_id = i.doc_a
         |             JOIN sz sb ON sb.doc_id = i.doc_b) q
         |WHERE jac >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    // same pipeline probed incrementally: corpus index vs the synthetic
    // truncated re-crawl batch (doc_id < 50, +100000, last token cut)
    "q_dedup_incr_near" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |ti AS (SELECT doc_id + 100000 AS doc_id,
         |         toks[1:len(toks)-1] AS toks
         |       FROM t WHERE doc_id < 50),
         |$mhPermsCte,
         |${minhashCtes("mh_", "t")},
         |${minhashCtes("mi_", "ti")},
         |cand AS (SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corpus_id
         |  FROM mh_bnd c JOIN mi_bnd i ON c.band = i.band AND c.bkey = i.bkey),
         |szc AS (SELECT doc_id, count(*) AS n FROM mh_sh GROUP BY doc_id),
         |szi AS (SELECT doc_id, count(*) AS n FROM mi_sh GROUP BY doc_id),
         |itr AS (SELECT c.inc_id, c.corpus_id, count(*) AS inter
         |  FROM cand c JOIN mi_sh x ON x.doc_id = c.inc_id
         |              JOIN mh_sh y ON y.doc_id = c.corpus_id AND y.h = x.h
         |  GROUP BY c.inc_id, c.corpus_id)
         |SELECT doc_id, corpus_id, ${rnd("jac", 6)} AS jac FROM (
         |  SELECT i.inc_id AS doc_id, i.corpus_id,
         |    i.inter::DOUBLE / (si.n + sc.n - i.inter) AS jac
         |  FROM itr i JOIN szi si ON si.doc_id = i.inc_id
         |             JOIN szc sc ON sc.doc_id = i.corpus_id) q
         |WHERE jac >= 0.8 ORDER BY doc_id, corpus_id""".stripMargin,
    // r15: index maintenance — the incr-near probe decides accepts,
    // then the accepted docs' band rows are recomputed with the SAME
    // md5/permutation constants the index build uses
    "q_dedup_index_append" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |ti AS (SELECT doc_id + 100000 AS doc_id,
         |         toks[1:len(toks)-1] AS toks
         |       FROM t WHERE doc_id < 50
         |       UNION ALL
         |       SELECT doc_id + 200000,
         |         list_transform(toks, x -> 'x' || x)
         |       FROM t WHERE doc_id < 30),
         |$mhPermsCte,
         |${minhashCtes("mh_", "t")},
         |${minhashCtes("mi_", "ti")},
         |cand AS (SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corpus_id
         |  FROM mh_bnd c JOIN mi_bnd i ON c.band = i.band AND c.bkey = i.bkey),
         |szc AS (SELECT doc_id, count(*) AS n FROM mh_sh GROUP BY doc_id),
         |szi AS (SELECT doc_id, count(*) AS n FROM mi_sh GROUP BY doc_id),
         |itr AS (SELECT c.inc_id, c.corpus_id, count(*) AS inter
         |  FROM cand c JOIN mi_sh x ON x.doc_id = c.inc_id
         |              JOIN mh_sh y ON y.doc_id = c.corpus_id AND y.h = x.h
         |  GROUP BY c.inc_id, c.corpus_id),
         |matched AS (SELECT DISTINCT inc_id FROM (
         |  SELECT i.inc_id,
         |    i.inter::DOUBLE / (si.n + sc.n - i.inter) AS jac
         |  FROM itr i JOIN szi si ON si.doc_id = i.inc_id
         |             JOIN szc sc ON sc.doc_id = i.corpus_id) q
         |  WHERE jac >= 0.8)
         |SELECT doc_id, band, bkey FROM mi_bnd
         |WHERE doc_id NOT IN (SELECT inc_id FROM matched)
         |ORDER BY doc_id, band""".stripMargin,
    "q_sim_jaccard" ->
      s"""WITH d AS (SELECT doc_id, lang, list_distinct($TOKS) AS tset FROM documents)
         |SELECT doc_a, doc_b, ${rnd("jac", 6)} AS jac FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_distinct(list_intersect(a.tset, b.tset)))::DOUBLE
         |      / len(list_distinct(a.tset || b.tset)) AS jac
         |  FROM d a, d b
         |  WHERE a.lang = b.lang AND a.doc_id < b.doc_id) p
         |WHERE jac >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    "q_sim_cosine_topk" ->
      s"""$NORMVEC
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${rnd("list_sum(list_transform(generate_series(1, 64), i -> a.vn[i] * b.vn[i]))", 6)} AS cos_sim
         |FROM u a, u b WHERE a.vec_id < b.vec_id
         |ORDER BY cos_sim DESC, id_a, id_b LIMIT 100""".stripMargin,
    "q_knn" ->
      s"""$NORMVEC,
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${rnd("list_sum(list_transform(generate_series(1, 64), i -> a.vn[i] * b.vn[i]))", 6)} AS cos_sim
         |  FROM u a, u b WHERE a.vec_id <> b.vec_id),
         |r AS (SELECT id_a, id_b, cos_sim,
         |  row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b ASC)::INT AS rn
         |  FROM p)
         |SELECT id_a, rn, id_b, cos_sim FROM r WHERE rn <= 3
         |ORDER BY id_a, rn""".stripMargin,
    "q_embed_quant" -> Quant.oracleSql,
    "q_embed_project" -> Quant.projectOracleSql,
    "q_source_overlap" ->
      s"""WITH $MIRROR,
         |hs AS (SELECT DISTINCT sha256(text) AS h, source FROM m)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_shared
         |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
         |GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin,
    "q_dup_rate" ->
      s"""WITH $MIRROR,
         |hashed AS (SELECT source, sha256(text) AS h FROM m),
         |df AS (SELECT h, count(*) AS hdf FROM hashed GROUP BY h)
         |SELECT source, count(*) AS n_docs,
         |  sum(CASE WHEN hdf > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
         |  ${rnd("sum(CASE WHEN hdf > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)", 6)}
         |    AS dup_doc_rate
         |FROM hashed JOIN df USING (h)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q_embed_outlier" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |           FROM embeddings),
         |e AS (SELECT vec_id, unnest(v) AS x,
         |        unnest(generate_series(1, len(v))) AS pos FROM v),
         |c AS (SELECT pos, avg(x) AS c FROM e GROUP BY pos),
         |ct AS (SELECT list(c ORDER BY pos) AS cent FROM c),
         |d AS (SELECT vec_id,
         |  sqrt(list_sum(list_transform(generate_series(1, len(v.v)),
         |    i -> (v.v[i] - ct.cent[i]) * (v.v[i] - ct.cent[i])))) AS dist
         |  FROM v, ct),
         |s AS (SELECT avg(dist) AS mu, stddev(dist) AS sd FROM d)
         |SELECT vec_id, ${rnd("dist", 6)} AS dist,
         |  ${rnd("CASE WHEN s.sd IS NULL OR s.sd = 0.0 THEN 0.0" +
                 " ELSE (d.dist - s.mu) / s.sd END", 6)} AS dist_z
         |FROM d, s ORDER BY dist_z DESC, vec_id LIMIT 50""".stripMargin,
    "q_sim_containment" ->
      s"""WITH d AS (SELECT doc_id, lang, list_distinct($TOKS) AS tset FROM documents)
         |SELECT doc_a, doc_b, ${rnd("cont", 6)} AS cont FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_distinct(list_intersect(a.tset, b.tset)))::DOUBLE
         |      / len(list_distinct(a.tset)) AS cont
         |  FROM d a, d b
         |  WHERE a.lang = b.lang AND a.doc_id <> b.doc_id) p
         |WHERE cont >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
  )

  // -------------------------------------------------------------------
  // North-star extras: text analysis, simhash/embedding dedup, ANN,
  // multimodal plumbing
  // -------------------------------------------------------------------

  val extras: Map[String, Q] = Map(
    "q_lang_id"             -> (TextAnalysis.qLangId _),
    "q_lang_id_script"      -> (TextAnalysis.qLangIdScript _),
    "q_quality_score"       -> (TextAnalysis.qQualityScore _),
    "q_token_count"         -> (TextAnalysis.qTokenCount _),
    "q_fingerprint"         -> (TextAnalysis.qFingerprint _),
    "q_curate"              -> (TextAnalysis.qCurate _),
    "q_collocations"        -> (TextAnalysis.qCollocations _),
    "q_length_hist"         -> (TextAnalysis.qLengthHist _),
    "q_dedup_cluster"       -> (Dedup.qDedupCluster _),
    "q_dedup_keep_best"     -> (Dedup.qDedupKeepBest _),
    "q_dedup_simhash"       -> (Dedup.qDedupSimhash _),
    "q_dedup_embed"         -> (Similarity.qDedupEmbed _),
    "q_ann_ivf"             -> (Similarity.qAnnIvf _),
    "q_ann_pq"              -> (Quant.qAnnPq _),
    "q_multimodal_features" -> (Multimodal.qMultimodalFeatures _),
    "q_image_resize"        -> (Multimodal.qImageResize _),
    "q_frame_sample"        -> (Multimodal.qFrameSample _),
    "q_audio_stats"         -> (Multimodal.qAudioStats _),
    "q_sql_q1"              -> (Sql.qSqlQ1 _),
    "q_sql_q3"              -> (Sql.qSqlQ3 _),
    "q_sql_q5"              -> (Sql.qSqlQ5 _),
    "q_sql_q10"             -> (Sql.qSqlQ10 _),
    "q_sql_q18"             -> (Sql.qSqlQ18 _),
    "q_token_entropy"       -> (TextAnalysis.qTokenEntropy _),
    "q_perplexity"          -> (TextAnalysis.qPerplexity _),
    "q_perplexity_kn"       -> (TextAnalysis.qPerplexityKn _),
    "q_perplexity_target"   -> (TextAnalysis.qPerplexityTarget _),
    "q_pii_redact"          -> (TextAnalysis.qPiiRedact _),
    "q_normalize_text"      -> (TextAnalysis.qNormalizeText _),
    "q_kmeans"              -> (Clustering.qKmeans _),
    "q_domain_stats"        -> (TextAnalysis.qDomainStats _),
    "q_corpus_kl"           -> (TextAnalysis.qCorpusKl _),
    "q_dedup_span"          -> (Dedup.qDedupSpan _),
    "q_span_depth"          -> (Dedup.qSpanDepth _),
    "q_dedup_span_cut"      -> (Dedup.qDedupSpanCut _),
    "q_sql_scalar"          -> (Sql.qSqlScalar _),
    "q_sql_q6"              -> (Sql.qSqlQ6 _),
    "q_cooccur"             -> (TextAnalysis.qCooccur _),
    "q_sql_q4"              -> (Sql.qSqlQ4 _),
    "q_sql_q7"              -> (Sql.qSqlQ7 _),
    "q_sql_q12"             -> (Sql.qSqlQ12 _),
    "q_sql_q13"             -> (Sql.qSqlQ13 _),
    "q_sql_q14"             -> (Sql.qSqlQ14 _),
    "q_sql_q17"             -> (Sql.qSqlQ17 _),
    "q_sql_q19"             -> (Sql.qSqlQ19 _),
    "q_sql_q21"             -> (Sql.qSqlQ21 _),
    "q_sql_q22"             -> (Sql.qSqlQ22 _),
    "q_sql_q2"              -> (Sql.qSqlQ2 _),
    "q_sql_q9"              -> (Sql.qSqlQ9 _),
    "q_sql_q11"             -> (Sql.qSqlQ11 _),
    "q_sql_q16"             -> (Sql.qSqlQ16 _),
    "q_sql_q20"             -> (Sql.qSqlQ20 _),
    "q_heavy_hitters"       -> (TextAnalysis.qHeavyHitters _),
    "q_profile"             -> (Profile.qProfile _),
    "q_assoc_stats"         -> (Profile.qAssocStats _),
    "q_fuzzy_join"          -> (Fuzzy.qFuzzyJoin _),
    "q_sssp"                -> (Graph.qSssp _),
    "q_modularity"          -> (Graph.qModularity _),
    "q_winsorize"           -> (Profile.qWinsorize _),
    "q_benford"             -> (Profile.qBenford _),
    "q_jaro_sim"            -> (Fuzzy.qJaroSim _),
    "q_gini"                -> (Profile.qGini _),
    "q_key_skew"            -> (Profile.qKeySkew _),
    "q_entity_resolution"   -> (Fuzzy.qEntityResolution _),
    "q_target_encoding"     -> (Profile.qTargetEncoding _),
    "q_psi_drift"           -> (Profile.qPsiDrift _),
    "q_ks_test"             -> (Profile.qKsTest _),
    "q_join_cardinality"    -> (Profile.qJoinCardinality _),
    "q_quantile_bins"       -> (Profile.qQuantileBins _),
    "q_histogram_2d"        -> (Profile.qHistogram2d _),
    "q_burstiness"          -> (Profile.qBurstiness _),
    "q_dedup_incremental"   -> (Dedup.qDedupIncremental _),
    "q_resample"            -> (Events.qResample _),
    "q_unpivot"             -> (Aggregates.qUnpivot _),
    "q_hll_users"           -> (Aggregates.qHllUsers _),
    "q_bitmap_users"        -> (Aggregates.qBitmapUsers _),
    "q_scd2"                -> (Events.qScd2 _),
    "q_dedup_incr_near"     -> (Dedup.qDedupIncrNear _),
    "q_dedup_index_append"  -> (Dedup.qDedupIndexAppend _),
    "q_semantic_decontaminate" -> (Similarity.qSemanticDecontaminate _),
    "q_sql_recursive"       -> (Sql.qSqlRecursive _),
    "q_corpus_diff"         -> (Dedup.qCorpusDiff _),
    "q_quality_z"           -> (TextAnalysis.qQualityZ _),
    "q_quality_tiers"       -> (TextAnalysis.qQualityTiers _),
    "q_heavy_hitters_by_lang" -> (TextAnalysis.qHeavyHittersByLang _),
    "q_upsert"              -> (Dedup.qUpsert _),
    "q_corpus_refresh"      -> (Dedup.qCorpusRefresh _),
    "q_sql_q8"              -> (Sql.qSqlQ8 _),
    "q_sql_q15"             -> (Sql.qSqlQ15 _),
    "q_html_extract"        -> (Html.qHtmlExtract _),
    "q_token_bpe"           -> (TextAnalysis.qTokenBpe _),
    "q_bpe_learn"           -> (BpeTrain.qBpeLearn _),
    "q_quality_model"       -> (TextAnalysis.qQualityModel _),
    "q_train_quality"       -> (TextAnalysis.qTrainQuality _),
    "q_url_canon"           -> (Url.qUrlCanon _),
    "q_dedup_url"           -> (Url.qDedupUrl _),
    "q_url_filter"          -> (Url.qUrlFilter _),
    "q_anchor_text"         -> (Links.qAnchorText _),
    "q_wat_links"           -> (Links.qWatLinks _),
    "q_page_rank"           -> (Graph.qPageRank _),
    "q_link_degree"         -> (Graph.qLinkDegree _),
    "q_graph_reciprocity"   -> (Graph.qGraphReciprocity _),
    "q_assortativity"       -> (Graph.qAssortativity _),
    "q_zipf_fit"            -> (CorpusLaws.qZipfFit _),
    "q_heaps_fit"           -> (CorpusLaws.qHeapsFit _),
    "q_hits"                -> (Graph.qHits _),
    "q_label_prop"          -> (Graph.qLabelProp _),
    "q_triangle_count"      -> (Graph.qTriangleCount _),
    "q_bfs_depth"           -> (Graph.qBfsDepth _),
    "q_kcore"               -> (Graph.qKCore _),
    "q_ppr"                 -> (Graph.qPpr _),
  )

  private lazy val langLists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "nicht", "ist"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "you", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr" -> Seq("le", "de", "un", "et", "la", "il", "ne", "je", "pas", "que"),
    "zh" -> Seq("de", "yi", "shi", "bu", "le", "ren", "wo", "zai", "you", "ta"),
  )

  /** The q_lang_id oracle, parameterized by source relation (r15:
    * q_lang_id_script feeds a constructed mixed-script subquery).
    * Mirrors TextAnalysis.langId exactly: SCRIPT TIER FIRST (kana ⇒
    * ja, hangul ⇒ ko, Han ⇒ zh — character counts by delete-and-
    * length-diff, same as the Spark side), stopword-overlap argmax
    * with alphabetical tiebreak within Latin. */
  private def langIdOracleSql(src: String): String = {
    val scores = langLists.map { case (l, ws) =>
      s"len(list_intersect(tset, ${sqlList(ws)}))::INT AS s_$l" }.mkString(",\n  ")
    val langs = langLists.map(_._1)
    val cases = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge AND s_$l > 0 THEN '$l'" }.mkString("\n    ")
    def nScript(cls: String) =
      s"length(text) - length(regexp_replace(text, '$cls', '', 'g'))"
    val kana = nScript("[\\x{3040}-\\x{30FF}]")
    val hangul = nScript("[\\x{AC00}-\\x{D7AF}]")
    val han = nScript("[\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]")
    s"""WITH t AS (SELECT doc_id, lang, text,
       |  list_distinct($TOKS) AS tset FROM $src),
       |s AS (SELECT doc_id, lang, text,
       |  $scores
       |FROM t),
       |p AS (SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
       |  CASE WHEN $kana > 0 THEN 'ja'
       |       WHEN $hangul > 0 THEN 'ko'
       |       WHEN $han > 0 THEN 'zh'
       |       ELSE CASE $cases ELSE 'und' END END AS pred
       |FROM s)
       |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh, pred,
       |  (pred = lang) AS agrees
       |FROM p ORDER BY doc_id""".stripMargin
  }
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB twins of [[ops.TextAnalysis.modelQualityCols]]'s feature
    * build (unigrams + space-joined bigrams) and integer milli-unit
    * weight sum — shared by q_quality_model and q_curate_web. */
  /** Shared quality-composite CTEs (read from a `t(doc_id, toks, …)`
    * CTE): `q0` = per-doc length/TTR/stopword stats, `q` = (doc_id,
    * n_toks, quality) with the ROUNDED 0.3/0.3/0.4 blend. ONE
    * definition feeding the quality_tiers / curate / domain_stats /
    * dedup_keep_best oracles, so an edit to the blend cannot
    * desynchronize them from the shared Spark `qualityScore` engine
    * (q_quality_score keeps its own expanded copy — it additionally
    * emits avg_tok_len and is the definition the others are checked
    * against). */
  private def qualityCtes: String = {
    val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
    s"""q0 AS (SELECT doc_id,
       |  len(toks)::INT AS n_toks,
       |  len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
       |  len(list_filter(toks, t -> list_contains($stop, t)))::DOUBLE / len(toks) AS stop_ratio
       |FROM t),
       |q AS (SELECT doc_id, n_toks,
       |  ${rnd("least(n_toks::DOUBLE / 100.0, 1.0) * 0.3::DOUBLE" +
                " + ttr * 0.3::DOUBLE + (1.0::DOUBLE - stop_ratio) * 0.4::DOUBLE", 6)} AS quality
       |FROM q0)""".stripMargin
  }

  /** Shared near-dup closure CTEs: the exact jaccard≥0.9 pair graph
    * and its recursive-CTE transitive closure with min-label
    * clusters — verbatim the q_dedup_cluster oracle's shape, shared
    * with q_dedup_keep_best. Must appear inside `WITH RECURSIVE`. */
  private def dedupClosureCtes: String =
    s"""d AS (SELECT doc_id, lang, list_distinct($TOKS) AS tset FROM documents),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      len(list_distinct(list_intersect(a.tset, b.tset)))::DOUBLE
       |        / len(list_distinct(a.tset || b.tset)) AS jac
       |    FROM d a, d b
       |    WHERE a.lang = b.lang AND a.doc_id < b.doc_id) p
       |  WHERE jac >= 0.9),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |reach(id, anc) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.v, r.anc FROM reach r JOIN edges e ON e.u = r.id),
       |lab AS (SELECT id, min(anc) AS cluster FROM reach GROUP BY id),
       |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster)""".stripMargin

  /** Closed-form least-squares (slope, intercept, r²) SQL over
    * micro-unit integer regression sums named (sx, sy, sxy, sxx, syy)
    * with row count `n` — the oracle twin of
    * [[ops.CorpusLaws]]'s `fit`: identical integer sums in, the
    * identical one double expression out. Degenerate variance fits
    * slope 0 / r² 0, matching the Spark side. */
  private def lsqExprs(n: String): (String, String, String) = {
    val cov = s"($n::HUGEINT * sxy - sx * sy)::DOUBLE"
    val vx = s"($n::HUGEINT * sxx - sx * sx)::DOUBLE"
    val vy = s"($n::HUGEINT * syy - sy * sy)::DOUBLE"
    val slope = s"CASE WHEN $vx = 0 THEN 0.0::DOUBLE ELSE $cov / $vx END"
    val intercept = s"(sy::DOUBLE - ($slope) * sx::DOUBLE) / ($n * 1e6)"
    val r2 = s"CASE WHEN $vx = 0 OR $vy = 0 THEN 0.0::DOUBLE" +
      s" ELSE $cov * $cov / ($vx * $vy) END"
    (slope, intercept, r2)
  }

  private def bigramFeatsSql(toks: String): String =
    s"""list_concat($toks, list_transform(
       |        generate_series(1, len($toks) - 1),
       |        i -> $toks[i] || ' ' || $toks[i+1]))""".stripMargin
  private def wMilliSql(feats: String): String =
    s"""coalesce(list_sum(list_transform($feats, x ->
       |          ((('0x' || substr(md5(x), 1, 8))::BIGINT % 1024)
       |            * 2654435761) % 2001 - 1000)), 0)::BIGINT""".stripMargin

  val extrasOracle: Map[String, String] = Map(
    // r14: the multimodal dispatch row, converted off the exemption
    // list — four real container families by doc_id % 4 (stored-
    // deflate PNG / PCM WAV / mvhd MP4 / opaque text), every
    // registered column an analytic doc_id function. The opaque
    // pseudo-dims replay the engine's SHA-256 stub via DuckDB's
    // sha256: w = 16 + b0·16 + b1>>4 = 16 + 3 leading hex nibbles
    // (h likewise from digest bytes 2-3 = hex digits 5-7).
    "q_multimodal_features" -> {
      def hv(k: Int) = s"(strpos('0123456789abcdef', substr(dg, $k, 1)) - 1)"
      s"""WITH d AS (SELECT doc_id, text, doc_id % 4 AS m,
         |  sha256(text) AS dg FROM documents)
         |SELECT doc_id,
         |  CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'mp4'
         |         ELSE 'opaque' END AS kind,
         |  (CASE m WHEN 0 THEN 4 + doc_id % 8
         |          WHEN 3 THEN 16 + (${hv(1)} * 16 + ${hv(2)}) * 16 + ${hv(3)}
         |          ELSE 0 END)::INT AS width,
         |  (CASE m WHEN 0 THEN 6 + doc_id % 5
         |          WHEN 3 THEN 16 + (${hv(5)} * 16 + ${hv(6)}) * 16 + ${hv(7)}
         |          ELSE 0 END)::INT AS height,
         |  (CASE m WHEN 1 THEN 8000
         |          WHEN 2 THEN 1000 + 100 * (doc_id % 7)
         |          ELSE 0 END)::INT AS sample_rate,
         |  (CASE m WHEN 1 THEN 1 WHEN 2 THEN 1 + doc_id % 3
         |          ELSE 0 END)::INT AS channels,
         |  (CASE m WHEN 0 THEN 68 + (6 + doc_id % 5) * (5 + doc_id % 8)
         |          WHEN 1 THEN 44 + 2 * (200 + doc_id % 100)
         |          WHEN 2 THEN 82 + 8 * (doc_id % 3) + doc_id % 20
         |          ELSE octet_length(encode(text)) END)::INT AS n_bytes
         |FROM d ORDER BY doc_id""".stripMargin
    },
    // the raw all-pairs definition the engine's deletion-neighborhood
    // filter must reproduce exactly (candidate filter is complete,
    // verify is exact — Fuzzy.fuzzyPairs)
    "q_fuzzy_join" ->
      """WITH p AS (SELECT a.c_custkey AS id, a.c_name AS name, b.c_name AS m
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey <> b.c_custkey
        |   AND levenshtein(a.c_name, b.c_name) BETWEEN 1 AND 1)
        |SELECT id, name, count(*) AS n_fuzzy, min(m) AS best_match
        |FROM p GROUP BY id, name ORDER BY id""".stripMargin,
    // mirrors Profile.assocStats: exact integer contingency cells,
    // per-cell terms on identical doubles, totals as exact integer
    // micro-unit sums of the ROUNDED terms (order-independent)
    "q_assoc_stats" ->
      s"""WITH o AS (SELECT lang AS a, source AS b, count(*) AS n
         |           FROM documents GROUP BY 1, 2),
         |c AS (SELECT da.a, db.b, coalesce(o.n, 0) AS n
         |      FROM (SELECT DISTINCT a FROM o) da
         |      CROSS JOIN (SELECT DISTINCT b FROM o) db
         |      LEFT JOIN o ON da.a = o.a AND db.b = o.b),
         |ma AS (SELECT a, sum(n) AS na FROM c GROUP BY a),
         |mb AS (SELECT b, sum(n) AS nb FROM c GROUP BY b),
         |tt AS (SELECT sum(n) AS nn, count(DISTINCT a) AS ra,
         |              count(DISTINCT b) AS rb FROM c),
         |t0 AS (SELECT c.a, c.b, c.n, ma.na, mb.nb, tt.nn, tt.ra, tt.rb,
         |         na::DOUBLE * nb / nn AS expected
         |       FROM c JOIN ma ON c.a = ma.a JOIN mb ON c.b = mb.b, tt),
         |t AS (SELECT a, b, n, expected,
         |        ${rnd("(n - expected) * (n - expected) / expected", 6)} AS chi2_term,
         |        CASE WHEN n = 0 THEN 0.0::DOUBLE ELSE
         |          ${rnd("n::DOUBLE / nn * ln(n::DOUBLE * nn / (na::DOUBLE * nb))", 6)} END AS mi_term,
         |        nn, least(ra, rb) AS minrc
         |      FROM t0),
         |tot AS (SELECT
         |    sum(CAST(round(chi2_term * 1e6) AS DECIMAL(38,0)))::DOUBLE / 1e6 AS chi2_total,
         |    sum(CAST(round(mi_term * 1e6) AS DECIMAL(38,0)))::DOUBLE / 1e6 AS mi_total,
         |    first(nn) AS nn0, first(minrc) AS minrc0
         |  FROM t)
         |SELECT a, b, n, ${rnd("expected", 6)} AS expected, chi2_term, mi_term,
         |  chi2_total, mi_total,
         |  CASE WHEN minrc0 <= 1 THEN 0.0::DOUBLE ELSE
         |    ${rnd("sqrt(chi2_total / (nn0 * (minrc0 - 1)))", 6)} END AS cramers_v
         |FROM t, tot ORDER BY a, b""".stripMargin,
    "q_html_extract" -> Html.oracleSql,
    "q_sssp" -> Graph.ssspOracleSql(coocCtes),
    "q_modularity" -> Graph.modularityOracleSql(),
    // mirrors Fuzzy.qJaroSim: DuckDB's jaro_winkler_similarity shares
    // the engine expression's definition (0.7 boost threshold, prefix
    // <= 4, p = 0.1) — verified value-for-value on the textbook pairs
    "q_jaro_sim" ->
      s"""WITH p AS (SELECT a.c_custkey AS id, a.c_name AS name, b.c_name AS m
         |  FROM customer a JOIN customer b
         |    ON a.c_custkey <> b.c_custkey
         |   AND levenshtein(a.c_name, b.c_name) BETWEEN 1 AND 1),
         |s AS (SELECT id, name, m,
         |        ${rnd("jaro_winkler_similarity(name, m)", 6)} AS jw FROM p),
         |r AS (SELECT id, name, m, jw, row_number() OVER
         |        (PARTITION BY id ORDER BY jw DESC, m ASC) AS rn FROM s)
         |SELECT id, name, m AS best_match, jw FROM r WHERE rn = 1
         |ORDER BY id""".stripMargin,
    // mirrors Profile.histogram2d: floor-bin cell ids on identical
    // doubles, cent-exact measure means
    "q_histogram_2d" ->
      s"""WITH c AS (SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS bx,
         |             CAST(floor(l_discount / 0.02) AS BIGINT) AS by,
         |             l_extendedprice AS m
         |           FROM lineitem),
         |g AS (SELECT bx, by, count(*) AS n,
         |        sum(CAST(round(m * 100) AS DECIMAL(38,0)))::DOUBLE / 100 AS ms
         |      FROM c GROUP BY 1, 2)
         |SELECT bx, by, ${rnd("bx * 10.0", 6)} AS x_lo, ${rnd("by * 0.02", 6)} AS y_lo,
         |  n, ${rnd("ms / n", 6)} AS measure_mean
         |FROM g ORDER BY bx, by""".stripMargin,
    // mirrors Profile.burstiness: exact integer moment sums over the
    // zero-filled daily span
    "q_burstiness" ->
      s"""WITH dy AS (SELECT event_type, date_trunc('day', $TS) AS d, count(*) AS n
         |            FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM dy GROUP BY 1),
         |sp AS (SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
         |       FROM b),
         |f AS (SELECT sp.event_type, coalesce(dy.n, 0) AS n
         |      FROM sp LEFT JOIN dy ON sp.event_type = dy.event_type AND sp.d = dy.d),
         |g AS (SELECT event_type, count(*) AS days, sum(n) AS s1, sum(n * n) AS s2
         |      FROM f GROUP BY 1),
         |v AS (SELECT event_type, days, s1::DOUBLE / days AS mu, s2 FROM g)
         |SELECT event_type, days, ${rnd("mu", 6)} AS mean_daily,
         |  CASE WHEN mu = 0 THEN 0.0::DOUBLE ELSE
         |    ${rnd("(s2::DOUBLE / days - mu * mu) / mu", 6)} END AS fano
         |FROM v ORDER BY event_type""".stripMargin,
    // mirrors Profile.joinCardinality: all-integer key-count algebra
    "q_join_cardinality" ->
      """WITH lc AS (SELECT o_orderkey AS k, count(*) AS cl FROM orders GROUP BY 1),
        |rc AS (SELECT l_orderkey AS k, count(*) AS cr FROM lineitem GROUP BY 1),
        |j AS (SELECT lc.k, cl * cr AS contrib FROM lc JOIN rc ON lc.k = rc.k),
        |p AS (SELECT sum(contrib)::BIGINT AS predicted_rows,
        |        count(*) AS overlap_keys, max(contrib)::BIGINT AS max_key_contrib
        |      FROM j),
        |s AS (SELECT (SELECT sum(cl)::BIGINT FROM lc) AS n_left,
        |             (SELECT count(*) FROM lc) AS keys_left,
        |             (SELECT sum(cr)::BIGINT FROM rc) AS n_right,
        |             (SELECT count(*) FROM rc) AS keys_right),
        |a AS (SELECT count(*) AS actual_rows
        |      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
        |SELECT n_left, keys_left, n_right, keys_right, overlap_keys,
        |       predicted_rows, max_key_contrib, actual_rows
        |FROM p, s, a""".stripMargin,
    // mirrors Profile.quantileBins: reference-decile bin edges, cent-
    // exact target sums
    "q_quantile_bins" -> {
      val eds = (1 to 9).map(d => s"quantile_cont(l_quantity, 0.$d) AS e$d")
        .mkString(", ")
      val bexpr = "1 + " + (1 to 9)
        .map(d => s"(CASE WHEN l_quantity > e$d THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH ed AS (SELECT $eds FROM lineitem),
         |b AS (SELECT $bexpr AS bin, l_quantity AS v, l_extendedprice AS t
         |      FROM lineitem, ed),
         |g AS (SELECT bin, count(*) AS n, min(v) AS vmin, max(v) AS vmax,
         |        sum(CAST(round(t * 100) AS DECIMAL(38,0)))::DOUBLE / 100 AS ts
         |      FROM b GROUP BY bin)
         |SELECT bin, n, ${rnd("vmin", 6)} AS v_min, ${rnd("vmax", 6)} AS v_max,
         |  ${rnd("ts / n", 6)} AS target_mean
         |FROM g ORDER BY bin""".stripMargin
    },
    // mirrors Fuzzy.resolveEntities: the SAME edge set (levenshtein
    // gate + 6-dp-rounded JW threshold — bit-identical scores on both
    // engines), closed by a recursive-CTE reachability with min-label
    // entities; engine side is O(log d) pointer-jumping CC
    "q_entity_resolution" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT a.c_custkey AS ia, b.c_custkey AS ib
         |  FROM customer a JOIN customer b
         |    ON a.c_custkey < b.c_custkey
         |   AND levenshtein(a.c_name, b.c_name) BETWEEN 1 AND 1
         |   AND ${rnd("jaro_winkler_similarity(a.c_name, b.c_name)", 6)} >= 0.9),
         |e AS (SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, anc) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.anc FROM reach r JOIN e ON e.u = r.id),
         |lab AS (SELECT id, min(anc) AS entity FROM reach GROUP BY id),
         |sz AS (SELECT entity, count(*) AS entity_size FROM lab GROUP BY entity)
         |SELECT c.c_custkey AS id, c.c_name AS s,
         |  coalesce(l.entity, c.c_custkey) AS entity,
         |  coalesce(sz.entity_size, 1) AS entity_size,
         |  coalesce(l.entity, c.c_custkey) = c.c_custkey AS is_canonical
         |FROM customer c
         |LEFT JOIN lab l ON c.c_custkey = l.id
         |LEFT JOIN sz ON l.entity = sz.entity
         |ORDER BY id""".stripMargin,
    // mirrors Profile.targetEncode: cent-exact sums, shared prior
    "q_target_encoding" ->
      s"""WITH j AS (SELECT p.p_brand, l.l_extendedprice
         |           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         |per AS (SELECT p_brand, count(*) AS n,
         |          sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))) AS sc
         |        FROM j GROUP BY p_brand),
         |g AS (SELECT sum(n) AS gn, sum(sc) AS gsc FROM per),
         |t AS (SELECT per.p_brand, per.n, per.sc,
         |        g.gsc::DOUBLE / 100 / g.gn AS prior FROM per, g)
         |SELECT p_brand, n, ${rnd("sc::DOUBLE / 100 / n", 6)} AS cat_mean,
         |  ${rnd("prior", 6)} AS prior,
         |  ${rnd("(sc::DOUBLE / 100 + 100.0 * prior) / (n + 100.0)", 6)} AS encoded
         |FROM t ORDER BY p_brand""".stripMargin,
    // mirrors Profile.psiDrift: reference-decile buckets (identical
    // quantile doubles), Laplace-smoothed shares, micro-unit total
    "q_psi_drift" -> {
      val eds = (1 to 9).map(d => s"quantile_cont(value, 0.$d) AS e$d").mkString(", ")
      val bexpr = "1 + " + (1 to 9)
        .map(d => s"(CASE WHEN value > e$d THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH ev AS (SELECT value, day($TS) AS dom FROM events),
         |r0 AS (SELECT value FROM ev WHERE dom <= 15),
         |c0 AS (SELECT value FROM ev WHERE dom > 15),
         |ed AS (SELECT $eds FROM r0),
         |rb AS (SELECT bucket, count(*) AS c_ref FROM
         |         (SELECT $bexpr AS bucket FROM r0, ed) GROUP BY bucket),
         |cb AS (SELECT bucket, count(*) AS c_cur FROM
         |         (SELECT $bexpr AS bucket FROM c0, ed) GROUP BY bucket),
         |tt AS (SELECT (SELECT sum(c_ref) FROM rb) AS n_ref,
         |              (SELECT sum(c_cur) FROM cb) AS n_cur),
         |grid AS (SELECT unnest(generate_series(1, 10))::INT AS bucket),
         |t AS (SELECT g.bucket, coalesce(rb.c_ref, 0) AS c_ref,
         |        coalesce(cb.c_cur, 0) AS c_cur,
         |        (coalesce(rb.c_ref, 0) + 1)::DOUBLE / (tt.n_ref + 10) AS p,
         |        (coalesce(cb.c_cur, 0) + 1)::DOUBLE / (tt.n_cur + 10) AS q
         |      FROM grid g LEFT JOIN rb ON g.bucket = rb.bucket
         |                  LEFT JOIN cb ON g.bucket = cb.bucket, tt),
         |t2 AS (SELECT bucket, c_ref, c_cur, p, q,
         |         ${rnd("(p - q) * ln(p / q)", 6)} AS psi_term FROM t),
         |tot AS (SELECT
         |    sum(CAST(round(psi_term * 1e6) AS DECIMAL(38,0)))::DOUBLE / 1e6 AS psi
         |  FROM t2)
         |SELECT bucket, c_ref, c_cur, ${rnd("p", 6)} AS p, ${rnd("q", 6)} AS q,
         |  psi_term, psi
         |FROM t2, tot ORDER BY bucket""".stripMargin
    },
    // mirrors Profile.ksBySource: exact integer ECDF-gap numerators
    // (HUGEINT ≡ the Spark side's DECIMAL(38,0)); one double division
    // on identical operands
    "q_ks_test" ->
      s"""WITH t AS (SELECT source, len($TOKS) AS v FROM documents),
         |vc AS (SELECT source, v, count(*)::BIGINT AS c FROM t GROUP BY source, v),
         |pv AS (SELECT v, sum(c)::BIGINT AS ct FROM vc GROUP BY v),
         |st AS (SELECT source, sum(c)::BIGINT AS n_src FROM vc GROUP BY source),
         |na AS (SELECT sum(ct)::BIGINT AS n_all FROM pv),
         |grid AS (SELECT s.source, p.v FROM
         |           (SELECT DISTINCT source FROM vc) s,
         |           (SELECT DISTINCT v FROM pv) p),
         |cum AS (SELECT g.source, g.v,
         |          sum(coalesce(vc.c, 0)) OVER
         |            (PARTITION BY g.source ORDER BY g.v
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum_src,
         |          sum(pv.ct) OVER
         |            (PARTITION BY g.source ORDER BY g.v
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum_all
         |        FROM grid g LEFT JOIN vc ON g.source = vc.source AND g.v = vc.v
         |                    JOIN pv ON g.v = pv.v),
         |nm AS (SELECT c.source, c.v,
         |         abs(c.cum_src::HUGEINT * (na.n_all - st.n_src)
         |             - (c.cum_all - c.cum_src)::HUGEINT * st.n_src) AS num,
         |         st.n_src, (na.n_all - st.n_src)::BIGINT AS n_rest
         |       FROM cum c JOIN st ON c.source = st.source, na),
         |mx AS (SELECT source, max(num) AS num_max,
         |         min(n_src) AS n_src, min(n_rest) AS n_rest
         |       FROM nm GROUP BY source)
         |SELECT mx.source, mx.n_src, mx.n_rest,
         |  min(nm.v)::INT AS ks_at,
         |  CASE WHEN mx.n_rest = 0 THEN 0.0::DOUBLE
         |       ELSE ${rnd("mx.num_max::DOUBLE / (mx.n_src * mx.n_rest)::DOUBLE", 6)}
         |  END AS ks_d
         |FROM nm JOIN mx ON nm.source = mx.source AND nm.num = mx.num_max
         |GROUP BY mx.source, mx.n_src, mx.n_rest, mx.num_max
         |ORDER BY mx.source""".stripMargin,
    // mirrors Profile.gini: exact DECIMAL rank-weighted sums, one
    // shared division tree
    "q_gini" ->
      s"""WITH u AS (SELECT event_type, user_id,
         |             sum(CAST(round(value * 100) AS DECIMAL(38,0)))::DOUBLE / 100 AS v
         |           FROM events GROUP BY 1, 2),
         |x AS (SELECT event_type, user_id, v,
         |        CAST(round(v * 100) AS DECIMAL(38,0)) AS xc FROM u),
         |rk AS (SELECT event_type, xc, row_number() OVER
         |         (PARTITION BY event_type ORDER BY v ASC, user_id ASC) AS r
         |       FROM x),
         |a AS (SELECT event_type, count(*) AS n, sum(xc) AS sx,
         |        sum(xc * r::DECIMAL(19,0)) AS six
         |      FROM rk GROUP BY event_type)
         |SELECT event_type, n, ${rnd("sx::DOUBLE / 100", 2)} AS total,
         |  ${rnd("2.0 * six::DOUBLE / (n * sx::DOUBLE) - (n + 1)::DOUBLE / n", 6)} AS gini
         |FROM a ORDER BY event_type""".stripMargin,
    // mirrors Profile.keySkew: entropy on integer micro-unit carriers
    // (order-independent), top-k by (count, key) total order
    "q_key_skew" -> Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
      s"""SELECT '$c' AS key_col, tt.n_rows, tt.n_keys,
         |  ${rnd("tp.top1::DOUBLE / tt.n_rows", 6)} AS top1_share,
         |  ${rnd("tp.top10::DOUBLE / tt.n_rows", 6)} AS top10_share,
         |  ${rnd("ln(tt.n_rows::DOUBLE) - tt.slnc / tt.n_rows", 6)} AS entropy,
         |  ${rnd("exp(ln(tt.n_rows::DOUBLE) - tt.slnc / tt.n_rows)", 6)} AS eff_keys
         |FROM
         |  (SELECT sum(cnt)::BIGINT AS n_rows, count(*) AS n_keys,
         |     sum(CAST(round(cnt::DOUBLE * ln(cnt::DOUBLE) * 1e6) AS DECIMAL(38,0)))::DOUBLE / 1e6 AS slnc
         |   FROM (SELECT $c, count(*) AS cnt FROM lineitem GROUP BY $c)) tt,
         |  (SELECT max(cnt)::BIGINT AS top1, sum(cnt)::BIGINT AS top10 FROM
         |     (SELECT $c, count(*) AS cnt FROM lineitem GROUP BY $c
         |      ORDER BY cnt DESC, $c ASC LIMIT 10)) tp""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY key_col"),
    // mirrors Profile.winsorize: quantile_cont bounds (same
    // interpolation as Spark percentile), cent-rounded DECIMAL mean
    // carriers before AND after the clip
    "q_winsorize" ->
      s"""WITH b AS (SELECT l_returnflag AS grp,
         |        quantile_cont(l_extendedprice, 0.05) AS p_lo,
         |        quantile_cont(l_extendedprice, 0.95) AS p_hi
         |      FROM lineitem GROUP BY 1),
         |j AS (SELECT l.l_returnflag, l.l_extendedprice AS v, b.p_lo, b.p_hi,
         |        least(greatest(l.l_extendedprice, b.p_lo), b.p_hi) AS clipped
         |      FROM lineitem l JOIN b ON l.l_returnflag = b.grp),
         |a AS (SELECT l_returnflag, first(p_lo) AS lo_raw, first(p_hi) AS hi_raw,
         |        count(*) AS n,
         |        sum(CASE WHEN v < p_lo THEN 1 ELSE 0 END)::BIGINT AS n_clip_lo,
         |        sum(CASE WHEN v > p_hi THEN 1 ELSE 0 END)::BIGINT AS n_clip_hi,
         |        sum(CAST(round(v * 100) AS DECIMAL(38,0))) AS sb,
         |        sum(CAST(round(clipped * 100) AS DECIMAL(38,0))) AS sa
         |      FROM j GROUP BY l_returnflag)
         |SELECT l_returnflag, ${rnd("lo_raw", 6)} AS p_lo, ${rnd("hi_raw", 6)} AS p_hi,
         |  n, n_clip_lo, n_clip_hi,
         |  ${rnd("sb::DOUBLE / 100 / n", 6)} AS mean_before,
         |  ${rnd("sa::DOUBLE / 100 / n", 6)} AS mean_after
         |FROM a ORDER BY l_returnflag""".stripMargin,
    // mirrors Profile.benford: first digit via the DECIMAL(18,2)
    // string rendering (identical on both engines; floor(log10) is
    // last-ulp implementation-defined at exact powers of ten)
    "q_benford" ->
      s"""WITH c AS (SELECT substr(o_totalprice::DECIMAL(18,2)::VARCHAR, 1, 1)::INT
         |             AS digit, count(*) AS n
         |           FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
         |t AS (SELECT sum(n) AS nn FROM c)
         |SELECT digit, n, ${rnd("n::DOUBLE / nn", 6)} AS share,
         |  ${rnd("log10(1.0::DOUBLE + 1.0::DOUBLE / digit)", 6)} AS expected,
         |  ${rnd("(n - log10(1.0::DOUBLE + 1.0::DOUBLE / digit) * nn) " +
                  "* (n - log10(1.0::DOUBLE + 1.0::DOUBLE / digit) * nn) " +
                  "/ (log10(1.0::DOUBLE + 1.0::DOUBLE / digit) * nn)", 6)} AS chi2_term
         |FROM c, t ORDER BY digit""".stripMargin,
    "q_url_canon" -> Url.oracleSql,
    "q_dedup_url" -> Url.dedupOracleSql,
    "q_url_filter" -> Url.filterOracleSql,
    "q_anchor_text" -> Links.oracleSql,
    // r15: q_wat_links is the same rollup through a gzipped WAT round
    // trip — shares the oracle verbatim (the q_warc_triad pattern)
    "q_wat_links" -> Links.oracleSql,
    "q_page_rank" -> Graph.oracleSql(),
    "q_link_degree" -> Graph.degreeOracleSql,
    "q_graph_reciprocity" -> Graph.reciprocityOracleSql,
    "q_assortativity" -> Graph.assortativityOracleSql,
    // Zipf/Heaps least-squares: micro-unit integer regression sums
    // (HUGEINT here ≡ the Spark side's DECIMAL(38,0) carriers), the
    // one closed-form double expression shared via lsqExprs
    "q_zipf_fit" -> {
      val (slope, intercept, r2) = lsqExprs("n_ranks")
      s"""WITH t AS (SELECT unnest($TOKS) AS w FROM documents),
         |c AS (SELECT w, count(*)::BIGINT AS c FROM t GROUP BY w),
         |tot AS (SELECT count(*)::BIGINT AS n_types,
         |          sum(c)::BIGINT AS n_tokens FROM c),
         |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rank
         |       FROM c QUALIFY rank <= ${ops.CorpusLaws.ZipfTopK}),
         |m AS (SELECT CAST(round(ln(rank) * 1e6) AS BIGINT) AS x,
         |             CAST(round(ln(c) * 1e6) AS BIGINT) AS y FROM rk),
         |s AS (SELECT count(*)::BIGINT AS n_ranks,
         |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |        sum(x * x) AS sxx, sum(y * y) AS syy FROM m)
         |SELECT tot.n_types, tot.n_tokens, s.n_ranks,
         |  ${rnd(slope, 6)} AS slope,
         |  ${rnd(intercept, 6)} AS intercept,
         |  ${rnd(r2, 6)} AS r2
         |FROM s, tot""".stripMargin
    },
    "q_heaps_fit" -> {
      val (slope, intercept, r2) = lsqExprs("n_docs")
      s"""WITH t AS (SELECT doc_id, source, unnest($TOKS) AS w FROM documents),
         |d AS (SELECT doc_id, source, count(*)::BIGINT AS n_toks,
         |        count(DISTINCT w)::BIGINT AS n_types
         |      FROM t GROUP BY doc_id, source),
         |m AS (SELECT source,
         |        CAST(round(ln(n_toks) * 1e6) AS BIGINT) AS x,
         |        CAST(round(ln(n_types) * 1e6) AS BIGINT) AS y FROM d),
         |s AS (SELECT source, count(*)::BIGINT AS n_docs,
         |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |        sum(x * x) AS sxx, sum(y * y) AS syy
         |      FROM m GROUP BY source)
         |SELECT source, n_docs,
         |  ${rnd(slope, 6)} AS beta,
         |  ${rnd(s"exp($intercept)", 6)} AS k,
         |  ${rnd(r2, 6)} AS r2
         |FROM s ORDER BY source""".stripMargin
    },
    "q_hits" -> Graph.hitsOracleSql(),
    "q_label_prop" -> Graph.lpOracleSql(),
    "q_ppr" -> Graph.pprOracleSql(),
    "q_quality_model" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |f AS (SELECT doc_id, ${bigramFeatsSql("toks")} AS feats FROM t),
         |s AS (SELECT doc_id, len(feats)::INT AS n_feats,
         |        ${wMilliSql("feats")} AS w_milli
         |      FROM f)
         |SELECT doc_id, n_feats,
         |  ${rnd("w_milli / (1000.0 * greatest(n_feats, 1))", 6)} AS score,
         |  w_milli > 0 AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_train_quality" -> trainQualityOracleSql(),
    "q_lang_id" -> langIdOracleSql("documents"),
    // r15: the script tier driven by constructed mixed-script input
    // (cohorts by doc_id mod 4: Han / kana+Han / Hangul / untouched)
    "q_lang_id_script" -> langIdOracleSql(
      """(SELECT doc_id, lang,
        |   text || CASE doc_id % 4 WHEN 0 THEN ' 中文数据'
        |                           WHEN 1 THEN ' あい中'
        |                           WHEN 2 THEN ' 한국'
        |                           ELSE '' END AS text
        | FROM documents WHERE doc_id < 400)""".stripMargin),
    "q_quality_score" -> {
      val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |q AS (SELECT doc_id,
         |  len(toks)::INT AS n_toks,
         |  len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
         |  list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) AS avg_tok_len,
         |  len(list_filter(toks, t -> list_contains($stop, t)))::DOUBLE / len(toks) AS stop_ratio
         |FROM t)
         |SELECT doc_id, n_toks,
         |  ${rnd("ttr", 6)} AS ttr,
         |  ${rnd("avg_tok_len", 6)} AS avg_tok_len,
         |  ${rnd("stop_ratio", 6)} AS stop_ratio,
         |  ${rnd("least(n_toks::DOUBLE / 100.0, 1.0) * 0.3::DOUBLE" +
                  " + ttr * 0.3::DOUBLE + (1.0::DOUBLE - stop_ratio) * 0.4::DOUBLE", 6)} AS quality
         |FROM q ORDER BY doc_id""".stripMargin
    },
    "q_quality_tiers" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$qualityCtes,
         |r AS (SELECT quality,
         |  row_number() OVER (ORDER BY quality DESC, doc_id) AS rank,
         |  count(*) OVER () AS n FROM q WHERE quality IS NOT NULL)
         |SELECT (((rank - 1) * 4) // n + 1)::INT AS tier,
         |  count(*) AS n_docs, ${rnd("avg(quality)", 6)} AS avg_q,
         |  min(quality) AS min_q, max(quality) AS max_q
         |FROM r GROUP BY tier ORDER BY tier""".stripMargin,
    "q_curate" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$qualityCtes,
         |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text))
         |SELECT q.doc_id, d.lang, q.n_toks, q.quality
         |FROM q JOIN k USING (doc_id) JOIN documents d ON d.doc_id = q.doc_id
         |WHERE q.quality >= 0.70::DOUBLE AND q.n_toks BETWEEN 20 AND 1000
         |ORDER BY q.doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+'))::INT AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))::INT AS re_tokens,
        |  length(trim(text))::INT AS n_chars,
        |  length(regexp_replace(text, '[^a-z]', '', 'g'))::INT AS n_alpha
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS fp_exact,
         |  md5(array_to_string(list_sort(list_distinct($TOKS)), ' ')) AS fp_bag
         |FROM documents),
         |g AS (SELECT fp_bag, count(*) AS n_same_bag FROM d GROUP BY fp_bag)
         |SELECT d.doc_id, d.fp_exact, d.fp_bag, g.n_same_bag
         |FROM d JOIN g USING (fp_bag) ORDER BY d.doc_id""".stripMargin,
    "q_collocations" ->
      s"""WITH t AS (SELECT $TOKS AS toks FROM documents),
         |uni AS (SELECT unnest(toks) AS w FROM t),
         |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
         |n1t AS (SELECT count(*)::DOUBLE AS n1 FROM uni),
         |bg AS (SELECT unnest(list_transform(
         |         generate_series(1, greatest(len(toks)-1, 0)),
         |         i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
         |bc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram),
         |n2t AS (SELECT count(*)::DOUBLE AS n2 FROM bg),
         |f AS (SELECT bigram, c_ab,
         |        string_split(bigram, ' ')[1] AS w1,
         |        string_split(bigram, ' ')[2] AS w2
         |      FROM bc WHERE c_ab >= 5)
         |SELECT f.bigram, f.c_ab,
         |  ${rnd("ln((f.c_ab / n2t.n2) / ((u1.c / n1t.n1) * (u2.c / n1t.n1)))", 6)} AS pmi
         |FROM f JOIN uc u1 ON u1.w = f.w1 JOIN uc u2 ON u2.w = f.w2, n1t, n2t
         |ORDER BY pmi DESC, f.bigram ASC LIMIT 50""".stripMargin,
    "q_length_hist" ->
      s"""WITH t AS (SELECT least(len($TOKS) // 25, 12)::INT AS bucket FROM documents),
         |h AS (SELECT bucket, count(*) AS n_docs FROM t GROUP BY bucket)
         |SELECT bucket, n_docs,
         |  ${rnd("n_docs / sum(n_docs) OVER ()", 6)} AS share,
         |  ${rnd("sum(n_docs) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED " +
                  "PRECEDING AND CURRENT ROW) / sum(n_docs) OVER ()", 6)} AS cum_share
         |FROM h ORDER BY bucket""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE
         |$dedupClosureCtes
         |SELECT lab.id AS doc_id, lab.cluster, sz.cluster_size,
         |       (lab.id = lab.cluster) AS is_keeper
         |FROM lab JOIN sz USING (cluster)
         |ORDER BY doc_id""".stripMargin,
    // q_dedup_cluster's closure composed with the q_quality_score
    // composite: highest-ROUNDED-quality member per cluster, doc_id
    // tiebreak — the deterministic argmax both engines agree on
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE
         |$dedupClosureCtes,
         |t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$qualityCtes,
         |m AS (SELECT lab.cluster, sz.cluster_size, lab.id, q.quality,
         |        row_number() OVER (PARTITION BY lab.cluster
         |                           ORDER BY q.quality DESC NULLS LAST, lab.id) AS rn,
         |        min(q.quality) OVER (PARTITION BY lab.cluster) AS worst_quality
         |      FROM lab JOIN sz USING (cluster) LEFT JOIN q ON q.doc_id = lab.id)
         |SELECT cluster, cluster_size, id AS best_doc,
         |       quality AS best_quality, worst_quality
         |FROM m WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "q_sql_q1" -> Sql.q1Template(e => rnd(e, 2)),
    "q_sql_q3" -> Sql.q3Template(e => rnd(e, 2)),
    "q_sql_q5" -> Sql.q5Template(e => rnd(e, 2)),
    "q_sql_q10" -> Sql.q10Template(e => rnd(e, 2)),
    "q_sql_q18" -> Sql.q18Template(e => rnd(e, 2)),
    "q_sql_scalar" -> Sql.qScalarTemplate(e => rnd(e, 2)),
    "q_sql_q6" -> Sql.q6Template(e => rnd(e, 2)),
    "q_sql_q4" -> Sql.q4Template(e => rnd(e, 2)),
    "q_sql_q7" -> Sql.q7Template(e => rnd(e, 2)),
    "q_sql_q12" -> Sql.q12Template(e => rnd(e, 2)),
    "q_sql_q13" -> Sql.q13Template(e => rnd(e, 2)),
    "q_sql_q14" -> Sql.q14Template(e => rnd(e, 2)),
    "q_sql_q17" -> Sql.q17Template(e => rnd(e, 2)),
    "q_sql_q19" -> Sql.q19Template(e => rnd(e, 2)),
    "q_sql_q21" -> Sql.q21Template(e => rnd(e, 2)),
    "q_sql_q22" -> Sql.q22Template(e => rnd(e, 2)),
    "q_sql_q2" -> Sql.q2Template(e => rnd(e, 2)),
    "q_sql_q9" -> Sql.q9Template(e => rnd(e, 2)),
    "q_sql_q11" -> Sql.q11Template(e => rnd(e, 2)),
    "q_sql_q16" -> Sql.q16Template(e => rnd(e, 2)),
    "q_sql_q20" -> Sql.q20Template(e => rnd(e, 2)),
    // exact two-pass heavy hitters: the sketch only bounds the
    // candidate set, so the oracle is the plain exact HAVING form.
    // r9 support is corpus-derived (2·cnt > mode count, AND the
    // MG-certifiable integer floor (k+1)·cnt > N) so the report
    // stays non-empty when scale dilutes absolute shares
    "q_heavy_hitters_by_lang" ->
      s"""WITH tok AS (SELECT lang AS g, unnest($TOKS) AS t FROM documents),
         |tot AS (SELECT g, count(*)::BIGINT AS n FROM tok GROUP BY g),
         |c AS (SELECT tok.g, t, n, count(*)::BIGINT AS cnt
         |      FROM tok JOIN tot USING (g) GROUP BY tok.g, t, n),
         |m AS (SELECT g, max(cnt) AS max_cnt FROM c GROUP BY g)
         |SELECT c.g AS lang, t AS token, cnt
         |FROM c JOIN m USING (g)
         |WHERE cnt * 2 > max_cnt AND cnt * 1000 > n
         |ORDER BY lang, cnt DESC, token""".stripMargin,
    "q_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($TOKS) AS t FROM documents),
         |tot AS (SELECT count(*)::BIGINT AS n FROM tok),
         |c AS (SELECT t, n, count(*)::BIGINT AS cnt FROM tok, tot
         |      GROUP BY t, n),
         |m AS (SELECT max(cnt) AS max_cnt FROM c)
         |SELECT t AS token, cnt
         |FROM c, m
         |WHERE cnt * 2 > max_cnt AND cnt * 2000 > n
         |ORDER BY cnt DESC, token""".stripMargin,
    "q_profile" ->
      Seq("o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus",
          "o_totalprice")
        .map(c =>
          s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
             |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             |  count(DISTINCT $c)::BIGINT AS n_distinct,
             |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s
             |FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q_resample" ->
      s"""WITH e AS (SELECT user_id, date_trunc('day', $TS) AS d,
         |  ${rnd("sum(value)", 2)} AS v, count(*)::BIGINT AS n
         |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
         |b AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM e GROUP BY 1),
         |g AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
         |      FROM b)
         |SELECT g.user_id, g.d::DATE AS d, e.v, coalesce(e.n, 0) AS n,
         |  last_value(e.v IGNORE NULLS) OVER (
         |    PARTITION BY g.user_id ORDER BY g.d) AS v_ff
         |FROM g LEFT JOIN e ON g.user_id = e.user_id AND g.d = e.d
         |ORDER BY 1, 2""".stripMargin,
    "q_sql_recursive" -> Sql.qRecursiveTemplate(e => rnd(e, 2)),
    "q_sql_q8" -> Sql.q8Template(e => rnd(e, 2)),
    "q_sql_q15" -> Sql.q15Template(e => rnd(e, 2)),
    "q_upsert" ->
      """WITH ch AS (
        |  SELECT doc_id, 'D' AS op, NULL::VARCHAR AS text, 1::BIGINT AS seq
        |  FROM documents WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id, 'U', text || ' stale', 1 FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id, 'U', text || ' v2', 2 FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT doc_id + 500000, 'U', text, 1 FROM documents WHERE doc_id < 20),
        |last AS (
        |  SELECT doc_id, op, text AS new_text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |nxt AS (
        |  SELECT coalesce(s.doc_id, l.doc_id) AS doc_id,
        |    CASE WHEN l.op = 'U' THEN l.new_text ELSE s.text END AS text,
        |    l.op AS op
        |  FROM documents s FULL OUTER JOIN last l ON s.doc_id = l.doc_id
        |  WHERE l.op IS NULL OR l.op = 'U')
        |SELECT doc_id, md5(text) AS h FROM nxt ORDER BY doc_id""".stripMargin,
    // r15: refresh-at-rest — the q_upsert fold restricted to
    // doc_id < 150 + the insert block, then the writeShards shard
    // aggregates (span 100) and the affected-shard flag; the Spark
    // side reads these from the PATCHED at-rest manifest, so a stale
    // or lost manifest row hash-diffs here
    "q_corpus_refresh" ->
      """WITH ch AS (
        |  SELECT doc_id, 'D' AS op, NULL::VARCHAR AS text, 1::BIGINT AS seq
        |  FROM documents WHERE doc_id % 10 = 7 AND doc_id < 150
        |  UNION ALL
        |  SELECT doc_id, 'U', text || ' stale', 1 FROM documents
        |  WHERE doc_id % 10 = 3 AND doc_id < 150
        |  UNION ALL
        |  SELECT doc_id, 'U', text || ' v2', 2 FROM documents
        |  WHERE doc_id % 10 = 3 AND doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 500000, 'U', text, 1 FROM documents WHERE doc_id < 20),
        |last AS (
        |  SELECT doc_id, op, text AS new_text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |nxt AS (
        |  SELECT coalesce(s.doc_id, l.doc_id) AS doc_id,
        |    CASE WHEN l.op = 'U' THEN l.new_text ELSE s.text END AS text
        |  FROM documents s FULL OUTER JOIN last l ON s.doc_id = l.doc_id
        |  WHERE l.op IS NULL OR l.op = 'U'),
        |m AS (
        |  SELECT (doc_id - doc_id % 100) // 100 AS shard,
        |    count(*)::BIGINT AS n_docs,
        |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
        |    min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |  FROM nxt GROUP BY 1),
        |aff AS (SELECT DISTINCT (doc_id - doc_id % 100) // 100 AS shard FROM ch)
        |SELECT m.shard, n_docs, n_tokens, min_doc_id, max_doc_id,
        |  (m.shard IN (SELECT shard FROM aff)) AS changed
        |FROM m ORDER BY m.shard""".stripMargin,
    "q_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h_old FROM documents),
        |v2x AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 3 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT doc_id + 500000, text FROM documents WHERE doc_id < 20),
        |v2 AS (SELECT doc_id, md5(text) AS h_new FROM v2x)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN h_old = h_new THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_quality_z" -> {
      val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
      s"""WITH t AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
         |m AS (SELECT doc_id, lang,
         |  len(toks)::INT AS n_toks,
         |  len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
         |  len(list_filter(toks, t -> list_contains($stop, t)))::DOUBLE / len(toks) AS stop_ratio
         |FROM t),
         |q AS (SELECT doc_id, lang,
         |  ${rnd("least(n_toks::DOUBLE / 100.0, 1.0) * 0.3::DOUBLE" +
                  " + ttr * 0.3::DOUBLE + (1.0::DOUBLE - stop_ratio) * 0.4::DOUBLE", 6)} AS quality
         |FROM m),
         |z AS (SELECT doc_id, lang, quality,
         |  avg(quality) OVER (PARTITION BY lang) AS mu,
         |  stddev(quality) OVER (PARTITION BY lang) AS sd
         |FROM q)
         |SELECT doc_id, lang, quality,
         |  ${rnd("CASE WHEN sd IS NULL OR sd = 0.0 THEN 0.0 ELSE (quality - mu) / sd END", 6)} AS quality_z
         |FROM z ORDER BY doc_id""".stripMargin
    },
    "q_semantic_decontaminate" ->
      s"""$NORMVEC,
         |c AS (SELECT vec_id, vn FROM u WHERE vec_id % 50 <> 0),
         |p AS (SELECT vec_id, vn FROM u WHERE vec_id % 50 = 0),
         |hits AS (
         |  SELECT c.vec_id,
         |    ${rnd("list_sum(list_transform(generate_series(1, 64), i -> c.vn[i] * p.vn[i]))", 6)} AS cos
         |  FROM c, p)
         |SELECT vec_id, count(*) AS n_probe_hits,
         |  ${rnd("max(cos)", 6)} AS max_cos
         |FROM hits WHERE cos >= 0.4
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_scd2" ->
      s"""SELECT user_id, event_id, $TS AS valid_from,
         |  lead($TS) OVER (PARTITION BY user_id
         |                  ORDER BY $TS, event_id) AS valid_to,
         |  ${rnd("value", 2)} AS value,
         |  (lead($TS) OVER (PARTITION BY user_id
         |                   ORDER BY $TS, event_id) IS NULL) AS is_current
         |FROM events
         |WHERE event_type = 'purchase' AND user_id < 100
         |ORDER BY user_id, valid_from, event_id""".stripMargin,
    // the bitmap pipeline is EXACT, so its oracle is the plain
    // count(DISTINCT) it replaces at scale
    "q_bitmap_users" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_unpivot" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey < 100)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |       l_quantity AS value FROM li
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |       l_extendedprice FROM li
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |       l_discount FROM li
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM li
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q_dedup_incremental" ->
      """WITH inc AS (
        |  SELECT doc_id + 100000 AS doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text || ' updated')
        |  FROM documents WHERE doc_id >= 50 AND doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 200000, md5(text || ' updated')
        |  FROM documents WHERE doc_id >= 50 AND doc_id < 75),
        |ex AS (SELECT md5(text) AS h, min(doc_id) AS ex_keeper
        |       FROM documents GROUP BY 1),
        |pri AS (SELECT doc_id, h,
        |  min(doc_id) OVER (PARTITION BY h ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
        |  FROM inc)
        |SELECT p.doc_id,
        |  CASE WHEN e.ex_keeper IS NOT NULL THEN 'dup_existing'
        |       WHEN p.prior IS NOT NULL THEN 'dup_incoming'
        |       ELSE 'new' END AS status,
        |  coalesce(e.ex_keeper, p.prior) AS dup_of
        |FROM pri p LEFT JOIN ex e USING (h)
        |ORDER BY doc_id""".stripMargin,
    "q_cooccur" ->
      s"""WITH $coocCtes
         |SELECT w1, w2, n_cooc FROM cnt
         |ORDER BY n_cooc DESC, w1, w2 LIMIT 100""".stripMargin,
    // naive ordered a<b<c three-way join: count-identical to the
    // Spark side's degree-ordered orientation, so the oracle checks
    // the orientation logic end to end
    "q_triangle_count" ->
      s"""WITH $coocCtes,
         |und AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
         |        FROM cnt WHERE w1 <> w2),
         |deg AS (SELECT node, count(*)::BIGINT AS degree FROM
         |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY node),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM und e1 JOIN und e2 ON e2.a = e1.b
         |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tc AS (SELECT node, count(*)::BIGINT AS triangles
         |       FROM (SELECT unnest([x, y, z]) AS node FROM tri)
         |       GROUP BY node)
         |SELECT deg.node AS node, deg.degree,
         |  coalesce(tc.triangles, 0)::BIGINT AS triangles,
         |  CASE WHEN deg.degree < 2 THEN 0.0::DOUBLE
         |       ELSE ${rnd("(coalesce(tc.triangles, 0) * 2)::DOUBLE" +
                            " / (deg.degree * (deg.degree - 1))", 6)}
         |  END AS clustering
         |FROM deg LEFT JOIN tc ON deg.node = tc.node
         |ORDER BY node""".stripMargin,
    // unrolled simultaneous-peel: rounds >= the fixture's fixed
    // peeling depth; extra rounds are no-ops = the Spark loop's early exit
    "q_kcore" -> Graph.kcoreOracleSql(),
    // bounded recursive CTE with UNION (set) semantics: rows are
    // (node, depth) pairs deduped across rounds, so the recursion is
    // n×maxDepth-bounded even on the dense co-occurrence graph; the
    // Spark side's frontier expansion + early exit is depth-identical
    "q_bfs_depth" ->
      s"""WITH RECURSIVE $coocCtes,
         |e AS (SELECT DISTINCT src, dst FROM (
         |        SELECT w1 AS src, w2 AS dst FROM cnt
         |        UNION ALL SELECT w2, w1 FROM cnt)),
         |-- no bare UNION here: inside a RECURSIVE with-clause DuckDB
         |-- parses `a UNION b` as anchor/step and skips the
         |-- cross-branch dedup; the derived-table form is safe
         |nodes AS (SELECT DISTINCT node FROM (
         |            SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |seed AS (SELECT min(src) AS node FROM e),
         |r(node, depth) AS (
         |  SELECT node, 0 FROM seed WHERE node IS NOT NULL
         |  UNION
         |  SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node
         |  WHERE r.depth < ${Graph.BfsMaxDepth}),
         |d AS (SELECT node, min(depth)::BIGINT AS depth FROM r GROUP BY node)
         |SELECT n.node AS node, coalesce(d.depth, -1)::BIGINT AS depth
         |FROM nodes n LEFT JOIN d ON n.node = d.node
         |ORDER BY n.node""".stripMargin,
    "q_token_entropy" ->
      s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS w FROM documents),
         |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY doc_id, w),
         |h AS (SELECT doc_id, sum(c)::BIGINT AS n_toks,
         |        count(*)::BIGINT AS n_distinct,
         |        ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_toks, n_distinct,
         |  ${rnd("h", 6)} AS entropy,
         |  ${rnd("CASE WHEN n_distinct > 1 THEN h / ln(n_distinct) ELSE 0.0 END", 6)}
         |    AS norm_entropy
         |FROM h ORDER BY doc_id""".stripMargin,
    "q_perplexity" ->
      s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS w FROM documents),
         |lm AS (SELECT w, count(*) AS c FROM t GROUP BY w),
         |n AS (SELECT sum(c)::DOUBLE AS n FROM lm),
         |s AS (SELECT t.doc_id, count(*)::BIGINT AS n_toks,
         |        -avg(ln(lm.c / n.n)) AS nll
         |      FROM t JOIN lm USING (w), n GROUP BY t.doc_id)
         |SELECT doc_id, n_toks, ${rnd("nll", 6)} AS nll,
         |  ${rnd("exp(nll)", 6)} AS ppl
         |FROM s ORDER BY doc_id""".stripMargin,
    // CCNet-style cross-perplexity under the src0 target LM, Laplace-
    // smoothed over the corpus vocabulary — identical term order
    "q_perplexity_target" ->
      s"""WITH t AS (SELECT doc_id, source = 'src0' AS is_t,
         |             unnest($TOKS) AS w FROM documents),
         |lm AS (SELECT w, sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS c_t
         |       FROM t GROUP BY w),
         |tot AS (SELECT count(*)::DOUBLE AS v, sum(c_t)::DOUBLE AS n_t FROM lm),
         |s AS (SELECT t.doc_id, count(*)::BIGINT AS n_toks,
         |        -avg(ln((lm.c_t + 1) / (tot.n_t + tot.v))) AS nll
         |      FROM t JOIN lm USING (w), tot GROUP BY t.doc_id)
         |SELECT doc_id, n_toks, ${rnd("nll", 6)} AS nll,
         |  ${rnd("exp(nll)", 6)} AS ppl_target
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_perplexity_kn" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |        unnest(toks[2:len(toks)]) AS w2 FROM t),
         |bc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM b GROUP BY w1, w2),
         |lc AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1fwd
         |       FROM bc GROUP BY w1),
         |cc AS (SELECT w2, count(*)::BIGINT AS n1back FROM bc GROUP BY w2),
         |tt AS (SELECT count(*)::BIGINT AS t FROM bc),
         |s AS (SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
         |        -avg(ln(greatest(c12 - 0.75::DOUBLE, 0.0::DOUBLE) / c1
         |                + 0.75::DOUBLE * n1fwd / c1 * (n1back / t))) AS nll
         |      FROM b JOIN bc USING (w1, w2) JOIN lc USING (w1)
         |        JOIN cc USING (w2), tt
         |      GROUP BY b.doc_id)
         |SELECT doc_id, n_bigrams, ${rnd("nll", 6)} AS nll,
         |  ${rnd("exp(nll)", 6)} AS ppl
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_dedup_span" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |        generate_series(1, greatest(len(toks)-19, 0)),
         |        i -> array_to_string(toks[i:i+19], ' ')))) AS span FROM t),
         |f AS (SELECT doc_id, span FROM (
         |        SELECT doc_id, span, count(*) OVER (PARTITION BY span) AS df
         |        FROM s) WHERE df <= 128)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(*)::BIGINT AS n_shared_spans
         |FROM f a JOIN f b ON a.span = b.span AND a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,
    // r12 boilerplate-depth profile: one distinct-span pass per dyadic
    // width, cross-doc = distinct-doc count >= 2, max width per doc
    "q_span_depth" -> {
      val widths = Seq(64, 32, 16, 8, 4)
      val per = widths.map { w =>
        s"""s$w AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+${w - 1}], ' ') AS g
           |  FROM t, unnest(generate_series(1, greatest(len(toks)-${w - 1}, 0))) u(i)),
           |d$w AS (SELECT g FROM s$w GROUP BY g HAVING count(*) >= 2),
           |f$w AS (SELECT DISTINCT doc_id, $w AS w FROM s$w JOIN d$w USING (g))"""
          .stripMargin
      }.mkString(",\n")
      val union = widths.map(w => s"SELECT * FROM f$w").mkString(" UNION ALL ")
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$per,
         |fl AS ($union),
         |mx AS (SELECT doc_id, max(w) AS depth FROM fl GROUP BY doc_id)
         |SELECT t.doc_id, len(toks)::INT AS n_toks,
         |  coalesce(mx.depth, 0)::INT AS depth
         |FROM t LEFT JOIN mx USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    // substring-dedup rewrite: same window slicing as q_dedup_span,
    // first-occurrence keeper by the encoded (doc_id, pos) key,
    // greedy coverage union, rebuild by position order
    "q_dedup_span_cut" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(generate_series(1,
         |        greatest(len(toks)-19, 0))) AS pos FROM t),
         |wi AS (SELECT g.doc_id, g.pos,
         |         md5(array_to_string(t.toks[g.pos:g.pos+19], ' ')) AS sp
         |       FROM g JOIN t USING (doc_id)),
         |dup AS (SELECT sp, min(doc_id * 1000000 + pos) AS keeper
         |        FROM wi GROUP BY sp HAVING count(*) > 1),
         |rm0 AS (SELECT wi.doc_id,
         |          unnest(generate_series(wi.pos, wi.pos + 19)) AS p
         |        FROM wi JOIN dup USING (sp)
         |        WHERE wi.doc_id * 1000000 + wi.pos <> dup.keeper),
         |rm AS (SELECT DISTINCT doc_id, p FROM rm0),
         |tp AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p
         |       FROM t),
         |tok AS (SELECT tp.doc_id, tp.p, t.toks[tp.p] AS tok
         |        FROM tp JOIN t USING (doc_id)),
         |keep AS (SELECT doc_id, p, tok FROM tok
         |         WHERE NOT EXISTS (SELECT 1 FROM rm
         |                           WHERE rm.doc_id = tok.doc_id
         |                             AND rm.p = tok.p)),
         |k AS (SELECT doc_id, count(*)::BIGINT AS n_after,
         |        string_agg(tok, ' ' ORDER BY p) AS text_after
         |      FROM keep GROUP BY doc_id)
         |SELECT t.doc_id, len(t.toks)::BIGINT AS n_before,
         |  coalesce(k.n_after, 0)::BIGINT AS n_after,
         |  coalesce(k.text_after, '') AS text_after
         |FROM t LEFT JOIN k USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "q_domain_stats" ->
      s"""WITH t AS (SELECT doc_id, source, lang, $TOKS AS toks FROM documents),
         |$qualityCtes
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT lang)::BIGINT AS n_langs,
         |  sum(len(toks))::BIGINT AS total_toks,
         |  ${rnd("avg(len(toks))", 6)} AS avg_toks,
         |  ${rnd("avg(quality)", 6)} AS avg_quality
         |FROM t JOIN q USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    // per-source KL / cross-entropy vs the corpus unigram LM — term
    // order inside the sums matches the Spark expression exactly
    "q_corpus_kl" ->
      s"""WITH t AS (SELECT source, $TOKS AS toks FROM documents),
         |w AS (SELECT source, unnest(toks) AS w FROM t),
         |cs AS (SELECT source, w, count(*)::BIGINT AS c_s
         |       FROM w GROUP BY source, w),
         |cc AS (SELECT w, sum(c_s)::BIGINT AS c_c FROM cs GROUP BY w),
         |ns AS (SELECT source, sum(c_s)::DOUBLE AS n_s
         |       FROM cs GROUP BY source),
         |nc AS (SELECT sum(c_c)::DOUBLE AS n_c FROM cc)
         |SELECT source, n_s::BIGINT AS n_toks, count(*)::BIGINT AS vocab,
         |  ${rnd("sum((c_s / n_s) * (ln(c_s / n_s) - ln(c_c / n_c)))", 6)} AS kl,
         |  ${rnd("sum(-(c_s / n_s) * ln(c_c / n_c))", 6)} AS xent
         |FROM cs JOIN cc USING (w) JOIN ns USING (source) CROSS JOIN nc
         |GROUP BY source, n_s ORDER BY source""".stripMargin,
    "q_pii_redact" -> {
      import TextAnalysis.{EmailRe, PhoneRe, IpRe}
      s"""WITH b AS (SELECT c_custkey AS id,
         |  'contact ' || c_name || ' mail ' ||
         |  lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g')) ||
         |  '@example.com tel 555-' ||
         |  lpad((c_custkey % 1000)::VARCHAR, 3, '0') || '-' ||
         |  lpad(((c_custkey * 7) % 10000)::VARCHAR, 4, '0') ||
         |  ' host 10.' || (c_nationkey % 256)::VARCHAR ||
         |  '.0.' || (c_custkey % 256)::VARCHAR AS text
         |FROM customer)
         |SELECT id,
         |  len(regexp_extract_all(text, '$EmailRe'))::INT AS n_emails,
         |  len(regexp_extract_all(text, '$PhoneRe'))::INT AS n_phones,
         |  len(regexp_extract_all(text, '$IpRe'))::INT AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '[EMAIL]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g'),
         |    '$IpRe', '[IP]', 'g') AS redacted
         |FROM b ORDER BY id""".stripMargin
    },
    "q_dedup_embed" ->
      s"""$NORMVEC
         |SELECT id_a, id_b, cos_sim FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${rnd("list_sum(list_transform(generate_series(1, 64), i -> a.vn[i] * b.vn[i]))", 6)} AS cos_sim
         |  FROM u a, u b WHERE a.vec_id < b.vec_id) p
         |WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    // planted rows are chr()-for-\\u mirrors of the Scala literals:
    // 769 = U+0301 combining acute, 778 = U+030A combining ring,
    // 233 = é precomposed, 65313/65314 = fullwidth A/B
    "q_normalize_text" ->
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT 9000001, 'Cafe' || chr(769) || '  du  MONDE'
         |  UNION ALL SELECT 9000002, 'A' || chr(778) || '  STRAND'
         |  UNION ALL SELECT 9000003, 'already caf' || chr(233)
         |  UNION ALL SELECT 9000004, '  tabs' || chr(9) || 'and' || chr(10) || 'newlines  '
         |  UNION ALL SELECT 9000005, 'FULLWIDTH ' || chr(65313) || chr(65314))
         |SELECT doc_id,
         |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS norm
         |FROM d ORDER BY doc_id""".stripMargin,
  )

  // -------------------------------------------------------------------
  // Corpus-curation surface: sampling/mixing, packing, decontamination,
  // repetition hygiene, inverted index (ops.Curation)
  // -------------------------------------------------------------------

  val curation: Map[String, Q] = Map(
    "q_sample_hash"       -> (Curation.qSampleHash _),
    "q_sample_stratified" -> (Curation.qSampleStratified _),
    "q_mix_weighted"      -> (Curation.qMixWeighted _),
    "q_sample_weighted"   -> (Curation.qSampleWeighted _),
    "q_token_budget"      -> (Curation.qTokenBudget _),
    "q_pack_chunks"       -> (Curation.qPackChunks _),
    "q_decontaminate"     -> (Curation.qDecontaminate _),
    "q_rep_filter"        -> (Curation.qRepFilter _),
    "q_inverted_index"    -> (Curation.qInvertedIndex _),
    "q_bloom_decontaminate" -> (Curation.qBloomDecontaminate _),
    "q_chunk_docs"        -> (Curation.qChunkDocs _),
    "q_curate_web"        -> (Curation.qCurateWeb _),
    "q_crawl_triad"       -> (Curation.qCrawlTriad _),
    "q_warc_triad"        -> (Curation.qWarcTriad _),
    "q_warc_gz"           -> (Curation.qWarcGz _),
    "q_warc_cdx"          -> (Curation.qWarcCdx _),
    "q_training_pipeline" -> (Curation.qTrainingPipeline _),
    "q_training_stable"   -> (Curation.qTrainingStable _),
    "q_mix_temperature"   -> (Curation.qMixTemperature _),
    "q_split_assign"      -> (Curation.qSplitAssign _),
    "q_shuffle_shard"     -> (Curation.qShuffleShard _),
    "q_length_batch"      -> (Curation.qLengthBatch _),
    "q_mix_interleave"    -> (Curation.qMixInterleave _),
    "q_dsir"              -> (Curation.qDsir _),
  )

  val curationOracle: Map[String, String] = Map(
    // DSIR importance weights: hashed unigram+bigram buckets (3 hex md5
    // chars = 4096), Laplace-smoothed target-vs-raw log-ratio, per-doc
    // mean — identical term order to the Spark expression
    "q_dsir" ->
      s"""WITH t AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
         |f AS (SELECT doc_id, source = 'src0' AS is_t,
         |        unnest(${bigramFeatsSql("toks")}) AS f FROM t),
         |b AS (SELECT doc_id, is_t, substr(md5(f), 1, 3) AS bk FROM f),
         |lm AS (SELECT bk, count(*)::BIGINT AS c_r,
         |         sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS c_t
         |       FROM b GROUP BY bk),
         |tot AS (SELECT sum(c_r)::DOUBLE AS n_r, sum(c_t)::DOUBLE AS n_t
         |        FROM lm),
         |s AS (SELECT doc_id, count(*)::BIGINT AS n_feats,
         |        avg(ln(c_t + 1) - ln(n_t + 4096)
         |          - ln(c_r + 1) + ln(n_r + 4096)) AS w
         |      FROM b JOIN lm USING (bk) CROSS JOIN tot GROUP BY doc_id)
         |SELECT doc_id, n_feats, ${rnd("w", 6)} AS dsir_w
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_curate_web" ->
      s"""WITH h AS (SELECT doc_id, ${Html.plainPageSql} AS html FROM documents),
         |e AS (SELECT doc_id, ${Html.contentSqlExpr("html")} AS content FROM h),
         |t AS (SELECT doc_id, string_split(content, ' ') AS toks FROM e),
         |f AS (SELECT doc_id, ${bigramFeatsSql("toks")} AS feats FROM t),
         |s AS (SELECT doc_id, len(feats)::INT AS n_feats,
         |        ${wMilliSql("feats")} AS w_milli FROM f),
         |k AS (SELECT min(doc_id) AS doc_id FROM e GROUP BY md5(content))
         |SELECT doc_id, n_feats,
         |  ${rnd("w_milli / (1000.0 * greatest(n_feats, 1))", 6)} AS score
         |FROM s JOIN k USING (doc_id) WHERE w_milli > 0
         |ORDER BY doc_id""".stripMargin,
    // r13: the batch crawl triad end-to-end — canon dedup (Url chain)
    // → extraction (Html chain) → content dedup + the streaming quality
    // gate → md5-MinHash probe vs the corpus index; every fragment is
    // the SAME constant set its standalone query already mirrors.
    // r14: q_warc_triad pushes the SAME pages through a WARC
    // encode→parse round trip, so it shares this oracle verbatim —
    // any WARC framing/charset bug diffs against it.
    "q_crawl_triad" -> crawlTriadOracle,
    "q_warc_triad" -> crawlTriadOracle,
    // r15: q_warc_gz is the same triad through the GZIPPED fixture
    // (per-record members) — same oracle, so the gzip member walk is
    // correctness-gated end to end
    "q_warc_gz" -> crawlTriadOracle,
    // r15: ranged point reads through the CDX sidecar — the oracle
    // reconstructs the sampled pages from the shared triad CTE, so a
    // wrong offset / mis-sliced member / drifted index row hash-diffs
    "q_warc_cdx" ->
      s"""WITH $triadPagesCte
         |SELECT doc_id, md5(html) AS h, length(html)::INT AS n_chars
         |FROM pg WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin,
  )

  /** The triad-pages construction as a DuckDB CTE body — ONE fixture
    * expression shared by crawlTriadOracle and q_warc_cdx so the two
    * cannot drift. */
  private lazy val triadPagesCte: String = {
      def lit0(s: String) = "'" + s.replace("'", "''") + "'"
      s"""pg AS (
         |  -- url/html render from the ORIGINAL doc_id, the page id
         |  -- offset applied OUTSIDE (nested like Url.dedupOracleSql,
         |  -- never relying on lateral-alias precedence)
         |  SELECT doc_id + 1000000 AS doc_id, url, html FROM (
         |    SELECT doc_id, ${graft.ops.Url.baseUrlSql} AS url,
         |           ${graft.ops.Html.plainPageSql} AS html
         |    FROM documents WHERE doc_id % 5 = 0)
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, url, html FROM (
         |    SELECT doc_id, ${graft.ops.Url.variantUrlSql} AS url,
         |           ${graft.ops.Html.plainPageSql} AS html
         |    FROM documents WHERE doc_id % 10 = 0)
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, url, html FROM (
         |    SELECT doc_id,
         |      'https://example-' || source || '.com/alt-' || doc_id::VARCHAR AS url,
         |      ${lit0(graft.ops.Curation.AltW1)} || text ||
         |        ${lit0(graft.ops.Curation.AltW2)} AS html
         |    FROM documents WHERE doc_id % 10 = 5))""".stripMargin
  }

  private lazy val crawlTriadOracle: String = {
      val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
      val quality = "least(n_toks::DOUBLE / 100.0, 1.0) * 0.3::DOUBLE" +
        " + ttr * 0.3::DOUBLE + (1.0::DOUBLE - stop_ratio) * 0.4::DOUBLE"
      s"""WITH $triadPagesCte,
         |d0 AS (SELECT doc_id, html, ${graft.ops.Url.defraggedSql} AS d FROM pg),
         |cn AS (SELECT doc_id, html, ${graft.ops.Url.canonSql} AS canon FROM d0),
         |k1 AS (SELECT doc_id, html FROM (
         |  SELECT doc_id, html,
         |    row_number() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
         |  FROM cn) z WHERE rn = 1),
         |e AS (SELECT doc_id, ${graft.ops.Html.contentSqlExpr("html")} AS content
         |      FROM k1),
         |k2 AS (SELECT doc_id, content FROM (
         |  SELECT doc_id, content,
         |    row_number() OVER (PARTITION BY md5(content) ORDER BY doc_id) AS rn
         |  FROM e) z WHERE rn = 1),
         |tk AS (SELECT doc_id, string_split(lower(trim(content)), ' ') AS toks
         |       FROM k2),
         |qg AS (SELECT doc_id, toks,
         |  len(toks)::INT AS n_toks,
         |  len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
         |  len(list_filter(toks, t -> list_contains($stop, t)))::DOUBLE
         |    / len(toks) AS stop_ratio
         |  FROM tk),
         |ti AS (SELECT doc_id, toks FROM qg
         |  WHERE ${rnd(quality, 6)} >= 0.5
         |    AND ${rnd("1.0::DOUBLE - ttr", 6)} <= 0.6),
         |t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$mhPermsCte,
         |${minhashCtes("mh_", "t")},
         |${minhashCtes("mi_", "ti")},
         |cand AS (SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corpus_id
         |  FROM mh_bnd c JOIN mi_bnd i ON c.band = i.band AND c.bkey = i.bkey),
         |szc AS (SELECT doc_id, count(*) AS n FROM mh_sh GROUP BY doc_id),
         |szi AS (SELECT doc_id, count(*) AS n FROM mi_sh GROUP BY doc_id),
         |itr AS (SELECT c.inc_id, c.corpus_id, count(*) AS inter
         |  FROM cand c JOIN mi_sh x ON x.doc_id = c.inc_id
         |              JOIN mh_sh y ON y.doc_id = c.corpus_id AND y.h = x.h
         |  GROUP BY c.inc_id, c.corpus_id)
         |SELECT doc_id, corpus_id, ${rnd("jac", 6)} AS jac FROM (
         |  SELECT i.inc_id AS doc_id, i.corpus_id,
         |    i.inter::DOUBLE / (si.n + sc.n - i.inter) AS jac
         |  FROM itr i JOIN szi si ON si.doc_id = i.inc_id
         |             JOIN szc sc ON sc.doc_id = i.corpus_id) z
         |WHERE jac >= 0.8 ORDER BY doc_id, corpus_id""".stripMargin
  }

  private val curationOracleB: Map[String, String] = Map(
    "q_sample_hash" ->
      """SELECT doc_id, lang, source, substr(md5(doc_id::VARCHAR), 1, 4) AS bucket
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '1999'
        |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, rn::INT AS rn FROM r WHERE rn <= 10
        |ORDER BY lang, rn""".stripMargin,
    "q_mix_weighted" ->
      """WITH d AS (
        |  SELECT doc_id, source, (substr(source, 4)::INT % 3)::INT AS tier,
        |         substr(md5(doc_id::VARCHAR), 1, 4) AS bucket
        |  FROM documents),
        |t AS (SELECT *, CASE tier WHEN 0 THEN 'cccc' WHEN 1 THEN '8000'
        |                ELSE '1999' END AS thr FROM d)
        |SELECT source, tier, count(*) AS n_total,
        |       sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM t GROUP BY source, tier ORDER BY source""".stripMargin,
    // integer milli-weight; keep iff 16-bit md5 bucket < (w*65536)//1000
    // rendered as 4 lowercase hex chars (lexicographic = numeric)
    "q_sample_weighted" -> {
      val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
      s"""WITH t AS (SELECT doc_id, lang, source, $TOKS AS toks FROM documents),
         |q AS (SELECT doc_id, lang, source,
         |  len(toks)::BIGINT AS n_toks,
         |  len(list_distinct(toks))::BIGINT AS n_distinct,
         |  len(list_filter(toks, t -> list_contains($stop, t)))::BIGINT AS n_stop
         |FROM t),
         |w AS (SELECT doc_id, lang, source,
         |  CASE WHEN n_toks = 0 THEN 0
         |       ELSE least(least(n_toks, 100) * 3 + (n_distinct * 300) // n_toks
         |            + ((n_toks - n_stop) * 400) // n_toks, 999)
         |  END::BIGINT AS w_milli,
         |  substr(md5(doc_id::VARCHAR), 1, 4) AS bucket
         |FROM q)
         |SELECT doc_id, lang, source, w_milli, bucket
         |FROM w
         |WHERE bucket < lpad(lower(to_hex((w_milli * 65536) // 1000)), 4, '0')
         |ORDER BY doc_id""".stripMargin
    },
    // mirrors Curation.tokenBudget: the oracle's single global window
    // cumsum over (quality desc, doc_id) equals the engine's banded
    // two-level prefix sum exactly (integer token counts)
    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |$qualityCtes,
         |c AS (SELECT doc_id, n_toks, quality,
         |  sum(n_toks::BIGINT) OVER (ORDER BY quality DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS cum_toks
         |FROM q)
         |SELECT doc_id, n_toks, quality, cum_toks FROM c
         |WHERE cum_toks <= 12000 ORDER BY doc_id""".stripMargin,
    "q_pack_chunks" ->
      s"""WITH t AS (SELECT doc_id, len($TOKS)::BIGINT AS n_toks FROM documents),
         |o AS (SELECT doc_id, n_toks,
         |  coalesce(sum(n_toks) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS tok_offset
         |FROM t)
         |SELECT doc_id, n_toks, tok_offset, (tok_offset // 2048)::BIGINT AS chunk
         |FROM o ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         generate_series(1, greatest(len(toks)-3, 0)),
         |         i -> array_to_string(toks[i:i+3], ' ')))) AS gn FROM t),
         |evg AS (SELECT doc_id AS eval_id, gn FROM g WHERE doc_id % 50 = 0),
         |tr AS (SELECT doc_id, gn FROM g WHERE doc_id % 50 <> 0)
         |SELECT tr.doc_id, count(DISTINCT tr.gn)::BIGINT AS n_hit_grams,
         |       count(DISTINCT evg.eval_id)::BIGINT AS n_eval_docs
         |FROM tr JOIN evg USING (gn)
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    // r12: the resize member of the multimodal quartet — the engine
    // round-trips REAL PNG bytes through the JDK codec, but the
    // gradient fixture is analytic and PNG lossless, so the oracle
    // regenerates the expected pixels from doc_id in pure SQL and
    // mirrors the bilinear arithmetic step-for-step (fixed op order on
    // both sides; see Multimodal.resizeLuma)
    "q_image_resize" ->
      s"""WITH d AS (SELECT doc_id FROM documents),
         |px AS (SELECT doc_id, xx.range AS x, yy.range AS y,
         |        ((doc_id * 31 + yy.range * 16 + xx.range) % 256) AS v
         |       FROM d, range(16) xx, range(16) yy),
         |lm AS (SELECT doc_id, x, y,
         |        0.299 * (v / 255.0) + 0.587 * (v / 255.0)
         |          + 0.114 * (v / 255.0) AS l
         |       FROM px),
         |tg AS (SELECT doc_id, tx.range AS tx, ty.range AS ty,
         |        (tx.range + 0.5) * (16.0 / 5) - 0.5 AS sx,
         |        (ty.range + 0.5) * (16.0 / 5) - 0.5 AS sy
         |       FROM d, range(5) tx, range(5) ty),
         |cc AS (SELECT doc_id, tx, ty,
         |        least(greatest(floor(sx)::INT, 0), 15) AS x0,
         |        least(least(greatest(floor(sx)::INT, 0), 15) + 1, 15) AS x1,
         |        sx - floor(sx) AS fx,
         |        least(greatest(floor(sy)::INT, 0), 15) AS y0,
         |        least(least(greatest(floor(sy)::INT, 0), 15) + 1, 15) AS y1,
         |        sy - floor(sy) AS fy
         |       FROM tg),
         |r AS (SELECT c.doc_id, c.ty * 5 + c.tx AS pos,
         |        (a.l * (1.0 - c.fx) + b.l * c.fx) * (1.0 - c.fy)
         |          + (e.l * (1.0 - c.fx) + f.l * c.fx) * c.fy AS luma
         |      FROM cc c
         |      JOIN lm a ON a.doc_id = c.doc_id AND a.x = c.x0 AND a.y = c.y0
         |      JOIN lm b ON b.doc_id = c.doc_id AND b.x = c.x1 AND b.y = c.y0
         |      JOIN lm e ON e.doc_id = c.doc_id AND e.x = c.x0 AND e.y = c.y1
         |      JOIN lm f ON f.doc_id = c.doc_id AND f.x = c.x1 AND f.y = c.y1)
         |SELECT doc_id, 16 AS src_w, 16 AS src_h, pos::INT AS pos,
         |  ${rnd("luma", 6)} AS luma
         |FROM r ORDER BY doc_id, pos""".stripMargin,
    // r13: frame sampling closes the multimodal quartet — the engine
    // round-trips REAL solid-gray JPEG frames through a real MP4
    // mdat walk + marker slicer + JDK codec (every 3rd frame decoded),
    // but solid frames survive quality-1.0 JPEG bit-exactly (verified
    // for all 256 grays, MultimodalSpec), so the oracle regenerates
    // the sampled (frame_idx, luma) grid from doc_id in pure SQL —
    // same analytic-fixture discipline as q_image_resize above
    // r13: audio joins image/video on the oracle-exact side, and
    // raises the bar — PCM is integer end to end, so the compare is
    // exact by construction (no FP, no rounding discipline)
    "q_audio_stats" ->
      """WITH f AS (SELECT doc_id, (200 + doc_id % 100) AS n FROM documents),
        |i AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM f),
        |s AS (SELECT doc_id, n, i,
        |        ((doc_id * 131 + i * 17) % 65536) - 32768 AS v FROM i),
        |w AS (SELECT doc_id, n, i, v,
        |        lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
        |SELECT doc_id, max(n)::INT AS n_samples, 8000 AS sample_rate,
        |  min(v)::INT AS min_s, max(v)::INT AS max_s,
        |  sum(v)::BIGINT AS sum_s, sum(abs(v))::BIGINT AS sum_abs,
        |  sum(CASE WHEN pv IS NOT NULL AND v * pv < 0 THEN 1 ELSE 0 END)::INT
        |    AS n_sign_flips
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, (4 + doc_id % 5) AS n_frames
         |           FROM documents),
         |i AS (SELECT doc_id, n_frames,
         |        unnest(range(0, n_frames, 3)) AS frame_idx FROM f),
         |g AS (SELECT doc_id, frame_idx, n_frames,
         |        ((doc_id * 37 + frame_idx * 71) % 256) AS gv FROM i)
         |SELECT doc_id, frame_idx::INT AS frame_idx,
         |  n_frames::INT AS n_frames,
         |  ${rnd("0.299 * (gv / 255.0) + 0.587 * (gv / 255.0) + 0.114 * (gv / 255.0)", 6)} AS luma
         |FROM g ORDER BY doc_id, frame_idx""".stripMargin,
    // r12: oracle-exact — the sketch is rebuilt on engine-independent
    // primitives (Md5Bloom: md5 lower/upper double hashing, integer-
    // exact sizing; bpe and k interpolated below from the SAME Scala
    // functions the plan calls), so DuckDB reproduces the exact bit
    // pattern, false positives included
    "q_bloom_decontaminate" -> {
      val bpe = graft.functions.Md5Bloom.bitsPerElem(1e-6)
      val k = graft.functions.Md5Bloom.numHashes(1e-6)
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |        generate_series(1, greatest(len(toks)-3, 0)),
         |        i -> array_to_string(toks[i:i+3], ' '))) AS grams FROM t),
         |evge AS (SELECT unnest(grams) AS gn FROM g WHERE doc_id % 50 = 0),
         |par AS (SELECT ((($bpe * greatest(65536,
         |          (SELECT count(*) FROM evge)) + 63) // 64) * 64)::UBIGINT AS m),
         |evp AS (SELECT DISTINCT ((md5_number_lower(gn) % m)
         |          + r.range::UBIGINT * (md5_number_upper(gn) % m)) % m AS pos
         |        FROM evge, par, range($k) r),
         |trg AS (SELECT doc_id, unnest(grams) AS gn FROM g WHERE doc_id % 50 <> 0),
         |trp AS (SELECT doc_id, gn, ((md5_number_lower(gn) % m)
         |          + r.range::UBIGINT * (md5_number_upper(gn) % m)) % m AS pos
         |        FROM trg, par, range($k) r),
         |hit AS (SELECT doc_id, gn FROM trp JOIN evp USING (pos)
         |        GROUP BY doc_id, gn HAVING count(*) = $k),
         |cnt AS (SELECT doc_id, count(*) AS n_hits FROM hit GROUP BY doc_id)
         |SELECT g.doc_id, len(grams)::INT AS n_grams,
         |  coalesce(cnt.n_hits, 0)::INT AS n_hits,
         |  coalesce(cnt.n_hits, 0) > 0 AS contaminated
         |FROM g LEFT JOIN cnt USING (doc_id)
         |WHERE g.doc_id % 50 <> 0 ORDER BY doc_id""".stripMargin
    },
    "q_rep_filter" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |g AS (SELECT doc_id, toks,
         |        list_transform(generate_series(1, greatest(len(toks)-2, 0)),
         |          i -> array_to_string(toks[i:i+2], ' ')) AS g3 FROM t),
         |m AS (SELECT doc_id, len(toks)::INT AS n_toks,
         |  1.0 - len(list_distinct(toks))::DOUBLE / len(toks) AS dup_tok,
         |  CASE WHEN len(g3) = 0 THEN 0.0
         |       ELSE 1.0 - len(list_distinct(g3))::DOUBLE / len(g3)
         |  END AS dup_g3
         |FROM g)
         |SELECT doc_id, n_toks,
         |  ${rnd("dup_tok", 6)} AS dup_tok_frac,
         |  ${rnd("dup_g3", 6)} AS dup_3gram_frac,
         |  (dup_tok > 0.6 OR dup_g3 > 0.2) AS flagged
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |        CASE WHEN len(toks) <= 128 THEN 1
         |             ELSE ceil((len(toks) - 128)::DOUBLE / 64)::INT + 1
         |        END AS nc FROM t),
         |x AS (SELECT doc_id, toks,
         |        unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)
         |SELECT doc_id, chunk_idx::INT AS chunk_idx,
         |  array_to_string(toks[chunk_idx*64+1 : chunk_idx*64+128], ' ') AS chunk,
         |  len(toks[chunk_idx*64+1 : chunk_idx*64+128])::INT AS n_chunk_toks
         |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |d AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY term, doc_id),
         |a AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
         |        array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
         |      FROM d GROUP BY term)
         |SELECT term, df, cf, postings FROM a WHERE df >= 5
         |ORDER BY term""".stripMargin,
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |s AS (SELECT lang, c,
        |        CAST(floor(sqrt(c) * 1000 + 0.5) AS BIGINT) AS s FROM c),
        |t AS (SELECT sum(c) AS total, sum(s) AS ssum FROM s),
        |q AS (SELECT lang, least(((total // 2) * s) // ssum, c) AS n_take
        |      FROM s, t),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.lang, r.rn::INT AS rn
        |FROM r JOIN q USING (lang) WHERE rn <= n_take
        |ORDER BY lang, rn""".stripMargin,
    "q_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'fa00' THEN 'train'
        |       WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'fd00' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // r12: the md5 permutation key is engine-independent, so the whole
    // training-order shuffle + round-robin shard deal is checked
    // row-for-row
    // r13: the training-assembly composition — dedup keepers, the
    // shared quality gate, the md5 shuffle-shard rank, and per-shard
    // token packing, each fragment the SAME constants its standalone
    // query mirrors (q_dedup_exact / q_quality_score / q_shuffle_shard
    // / q_pack_chunks)
    "q_training_pipeline" -> {
      val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
      val quality = "least(n_toks::DOUBLE / 100.0, 1.0) * 0.3::DOUBLE" +
        " + ttr * 0.3::DOUBLE + (1.0::DOUBLE - stop_ratio) * 0.4::DOUBLE"
      s"""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents
         |           GROUP BY md5(text)),
         |t AS (SELECT doc_id, $TOKS AS toks
         |      FROM documents JOIN k USING (doc_id)),
         |qg AS (SELECT doc_id,
         |  len(toks)::BIGINT AS n_toks,
         |  len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
         |  len(list_filter(toks, tk -> list_contains($stop, tk)))::DOUBLE
         |    / len(toks) AS stop_ratio
         |  FROM t),
         |g AS (SELECT doc_id, n_toks, q AS quality FROM (
         |  SELECT doc_id, n_toks, ${rnd(quality, 6)} AS q,
         |         ${rnd("1.0::DOUBLE - ttr", 6)} AS df FROM qg) z
         |  WHERE q >= 0.5 AND df <= 0.6),
         |p AS (SELECT doc_id, n_toks, quality,
         |  row_number() OVER (ORDER BY md5('r12:' || doc_id::VARCHAR), doc_id)
         |    - 1 AS pos FROM g),
         |s AS (SELECT doc_id, n_toks, quality,
         |  (pos % 8)::INT AS shard, (pos // 8) AS pos_in_shard FROM p),
         |c AS (SELECT *, coalesce(sum(n_toks) OVER (
         |    PARTITION BY shard ORDER BY pos_in_shard
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS tok_offset FROM s)
         |SELECT doc_id, shard, pos_in_shard,
         |  (tok_offset // 2048)::BIGINT AS chunk, n_toks, quality
         |FROM c ORDER BY doc_id""".stripMargin
    },
    // r14: the STABLE twin — hash shard (pure doc_id function) +
    // per-shard doc_id-order packing; the row shape the streaming
    // assembly's stateful packer reproduces incrementally
    "q_training_stable" -> {
      val stop = sqlList(langLists.flatMap(_._2).distinct.sorted)
      val quality = "least(n_toks::DOUBLE / 100.0, 1.0) * 0.3::DOUBLE" +
        " + ttr * 0.3::DOUBLE + (1.0::DOUBLE - stop_ratio) * 0.4::DOUBLE"
      s"""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents
         |           GROUP BY md5(text)),
         |t AS (SELECT doc_id, $TOKS AS toks
         |      FROM documents JOIN k USING (doc_id)),
         |qg AS (SELECT doc_id,
         |  len(toks)::BIGINT AS n_toks,
         |  len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
         |  len(list_filter(toks, tk -> list_contains($stop, tk)))::DOUBLE
         |    / len(toks) AS stop_ratio
         |  FROM t),
         |g AS (SELECT doc_id, n_toks, q AS quality FROM (
         |  SELECT doc_id, n_toks, ${rnd(quality, 6)} AS q,
         |         ${rnd("1.0::DOUBLE - ttr", 6)} AS df FROM qg) z
         |  WHERE q >= 0.5 AND df <= 0.6),
         |s AS (SELECT doc_id, n_toks, quality,
         |  ((('0x' || substr(md5('r12:' || doc_id::VARCHAR), 1, 15))::BIGINT
         |    % 8))::INT AS shard FROM g),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1
         |    AS pos_in_shard,
         |  coalesce(sum(n_toks) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS tok_offset FROM s)
         |SELECT doc_id, shard, pos_in_shard,
         |  (tok_offset // 2048)::BIGINT AS chunk, n_toks, quality
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "q_shuffle_shard" ->
      """WITH r AS (SELECT doc_id,
        |    md5('r12:' || doc_id::VARCHAR) AS skey FROM documents),
        |p AS (SELECT doc_id, skey,
        |    row_number() OVER (ORDER BY skey, doc_id) - 1 AS pos FROM r)
        |SELECT doc_id, skey, (pos % 16)::INT AS shard,
        |  (pos // 16) AS pos_in_shard
        |FROM p ORDER BY doc_id""".stripMargin,
    // r12: per-bucket row_number mirrors the engine's segmented rank
    // (global sort + zipWithIndex − bucket base) exactly
    "q_length_batch" ->
      s"""WITH t AS (SELECT doc_id, len($TOKS)::BIGINT AS n_toks FROM documents),
         |r AS (SELECT doc_id, n_toks, (n_toks // 32) AS bucket,
         |    row_number() OVER (PARTITION BY (n_toks // 32)
         |                       ORDER BY n_toks DESC, doc_id) - 1 AS rk
         |  FROM t)
         |SELECT doc_id, n_toks, bucket::INT AS bucket,
         |  (rk // 8)::INT AS batch_id, (rk % 8)::INT AS slot
         |FROM r ORDER BY doc_id""".stripMargin,
    // r12: schedule keys are exact integers / an IEEE-exact sqrt, so
    // the proportional-fill order is bit-identical on both engines
    "q_mix_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |    md5('r12:' || doc_id::VARCHAR) AS skey FROM documents),
        |p AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY skey, doc_id)
        |      - 1 AS pos_in_source,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM r),
        |s AS (SELECT doc_id, source, pos_in_source,
        |    (pos_in_source + 1)::DOUBLE / sqrt(n) AS sched FROM p),
        |g AS (SELECT doc_id, source, pos_in_source,
        |    row_number() OVER (ORDER BY sched, source, doc_id) - 1 AS global_pos
        |  FROM s)
        |SELECT doc_id, source, pos_in_source, global_pos
        |FROM g ORDER BY doc_id""".stripMargin,
  )

  // -------------------------------------------------------------------
  // Assembly
  // -------------------------------------------------------------------

  /** The full declared registry. */
  val all: Map[String, Q] =
    relational ++ aggregates ++ windows ++ scalars ++ events ++ text ++
      dedupSim ++ extras ++ curation

  /** DuckDB oracle for every SQL-expressible query. Oracle-exempt
    * (golden-tested): q_agg_approx,
    * q_ann_ivf, q_percentiles_approx (merge-order-
    * dependent GK summaries, golden-bounded against the exact
    * percentiles), q_token_bpe (DuckDB has no BPE; golden-checked
    * against an independent single-node reference in BpeSpec),
    * q_bpe_learn (iterative argmax-merge training loop; golden vs an
    * independent single-node learner in BpeLearnSpec), q_ann_quant
    * (approximate by construction; recall + at-rest-size goldens in
    * QuantSpec), q_ann_pq (r14 — the product-quantized tier, same
    * exemption rationale and golden shape as q_ann_quant).
    * q_multimodal_features left the list in r14 (four
    * analytic container fixtures through the real dispatch; the
    * SHA-256 stub dims replay via DuckDB's sha256; only the float
    * feature vector stays a golden concern — float32→string
    * rendering is JVM-specific). q_embed_pca and q_dedup_simhash left this list in
    * r12: the deterministic power iteration unrolls as a recursive
    * CTE over the oracle-exact covariance ([[pcaOracleSql]]), and the
    * md5-low64 token hash made the banded simhash DuckDB-expressible.
    * q_dedup_near and q_dedup_incr_near followed later in r12 — with
    * md5-low64 shingle hashes, plan-interpolated permutation
    * constants, and md5 band keys ([[minhashCtes]]) nothing in the
    * MinHash pipeline is JVM-only anymore — as did q_kmeans, whose
    * update means moved to the exact 2⁵⁰ DECIMAL carrier
    * ([[kmeansOracleSql]]). */
  val oracle: Map[String, String] =
    relationalOracle ++ aggregatesOracle ++ windowsOracle ++ scalarsOracle ++
      eventsOracle ++ textOracle ++ dedupSimOracle ++ extrasOracle ++
      curationOracle ++ curationOracleB

  /** sf1-gate oracle OVERRIDES (r9, verdict ask #4: shrink the 10×
    * oracle-budget skip list): for queries whose primary oracle is
    * deliberately naive-quadratic in DuckDB (the independence the
    * sf0.01 gate wants) and therefore un-runnable at 10×, a
    * still-faithful but affordable form for `tools/sf1_gate.py`:
    *
    *  - FULL rewrites factored through DISTINCT values (fuzzy family —
    *    levenshtein/JW depend only on the value, so grouping verbatim
    *    duplicates first is definitionally equivalent; the naive form
    *    stays the sf0.01 oracle);
    *  - SLICED forms (`sparkWhere` non-empty): the oracle restricts
    *    the probe/lead side to a deterministic ~1% id slice and the
    *    gate applies `sparkWhere` to the engine dump before
    *    comparing — per-row-complete value verification of the slice
    *    (ADVICE r8: "value-verify at least a sample of sf1 pairs");
    *  - MULTI-STATEMENT scripts (r10, verdict ask #3): the closure
    *    family (q_dedup_cluster / q_dedup_keep_best /
    *    q_entity_resolution) materializes its pair graph and a
    *    star-contraction closure through TEMP TABLEs — duckdb's
    *    `con.sql` executes the script and returns the final SELECT.
    *    Temp tables sidestep two DuckDB 1.0 pathologies measured at
    *    sf1: the 3-relation relabel join + DISTINCT optimizes into a
    *    ~200 s plan (0.15 s as two single-join steps), and a
    *    recursive CTE re-evaluates its whole upstream CTE chain once
    *    per iteration (~5 × 52 s for the jaccard pair pipeline).
    *
    * Each entry: name -> (duckdbSql, sparkWhere); empty sparkWhere =
    * compare the full dump. Every override is proven identical to its
    * primary at sf0.01/sf0.1 by `tools/override_equiv.py` before
    * adoption. */
  /** sf1-override building block: exact connected components of the
    * symmetric temp edge table `<p>edges`(u, v) into `<p>lab`(id,
    * cluster), as a multi-statement TEMP TABLE script. Two rounds of
    * min-label star contraction — every node merges into
    * least(self, min(neighbors)), always a same-component node, so
    * each quotient preserves components exactly — then an exact
    * reachability recursive CTE on the residual quotient
    * (unconditional correctness for any residual shape; after two
    * contractions the planted near-clique components have collapsed,
    * so the CTE's per-component-quadratic cost is trivial). The final
    * label is the component MINIMUM: the min node is its own label at
    * every level, so the composed chain bottoms out at it — the same
    * min-label semantics as the primaries' `min(anc)` reachability.
    * Relabel steps are deliberately single-join. */
  private def ccScript(p: String): String =
    s"""CREATE TEMP TABLE ${p}l1 AS
       |  SELECT u AS id, least(u, min(v)) AS lab FROM ${p}edges GROUP BY u;
       |CREATE TEMP TABLE ${p}j1 AS
       |  SELECT e.v, a.lab AS la FROM ${p}edges e JOIN ${p}l1 a ON e.u = a.id;
       |CREATE TEMP TABLE ${p}e1 AS
       |  SELECT DISTINCT j.la AS u, b.lab AS v
       |  FROM ${p}j1 j JOIN ${p}l1 b ON j.v = b.id WHERE j.la <> b.lab;
       |CREATE TEMP TABLE ${p}l2 AS
       |  SELECT u AS id, least(u, min(v)) AS lab FROM ${p}e1 GROUP BY u;
       |CREATE TEMP TABLE ${p}j2 AS
       |  SELECT e.v, a.lab AS la FROM ${p}e1 e JOIN ${p}l2 a ON e.u = a.id;
       |CREATE TEMP TABLE ${p}e2 AS
       |  SELECT DISTINCT j.la AS u, b.lab AS v
       |  FROM ${p}j2 j JOIN ${p}l2 b ON j.v = b.id WHERE j.la <> b.lab;
       |CREATE TEMP TABLE ${p}lab3 AS
       |  WITH RECURSIVE n2 AS (SELECT DISTINCT u AS id FROM ${p}e2),
       |  reach(id, anc) AS (
       |    SELECT id, id FROM n2
       |    UNION
       |    SELECT e.v, r.anc FROM reach r JOIN ${p}e2 e ON e.u = r.id)
       |  SELECT id, min(anc) AS lab FROM reach GROUP BY id;
       |CREATE TEMP TABLE ${p}lab AS
       |  SELECT ${p}l1.id, coalesce(${p}lab3.lab, ${p}l2.lab, ${p}l1.lab) AS cluster
       |  FROM ${p}l1 LEFT JOIN ${p}l2 ON ${p}l1.lab = ${p}l2.id
       |       LEFT JOIN ${p}lab3 ON coalesce(${p}l2.lab, ${p}l1.lab) = ${p}lab3.id;""".stripMargin

  /** sf1-override building block: the exact jaccard≥0.9 pair graph of
    * `documents` (the dedup closure primaries' `pairs` CTE) as a temp
    * table script ending in `g_edges`/`g_lab`. The pair set is
    * IDENTICAL to the primaries' within-lang all-pairs form: prefix
    * filtering on the (doc-frequency, token)-ordered token prefix of
    * length |set| − ⌈0.9·|set|⌉ + 1 is complete for jaccard ≥ 0.9
    * (any qualifying pair shares a prefix token under a common total
    * order — Chaudhuri et al.'s SSJoin bound), as is the
    * 10·min ≥ 9·max size filter (jac ≥ 0.9 ⟹ |A|/|B| ∈ [0.9, 1/0.9]);
    * every candidate is then verified with the primaries' exact jac
    * expression. */
  private def dedupPairsScript: String =
    s"""CREATE TEMP TABLE g_d AS
       |  SELECT doc_id, lang, list_distinct($TOKS) AS tset FROM documents;
       |CREATE TEMP TABLE g_tok AS
       |  SELECT doc_id, lang, unnest(tset) AS t, len(tset) AS sz FROM g_d;
       |CREATE TEMP TABLE g_df AS SELECT t, count(*) AS dfc FROM g_tok GROUP BY t;
       |CREATE TEMP TABLE g_pre AS
       |  SELECT doc_id, lang, t, sz FROM (
       |    SELECT g_tok.doc_id, g_tok.lang, g_tok.t, g_tok.sz,
       |      row_number() OVER (PARTITION BY g_tok.doc_id
       |                         ORDER BY g_df.dfc, g_tok.t) AS rn
       |    FROM g_tok JOIN g_df ON g_tok.t = g_df.t) r
       |  WHERE rn <= sz - ceil(0.9 * sz)::BIGINT + 1;
       |CREATE TEMP TABLE g_cand AS
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g_pre a JOIN g_pre b
       |    ON a.lang = b.lang AND a.t = b.t AND a.doc_id < b.doc_id
       |   AND 10 * least(a.sz, b.sz) >= 9 * greatest(a.sz, b.sz);
       |CREATE TEMP TABLE g_pairs AS
       |  SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b,
       |      len(list_distinct(list_intersect(da.tset, db.tset)))::DOUBLE
       |        / len(list_distinct(da.tset || db.tset)) AS jac
       |    FROM g_cand c JOIN g_d da ON c.doc_a = da.doc_id
       |                  JOIN g_d db ON c.doc_b = db.doc_id) p
       |  WHERE jac >= 0.9;
       |CREATE TEMP TABLE g_edges AS
       |  SELECT doc_a AS u, doc_b AS v FROM g_pairs
       |  UNION SELECT doc_b, doc_a FROM g_pairs;
       |${ccScript("g_")}""".stripMargin

  val oracleSf1: Map[String, (String, String)] = Map(
    "q_dedup_cluster" -> ((
      s"""$dedupPairsScript
         |CREATE TEMP TABLE g_sz AS
         |  SELECT cluster, count(*) AS cluster_size FROM g_lab GROUP BY cluster;
         |SELECT g_lab.id AS doc_id, g_lab.cluster, g_sz.cluster_size,
         |       (g_lab.id = g_lab.cluster) AS is_keeper
         |FROM g_lab JOIN g_sz USING (cluster) ORDER BY doc_id""".stripMargin, "")),
    "q_dedup_keep_best" -> ((
      s"""$dedupPairsScript
         |CREATE TEMP TABLE g_sz AS
         |  SELECT cluster, count(*) AS cluster_size FROM g_lab GROUP BY cluster;
         |CREATE TEMP TABLE g_q AS
         |  WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |  $qualityCtes
         |  SELECT doc_id, quality FROM q;
         |SELECT cluster, cluster_size, id AS best_doc,
         |       quality AS best_quality, worst_quality
         |FROM (
         |  SELECT g_lab.cluster, g_sz.cluster_size, g_lab.id, g_q.quality,
         |    row_number() OVER (PARTITION BY g_lab.cluster
         |                       ORDER BY g_q.quality DESC NULLS LAST, g_lab.id) AS rn,
         |    min(g_q.quality) OVER (PARTITION BY g_lab.cluster) AS worst_quality
         |  FROM g_lab JOIN g_sz USING (cluster)
         |       LEFT JOIN g_q ON g_q.doc_id = g_lab.id) m
         |WHERE rn = 1 ORDER BY cluster""".stripMargin, "")),
    // distinct-name factoring (edges depend only on the name value) +
    // the customer expansion: every customer whose name is in the
    // value graph shares its value-component — any neighbor name has
    // >= 1 customer, so same-name customers connect through it — and
    // the entity label is min(c_custkey) over the expanded component,
    // exactly the primary's id-graph min label
    "q_entity_resolution" -> ((
      s"""CREATE TEMP TABLE g_dn AS SELECT c_name AS s FROM customer GROUP BY 1;
         |CREATE TEMP TABLE g_vp AS
         |  SELECT a.s AS sa, b.s AS sb FROM g_dn a JOIN g_dn b
         |  ON a.s < b.s AND levenshtein(a.s, b.s) BETWEEN 1 AND 1
         |   AND ${rnd("jaro_winkler_similarity(a.s, b.s)", 6)} >= 0.9;
         |CREATE TEMP TABLE gv_edges AS
         |  SELECT sa AS u, sb AS v FROM g_vp UNION SELECT sb, sa FROM g_vp;
         |${ccScript("gv_")}
         |CREATE TEMP TABLE g_ent AS
         |  SELECT v.cluster, min(c.c_custkey) AS entity, count(*) AS entity_size
         |  FROM customer c JOIN gv_lab v ON c.c_name = v.id GROUP BY v.cluster;
         |SELECT c.c_custkey AS id, c.c_name AS s,
         |  coalesce(e.entity, c.c_custkey) AS entity,
         |  coalesce(e.entity_size, 1) AS entity_size,
         |  coalesce(e.entity, c.c_custkey) = c.c_custkey AS is_canonical
         |FROM customer c
         |LEFT JOIN gv_lab v ON c.c_name = v.id
         |LEFT JOIN g_ent e ON v.cluster = e.cluster
         |ORDER BY id""".stripMargin, "")),
    // the primary's exact global top-100, two optimizations proven
    // value-preserving: (a) the dot product as DuckDB's native
    // list_dot_product instead of a 64-lambda list_transform sum —
    // bit-identical at 6 dp on all sf0.01/sf0.1 pairs and a 1%-probe
    // sf1 slice (4.2M pairs, 0 diffs); (b) the exact-representation
    // VARCHAR rounding (≈1.6 µs/row — 320 s over 200M pairs at the
    // gate's 6 threads) applied only to a raw-ordered top-2000 margin
    // (rounding moves a value < 1e-6; the boundary tie plateau is
    // ≤ ~45 rows, so the rounded top-100 is inside the raw top-2000
    // by orders of magnitude — and a violated margin would produce a
    // visible gate DIFF, never a silent pass). 100 rows verified
    // identical to the one-stage form at sf1; 320 s -> 103 s
    "q_sim_cosine_topk" -> ((
      s"""$NORMVEC,
         |raw AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_dot_product(a.vn, b.vn) AS rdot
         |  FROM u a, u b WHERE a.vec_id < b.vec_id
         |  ORDER BY rdot DESC, id_a, id_b LIMIT 2000)
         |SELECT id_a, id_b, ${rnd("rdot", 6)} AS cos_sim
         |FROM raw ORDER BY cos_sim DESC, id_a, id_b LIMIT 100""".stripMargin, "")),
    // suffix-min sweep form of the primary's NOT-EXISTS dominance:
    // survive iff the row's price is the min at its own date AND
    // strictly under the min over all later dates (32.7 s -> 0.6 s at
    // sf1, rows verified identical)
    "q_skyline" -> ((
      """WITH d AS (SELECT l_shipdate AS dd, min(l_extendedprice) AS m
        |           FROM lineitem GROUP BY 1),
        |w AS (SELECT dd, m, min(m) OVER (ORDER BY dd ROWS BETWEEN
        |        1 FOLLOWING AND UNBOUNDED FOLLOWING) AS mf FROM d)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, l.l_shipdate
        |FROM lineitem l JOIN w ON l.l_shipdate = w.dd
        |WHERE l.l_extendedprice = w.m
        |  AND (w.mf IS NULL OR l.l_extendedprice < w.mf)
        |ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin, "")),
    "q_fuzzy_join" -> ((
      """WITH dn AS (SELECT c_name AS s, count(*)::BIGINT AS cnt
        |            FROM customer GROUP BY 1),
        |dp AS (SELECT a.s AS sa, b.s AS sb FROM dn a JOIN dn b
        |       ON a.s < b.s AND levenshtein(a.s, b.s) BETWEEN 1 AND 1),
        |sym AS (SELECT sa AS name, sb AS m FROM dp
        |        UNION ALL SELECT sb, sa FROM dp),
        |per AS (SELECT sym.name, sum(dn.cnt)::BIGINT AS n_fuzzy,
        |          min(sym.m) AS best_match
        |        FROM sym JOIN dn ON sym.m = dn.s GROUP BY sym.name)
        |SELECT c.c_custkey AS id, c.c_name AS name, per.n_fuzzy, per.best_match
        |FROM customer c JOIN per ON c.c_name = per.name
        |ORDER BY id""".stripMargin, "")),
    "q_jaro_sim" -> ((
      s"""WITH dn AS (SELECT DISTINCT c_name AS s FROM customer),
         |dp AS (SELECT a.s AS sa, b.s AS sb FROM dn a JOIN dn b
         |       ON a.s < b.s AND levenshtein(a.s, b.s) BETWEEN 1 AND 1),
         |sym AS (SELECT sa AS name, sb AS m FROM dp
         |        UNION ALL SELECT sb, sa FROM dp),
         |s2 AS (SELECT name, m,
         |         ${rnd("jaro_winkler_similarity(name, m)", 6)} AS jw FROM sym),
         |r AS (SELECT name, m, jw, row_number() OVER
         |        (PARTITION BY name ORDER BY jw DESC, m ASC) AS rn FROM s2)
         |SELECT c.c_custkey AS id, c.c_name AS name, r.m AS best_match, r.jw
         |FROM customer c JOIN r ON c.c_name = r.name AND r.rn = 1
         |ORDER BY id""".stripMargin, "")),
    "q_knn" -> ((
      s"""$NORMVEC,
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${rnd("list_sum(list_transform(generate_series(1, 64), i -> a.vn[i] * b.vn[i]))", 6)} AS cos_sim
         |  FROM u a, u b WHERE a.vec_id % 100 = 7 AND a.vec_id <> b.vec_id),
         |r AS (SELECT id_a, id_b, cos_sim,
         |  row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b ASC)::INT AS rn
         |  FROM p)
         |SELECT id_a, rn, id_b, cos_sim FROM r WHERE rn <= 3
         |ORDER BY id_a, rn""".stripMargin, "id_a % 100 = 7")),
    "q_dedup_embed" -> ((
      s"""$NORMVEC
         |SELECT id_a, id_b, cos_sim FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${rnd("list_sum(list_transform(generate_series(1, 64), i -> a.vn[i] * b.vn[i]))", 6)} AS cos_sim
         |  FROM u a, u b
         |  WHERE a.vec_id % 100 = 7 AND a.vec_id < b.vec_id) p
         |WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""".stripMargin,
      "id_a % 100 = 7 AND id_a < id_b")),
    "q_sim_jaccard" -> ((
      s"""WITH d AS (SELECT doc_id, lang, list_distinct($TOKS) AS tset FROM documents)
         |SELECT doc_a, doc_b, ${rnd("jac", 6)} AS jac FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_distinct(list_intersect(a.tset, b.tset)))::DOUBLE
         |      / len(list_distinct(a.tset || b.tset)) AS jac
         |  FROM d a, d b
         |  WHERE a.lang = b.lang AND a.doc_id % 100 = 7
         |    AND a.doc_id < b.doc_id) p
         |WHERE jac >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
      "doc_a % 100 = 7")),
    "q_sim_containment" -> ((
      s"""WITH d AS (SELECT doc_id, lang, list_distinct($TOKS) AS tset FROM documents)
         |SELECT doc_a, doc_b, ${rnd("cont", 6)} AS cont FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_distinct(list_intersect(a.tset, b.tset)))::DOUBLE
         |      / len(list_distinct(a.tset)) AS cont
         |  FROM d a, d b
         |  WHERE a.lang = b.lang AND a.doc_id % 100 = 7
         |    AND a.doc_id <> b.doc_id) p
         |WHERE cont >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
      "doc_a % 100 = 7")),
  )
}
