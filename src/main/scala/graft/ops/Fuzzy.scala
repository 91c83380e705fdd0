package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Edit-distance similarity join (fuzzy join / approximate string
  * matching) — the record-linkage primitive behind entity resolution,
  * typo-tolerant key matching, and OCR/ASR text reconciliation.
  *
  * Candidate generation is the deletion-neighborhood scheme (FastSS,
  * Bocek et al. 2007; popularized single-node as SymSpell): every
  * string emits its ≤`maxDist`-character-deletion variants, and any
  * pair within edit distance d is guaranteed to share a variant
  * (align an optimal edit script, delete the substituted/inserted
  * positions from each side — at most d deletions each — and both
  * sides reach the same string). Candidates then verify with an exact
  * `levenshtein` — the filter is complete, so the join equals the
  * naive all-pairs definition while never materializing it.
  *
  * Scale design — the join runs on DISTINCT VALUES, not rows. Real
  * string-key corpora are heavily duplicated ("john smith" appears
  * millions of times in a 100 TB registry), and every copy of a value
  * has the same fuzzy neighbors, so pairing row-level ids directly
  * makes each duplicated value pay its duplication QUADRATICALLY
  * through the signature join. Collapsing to distinct values first
  * makes the signature/verify work a function of distinct-value
  * cardinality only; row-level outputs are recovered by equi-joining
  * the per-value result back to the id table (linear in rows). The
  * per-value candidate volume is Σ over signatures of (distinct-group
  * size)², the same contract as MinHash-LSH banding
  * ([[Dedup]]`.nearDupPairs`). Genuinely-distinct near-variant
  * clusters can still make a signature hot — there the TRUE pair set
  * is itself quadratic in the cluster, so no exact algorithm does
  * better; the optional `maxSigGroup` cap drops signatures whose
  * distinct-value frequency exceeds it (a disclosed recall tradeoff,
  * mirroring the span-dedup hot-key bound). The default keeps the
  * join exact.
  *
  * Determinism: integer edit distances, no floats anywhere.
  */
object Fuzzy {

  /** All single-character-deletion variants of `s`, plus `s` itself. */
  private def del1(s: Column): Column =
    array_distinct(concat(
      array(s),
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - lit(1)), s.substr(i + lit(1), length(s))))))

  /** Deletion neighborhood of order `d`: every string reachable from
    * `s` by deleting at most `d` characters (d small — the variant
    * count is C(|s|, ≤d)). */
  private def delNeighborhood(s: Column, d: Int): Column = {
    require(d >= 1, s"fuzzy join: maxDist must be >= 1, got $d")
    var v = del1(s)
    var k = 1
    while (k < d) {
      v = array_distinct(flatten(transform(v, x => del1(x))))
      k += 1
    }
    v
  }

  /** All pairs of DISTINCT values of `strCol` within Levenshtein
    * distance [1, maxDist], as (s_a, s_b, dist) with s_a < s_b.
    * This is the scale-bearing core: work is a function of
    * distinct-value cardinality, so verbatim duplication of values
    * (the normal shape of name/key columns) costs nothing extra.
    *
    * `maxSigGroup > 0` drops deletion signatures shared by more than
    * that many distinct values (bounded-recall mode for adversarially
    * dense near-variant clusters); 0 (default) keeps the join exact.
    */
  def distinctFuzzyPairs(strs: DataFrame, strCol: String,
                         maxDist: Int = 1, maxSigGroup: Int = 0): DataFrame = {
    val nParts = strs.sparkSession.sparkContext.defaultParallelism
    val sigs0 = strs
      .select(col(strCol).as("s")).distinct()
      // spread the explode + candidate verify across the cluster: the
      // distinct-value table often collapses into a handful of
      // partitions, and a broadcast signature join would preserve that
      // narrow partitioning — without this the whole candidate stream
      // runs on those few cores (measured 15.4 s → 1.9 s warm at
      // sf0.1 on local[32])
      .repartition(nParts)
      .select(col("s"),
        explode(delNeighborhood(col("s"), maxDist)).as("sig"))
    val sigs =
      if (maxSigGroup <= 0) sigs0
      else {
        // signature df via one partial-agg shuffle; the hot ones are
        // by definition few, so the df table stays broadcastable
        val hot = sigs0.groupBy("sig").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxSigGroup).select("sig")
        sigs0.join(broadcast(hot), Seq("sig"), "left_anti")
      }
    val a = sigs.select(col("s").as("s_a"), col("sig"))
    val b = sigs.select(col("s").as("s_b"), col("sig"))
    a.join(b, Seq("sig"))
      .filter(col("s_a") < col("s_b"))
      // cheap guard before the O(len^2) verify: deletions change
      // length by at most maxDist
      .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      // verify BEFORE the pair-dedup shuffle: the codegen'd
      // levenshtein runs map-side on the (duplicated) candidate
      // stream, so the distinct only shuffles TRUE pairs; the
      // projection drops `sig` FIRST — leaving it in scope would make
      // the distinct per-signature and silently overcount pairs
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist").between(1, maxDist))
      .select("s_a", "s_b", "dist").distinct()
  }

  /** All pairs of rows of `strs` whose `strCol` values are within
    * Levenshtein distance [1, maxDist], as
    * (id_a, s_a, id_b, s_b, dist) with id_a < id_b. Distance-0 pairs
    * (equal strings) are deliberately excluded — exact duplication is
    * [[Dedup]]'s job and including it would turn every duplicate
    * group into a quadratic pair set.
    *
    * Implemented as [[distinctFuzzyPairs]] + a row expansion: the
    * signature join never sees duplicated values, only the final
    * equi-join back to ids does. NOTE the OUTPUT itself is still
    * |ids(s_a)|·|ids(s_b)| per value pair — inherent to the row-level
    * contract; per-row AGGREGATES over the pair set (count of
    * neighbors, best match) should be computed at the distinct level
    * and joined back instead, as the registered queries do.
    */
  def fuzzyPairs(strs: DataFrame, idCol: String, strCol: String,
                 maxDist: Int = 1, maxSigGroup: Int = 0): DataFrame = {
    // (id, s) deduped up front (one linear shuffle): a non-unique idCol
    // (duplicate input rows) would otherwise fan the join-back out into
    // duplicate output pairs — the row-level contract is one row per
    // distinct (id_a, id_b, value-pair)
    val ids = strs.select(col(idCol).as("id"), col(strCol).as("s")).distinct()
    val dp = distinctFuzzyPairs(ids, "s", maxDist, maxSigGroup)
    val l = ids.select(col("id").as("ia"), col("s").as("s_a"))
    val r = ids.select(col("id").as("ib"), col("s").as("s_b"))
    val lt = col("ia") < col("ib")
    dp.join(l, Seq("s_a")).join(r, Seq("s_b"))
      .select(
        when(lt, col("ia")).otherwise(col("ib")).as("id_a"),
        when(lt, col("s_a")).otherwise(col("s_b")).as("s_a"),
        when(lt, col("ib")).otherwise(col("ia")).as("id_b"),
        when(lt, col("s_b")).otherwise(col("s_a")).as("s_b"),
        col("dist"))
  }

  /** The customer DISTINCT-NAME fuzzy-pair table, MATERIALIZED once
    * per corpus — the [[Dedup]] token-set-table discipline:
    * q_fuzzy_join, q_jaro_sim and q_entity_resolution all consume the
    * same d=1 distinct-pair stream, and each independently re-paying
    * the deletion-signature join triples the suite cost for identical
    * bytes. Distinct-level (r9): under value duplication (the sf1
    * fixture replicates c_name verbatim ×10) the table and the build
    * cost stay distinct-cardinality-sized instead of growing
    * quadratically with duplication. Content-keyed: mutating the
    * customer table re-fingerprints and rebuilds ([[IndexCache]]). */
  private val customerPairPaths =
    IndexCache.materializedParquet("customer", "graft_fuzzy_pairs")((s, d) =>
      distinctFuzzyPairs(
        Tables.customer(s, d).select(col("c_name").as("s")), "s", maxDist = 1))

  private[graft] def customerDistinctPairs(spark: SparkSession,
                                           dir: String): DataFrame =
    // NOT widened (r17, measured): fanning the one-split pair scan to
    // 32 partitions cost every consumer its exchange back — same-day
    // min-of-3 with widen: q_entity_resolution 5.51 s (vs 3.94),
    // q_jaro_sim 1.23 (vs 1.04), q_fuzzy_join 1.23 (vs 0.82). The JW /
    // symmetrize work on ~0.5 M pairs is cheaper than the shuffle.
    graft.Tables.loadPath(spark, customerPairPaths.get(spark, dir))

  /** The distinct pair table symmetrized to (name, m) — one row per
    * directed neighbor relation between distinct names. Explode-based:
    * a unionAll of two selects would EXECUTE the candidate scan twice. */
  private def symNeighbors(dpairs: DataFrame): DataFrame =
    dpairs.select(explode(array(
        struct(col("s_a").as("name"), col("s_b").as("m")),
        struct(col("s_b").as("name"), col("s_a").as("m"))))
        .as("x"))
      .select(col("x.name").as("name"), col("x.m").as("m"))

  /** q_jaro_sim: the [[distinctFuzzyPairs]] candidates re-scored by
    * the native Jaro–Winkler expression
    * ([[graft.functions.JaroWinklerSim]]): per name, its best fuzzy
    * neighbor by (jw DESC, neighbor ASC) — the record-linkage rank
    * step (Levenshtein gates, Jaro–Winkler ranks). The window and the
    * scoring run at DISTINCT-name cardinality (every copy of a name
    * shares its best match by definition); ids attach by one
    * equi-join at the end. */
  def qJaroSim(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val sym = symNeighbors(customerDistinctPairs(spark, dir))
      .withColumn("jw",
        round(graft.functions.StringSimilarity.jaroWinkler(col("name"), col("m")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("name").orderBy(col("jw").desc, col("m").asc)
    val best = sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("name"), col("m").as("best_match"), col("jw"))
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
      .join(best, Seq("name"))
      .select("id", "name", "best_match", "jw")
      .orderBy("id")
  }

  /** End-to-end entity resolution — the composition the library's
    * pieces exist for: [[distinctFuzzyPairs]] blocks candidates
    * (complete deletion-neighborhood filter + levenshtein gate), the
    * native Jaro–Winkler expression scores them, value pairs at
    * `minJw`+ become edges, and [[Graph.connectedComponents]]
    * (O(log d) pointer-jumping) merges them into entities with the
    * minimum member id as canonical. Rows that match nothing stay
    * their own entity; duplicate values of a matched name all join
    * its entity (they connect through any neighbor at the row level).
    *
    * Output: (id, s, entity, entity_size, is_canonical), ordered.
    * The JW threshold applies to the 6-dp ROUNDED score — the edge
    * set is bit-identical across engines, so the clustering is too. */
  def resolveEntities(strs: DataFrame, idCol: String, strCol: String,
                      maxDist: Int = 1, minJw: Double = 0.9): DataFrame = {
    val ids = strs.select(col(idCol).as("id"), col(strCol).as("s"))
    resolveEntitiesFromDistinctPairs(ids,
      distinctFuzzyPairs(ids, "s", maxDist), minJw)
  }

  /** [[resolveEntities]] over a PRE-BUILT distinct-value pair stream
    * (e.g. the materialized per-corpus table) — blocking paid once,
    * shared by every consumer. The CC runs on the distinct-name graph
    * with each name represented by its minimum id, so component
    * labels are row-level minimum ids and the row-level semantics
    * (every copy of every name in a component merges) are recovered
    * exactly by the final joins. */
  def resolveEntitiesFromDistinctPairs(ids: DataFrame, dpairs: DataFrame,
                                       minJw: Double): DataFrame = {
    val spark = ids.sparkSession
    graft.functions.GraftFunctions.registerAll(spark)
    // one row per distinct value: its minimum id (the CC node label —
    // the component minimum over these IS the global minimum id) and
    // its duplication count (for entity sizes). Checkpointed (eager,
    // r16): consumed by both edge joins and the final assembly.
    val names = ids.groupBy("s")
      .agg(min(col("id")).as("nid"), count(lit(1)).as("cnt"))
      .localCheckpoint()
    // edges checkpoint EAGERLY: connectedComponents' pre-loop stages
    // (node-set union/distinct, dictionary build, encoded-edge join)
    // would otherwise re-evaluate this aggregate+JW+two-join lineage
    // ~4 times (measured: the entire consume-side regression of the
    // r9 distinct rewrite before this cut)
    val edges = dpairs
      .filter(round(graft.functions.StringSimilarity
        .jaroWinkler(col("s_a"), col("s_b")), 6) >= minJw)
      .join(names.select(col("s").as("s_a"), col("nid").as("src")), Seq("s_a"))
      .join(names.select(col("s").as("s_b"), col("nid").as("dst")), Seq("s_b"))
      .select("src", "dst")
      .localCheckpoint()
    val cc = Graph.connectedComponents(edges)
      .select(col("node").as("nid"), col("component"))
    // consumed twice (component sizes + final assembly)
    val nameEnt = names.join(cc, Seq("nid"), "left").localCheckpoint()
    // entity size counts ROWS, not names: Σ duplication over the
    // component's names
    val compSize = nameEnt.filter(col("component").isNotNull)
      .groupBy("component").agg(sum(col("cnt")).as("esz"))
    val byName = nameEnt.join(compSize, Seq("component"), "left")
      .select(col("s"), col("component"), col("esz"))
    ids.join(byName, Seq("s"), "left")
      .select(col("id"), col("s"),
        coalesce(col("component"), col("id")).as("entity"),
        coalesce(col("esz"), lit(1L)).as("entity_size"))
      .withColumn("is_canonical", col("entity") === col("id"))
      .orderBy("id")
  }

  /** q_entity_resolution: [[resolveEntitiesFromDistinctPairs]] over
    * the MATERIALIZED customer distinct-pair table. */
  def qEntityResolution(spark: SparkSession, dir: String): DataFrame =
    resolveEntitiesFromDistinctPairs(
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("id"), col("c_name").as("s")),
      customerDistinctPairs(spark, dir), minJw = 0.9)

  /** q_fuzzy_join: customer names within edit distance 1 of each
    * other (single-digit typos in the `Customer#NNNNNNNNN` keyspace),
    * reported per row: how many fuzzy neighbors (row-level — a
    * neighbor name duplicated k times counts k), and the
    * lexicographically smallest one. Symmetric — each surviving value
    * pair counts for both endpoints. Computed at distinct-name
    * cardinality (neighbor counts are Σ of the neighbors' duplication
    * counts), then joined back to ids. */
  def qFuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val sym = symNeighbors(customerDistinctPairs(spark, dir))
    val cnt = customer.groupBy(col("c_name").as("m"))
      .agg(count(lit(1)).as("m_cnt"))
    val perName = sym.join(cnt, Seq("m"))
      .groupBy("name")
      .agg(sum(col("m_cnt")).as("n_fuzzy"), min(col("m")).as("best_match"))
    customer.select(col("c_custkey").as("id"), col("c_name").as("name"))
      .join(perName, Seq("name"))
      .select("id", "name", "n_fuzzy", "best_match")
      .orderBy("id")
  }
}
