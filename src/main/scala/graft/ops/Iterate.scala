package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Shims

/** The skeleton every iteration loop runs on: PageRank, PPR, HITS,
  * label propagation, BFS, SSSP, k-core, connected components, BPE
  * training and Lloyd. A loop is `Iterate(spark, width) { loop => … }`,
  * and the helper owns the four things every loop repeats:
  *
  *  1. A private loop session ([[Shims.loopSession]]) with AQE off and
  *     `spark.sql.shuffle.partitions` pinned to the loop's width. Under
  *     AQE every exchange of every per-round checkpoint materializes as
  *     its own driver job (~25-30 ms of scheduling floor each —
  *     ProfileOne: q_page_rank ran 83 jobs for 86 tasks). Inside a loop
  *     every exchange is an explicit `repartition(width, key)` or a
  *     groupBy at the pinned width, so runtime coalescing has nothing
  *     to do, and a round's checkpoint is one job. Only the loop's
  *     ACTIONS run there: each is rebound onto the loop session, and
  *     each checkpoint is rebound back, so every DataFrame the loop body
  *     holds or returns belongs to the caller's session — whose conf is
  *     never written, so queries running beside the loop keep AQE.
  *     Each loop action runs under the caller's job tags
  *     ([[Shims.withTagsOf]]), so `interruptTag` and `interruptAll` on
  *     the caller's session cancel a running loop.
  *     Setup (the edge/node checkpoints, which embed corpus-scale
  *     feeding queries) stays on the caller's session, so big one-off
  *     shuffles keep AQE's coalescing and skew handling. The width is
  *     derived from data bytes or rows ([[graft.Tables.adaptiveParts]],
  *     [[Iterate.sized]]), not from the local core count, so the regime
  *     is the same decision at 100 TB; what a cluster loses is AQE's
  *     in-loop skew-join splitting.
  *  2. The eager per-round checkpoint ([[checkpoint]]) — eager, not
  *     lazy: see the Graph.scala header.
  *  3. The convergence scalar, observed on that checkpoint's own job
  *     ([[observed]]) instead of a second one-row job.
  *  4. The round cap and the round count ([[fixpoint]]).
  */
private[graft] final class Iterate private (loop: SparkSession,
                                            caller: SparkSession) {

  /** `df` materialized by one eager checkpoint job on the loop session. */
  def checkpoint(df: DataFrame): DataFrame = Shims.withTagsOf(caller) {
    Iterate.rebind(caller, Iterate.rebind(loop, df).localCheckpoint())
  }

  /** [[checkpoint]], with the aggregates `scalars` over `df` observed on
    * the same job: (checkpoint, one row of scalar values). */
  def observed(df: DataFrame, scalars: Column*): (DataFrame, Row) = Shims.withTagsOf(caller) {
    val (cp, row) = Iterate.observed(Iterate.rebind(loop, df), scalars)
    (Iterate.rebind(caller, cp), row)
  }

  /** `df` collected to the driver by a job on the loop session. */
  def collect(df: DataFrame): Array[Row] =
    Shims.withTagsOf(caller)(Iterate.rebind(loop, df).collect())

  /** Runs `round(k)` for k = 1, 2, … until it returns true (converged)
    * or `cap` rounds ran; returns the number of rounds run. Reaching the
    * cap unconverged THROWS when `failAtCap` — for loops whose result is
    * wrong unless they converged (connected components, k-core): a
    * silently unconverged answer at 100 TB is worse than a loud one.
    * Otherwise the cap is part of the loop's contract (SSSP's fixed
    * rounds, BFS's depth policy) and the loop ends normally. */
  def fixpoint(cap: Int, failAtCap: Boolean)(round: Int => Boolean): Int = {
    var k = 0
    var converged = false
    while (!converged && k < cap) {
      k += 1
      converged = round(k)
    }
    if (!converged && failAtCap)
      throw new IllegalStateException(
        s"no fixpoint after $cap rounds: the loop needs more rounds than its cap")
    k
  }
}

private[graft] object Iterate {

  /** Rows per partition of a loop table sized by [[sized]]. */
  val RowsPerPart = 262144L

  def apply[T](spark: SparkSession, width: Int)(body: Iterate => T): T =
    body(new Iterate(Shims.loopSession(spark, width), spark))

  /** A loop's input table, eagerly checkpointed on its own session and
    * sized from its MATERIALIZED row count (observed on the checkpoint's
    * job): `df` partitioned on `keys` (round-robin when none) at one
    * partition per [[RowsPerPart]] rows, at most `parts`. A derived
    * input's size estimate is usually unusable (adaptiveParts clamps to
    * full parallelism), and with AQE off in the loop nothing coalesces
    * the rounds back down (measured: q_kcore 1.54 → 2.32 s, 687 tasks
    * for a ~700-edge graph); at cluster scale the count keeps the full
    * width and the narrowing is a no-op. Returns (table, rows, width). */
  def sized(df: DataFrame, parts: Int, keys: Column*): (DataFrame, Long, Int) = {
    def part(d: DataFrame, n: Int): DataFrame =
      if (keys.isEmpty) d.repartition(n) else d.repartition(n, keys: _*)
    val (t, r) = observed(part(df, parts), Seq(count(lit(1))))
    val rows = r.getLong(0)
    val width = math.max(1L, math.min(parts.toLong, rows / RowsPerPart + 1L)).toInt
    (if (width < parts) part(t, width).localCheckpoint() else t, rows, width)
  }

  private def observed(df: DataFrame, scalars: Seq[Column]): (DataFrame, Row) = {
    val o = Observation()
    val named = scalars.indices.map(i => scalars(i).as(s"s$i"))
    val cp = df.observe(o, named.head, named.tail: _*).localCheckpoint()
    val m = o.get
    (cp, Row.fromSeq(scalars.indices.map(i => m(s"s$i"))))
  }

  private def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    Shims.ofRows(spark, df.queryExecution.analyzed)
}
