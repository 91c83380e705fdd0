package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.DataType

/** The skeleton every iteration loop runs on: PageRank, PPR, HITS,
  * label propagation, BFS, SSSP, k-core, connected components, BPE
  * training, Lloyd (q_kmeans and the PQ codebooks) and the quality
  * classifier's trainer. A loop is `Iterate(spark, width) { loop => … }`
  * (or [[Iterate.over]], which sizes the width from its input), and the
  * helper owns the four things every loop repeats:
  *
  *  1. A private loop session ([[Shims.loopSession]]) with AQE off and
  *     `spark.sql.shuffle.partitions` pinned to the loop's width. Under
  *     AQE every exchange of every per-round checkpoint materializes as
  *     its own driver job (~25-30 ms of scheduling floor each), and a
  *     checkpoint planned under AQE reports `UnknownPartitioning`, so a
  *     table it produced is reshuffled by every join that reads it.
  *     Inside a loop every exchange is an explicit `repartition(width,
  *     key)` or a groupBy at the pinned width, so runtime coalescing
  *     has nothing to do, a checkpoint is one job, and it keeps its
  *     hash partitioning. Only the loop's ACTIONS run there: each is
  *     rebound onto the loop session, and each checkpoint is rebound
  *     back, so every DataFrame the loop body holds or returns belongs
  *     to the caller's session — whose conf is never written, so
  *     queries running beside the loop keep AQE. Each loop action runs
  *     under the caller's job tags ([[Shims.withTagsOf]]), so
  *     `interruptTag` and `interruptAll` on the caller's session cancel
  *     a running loop. The width is derived from data bytes or rows
  *     ([[graft.Tables.adaptiveParts]], [[Iterate.over]]), not from the
  *     local core count, so the regime is the same decision at 100 TB;
  *     what a cluster loses is AQE's skew-join splitting inside the
  *     loop and in the setup tables checkpointed on the loop session.
  *  2. The eager checkpoint of every setup table ([[checkpoint]]) —
  *     eager, not lazy: see the Graph.scala header — with any setup
  *     scalar observed on the same job ([[observed]]).
  *  3. The rounds ([[rounds]]): planned once, one checkpoint job per
  *     round, the scalars a round needs carried from the previous
  *     round's job, and a superseded round state released as soon as
  *     the next one has materialized.
  *  4. The stop test, the round cap and the round count ([[rounds]]):
  *     a loop that stops on its observed scalars compares them round
  *     to round on the driver, with no job of its own.
  */
private[graft] final class Iterate private (loop: SparkSession,
                                            caller: SparkSession, val width: Int) {

  /** `df` materialized by one eager checkpoint job on the loop session. */
  def checkpoint(df: DataFrame): DataFrame = observed(df)._1

  /** [[checkpoint]], with the aggregates `scalars` over `df` observed on
    * the same job: (checkpoint, one row of scalar values). */
  def observed(df: DataFrame, scalars: Column*): (DataFrame, Row) = Shims.withTagsOf(caller) {
    val (cp, row) = run(planned(Iterate.observing(df, scalars)))
    (Shims.ofRows(caller, cp), row)
  }

  /** Drops the blocks of loop checkpoints nothing reads any more, such
    * as a loop's setup tables once its last round has materialized. */
  def release(tables: DataFrame*): Unit =
    tables.foreach(_.queryExecution.analyzed.foreach {
      case r: LogicalRDD => Shims.release(r.rdd)
      case _ =>
    })

  /** `df` collected to the driver by a job on the loop session. */
  def collect(df: DataFrame): Array[Row] =
    Shims.withTagsOf(caller)(Iterate.rebind(loop, df).collect())

  /** `df` hash-partitioned on `keys` at the loop width, the layout a
    * round state keeps ([[rounds]]): the trailing stage of a round
    * whose joins leave its state partitioned on another key, free when
    * `df` is partitioned that way already. At width 1 any single
    * partition will do, so it is a narrow merge of `df`'s partitions
    * (a union's, say) into one, not a shuffle. */
  def partitioned(df: DataFrame, keys: Column*): DataFrame =
    if (width == 1) df.coalesce(1) else df.repartition(width, keys: _*)

  /** Runs `round` from `init` until `stop` or `cap` rounds, one
    * checkpoint job per round: (the last state, the rounds run).
    * `round(state, carried)` maps a state to the next one with the same
    * columns, partitioned the same way; `carried(i)` is the value of
    * the aggregate `scalars(i)` over `state`, observed on the job that
    * checkpointed `state` — a one-row aggregate joined into the round
    * would cost a job of its own every round.
    *
    * `stop(prev, cur)` compares the scalars observed on a round's input
    * and output states; the loop ends after the first round it holds
    * for. Without it the loop runs exactly `cap` rounds. Reaching the
    * cap without stopping THROWS when `failAtCap` — for loops whose
    * result is wrong unless they converged (connected components,
    * k-core): a silently unconverged answer at 100 TB is worse than a
    * loud one. Otherwise the cap is part of the loop's contract
    * (SSSP's fixed rounds, BFS's depth policy).
    *
    * `round` is called ONCE and its plan is analyzed, optimized and
    * planned once: every round runs a fresh copy of that physical plan
    * (exchanges cache their shuffle) over the last state's RDD, with
    * the carried values swapped in. A carried value is a [[Carried]]
    * leaf, not a literal: a literal is folded and inlined into the
    * generated code, which would compile a new class every round.
    * Scalars must be order-independent (a DECIMAL sum, a count, a
    * max): observed buffers merge in task-completion order. A join the
    * planner would broadcast is a job of its own in every round, so
    * round joins name their build side (`hint("shuffle_hash")`). The
    * state a round replaces is unpersisted once the round's checkpoint
    * has materialized; the returned last state is the caller's. */
  def rounds(init: DataFrame, cap: Int, scalars: Column*)(
      round: (DataFrame, Seq[Column]) => DataFrame,
      stop: (Row, Row) => Boolean = (_, _) => false,
      failAtCap: Boolean = false): (DataFrame, Int) = Shims.withTagsOf(caller) {
    val (s0, row0) = run(planned(Iterate.observing(init, scalars)))
    val slots = scalars.indices.map { i =>
      Carried(i, CatalystTypeConverters.convertToCatalyst(row0.get(i)), row0.schema(i).dataType)
    }
    // the template reads every state column as nullable, nested fields
    // and elements too, so any state a round produces fits its leaf
    val in = Shims.rescan(caller, s0, s0.output.map(a =>
      a.withNullability(true).withDataType(Shims.nullable(a.dataType))))
    val out = Iterate.observing(round(Shims.ofRows(caller, in), slots.map(Shims.column)), scalars)
    require(out.schema.map(f => Shims.nullable(f.dataType)) == in.output.map(_.dataType),
      s"a round must keep its state's columns: ${s0.schema.simpleString} -> ${out.schema.simpleString}")
    val plan = planned(out)
    // the template reads a state of known layout in place, so every
    // round must produce that layout again (at width 1, any single
    // partition); a state of unknown layout, such as a statically empty
    // one, is exchanged by whatever reads it
    val (p0, p) = (s0.outputPartitioning, plan.outputPartitioning)
    require(p0.isInstanceOf[UnknownPartitioning] || p0.numPartitions == 1 && p.numPartitions == 1 ||
            Iterate.layout(p, plan.output) == Iterate.layout(p0, s0.output),
      s"a round must keep its state's partitioning: $p0 -> $p")
    var (state, row, k, stopped) = (s0, row0, 0, false)
    while (!stopped && k < cap) {
      val (next, r) = run(plan.clone().transformUp {
        case scan: RDDScanExec if scan.rdd eq s0.rdd => scan.copy(rdd = state.rdd)
      }.transformAllExpressions {
        case c: Carried => c.copy(value = CatalystTypeConverters.convertToCatalyst(row.get(c.slot)))
      })
      Shims.release(state.rdd)
      stopped = stop(row, r)
      state = next
      row = r
      k += 1
    }
    if (!stopped && failAtCap)
      throw new IllegalStateException(
        s"no fixed point after $cap rounds: the loop needs more rounds than its cap")
    (Shims.ofRows(caller, state), k)
  }

  /** `df`'s physical plan on the loop session. */
  private def planned(df: DataFrame): SparkPlan =
    Iterate.rebind(loop, df).queryExecution.executedPlan

  /** `plan` checkpointed by one job: (the checkpoint's scan, the row its
    * [[Iterate.observing]] node observed, empty when it has none). */
  private def run(plan: SparkPlan): (LogicalRDD, Row) = {
    val cp = Shims.localCheckpoint(loop, plan)
    (cp, plan.collectFirst { case m: CollectMetricsExec => m.collectedMetrics }.getOrElse(Row.empty))
  }
}

private[graft] object Iterate {

  /** Rows per partition of a loop table sized by [[over]]. */
  val RowsPerPart = 262144L

  def apply[T](spark: SparkSession, width: Int)(body: Iterate => T): T =
    body(new Iterate(Shims.loopSession(spark, width), spark, width))

  /** Runs `body(loop, table, rows)` on a loop sized from its input:
    * `table` is `df` partitioned on `keys` (round-robin when none) and
    * checkpointed on the loop session at one partition per
    * [[RowsPerPart]] rows, at most `parts`; `rows` is its row count,
    * observed on the checkpoint's job. A derived input's size estimate
    * is usually unusable (adaptiveParts clamps to full parallelism), and
    * with AQE off in the loop nothing coalesces the rounds back down
    * (measured: q_kcore 1.54 → 2.32 s, 687 tasks for a ~700-edge
    * graph); at cluster scale the count keeps the full width and the
    * narrowing is a no-op. */
  def over[T](df: DataFrame, parts: Int, keys: Column*)(body: (Iterate, DataFrame, Long) => T): T = {
    def part(d: DataFrame, n: Int): DataFrame =
      if (keys.isEmpty) d.repartition(n) else d.repartition(n, keys: _*)
    Iterate(df.sparkSession, parts) { wide =>
      val (t, n) = wide.observed(part(df, parts), count(lit(1)))
      val rows = n.getLong(0)
      val width = math.max(1L, math.min(parts.toLong, rows / RowsPerPart + 1L)).toInt
      if (width == parts) body(wide, t, rows)
      else Iterate(df.sparkSession, width) { loop =>
        val narrow = loop.checkpoint(part(t, width))
        wide.release(t)
        body(loop, narrow, rows)
      }
    }
  }

  /** The observation name of a loop checkpoint's scalars. */
  private val Scalars = "graft_loop_scalars"

  /** `df` with `scalars` observed under [[Scalars]] (`df` itself when none). */
  private def observing(df: DataFrame, scalars: Seq[Column]): DataFrame =
    if (scalars.isEmpty) df
    else {
      val named = scalars.indices.map(i => scalars(i).as(s"s$i"))
      df.observe(Scalars, named.head, named.tail: _*)
    }

  /** `p` over the positions of `output`, not its attributes. */
  private def layout(p: Partitioning, output: Seq[Attribute]): Partitioning = p match {
    case e: Expression => e.transform { case a: Attribute =>
      BoundReference(output.indexWhere(_.exprId == a.exprId), a.dataType, nullable = true)
    }.asInstanceOf[Partitioning]
    case p => p
  }

  private def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    Shims.ofRows(spark, df.queryExecution.analyzed)
}

/** A scalar a loop carries into a round ([[Iterate.rounds]]):
  * `value` as a leaf that is neither folded nor inlined, so every round
  * generates the same code whatever its value. Always nullable: the
  * template is analyzed once, with the first round's value. Its hash
  * leaves `value` out: codegen numbers common subexpressions in hash
  * order, so a value-dependent hash renumbers a round's generated code
  * (a new class) whenever the value changes. */
private[graft] case class Carried(slot: Int, value: Any, dataType: DataType)
    extends LeafExpression with CodegenFallback {
  override def foldable: Boolean = false
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def hashCode(): Int = (slot, dataType).##
}
