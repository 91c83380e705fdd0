package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** The `private[sql]` doorways a third-party plan-level extension
  * needs: wrapping a [[LogicalPlan]] into a public DataFrame of a
  * given session, an expression into a Column and a physical plan into
  * a checkpoint, deriving a private session from another, putting a
  * session's job tags on jobs, draining the listener bus and making
  * temp dirs that Spark deletes at JVM exit. Same
  * technique every open-source Spark extension with custom operators
  * uses (a shim object under `org.apache.spark.sql`); everything else
  * in graft sticks to public API.
  */
object Shims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The rows of checkpoint scan `r` under the attributes `attrs` (same
    * types, by position) on `spark`; its partitioning and ordering follow
    * the attributes by id. No size estimate or constraints carry over. */
  def rescan(spark: SparkSession, r: LogicalRDD, attrs: Seq[Attribute]): LogicalRDD = {
    val m = AttributeMap(r.output.zip(attrs))
    def re(e: Expression): Expression = e.transform { case a: Attribute => m.getOrElse(a, a) }
    LogicalRDD(attrs, r.rdd,
      r.outputPartitioning match {
        case p: Expression => re(p).asInstanceOf[Partitioning]
        case p => p
      },
      r.outputOrdering.map(re(_).asInstanceOf[SortOrder]), r.isStreaming)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  /** `plan` run under `spark`'s SQL conf and eagerly checkpointed by one
    * job, as `Dataset.localCheckpoint` does: the checkpoint as a scan,
    * whose size estimate is its counted rows. */
  def localCheckpoint(spark: SparkSession, plan: SparkPlan): LogicalRDD = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.withActive(SQLExecution.withSQLConfPropagated(s) {
      val rdd = plan.execute().map(_.copy())
      rdd.localCheckpoint()
      val rows = rdd.count()
      val stats = Statistics(EstimationUtils.getSizePerRow(plan.output) * rows, Some(rows))
      LogicalRDD(plan.output, rdd, plan.outputPartitioning, plan.outputOrdering,
        isStreaming = false)(s, Some(stats))
    })
  }

  /** Drops the blocks of a checkpoint RDD nothing reads any more
    * (`RDD.unpersist` would warn that a local checkpoint cannot be
    * recomputed). */
  def release(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `t` with every nested field, array element and map value nullable. */
  def nullable(t: DataType): DataType = t.asNullable

  /** A Catalyst expression as a Column. */
  def column(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A private session for one iteration loop ([[graft.ops.Iterate]]):
    * a new session on the same SparkContext and cache, carrying a copy
    * of `spark`'s SQL conf and optimizer extensions — so a loop plans
    * what `spark` would plan — with AQE off and `parts` shuffle
    * partitions. `spark` itself is not touched.
    *
    * Artifact isolation is off in the loop session: an isolated session
    * gets its own executor class loader, and the codegen cache is keyed
    * by class loader, so each loop session would recompile every loop
    * stage (measured with cloned sessions: 17 Janino compiles and
    * +0.3-0.4 s on every q_page_rank call). Without isolation all loop
    * sessions share the default loader and its compiled classes. Plans
    * are rebound analyzed, so the loop session needs none of `spark`'s
    * temp views or registered functions. */
  def loopSession(spark: SparkSession, parts: Int): SparkSession = {
    val caller = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val s = caller.newSession()
    val conf = s.sessionState.conf
    caller.sessionState.conf.getAllConfs.foreach { case (k, v) => conf.setConfString(k, v) }
    conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    conf.setConf(SQLConf.SHUFFLE_PARTITIONS, parts)
    conf.setConf(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED, false)
    s.experimental.extraOptimizations = caller.experimental.extraOptimizations
    s.experimental.extraStrategies = caller.experimental.extraStrategies
    s
  }

  /** Runs `body` with `spark`'s job tags on every job it starts: the
    * session tag that `interruptAll()` cancels and the real tags of
    * the thread's `addTag` tags that `interruptTag` cancels. A loop
    * action runs on its loop session ([[loopSession]]), whose own tags
    * differ from the caller's. Tags already set on the thread are left
    * to whoever set them. */
  def withTagsOf[T](spark: SparkSession)(body: => T): T = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = s.sparkContext
    val tags = s.managedJobTags.get().values.toSet + s.sessionJobTag -- sc.getJobTags()
    sc.addJobTags(tags)
    try body finally sc.removeJobTags(tags)
  }

  /** Whether temp view `name` of `spark` holds `df`'s own plan, as
    * `df.createOrReplaceTempView(name)` stored it: one catalog lookup
    * and a reference compare, no analysis. */
  def isTempViewOf(spark: SparkSession, name: String, df: DataFrame): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
      .getRawTempView(name)
      .exists(_.plan.exists(_ eq df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan))

  /** A fresh dir `prefix-<uuid>` under `java.io.tmpdir`, deleted at JVM exit. */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(System.getProperty("java.io.tmpdir"), prefix)

  /** Deletes a [[tempDir]] now and takes it off the JVM-exit list. */
  def dropTempDir(dir: java.io.File): Unit = {
    org.apache.spark.util.ShutdownHookManager.removeShutdownDeleteDir(dir)
    org.apache.spark.util.Utils.deleteRecursively(dir)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
