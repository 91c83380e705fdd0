package graft.tools

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shims

/** Layered profile of registered queries: each query runs once cold and
  * three times warm with [[graft.Bench]]'s count. The fastest warm run
  * gives every field but `cold_ms`; it is split into construction (the
  * registry call, eager loop rounds included), forced physical
  * planning and the action. Jobs and stages are
  * attributed to the phase that submitted them, so a record says where
  * a query's time went: Catalyst's phase times, the driver job floor
  * (jobs × the latency of a one-task job), executor run/CPU/GC time,
  * shuffle and spill bytes, and every stage's tasks and wall time.
  * Field names follow the per-layer metrics of `perfbench/NOTES.md`.
  *
  * Writes `PROFILE_<basename of sfDir>.json` (a JSON array, one record
  * per query; a failing query's record carries its `error`). `--plans`
  * also prints each query's post-execution formatted plan, which shows
  * AQE's final plan above its initial one.
  * `sbt "runMain graft.tools.Profile <q1,q2,...|all> <sfDir> [--plans]"` */
object Profile {
  /** Thread-local job property naming the phase that submitted a job. */
  private val PhaseKey = "graft.profile.phase"
  private val mapper = new ObjectMapper()

  /** Jobs and completed stages of the jobs that carry [[PhaseKey]]. */
  private final class Recorder extends SparkListener {
    private val stagePhase = new ConcurrentHashMap[Int, String]()
    val jobs = ArrayBuffer.empty[String]
    val stages = ArrayBuffer.empty[(String, StageInfo)]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).foreach { ph =>
        synchronized(jobs += ph)
        e.stageIds.foreach(stagePhase.putIfAbsent(_, ph))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stagePhase.get(e.stageInfo.stageId)).foreach(ph => synchronized(stages += ph -> e.stageInfo))
  }

  /** Median wall time of 15 one-task jobs, after 15 untimed ones warm
    * the scheduler path: the driver's per-job floor. */
  def jobLatencyMs(spark: SparkSession): Double = {
    val ms = (1 to 30).map { _ =>
      val t = System.nanoTime(); spark.sparkContext.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t) / 1e6
    }.drop(15).sorted
    ms(ms.size / 2)
  }

  /** Drops what a query left cached, as [[graft.Bench]] does between runs. */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** One query's profile record, as a JSON object. */
  def record(spark: SparkSession, dir: String, name: String, jobLatencyMs: Double,
             plans: Boolean = false): String = {
    val sc = spark.sparkContext
    val q = graft.SparkEntry.queries(name)
    val r = mapper.createObjectNode().put("query", name)
    try {
      settle(spark)
      val c0 = System.nanoTime()
      q(spark, dir).count()
      r.put("cold_ms", (System.nanoTime() - c0) / 1e6)
      settle(spark)

      // one warm call: its recorder, phase boundaries, rows and plans
      def warm() = {
        val rec = new Recorder
        sc.addSparkListener(rec)
        val t = new Array[Long](4)
        try {
          t(0) = System.nanoTime()
          sc.setLocalProperty(PhaseKey, "construct")
          val df = q(spark, dir)
          t(1) = System.nanoTime()
          sc.setLocalProperty(PhaseKey, "plan")
          df.queryExecution.executedPlan
          t(2) = System.nanoTime()
          sc.setLocalProperty(PhaseKey, "execute")
          // the plan `df.count()` runs, kept so its final plan can be printed
          val counted = df.groupBy().count()
          val rows = counted.collect().head.getLong(0)
          t(3) = System.nanoTime()
          (rec, t, df, counted, rows)
        } finally {
          sc.setLocalProperty(PhaseKey, null)
          Shims.drainListeners(sc)
          sc.removeSparkListener(rec)
          settle(spark)
        }
      }
      // the fastest of 3 warm calls: one call right after the cold one
      // mostly measures JIT warm-up on loop queries
      val (rec, t, df, counted, rows) = Seq.fill(3)(warm()).minBy(w => w._2(3) - w._2(0))
      r.put("rows", rows)
      val Seq(constructMs, planMs, executeMs) = (1 to 3).map(i => (t(i) - t(i - 1)) / 1e6)
      val warmMs = (t(3) - t(0)) / 1e6
      val all = rec.stages.toSeq.sortBy(_._2.stageId)
      val exec = all.filter(_._1 == "execute")
      def sum(in: Seq[(String, StageInfo)])(f: TaskMetrics => Long) = in.map(s => f(s._2.taskMetrics)).sum
      r.put("warm_ms", warmMs)
        .put("construct_ms", constructMs)
        .put("construct_jobs", rec.jobs.count(_ == "construct"))
      val phases = df.queryExecution.tracker.phases
      val cat = r.putObject("catalyst").put("plan_ms", planMs)
      Seq("analysis", "optimization", "planning").foreach { p =>
        cat.put(s"${p}_ms", phases.get(p).map(_.durationMs).getOrElse(0L))
      }
      r.putObject("execute").put("ms", executeMs).put("jobs", rec.jobs.count(_ == "execute"))
        .put("stages", exec.size).put("tasks", exec.map(_._2.numTasks).sum)
      r.putObject("executor").put("run_ms", sum(all)(_.executorRunTime))
        .put("cpu_ms", sum(all)(_.executorCpuTime) / 1e6).put("gc_ms", sum(all)(_.jvmGCTime))
        .put("parallelism", sum(exec)(_.executorRunTime) / (executeMs * sc.defaultParallelism))
      r.putObject("driver").put("jobs", rec.jobs.size).put("job_latency_ms", jobLatencyMs)
        .put("job_floor_share", rec.jobs.size * jobLatencyMs / warmMs)
      r.putObject("shuffle").put("read_bytes", sum(all)(_.shuffleReadMetrics.totalBytesRead))
        .put("write_bytes", sum(all)(_.shuffleWriteMetrics.bytesWritten))
        .put("spill_bytes", sum(all)(m => m.memoryBytesSpilled + m.diskBytesSpilled))
      r.putObject("scan").put("input_bytes", sum(all)(_.inputMetrics.bytesRead))
      val st = r.putArray("stages")
      all.foreach { case (ph, si) =>
        st.addObject().put("phase", ph).put("id", si.stageId).put("tasks", si.numTasks)
          .put("wall_ms", (for (c <- si.completionTime; s <- si.submissionTime) yield c - s).getOrElse(0L))
          .put("run_ms", si.taskMetrics.executorRunTime)
      }
      if (plans) {
        println(s"\n========== $name ==========")
        counted.explain("formatted")
      }
    } catch {
      case NonFatal(e) => r.put("error", s"${e.getClass.getName}: ${e.getMessage}")
    }
    settle(spark)
    mapper.writeValueAsString(r)
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    require(pos.size == 2 && flags.forall(_ == "--plans"),
      "usage: Profile <q1,q2,...|all> <sfDir> [--plans]")
    val Seq(which, dir) = pos
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (which == "all") graft.SparkEntry.queries.keys.toSeq.sorted
                else which.split(",").toSeq
    val latency = jobLatencyMs(spark)
    val recs = names.map { n =>
      val rec = record(spark, dir, n, latency, plans = flags.nonEmpty)
      println(s"PROFILE $rec")
      rec
    }
    val out = new File(s"PROFILE_${new File(dir).getName}.json")
    Files.write(out.toPath, recs.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${recs.size} records to $out")
    spark.stop()
  }
}
