package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener of the traced run. Jobs are attributed to the construct /
  * plan / execute span that was current on the thread that submitted
  * them: the harness stores that span's id in a thread-local Spark
  * property ([[Tracer.Key]]), which Spark copies into every job's
  * properties; jobs without it are not traced.
  *
  * Each job and stage also becomes a span (child of its phase span and
  * its job, in that order), recorded into [[Harness.spans]].
  *
  * @param offsetNs epoch ns minus `System.nanoTime()`, to put listener
  *                 event times (epoch ms) on the harness clock */
final class Tracer(offsetNs: Long) extends SparkListener {
  import Tracer._

  private val jobOwner = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (phase span, job span)
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Long)]() // stage -> (phase span, job span)
  private val counters = new ConcurrentHashMap[Long, Array[Long]]()

  private def ns(epochMs: Long): Long = epochMs * 1000000L - offsetNs

  private def add(phase: Long, i: Int, v: Long): Unit = {
    val c = counters.computeIfAbsent(phase, _ => new Array[Long](Fields.size))
    c.synchronized { c(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    key.foreach { k =>
      val owner = (k.toLong, Harness.newSpanId())
      jobOwner.put(e.jobId, owner)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageOwner.putIfAbsent(s, owner))
      add(owner._1, 0, 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.remove(e.jobId)).foreach { case (phase, job) =>
      Harness.spans.add(Harness.Span(job, phase, "job", s"job${e.jobId}",
        ns(jobStart.remove(e.jobId)), ns(e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOwner.get(info.stageId)).foreach { case (phase, job) =>
      add(phase, 1, 1)
      for (s <- info.submissionTime; c <- info.completionTime)
        Harness.spans.add(Harness.Span(Harness.newSpanId(), job, "stage",
          s"stage${info.stageId}.${info.attemptNumber()}", ns(s), ns(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageOwner.get(e.stageId)).filter(_ => m != null).foreach { case (phase, _) =>
      add(phase, 2, 1)
      add(phase, 3, m.executorRunTime)
      add(phase, 4, m.executorCpuTime)
      add(phase, 5, m.jvmGCTime)
      add(phase, 6, m.shuffleReadMetrics.totalBytesRead)
      add(phase, 7, m.shuffleWriteMetrics.bytesWritten)
      add(phase, 8, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(phase, 9, m.inputMetrics.bytesRead)
    }
  }

  /** `"counters":{"<phase span>":{"jobs":..,...},...}` */
  def countersJson: String =
    counters.asScala.toSeq.sortBy(_._1).map { case (span, c) =>
      Fields.zip(c).map { case (f, v) => s""""$f":$v""" }.mkString(s""""$span":{""", ",", "}")
    }.mkString(""""counters":{""", ",\n", "}")
}

object Tracer {
  val Key = "perfbench.span"
  val Fields = Seq("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes")

  /** Waits until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
