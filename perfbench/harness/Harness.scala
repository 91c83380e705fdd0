package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** JVM side of the benchmark; `perfbench/run.py` starts a fresh JVM for
  * every run and turns the JSON this writes to `--out` into metrics.
  *
  * It drives the public registry (`graft.SparkEntry.queries`) the way a
  * library caller does: the registry call, then `collect()`, which
  * materializes every output column in result order. (`count()` would
  * let Catalyst prune columns and whole subplans; see NOTES.md.) Each
  * collected result is fingerprinted after its timer stops, so every
  * execution is checked.
  *
  * A traced run (`--trace 1`) attaches a [[Tracer]] listener and, on the
  * even measured passes, forces the physical plan before the action so
  * construct / plan / execute separate. The odd passes stay untraced,
  * which gives the tracing overhead from the same JVM.
  */
object Harness {
  final case class Exec(query: String, pass: Int, traced: Boolean,
      constructNs: Long, planNs: Long, executeNs: Long,
      rows: Long, fingerprint: String, error: String, drift: Boolean,
      heldRdds: Int, heldBytes: Long, spanIds: Seq[Long], phaseMs: Map[String, Long]) {
    def totalNs: Long = constructNs + planNs + executeNs
  }

  final case class Span(id: Long, parent: Long, layer: String, name: String,
      startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  def newSpanId(): Long = ids.incrementAndGet()
  val spans = new ConcurrentLinkedQueue[Span]()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val queries = opt("queries").split(",").toIndexedSeq

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val registry = graft.SparkEntry.queries
    val missing = queries.filterNot(registry.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(",")}")
    val setupS = (epochNs() - opt("launch-ns").toLong) / 1e9

    val sc = spark.sparkContext
    val baseConf = confSnapshot(spark)
    val jobLatencyMs = if (!trace) 0.0 else median((1 to 15).map { _ =>
      val t = System.nanoTime(); sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t) / 1e6
    })

    val runSpan = newSpanId()
    val tracer = new Tracer(epochNs() - System.nanoTime())
    val rng = new scala.util.Random(opt("seed").toLong)
    val execs = mutable.ArrayBuffer.empty[Exec]

    // Drop what a query left cached, then a full GC.
    def settle(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    def runOne(name: String, pass: Int, traced: Boolean, passSpan: Long): Exec = {
      val drift = confSnapshot(spark) != baseConf
      val Seq(qSpan, cSpan, pSpan, eSpan) = Seq.fill(4)(newSpanId())
      def enter(span: Long): Unit = if (traced) sc.setLocalProperty(Tracer.Key, span.toString)
      var t1, t2 = 0L
      val t0 = System.nanoTime()
      val res = try {
        enter(cSpan)
        val df = registry(name)(spark, data)
        t1 = System.nanoTime()
        if (traced) {
          enter(pSpan)
          df.queryExecution.executedPlan
        }
        t2 = System.nanoTime()
        enter(eSpan)
        val rows = df.collect()
        Right((rows, df))
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val t3 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, null)
      if (t1 == 0L) t1 = t3
      if (t2 == 0L) t2 = t1
      val held = sc.getRDDStorageInfo.filter(_.isCached)
      val heldBytes = held.map(i => i.memSize + i.diskSize).sum
      val spanIds = if (traced) Seq(cSpan, pSpan, eSpan) else Nil
      val exec = res match {
        case Right((rows, df)) =>
          val phases = if (!traced) Map.empty[String, Long]
            else df.queryExecution.tracker.phases.map { case (k, s) => k -> s.durationMs }
          Exec(name, pass, traced, t1 - t0, t2 - t1, t3 - t2, rows.length.toLong,
            fingerprint(rows), "", drift, held.length, heldBytes, spanIds, phases)
        case Left(err) =>
          Exec(name, pass, traced, t1 - t0, t2 - t1, t3 - t2, 0L,
            "", err, drift, held.length, heldBytes, spanIds, Map.empty)
      }
      execs += exec
      if (traced) {
        spans.add(Span(qSpan, passSpan, "query", name, t0, t3))
        spans.add(Span(cSpan, qSpan, "construct", name, t0, t1))
        spans.add(Span(pSpan, qSpan, "plan", name, t1, t2))
        spans.add(Span(eSpan, qSpan, "execute", name, t2, t3))
      }
      exec
    }

    /** Every query once, back to back, settling between queries. Returns
      * the pass wall: the sum of the query latencies. */
    def pass(p: Int, order: Seq[String]): Double = {
      val traced = trace && p > 1 && p % 2 == 0
      val passSpan = newSpanId()
      val t0 = System.nanoTime()
      val wall = order.map { q => val e = runOne(q, p, traced, passSpan); settle(); e.totalNs }.sum
      if (traced) spans.add(Span(passSpan, runSpan, "pass", s"pass$p", t0, System.nanoTime()))
      wall / 1e9
    }

    // Cold pass: every query once in the fresh session, in a fixed order
    // (which query pays the JVM's warm-up changes the pass's total).
    settle()
    val firstPassS = pass(0, queries.sorted)
    // What the program retains once the queries' cached blocks are
    // dropped: the heap after a full GC, at the same point in every run.
    // The second GC collects what Spark's cleaner released after the first.
    Thread.sleep(200)
    System.gc()
    val retainedHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // Warm passes in seed-permuted orders. Pass 1 lets JIT compilation of
    // the query paths settle (it runs measurably slower than later passes);
    // the measured passes start with pass 2 and run for `seconds`. A traced
    // run traces the even passes, so it needs passes 2 and 3 at least.
    if (trace) sc.addSparkListener(tracer)
    pass(1, rng.shuffle(queries))
    val window0 = System.nanoTime()
    var p = 2
    while (p <= (if (trace) 3 else 2) || (System.nanoTime() - window0) / 1e9 < seconds) {
      pass(p, rng.shuffle(queries))
      p += 1
    }
    val warmS = (System.nanoTime() - window0) / 1e9
    if (trace) {
      Tracer.drain(sc)
      sc.removeSparkListener(tracer)
    }
    spark.stop()

    val out = new StringBuilder("{")
    out ++= s""""setup_s":$setupS,"first_pass_s":$firstPassS,"warm_s":$warmS,"cores":$cores,"""
    out ++= s""""retained_heap_mb":$retainedHeapMb,"job_latency_ms":$jobLatencyMs,\n"""
    out ++= execs.map { e =>
      s"""{"q":"${e.query}","pass":${e.pass},"traced":${e.traced},""" +
        s""""construct_ms":${e.constructNs / 1e6},"plan_ms":${e.planNs / 1e6},""" +
        s""""execute_ms":${e.executeNs / 1e6},"rows":${e.rows},"fp":"${e.fingerprint}",""" +
        s""""error":${jsonStr(e.error)},"drift":${e.drift},""" +
        s""""held_rdds":${e.heldRdds},"held_bytes":${e.heldBytes},""" +
        s""""spans":${e.spanIds.mkString("[", ",", "]")},""" +
        e.phaseMs.map { case (k, v) => s""""$k":$v""" }.mkString(""""phases":{""", ",", "}}")
    }.mkString(""""execs":[""", ",\n", "]")
    if (trace) out ++= ",\n" + tracer.countersJson
    out ++= "}"
    Files.write(Paths.get(opt("out")), out.toString.getBytes(UTF_8))
    if (trace) writeSpans(opt("out") + ".spans.jsonl", runSpan)
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def confSnapshot(spark: SparkSession): (String, String) =
    (spark.conf.get("spark.sql.adaptive.enabled", "true"),
      spark.conf.get("spark.sql.shuffle.partitions"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-sensitive digest of a collected result. Floating values are
    * rounded to 9 significant digits, so a floating-point sum taken in
    * another order does not read as a wrong answer. */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(norm(r).getBytes(UTF_8)); md.update('\n'.toByte) }
    hex(md.digest().take(12))
  }

  private def hex(bs: Array[Byte]): String = bs.map(b => f"${b & 0xff}%02x").mkString

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.8e", Double.box(d))

  def norm(v: Any): String = v match {
    case null => "␀"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case b: Array[Byte] => "b:" + hex(MessageDigest.getInstance("MD5").digest(b))
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.toPlainString
    case o => o.toString
  }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeSpans(path: String, runSpan: Long): Unit = {
    val all = spans.asScala.toSeq
    val t0 = all.map(_.startNs).min
    val lines = (Span(runSpan, 0L, "run", "run", t0, all.map(_.endNs).max) +: all).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":${jsonStr(s.name)},""" +
        s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
