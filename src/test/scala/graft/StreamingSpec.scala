package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Top-level so Catalyst can build an encoder (inner classes need outer
  * scope registration). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** A streamed document row (crawl shape) for the content-dedup test. */
case class DocEv(doc_id: Long, text: String, ts: Timestamp)
case class UrlEv(doc_id: Long, url: String, ts: Timestamp)
case class PageEv(doc_id: Long, url: String, html: String, ts: Timestamp)

/** Structured Streaming tests (SURVEY.md §5.2.4): batch/stream parity,
  * watermark late-data drop, session windows, stateful dedup — all via
  * MemoryStream + memory sink, processed synchronously. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def withQuery[A](df: org.apache.spark.sql.DataFrame, mode: String,
                           name: String)(body: StreamingQuery => A): A = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try body(q) finally q.stop()
  }

  test("tumbling counts: stream == batch on replayed sf0.001 events") {
    val batch = Queries.all("q_stream_tumbling")(spark, TestSpark.sf0001)
      .collect().map(_.toString).sorted.toSeq
    val rows = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
              col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev](spark)
    // no watermark needed for complete-mode parity
    val agg = EventStreams.tumblingCounts(ms.toDF(), watermark = "100 days")
    withQuery(agg, "complete", "t_tumbling") { q =>
      ms.addData(rows)
      q.processAllAvailable()
      val got = spark.table("t_tumbling")
        .select(col("ws").cast("timestamp_ntz"), col("event_type"), col("n"), col("sv"))
        .collect().map(_.toString).sorted.toSeq
      assert(got == batch)
    }
  }

  test("watermark drops late rows (append mode emits only closed windows)") {
    val ms = MemoryStream[Ev](spark)
    val agg = EventStreams.tumblingCounts(ms.toDF(), watermark = "10 minutes")
    withQuery(agg, "append", "t_late") { q =>
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 00:20:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      // advance watermark past 01:00 + 10min => window [00:00,01:00) closes
      ms.addData(Seq(Ev(3, ts("2024-01-01 02:00:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      // late row for the closed window — must be dropped
      ms.addData(Seq(Ev(4, ts("2024-01-01 00:30:00"), 1, "click", 99.0)))
      q.processAllAvailable()
      val w0 = spark.table("t_late")
        .filter(col("ws") === lit(ts("2024-01-01 00:00:00")))
        .collect()
      assert(w0.length == 1)
      assert(w0.head.getLong(2) == 2, "late row must not be counted")
    }
  }

  test("session windows: 30-min gap splits sessions") {
    val ms = MemoryStream[Ev](spark)
    val agg = EventStreams.sessionAgg(ms.toDF(), watermark = "100 days")
    withQuery(agg, "complete", "t_session") { q =>
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Ev(2, ts("2024-01-01 00:10:00"), 7, "click", 1.0),
        Ev(3, ts("2024-01-01 00:50:00"), 7, "click", 1.0)))
      q.processAllAvailable()
      val sessions = spark.table("t_session")
        .filter(col("user_id") === 7)
        .orderBy("session_start")
        .collect().map(r => r.getLong(3))
      assert(sessions.toSeq == Seq(2L, 1L), "events at 0/10/50min => sessions of 2 and 1")
    }
  }

  test("session window parity with batch gaps-and-islands on sf0.001") {
    val batch = Queries.all("q_stream_session")(spark, TestSpark.sf0001)
      .select(sum(col("n_events")), count(lit(1))).collect().head
    val rows = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
              col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev](spark)
    val agg = EventStreams.sessionAgg(ms.toDF(), watermark = "100 days")
    withQuery(agg, "complete", "t_sess_parity") { q =>
      ms.addData(rows)
      q.processAllAvailable()
      val got = spark.table("t_sess_parity")
        .select(sum(col("n_events")), count(lit(1))).collect().head
      assert(got.getLong(0) == batch.getLong(0), "total events in sessions")
      assert(got.getLong(1) == batch.getLong(1), "number of sessions")
    }
  }

  test("foreachBatch sink receives micro-batches (ProcessingTime trigger)") {
    import org.apache.spark.sql.streaming.Trigger
    val ms = MemoryStream[Ev](spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = EventStreams.tumblingCounts(ms.toDF(), "100 days")
      .writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add((id, batch.count())); ()
      }
      .start()
    try {
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 00:06:00"), 1, "view", 2.0)))
      q.processAllAvailable()
      val rows = seen.toArray(Array.empty[(Long, Long)])
      assert(rows.map(_._2).sum >= 2, s"expected >=2 updated rows, got $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes in-horizon duplicates") {
    val ms = MemoryStream[Ev](spark)
    val dedup = EventStreams.dedupWithinWatermark(ms.toDF(), watermark = "10 minutes")
    withQuery(dedup, "append", "t_dedup") { q =>
      ms.addData(Seq(
        Ev(10, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Ev(10, ts("2024-01-01 00:00:30"), 1, "click", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(Ev(10, ts("2024-01-01 00:01:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      assert(spark.table("t_dedup").filter(col("event_id") === 10).count() == 1)
    }
  }

  test("flatMapGroupsWithState sessions: emitted only when provably closed by the watermark") {
    import graft.streaming.ClosedSession
    val ms = MemoryStream[Ev](spark)
    val sessions = EventStreams.customSessions(
      ms.toDS().map(r => graft.streaming.SEvent(
        r.event_id, r.ts, r.user_id, r.event_type, r.value)),
      watermark = "10 minutes", gapMinutes = 30)
    withQuery(sessions.toDF(), "append", "t_custom_sessions") { q =>
      // one session: 3 events within the 30-min gap
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-01 10:20:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      // still open: watermark has not passed end + gap
      assert(spark.table("t_custom_sessions").isEmpty)
      // advance the watermark far past 10:20 + 30min
      ms.addData(Seq(Ev(4, ts("2024-01-01 13:00:00"), 2, "click", 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(Ev(5, ts("2024-01-01 13:30:00"), 2, "click", 1.0)))
      q.processAllAvailable()
      val rows = spark.table("t_custom_sessions").as[ClosedSession].collect()
      val s1 = rows.filter(_.user_id == 1L)
      assert(s1.length == 1 && s1.head.n_events == 3 &&
             s1.head.session_start == ts("2024-01-01 10:00:00") &&
             s1.head.session_end == ts("2024-01-01 10:20:00"), rows.mkString(";"))
    }
  }

  test("transitionHops: late event within the horizon lands in the right sequence position") {
    import graft.streaming.{Hop, SEvent}
    val ms = MemoryStream[Ev](spark)
    val hops = EventStreams.transitionHops(
      ms.toDS().map(r => SEvent(r.event_id, r.ts, r.user_id, r.event_type, r.value)),
      watermark = "10 minutes")
    withQuery(hops.toDF(), "append", "t_hops_late") { q =>
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "a", 0.0),
        Ev(3, ts("2024-01-01 10:08:00"), 1, "c", 0.0)))
      q.processAllAvailable()
      // nothing finalized yet: the watermark is still behind both
      assert(spark.table("t_hops_late").isEmpty)
      // the MIDDLE event arrives late, in a later micro-batch but
      // inside the horizon
      ms.addData(Seq(Ev(2, ts("2024-01-01 10:04:00"), 1, "b", 0.0)))
      q.processAllAvailable()
      // advance the watermark far past all three
      ms.addData(Seq(Ev(9, ts("2024-01-01 12:00:00"), 99, "z", 0.0)))
      q.processAllAvailable()
      val got = spark.table("t_hops_late").as[Hop].collect()
        .filter(_.user_id == 1L)
        .map(h => (h.prev_type, h.next_type, h.gap_us)).sorted.toSeq
      // a→b→c with 4-minute gaps — NOT a→c: event time, not arrival
      // order, decides the sequence
      assert(got == Seq(("a", "b", 240000000L), ("b", "c", 240000000L)))
    }
  }

  test("transitionHops: idle user state expires after the TTL — a hop across the gap is dropped") {
    import graft.streaming.{Hop, SEvent}
    val ms = MemoryStream[Ev](spark)
    val hops = EventStreams.transitionHops(
      ms.toDS().map(r => SEvent(r.event_id, r.ts, r.user_id, r.event_type, r.value)),
      watermark = "10 minutes", idleTtlMs = 60000L) // 1-minute TTL
    withQuery(hops.toDF(), "append", "t_hops_ttl") { q =>
      ms.addData(Seq(Ev(1, ts("2024-01-01 10:00:00"), 1, "a", 0.0)))
      q.processAllAvailable()
      // advance the watermark in two hops: first past the event (it
      // flushes, idle alarm armed), then past the 1-minute TTL
      ms.addData(Seq(Ev(90, ts("2024-01-01 13:00:00"), 99, "z", 0.0)))
      q.processAllAvailable()
      ms.addData(Seq(Ev(91, ts("2024-01-01 14:00:00"), 99, "z", 0.0)))
      q.processAllAvailable()
      // user 1 returns AFTER expiry: state is gone, so no a→b hop
      ms.addData(Seq(Ev(2, ts("2024-01-01 15:00:00"), 1, "b", 0.0)))
      q.processAllAvailable()
      ms.addData(Seq(Ev(92, ts("2024-01-01 18:00:00"), 99, "z", 0.0)))
      q.processAllAvailable()
      val u1 = spark.table("t_hops_ttl").as[Hop].collect().filter(_.user_id == 1L)
      assert(u1.isEmpty, u1.mkString(";")) // the cross-gap hop is dropped by design
    }
  }

  test("transitionHops: stream == batch lag-window hops on replayed sf0.001 events") {
    import graft.streaming.{Hop, SEvent}
    val evRows = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
              col("event_type"), col("value")).as[Ev].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val batch = Tables.events(spark, TestSpark.sf0001)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .select(col("user_id"), col("prev_type"), col("event_type"),
              (unix_micros(col("ts").cast("timestamp")) -
               unix_micros(col("prev_ts").cast("timestamp"))).as("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sorted.toSeq
    val ms = MemoryStream[Ev](spark)
    val hops = EventStreams.transitionHops(
      ms.toDS().map(r => SEvent(r.event_id, r.ts, r.user_id, r.event_type, r.value)),
      watermark = "1 second")
    withQuery(hops.toDF(), "append", "t_hops_parity") { q =>
      ms.addData(evRows)
      q.processAllAvailable()
      // sentinel far-future event pushes the watermark past the corpus
      ms.addData(Seq(Ev(9999999, ts("2030-01-01 00:00:00"), 9999999L, "zz", 0.0)))
      q.processAllAvailable()
      val got = spark.table("t_hops_parity").as[Hop].collect()
        .filter(_.user_id != 9999999L)
        .map(h => (h.user_id, h.prev_type, h.next_type, h.gap_us)).sorted.toSeq
      assert(got == batch)
    }
  }

  test("stream-stream interval join: matches within horizon, left-outer emits closed unmatched") {
    val pms = MemoryStream[Ev](spark)
    val sms = MemoryStream[Ev](spark)
    val joined = EventStreams.purchaseSignupJoin(
      pms.toDF(), sms.toDF(), watermark = "10 minutes", horizon = "1 hour",
      joinType = "leftOuter")
    withQuery(joined, "append", "t_ssjoin") { q =>
      sms.addData(Seq(
        Ev(100, ts("2024-01-01 09:00:00"), 1, "signup", 0.0),   // outside horizon
        Ev(101, ts("2024-01-01 10:00:00"), 1, "signup", 0.0),   // inside horizon
        Ev(102, ts("2024-01-01 10:15:00"), 2, "signup", 0.0)))
      pms.addData(Seq(
        Ev(1, ts("2024-01-01 10:30:00"), 1, "purchase", 5.0),
        Ev(2, ts("2024-01-01 10:30:00"), 3, "purchase", 5.0)))  // no signup: unmatched
      q.processAllAvailable()
      // inner matches emit immediately: user 1's purchase matches ONLY
      // the in-horizon signup (one row, s_ts = 10:00)
      val m = spark.table("t_ssjoin").filter(col("event_id") === 1).collect()
      assert(m.length == 1 && m.head.getAs[Timestamp]("s_ts") == ts("2024-01-01 10:00:00"))
      // unmatched purchase not emitted until its window provably closes
      assert(spark.table("t_ssjoin").filter(col("event_id") === 2).isEmpty)
      // push BOTH watermarks far past 10:30 + horizon -> closes it
      pms.addData(Seq(Ev(9, ts("2024-01-01 13:00:00"), 9, "purchase", 0.0)))
      sms.addData(Seq(Ev(999, ts("2024-01-01 13:00:00"), 9, "signup", 0.0)))
      q.processAllAvailable()
      val un = spark.table("t_ssjoin").filter(col("event_id") === 2).collect()
      assert(un.length == 1 && un.head.isNullAt(3), un.mkString(";"))
    }
  }

  test("streaming content-hash doc dedup: in-horizon dup dropped, evicted dup re-admitted") {
    val ms = MemoryStream[DocEv](spark)
    val dedup = EventStreams.dedupDocsByContent(ms.toDF(), watermark = "10 minutes")
    withQuery(dedup, "append", "t_doc_dedup") { q =>
      // same BODY under a different doc_id inside the horizon: dropped
      ms.addData(Seq(
        DocEv(1, "the quick brown fox", ts("2024-01-01 00:00:00")),
        DocEv(2, "an entirely different doc", ts("2024-01-01 00:00:30")),
        DocEv(3, "the quick brown fox", ts("2024-01-01 00:01:00"))))
      q.processAllAvailable()
      val emitted = spark.table("t_doc_dedup")
      assert(emitted.count() == 2)
      assert(emitted.filter(col("text") === "the quick brown fox")
        .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
      // advance the watermark far past 00:00 + 10min so the seen-hash
      // state for doc 1 is evicted...
      ms.addData(Seq(DocEv(4, "watermark mover", ts("2024-01-01 00:30:00"))))
      q.processAllAvailable()
      // ...then the same body re-arrives OUT of the horizon: re-admitted
      ms.addData(Seq(DocEv(5, "the quick brown fox", ts("2024-01-01 00:31:00"))))
      q.processAllAvailable()
      val fox = spark.table("t_doc_dedup")
        .filter(col("text") === "the quick brown fox")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(fox == Set(1L, 5L), s"got $fox")
    }
  }

  test("checkpoint recovery: restart resumes from the offset log, exactly once") {
    import java.nio.file.Files
    val base = TestSpark.tempDir("graft_ckpt")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ck = s"$base/ck"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def writeBatch(name: String, ids: Range): Unit =
      ids.map(Tuple1(_)).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ck)
      .outputMode("append").start()
    writeBatch("b1", 0 until 50)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // new data lands while the query is DOWN...
    writeBatch("b2", 50 until 80)
    // ...restart from the same checkpoint: only the delta is processed,
    // nothing is lost, nothing is duplicated
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted
    assert(out.toSeq == (0L until 80L), s"got ${out.length} rows")
  }

  test("streaming curation: dup dropped, junk filtered, good doc curated") {
    val ms = MemoryStream[DocEv](spark)
    val curated = EventStreams.curateStream(ms.toDF(),
      watermark = "10 minutes", minQuality = 0.5, maxDupTokFrac = 0.5)
    withQuery(curated, "append", "t_curate_stream") { q =>
      ms.addData(Seq(
        // good: varied tokens, dup_tok_frac 0
        DocEv(1, "the quick brown fox jumps over a lazy dog today",
              ts("2024-01-01 00:00:00")),
        // exact content dup of 1 inside the horizon: dropped by state
        DocEv(2, "the quick brown fox jumps over a lazy dog today",
              ts("2024-01-01 00:00:10")),
        // repetition junk: 1 distinct token of 8 -> dup_tok_frac 0.875
        DocEv(3, "spam spam spam spam spam spam spam spam",
              ts("2024-01-01 00:00:20"))))
      q.processAllAvailable()
      val out = spark.table("t_curate_stream")
        .collect().map(_.getLong(0)).toSeq
      assert(out == Seq(1L), s"curated ids: $out")
    }
  }

  test("dsirScoreStream: stateless scoring matches the batch scorer on the same docs") {
    import org.apache.spark.sql.functions.{col, lit, split, lower, trim}
    // model built in batch from a small corpus with a distinctive target
    val corpus = Seq(
      (100L, "alpha beta gamma delta", "tgt"),
      (101L, "alpha beta gamma epsilon", "tgt"),
      (102L, "qq rr ss tt", "raw")
    ).toDF("doc_id", "text", "source")
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    val (model, default) =
      graft.ops.Curation.dsirModel(corpus, col("source") === "tgt")
    val ms = MemoryStream[DocEv](spark)
    val scored = EventStreams.dsirScoreStream(ms.toDF(), model, default)
    withQuery(scored, "append", "t_dsir_stream") { q =>
      ms.addData(Seq(
        DocEv(1, "alpha beta gamma zeta", ts("2024-01-01 00:00:00")),
        DocEv(2, "qq rr xx yy", ts("2024-01-01 00:00:01"))))
      q.processAllAvailable()
      val out = spark.table("t_dsir_stream")
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      // batch twin on the identical rows
      val batch = graft.ops.Curation.dsirScoreCols(
        Seq((1L, "alpha beta gamma zeta"), (2L, "qq rr xx yy"))
          .toDF("doc_id", "text")
          .withColumn("toks", split(lower(trim(col("text"))), "\\s+")),
        model, default)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_w")).toMap
      assert(out == batch, s"stream $out vs batch $batch")
      // the target-like doc outranks the off-domain one
      assert(out(1L) > out(2L), s"$out")
    }
  }

  test("nearDupProbeStream: stream probe == batch incrementalNearDup on the same re-crawls") {
    import graft.ops.Dedup
    // corpus: two long distinct docs (3-shingle Jaccard needs length
    // for a one-token edit to stay >= 0.8) + one short unrelated doc
    val baseA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val baseB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val corpus = Seq((10L, baseA), (11L, baseB), (12L, "tiny doc here"))
      .toDF("doc_id", "text")
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    val (sh, bandTab) = Dedup.buildNearDupIndex(corpus)
    val shP = sh.persist(); val bandP = bandTab.persist()
    // incoming: a truncated re-crawl of A (near-dup), a fresh doc (not)
    val incoming = Seq(
      DocEv(1L, (1 to 39).map(i => s"alpha$i").mkString(" "),
            ts("2024-01-01 00:00:00")),
      DocEv(2L, (1 to 40).map(i => s"gamma$i").mkString(" "),
            ts("2024-01-01 00:00:01")))
    def withToks(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    val ms = MemoryStream[DocEv](spark)
    val probed = EventStreams.nearDupProbeStream(withToks(ms.toDF()), shP, bandP)
    withQuery(probed, "append", "t_neardup_stream") { q =>
      ms.addData(incoming)
      q.processAllAvailable()
      val out = spark.table("t_neardup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      val batch = Dedup.incrementalNearDup(shP, bandP,
          withToks(incoming.toDF().select(col("doc_id"), col("text"))))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(out == batch, s"stream $out vs batch $batch")
      // the truncated re-crawl is caught against its original, only it
      assert(out.map(t => (t._1, t._2)) == Set((1L, 10L)), s"$out")
      assert(out.forall(_._3 >= 0.8))
    }
    shP.unpersist(); bandP.unpersist()
  }

  test("crawl triad composition: url-dedup → curate → near-dup probe as ONE query ≡ the batch pipeline, 3 bounded state stores") {
    import graft.ops.{Dedup, Html, TextAnalysis, Url}
    import org.apache.spark.sql.expressions.Window
    def tok(c: org.apache.spark.sql.Column) = split(lower(trim(c)), "\\s+")
    // corpus: two long distinct docs, one boilerplate-spam doc (the
    // quality gate's observable: without the gate, junk pages would
    // hit it), one tiny doc
    val baseA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val baseB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val spam = Seq.fill(40)("spam").mkString(" ")
    val corpus = Seq((10L, baseA), (11L, baseB), (12L, spam),
                     (13L, "tiny doc here"))
      .toDF("doc_id", "text").withColumn("toks", tok(col("text")))
    val (sh, bandTab) = Dedup.buildNearDupIndex(corpus)
    val shP = sh.persist(); val bandP = bandTab.persist()
    def page(body: String, chrome: String) =
      s"<html><body><nav>$chrome</nav><p>$body</p></body></html>"
    val truncA = (1 to 39).map(i => s"alpha$i").mkString(" ")
    val truncB = (1 to 39).map(i => s"beta$i").mkString(" ")
    // originals arrive in micro-batch A, their duplicates in B:
    // WITHIN one micro-batch dropDuplicatesWithinWatermark keeps an
    // arbitrary row (partition processing order), so the dedup
    // casualties are pinned by feeding them against SETTLED state
    val waveA = Seq(
      // survives all three stages; near-dup of corpus 10
      PageEv(1L, "https://a.com/p1?utm_source=x", page(truncA, "nav one"),
             ts("2024-01-01 00:00:00")),
      // DIES AT THE QUALITY GATE (dup_tok_frac ≈ 0.97): without the
      // gate its single repeated shingle hits corpus 12 at jac 1.0
      PageEv(4L, "https://a.com/p4", page(Seq.fill(38)("spam").mkString(" "),
             "nav"), ts("2024-01-01 00:00:03")),
      // survives the pipeline, hits nothing: no output row
      PageEv(5L, "https://a.com/p5",
             page((1 to 40).map(i => s"gamma$i").mkString(" "), "nav"),
             ts("2024-01-01 00:00:04")),
      // survives; near-dup of corpus 11
      PageEv(6L, "https://a.com/p6", page(truncB, "nav"),
             ts("2024-01-01 00:00:05")))
    val waveB = Seq(
      // DIES AT STAGE 1 (same canonical URL as 1): its body is a
      // near-dup of corpus 11, so survival would be visible as (2,11)
      PageEv(2L, "HTTPS://WWW.A.COM:443/p1", page(truncB, "nav"),
             ts("2024-01-01 00:00:06")),
      // DIES AT STAGE 2 (different chrome, same EXTRACTED content as
      // 1): survival would add (3,10)
      PageEv(3L, "https://a.com/p3", page(truncA, "other chrome"),
             ts("2024-01-01 00:00:07")))
    val wave1 = waveA ++ waveB
    val ms = MemoryStream[PageEv](spark)
    val triad = EventStreams.crawlTriadStream(ms.toDF(), shP, bandP)
    withQuery(triad, "append", "t_crawl_triad") { q =>
      ms.addData(waveA)
      q.processAllAvailable()
      ms.addData(waveB)
      q.processAllAvailable()
      val out = spark.table("t_crawl_triad")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      // the batch pipeline on the same replayed rows: canon-first →
      // extract → content-hash-first → gates → incremental probe
      val pages = wave1.toDF()
      val byCanon = Window.partitionBy("canon").orderBy("ts", "doc_id")
      val canonFirst = pages
        .withColumn("canon", Url.canonCol(col("url")))
        .withColumn("rn", row_number().over(byCanon)).filter(col("rn") === 1)
      val extracted = canonFirst.select(col("doc_id"),
        Html.contentColumn(col("html")).as("text"), col("ts"))
      val byHash = Window.partitionBy("h").orderBy("ts", "doc_id")
      val hashFirst = extracted
        .withColumn("h", sha2(col("text"), 256))
        .withColumn("rn", row_number().over(byHash)).filter(col("rn") === 1)
      val stop = typedlit(TextAnalysis.stopwords)
      val toks = tok(col("text"))
      val nToks = size(col("toks"))
      val ttr = size(array_distinct(col("toks"))).cast("double") / nToks
      val stopR = size(filter(col("toks"),
        t => array_contains(stop, t))).cast("double") / nToks
      val gated = hashFirst.withColumn("toks", toks)
        .withColumn("quality", round(least(nToks / 100.0, lit(1.0)) * 0.3
          + ttr * 0.3 + (lit(1.0) - stopR) * 0.4, 6))
        .withColumn("dup_tok_frac", round(lit(1.0) - ttr, 6))
        .filter(col("quality") >= 0.5 && col("dup_tok_frac") <= 0.6)
      val batch = Dedup.incrementalNearDup(shP, bandP,
          gated.select(col("doc_id"), col("text"), col("toks")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == batch, s"stream $out vs batch $batch")
      assert(out == Set((1L, 10L), (6L, 11L)), s"$out")
      // exactly the three declared state stores, nothing hidden
      val progress = q.lastProgress
      assert(progress.stateOperators.length == 3,
        progress.stateOperators.map(_.operatorName).mkString(","))
      // watermark boundedness: a wave far past the horizon evicts the
      // first wave's state instead of accreting it
      ms.addData(Seq(PageEv(7L, "https://a.com/p7",
        page((1 to 40).map(i => s"delta$i").mkString(" "), "nav"),
        ts("2024-01-01 02:00:00"))))
      q.processAllAvailable()
      ms.addData(Seq(PageEv(8L, "https://a.com/p8",
        page((1 to 40).map(i => s"eps$i").mkString(" "), "nav"),
        ts("2024-01-01 02:00:01"))))
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "no state eviction after the watermark advanced")
    }
    shP.unpersist(); bandP.unpersist()
  }

  test("stream-static enrichment join attaches dim attributes, unmatched keys survive") {
    val ms = MemoryStream[Ev](spark)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val enriched = EventStreams.enrichStream(ms.toDF(), dim)
    withQuery(enriched, "append", "t_enrich") { q =>
      ms.addData(Seq(
        Ev(1, ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
        Ev(2, ts("2024-01-01 00:00:01"), 9L, "view", 1.0)))
      q.processAllAvailable()
      val out = spark.table("t_enrich")
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
      assert(out == Map(1L -> "gold", 2L -> null))
    }
  }

  test("streaming heavy hitters: hot token survives across micro-batches, state stays bounded") {
    val ms = MemoryStream[String](spark)
    val k = 5
    val hh = EventStreams.streamingHeavyHitters(ms.toDS(), k = k, buckets = 4)
    withQuery(hh.toDF(), "update", "t_stream_hh") { q =>
      // batch 1: 40 hot + 30 distinct fillers; batch 2: more fillers +
      // more hot — the guarantee must hold over the CONCATENATED stream
      ms.addData(Seq.fill(40)("hot") ++ (1 to 30).map(i => s"rare_$i"))
      q.processAllAvailable()
      ms.addData((31 to 60).map(i => s"rare_$i") ++ Seq.fill(20)("hot"))
      q.processAllAvailable()
      // latest state per bucket (update mode appends per trigger)
      val latest = spark.table("t_stream_hh")
        .groupBy("bucket").agg(last(col("items")).as("items"))
        .collect()
        .map(r => r.getInt(0) -> r.getMap[String, Long](1)).toMap
      // total stream N = 150, hot = 60 > N/(k+1) = 25 -> must survive
      val hotCounts = latest.values.flatMap(_.get("hot"))
      assert(hotCounts.nonEmpty, s"hot evicted: $latest")
      // every bucket's summary respects the k-counter bound
      assert(latest.values.forall(_.size <= k), latest)
    }
  }

  test("curateWebStream: raw pages in, curated docs out — dedup state sees the EXTRACTED content") {
    import graft.ops.Html
    val ms = MemoryStream[(Long, String, Timestamp)](spark)
    val curated = EventStreams.curateWebStream(
      ms.toDF().toDF("doc_id", "html", "ts"),
      watermark = "10 minutes", minQuality = 0.5, maxDupTokFrac = 0.5)
    def page(body: String, chrome: String) =
      s"<html><head><title>t</title></head><body><nav>$chrome</nav><p>$body</p></body></html>"
    withQuery(curated, "append", "t_curate_web_stream") { q =>
      ms.addData(Seq(
        (1L, page("the quick brown fox jumps over a lazy dog today", "nav one"),
         ts("2024-01-01 00:00:00")),
        // DIFFERENT markup chrome, SAME extracted content: the dedup
        // state must key on the content, so this is a duplicate
        (2L, page("the quick brown fox jumps over a lazy dog today", "other chrome"),
         ts("2024-01-01 00:00:10")),
        // repetition junk survives extraction but fails the gate
        (3L, page("spam spam spam spam spam spam spam spam", "nav"),
         ts("2024-01-01 00:00:20"))))
      q.processAllAvailable()
      val out = spark.table("t_curate_web_stream")
        .collect().map(_.getLong(0)).toSeq
      assert(out == Seq(1L), s"curated ids: $out")
    }
  }

  test("streaming URL dedup: tracking-param variants collapse on the canonical form") {
    val ms = MemoryStream[UrlEv](spark)
    val dedup = EventStreams.dedupUrlStream(ms.toDF(), watermark = "10 minutes")
    withQuery(dedup, "append", "t_url_dedup") { q =>
      ms.addData(Seq(
        UrlEv(1, "HTTPS://WWW.A.COM:443/x/index.html?utm_s=1&id=7#f",
              ts("2024-01-01 00:00:00")),
        // same resource, different raw bytes: dropped
        UrlEv(2, "https://a.com/x?id=7", ts("2024-01-01 00:00:30")),
        // genuinely different resource: kept
        UrlEv(3, "https://a.com/x?id=8", ts("2024-01-01 00:01:00"))))
      q.processAllAvailable()
      val emitted = spark.table("t_url_dedup")
      assert(emitted.count() == 2)
      assert(emitted.filter(col("canon") === "https://a.com/x?id=7")
        .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    }
  }

  test("link extraction on a crawl stream: stream == batch (stateless projection)") {
    import graft.ops.Links
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
      .select(col("doc_id"), Links.renderLinkPage.as("html"))
    val batch = Links.extractLinks(docs).orderBy("doc_id", "href")
      .collect().map(_.toString).toSeq
    val rows = docs.as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)](spark)
    val links = Links.extractLinks(ms.toDF().toDF("doc_id", "html"))
    withQuery(links, "append", "t_links") { q =>
      ms.addData(rows)
      q.processAllAvailable()
      val got = spark.table("t_links").orderBy("doc_id", "href")
        .collect().map(_.toString).toSeq
      assert(got == batch)
    }
  }

  test("html extraction on a crawl stream: stream == batch (stateless projection)") {
    import graft.ops.Html
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
      .select(col("doc_id"), Html.renderHtml.as("html"))
    val batch = Html.htmlExtract(docs).collect().map(_.toString).toSeq
    case class H(doc_id: Long, html: String)
    val rows = docs.as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)](spark)
    val extracted = Html.htmlExtractCols(
      ms.toDF().toDF("doc_id", "html"))
    withQuery(extracted, "append", "t_html") { q =>
      ms.addData(rows)
      q.processAllAvailable()
      val got = spark.table("t_html").orderBy("doc_id")
        .collect().map(_.toString).toSeq
      assert(got == batch)
    }
  }

  test("streaming WARC ingest: new segments parse incrementally and compose with the crawl triad") {
    import graft.ops.Dedup
    import graft.sources.Warc
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    def body(i: Long) = (1 to 30).map(j => s"s${i}w$j").mkString(" ")
    def pageRows(ids: Seq[Long]) = ids.map(i =>
      (i + 100L, s"https://s.example/p$i",
       s"<html><body><p>${body(i)}</p></body></html>"))
    // corpus the pages re-crawl: each page's extracted text verbatim
    val corpus = (1L to 5L).map(i => (i, body(i)))
      .toDF("doc_id", "text")
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    val (sh, bands) = Dedup.buildNearDupIndex(corpus)
    val shP = sh.persist(); val bandsP = bands.persist()
    val watched = TestSpark.tempDir("graft_warc_watch").toString
    // a WARC segment lands as a uniquely-named file (the file-stream
    // source tracks seen paths — a crawler never rewrites a segment)
    var seg = 0
    def land(ids: Seq[Long]): Unit = {
      val stage = TestSpark.tempDir("graft_warc_stage").toString
      Warc.writeWarc(pageRows(ids).toDF("doc_id", "url", "html"), stage, 1)
      seg += 1
      JFiles.move(Paths.get(stage, "part-00000.warc"),
                  Paths.get(watched, f"segment-$seg%03d.warc"),
                  StandardCopyOption.ATOMIC_MOVE)
    }
    land(Seq(1L, 2L, 3L)) // wave 1 exists before the stream starts
    val records = Warc.readWarcStream(spark, watched)
    val triad = EventStreams.crawlTriadStream(
      Warc.pagesFromWarcStream(records), shP, bandsP)
    withQuery(triad, "append", "t_warc_triad") { q =>
      q.processAllAvailable()
      val w1 = spark.table("t_warc_triad").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(w1 == Set((101L, 1L), (102L, 2L), (103L, 3L)), w1.toString)
      land(Seq(4L, 5L)) // a new segment arrives mid-stream
      q.processAllAvailable()
      val all = spark.table("t_warc_triad").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(all == (1L to 5L).map(i => (i + 100L, i)).toSet, all.toString)
    }
    // and the stream's record view matches the batch reader's
    val batch = Warc.readWarc(spark, watched)
      .filter(col("warc_type") === "response")
      .select("record_id").as[String].collect().sorted.toSeq
    assert(batch == (1L to 5L).map(i => s"<urn:graft:${i + 100}>")
      .sorted.toSeq)
    shP.unpersist(); bandsP.unpersist()
  }

  test("trainingPipelineStream ≡ trainingAssemblyStable on a replayed corpus; dedup/gate casualties; per-shard state only") {
    import graft.ops.Curation
    // constructed corpus: texts unique WITHIN each wave (the
    // in-micro-batch dedup keeps an arbitrary row — the documented
    // contract — so duplicates must only arrive against SETTLED
    // state); cross-wave duplicates (+1000 ids) and a junk doc
    // exercise the keeper and the gate
    def good(i: Int) = (1 to 30).map(j => s"w${i}t$j").mkString(" ")
    val wave1 = (1 to 12).map(i =>
      DocEv(i.toLong, good(i), ts(f"2024-01-01 00:00:${i}%02d")))
    val wave2 = Seq(
      // exact duplicates of wave-1 docs: die at the keeper state
      DocEv(1001L, good(3), ts("2024-01-01 00:01:00")),
      DocEv(1002L, good(7), ts("2024-01-01 00:01:01")),
      // junk: dies at the quality gate (dup_tok_frac ≈ 1)
      DocEv(1003L, Seq.fill(40)("spam").mkString(" "),
            ts("2024-01-01 00:01:02")),
      // fresh docs appended late: must pack WITHOUT moving anyone
      DocEv(1004L, good(13), ts("2024-01-01 00:01:03")),
      DocEv(1005L, good(14), ts("2024-01-01 00:01:04")))
    val all = (wave1 ++ wave2).toDF().select("doc_id", "text")
    // batch twin over the union — min-id keepers pick the wave-1
    // originals, matching the stream's first-arrival keeps
    val batch = Curation.trainingAssemblyStable(all, shards = 4,
        budget = 64)
      .collect().map(_.toString).sorted.toSeq
    val ms = MemoryStream[DocEv](spark)
    val stream = EventStreams.trainingPipelineStream(ms.toDF(),
      shards = 4, budget = 64)
    withQuery(stream.toDF(), "append", "t_train_stream") { q =>
      ms.addData(wave1)
      q.processAllAvailable()
      val afterW1 = spark.table("t_train_stream").collect()
        .map(r => r.getLong(0) -> r.toString).toMap
      ms.addData(wave2)
      q.processAllAvailable()
      val got = spark.table("t_train_stream").collect()
        .map(_.toString).sorted.toSeq
      assert(got == batch, s"stream\n${got.mkString("\n")}\nbatch\n${
        batch.mkString("\n")}")
      // stability: wave-2 appends never moved a wave-1 row
      spark.table("t_train_stream").collect()
        .filter(r => afterW1.contains(r.getLong(0)))
        .foreach(r => assert(afterW1(r.getLong(0)) == r.toString,
          s"appended docs moved doc ${r.getLong(0)}"))
      // casualties: the cross-wave duplicates and the junk doc are out
      val ids = spark.table("t_train_stream").collect()
        .map(_.getLong(0)).toSet
      assert(!ids.contains(1001L) && !ids.contains(1002L) &&
             !ids.contains(1003L))
      assert(ids.contains(1004L) && ids.contains(1005L))
      // the packer's entire state is (pos, cumToks) per shard: state
      // rows == shard count, not corpus size
      val prog = q.lastProgress.stateOperators
      val packer = prog.map(_.numRowsTotal).max
      assert(packer <= 4 + 12 + 5, // packer shards + dedup hashes
        s"state rows ${prog.map(_.numRowsTotal).toSeq}")
    }
  }

  test("writeWetStream: curated stream lands as one gzipped WET segment dir per micro-batch, round-trips by glob") {
    import graft.sources.Warc
    val ms = MemoryStream[(Long, String, String)](spark)
    val dir = TestSpark.tempDir("graft_wet_stream").toString
    val q = Warc.writeWetStream(
      ms.toDF().toDF("doc_id", "url", "text"), dir)
    try {
      ms.addData(Seq(
        (1L, "https://a.example/1", "first curated doc"),
        (2L, "https://a.example/2", "second curated doc")))
      q.processAllAvailable()
      ms.addData(Seq((3L, "https://a.example/3", "a later wave")))
      q.processAllAvailable()
      // one batch dir per non-empty micro-batch, lexically ordered
      val batches = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("batch-")).map(_.getName).sorted
      assert(batches.length == 2, batches.toSeq)
      assert(new java.io.File(s"$dir/${batches.head}").listFiles()
        .exists(_.getName.endsWith(".wet.gz")))
      // consumers glob across segments: all three docs round-trip
      val back = Warc.readWet(spark, s"$dir/*")
        .as[(Long, String, String)].collect().toSet
      assert(back.map(_._1) == Set(1L, 2L, 3L))
      assert(back.exists(r => r._1 == 3L && r._3 == "a later wave"))
    } finally q.stop()
  }
}
