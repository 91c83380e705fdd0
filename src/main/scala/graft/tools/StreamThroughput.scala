package graft.tools

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Curation, Dedup, Html}
import graft.sources.Warc
import graft.streaming.EventStreams

/** Streaming scale datapoints: replays a corpus through one streaming
  * pipeline into a memory sink and prints throughput plus the
  * state-store footprint. Only feed + micro-batch processing is on the
  * clock, not the offline steps (WARC segment writing, the band index
  * of [[Dedup.nearDupIndex]]). Run serially (timing).
  * `tools/run_main.sh graft.tools.StreamThroughput <pipeline> [dir] [batch]`
  *
  *  - `curate` (batch 5000 rows): documents as raw HTML pages through
  *    [[EventStreams.curateWebStream]]; its only state is the
  *    content-hash dedup, so `state_rows` tracks DISTINCT content.
  *  - `neardup` (2000): every document re-crawled without its last
  *    token, probed through [[EventStreams.nearDupProbeStream]]. Every
  *    row band-collides and verifies: a lower bound on mixed traffic.
  *  - `triad` (2000): the corpus as raw pages through
  *    [[EventStreams.crawlTriadStream]]; every 10th page is re-emitted
  *    under a tracking-param URL that the URL-dedup state must kill.
  *  - `train` (2000): documents through
  *    [[EventStreams.trainingPipelineStream]]; every 10th re-arrives a
  *    batch later as an exact duplicate, event time advancing 10 ms a
  *    row to stay inside the dedup horizon. The packer's state must
  *    stay shards·2 longs, not corpus-sized.
  *  - `warc` (4 segments a wave): the triad pages as 32 gzip WARC
  *    segments, moved a wave at a time into a watched directory and
  *    read through [[Warc.readWarcStream]] → the triad pipeline.
  *
  * MemoryStream sources reach the driver one partition at a time
  * (`toLocalIterator`): a whole-corpus `collect()` OOMs at large scale
  * factors. Rows arrive in doc_id order, event times from 2024-01-01. */
object StreamThroughput {
  private val Base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def at(ms: Long) = new Timestamp(Base + ms)

  def main(args: Array[String]): Unit = {
    val defaults = Map("curate" -> 5000, "neardup" -> 2000, "triad" -> 2000,
                       "train" -> 2000, "warc" -> 4)
    require(args.headOption.exists(defaults.contains),
      "usage: StreamThroughput <curate|neardup|triad|train|warc> [dir] [batch]")
    val dir = args.lift(1).getOrElse("tmpdata/sf1")
    val batch = args.lift(2).map(_.toInt).getOrElse(defaults(args.head))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    var rowsIn = 0L
    def row[T](f: Long => T): T = { val r = f(rowsIn); rowsIn += 1; r }

    args.head match {
      case "curate" =>
        val ms = MemoryStream[(Long, String, Timestamp)](spark)
        val q = sink(EventStreams.curateWebStream(ms.toDF().toDF("doc_id", "html", "ts")), "st_curate")
        val wall = replay(q, ms, docs.select(col("doc_id"), Html.renderPlainPage).orderBy("doc_id"), batch)(
          _.map(r => row(n => (r.getLong(0), r.getString(1), at(n * 1000L)))))
        val (out, _, stRows, stMb) = finish(q)
        report("STREAM_THROUGHPUT", s"dir=$dir rows_in=$rowsIn rows_out=$out batch_rows=$batch",
          f"wall_sec=$wall%.1f rows_per_sec=${rowsIn / wall}%.0f state_rows=$stRows state_mb=$stMb%.1f")

      case "neardup" =>
        val (sh, bands, corpus, build) = index(spark, dir)
        val recrawl = graft.Tables.docTokens(spark, dir)
          .select(col("doc_id"), slice(col("toks"), lit(1), size(col("toks")) - 1).as("toks"))
          .orderBy("doc_id")
        val ms = MemoryStream[(Long, Seq[String], Timestamp)](spark)
        val q = sink(EventStreams.nearDupProbeStream(
          ms.toDF().toDF("doc_id", "toks", "ts"), sh, bands), "st_neardup")
        val wall = replay(q, ms, recrawl, batch)(
          _.map(r => row(n => (r.getLong(0) + 1000000L, r.getSeq[String](1), at(n * 1000L)))))
        val (out, _, stRows, stMb) = finish(q)
        report("NEARDUP_STREAM", f"dir=$dir corpus_docs=$corpus index_build_sec=$build%.1f",
          s"rows_in=$rowsIn rows_out=$out batch_rows=$batch", f"wall_sec=$wall%.1f " +
          f"docs_per_sec=${rowsIn / wall}%.0f state_rows=$stRows state_mb=$stMb%.1f")

      case "triad" =>
        val (sh, bands, corpus, build) = index(spark, dir)
        val ms = MemoryStream[(Long, String, String, Timestamp)](spark)
        val q = sink(EventStreams.crawlTriadStream(
          ms.toDF().toDF("doc_id", "url", "html", "ts"), sh, bands), "st_triad")
        val wall = replay(q, ms, docs.select("doc_id", "text").orderBy("doc_id"), batch)(_.flatMap { r =>
          val id = r.getLong(0)
          val html = s"<html><body><p>${r.getString(1)}</p></body></html>"
          val url = s"https://example.com/page-$id"
          val dup = if (id % 10 == 0) Seq(2000000L -> s"$url?utm_source=feed") else Nil
          ((1000000L -> url) +: dup).map { case (off, u) => row(n => (id + off, u, html, at(n * 1000L))) }
        })
        val (out, ops, stRows, stMb) = finish(q)
        report("TRIAD_STREAM", f"dir=$dir corpus_docs=$corpus index_build_sec=$build%.1f",
          s"rows_in=$rowsIn rows_out=$out batch_rows=$batch", f"wall_sec=$wall%.1f " +
          f"pages_per_sec=${rowsIn / wall}%.0f n_state_ops=$ops state_rows=$stRows state_mb=$stMb%.1f")

      case "train" =>
        val ms = MemoryStream[(Long, String, Timestamp)](spark)
        val q = sink(EventStreams.trainingPipelineStream(
          ms.toDF().toDF("doc_id", "text", "ts")).toDF(), "st_train")
        var pendingDups = Seq.empty[(Long, String, Timestamp)]
        val replayed = replay(q, ms, docs.select("doc_id", "text").orderBy("doc_id"), batch) { chunk =>
          val fresh = chunk.map(r => row(n => (r.getLong(0), r.getString(1), at((n + 1) * 10L))))
          // duplicates arrive a batch later, against settled state
          val b = fresh ++ pendingDups
          rowsIn += pendingDups.size
          pendingDups = fresh.filter(_._1 % 10 == 0)
            .map { case (id, t, _) => (id + 1000000L, t, at(rowsIn * 10L)) }
          b
        }
        // the last chunk's duplicates arrive as one final batch
        rowsIn += pendingDups.size
        val wall = replayed + feed(q, ms, pendingDups)
        val shards = spark.table("st_train").select("shard").distinct().count()
        val (out, ops, stRows, stMb) = finish(q)
        report("TRAIN_STREAM", s"dir=$dir rows_in=$rowsIn rows_out=$out shards=$shards",
          f"batch_rows=$batch wall_sec=$wall%.1f docs_per_sec=${rowsIn / wall}%.0f " +
          f"n_state_ops=$ops state_rows=$stRows state_mb=$stMb%.1f")

      case "warc" =>
        val staging = Files.createTempDirectory("graft_warc_stage")
        val watch = Files.createTempDirectory("graft_warc_watch")
        val pages = Curation.triadPages(spark, dir)
        Warc.writeWarc(pages, staging.toString, 32, gzip = true)
        val segs = staging.toFile.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val mb = segs.map(_.length()).sum / 1e6
        val (sh, bands) = Dedup.nearDupIndex(spark, dir)
        val q = sink(EventStreams.crawlTriadStream(Warc.pagesFromWarcStream(
          Warc.readWarcStream(spark, watch.toString)), sh, bands), "st_warc")
        var ns = 0L
        segs.grouped(batch).foreach { wave =>
          wave.foreach(f => Files.move(f.toPath, Paths.get(watch.toString, f.getName)))
          val t0 = System.nanoTime()
          q.processAllAvailable()
          ns += System.nanoTime() - t0
        }
        val wall = ns / 1e9
        val (out, ops, stRows, stMb) = finish(q)
        val nPages = pages.count()
        report("WARC_STREAM", f"dir=$dir gz=true segments=${segs.length} bytes=$mb%.1fMB",
          f"pages=$nPages rows_out=$out wave=$batch wall_sec=$wall%.1f " +
          f"segments_per_sec=${segs.length / wall}%.2f pages_per_sec=${nPages / wall}%.0f " +
          f"mb_per_sec=${mb / wall}%.1f n_state_ops=$ops state_rows=$stRows state_mb=$stMb%.1f")
    }
    spark.stop()
  }

  private def report(tag: String, fields: String*): Unit = println((tag +: fields).mkString(" "))

  private def sink(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode("append").start()

  /** Feeds `src` to `ms` in `batchRows`-row triggers, each chunk turned
    * into stream rows by `toBatch`; returns the processing seconds. */
  private def replay[T](q: StreamingQuery, ms: MemoryStream[T], src: DataFrame,
                        batchRows: Int)(toBatch: Seq[Row] => Seq[T]): Double =
    src.toLocalIterator().asScala.grouped(batchRows)
      .map(chunk => feed(q, ms, toBatch(chunk.toSeq))).sum

  /** Adds `rows` to `ms` as one trigger; returns its processing seconds. */
  private def feed[T](q: StreamingQuery, ms: MemoryStream[T], rows: Seq[T]): Double = {
    val t0 = System.nanoTime()
    ms.addData(rows); q.processAllAvailable()
    (System.nanoTime() - t0) / 1e9
  }

  /** Stops `q` after reading its sink's row count and its state
    * footprint: (rows out, state operators, state rows, state MB). */
  private def finish(q: StreamingQuery): (Long, Int, Long, Double) = {
    val outRows = q.sparkSession.table(q.name).count()
    val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
    q.stop()
    (outRows, st.size, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum / 1e6)
  }

  /** The corpus's band index, materialized off the clock:
    * (shingles, bands, corpus docs, build seconds). */
  private def index(spark: SparkSession, dir: String) = {
    val t0 = System.nanoTime()
    val (sh, bands) = Dedup.nearDupIndex(spark, dir)
    val docs = sh.count()
    (sh, bands, docs, (System.nanoTime() - t0) / 1e9)
  }
}
