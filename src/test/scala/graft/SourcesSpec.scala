package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Formats

/** CSV/JSON round-trips and partitioned-parquet pruning. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def checksum(df: org.apache.spark.sql.DataFrame) =
    df.agg(count(lit(1)), round(sum(col("l_extendedprice")), 2),
           round(sum(col("l_quantity")), 2)).collect().head.toSeq

  test("csv round-trip preserves rows and sums") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
              "l_returnflag")
    val dir = TestSpark.tempDir("graft_csv").toString + "/li"
    Formats.writeCsv(li, dir)
    val back = Formats.readCsv(spark, dir, li.schema)
    assert(checksum(back) == checksum(li))
  }

  test("json round-trip preserves rows and sums") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val dir = TestSpark.tempDir("graft_json").toString + "/li"
    Formats.writeJson(li, dir)
    val back = Formats.readJson(spark, dir, li.schema)
    assert(checksum(back) == checksum(li))
  }

  test("xml round-trip preserves rows and sums (Spark 4 built-in source)") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val dir = TestSpark.tempDir("graft_xml").toString + "/li"
    Formats.writeXml(li, dir)
    val back = Formats.readXml(spark, dir, li.schema)
    assert(checksum(back) == checksum(li))
  }

  test("orc round-trip preserves rows and sums, with predicate pushdown") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    val dir = TestSpark.tempDir("graft_orc").toString + "/li"
    Formats.writeOrc(li, dir)
    val back = Formats.readOrc(spark, dir)
    assert(checksum(back) == checksum(li))
    // predicate reaches the ORC scan (PushedFilters), same as parquet
    val filtered = back.filter(col("l_returnflag") === "A")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_returnflag"))
  }

  test("partitioned parquet write prunes partitions on read") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    val dir = TestSpark.tempDir("graft_part").toString + "/li"
    Formats.writePartitioned(li, dir, "l_returnflag")
    val filtered = spark.read.parquet(dir).filter(col("l_returnflag") === "A")
    // behavior: only the A partition is read
    val expected = li.filter(col("l_returnflag") === "A")
    assert(checksum(filtered) == checksum(expected))
    // plan: the partition filter appears as a PartitionFilters entry,
    // not a data filter
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
           plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
             .contains("l_returnflag"))
  }

  test("bucketed tables: repeated join plans with no shuffle exchange") {
    val dir = TestSpark.tempDir("graft_bucketed").toString
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val customer = Tables.customer(spark, TestSpark.sf0001)
    // the write pays the shuffle once; both sides co-bucketed on the key
    Formats.writeBucketed(orders, "orders_b", s"$dir/orders", 8, "o_custkey")
    Formats.writeBucketed(customer, "customer_b", s"$dir/customer", 8, "c_custkey")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so a shuffle WOULD appear if the
      // bucket layout were not being used
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = Formats.readBucketed(spark, "orders_b")
        .join(Formats.readBucketed(spark, "customer_b"),
              col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
             plan)
      assert(!plan.contains("Exchange"),
             s"bucketed join must not re-shuffle either side:\n$plan")
      // the unbucketed same join DOES shuffle — the layout is what
      // removed it, not the data size
      val unbucketed = orders.join(customer, col("o_custkey") === col("c_custkey"))
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(j.count() == unbucketed.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("bucketed ANN posting table: probe join shuffles only the probe side") {
    // SCALING.md's "past the broadcast budget" branch: the posting
    // table bucketed at rest on the join key means the repeated probe
    // join re-shuffles ONLY the (small, per-query) probe stream, never
    // the index
    import graft.ops.Similarity
    val dir = TestSpark.tempDir("graft_postings").toString
    val postings = Similarity.annPostings(spark, TestSpark.sf0001)
    Formats.writeBucketed(postings.select("tbl", "bucket", "vec_id", "vn"),
                          "postings_b", s"$dir/postings", 8, "tbl", "bucket")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val home = Formats.readBucketed(spark, "postings_b")
        .select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
      val probes = postings.select(
        col("tbl"), col("vec_id").as("id_a"),
        explode(transform(col("pm"), m => col("bucket").bitwiseXOR(m)))
          .as("bucket"))
      val j = probes.join(home, Seq("tbl", "bucket"))
        .filter(col("id_a") =!= col("id_b"))
      val plan = j.queryExecution.executedPlan.toString
      val nExchanges = "Exchange".r.findAllIn(plan).length
      assert(nExchanges == 1, s"expected only the probe-side shuffle:\n$plan")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("writeShards: bounded sorted shards, exact manifest, byte-stable rerun") {
    import graft.sources.Formats
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val dir = TestSpark.tempDir("graft_shards").toString
    val manifest = Formats.writeShards(docs, dir, shardSpan = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // every shard's id range respects the span, counts bounded by span
    manifest.foreach { case (shard, (n, _, lo, hi)) =>
      assert(n <= 100 && lo >= shard * 100 && hi < (shard + 1) * 100)
    }
    // manifest counts match the written shards exactly
    // partition-column values are re-inferred as INT on read — cast back
    val back = spark.read.parquet(s"$dir/shards")
      .groupBy(col("shard").cast("long").as("shard")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back == manifest.map { case (s, (n, _, _, _)) => s -> n })
    assert(back.values.sum == docs.count())
    // deterministic: a rerun produces the identical manifest
    val dir2 = TestSpark.tempDir("graft_shards2").toString
    val manifest2 = Formats.writeShards(docs, dir2, shardSpan = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(manifest2 == manifest)
  }

  test("text round-trip: one line per doc, order-insensitive content equal") {
    val docs = Tables.documents(spark, TestSpark.sf0001).select(col("text"))
    val dir = TestSpark.tempDir("graft_text").toString + "/docs"
    Formats.writeText(docs, dir)
    val back = Formats.readText(spark, dir)
    assert(back.count() == docs.count())
    // decimal sum: order-insensitive, duplicate-sensitive, no overflow
    val h = (df: org.apache.spark.sql.DataFrame, c: String) =>
      df.agg(sum(xxhash64(col(c)).cast("decimal(38,0)"))).collect().head.getDecimal(0)
    assert(h(back, "value") == h(docs, "text"))
  }

  test("binaryFile source reads whole files with glob pruning") {
    val dir = TestSpark.tempDir("graft_bin")
    java.nio.file.Files.write(dir.resolve("a.png"), Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(dir.resolve("b.wav"), Array[Byte](9, 8, 7))
    val all = Formats.readBinary(spark, dir.toString)
    assert(all.count() == 2)
    val png = Formats.readBinary(spark, dir.toString, glob = "*.png").collect()
    assert(png.length == 1)
    val r = png.head
    assert(r.getAs[Long]("length") == 4L)
    assert(r.getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3, 4))
  }

  test("range-sorted write: per-file key ranges disjoint, rows sorted within files") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tempDir("graft_rangesort").toString + "/orders"
    Formats.writeRangeSorted(Tables.orders(spark, TestSpark.sf0001), dir,
                             nFiles = 4, sortCol = "o_orderkey")
    val back = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("o_orderkey"))
    // zone-map property: file min/max ranges never overlap
    val ranges = back.groupBy("f")
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2, s"expected multiple files, got $ranges")
    assert(ranges.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 < lo2
      case _ => true
    }, s"overlapping file ranges: ${ranges.toSeq}")
    // within-file sortedness (test-scale collect; file row order is
    // preserved by the reader)
    val byFile = back.collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).toSeq)
    assert(byFile.values.forall(ks => ks == ks.sorted),
           "rows not sorted within a file")
    // row count preserved
    assert(back.count() == Tables.orders(spark, TestSpark.sf0001).count())
  }

  test("audited JSON ingest: malformed lines quarantined, good rows parse, failfast aborts") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.tempDir("graft_badjson")
    java.nio.file.Files.write(dir.resolve("part.json"),
      ("""{"id": 1, "s": "ok"}""" + "\n" +
       """{"id": 2, "s": "also ok"}""" + "\n" +
       """{"id": 3, "s": BROKEN""" + "\n").getBytes)
    val schema = StructType(Seq(StructField("id", LongType),
                                StructField("s", StringType)))
    // cache: Spark disallows queries that reference ONLY the corrupt
    // column on a raw file scan (the documented split pattern)
    val audited = Formats.readJsonAudited(spark, dir.toString, schema).cache()
    val good = audited.filter("_corrupt_record IS NULL")
    val bad = audited.filter("_corrupt_record IS NOT NULL")
    assert(good.count() == 2 && bad.count() == 1)
    assert(bad.collect().head.getAs[String]("_corrupt_record").contains("BROKEN"))
    // the strict twin: FAILFAST aborts the read instead
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST")
        .json(dir.toString).count()
    }
  }

  test("observed metrics ride the action: no second scan to count kept rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation("curate_stats")
    val docs = Seq((1L, 0.9), (2L, 0.2), (3L, 0.7)).toDF("doc_id", "q")
    val kept = Graft.observed(docs, obs,
        count(lit(1)).as("rows_in"),
        sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("rows_kept"),
        avg(col("q")).as("mean_q"))
      .filter(col("q") >= 0.5)
    assert(kept.count() == 2)
    val m = obs.get
    assert(m("rows_in") == 3L && m("rows_kept") == 2L)
    assert(math.abs(m("mean_q").asInstanceOf[Double] - 0.6) < 1e-9)
  }

  test("z-ordered write: per-file bounding boxes tight on BOTH dims, point predicate skips most files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a 64x64 grid: the adversarial case for 1-D sorting (the second
    // dim spans the whole domain in every file)
    val grid = (0 until 64).flatMap(a => (0 until 64).map(b => (a.toLong, b.toLong)))
      .toDF("a", "b")
    val zDir = TestSpark.tempDir("graft_zorder").toString + "/z"
    val lDir = TestSpark.tempDir("graft_zorder").toString + "/lin"
    Formats.writeZOrdered(grid, zDir, nFiles = 16, colA = "a", colB = "b")
    Formats.writeRangeSorted(grid, lDir, nFiles = 16, sortCol = "a")
    def fileBoxes(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("alo"), max("a").as("ahi"),
           min("b").as("blo"), max("b").as("bhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val zBoxes = fileBoxes(zDir)
    val lBoxes = fileBoxes(lDir)
    assert(zBoxes.length >= 8 && lBoxes.length >= 8)
    // 1-D layout: b spans (nearly) the whole domain in every file;
    // z-order: the mean b-span collapses to a fraction of it
    def meanBSpan(bx: Array[(Long, Long, Long, Long)]) =
      bx.map { case (_, _, blo, bhi) => (bhi - blo).toDouble }.sum / bx.length
    assert(meanBSpan(lBoxes) > 55.0, s"1-D layout unexpectedly tight: ${lBoxes.toSeq}")
    assert(meanBSpan(zBoxes) < 0.5 * meanBSpan(lBoxes),
           s"z mean b-span ${meanBSpan(zBoxes)} vs 1-D ${meanBSpan(lBoxes)}")
    // a point predicate on b consults footer stats: in the 1-D layout
    // every file matches; z-order skips more than half
    val b0 = 37L
    val zHit = zBoxes.count { case (_, _, blo, bhi) => blo <= b0 && b0 <= bhi }
    val lHit = lBoxes.count { case (_, _, blo, bhi) => blo <= b0 && b0 <= bhi }
    assert(lHit == lBoxes.length)
    assert(zHit <= zBoxes.length / 2, s"z-order hit $zHit of ${zBoxes.length} files")
  }

  test("mapGroupsWithState running totals accumulate across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{EventStreams, SEvent}
    val ms = MemoryStream[SEvent](spark)
    val q = EventStreams.runningUserTotals(ms.toDS())
      .writeStream.format("memory").queryName("t_totals").outputMode("update").start()
    def ev(id: Long, u: Long, v: Double) =
      SEvent(id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "click", v)
    try {
      ms.addData(Seq(ev(1, 1, 10.0), ev(2, 1, 5.0), ev(3, 2, 1.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(4, 1, 2.5)))
      q.processAllAvailable()
      val last = spark.table("t_totals").filter(col("user_id") === 1)
        .orderBy(col("n_events").desc).collect().head
      assert(last.getLong(1) == 3 && last.getDouble(2) == 17.5)
      val u2 = spark.table("t_totals").filter(col("user_id") === 2)
        .orderBy(col("n_events").desc).collect().head
      assert(u2.getLong(1) == 1 && u2.getDouble(2) == 1.0)
    } finally q.stop()
  }

  test("transformWithState running totals == mapGroupsWithState semantics (RocksDB store)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{EventStreams, SEvent}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // the new API requires the RocksDB provider; scope it to this test
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[SEvent](spark)
      val q = EventStreams.runningUserTotalsTws(ms.toDS())
        .writeStream.format("memory").queryName("t_tws").outputMode("update").start()
      def ev(id: Long, u: Long, v: Double) =
        SEvent(id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "click", v)
      try {
        ms.addData(Seq(ev(1, 1, 10.0), ev(2, 1, 5.0), ev(3, 2, 1.0)))
        q.processAllAvailable()
        ms.addData(Seq(ev(4, 1, 2.5)))
        q.processAllAvailable()
        val last = spark.table("t_tws").filter(col("user_id") === 1)
          .orderBy(col("n_events").desc).collect().head
        assert(last.getLong(1) == 3 && last.getDouble(2) == 17.5)
        val u2 = spark.table("t_tws").filter(col("user_id") === 2)
          .orderBy(col("n_events").desc).collect().head
        assert(u2.getLong(1) == 1 && u2.getDouble(2) == 1.0)
      } finally q.stop()
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  // ------------------------------------------------------------------
  // WARC source (r14)
  // ------------------------------------------------------------------

  test("warc round-trip: pages → WARC files → parsed records preserve id/url/html") {
    import graft.sources.Warc
    import spark.implicits._
    val pages = Seq(
      (1L, "https://a.example/x", "<html><body>hello world</body></html>"),
      (2L, "https://b.example/y?q=1", "multi\nline\nbody with ünïcödé"),
      (3L, "https://c.example/z", "")).toDF("doc_id", "url", "html")
    val dir = TestSpark.tempDir("graft_warc_rt").toString
    Warc.writeWarc(pages, dir, 2)
    val back = Warc.readWarc(spark, dir).cache()
    // warcinfo lead records present (one per non-empty file), skipped by type
    assert(back.filter(col("warc_type") === "warcinfo").count() >= 1)
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 0)
    val got = back.filter(col("warc_type") === "response")
      .select(Warc.docIdCol(col("record_id")).as("doc_id"),
              col("target_uri").as("url"),
              Warc.httpBodyCol(col("content")).as("html"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(got.toSeq == pages.as[(Long, String, String)].collect().toSeq
      .sortBy(_._1))
  }

  test("wet round-trip: (doc_id, url, text) through conversion records, warcinfo skipped") {
    import graft.sources.Warc
    import spark.implicits._
    val docs = Seq(
      (5L, "https://w.example/a", "extracted text with ünïcödé"),
      (6L, "https://w.example/b", "line one\nline two"),
      (7L, "https://w.example/c", "")).toDF("doc_id", "url", "text")
    val dir = TestSpark.tempDir("graft_wet_rt").toString
    Warc.writeWet(docs, dir, 2)
    val back = Warc.readWet(spark, dir)
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == docs.as[(Long, String, String)].collect().toSeq
      .sortBy(_._1))
  }

  test("warc quarantine: a corrupt record costs one quarantine row, parser resyncs") {
    import graft.sources.Warc
    val good1 = Warc.responseRecord(10L, "https://e.example/1", "first page")
    val good2 = Warc.responseRecord(11L, "https://e.example/2", "second page")
    // corrupt middle record: claims a Content-Length past EOF-of-record
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: notanumber\r\n\r\njunk payload\r\n\r\n")
      .getBytes("ISO-8859-1")
    val recs = Warc.parseRecords(good1 ++ bad ++ good2)
    val corrupt = recs.filter(_._corrupt_record != null)
    val ok = recs.filter(_._corrupt_record == null)
    assert(corrupt.size == 1 &&
           corrupt.head._corrupt_record.contains("Content-Length"))
    assert(ok.map(_.record_id) ==
           Seq("<urn:graft:10>", "<urn:graft:11>"))
    // hostile sizes: huge and negative Content-Length both quarantine
    Seq(Long.MaxValue.toString, "-7", (Warc.MaxRecordBytes + 1).toString)
      .foreach { cl =>
        val b = (s"WARC/1.0\r\nContent-Length: $cl\r\n\r\n").getBytes("ISO-8859-1")
        val r = Warc.parseRecords(b ++ good1)
        assert(r.count(_._corrupt_record != null) == 1, s"cl=$cl")
        assert(r.count(_._corrupt_record == null) == 1, s"cl=$cl resync")
      }
    // truncated payload at EOF quarantines, doesn't throw
    val trunc = Warc.parseRecords(good1.dropRight(10))
    assert(trunc.size == 1 && trunc.head._corrupt_record != null)
    // non-WARC leading junk quarantines then resyncs to the real record
    val junkFirst = Warc.parseRecords(
      "this is not warc\r\n".getBytes("ISO-8859-1") ++ good2)
    assert(junkFirst.count(_._corrupt_record == null) == 1)
  }

  test("warc payload framing: binary-ish payloads with embedded WARC/ lines parse by length, not by scan") {
    import graft.sources.Warc
    // a payload that CONTAINS a line starting with WARC/ — correct
    // Content-Length framing must carry the parser straight past it
    val evil = "line1\r\nWARC/1.0\r\nline3"
    val rec = Warc.renderRecord(Seq(
      "WARC-Type" -> "resource", "WARC-Record-ID" -> "<urn:graft:99>"),
      evil.getBytes("UTF-8"))
    val next = Warc.responseRecord(100L, "https://e.example/n", "after")
    val recs = Warc.parseRecords(rec ++ next)
    assert(recs.size == 2 && recs.forall(_._corrupt_record == null))
    assert(new String(recs.head.content, "UTF-8") == evil)
    assert(recs(1).record_id == "<urn:graft:100>")
  }

  test("warc sink rejects header injection: CR/LF or non-ASCII in a header value fails loudly") {
    import graft.sources.Warc
    // a hostile URL with an embedded CRLF would inject extra header
    // lines and silently round-trip as a quarantine row — the sink
    // must throw instead
    intercept[IllegalArgumentException] {
      Warc.responseRecord(1L, "https://evil.example/\r\nWARC-Type: smuggled", "x")
    }
    intercept[IllegalArgumentException] {
      Warc.responseRecord(1L, "https://evil.example/\nX: y", "x")
    }
    intercept[IllegalArgumentException] {
      Warc.responseRecord(1L, "https://ünïcödé.example/", "x") // not %-encoded
    }
    // clean URLs still render
    assert(Warc.responseRecord(1L, "https://ok.example/a?b=c%20d", "x").nonEmpty)
  }

  // ------------------------------------------------------------------
  // Gzipped WARC (r15): per-record gzip members, the .warc.gz framing
  // real crawl dumps ship in
  // ------------------------------------------------------------------

  test("warc.gz round-trip: gzip sink → per-record members → identical parse; mixed plain/gz dirs read under one glob") {
    import graft.sources.Warc
    import spark.implicits._
    val pages = Seq(
      (1L, "https://a.example/x", "<html><body>hello world</body></html>"),
      (2L, "https://b.example/y?q=1", "multi\nline\nbody with ünïcödé"),
      (3L, "https://c.example/z", "")).toDF("doc_id", "url", "html")
    val dir = TestSpark.tempDir("graft_warc_gz").toString
    Warc.writeWarc(pages, dir, 2, gzip = true)
    // files are .warc.gz and genuinely compressed (gzip magic first)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".warc.gz"))
    assert(files.nonEmpty)
    val head2 = {
      val in = new java.io.FileInputStream(files.head)
      try { val a = in.read(); val b = in.read(); (a, b) } finally in.close()
    }
    assert(head2 == ((0x1f, 0x8b)))
    val back = Warc.readWarc(spark, dir).cache()
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 0)
    val got = back.filter(col("warc_type") === "response")
      .select(Warc.docIdCol(col("record_id")).as("doc_id"),
              col("target_uri").as("url"),
              Warc.httpBodyCol(col("content")).as("html"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(got.toSeq == pages.as[(Long, String, String)].collect().toSeq.sortBy(_._1))
    // mixed directory: drop a PLAIN .warc next to the .gz files —
    // the default glob + per-file magic sniff reads both
    val extra = Seq((9L, "https://d.example/p", "plain sibling"))
      .toDF("doc_id", "url", "html")
    Warc.writeWarc(extra, s"$dir", 1, gzip = false)
    // plain writer names part-00000.warc — no collision with .warc.gz
    val mixed = Warc.readWarc(spark, dir)
      .filter(col("warc_type") === "response")
    assert(mixed.count() == 4)
    assert(mixed.filter(Warc.docIdCol(col("record_id")) === 9L).count() == 1)
  }

  test("wet.gz round-trip through the gzip sink") {
    import graft.sources.Warc
    import spark.implicits._
    val docs = Seq(
      (5L, "https://w.example/a", "extracted text with ünïcödé"),
      (6L, "https://w.example/b", "line one\nline two")).toDF("doc_id", "url", "text")
    val dir = TestSpark.tempDir("graft_wet_gz").toString
    Warc.writeWet(docs, dir, 1, gzip = true)
    assert(new java.io.File(dir).listFiles.exists(_.getName.endsWith(".wet.gz")))
    val back = Warc.readWet(spark, dir)
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == docs.as[(Long, String, String)].collect().toSeq.sortBy(_._1))
  }

  test("gz member quarantine: a corrupt member costs one quarantine row, good members on both sides survive") {
    import graft.sources.{Gzip, Warc}
    val g1 = Gzip.member(Warc.responseRecord(10L, "https://e.example/1", "first page"))
    val g2 = Gzip.member(Warc.responseRecord(11L, "https://e.example/2", "second page"))
    val g3 = Gzip.member(Warc.responseRecord(12L, "https://e.example/3", "third page"))

    // (a) deflate corruption mid-member: flip bytes in g2's body
    val badBody = g2.clone()
    for (i <- 20 until math.min(badBody.length - 9, 40)) badBody(i) = 0x55
    val a = Warc.parseRecords(g1 ++ badBody ++ g3)
    assert(a.count(_._corrupt_record != null) >= 1)
    assert(a.exists(r => r._corrupt_record != null &&
                         r._corrupt_record.toLowerCase.contains("gzip")))
    assert(a.filter(_._corrupt_record == null).map(_.record_id) ==
           Seq("<urn:graft:10>", "<urn:graft:12>"))

    // (b) truncated final member: quarantines, doesn't throw or hang.
    // Depending on where the cut lands relative to deflate block
    // boundaries the record's bytes may still be fully recoverable
    // (only the trailer was lost) — either way the truncation is
    // FLAGGED and the earlier member is untouched.
    val b = Warc.parseRecords(g1 ++ g2.dropRight(12))
    assert(b.count(_._corrupt_record != null) >= 1)
    assert(b.filter(_._corrupt_record == null).map(_.record_id)
             .headOption.contains("<urn:graft:10>"))

    // (c) raw junk between members: marker row + resync onto g3's magic
    val junk = "some raw uncompressed junk".getBytes("ISO-8859-1")
    val c = Warc.parseRecords(g1 ++ junk ++ g3)
    assert(c.filter(_._corrupt_record == null).map(_.record_id) ==
           Seq("<urn:graft:10>", "<urn:graft:12>"))

    // (d) CRC-mismatch: flip a bit in g2's stored CRC32 (bytes -8..-5)
    val badCrc = g2.clone()
    badCrc(badCrc.length - 8) = (badCrc(badCrc.length - 8) ^ 0x01).toByte
    val d = Warc.parseRecords(g1 ++ badCrc ++ g3)
    assert(d.exists(r => r._corrupt_record != null &&
                         r._corrupt_record.contains("CRC32")))
    // the damaged member's bytes still parsed (damage only provable at
    // the trailer) — all three records present, plus the flag row
    assert(d.filter(_._corrupt_record == null).map(_.record_id) ==
           Seq("<urn:graft:10>", "<urn:graft:11>", "<urn:graft:12>"))

    // (e) corruption MID-PAYLOAD of a large member: the parser is
    // inside readFully when the member dies — the throw-based signal
    // must quarantine the damaged record (an in-band marker would be
    // silently swallowed AS payload bytes, emitting a corrupted
    // record with a clean _corrupt_record) and the next member must
    // survive. Content integrity: every GOOD record must carry its
    // exact original body.
    val rng = new scala.util.Random(7)
    val bigBody = Array.fill(30000)(('a' + rng.nextInt(26)).toChar).mkString
    val bigGz = Gzip.member(Warc.responseRecord(11L, "https://e.example/big", bigBody))
    assert(bigGz.length > 10000, s"fixture must not be trivially compressible: ${bigGz.length}")
    // DELETE bytes mid-member: the decompressed byte count desyncs
    // from Content-Length, so the parser is guaranteed to be inside
    // readFully when the member dies (a bit-flip can decode to the
    // original length and only fail at the trailer — that is case
    // (d)'s flag-after semantics, not this one)
    val cut = bigGz.length * 2 / 3
    val badMid = bigGz.take(cut) ++ bigGz.drop(cut + 50)
    val e = Warc.parseRecords(g1 ++ badMid ++ g3)
    assert(e.exists(_._corrupt_record != null))
    def httpBody(b: Array[Byte]): String = {
      val s = new String(b, "UTF-8"); val i = s.indexOf("\r\n\r\n")
      if (i < 0) s else s.substring(i + 4)
    }
    val goodBodies = e.filter(_._corrupt_record == null)
      .map(r => r.record_id -> httpBody(r.content)).toMap
    assert(goodBodies.keySet.subsetOf(
      Set("<urn:graft:10>", "<urn:graft:12>")), s"damaged record leaked as good: ${goodBodies.keySet}")
    assert(goodBodies("<urn:graft:10>") == "first page")
    assert(goodBodies("<urn:graft:12>") == "third page")
  }

  test("cdx sidecar: offsets land on member/record boundaries, point fetch == full scan, plain files too") {
    import graft.sources.Warc
    import spark.implicits._
    val pages = (0L until 20L)
      .map(i => (i, s"https://e.example/$i", s"<html>page body $i with some words</html>"))
      .toDF("doc_id", "url", "html")
    for (gz <- Seq(true, false)) {
      val dir = TestSpark.tempDir(s"graft_cdx_$gz").toString
      Warc.writeWarc(pages, dir, 3, gzip = gz, cdx = true)
      val cdx = Warc.readCdx(spark, dir).cache()
      assert(cdx.count() == 20) // one index row per data record, warcinfo excluded
      // every offset lands exactly on a gzip member magic (gz) or a
      // WARC/ version line (plain)
      cdx.select("file", "offset").as[(String, Long)].collect().foreach {
        case (f, off) =>
          val raf = new java.io.RandomAccessFile(new java.io.File(dir, f), "r")
          try {
            raf.seek(off)
            val b = new Array[Byte](5); raf.readFully(b)
            if (gz) assert((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b, s"$f@$off")
            else assert(new String(b, "ISO-8859-1") == "WARC/", s"$f@$off")
          } finally raf.close()
      }
      // point fetch of every row reproduces the full-scan content
      val fetched = Warc.fetchRecords(spark, dir, cdx).toDF()
        .where(col("_corrupt_record").isNull)
        .select(Warc.docIdCol(col("record_id")).as("doc_id"),
                Warc.httpBodyCol(col("content")).as("html"))
        .as[(Long, String)].collect().toSet
      assert(fetched == pages.select("doc_id", "html")
        .as[(Long, String)].collect().toSet, s"gz=$gz")
      // a hostile length quarantines instead of allocating
      val evil = Seq(("part-00000." + (if (gz) "warc.gz" else "warc"),
        999L, "u", 0L, Long.MaxValue))
        .toDF("file", "doc_id", "url", "offset", "length")
      val q = Warc.fetchRecords(spark, dir, evil).collect()
      assert(q.length == 1 && q.head._corrupt_record.contains("hostile length"))
      cdx.unpersist()
    }
  }

  test("wat round-trip: extractLinks → metadata records (JSON outlinks) → parsed back; linkless pages get empty lists") {
    import graft.sources.Warc
    import spark.implicits._
    val pages = Seq(
      (1L, "https://a.example/", """<html><a href="https://b.example/x">B page</a>""" +
        """<a href="https://c.example/y">C page</a></html>"""),
      (2L, "https://b.example/x", """<html><a href="https://a.example/">back home</a></html>"""),
      (3L, "https://c.example/y", "<html>no links at all</html>"))
      .toDF("doc_id", "url", "html")
    val links = graft.ops.Links.extractLinks(pages)
    val dir = TestSpark.tempDir("graft_wat_rt").toString
    Warc.writeWat(pages, links, dir, 2, gzip = true)
    assert(new java.io.File(dir).listFiles.exists(_.getName.endsWith(".wat.gz")))
    val back = Warc.readWat(spark, dir).cache()
    assert(back.count() == 3) // every page has a record, linkless included
    val got = back.select(col("doc_id"), explode(col("outlinks")).as("l"))
      .select(col("doc_id"), col("l.href"), col("l.anchor"))
      .as[(Long, String, String)].collect().toSet
    val want = links.as[(Long, String, String)].collect().toSet
    assert(got == want)
    assert(back.filter(col("doc_id") === 3L)
      .select(size(col("outlinks"))).as[Int].head() == 0)
  }

  // ------------------------------------------------------------------
  // Corpus refresh at rest (r15): only changed shards are re-emitted
  // ------------------------------------------------------------------

  test("refreshShards: untouched shards byte-identical, touched rewritten, emptied deleted, created appear, manifest patched") {
    import graft.sources.Formats
    import spark.implicits._
    def md5s(dir: String): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          f.getPath -> d.map("%02x".format(_)).mkString
        }.toMap
    }
    // corpus v1: 400 docs across shards 0..3 (span 100)
    val v1 = (0L until 400L).map(i => (i, s"doc $i body word")).toDF("doc_id", "text")
    val dir = TestSpark.tempDir("graft_refresh").toString
    Formats.writeShards(v1, dir, 100L)
    val before = md5s(s"$dir/shards")
    // delta: update one doc in shard 1, delete ALL of shard 3, insert doc 999 (new shard 9)
    val ch = Seq((150L, "U", "doc 150 rewritten body", 1L)) ++
      (300L until 400L).map(i => (i, "D", null.asInstanceOf[String], 1L)) ++
      Seq((999L, "U", "brand new doc", 1L))
    val manifest = Formats.refreshShards(dir, ch.toDF("doc_id", "op", "text", "seq"), 100L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val after = md5s(s"$dir/shards")
    // shards 0 and 2: same file paths, same bytes — never rewritten
    val untouched = before.keys.filter(p => p.contains("shard=0/") || p.contains("shard=2/"))
    assert(untouched.nonEmpty)
    untouched.foreach(p => assert(after.get(p).contains(before(p)), s"shard file rewritten: $p"))
    // shard 1 rewritten (no old file survives), shard 3 gone, shard 9 created
    before.keys.filter(_.contains("shard=1/")).foreach(p => assert(!after.contains(p)))
    assert(!after.keys.exists(_.contains("shard=3/")))
    assert(after.keys.exists(_.contains("shard=9/")))
    // manifest: patched rows + changed flags
    assert(manifest.keySet == Set(0L, 1L, 2L, 9L))
    assert(manifest(0L) == ((100L, 0L, 99L, false)))
    assert(manifest(2L) == ((100L, 200L, 299L, false)))
    assert(manifest(1L) == ((100L, 100L, 199L, true)))
    assert(manifest(9L) == ((1L, 999L, 999L, true)))
    // corpus content equals the straight CDC fold of v1
    val got = spark.read.parquet(s"$dir/shards")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(got.size == 301)
    assert(got(150L) == "doc 150 rewritten body")
    assert(got(999L) == "brand new doc")
    assert(!got.contains(350L) && got(42L) == "doc 42 body word")
    // idempotency: re-applying the same delta changes nothing on disk
    Formats.refreshShards(dir, ch.toDF("doc_id", "op", "text", "seq"), 100L)
    val again = spark.read.parquet(s"$dir/shards")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(again == got)
  }

  test("gz single-member whole-file: a .warc.gz compressed as ONE member parses identically") {
    import graft.sources.{Gzip, Warc}
    val plain = Warc.responseRecord(20L, "https://e.example/a", "alpha") ++
      Warc.responseRecord(21L, "https://e.example/b", "beta")
    val recs = Warc.parseRecords(Gzip.member(plain))
    assert(recs.size == 2 && recs.forall(_._corrupt_record == null))
    assert(recs.map(_.record_id) == Seq("<urn:graft:20>", "<urn:graft:21>"))
  }
}
