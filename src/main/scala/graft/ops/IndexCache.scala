package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Shims

/** Content-keyed memo for per-corpus-dir derived artifacts (ANN
  * posting tables, near-dup band indexes, edge and cluster tables, PQ
  * codebooks, corpus sizes).
  *
  * Each `get` re-fingerprints the backing table (a recursive (path,
  * length, mtime) listing — file metadata only, no data scan) and
  * rebuilds iff it changed, so a library caller mutating a corpus
  * under the same path never reads a stale index. Entries are
  * REPLACED on change: the map stays at one entry per dir no matter
  * how long a tuning loop runs.
  *
  * An [[IndexCache.artifact]] cache is the only code that creates,
  * replaces or deletes its artifact dirs. Every build writes into a
  * fresh dir under `java.io.tmpdir`, and that dir is deleted
  *  - when the build throws;
  *  - when a changed fingerprint replaces the entry, once the new
  *    build has succeeded;
  *  - at JVM exit, for every dir still live.
  */
private[graft] final class IndexCache[V] private (
    name: String, table: String, prefix: Option[String],
    build: (SparkSession, String, String) => V) {
  private final case class Entry(fingerprint: String, out: Option[java.io.File], value: V)
  private val entries = new ConcurrentHashMap[String, Entry]
  IndexCache.live.put(name, () => entries.size)

  /** A cache that owns no files. */
  def this(name: String, table: String, build: (SparkSession, String) => V) =
    this(name, table, None, (s, d, _) => build(s, d))

  def get(spark: SparkSession, dir: String): V = {
    val k = IndexCache.fingerprint(spark, s"$dir/$table.parquet")
    var superseded: Option[java.io.File] = None
    val e = entries.compute(dir, (_, old) =>
      if (old != null && old.fingerprint == k) old
      else {
        val fresh = make(spark, dir, k)
        superseded = Option(old).flatMap(_.out)
        fresh
      })
    superseded.foreach(Shims.dropTempDir)
    e.value
  }

  private def make(spark: SparkSession, dir: String, k: String): Entry = {
    val out = prefix.map(Shims.tempDir)
    try Entry(k, out, build(spark, dir, out.map(_.toString).orNull))
    catch { case t: Throwable => out.foreach(Shims.dropTempDir); throw t }
  }
}

private[graft] object IndexCache {
  private[ops] val live = new ConcurrentHashMap[String, () => Int]

  /** Read-only view for lifecycle tests: cache name (an artifact
    * cache's dir prefix) -> live entry count, over every
    * [[IndexCache]] and [[PlanCache]]. */
  private[graft] def liveEntries: Map[String, Int] =
    live.asScala.map { case (n, count) => n -> count() }.toMap

  /** A cache whose every build gets its own fresh artifact dir `out`,
    * named `prefix-<uuid>`; see the class doc for when it is deleted.
    * `build(spark, dir, out)` writes under `out` and returns the
    * value consumers read it through. */
  private[graft] def artifact[V](table: String, prefix: String)
      (build: (SparkSession, String, String) => V): IndexCache[V] =
    new IndexCache[V](prefix, table, Some(prefix), build)

  /** Content-keyed MATERIALIZED parquet table: `build`'s DataFrame
    * written once per corpus fingerprint, consumed as a plain parquet
    * scan of the returned path. */
  private[graft] def materializedParquet(table: String, prefix: String)
      (build: (SparkSession, String) => DataFrame): IndexCache[String] =
    artifact(table, prefix) { (s, d, out) =>
      build(s, d).write.parquet(s"$out/data.parquet"); s"$out/data.parquet"
    }

  /** Cheap content fingerprint of a file or directory tree. */
  private[graft] def fingerprint(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[String] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.toString).toSeq.flatMap(walk)
      else Seq(s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
    walk(fs.getFileStatus(p)).mkString("\n")
  }
}

/** Semantics-keyed LRU of PERSISTED derived DataFrames for facade
  * entry points whose input is an arbitrary DataFrame (no backing dir
  * to fingerprint — [[IndexCache]] can't key it). The r11 verdict
  * flagged the predecessor pattern (persist() inside the operator, no
  * unpersist, caller-trusted clearCache): a long-lived session
  * composing many distinct inputs leaked one cache entry per input.
  *
  * Contract:
  *  - keyed by Spark's analyzed-plan semantics (`sameSemantics`), so
  *    the same logical input — even rebuilt via an identical chain —
  *    reuses one entry; a REPEATED get never adds an entry;
  *  - bounded at `maxEntries` live persists: eviction UNPERSISTS the
  *    least-recently-used entry (its returned handles stay correct —
  *    they just recompute);
  *  - an entry whose blocks were dropped externally (a caller's
  *    clearCache between queries — the Bench/Verify discipline) is
  *    re-persisted on the next get instead of silently running
  *    uncached forever. */
private[graft] final class PlanCache(name: String, maxEntries: Int = 4) {
  private case class Entry(input: DataFrame, out: DataFrame)
  private var entries = List.empty[Entry]
  IndexCache.live.put(name, () => synchronized {
    entries.count(_.out.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  })

  def get(input: DataFrame)(build: DataFrame => DataFrame): DataFrame = synchronized {
    entries.find(_.input.sameSemantics(input)) match {
      case Some(e) =>
        entries = e :: entries.filterNot(_ eq e)
        if (e.out.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          e.out.persist()
        e.out
      case None =>
        val out = build(input).persist()
        entries = Entry(input, out) :: entries
        entries.drop(maxEntries).foreach(_.out.unpersist(blocking = false))
        entries = entries.take(maxEntries)
        out
    }
  }
}
