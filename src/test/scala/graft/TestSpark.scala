package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** A fresh dir `prefix-<uuid>` under `java.io.tmpdir`, deleted at JVM
    * exit: the one way test code makes a temp dir (ArtifactHomeSpec). */
  def tempDir(prefix: String): java.nio.file.Path =
    org.apache.spark.sql.graft.Shims.tempDir(prefix).toPath
}
