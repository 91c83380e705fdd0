package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** In `graft.ops` only [[graft.ops.IndexCache]] makes temp dirs, so
  * every derived artifact dir lives under its one lifetime rule; test
  * code makes them only through [[TestSpark.tempDir]], which deletes
  * them at JVM exit. */
class ArtifactHomeSpec extends AnyFunSuite {
  /** Lines of the .scala files under `dir`, other than `home`, that contain `call`. */
  private def offenders(dir: String, home: String, call: String): Seq[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"no $root in ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !Set(home, "ArtifactHomeSpec.scala").contains(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.zipWithIndex.collect {
          case (l, i) if l.contains(call) => s"$p:${i + 1}"
        }
      }.toSeq
  }

  test("graft.ops creates temp dirs only inside IndexCache") {
    val o = offenders("src/main/scala/graft/ops", "IndexCache.scala", "createTempDir")
    assert(o.isEmpty, o.mkString("temp dirs made outside IndexCache:\n", "\n", ""))
  }

  test("test code creates temp dirs only through TestSpark.tempDir") {
    val o = offenders("src/test/scala", "TestSpark.scala", "createTempDir")
    assert(o.isEmpty, o.mkString("temp dirs made outside TestSpark.tempDir:\n", "\n", ""))
  }
}
