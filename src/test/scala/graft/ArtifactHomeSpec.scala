package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** In `graft.ops` only [[graft.ops.IndexCache]] makes temp dirs, so
  * every derived artifact dir lives under its one lifetime rule. */
class ArtifactHomeSpec extends AnyFunSuite {
  test("graft.ops creates temp dirs only inside IndexCache") {
    val ops = Paths.get("src/main/scala/graft/ops")
    assert(Files.isDirectory(ops), s"no $ops in ${Paths.get("").toAbsolutePath}")
    val offenders = Files.walk(ops).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "IndexCache.scala")
      .flatMap { p =>
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("createTempDir") => s"$p:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("temp dirs made outside IndexCache:\n", "\n", ""))
  }
}
