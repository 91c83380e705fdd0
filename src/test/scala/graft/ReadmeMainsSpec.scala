package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.*` class a README `runMain` line names loads and has a
  * `main`, so deleting a tool cannot leave the README pointing at
  * nothing. */
class ReadmeMainsSpec extends AnyFunSuite {
  test("README runMain lines name loadable mains") {
    val readme = Paths.get("README.md")
    assert(Files.exists(readme), s"no README.md in ${Paths.get("").toAbsolutePath}")
    val RunMain = """runMain\s+(graft\.[\w.]+)""".r
    val mains = Files.readAllLines(readme, StandardCharsets.UTF_8).asScala
      .flatMap(l => RunMain.findAllMatchIn(l).map(_.group(1))).distinct
    assert(mains.size >= 4, mains)
    mains.foreach { cls =>
      val m = Class.forName(cls).getMethod("main", classOf[Array[String]])
      assert(java.lang.reflect.Modifier.isStatic(m.getModifiers), cls)
    }
  }
}
