package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Each concern has one owner in main code: [[Sessions]] builds every
  * `SparkSession`, [[Scratch]] creates every temp dir and registers the
  * only shutdown hook.
  */
class SingleOwnerSpec extends AnyFunSuite with Matchers {
  private val mainRoot = Paths.get("src/main/scala")

  private def filesMentioning(token: String): Set[String] = {
    require(Files.isDirectory(mainRoot), s"$mainRoot not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    sources.filter((p: Path) =>
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).contains(token))
      .map(p => mainRoot.relativize(p).toString).toSet
  }

  test("SparkSession.builder appears only in Sessions.scala") {
    filesMentioning("SparkSession.builder") shouldBe Set("graft/Sessions.scala")
  }

  test("createTempDirectory and addShutdownHook appear only in Scratch.scala") {
    filesMentioning("createTempDirectory") shouldBe Set("graft/Scratch.scala")
    filesMentioning("addShutdownHook") shouldBe Set("graft/Scratch.scala")
  }
}
