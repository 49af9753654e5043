package graft

import java.nio.file.{Files, Paths}
import org.scalatest.matchers.should.Matchers

/** Every main-code temp dir lives under the one per-JVM [[Scratch.root]]:
  * queries that write scratch output leave nothing else behind directly
  * under `java.io.tmpdir`, so the JVM's shutdown hook can remove it all.
  */
class ScratchSpec extends SparkSuite with Matchers {
  private def graftTmpEntries(): Set[String] = {
    val names = new java.io.File(System.getProperty("java.io.tmpdir")).list()
    Option(names).map(_.toSet).getOrElse(Set.empty[String])
      .filter(n => n.startsWith("graft-") || n.startsWith("dd-"))
  }

  test("io round-trips add no graft-*/dd-* entry under java.io.tmpdir but the scratch root") {
    val dir = sf("sf0.001")
    val before = graftTmpEntries()
    for (name <- Seq("io_orc_roundtrip", "io_jsonl_roundtrip",
        "io_csv_roundtrip", "io_jdbc_roundtrip"))
      SparkEntry.queries(name)(spark, dir).collect() should not be empty
    val added = graftTmpEntries() -- before - Scratch.root.getFileName.toString
    added shouldBe empty
  }

  test("Scratch.dir paths sit under the scratch root; rmTree removes them") {
    val d = Paths.get(Scratch.dir("graft-scratch-spec"))
    d.getParent shouldBe Scratch.root
    Files.isDirectory(d) shouldBe true
    Files.write(d.resolve("f.txt"), Array[Byte](1))
    Files.createDirectories(d.resolve("sub/deeper"))
    Scratch.rmTree(d.toString)
    Files.exists(d) shouldBe false
    Scratch.rmTree(d.toString) // a missing path is a no-op
  }
}
