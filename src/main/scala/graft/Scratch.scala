package graft

import java.io.File
import java.nio.file.{Files, Path}

/** The one owner of local scratch directories: stream sinks and
  * checkpoints, write-once index and intermediate dirs, round-trip and
  * staging outputs.
  *
  * Every dir lives under ONE per-JVM root below `java.io.tmpdir`, created
  * on first use; one shutdown hook deletes the whole tree. A query often
  * returns `spark.read.parquet(dir)`, which keeps the dir live until the
  * caller consumes the result, so deletion waits for JVM exit rather than
  * query end. A crashed JVM skips the hook and strands its root; the next
  * JVM never reuses it, so staleness costs disk, not correctness.
  */
object Scratch {
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(r.toString)))
    r
  }

  /** A fresh, empty directory under [[root]] whose name starts with `prefix`. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  /** Delete `path` and everything below it; a missing path is a no-op.
    * Symbolic links are removed, never followed.
    */
  def rmTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (!Files.isSymbolicLink(f.toPath)) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
      }
      f.delete()
    }
    rm(new File(path))
  }
}
