package graft

import java.io.File
import java.nio.file.{Files, Path}

/** The one place queries and tests put scratch files: fixture logs,
  * views, checkpoints, versioned tables, spec outputs.
  *
  * The first use creates one root under `java.io.tmpdir`, and a JVM
  * shutdown hook deletes it. [[dir]] returns a new empty directory on
  * every call, so no caller deletes first and no two queries or JVMs
  * share a path: each streaming query owns its output and checkpoint,
  * which exactly-once replay needs. A writer that needs a path that
  * does not exist yet appends a child name.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch_")
    sys.addShutdownHook(deleteTree(r.toFile))
    r
  }

  /** A new, empty directory under the root whose name contains `name`. */
  def dir(name: String): String =
    Files.createTempDirectory(root, name + "_").toString

  /** Delete `f` and everything under it; entries that cannot be
    * deleted are left in place (the exit hook must not throw).
    */
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}
