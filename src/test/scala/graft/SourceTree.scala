package graft

/** The project's Scala sources, for specs that pin a rule across the
  * whole tree (one session factory, one scratch-directory rule).
  */
object SourceTree {

  /** The first directory at or above the working directory that holds
    * `build.sbt` and `src/main`.
    */
  lazy val root: java.io.File =
    Iterator.iterate(new java.io.File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new java.io.File(d, "build.sbt").isFile &&
        new java.io.File(d, "src/main").isDirectory)
      .getOrElse(throw new IllegalStateException("no project root above the working directory"))

  /** Every `.scala` file under `src/main` and `src/test`: its
    * root-relative path and its text.
    */
  lazy val files: Seq[(String, String)] = Seq("src/main", "src/test").flatMap { d =>
    val walk = java.nio.file.Files.walk(new java.io.File(root, d).toPath)
    try walk.filter(_.toString.endsWith(".scala")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    finally walk.close()
  }.map(p => root.toPath.relativize(p).toString -> java.nio.file.Files.readString(p))
}
