package graft

import graft.operators.KafkaLogOps

import java.io.File
import java.nio.file.{Files, Paths}

/** The scratch-directory rule ([[Scratch]]): every call gets a new empty
  * directory under one per-JVM root, the root is gone once the JVM
  * exits, fixture logs are built once per scale-factor dir, and no other
  * source file makes a temp directory or names a fixed `/tmp` path.
  */
class ScratchSpec extends SparkSpec {

  test("two dirs with the same name are distinct, empty and under one root") {
    val a = new File(Scratch.dir("same"))
    val b = new File(Scratch.dir("same"))
    assert(a != b)
    for (d <- Seq(a, b)) {
      assert(d.isDirectory && d.list().isEmpty, d)
      assert(d.getName.contains("same"), d)
    }
    val root = a.getParentFile
    assert(b.getParentFile == root)
    assert(new File(Scratch.dir("other")).getParentFile == root)
    assert(root.toPath.getParent == Paths.get(System.getProperty("java.io.tmpdir")), root)
  }

  test("the exit hook's delete removes a populated tree") {
    val top = new File(Scratch.dir("tree"))
    Files.createDirectories(top.toPath.resolve("a/b"))
    Files.writeString(top.toPath.resolve("f"), "x")
    Files.writeString(top.toPath.resolve("a/b/g"), "y")
    Scratch.deleteTree(top)
    assert(!top.exists())
  }

  test("a JVM that used Scratch leaves nothing under its tmpdir after exit") {
    val tmpdir = Scratch.dir("probe_tmpdir")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, s"-Djava.io.tmpdir=$tmpdir",
        "-cp", System.getProperty("java.class.path"), "graft.ScratchExitProbe")
      .redirectErrorStream(true).start()
    val printed = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor() == 0, printed)
    assert(printed.startsWith(tmpdir), s"the probe's dir $printed is not under $tmpdir")
    assert(new File(tmpdir).list().isEmpty,
      s"left behind: ${new File(tmpdir).list().mkString(", ")}")
  }

  test("a fixture log is built once per scale-factor dir") {
    val (first, n) = KafkaLogOps.eventsLog(spark, sf)
    assert(KafkaLogOps.eventsLog(spark, sf) == (first, n))
    val otherSf = Scratch.dir("sf_copy")
    Files.copy(Paths.get(sf, "events.parquet"), Paths.get(otherSf, "events.parquet"))
    val (other, m) = KafkaLogOps.eventsLog(spark, otherSf)
    assert(other != first)
    assert(m == n)
  }

  test("no source file outside Scratch.scala makes a temp dir or names a fixed /tmp path") {
    val needles = Seq("createTemp" + "Directory(", "\"/" + "tmp")
    val hits = for {
      (p, text) <- SourceTree.files
      if !p.endsWith("/Scratch.scala")
      n <- needles if text.contains(n)
    } yield s"$p: $n"
    assert(SourceTree.files.size > 100, s"scanned only ${SourceTree.files.size} files")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

/** Run in a child JVM by [[ScratchSpec]]: takes one scratch dir, puts a
  * file in it, prints its path and exits.
  */
object ScratchExitProbe {
  def main(args: Array[String]): Unit = {
    val d = Scratch.dir("probe")
    Files.writeString(Paths.get(d, "f"), "x")
    println(d)
  }
}
