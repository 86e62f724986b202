package graft

import graft.Reachability.Root
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.jdk.CollectionConverters._

/** Every src/main declaration is reached from an entry point: a `main`,
  * [[GraftExtensions]], a `META-INF/services` provider, a member the
  * benchmark harness (`perfbench/`) calls, or a line of the keep-list
  * `src/test/resources/reachability-keep.txt` (`class#member  reason`).
  * Code that nothing reaches fails the suite, listed as `file:line`.
  */
class ReachabilitySpec extends AnyFunSuite {

  private def classesOf(c: Class[_]): File =
    new File(c.getProtectionDomain.getCodeSource.getLocation.toURI)

  private lazy val mainDir = classesOf(classOf[GraftExtensions])
  private lazy val main = Reachability.load(mainDir)

  /** The engine members `perfbench/src/main/scala` calls. */
  private val perfbench = Seq(
    "graft.IngestJob$#run", "graft.IngestJob$Args", "graft.IngestJob$Args$#apply",
    "graft.operators.Ingest$#parseLenient", "graft.operators.Ingest$#latestWins",
    "graft.operators.Ingest$#writeSnapshotJson", "graft.operators.Ingest$#msgSchema",
    "graft.streaming.StreamingIngest$#latestWinsUpdates",
    "graft.streaming.StreamingIngest$#parseKafkaShaped",
    "graft.streaming.StreamingIngest$KeyedRecord",
    "graft.SparkEntry$#registry", "graft.GQuery",
    "graft.QuietBox$#busyWindow", "graft.QuietBox$#Threshold",
  ).map(Root.parse)

  /** The keep-list: (line number, root, reason) per entry. */
  private lazy val keep: Seq[(Int, String, String)] = {
    val src = scala.io.Source.fromResource("reachability-keep.txt")
    try src.getLines().toList.zipWithIndex.collect {
      case (l, i) if l.trim.nonEmpty && !l.startsWith("#") =>
        val (entry, reason) = l.trim.span(!_.isWhitespace)
        (i + 1, entry, reason.trim)
    } finally src.close()
  }

  /** Every root but the keep-list. */
  private lazy val entryPoints = Reachability.mains(main) ++
    Seq(Root("graft.GraftExtensions", None)) ++ Reachability.services(mainDir) ++ perfbench

  private def walkWith(kept: Seq[String]) = Reachability.walk(main,
    entryPoints ++ kept.map(Root.parse), new File(SourceTree.root, "src/main/scala"))

  private lazy val result = walkWith(keep.map(_._2))

  test("the walker follows lambdas, codegen strings and trait overrides, and reports only what nothing reaches") {
    val fixtures = Reachability.load(classesOf(classOf[reachfixture.Shape]), "graft/reachfixture/")
    val r = Reachability.walk(fixtures, Reachability.mains(fixtures),
      new File(SourceTree.root, "src/test/scala"))
    for (m <- Seq("viaLambda", "viaCodegen")) assert(r.reached("graft.reachfixture.Helpers$", m), m)
    assert(r.reached("graft.reachfixture.Square$", "area"))
    assert(r.unreached.map(_.what) == Seq("graft.reachfixture.Helpers$.unreached"), r.unreached)
    assert(r.unreached.head.file == "src/test/scala/graft/reachfixture/Fixtures.scala", r.unreached)
  }

  test("every keep-list entry names a src/main member nothing else reaches, and gives a reason") {
    assert(keep.nonEmpty)
    val bad = keep.flatMap { case (line, entry, reason) =>
      val r = Root.parse(entry)
      val problem =
        if (reason.isEmpty) Some("no reason")
        else if (r.member.isEmpty) Some("names no member")
        else main.get(r.internal) match {
          case None => Some("no such class")
          case Some(c) if !c.methods.asScala.exists(m => r.member.contains(m.name)) => Some("no such member")
          case _ if walkWith(keep.map(_._2).filterNot(_ == entry)).reached(r.cls, r.member.get) =>
            Some("reached without this line; delete it")
          case _ => None
        }
      problem.map(p => s"reachability-keep.txt:$line $entry: $p")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the paper's job, the parse kernel's codegen call and the streaming path are reached") {
    assert(main.size > 300, s"loaded only ${main.size} classes from $mainDir")
    assert(result.reached("graft.functions.FlatJsonParse$", "parse"))
    assert(result.reached("graft.IngestJob$", "run"))
    assert(result.reached("graft.streaming.StreamingIngest$", "latestWinsUpdates"))
  }

  test("src/main has no declaration that no entry point reaches") {
    if (result.unreached.nonEmpty)
      fail(s"${result.unreached.size} src/main declarations are reached from no entry point. " +
        "Delete them, or add a `class#member  reason` line to " +
        s"src/test/resources/reachability-keep.txt:\n${result.unreached.mkString("\n")}")
  }
}
