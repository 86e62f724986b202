package graft

import org.scalatest.funsuite.AnyFunSuite

/** The settable values of src/main: every environment variable and
  * system property it reads by name. Adding one means adding it here.
  */
class KnobSpec extends AnyFunSuite {

  private val Knobs = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_PARTS",
    "SPARK_MASTER", "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_BENCH_DETAIL",
    "SPARK_GRAFT_BENCH_LINE", "graft.versioned.grace.ms")

  // `sys.env`, `sys.props`, GraftSession's `env` map, or the JDK's
  // getenv/getProperty, keyed by a string literal
  private val NamedRead = ("""(?:sys\.env|sys\.props|\benv|System\.getenv|System\.getProperty)""" +
    """(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]+)"""").r

  test("src/main reads exactly the pinned environment and system-property names") {
    val main = SourceTree.files.filter(_._1.startsWith("src/main/"))
    val read = main.flatMap { case (_, text) =>
      NamedRead.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(main.size > 80, s"scanned only ${main.size} files")
    assert(read == Knobs, s"read but not pinned: ${read -- Knobs}; pinned but not read: ${Knobs -- read}")
  }
}
