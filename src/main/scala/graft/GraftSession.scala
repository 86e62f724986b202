package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main and the test session
  * are built here, so they share one set of defaults and one function
  * table ([[GraftExtensions.functions]], installed through
  * `withExtensions`; the optimizer rules are not installed, see
  * [[GraftExtensions]]).
  *
  * Environment, read only here:
  *  - `SPARK_GRAFT_CPUS`: local worker threads (default: the JVM's
  *    available processors); also the shuffle partition count;
  *  - `SPARK_GRAFT_PARTS`: shuffle partitions, when they should follow
  *    the data rather than the cores (per-partition sort memory binds
  *    the large scale legs);
  *  - `SPARK_MASTER`: a deployment master, replacing `local[cores]`.
  */
object GraftSession {

  def defaultCores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session's confs: the shared defaults, then `extra` on top. */
  def confs(cores: Int = defaultCores(), aqe: Boolean = true,
      extra: Map[String, String] = Map.empty,
      env: Map[String, String] = sys.env): Map[String, String] = Map(
    "spark.master" -> env.getOrElse("SPARK_MASTER", s"local[$cores]"),
    "spark.sql.shuffle.partitions" -> env.getOrElse("SPARK_GRAFT_PARTS", cores.toString),
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // HotSpot never JIT-compiles methods over 8000 bytecodes, but
    // Spark's default hugeMethodLimit (65535) keeps whole-stage
    // codegen active up to the class-file limit — so a generated
    // method in (8000, 65535] runs as INTERPRETED BYTECODE forever.
    // The wide-literal SRP keying stages live exactly there —
    // measured in SCALE.md "Round-16: the hugeMethodLimit evidence"
    // (KeyDump table: 47-58 KB bytecode methods at planes 12-13,
    // kernel 3.8-4.9× the 8000-setting wall on the same input;
    // whole-query sim_ann_lsh_scaled warm 2.36× at sf1). 8000
    // re-aligns Spark's gate with the JVM's, as the conf's own doc
    // suggests; PlanLint.neverJitStages + JitLimitGateSpec keep the
    // window from silently re-opening.
    "spark.sql.codegen.hugeMethodLimit" -> "8000") ++ extra

  def apply(appName: String = "graft", cores: Int = defaultCores(), aqe: Boolean = true,
      extra: Map[String, String] = Map.empty): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .config(confs(cores, aqe, extra))
      .withExtensions(GraftExtensions.injectFunctions)
      .getOrCreate()
}
