package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The engine's one session factory and its one session scope.
  *
  * Every main and the test session are built here, so they share one
  * set of defaults and one function table ([[GraftExtensions.functions]],
  * installed through `withExtensions`; the optimizer rules are not
  * installed, see [[GraftExtensions]]).
  *
  * Every query-time change to a session, a conf or an optimizer rule,
  * goes through [[scoped]] (or [[pinned]], which also fixes a frame's
  * plan inside the scope), so each change is restored the same way;
  * `GraftSessionSpec` fails on a hand-written one in src/main. Two
  * changes are not query-time and stay put: `Tables` sets the parquet
  * nanos reader conf for the session's life, and `BandJoin` installs
  * its strategy once, since its node can be planned at any later
  * execution.
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

  /** Set `confs` and append each of `rules` not already installed in
    * the optimizer's extra rules, run `body`, then restore both, also
    * when `body` throws: a conf that had an explicit value gets it
    * back, a conf that was only a default is unset again, and only the
    * rules this scope appended are removed.
    *
    * Runs under the session's lock, so scopes on one session never
    * interleave. A query on another thread that does not take the lock
    * still reads the scoped values while the scope is open.
    */
  def scoped[A](s: SparkSession, confs: Map[String, String] = Map.empty,
      rules: Seq[Rule[LogicalPlan]] = Nil)(body: => A): A = s.synchronized {
    val explicit = s.conf.getAll // explicit settings only, not defaults
    val prev = confs.keys.map(k => k -> explicit.get(k))
    val added = rules.filterNot(s.experimental.extraOptimizations.contains)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s.experimental.extraOptimizations ++= added
    try body
    finally {
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(r => added.exists(_ eq r))
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  /** [[scoped]] around `build`, with the built frame's `executedPlan`
    * forced inside the scope. A Dataset keeps its first QueryExecution,
    * so the frame runs later (after the confs and rules are restored)
    * with the plan they produced.
    */
  def pinned(s: SparkSession, confs: Map[String, String] = Map.empty,
      rules: Seq[Rule[LogicalPlan]] = Nil)(build: => DataFrame): DataFrame =
    scoped(s, confs, rules) { val df = build; df.queryExecution.executedPlan; df }
}
