package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Deduplicate, GlobalLimit, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, GlobalLimitExec, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.types.ArrayType

/** Mechanical plan-quality audit over the ENTIRE query registry: builds
  * every registered query's physical plan and scans it for scale
  * anti-patterns, so "the plans survive a 100× audit" is a reproducible
  * command instead of a hand-review claim.
  *
  *   sbt "runMain graft.PlanLint"            # sf0.001 (plan shape only)
  *
  * Hard failures (exit 2):
  *  - CartesianProduct — an unkeyed all-pairs join is never acceptable;
  *    every intended pair scan in this engine is bucketed/banded/blocked.
  *
  * Reported AND pinned (each instance in this registry is deliberate and
  * its justification lives at the query's definition; the full name lists
  * are committed fixtures under `src/test/resources/planlint/` that
  * `PlanLintFixturesSpec` asserts byte-for-byte, so a NEW instance fails
  * `sbt test` instead of hiding in a review diff):
  *  - BroadcastNestedLoopJoin: legitimate when one side is a 1-row
  *    aggregate (grand totals, test statistics) or a tiny bounded band
  *    list.
  *  - single-partition exchanges (global sorts excluded): usually an
  *    empty-partition window; legitimate only on provably small inputs.
  *  - array-typed columns crossing a shuffle exchange: each byte of a
  *    carried array moves per row, so at 100 TB these exchanges dominate
  *    unless the array IS the payload (signatures, collected lists).
  *  - explicit `broadcast()` hints over an un-aggregated corpus-growing
  *    table (events/documents/embeddings/lineitem/orders): the r13
  *    `emb_hard_negatives` defect class — a full-corpus broadcast is the
  *    driver-memory bottleneck at exactly the scale the engine targets.
  *    Detected on the analyzed LOGICAL plan so the audit SF can neither
  *    mask nor fake it; legitimate when an Aggregate/GlobalLimit bounds
  *    the hinted subtree, or deliberate for small-SF witness forms
  *    (pinned by name like the other lists).
  *  - SIZE-based broadcasts of an exploded, array-carrying fact subtree
  *    (PHYSICAL plan — the r15 class): the optimizer's estimate ignores
  *    the Generate multiplier and the array payload, so the 10 MB
  *    threshold admits sides that materialize 20× larger (the sf1
  *    `emb_hard_negatives` cliff). Production forms carry a `merge`
  *    hint; the small-SF witness forms are pinned by name.
  *
  * Hard failure (exit 4) — codegen_failures: every `WholeStageCodegenExec`
  * stage in every registered plan has its generated Java source compiled
  * here with janino (`CodeGenerator.compile`), the same call
  * `WholeStageCodegenExec.doExecute` makes — except a failure is FATAL
  * instead of a silent interpreted fallback. Added after the r9
  * `SimHash32` incident, where a bad static-call emission de-codegen'd
  * its whole stage and only a WARN line in a 10-minute test log knew.
  * The lint session runs with AQE OFF so the executed plan carries its
  * `WholeStageCodegenExec` wrappers up front (under AQE they only
  * appear at stage creation mid-execution, hiding every stage from a
  * static sweep); the initial plan shapes are the same ones AQE starts
  * from, so the join/exchange lint is unchanged in substance. Codegen
  * of a broadcast-join stage executes its tiny sf0.001 build side —
  * that cost is the price of compiling what would really run.
  *
  * Streaming differentials are skipped: their `run` EXECUTES the stream
  * (their plan story is in PLANS.md / the streaming specs), and iterative
  * graph queries execute driver rounds at plan-build time — lint runs at
  * sf0.001 where that costs seconds. Plan SHAPE (the join/exchange/scan
  * tree) is what this audit checks, and that is scale-factor-independent;
  * size-driven strategy choices (broadcast vs SMJ) are pinned by the
  * dedicated plan tests at realistic sizes instead.
  */
object PlanLint {

  /** True iff any shuffle exchange anywhere in the plan — INCLUDING
    * inside `AdaptiveSparkPlanExec` subplans and materialized
    * `QueryStageExec` leaves, which `TreeNode.collect` does not descend
    * into — carries an array-typed column. The shared detector behind
    * the lint's wide-shuffle list and the `narrow_shuffles` plan
    * assertion baked into the binary-ANN query's hash-checked output
    * (SimilarityOps.shufflesAreArrayFree): one traversal, so the audit
    * is robust to the session's AQE setting AND to when it runs — once
    * a query starts executing under AQE, its shuffles are wrapped in
    * `ShuffleQueryStageExec` leaf nodes (the r13 advisor finding: the
    * pre-r14 detector silently returned false on already-materialized
    * plans).
    */
  def anyWideShuffle(p: SparkPlan): Boolean = p.collect {
    case s: ShuffleExchangeLike =>
      s.output.exists(_.dataType.isInstanceOf[ArrayType])
    case a: AdaptiveSparkPlanExec => anyWideShuffle(a.executedPlan)
    case q: QueryStageExec => anyWideShuffle(q.plan)
  }.exists(identity)

  /** True iff the PHYSICAL plan broadcasts a subtree that explodes a
    * corpus-growing table and carries an array column in the broadcast
    * output — the ESTIMATE-BLIND corpus-broadcast class (r15): Spark's
    * size estimate ignores both the Generate multiplier and the array
    * payload, so the 10 MB auto-broadcast threshold admits a side that
    * materializes at 200+ MB (the sf1 `emb_hard_negatives` cliff: a
    * 218 MB broadcast of the SRP-keyed corpus, 9× wall inflation vs
    * the sort-merge plan at the same SF). [[broadcastsFactTable]]
    * catches HINTED corpus broadcasts on the analyzed plan; this class
    * is a SIZE-BASED optimizer decision, so it only exists physically.
    * Production SRP forms avoid it with a `merge` hint; the deliberate
    * small-SF witness forms are pinned by name in the
    * `broadcast_exploded` fixture like every other list.
    */
  def broadcastsExplodedFact(p: SparkPlan): Boolean = {
    def scansFact(f: FileSourceScanExec): Boolean =
      f.relation.location.rootPaths.exists(rp =>
        FactTables.exists(t => rp.toString.contains(s"$t.parquet")))
    // Path-bounded like [[broadcastsFactTable]]: a limit or aggregate
    // BETWEEN the broadcast and the fact scan caps the payload's row
    // count, so the estimate's blindness to the explode multiplier no
    // longer matters (e.g. emb_pq_codes' 32-row seed table — a
    // Generate over a limit(4) of the corpus).
    def unboundedExplodedFact(sub: SparkPlan, sawGen: Boolean): Boolean =
      sub match {
        case _: GlobalLimitExec | _: LocalLimitExec |
             _: TakeOrderedAndProjectExec => false
        case _: BaseAggregateExec => false
        case g: GenerateExec =>
          g.children.exists(c => unboundedExplodedFact(c, sawGen = true))
        case f: FileSourceScanExec => sawGen && scansFact(f)
        case a: AdaptiveSparkPlanExec =>
          unboundedExplodedFact(a.executedPlan, sawGen)
        case q: QueryStageExec => unboundedExplodedFact(q.plan, sawGen)
        case other => other.children.exists(c => unboundedExplodedFact(c, sawGen))
      }
    p.collect {
      case b: BroadcastExchangeLike =>
        b.output.exists(_.dataType.isInstanceOf[ArrayType]) &&
          unboundedExplodedFact(b.child, sawGen = false)
      case a: AdaptiveSparkPlanExec => broadcastsExplodedFact(a.executedPlan)
      case q: QueryStageExec => broadcastsExplodedFact(q.plan)
    }.exists(identity)
  }

  /** HotSpot's -XX:HugeMethodLimit: methods over this many BYTECODES
    * are never JIT-compiled (not tunable in product JVMs).
    */
  val JitBytecodeLimit = 8000

  /** Codegen stages of `df` that would execute as whole-stage codegen
    * whose largest generated method exceeds HotSpot's JIT ceiling —
    * i.e. bytecode the JVM interprets FOREVER. The window exists
    * because Spark's own gate (`spark.sql.codegen.hugeMethodLimit`,
    * default 65535) only deactivates WSCG above the SESSION limit: a
    * method in (8000, sessionLimit] stays codegen'd and never JITs.
    * The wide-literal SRP keying stages live exactly there under
    * Spark's default — 47-58 KB bytecode methods, kernel 3.8-4.9× wall
    * (SCALE.md "Round-16: the hugeMethodLimit evidence") — which is
    * why every
    * graft entry point pins the session limit to 8000, making Spark
    * fall back to non-WSCG execution (whose per-expression codegen
    * splits into small, JIT-able methods) for any such stage. This
    * lint detects the window RE-OPENING: a future entry point that
    * forgets the pin, or a conf bump, turns a wide generated stage
    * back into interpreted bytecode with no visible signal — exactly
    * the cliff class `JitLimitGateSpec` pins red/green. Returns
    * (stageLabel, maxMethodBytecodes) for each offending stage; empty
    * under a correctly-pinned session. Compiles with janino (same call
    * as `WholeStageCodegenExec.doExecute`), so it costs real compile
    * time — a targeted gate, not part of the per-query registry sweep.
    */
  def neverJitStages(df: org.apache.spark.sql.DataFrame): Seq[(String, Int)] = {
    val hml = df.sparkSession.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
    def stages(p: SparkPlan): Seq[WholeStageCodegenExec] = p.collect {
      case w: WholeStageCodegenExec => Seq(w)
      case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
      case q: QueryStageExec => stages(q.plan)
    }.flatten
    stages(df.queryExecution.executedPlan).flatMap { w =>
      // A janino compile FAILURE (a method past janino's 64 KB limit —
      // the documented normal mode for SRP keying at 14:20+ widths) is
      // Spark's safe interpreted-expression fallback, not a never-JIT
      // stage: at runtime WholeStageCodegenExec catches the same
      // failure and executes the child plan's per-expression codegen
      // (small, JIT-able methods). Propagating it made the lint throw
      // on exactly the wide production plans it exists to audit (r16
      // advisor), contradicting its "empty under a correctly-pinned
      // session" contract.
      val size =
        try {
          val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
          Some(stats.maxMethodCodeSize)
        } catch {
          // ONLY the janino compile-failure types are tolerated (r17
          // advisor narrowed this from `case _: Exception`): any other
          // exception — a codegen regression emitting invalid Java
          // surfaces as a different type — must propagate, not silently
          // vanish from the audit.
          case e: Exception if isJaninoCompileFailure(e) => None
        }
      size.flatMap { sz =>
        if (sz > JitBytecodeLimit && sz <= hml)
          Some((s"codegenStage${w.codegenStageId}:${w.child.nodeName}", sz))
        else None
      }
    }
  }

  /** True iff `t` (or anything on its causal chain — Spark and Guava's
    * compile cache both wrap) is one of janino's compile-failure types:
    * `CompileException` (source-level refusal, e.g. "Code ... grows
    * beyond 64 KB" — the documented normal mode for SRP keying at
    * 14:20+ widths) or `InternalCompilerException` (janino's internal
    * limit/assertion class). Matched by class NAME so the lint has no
    * compile-time dependency on janino's package layout across Spark's
    * janino upgrades (relocations keep the simple names).
    */
  private[graft] def isJaninoCompileFailure(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 16) {
      val n = c.getClass.getName
      if (n.endsWith(".CompileException") || n.endsWith(".InternalCompilerException"))
        return true
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Corpus-growing tables: broadcasting one of these un-aggregated is
    * a driver-memory bottleneck at exactly the scale the engine
    * targets. Dims (region/nation/customer/supplier/part) stay
    * broadcast-size by design; these grow with the corpus.
    */
  private val FactTables =
    Seq("events", "documents", "embeddings", "lineitem", "orders")

  /** True iff the ANALYZED plan carries an explicit `broadcast()` hint
    * whose subtree scans a corpus-growing table with no intervening
    * aggregate or limit — the r13 `emb_hard_negatives` defect class
    * (full-corpus broadcast join-backs), found by hand that round and
    * mechanized here. Hint detection runs on the analyzed LOGICAL plan,
    * not the physical one, so size-based auto-broadcasts (legitimate —
    * AQE re-decides them per size at run time) never false-positive and
    * the tiny audit SF can't MASK a hinted broadcast by auto-planning
    * it anyway (the r13 advisor's `sim_ann_lsh_scaled` finding). An
    * Aggregate, Deduplicate (`.distinct()` is still Deduplicate at
    * analysis time — the optimizer rewrite to Aggregate hasn't run),
    * or GlobalLimit ON THE PATH between the hint and the scan bounds
    * the broadcast payload (grand totals, key dimensions, probe sets)
    * and exempts it. Path-sensitive by the r14 advisor's finding: the
    * first cut exempted a hint if a bounding operator appeared ANYWHERE
    * in the hinted subtree, so `broadcast(fact.join(dimAgg))` passed
    * silently — the dim branch's aggregate bounds nothing about the
    * un-aggregated fact rows that actually get broadcast.
    */
  def broadcastsFactTable(analyzed: LogicalPlan): Boolean =
    analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        unboundedFactReach(h.child)
    }.exists(identity)

  /** A fact-table scan reachable from `p` with no bounding operator on
    * ITS path — descent stops at Aggregate/Deduplicate/GlobalLimit, so
    * only the branch feeding unbounded fact rows into the broadcast
    * payload counts.
    */
  private def unboundedFactReach(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Deduplicate | _: GlobalLimit => false
    case l: LogicalRelation => scansFact(l)
    case other => other.children.exists(unboundedFactReach)
  }

  private def scansFact(l: LogicalRelation): Boolean = l.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.exists(p =>
      FactTables.exists(t => p.toString.contains(s"$t.parquet")))
    case _ => false
  }

  /** One registry sweep's findings; name lists are sorted. */
  case class LintReport(
      checked: Int,
      cartesian: List[String],
      bnlj: List[String],
      singlePart: List[String],
      wideShuffle: List[String],
      broadcastFact: List[String],
      broadcastExploded: List[String],
      errors: List[(String, String)],
      codegenFail: List[(String, String)],
      stagesCompiled: Int)

  /** Build every non-streaming registered plan and scan it. The name
    * lists this returns are the contract `PlanLintFixturesSpec` pins;
    * `compileCodegen` additionally janino-compiles every codegen stage
    * (minutes — the main does, the fixtures spec doesn't).
    */
  def audit(spark: SparkSession, sfDir: String,
      compileCodegen: Boolean): LintReport = {
    val skip = (n: String) => n.startsWith("streaming_")
    var cartesian = List.empty[String]
    var bnlj = List.empty[String]
    var singlePart = List.empty[String]
    var wideShuffle = List.empty[String]
    var broadcastFact = List.empty[String]
    var broadcastExploded = List.empty[String]
    var errors = List.empty[(String, String)]
    var codegenFail = List.empty[(String, String)]
    var checked = 0
    var stagesCompiled = 0
    SparkEntry.registry.filterNot(q => skip(q.name)).foreach { q =>
      try {
        val qe = q.run(spark, sfDir).queryExecution
        val exec = qe.executedPlan
        val plan = exec.toString
        checked += 1
        if (anyWideShuffle(exec)) wideShuffle ::= q.name
        if (broadcastsFactTable(qe.analyzed)) broadcastFact ::= q.name
        if (broadcastsExplodedFact(exec)) broadcastExploded ::= q.name
        if (compileCodegen) {
          exec.collect { case w: WholeStageCodegenExec => w }.foreach { w =>
            try {
              CodeGenerator.compile(w.doCodeGen()._2)
              stagesCompiled += 1
            } catch {
              case e: Throwable =>
                codegenFail ::= (q.name, e.getMessage.linesIterator
                  .find(_.contains("No applicable")).getOrElse(e.toString).take(160))
            }
          }
        }
        if (plan.contains("CartesianProduct")) cartesian ::= q.name
        if (plan.contains("BroadcastNestedLoopJoin")) bnlj ::= q.name
        // SinglePartition exchanges that are NOT the final presentation
        // sort (rangepartitioning handles ORDER BY)
        if (plan.contains("Exchange SinglePartition")) singlePart ::= q.name
      } catch {
        case e: Throwable => errors ::= (q.name, e.toString.take(120))
      }
    }
    LintReport(checked, cartesian.sorted, bnlj.sorted, singlePart.sorted,
      wideShuffle.sorted, broadcastFact.sorted, broadcastExploded.sorted,
      errors.reverse, codegenFail.reverse, stagesCompiled)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession(aqe = false)
    spark.sparkContext.setLogLevel("ERROR")

    val r = audit(spark, sfDir, compileCodegen = true)
    println(s"[planlint] checked=${r.checked} " +
      s"cartesian=${r.cartesian.size} bnlj=${r.bnlj.size} " +
      s"single_partition=${r.singlePart.size} " +
      s"wide_shuffles=${r.wideShuffle.size} " +
      s"broadcast_fact=${r.broadcastFact.size} " +
      s"broadcast_exploded=${r.broadcastExploded.size} errors=${r.errors.size} " +
      s"codegen_stages=${r.stagesCompiled} codegen_failures=${r.codegenFail.size}")
    if (r.bnlj.nonEmpty)
      println(s"[planlint] bnlj (deliberate 1-row/band broadcasts): " +
        r.bnlj.mkString(", "))
    if (r.singlePart.nonEmpty)
      println(s"[planlint] single-partition exchanges: " +
        r.singlePart.mkString(", "))
    if (r.wideShuffle.nonEmpty)
      println(s"[planlint] array-typed columns through a shuffle: " +
        r.wideShuffle.mkString(", "))
    if (r.broadcastFact.nonEmpty)
      println(s"[planlint] hinted broadcasts of un-aggregated fact tables: " +
        r.broadcastFact.mkString(", "))
    if (r.broadcastExploded.nonEmpty)
      println(s"[planlint] estimate-blind broadcasts of exploded fact arrays: " +
        r.broadcastExploded.mkString(", "))
    r.errors.foreach { case (n, e) => println(s"[planlint] ERROR $n: $e") }
    if (r.cartesian.nonEmpty) {
      println(s"[planlint] FATAL cartesian products: ${r.cartesian.mkString(", ")}")
      spark.stop(); sys.exit(2)
    }
    if (r.errors.nonEmpty) { spark.stop(); sys.exit(3) }
    if (r.codegenFail.nonEmpty) {
      r.codegenFail.foreach { case (n, e) =>
        println(s"[planlint] FATAL codegen failure in $n: $e")
      }
      spark.stop(); sys.exit(4)
    }
    spark.stop()
  }
}
