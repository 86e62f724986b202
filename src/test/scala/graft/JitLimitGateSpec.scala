package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, count, explode, expr, lit, when}

/** Red/green gate for the never-JIT codegen window (r15 verdict task 1).
  *
  * HotSpot refuses to JIT methods over [[PlanLint.JitBytecodeLimit]]
  * (8000) bytecodes, but Spark's default
  * `spark.sql.codegen.hugeMethodLimit` (65535) keeps whole-stage
  * codegen active up to the class-file limit, so a generated method in
  * (8000, 65535] executes as interpreted bytecode forever. The
  * r14-r18 SRP keying tree — `planes` CASE WHENs over inlined
  * 64-literal arrays per table — lived exactly there at production
  * widths (SCALE.md "Round-16: the hugeMethodLimit evidence" — KeyDump
  * table: kernel 3.8-4.9×; whole-query warm 2.36×), which is why every
  * graft entry point pins the session limit to 8000.
  *
  * Production keying ([[SimilarityOps.srpKeyed]]) now runs the FUSED
  * [[graft.functions.SrpSignBits]] kernel — one loop over a
  * reference-object sign matrix — whose generated method stays UNDER
  * the JIT ceiling at the production widths (the green fused tests
  * below pin 12:16 and 15:22). The RED fixture is that r14-r18 tree, rebuilt in this
  * spec ([[caseWhenKeyed]]): it proves the cliff class still exists
  * where the lint must see it and keeps [[PlanLint.neverJitStages]]
  * honest. The global 8000 pin stays: it aligns Spark's gate with
  * HotSpot's for EVERY generated stage, and costs nothing when methods
  * are small.
  */
class JitLimitGateSpec extends SparkSpec {

  // AQE off: under AQE the WSCG wrappers only appear at query-stage
  // materialization mid-execution, hiding every stage from a static
  // sweep (same reason PlanLint's main disables it).
  private def sessionWith(hugeMethodLimit: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.codegen.hugeMethodLimit", hugeMethodLimit)
    s
  }

  // Codegen size depends on widths, not rows, so an 8-row in-memory
  // frame exercises the exact production-grown stage.
  private def rows(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 8).map(i => (i.toLong, Array.tabulate(64)(d => (i * 64 + d) * 0.01)))
      .toDF("vec_id", "em")
  }

  private def countKeys(keyed: DataFrame): DataFrame =
    keyed.select(count(col("bk")).as("n"))

  // The production-grown SRP keying stage on the fused kernel — a small
  // loop at every width (r19 KeyDump probe).
  private def keyed(s: SparkSession, planes: Int = 12, tables: Int = 16): DataFrame =
    countKeys(SimilarityOps.srpKeyed(rows(s), planes, tables, dims = 64,
      stride = SimilarityOps.SrpStride))

  // The RED fixture: the r14-r18 keying tree, per table the
  // `when(dot_product(em, array(<64 literals>)) >= 0, 1L<<pp)` fold over
  // planes onto the table prefix. Its generated method measured 28,660
  // bytecodes at 6:16 / 44,068 at 9:16 / 59,476 at 12:16 (r18 probe) —
  // all inside the never-JIT window — and exceeds janino's 64 KB
  // per-method limit at 13:18+.
  private def caseWhenKeyed(s: SparkSession, planes: Int = 12, tables: Int = 16): DataFrame = {
    val keyCols: Seq[Column] = (0 until tables).map { t =>
      (0 until planes).map { pp =>
        val sgn = SimilarityOps.srpSigns(t * SimilarityOps.SrpStride + pp, 64)
          .map(x => s"${x}D").mkString(",")
        when(expr(s"dot_product(em, array($sgn))") >= 0, lit(1L << pp)).otherwise(lit(0L))
      }.foldLeft(lit(t.toLong << 40).cast("long"))(_ + _)
    }
    countKeys(rows(s).select(col("vec_id"), explode(array(keyCols: _*)).as("bk")))
  }

  test("RED: under Spark's default hugeMethodLimit the casewhen CONTROL keying is never-JIT bytecode") {
    val offenders = PlanLint.neverJitStages(caseWhenKeyed(sessionWith("65535")))
    assert(offenders.nonEmpty,
      "the casewhen fixture no longer exceeds the JIT ceiling — the lint's red fixture is stale")
    assert(offenders.exists(_._2 > PlanLint.JitBytecodeLimit))
  }

  test("GREEN r19: the FUSED keying stage stays under the JIT ceiling even at Spark's default limit") {
    // 12:16 — the width whose casewhen method measured 59,476 bytecodes
    assert(PlanLint.neverJitStages(keyed(sessionWith("65535"))).isEmpty,
      "the fused SrpSignBits keying method grew past the JIT ceiling")
    // 15:22 — the sf64x step, past janino's 64 KB limit under casewhen
    assert(PlanLint.neverJitStages(
      keyed(sessionWith("65535"), planes = 15, tables = 22)).isEmpty,
      "the fused keying method at the sf64x width grew past the JIT ceiling")
  }

  test("GREEN: the production hugeMethodLimit=8000 pin keeps the window closed for both kernels") {
    assert(PlanLint.neverJitStages(keyed(sessionWith("8000"))).isEmpty)
    assert(PlanLint.neverJitStages(caseWhenKeyed(sessionWith("8000"))).isEmpty)
  }

  test("the shared test session carries the production pin every entry point sets") {
    assert(spark.conf.get("spark.sql.codegen.hugeMethodLimit") === "8000")
  }

  test("the pinned-fallback plan still computes the same keys as the default-limit plan") {
    val a = keyed(sessionWith("65535")).collect().map(_.getLong(0)).toSeq
    val b = keyed(sessionWith("8000")).collect().map(_.getLong(0)).toSeq
    assert(a === b)
    assert(a.head === 8L * 16) // one bucket key per (row, table)
  }

  // Past width 12:16 the CASEWHEN keying method exceeds janino's 64 KB
  // PER-METHOD class-file limit: WSCG compilation FAILS (loud
  // "Code grows beyond 64 KB" WARN storm) and Spark falls back to
  // non-WSCG execution at either session setting — measured at
  // identical speed (SCALE.md r16 KeyDump control row). The fused
  // kernel never hits this mode at any cap-legal width, so these tests
  // run the casewhen fixture to keep exercising the failure path — it
  // is also the canary if a future Spark ever turns the compile
  // failure into an error instead of a fallback.
  test("widths past janino's method limit (15:22 casewhen) execute correctly via fallback") {
    val a = caseWhenKeyed(sessionWith("65535"), planes = 15, tables = 22)
      .collect().map(_.getLong(0)).toSeq
    val b = caseWhenKeyed(sessionWith("8000"), planes = 15, tables = 22)
      .collect().map(_.getLong(0)).toSeq
    assert(a === b)
    assert(a.head === 8L * 22)
  }

  // r17 verdict task 3: the lint's compile-failure tolerance was
  // `case _: Exception` — a codegen regression emitting invalid Java
  // would silently VANISH from the audit instead of surfacing. The
  // narrowed catch tolerates only janino's compile-failure types;
  // everything else falls through the `if` guard and propagates.
  test("GREEN: a real janino 64KB compile failure (15:22 casewhen keying) is tolerated, not thrown") {
    // doCodeGen+compile on the over-limit stage throws inside the lint;
    // the narrowed catch must classify it and keep auditing.
    val offenders = PlanLint.neverJitStages(
      caseWhenKeyed(sessionWith("65535"), planes = 15, tables = 22))
    // the over-limit stage is excluded (compile failed → runtime falls
    // back to non-WSCG, so it is not a never-JIT stage); what matters
    // here is that the call RETURNED instead of propagating
    assert(offenders.forall(_._2 <= 65535))
  }

  test("RED: a non-compile exception is classified for propagation, compile failures are not") {
    val janino = new org.codehaus.commons.compiler.CompileException(
      "Code of method grows beyond 64 KB", null)
    assert(PlanLint.isJaninoCompileFailure(janino))
    // Spark and Guava's compile cache both wrap — the causal chain is
    // what's walked
    assert(PlanLint.isJaninoCompileFailure(new RuntimeException("wrapped", janino)))
    assert(PlanLint.isJaninoCompileFailure(
      new java.util.concurrent.ExecutionException(new RuntimeException(janino))))
    // a genuine codegen defect surfaces as some OTHER type — these must
    // fall through the catch guard and propagate out of the lint
    assert(!PlanLint.isJaninoCompileFailure(new RuntimeException("boom")))
    assert(!PlanLint.isJaninoCompileFailure(
      new IllegalStateException(new NullPointerException())))
  }
}
