package graft.plans

import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** SARGABLE-DATE rewrite: comparisons of `date_format(ts, <pattern>)`
  * against a string literal become native timestamp RANGE predicates —
  * `date_format(ts, 'yyyy-MM-dd') = '2024-01-15'` rewrites to
  * `ts >= TIMESTAMP'2024-01-15 00:00' AND ts < TIMESTAMP'2024-01-16
  * 00:00'`. The original form evaluates a string render per row and is
  * opaque to every pruning layer; the rewritten bounds push into the
  * parquet scan (PushedFilters → row-group min/max skipping, partition
  * pruning on a date-partitioned layout) — at 100 TB this predicate
  * shape is the difference between scanning a day and scanning the
  * corpus. The anti-pattern is endemic in hand-written SQL, which is
  * why engines sargify it in the optimizer rather than asking users to.
  *
  * Supported patterns: `yyyy`, `yyyy-MM`, `yyyy-MM-dd` — formats whose
  * output is a zero-padded ISO prefix, so LEXICOGRAPHIC order equals
  * chronological order WITHIN years 0000-9999 and `=/</<=/>/>=` all map
  * to period-boundary ranges (equality to [start, next-period-start)).
  * Outside that span rendering goes signed-proleptic (year 10000 →
  * `+10000`, 500 BCE → `-0500`; probed on this Spark build) and the
  * lexicographic order diverges: `-`-prefixed renders sort below every
  * digit-leading literal AND are chronologically below every in-span
  * bound, so BCE rows agree with the naive ranges for free — but
  * `+`-prefixed renders ALSO sort below digit-leading literals while
  * being chronologically ABOVE them. The range shapes therefore carry
  * the span's upper boundary (year-10000 start): `>`/`>=` add
  * `AND t < span-end` (a `+10000` row must stay excluded), `<`/`<=` add
  * `OR t >= span-end` (a `+10000` row must stay included). Equality
  * needs no guard — no out-of-span render equals a canonical 4-digit-
  * year literal. The literal must parse as exactly one canonical period
  * of the pattern; anything else (malformed, wrong width) leaves the
  * expression untouched. NULL semantics are preserved: both forms are
  * NULL exactly when `ts` is NULL (And/Or over two null comparisons
  * stays null). Timestamps with and without time zone are both handled
  * (the bound literal is built in the format's zone for the former and
  * as a wall-clock for the latter).
  *
  * Installed via [[graft.GraftExtensions]] (injectOptimizerRule) or
  * per query with [[graft.GraftSession.scoped]].
  */
object SargableDateRule extends Rule[LogicalPlan] {

  /** Period [start, next) for a literal under a pattern, as wall-clock
    * LocalDateTimes; None when the literal is not exactly one canonical
    * period.
    */
  private def period(fmt: String, s: String)
      : Option[(java.time.LocalDateTime, java.time.LocalDateTime)] = {
    try {
      fmt match {
        case "yyyy" if s.matches("\\d{4}") =>
          val st = LocalDate.of(s.toInt, 1, 1).atStartOfDay
          Some((st, st.plusYears(1)))
        case "yyyy-MM" if s.matches("\\d{4}-\\d{2}") =>
          val st = LocalDate.of(s.take(4).toInt, s.drop(5).toInt, 1).atStartOfDay
          Some((st, st.plusMonths(1)))
        case "yyyy-MM-dd" if s.matches("\\d{4}-\\d{2}-\\d{2}") =>
          val st = LocalDate.parse(s).atStartOfDay
          Some((st, st.plusDays(1)))
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** Resolve the comparison TARGET and a bound-literal builder for a
    * format child. The analyzer wraps a TIMESTAMP_NTZ column as
    * `cast(ntz as timestamp)` before date_format — bounds on that cast
    * would be correct but opaque to the scan, so when the cast's zone
    * equals the format's zone the rewrite UNWRAPS it and bounds the
    * NTZ column directly with the same wall-clock (valid because
    * NTZ→TZ casting is strictly monotone in the wall-clock; the
    * round-trip check refuses period boundaries that fall inside a DST
    * gap, where the wall-clock bound would not be the exact preimage).
    */
  private def resolve(ts: Expression, zoneId: Option[String])
      : Option[(Expression, java.time.LocalDateTime => Option[Literal])] = {
    lazy val zone = ZoneId.of(zoneId.getOrElse(conf.sessionLocalTimeZone))
    ts.dataType match {
      case TimestampNTZType =>
        Some((ts, ldt =>
          Some(Literal(DateTimeUtils.localDateTimeToMicros(ldt), TimestampNTZType))))
      case TimestampType => ts match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast
            if c.child.dataType == TimestampNTZType && c.timeZoneId == zoneId =>
          Some((c.child, ldt => {
            val inst = ldt.atZone(zone).toInstant
            if (java.time.LocalDateTime.ofInstant(inst, zone) == ldt)
              Some(Literal(DateTimeUtils.localDateTimeToMicros(ldt), TimestampNTZType))
            else None
          }))
        case _ =>
          Some((ts, ldt =>
            Some(Literal(DateTimeUtils.instantToMicros(ldt.atZone(zone).toInstant),
              TimestampType))))
      }
      case _ => None
    }
  }

  /** date_format(ts, constant-pattern) with its zone. */
  private object Fmt {
    def unapply(e: Expression): Option[(Expression, String, Option[String])] = e match {
      case d: DateFormatClass => d.right match {
        case Literal(f: UTF8String, StringType) if f != null =>
          Some((d.left, f.toString, d.timeZoneId))
        case _ => None
      }
      case _ => None
    }
  }

  private object Str {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) if s != null => Some(s.toString)
      case _ => None
    }
  }

  /** First wall-clock instant the patterns cannot render in 4-digit
    * zero-padded form (year 10000 renders `+10000`): the upper boundary
    * of the lexicographic == chronological span.
    */
  private val SpanEnd = LocalDate.of(10000, 1, 1).atStartOfDay

  /** The six range shapes. `lo`/`hi` are the period's [start, next),
    * `end` the representable span's upper boundary — all built against
    * the resolved (possibly cast-unwrapped) target.
    */
  private def ranged(ts: Expression, zid: Option[String], fmt: String, s: String)(
      mk: (Expression, Literal, Literal, Literal) => Expression): Option[Expression] =
    for {
      (startLdt, nextLdt) <- period(fmt, s)
      (target, mkLit) <- resolve(ts, zid)
      lo <- mkLit(startLdt)
      hi <- mkLit(nextLdt)
      end <- mkLit(SpanEnd)
    } yield mk(target, lo, hi, end)

  import org.apache.spark.sql.catalyst.expressions.{And, Or}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case eq @ EqualTo(Fmt(ts, f, z), Str(s)) =>
      ranged(ts, z, f, s)((t, lo, hi, _) =>
        And(GreaterThanOrEqual(t, lo), LessThan(t, hi))).getOrElse(eq)
    case eq @ EqualTo(Str(s), Fmt(ts, f, z)) =>
      ranged(ts, z, f, s)((t, lo, hi, _) =>
        And(GreaterThanOrEqual(t, lo), LessThan(t, hi))).getOrElse(eq)
    case e @ GreaterThanOrEqual(Fmt(ts, f, z), Str(s)) => // fmt >= s
      ranged(ts, z, f, s)((t, lo, _, end) =>
        And(GreaterThanOrEqual(t, lo), LessThan(t, end))).getOrElse(e)
    case e @ GreaterThan(Fmt(ts, f, z), Str(s)) => // fmt > s
      ranged(ts, z, f, s)((t, _, hi, end) =>
        And(GreaterThanOrEqual(t, hi), LessThan(t, end))).getOrElse(e)
    case e @ LessThanOrEqual(Fmt(ts, f, z), Str(s)) => // fmt <= s
      ranged(ts, z, f, s)((t, _, hi, end) =>
        Or(LessThan(t, hi), GreaterThanOrEqual(t, end))).getOrElse(e)
    case e @ LessThan(Fmt(ts, f, z), Str(s)) => // fmt < s
      ranged(ts, z, f, s)((t, lo, _, end) =>
        Or(LessThan(t, lo), GreaterThanOrEqual(t, end))).getOrElse(e)
    case e @ GreaterThanOrEqual(Str(s), Fmt(ts, f, z)) => // s >= fmt ⟺ fmt <= s
      ranged(ts, z, f, s)((t, _, hi, end) =>
        Or(LessThan(t, hi), GreaterThanOrEqual(t, end))).getOrElse(e)
    case e @ GreaterThan(Str(s), Fmt(ts, f, z)) => // s > fmt ⟺ fmt < s
      ranged(ts, z, f, s)((t, lo, _, end) =>
        Or(LessThan(t, lo), GreaterThanOrEqual(t, end))).getOrElse(e)
    case e @ LessThanOrEqual(Str(s), Fmt(ts, f, z)) => // s <= fmt ⟺ fmt >= s
      ranged(ts, z, f, s)((t, lo, _, end) =>
        And(GreaterThanOrEqual(t, lo), LessThan(t, end))).getOrElse(e)
    case e @ LessThan(Str(s), Fmt(ts, f, z)) => // s < fmt ⟺ fmt > s
      ranged(ts, z, f, s)((t, _, hi, end) =>
        And(GreaterThanOrEqual(t, hi), LessThan(t, end))).getOrElse(e)
  }
}
