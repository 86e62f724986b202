package graft.plans

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, AttributeReference, Cast, Divide, EvalMode, Expression, IsNotNull, Literal, NamedExpression, PredicateHelper, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}

import scala.jdk.CollectionConverters._

/** MATERIALIZED-VIEW AGGREGATE REWRITE — an optimizer rule that
  * transparently answers an aggregate query from a pre-computed summary
  * table instead of the base table. This is the query-rewrite half of
  * incremental view maintenance: [[graft.operators.IncrOps]] keeps the
  * summary fresh from deltas (`agg_incremental_refresh`), and this rule
  * makes queries USE it without the query author knowing it exists — at
  * 100 TB the difference between a full-corpus scan-and-shuffle and a
  * read of a |groups|-row table.
  *
  * Matching is the classic exact-match tier of view matching (Goldstein
  * & Larson, SIGMOD 2001, tier 1): a query `Aggregate` rewrites when
  *
  *  1. its child is semantically the view definition's child
  *     (`LogicalPlan.sameResult` — Catalyst's canonicalized comparison,
  *     robust to exprId differences and cosmetic plan variation);
  *  2. its grouping expressions equal the view's (canonicalized, after
  *     remapping the query child's attributes onto the view child's —
  *     outputs correspond positionally once sameResult holds);
  *  3. every output expression REBASES onto the view's stored columns:
  *     each aggregate subtree must match a stored column exactly, while
  *     scalar computation above them is carried over (so
  *     `date_format(month)` or `cents div n_orders` over a stored
  *     (month, n_orders, cents) view rewrites; `avg(x)` against a view
  *     storing only sum does not — re-deriving one aggregate from
  *     others is the later matching tier). A SUBSET of the view's
  *     columns is fine, which is what makes one wide summary serve
  *     many narrow dashboards.
  *
  * The rewrite replaces the Aggregate with a `Project` over the
  * materialized relation, re-aliasing each replacement column under the
  * ORIGINAL output exprIds so parent operators' references stay valid.
  * Three later tiers are also implemented, each restricted to provably-
  * safe cases: coarser re-aggregation of an aligned finer view
  * ([[tryRollup]]), the derived aggregate `avg(x)` from stored
  * `sum(x)`+count ([[deriveAvg]], available in both tiers), and the
  * FILTER tier — a predicate below the Aggregate that is a function of
  * grouping expressions keeps or drops whole groups, so it re-applies
  * on the view's group columns (`WHERE month >= X GROUP BY month`
  * serves from the monthly summary, and a day-level predicate serves a
  * month-level query from the daily view through the rollup tier).
  * Everything else refuses — the exact tier is the one that must never
  * be wrong.
  *
  * Freshness is the registrar's contract: register a view only while
  * its materialization is current (the IncrOps refresh makes that cheap
  * to maintain). `clear()` deregisters everything; [[serving]]
  * registers, installs the rule and clears again, so no view leaks
  * across queries.
  *
  * Install per query via [[serving]] (a [[graft.GraftSession.scoped]]
  * scope) or cluster-wide via [[graft.GraftExtensions]]; the rule is a
  * no-op while the registry is empty.
  */
object SummaryRewriteRule extends Rule[LogicalPlan] with PredicateHelper {

  /** A registered view: the ANALYZED defining aggregate and the analyzed
    * plan of its materialization (e.g. the parquet scan of the written
    * summary).
    */
  private final case class Mv(name: String, defn: Aggregate, replacement: LogicalPlan)

  private val mvs = new java.util.concurrent.CopyOnWriteArrayList[Mv]()

  /** Register a materialized view. `definition` is the defining
    * aggregate query over the base table (NOT executed here);
    * `materialized` is the stored summary (same columns, same order —
    * written from the definition's result).
    */
  def register(name: String, definition: DataFrame, materialized: DataFrame): Unit = {
    // Register the OPTIMIZED defining plan: the rule runs in the "User
    // Provided Optimizers" batch, after the built-in batches have
    // already simplified the query's expressions (cast cleanup,
    // constant folding) — matching optimized-vs-optimized keeps the
    // canonicalized comparison aligned. Falls back to the analyzed plan
    // for definitions the optimizer reshapes away from a top-level
    // Aggregate.
    val defnPlan = definition.queryExecution.optimizedPlan match {
      case a: Aggregate => a
      case _ => definition.queryExecution.analyzed match {
        case a: Aggregate => a
        case other => throw new IllegalArgumentException(
          s"summary view '$name': definition must be a plain aggregate, got ${other.nodeName}")
      }
    }
    require(definition.schema.fieldNames.sameElements(materialized.schema.fieldNames),
      s"summary view '$name': materialization columns ${materialized.schema.fieldNames.mkString(",")} " +
        s"must match the definition's ${definition.schema.fieldNames.mkString(",")}")
    mvs.add(Mv(name, defnPlan, materialized.queryExecution.analyzed))
  }

  def clear(): Unit = mvs.clear()

  /** Register `views` (name, defining aggregate, materialization), run
    * `body` with this rule installed by [[graft.GraftSession.scoped]],
    * then clear the registry, also when `body` throws.
    */
  def serving[A](s: SparkSession, views: (String, DataFrame, DataFrame)*)(body: => A): A =
    try {
      clear()
      views.foreach { case (name, definition, materialized) =>
        register(name, definition, materialized) }
      GraftSession.scoped(s, rules = Seq(this))(body)
    } finally clear()

  /** Does any leaf of `plan` scan the directory `dir` itself? Both
    * sides are qualified the same way and compared whole, so a view at
    * `.../monthly_orders_f` never counts as `.../monthly_orders`. The
    * did-the-rewrite-fire probe for tests and the registry differential
    * — leaf `toString` truncates file paths, so this inspects the file
    * index itself.
    */
  def scansPath(plan: LogicalPlan, dir: String): Boolean = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def qualified(p: org.apache.hadoop.fs.Path) = p.getFileSystem(conf).makeQualified(p)
    val want = qualified(new org.apache.hadoop.fs.Path(dir))
    plan.collectLeaves().exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(qualified(_) == want)
          case _ => false
        }
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (mvs.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        // Evaluate every registered view and PREFER an exact-tier match
        // (a Project over the materialization — zero re-aggregation)
        // over a rollup-tier one (an Aggregate over it): with both a
        // monthly and a daily summary registered, a monthly query must
        // read the monthly table, not re-roll the daily one.
        val candidates = mvs.asScala.flatMap(tryRewrite(agg, _)).toSeq
        candidates.find(!_.isInstanceOf[Aggregate])
          .orElse(candidates.headOption)
          .getOrElse(agg)
    }

  private def strip(e: Expression): Expression = e match {
    case a: Alias => a.child
    case x => x
  }

  /** `c` evaluating to TRUE implies `a` is non-null: `a` sits under an
    * unbroken chain of null-intolerant nodes from `c`'s root (any null
    * input nulls the whole chain, and null is not TRUE).
    */
  private def impliesNotNull(c: Expression, a: Attribute): Boolean = {
    def chains(e: Expression): Boolean =
      e.semanticEquals(a) ||
        (e.nullIntolerant && e.children.exists(chains))
    chains(c)
  }

  /** Bag equality over canonicalized expressions. Length + forall-
    * contains is NOT enough: a query whose inlined grouping list holds
    * two canonically-equal entries (an alias and its defining
    * expression survive RemoveRepetitionFromGroupExpressions because
    * they only become equal after inlineProjects substitutes) could
    * pass the containment test against a view with the same COUNT of
    * groups but a different second key — and the rewrite would return
    * the view's finer rows un-re-aggregated. Each match is consumed.
    */
  private def multisetEqual(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length && {
      val remaining = scala.collection.mutable.ArrayBuffer.from(b)
      a.forall { x =>
        val i = remaining.indexOf(x)
        if (i >= 0) { remaining.remove(i); true } else false
      }
    }

  /** Normalize an aggregate to (grouping, outputs, core child) with
    * every Project between the Aggregate and its core child INLINED
    * into the expressions. By the time user rules run, ColumnPruning
    * has wrapped relations in attribute-only Projects sized to each
    * consumer, and PullOutGroupingExpressions has moved complex
    * grouping keys into `_groupingexpression` aliases below the
    * Aggregate — both are cosmetic wrappers this substitution removes,
    * so semantically identical aggregates normalize to comparable
    * shapes. Output exprIds/names are preserved (an Alias keeps its id
    * through substitution; a bare attribute that substitutes to an
    * expression is re-aliased under its original id).
    */
  @scala.annotation.tailrec
  private def inlineProjects(groups: Seq[Expression], outs: Seq[NamedExpression],
      child: LogicalPlan): (Seq[Expression], Seq[NamedExpression], LogicalPlan) =
    child match {
      case Project(pl, c) if pl.forall(_.deterministic) =>
        val subst = AttributeMap(pl.collect { case a: Alias => (a.toAttribute, a.child) })
        def sub(e: Expression): Expression = e.transformUp {
          case attr: Attribute => subst.getOrElse(attr, attr)
        }
        def subNamed(ne: NamedExpression): NamedExpression = sub(ne) match {
          case n: NamedExpression => n
          case e => Alias(e, ne.name)(exprId = ne.exprId)
        }
        inlineProjects(groups.map(sub), outs.map(subNamed), c)
      case other => (groups, outs, other)
    }

  private def tryRewrite(q: Aggregate, mv: Mv): Option[LogicalPlan] = {
    val (qGroupsRaw, qOuts, qChildRaw) =
      inlineProjects(q.groupingExpressions, q.aggregateExpressions, q.child)
    val (mGroupsRaw, mOuts, mChild) =
      inlineProjects(mv.defn.groupingExpressions, mv.defn.aggregateExpressions,
        mv.defn.child)
    // FILTER TIER: a Filter below the query's Aggregate whose every
    // conjunct is a function of GROUPING expressions commutes with the
    // aggregation — such a predicate holds the same value for every
    // row of a group, so it keeps or drops WHOLE groups and can be
    // re-applied to the summary's group columns after the rewrite
    // (TRUE keeps, FALSE and NULL drop — identical on both sides).
    // This subsumes the isnotnull conjuncts that
    // InferFiltersFromConstraints pushes below Aggregates, and serves
    // the everyday dashboard shape `WHERE month >= X GROUP BY month`.
    // Whether each conjunct actually rebases is decided below, once
    // the view's grouping columns are known; a conjunct that doesn't
    // (a non-grouping column, a nondeterministic call) disqualifies.
    // A query child IDENTICAL to a filtered view definition still
    // matches via sameResult with no predicates to re-apply.
    val (qChild, preds): (LogicalPlan, Seq[Expression]) = qChildRaw match {
      case Filter(cond, core) if !qChildRaw.sameResult(mChild) =>
        val cs = splitConjunctivePredicates(cond)
        // InferFiltersFromConstraints pairs every null-intolerant range
        // conjunct with an `isnotnull(attr)` on its RAW attributes.
        // Those cannot rebase onto group columns (the attribute is not
        // a grouping expression) but they are REDUNDANT: a conjunct c
        // holding `a` under an unbroken null-intolerant chain can only
        // be TRUE when `a` is non-null, and Filter keeps TRUE rows
        // only — so `c AND isnotnull(a)` ≡ `c`, and the isnotnull is
        // dropped rather than rebased.
        val kept = cs.filterNot {
          case IsNotNull(a: Attribute) => cs.exists(c =>
            !c.isInstanceOf[IsNotNull] && impliesNotNull(c, a))
          case _ => false
        }
        // strip pruning projections below the filter the same way
        // inlineProjects did above it, so sameResult compares cores
        (inlineProjects(Nil, Nil, core)._3, kept)
      case other => (other, Seq.empty)
    }
    if (!qChild.sameResult(mChild)) return None
    // sameResult => outputs correspond positionally; remap query-side
    // attributes into the view definition's attribute space so plain
    // canonicalized equality compares the rest.
    val attrMap = AttributeMap(qChild.output.zip(mChild.output))
    def remap(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => attrMap.getOrElse(a, a)
    }
    val qGroups = qGroupsRaw.map(e => strip(remap(e)).canonicalized)
    val mGroups = mGroupsRaw.map(e => strip(e).canonicalized)
    // each query output must be one of the view's stored columns
    val stored: Seq[(Expression, Attribute)] =
      mOuts.map(ne => strip(ne).canonicalized).zip(mv.replacement.output)
    if (!multisetEqual(qGroups, mGroups))
      return tryRollup(qGroupsRaw, qOuts, preds, remap,
        mGroupsRaw, stored, mv)
    // Rebase each filter conjunct onto the view's stored GROUP columns:
    // a subtree matching a grouping expression the view exposes becomes
    // its column; deterministic scalar structure above/around such
    // subtrees is carried over; anything touching a non-grouping input
    // (which would change what the aggregates saw) or an unexposed
    // group, and any nondeterministic call, refuses.
    def rebasePred(e: Expression): Option[Expression] = {
      val want = strip(remap(e)).canonicalized
      if (mGroups.contains(want)) stored.find(_._1 == want).map(_._2)
      else e match {
        case _: AggregateExpression => None
        case _: Attribute => None
        case _ if !e.deterministic => None
        case _ if e.children.isEmpty => Some(e)
        case _ =>
          val kids = e.children.map(rebasePred)
          if (kids.exists(_.isEmpty)) None
          else Some(e.withNewChildren(kids.map(_.get)))
      }
    }
    val rebasedPreds: Seq[Option[Expression]] = preds.map(rebasePred)
    if (rebasedPreds.exists(_.isEmpty)) return None
    // Rebase each output expression onto the view's stored columns:
    // a subtree matching a stored column becomes that column; scalar
    // computation ABOVE matched subtrees is kept (CollapseProject
    // merges post-aggregation projections like date_format(month) into
    // the Aggregate's output list, so derived outputs are the common
    // case, not the exception). An aggregate function with no stored
    // twin is a dead end — descending into it would re-aggregate
    // already-aggregated rows — as is a base-table attribute.
    def rebase(e: Expression): Option[Expression] = {
      val want = strip(remap(e)).canonicalized
      stored.find(_._1 == want) match {
        case Some((_, replacementCol)) => Some(replacementCol)
        case None => e match {
          case ae: AggregateExpression =>
            deriveAvg(ae, remap, stored, a => Some(a))
          case _: Attribute => None
          case _ =>
            val kids = e.children.map(rebase)
            if (kids.exists(_.isEmpty)) None
            else Some(e.withNewChildren(kids.map(_.get)))
        }
      }
    }
    val projected: Seq[Option[NamedExpression]] = qOuts.map { ne =>
      rebase(strip(ne)).map(r => Alias(r, ne.name)(exprId = ne.exprId))
    }
    if (projected.exists(_.isEmpty))
      tryRollup(qGroupsRaw, qOuts, preds, remap,
        mGroupsRaw, stored, mv)
    else {
      val source = rebasedPreds.flatten match {
        case Seq() => mv.replacement
        case cs => Filter(cs.reduce(And), mv.replacement)
      }
      Some(Project(projected.flatten, source))
    }
  }

  /** TIER-2 DERIVED AGGREGATE (Goldstein & Larson's "computable from"
    * case, restricted to the one shape that dominates real dashboards):
    * answer `avg(x)` from a view that stores `sum(x)` and a count —
    * emitted as `cast(sum_col as double) / cast(cnt_col as double)`,
    * which is bit-identical to Spark's own `Average` (double-sum over
    * the same rows divided by the same count). Guards:
    *
    *  - non-DISTINCT, no FILTER clause, and the avg's result type must
    *    be DoubleType — decimal averages carry their own precision
    *    rules and refuse;
    *  - the count must be `count(x)` itself, or `count(*)`/`count(1)`
    *    ONLY when x is non-nullable (for nullable x, `count(*)` counts
    *    rows avg must not divide by);
    *  - `wrap` lifts the stored columns into the destination tier: the
    *    exact tier uses them directly; the rollup tier re-sums each
    *    (refusing float sums, same as its sum→sum path).
    *
    * Division never raises: LEGACY eval mode yields null on a zero
    * divisor, and a zero count implies a null stored sum anyway (the
    * all-null-x group), which is exactly avg's null. */
  private def deriveAvg(ae: AggregateExpression, remap: Expression => Expression,
      stored: Seq[(Expression, Attribute)],
      wrap: Attribute => Option[Expression]): Option[Expression] =
    ae.aggregateFunction match {
      case avg: Average if !ae.isDistinct && ae.filter.isEmpty &&
          avg.dataType == DoubleType =>
        val child = remap(avg.child)
        def findStored(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Option[Attribute] = {
          val want = AggregateExpression(f, Complete, isDistinct = false).canonicalized
          stored.collectFirst { case (e, a) if e == want => a }
        }
        for {
          s <- findStored(Sum(child))
          c <- findStored(Count(child)).orElse(
            if (child.nullable) None else findStored(Count(Literal(1))))
          sw <- wrap(s)
          cw <- wrap(c)
        } yield Divide(Cast(sw, DoubleType), Cast(cw, DoubleType), EvalMode.LEGACY)
      case _ => None
    }

  // ---- ROLLUP tier: re-aggregate a finer-grained view ----

  /** date_trunc unit synonyms normalized to one canonical name. */
  private val truncSynonyms: Map[String, String] = Map(
    "year" -> "year", "yyyy" -> "year", "yy" -> "year",
    "quarter" -> "quarter",
    "month" -> "month", "mon" -> "month", "mm" -> "month",
    "week" -> "week",
    "day" -> "day", "dd" -> "day",
    "hour" -> "hour", "minute" -> "minute", "second" -> "second")

  /** The alignment lattice: `alignedCoarser(f)` is the set of COARSER
    * units whose bucket boundaries are aligned to `f` buckets — exactly
    * the units c for which date_trunc(c, date_trunc(f, x)) ==
    * date_trunc(c, x) for every x. Week appears only as a coarsening of
    * day-and-finer (week boundaries are day-aligned), and nothing
    * coarsens FROM week (year/quarter/month boundaries are not
    * week-aligned).
    */
  private val alignedCoarser: Map[String, Set[String]] = Map(
    "second" -> Set("minute", "hour", "day", "week", "month", "quarter", "year"),
    "minute" -> Set("hour", "day", "week", "month", "quarter", "year"),
    "hour" -> Set("day", "week", "month", "quarter", "year"),
    "day" -> Set("week", "month", "quarter", "year"),
    "week" -> Set.empty,
    "month" -> Set("quarter", "year"),
    "quarter" -> Set("year"))

  private def truncUnit(e: Expression): Option[String] = e match {
    case Literal(s, StringType) if s != null =>
      truncSynonyms.get(s.toString.toLowerCase)
    case _ => None
  }

  /** The rollup tier of view matching (Goldstein & Larson tier 2,
    * restricted to provably-safe cases): answer a COARSER aggregate
    * from a finer-grained view by re-aggregating its rows. A query
    * rewrites when every grouping expression is computable from the
    * view's grouping COLUMNS (scalar functions over them, or a coarser
    * `date_trunc` over the same underlying expression via the
    * alignment lattice), and every aggregate is a stored column
    * re-aggregated distributively: sum→sum, min→min, max→max,
    * count→sum. DISTINCT aggregates, FILTER clauses, averages, and
    * floating-point sums (whose re-summation is order-sensitive) all
    * refuse. The rewritten plan is an Aggregate over the
    * materialization — |view| input rows instead of |base|.
    */
  private def tryRollup(
      qGroupsRaw: Seq[Expression], qOuts: Seq[NamedExpression],
      preds: Seq[Expression], remap: Expression => Expression,
      mGroupsRaw: Seq[Expression], stored: Seq[(Expression, Attribute)],
      mv: Mv): Option[LogicalPlan] = {
    // every view grouping must be exposed as a stored column, or the
    // view rows cannot be re-grouped
    val storedGroups: Seq[(Expression, Expression, Attribute)] =
      mGroupsRaw.flatMap { g =>
        val cg = strip(g).canonicalized
        stored.find(_._1 == cg).map(t => (cg, strip(g), t._2))
      }
    if (storedGroups.length != mGroupsRaw.length) return None

    def reAgg(e: Expression): Option[Expression] = {
      val want = strip(remap(e)).canonicalized
      storedGroups.find(_._1 == want) match {
        case Some((_, _, attr)) => return Some(attr)
        case None =>
      }
      e match {
        case TruncTimestamp(fmt, ts, tz) =>
          val viaLattice = for {
            c <- truncUnit(fmt)
            attr <- storedGroups.collectFirst {
              case (_, TruncTimestamp(mfmt, mts, mtz), a)
                  if truncUnit(mfmt).exists(f => alignedCoarser(f).contains(c)) &&
                    strip(remap(ts)).canonicalized == mts.canonicalized &&
                    tz == mtz => a
            }
          } yield TruncTimestamp(fmt, attr, tz)
          if (viaLattice.isDefined) return viaLattice
        case _ =>
      }
      e match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          stored.find(_._1 == want).flatMap { case (_, attr) =>
            def re(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
              Some(AggregateExpression(f, Complete, isDistinct = false))
            ae.aggregateFunction match {
              case _: Sum
                  if attr.dataType != DoubleType && attr.dataType != FloatType =>
                re(Sum(attr))
              case _: Count => re(Sum(attr))
              case _: Min => re(Min(attr))
              case _: Max => re(Max(attr))
              case _ => None
            }
          }.orElse {
            // derived avg at a coarser grain: re-sum the stored sum and
            // count columns, then divide — exact because both re-sums
            // are integral (float sums refuse via the wrap)
            deriveAvg(ae, remap, stored, a =>
              if (a.dataType == DoubleType || a.dataType == FloatType) None
              else Some(AggregateExpression(Sum(a), Complete, isDistinct = false)))
          }
        case _: AggregateExpression => None
        case _: Attribute => None
        case _ if e.children.nonEmpty =>
          val kids = e.children.map(reAgg)
          if (kids.exists(_.isEmpty)) None
          else Some(e.withNewChildren(kids.map(_.get)))
        case _ => Some(e)
      }
    }

    val rebasedGroups = qGroupsRaw.map(g => reAgg(strip(g)))
    if (rebasedGroups.exists(_.isEmpty)) return None
    // Filter conjuncts re-apply on view rows BEFORE the re-aggregation.
    // That commutes iff each is a function of the VIEW's (finer)
    // grouping — which is exactly what reAgg's leaf rebase accepts
    // (stored group columns, or a coarser aligned date_trunc of one) —
    // so e.g. a day-level predicate serves a month-level query from the
    // daily view. Deterministic only, and the rebased form must be
    // aggregate-free (a filter below an Aggregate can't contain
    // aggregates, but the guard keeps the invariant local).
    val rebasedFilters = preds.map { e =>
      if (!e.deterministic) None
      else reAgg(strip(e))
        .filterNot(_.exists(_.isInstanceOf[AggregateExpression]))
    }
    if (rebasedFilters.exists(_.isEmpty)) return None
    val rebasedOuts: Seq[Option[NamedExpression]] = qOuts.map { ne =>
      reAgg(strip(ne))
        .filter(_.dataType == ne.dataType) // re-typed aggregates refuse
        .map(r => Alias(r, ne.name)(exprId = ne.exprId))
    }
    if (rebasedOuts.exists(_.isEmpty)) return None
    val source = rebasedFilters.flatten match {
      case Seq() => mv.replacement
      case conds => Filter(conds.reduce(And), mv.replacement)
    }
    Some(Aggregate(rebasedGroups.flatten, rebasedOuts.flatten, source))
  }
}
