package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import scala.jdk.CollectionConverters._

/** CONSTRAINT-DRIVEN plan simplification — the optimizations every
  * warehouse performs from DECLARED (not inferred) integrity
  * constraints, which Spark's catalog has no surface for:
  *
  *  - JOIN ELIMINATION: an inner join from a child table to its parent
  *    over a declared foreign key (non-null, every value present in the
  *    parent's declared unique key) is row-preserving — each child row
  *    matches exactly one parent row. When nothing above the join uses
  *    parent columns, the join (and the parent SCAN) is dropped
  *    entirely. Views and BI tools generate exactly this shape
  *    constantly (a wide join view queried for child columns only);
  *    at 100 TB the eliminated side is a scan + shuffle that never runs.
  *
  *  - DISTINCT ELIMINATION: a deduplicating aggregate over output that
  *    includes a declared unique key is a no-op — dropped, along with
  *    its full-width exchange.
  *
  * Constraints are DECLARED through [[declareUniqueKey]] /
  * [[declareForeignKey]] and trusted, exactly like RELY constraints in
  * warehouses: the declaration, not the data, carries the proof
  * obligation (the fixture's FKs are verified valid in the spec).
  * Matching uses the same machinery as the view-rewrite rule:
  * `sameResult` against the declared plans, positional attribute
  * mapping, pruning-Project peeling. `clear()` scopes declarations.
  *
  * Installed via [[graft.GraftExtensions]] (injectOptimizerRule) or
  * per query with [[graft.GraftSession.scoped]]; a no-op until a
  * constraint is declared.
  */
object ConstraintRules extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  private final case class UniqueKey(name: String, plan: LogicalPlan, keyPos: Int)
  private final case class ForeignKey(name: String, childPlan: LogicalPlan,
      fkPos: Int, parentPlan: LogicalPlan, pkPos: Int)

  private val keys = new java.util.concurrent.CopyOnWriteArrayList[UniqueKey]()
  private val fks = new java.util.concurrent.CopyOnWriteArrayList[ForeignKey]()

  /** Declare `keyCol` unique (and non-null) in `table`. */
  def declareUniqueKey(name: String, table: DataFrame, keyCol: String): Unit = {
    val plan = table.queryExecution.analyzed
    val pos = plan.output.indexWhere(_.name.equalsIgnoreCase(keyCol))
    require(pos >= 0, s"constraint '$name': no column $keyCol")
    keys.add(UniqueKey(name, plan, pos))
  }

  /** Declare child.fkCol → parent.pkCol: fk non-null and every value
    * present in the parent's unique pkCol. Also declares the parent key.
    */
  def declareForeignKey(name: String, child: DataFrame, fkCol: String,
      parent: DataFrame, pkCol: String): Unit = {
    declareUniqueKey(s"$name.pk", parent, pkCol)
    val cp = child.queryExecution.analyzed
    val pp = parent.queryExecution.analyzed
    val fkPos = cp.output.indexWhere(_.name.equalsIgnoreCase(fkCol))
    val pkPos = pp.output.indexWhere(_.name.equalsIgnoreCase(pkCol))
    require(fkPos >= 0 && pkPos >= 0, s"constraint '$name': missing columns")
    fks.add(ForeignKey(name, cp, fkPos, pp, pkPos))
  }

  def clear(): Unit = { keys.clear(); fks.clear() }

  /** Look through pruning Projects AND the `isnotnull(key)` filters
    * InferFiltersFromConstraints derives from the join condition.
    * MATCHING-ONLY: the surviving side is kept verbatim (its isnotnull
    * filter is semantically implied by the inner join it replaces, so
    * elimination preserves exact semantics even against a mistaken
    * non-null declaration).
    */
  @scala.annotation.tailrec
  private def peel(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      peel(child)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child)
        if splitConjunctivePredicates(cond).forall {
          case org.apache.spark.sql.catalyst.expressions.IsNotNull(_: Attribute) => true
          case _ => false
        } =>
      peel(child)
    case other => other
  }

  /** The query-side attribute at declared position `pos`, if the peeled
    * query plan matches the declared plan.
    */
  private def matchSide(queryChild: LogicalPlan, declaredPlan: LogicalPlan,
      pos: Int): Option[Attribute] = {
    val peeled = peel(queryChild)
    if (!peeled.sameResult(declaredPlan)) None
    else Some(peeled.output(pos))
  }

  /** Try to drop an FK inner join whose parent side contributes nothing
    * beyond the equality itself. Returns the surviving child side.
    */
  private def tryEliminate(j: Join, usedAbove: Seq[Expression]): Option[LogicalPlan] =
    j match {
      case Join(l, r, Inner, Some(EqualTo(x: Attribute, y: Attribute)), _) =>
        fks.asScala.view.flatMap { fk =>
          // child left / parent right, then the mirror
          val direct = for {
            fkAttr <- matchSide(l, fk.childPlan, fk.fkPos)
            pkAttr <- matchSide(r, fk.parentPlan, fk.pkPos)
            if (x.exprId == fkAttr.exprId && y.exprId == pkAttr.exprId) ||
              (y.exprId == fkAttr.exprId && x.exprId == pkAttr.exprId)
            if usedAbove.forall(_.references.subsetOf(l.outputSet))
          } yield l
          val mirrored = for {
            fkAttr <- matchSide(r, fk.childPlan, fk.fkPos)
            pkAttr <- matchSide(l, fk.parentPlan, fk.pkPos)
            if (x.exprId == fkAttr.exprId && y.exprId == pkAttr.exprId) ||
              (y.exprId == fkAttr.exprId && x.exprId == pkAttr.exprId)
            if usedAbove.forall(_.references.subsetOf(r.outputSet))
          } yield r
          direct.orElse(mirrored)
        }.headOption
      case _ => None
    }

  /** Is this aggregate a plain DISTINCT of its child (group by the full
    * output, emit the full output)?
    */
  private def isDistinctOf(a: Aggregate): Boolean = {
    val childOut = a.child.output
    a.aggregateExpressions.length == childOut.length &&
      a.aggregateExpressions.zip(childOut).forall {
        case (x: Attribute, c) => x.exprId == c.exprId
        case _ => false
      } &&
      a.groupingExpressions.length == childOut.length &&
      a.groupingExpressions.forall {
        case x: Attribute => childOut.exists(_.exprId == x.exprId)
        case _ => false
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (keys.isEmpty && fks.isEmpty) plan
    else plan.transformUp {
      case p @ Project(pl, j: Join) =>
        tryEliminate(j, pl).map(Project(pl, _)).getOrElse(p)
      case a: Aggregate if a.child.isInstanceOf[Join] =>
        tryEliminate(a.child.asInstanceOf[Join],
          a.groupingExpressions ++ a.aggregateExpressions)
          .map(c => a.copy(child = c)).getOrElse(a)
      case a: Aggregate if isDistinctOf(a) &&
          keys.asScala.exists { k =>
            val peeled = peel(a.child)
            peeled.sameResult(k.plan) &&
              a.child.outputSet.contains(peeled.output(k.keyPos))
          } =>
        a.child
    }
}
