package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet, NamedExpression, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{PROJECT, SORT}

/** Late materialization across a global sort (MorphStore, VLDB 2020:
  * compute output columns after data movement, not before it).
  *
  * A global `Sort` plans as a range exchange, and Spark evaluates the
  * projection below it twice in every scan task: once to sample the
  * RangePartitioner's bounds and once for the shuffle map. When the
  * projection is row-wise math over a few base columns (q13's
  * sin/cos/atan/pow and `round(_, 6)`), this rewrites
  *
  *   Sort(keys, Project*(base))
  *     => Project(flat, Sort(keys', Project(needed, base)))
  *
  * so the projection runs once, in the sort's post-exchange tasks.
  * `flat` is the stack collapsed by `CollapseProject.buildCleanedProjectList`
  * (it keeps every output's name and exprId, so parents are unaffected);
  * `needed` is the base columns `flat` reads, sort keys included; `keys'`
  * are the keys restated on their base columns. Under a `Limit` the
  * result still plans as `TakeOrderedAndProject`, whose projection then
  * runs on the k kept rows only.
  *
  * Fires only when the sort is global, every projection in the stack is
  * deterministic, every sort key is a pass-through base column (possibly
  * renamed), and at least one output is computed. Declines when a base
  * column the sort would newly carry is not fixed-width (a string, array
  * or map: `defaultSize` counts a string as 20 bytes and an array as one
  * element, so no byte estimate bounds it), and when the fixed-width
  * ones are wider (Σ `defaultSize`) than the computed outputs they
  * replace, so shuffle bytes never grow: a narrowing projection such as
  * `length(text)` or `element_at(arr, 1)` stays below the sort.
  * Idempotent: after a rewrite the sort's child projects attributes only.
  *
  * Injected by `graft.expr.GraftExtensions` and added by
  * `graft.GraftSession.install` when absent; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.DeferProjectPastSort`.
  */
object DeferProjectPastSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(SORT, PROJECT)) {
      case s @ Sort(_, true, p: Project, _) => defer(s, p).getOrElse(s)
    }

  private def defer(sort: Sort, top: Project): Option[LogicalPlan] = {
    val stack = Iterator.iterate[LogicalPlan](top)(_.children.head)
      .takeWhile(_.isInstanceOf[Project]).map(_.asInstanceOf[Project]).toSeq
    val base = stack.last.child
    if (!stack.forall(_.projectList.forall(_.deterministic))) return None
    val flat = stack.tail.foldLeft(top.projectList) { (upper, lower) =>
      CollapseProject.buildCleanedProjectList(upper, lower.projectList)
    }
    // output attribute -> the base column it passes through
    val through = AttributeMap(flat.collect {
      case a: Attribute => a -> a
      case al @ Alias(a: Attribute, _) => al.toAttribute -> a
    })
    val keys = sort.order.map(o => o.child match {
      case a: Attribute => through.get(a).map(SortOrder(_, o.direction, o.nullOrdering, Seq.empty))
      case _ => None
    })
    val deferred = flat.filterNot(e => through.contains(e.toAttribute))
    if (deferred.isEmpty || keys.exists(_.isEmpty)) return None
    val needed = AttributeSet(flat.flatMap(_.references))
    val newlyCarried = (needed -- through.values).toSeq
    if (!newlyCarried.forall(a => UnsafeRow.isFixedLength(a.dataType))) return None
    if (width(newlyCarried) > width(deferred)) return None
    Some(Project(flat, sort.copy(order = keys.flatten, child = Project(base.output.filter(needed.contains), base))))
  }

  private def width(cols: Seq[NamedExpression]): Long = cols.map(_.dataType.defaultSize.toLong).sum
}
