package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, BinaryNode, HintInfo, LogicalPlan, Project, ResolvedHint}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, BroadcastDistribution, BroadcastMode, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** As-of join as a first-class operator — the full §7.3(c) extension
  * ladder (logical node → strategy → physical exec), for the one shape
  * where composing built-ins has the right ANSWER but the wrong PLAN:
  * the two-table "attach the latest quote at or before each probe"
  * join. The union+window encoding (q44's single-table form) shuffles
  * probe and quote rows through one window and carries every quote
  * column as a conditional lag; this operator instead streams a
  * per-partition two-pointer merge over inputs sorted on (keys, time):
  * O(|L| + |R|) per partition, constant memory (one retained match
  * row), no per-row search.
  *
  * One kernel, two distributions of the quote side:
  *  - shuffled (default): both sides hash-partition on the keys and
  *    sort (key, time) — the demands a sort-merge join makes, so
  *    EnsureRequirements satisfies them with ordinary exchanges (or
  *    none, over bucketed layouts);
  *  - broadcast (`broadcastRight`, set when the right frame carries
  *    Spark's `broadcast()` hint): the quote rows are collected,
  *    sorted on (key, time) once by [[AsOfBroadcastMode]] and
  *    broadcast; the probe side keeps its partitioning and only sorts
  *    locally, and every probe partition runs the same merge over the
  *    sorted broadcast rows. The right plan for a dim-sized reference
  *    table (rates, calibrations, config history) against a large fact.
  *
  * Semantics: LEFT OUTER; backward by default — each left row pairs
  * with the right row of equal keys having the greatest time <= left
  * time (< when `strict`), or nulls; with `forward = true`, the
  * SMALLEST time >= left time (> when `strict`) instead. With
  * `toleranceUs` set, a match further than the tolerance (in either
  * direction) yields nulls (pandas merge_asof-style). NULL never
  * equals NULL (SQL equi-join semantics): rows with a NULL time OR a
  * NULL key component on either side never match. Ties on (keys,
  * time) on the right resolve to the last row in sort order backward
  * and the first row forward (callers wanting determinism should
  * pre-aggregate to unique (keys, time), as q95 does).
  *
  * Time columns may be LongType (any integer clock) or TimestampType
  * (compared on its epoch-micros internal representation, so
  * `toleranceUs` is microseconds there).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    strict: Boolean = false, toleranceUs: Option[Long] = None,
    forward: Boolean = false, broadcastRight: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override lazy val resolved: Boolean = childrenResolved &&
    (leftKeys ++ rightKeys :+ leftTime :+ rightTime).forall(_.resolved)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, strict, tol, fwd, bc) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, strict, tol, fwd, bc) :: Nil
    case _ => Nil
  }
}

/** Transparent pass-through marking an [[AsOfJoinExec]] input as a
  * whole-stage-codegen boundary. Spark's `CollapseCodegenStages` only
  * knows to wrap the children of its OWN iterator-fed joins
  * (`instanceof SortMergeJoinExec / ShuffledHashJoinExec` — verified
  * against the 4.1.2 bytecode) in `InputAdapter`; a third-party
  * codegen-supporting binary exec falls to the generic branch, which
  * would leave the child sorts inline in the join's stage with nothing
  * ever calling their `produce()` — silently de-optimizing the whole
  * subtree to interpreted execution. This node does NOT implement
  * `CodegenSupport`, so the collapse rule's `!supportCodegen` branch
  * wraps it in `InputAdapter` and gives the subtree below its own
  * codegen stages — exactly what Spark hand-arranges for its own merge
  * join. Inserted by [[AsOfShieldRule]] AFTER EnsureRequirements (an
  * AQE query-stage-prep rule), so it never disturbs exchange/sort
  * placement; partitioning and ordering forward untouched.
  */
case class AsOfInputExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): AsOfInputExec =
    copy(child = newChild)
}

/** AQE query-stage-preparation rule (runs after EnsureRequirements on
  * every (re-)planning pass): wrap both [[AsOfJoinExec]] inputs in
  * [[AsOfInputExec]] so the join's generated code can take over
  * (`AsOfJoinExec.supportCodegen` is gated on the shields being
  * present). Idempotent — AQE re-applies prep rules on each replan.
  * Injected via `GraftExtensions` (`spark.sql.extensions`); sessions
  * without the extension (or with AQE off) simply keep the interpreted
  * exec. Broadcast-mode joins are left alone: their quote side is a
  * broadcast, which has no row iterator to feed generated code, so
  * they run interpreted.
  */
object AsOfShieldRule extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case j: AsOfJoinExec if !j.broadcastRight && !j.left.isInstanceOf[AsOfInputExec] =>
      j.copy(left = AsOfInputExec(j.left), right = AsOfInputExec(j.right))
  }
}

/** Serializable per-task helpers for the generated as-of merge: the
  * key projections, key ordering, and row-to-unsafe fallback are the
  * SAME battle-tested objects the interpreted path uses — shipped as a
  * codegen reference object (bound `Expression`s serialize; the
  * projections/ordering rebuild lazily per task). The generated code
  * inlines the time comparisons and the merge control flow; these
  * helpers keep UnsafeRow key handling (copies, null checks, ordering)
  * on one shared, spec-pinned implementation instead of duplicating it
  * in generated Java.
  */
class AsOfCodegenRuntime(
    lKeyExprs: Seq[Expression], rKeyExprs: Seq[Expression],
    keyTypes: Seq[DataType], rAttrs: Seq[Attribute]) extends Serializable {
  @transient lazy val lKeyProj: UnsafeProjection = UnsafeProjection.create(lKeyExprs)
  @transient lazy val rKeyProj: UnsafeProjection = UnsafeProjection.create(rKeyExprs)
  @transient lazy val keyOrd: BaseOrdering =
    RowOrdering.createNaturalAscendingOrdering(keyTypes)
  @transient private lazy val rToUnsafe: UnsafeProjection =
    UnsafeProjection.create(rAttrs, rAttrs)
  def toUnsafe(r: InternalRow): UnsafeRow = r match {
    case u: UnsafeRow => u
    case o => rToUnsafe(o)
  }
}

/** The broadcast-mode quote side: the collected rows sorted once,
  * before they are broadcast, by `ordering` (bound to the right
  * output) — the order the shuffled mode gets from its per-partition
  * sort. The sort is stable, so tied (key, time) rows keep their
  * collect order.
  */
case class AsOfBroadcastMode(ordering: Seq[SortOrder]) extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    rows.sorted(new InterpretedOrdering(ordering))
  override def transform(rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] =
    transform(rows.toArray)
  override def canonicalized: BroadcastMode =
    copy(ordering = ordering.map(_.canonicalized.asInstanceOf[SortOrder]))
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    strict: Boolean, toleranceUs: Option[Long],
    forward: Boolean = false, broadcastRight: Boolean = false)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  private def leftOrder = leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)
  private def rightOrder = rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending)

  // shuffled: co-partition on the keys, sort (keys, time) — the same
  // demands a sort-merge join makes, so AQE/EnsureRequirements handle
  // them with standard exchanges (or none, over bucketed layouts).
  // broadcast: the probe side stays where it is and sorts locally; the
  // quote side arrives whole and already sorted (AsOfBroadcastMode)
  override def requiredChildDistribution: Seq[Distribution] =
    if (broadcastRight)
      UnspecifiedDistribution ::
        BroadcastDistribution(AsOfBroadcastMode(
          rightOrder.map(BindReferences.bindReference(_, right.output)))) :: Nil
    else if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftOrder, if (broadcastRight) Nil else rightOrder)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // ---- whole-stage codegen (SMJ-style iterator-fed produce) ----
  //
  // Codegen engages ONLY when AsOfShieldRule has wrapped both inputs:
  // the shields make CollapseCodegenStages treat the children exactly
  // as it treats SortMergeJoinExec's (InputAdapter + own stages below),
  // so fusing the merge loop UP into the parent stage never costs the
  // subtree BELOW its codegen. Without shields (AQE off, extension not
  // installed, broadcast mode) supportCodegen=false and the exec runs
  // its interpreted merge.
  override def supportCodegen: Boolean =
    left.isInstanceOf[AsOfInputExec] && right.isInstanceOf[AsOfInputExec]

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // output rows reference the retained match row's buffer; a buffering
  // parent (sort, agg hash map) must copy — same contract as SMJ
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val ur = classOf[UnsafeRow].getName
    val row = classOf[InternalRow].getName
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];", forceInline = true)
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];", forceInline = true)
    // merge cursor state — persists across processNext() re-entries
    val rHead = ctx.addMutableState(ur, "asofRHead")
    val rHeadKey = ctx.addMutableState(ur, "asofRHeadKey")
    val rHeadTime = ctx.addMutableState("long", "asofRHeadTime")
    val lastMatch = ctx.addMutableState(ur, "asofLastMatch")
    val lastMatchKey = ctx.addMutableState(ur, "asofLastMatchKey")
    val lastMatchTime = ctx.addMutableState("long", "asofLastMatchTime")
    val rInit = ctx.addMutableState("boolean", "asofRInit")

    val runtime = new AsOfCodegenRuntime(
      leftKeys.map(BindReferences.bindReference(_, left.output)),
      rightKeys.map(BindReferences.bindReference(_, right.output)),
      leftKeys.map(_.dataType),
      right.output.map(_.withNullability(true)))
    val rt = ctx.addReferenceObj("asofRuntime", runtime, classOf[AsOfCodegenRuntime].getName)
    val numOutput = metricTerm(ctx, "numOutputRows")

    // same consume-equal-time rule as the interpreted merge
    val consumeEq = if (forward) strict else !strict
    val consumeEqJ = if (consumeEq) "true" else "false"
    val noTolJ = if (toleranceUs.isEmpty) "true" else "false"
    val tolL = s"${toleranceUs.getOrElse(0L)}L"

    // advanceRight(): pull the next right row with non-null time+key,
    // retained as owned copies (sorter iterators reuse row buffers)
    val rrow = ctx.freshName("asofRRow")
    ctx.INPUT_ROW = rrow
    ctx.currentVars = null
    val rtEv = BindReferences.bindReference(rightTime, right.output).genCode(ctx)
    val rkey = ctx.freshName("asofRKey")
    val advanceRight = ctx.addNewFunction("asofAdvanceRight",
      s"""
         |private void asofAdvanceRight() {
         |  $rHead = null;
         |  while ($rHead == null && $rightInput.hasNext()) {
         |    $row $rrow = ($row) $rightInput.next();
         |    ${rtEv.code}
         |    if (!${rtEv.isNull}) {
         |      $ur $rkey = $rt.rKeyProj().apply($rrow);
         |      if (!$rkey.anyNull()) {
         |        $rHead = $rt.toUnsafe($rrow).copy();
         |        $rHeadKey = $rkey.copy();
         |        $rHeadTime = ${rtEv.value};
         |      }
         |    }
         |  }
         |}
       """.stripMargin)

    // per-probe code: evaluate left time/key, run the merge scan, pick
    // the match, then emit left vars + null-guarded right vars
    val lrow = ctx.freshName("asofLRow")
    ctx.INPUT_ROW = lrow
    ctx.currentVars = null
    val ltEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val leftVarsCode = evaluateVariables(leftVars)
    val matched = ctx.freshName("asofMatched")
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofRIsNull")
      val value = ctx.freshName("asofRValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val dv = CodeGenerator.defaultValue(a.dataType)
      val getter = CodeGenerator.getValue(matched, a.dataType, i.toString)
      ExprCode(
        code"""
              |boolean $isNull = true;
              |$jt $value = $dv;
              |if ($matched != null) {
              |  $isNull = $matched.isNullAt($i);
              |  if (!$isNull) { $value = $getter; }
              |}
        """.stripMargin,
        JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }
    val rightVarsCode = evaluateVariables(rightVars)
    val outputCode = consume(ctx, leftVars ++ rightVars)

    val lkey = ctx.freshName("asofLKey")
    val ltime = ctx.freshName("asofLTime")
    val cmp = ctx.freshName("asofCmp")
    val scan = ctx.freshName("asofScan")
    val retain =
      if (forward) ""
      else s"$lastMatch = $rHead; $lastMatchKey = $rHeadKey; $lastMatchTime = $rHeadTime;"
    val matchSel =
      // Tolerance distance via compareUnsigned: the match invariant puts
      // the candidate's time on the correct side of the probe time
      // (rHeadTime >= ltime forward / lastMatchTime <= ltime backward),
      // so the true distance is non-negative and < 2^64 — the raw Long
      // subtraction wraps to exactly that distance as an UNSIGNED value
      // even when the signed subtraction overflows (Long.MIN/MAX
      // sentinel times). Same arithmetic in the interpreted path.
      if (forward)
        s"""if ($rHead != null && $rt.keyOrd().compare($rHeadKey, $lkey) == 0 &&
           |    ($noTolJ || Long.compareUnsigned($rHeadTime - $ltime, $tolL) <= 0)) { $matched = $rHead; }""".stripMargin
      else
        s"""if ($lastMatch != null && $rt.keyOrd().compare($lastMatchKey, $lkey) == 0 &&
           |    ($noTolJ || Long.compareUnsigned($ltime - $lastMatchTime, $tolL) <= 0)) { $matched = $lastMatch; }""".stripMargin

    s"""
       |if (!$rInit) { $rInit = true; $advanceRight(); }
       |// no limitNotReachedCond here: Spark allowlists only its own
       |// leaf/blocking/SMJ nodes for that check; the shouldStop() exit
       |// below bounds the loop under a LIMIT the same way
       |while ($leftInput.hasNext()) {
       |  $row $lrow = ($row) $leftInput.next();
       |  ${ltEv.code}
       |  $ur $lkey = $rt.lKeyProj().apply($lrow);
       |  $ur $matched = null;
       |  if (!${ltEv.isNull} && !$lkey.anyNull()) {
       |    long $ltime = ${ltEv.value};
       |    boolean $scan = true;
       |    while ($scan && $rHead != null) {
       |      int $cmp = $rt.keyOrd().compare($rHeadKey, $lkey);
       |      if ($cmp < 0) {
       |        $advanceRight();
       |      } else if ($cmp == 0 && ($rHeadTime < $ltime || ($consumeEqJ && $rHeadTime == $ltime))) {
       |        $retain
       |        $advanceRight();
       |      } else {
       |        $scan = false;
       |      }
       |    }
       |    $matchSel
       |  }
       |  $numOutput.add(1);
       |  $leftVarsCode
       |  $rightVarsCode
       |  $outputCode
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val merge = mergeFn()
    if (broadcastRight) {
      val quotes = right.executeBroadcast[Array[InternalRow]]()
      left.execute().mapPartitions(lIter => merge(lIter, quotes.value.iterator))
    } else {
      left.execute().zipPartitions(right.execute())(merge)
    }
  }

  /** The interpreted merge of one probe partition against a quote
    * iterator sorted on (keys, time): a co-partition in the shuffled
    * mode, the whole sorted broadcast in the broadcast mode. Captures
    * only serializable locals, so the closure ships to the tasks.
    */
  private def mergeFn(): (Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = BindReferences.bindReference(leftTime, lOut)
    val rTimeExpr = BindReferences.bindReference(rightTime, rOut)
    val keyTypes = leftKeys.map(_.dataType)
    val rWidth = rOut.length
    val numOutputRows = longMetric("numOutputRows")
    val hasTol = toleranceUs.isDefined
    val tol = toleranceUs.getOrElse(0L)
    val fwd = forward
    // whether a right row with time == probe time is consumed past (vs
    // stopping the scan): backward consumes it as a candidate iff
    // inclusive; forward discards it iff strict (an equal-time row can
    // still match this probe when inclusive)
    val consumeEq = if (fwd) strict else !strict

    (lIter, rIter) => {
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // Output rows are assembled by a generated UnsafeRowJoiner — a
      // single bitset-aware byte copy of the two UnsafeRows — instead of
      // the earlier JoinedRow + UnsafeProjection pair, which re-evaluated
      // every output field through a BoundReference (one virtual call +
      // null check per column per row). Children are effectively always
      // UnsafeRow-backed (both sides sit under the exec's required sort);
      // the per-side identity projections only fire on the rare non-unsafe
      // row, keeping the fast path allocation-free per output row.
      val joiner = org.apache.spark.sql.catalyst.expressions.codegen
        .GenerateUnsafeRowJoiner.create(
          org.apache.spark.sql.types.StructType(
            lOut.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable))),
          org.apache.spark.sql.types.StructType(
            rOut.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable))))
      val lToUnsafe = UnsafeProjection.create(lOut, lOut)
      val rNullable = rOut.map(_.withNullability(true))
      val rToUnsafe = UnsafeProjection.create(rNullable, rNullable)
      // all-null right image for unmatched probes (nullable projection:
      // a non-nullable one would skip the null bits and write garbage)
      val nullRight = rToUnsafe(new GenericInternalRow(rWidth)).copy()
      @inline def asUnsafeL(r: InternalRow): UnsafeRow = r match {
        case u: UnsafeRow => u
        case o => lToUnsafe(o)
      }
      @inline def asUnsafeR(r: InternalRow): UnsafeRow = r match {
        case u: UnsafeRow => u
        case o => rToUnsafe(o)
      }

      new Iterator[InternalRow] {
        private var rHead: UnsafeRow = _            // next unconsumed right row
        private var rHeadKey: UnsafeRow = _
        private var rHeadTime: Long = _
        private var lastMatch: UnsafeRow = _        // latest consumed right row
        private var lastMatchKey: UnsafeRow = _
        private var lastMatchTime: Long = _

        private def advanceRight(): Unit = {
          rHead = null
          while (rHead == null && rIter.hasNext) {
            val r = rIter.next()
            val t = rTimeExpr.eval(r)
            val k = rKeyProj(r)
            // SQL equi-join semantics: NULL times AND NULL keys never
            // match (NULL = NULL is not true) — discard on consume
            if (t != null && !k.anyNull) {
              rHead = asUnsafeR(r).copy()
              rHeadKey = k.copy()
              rHeadTime = t.asInstanceOf[Long]
            }
          }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lt = lTimeExpr.eval(l)
          val matched: UnsafeRow = if (lt == null || lKey.anyNull) {
            nullRight                               // null probe time/key: no match
          } else {
            val ltime = lt.asInstanceOf[Long]
            var advancing = true
            while (advancing && rHead != null) {
              val cmp = keyOrd.compare(rHeadKey, lKey)
              if (cmp < 0) {
                advanceRight()                      // stale key: discard
              } else if (cmp == 0 &&
                  (rHeadTime < ltime || (consumeEq && rHeadTime == ltime))) {
                // backward: candidate — later ones win. forward: too early
                // for this probe, and probe times only ascend within a
                // key, so it can't match any later probe either — discard.
                if (!fwd) {
                  lastMatch = rHead
                  lastMatchKey = rHeadKey
                  lastMatchTime = rHeadTime
                }
                advanceRight()
              } else {
                advancing = false                   // future key or future time
              }
            }
            if (fwd) {
              // forward match is rHead itself (smallest time >=(>) ltime
              // for this key) — NOT consumed: it may match later probes
              // compareUnsigned: rHeadTime >= ltime here, so the raw
              // subtraction is the exact distance as an unsigned value
              // even when signed arithmetic overflows (sentinel times)
              if (rHead != null && keyOrd.compare(rHeadKey, lKey) == 0 &&
                  (!hasTol || java.lang.Long.compareUnsigned(rHeadTime - ltime, tol) <= 0)) {
                rHead
              } else {
                nullRight
              }
            } else if (lastMatch != null && keyOrd.compare(lastMatchKey, lKey) == 0 &&
                (!hasTol || java.lang.Long.compareUnsigned(ltime - lastMatchTime, tol) <= 0)) {
              // lastMatch's time <=(<) some earlier probe time <= ltime for
              // the same key (probe times ascend within a key), so only the
              // key — and, when bounded, the tolerance against THIS probe's
              // time — must be re-checked
              lastMatch
            } else {
              nullRight
            }
          }
          numOutputRows += 1
          joiner.join(asUnsafeL(l), matched)
        }
      }
    }
  }
}

/** Public API. The joins plan through [[AsOfJoinStrategy]], which a
  * session has when built with `GraftExtensions` (`graft.GraftSession
  * .create`) or readied by `graft.GraftSession.install`. Both entry
  * points return `left`'s columns followed by `right`'s minus its key
  * columns, so a key name resolves to the probe side's column.
  */
object AsOfJoinOps {
  /** As-of join: each `left` row joined to the `right` row with equal
    * `keys` and the greatest `rightTimeCol` <= `leftTimeCol` (< when
    * `strict = true`; LEFT OUTER) — or, with `forward = true`, the
    * SMALLEST `rightTimeCol` >= `leftTimeCol` (> when strict). With
    * `toleranceUs` set, a match further away than the tolerance yields
    * nulls instead (pandas merge_asof-style bounded search, applied in
    * the join's direction). Both time columns must
    * share one type: LongType (any integer clock — then `toleranceUs`
    * is in those units) or TimestampType (compared on epoch micros, so
    * the tolerance is microseconds). Column names must be disjoint
    * apart from the shared key names, and the sides must not share
    * attributes (alias a self-joined side's columns first).
    *
    * Pass `broadcast(right)` to run the broadcast distribution (see
    * [[AsOfJoinPlan]]): the probe side never shuffles, and Spark's own
    * broadcast size limits apply to the quote side.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTimeCol: String, rightTimeCol: String,
               strict: Boolean = false, toleranceUs: Option[Long] = None,
               forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val (rPlan, broadcastRight) = right.queryExecution.analyzed match {
      case ResolvedHint(child, HintInfo(Some(BROADCAST))) => (child, true)
      case p => (p, false)
    }
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val lt = attr(lPlan, leftTimeCol)
    val rt = attr(rPlan, rightTimeCol)
    require(Seq(LongType, TimestampType).contains(lt.dataType) && rt.dataType == lt.dataType,
      s"as-of time columns must both be LongType or both TimestampType, " +
        s"got ${lt.dataType}/${rt.dataType}")
    require(toleranceUs.forall(_ >= 0), "as-of tolerance must be >= 0")
    val lKeys = keys.map(attr(lPlan, _))
    val rKeys = keys.map(attr(rPlan, _))
    lKeys.zip(rKeys).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"as-of key '${lk.name}' type mismatch: ${lk.dataType} (left) vs " +
          s"${rk.dataType} (right) — the merge compares and hash-partitions " +
          "by value, so types must match exactly (cast one side first)")
    }
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "as-of join sides share attributes (self-join without re-aliasing); " +
        "alias the right side's columns (df.select(col(\"x\").as(\"x2\"), ...)) first")
    val join = AsOfJoinPlan(lPlan, rPlan, lKeys, rKeys, lt, rt, strict, toleranceUs, forward,
      broadcastRight)
    val rKeySet = AttributeSet(rKeys)
    GraftBridge.ofRows(spark, Project(join.output.filterNot(rKeySet.contains), join))
  }

  /** Skew-resilient as-of join — the hot-key composition of
    * [[asofJoin]]. The merge exec clusters each side on the keys, so
    * one hot probe key (a bot user, a default tenant) serializes its
    * entire probe volume through ONE task; AQE's skew-join splitting
    * only rewrites Spark's own join execs and never sees this one.
    * Standard medicine, applied to the as-of shape: salt the PROBE side
    * into `saltBuckets` sub-keys (deterministic hash of the probe time,
    * so one key's rows spread across buckets) and REPLICATE the quote
    * side into every bucket, then run the ordinary merge on
    * `keys :+ salt` — each probe still sees every quote of its key, so
    * the result is row-identical to the unsalted operator
    * (AsOfPropertySpec pins it). Cost: |right| × saltBuckets rows
    * shuffled, the right trade when the probe side is the 100 TB skewed
    * stream and the quote side is a per-key reference table. Same
    * regime as ops/SkewOps' salted aggregation (q90).
    *
    * The salt hashes `saltOn` (default: the probe time column — no
    * schema knowledge needed, and correctness never depends on the
    * choice since the quote side is replicated to every bucket).
    * DEGENERACY: when a hot key's probe rows share IDENTICAL values in
    * the salted columns (batch-stamped events, coarse clocks), they all
    * hash to ONE bucket and the spread is a no-op exactly when it's
    * needed — pass a per-row-unique column (an event id, an offset) in
    * `saltOn` to guarantee the spread: `saltOn = Seq(timeCol, idCol)`.
    */
  def asofJoinSalted(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTimeCol: String, rightTimeCol: String,
                     strict: Boolean = false, toleranceUs: Option[Long] = None,
                     forward: Boolean = false, saltBuckets: Int = 8,
                     saltOn: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, hash, lit, pmod}
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    require(keys.nonEmpty, "salting a keyless as-of is meaningless — it has one group")
    val salt = "__asof_salt"
    require(!left.columns.contains(salt) && !right.columns.contains(salt),
      s"column name $salt is reserved by asofJoinSalted")
    val saltSrc = if (saltOn.nonEmpty) saltOn else Seq(leftTimeCol)
    saltSrc.foreach(c => require(left.columns.contains(c),
      s"saltOn column $c is not a probe-side column"))
    val saltedLeft = left.withColumn(salt, pmod(hash(saltSrc.map(col): _*), lit(saltBuckets)))
    val saltedRight = right.withColumn(salt,
      explode(lit((0 until saltBuckets).toArray)))
    // the right salt is a key, so only the probe side's salt survives
    asofJoin(saltedLeft, saltedRight, keys :+ salt,
      leftTimeCol, rightTimeCol, strict, toleranceUs, forward).drop(salt)
  }
}
