package graft.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the embedding-similarity hot loop
  * (SURVEY.md §7.3 preference order: custom `Expression` with codegen
  * beats higher-order-function folds, which allocate an intermediate
  * array per row — at 4M pairs × 64 floats that allocation dominated the
  * profile).
  *
  * Semantics match the DuckDB oracle's
  * `list_dot_product(CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[]))`:
  * each float widens exactly to double, products accumulate
  * left-to-right in a double.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** graft's native functions, spelled once: the table drives both
  * [[GraftExtensions]] (`spark.sql.extensions`) and
  * `graft.GraftSession.install` (sessions built without the extension).
  * The as-of join is not among them: it is a plan node
  * (`graft.plans.AsOfJoinOps`), whose strategy and shield rule the
  * extension installs.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, ExpressionInfo}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  /** (name, expression class, builder). Score/payload arguments are cast
    * so SQL-literal arguments (e.g. DECIMAL `1.0`) just work. `bloom_agg`
    * and `bloom_contains` expose Spark's own runtime-filter expressions
    * by name so ops.BloomOps can plant the identical codegen'd probe
    * explicitly.
    */
  val table: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[FloatVecDot], e => FloatVecDot(e(0), e(1))),
    ("top_k_pairs", classOf[TopKPairs],
      e => TopKPairs(Cast(e(0), DoubleType), Cast(e(1), LongType), e(2)).toAggregateExpression()),
    ("kmv_distinct", classOf[KmvDistinct],
      e => KmvDistinct(Cast(e(0), LongType), e(1)).toAggregateExpression()),
    ("heavy_hitters", classOf[SpaceSaving],
      e => SpaceSaving(Cast(e(0), StringType), e(1)).toAggregateExpression()),
    ("count_min", classOf[CountMin],
      e => CountMin(Cast(e(0), StringType), e(1)).toAggregateExpression()),
    ("cm_query", classOf[CmQuery], e => CmQuery(e(0), Cast(e(1), StringType), e(2))),
    ("jaro_winkler", classOf[JaroWinkler],
      e => JaroWinkler(Cast(e(0), StringType), Cast(e(1), StringType))),
    ("jaro_winkler_bytes", classOf[JaroWinklerBytes],
      e => JaroWinklerBytes(Cast(e(0), StringType), Cast(e(1), StringType))),
    ("bloom_agg", classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    ("bloom_contains", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))

  def info(name: String, cls: Class[_]): ExpressionInfo = new ExpressionInfo(cls.getName, name)
}

/** `SparkSessionExtensions` injection of graft's functions and rules —
  * the deployment path: any session built with
  * `spark.sql.extensions=graft.expr.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) resolves every function in
  * [[GraftFunctions.table]], plans the as-of join and defers row-wise
  * projections past global sorts (`graft.plans.DeferProjectPastSort`)
  * with no imperative call.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name, cls), builder))
    }
    // row-wise projections run after a global sort's range exchange,
    // once, instead of twice below it (in the operator-optimization batch)
    e.injectOptimizerRule(_ => graft.plans.DeferProjectPastSort)
    // physical planning for AsOfJoinPlan (graft.plans.AsOfJoinOps)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // post-EnsureRequirements shield insertion that lets AsOfJoinExec's
    // whole-stage codegen engage without costing its children their own
    // codegen stages (see AsOfInputExec's scaladoc)
    e.injectQueryStagePrepRule(_ => graft.plans.AsOfShieldRule)
  }
}
