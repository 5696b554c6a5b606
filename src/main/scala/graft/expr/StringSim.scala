package graft.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity as a native codegen'd Catalyst expression —
  * the string-side companion to `vec_dot` (SURVEY.md §7.3 preference
  * order: Spark has `levenshtein` built in but no Jaro-Winkler, and the
  * record-linkage family needs both).
  *
  * Semantics are pinned BIT-EXACTLY to DuckDB's
  * `jaro_winkler_similarity` (fuzz-verified over 6000 random pairs, see
  * StringSimSpec): classic Jaro with matching window
  * `max(l1,l2)/2 - 1`, greedy left-to-right matching, INTEGER-halved
  * transposition count, empty-vs-anything (including empty-vs-empty)
  * = 0.0; Winkler boost `j + 0.1·p·(1−j)` applied only when jaro > 0.7
  * with common prefix p capped at 4. The arithmetic keeps the exact
  * association order `(m/l1 + m/l2 + (m−t)/m) / 3.0` so the JVM and
  * DuckDB produce the same IEEE double — q197's oracle hash-matches the
  * raw values, unrounded.
  *
  * Comparison is on UTF-16 code units (identical to code points for
  * BMP text; the corpus is ASCII).
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerImpl.similarity(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // static forwarder on the mirror class (no companion class exists),
    // so generated Java calls it like Spark calls UTF8String helpers
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.JaroWinklerImpl.similarity($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** Byte-mode Jaro-Winkler: the identical pinned algorithm (one core,
  * `JaroWinklerImpl.jaroWinkler`) run over the raw UTF-8 BYTES instead
  * of UTF-16 code units. DuckDB's
  * `jaro_winkler_similarity` is byte-based, so this variant is
  * bit-exact with the oracle on ARBITRARY text, not just ASCII —
  * closing PARITY rule 9's boundary ('héllo'/'hello' = 0.84…01 on
  * bytes, both engines; the code-unit expression reads 0.88). The
  * declared semantics are byte-alphabet: one multi-byte character is
  * several symbols, so scores on non-ASCII text differ from the
  * character-level reading by design — this is the LINKAGE-parity
  * variant, letting non-ASCII signatures participate in q216 instead
  * of being excluded by the octet_length filter.
  */
case class JaroWinklerBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler_bytes"

  override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerImpl.similarityBytes(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.JaroWinklerImpl.similarityBytes($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaroWinklerBytes =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerImpl {

  /** Jaro-Winkler over UTF-16 code units (see JaroWinkler). */
  def similarity(lu: UTF8String, ru: UTF8String): Double = {
    val s1 = lu.toString
    val s2 = ru.toString
    jaroWinkler(s1.length, s2.length, (i, j) => s1.charAt(i) == s2.charAt(j))
  }

  /** Jaro-Winkler over UTF-8 bytes (see JaroWinklerBytes). For
    * pure-ASCII input it equals `similarity` by construction.
    */
  def similarityBytes(lu: UTF8String, ru: UTF8String): Double = {
    val s1 = lu.getBytes
    val s2 = ru.getBytes
    jaroWinkler(s1.length, s2.length, (i, j) => s1(i) == s2(j))
  }

  /** The pinned algorithm (see JaroWinkler's scaladoc) over two symbol
    * sequences of lengths `l1`/`l2`, where `same(i, j)` compares symbol
    * i of the first with symbol j of the second. One scratch boolean
    * array pass per call; O(l1·window) matching loop.
    */
  private def jaroWinkler(l1: Int, l2: Int, same: (Int, Int) => Boolean): Double = {
    if (l1 == 0 || l2 == 0) return 0.0
    val w = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + w)
      var j = math.max(0, i - w)
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && same(i, j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk both matched subsequences in order
    var mis = 0
    var i1 = 0
    var j2 = 0
    while (i1 < l1) {
      if (m1(i1)) {
        while (!m2(j2)) j2 += 1
        if (!same(i1, j2)) mis += 1
        j2 += 1
      }
      i1 += 1
    }
    val t = mis / 2 // integer halving — DuckDB-pinned
    val md = m.toDouble
    var jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro > 0.7) {
      var p = 0
      while (p < 4 && p < l1 && p < l2 && same(p, p)) p += 1
      jaro = jaro + 0.1 * p * (1.0 - jaro)
    }
    jaro
  }
}
