package graft.plans

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property layer over the as-of join — the operator with the newest
  * codegen path gets the broadest input coverage: random probe/quote
  * sets (few keys to force collisions, duplicate and tied times, null
  * times) checked against a driver-side brute-force reference on every
  * variant (backward/forward × strict × tolerance), and the
  * shuffled-vs-broadcast distribution equivalence (q124 runs the
  * broadcast one) when (key, time) is unique on the right.
  */
class AsOfPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  private val probeGen = Gen.listOfN(14, for {
    k <- Gen.oneOf("a", "b", "c")
    t <- Gen.option(Gen.choose(0L, 40L))
  } yield (k, t))

  private val quoteGen = Gen.listOfN(10, for {
    k <- Gen.oneOf("a", "b", "d")
    t <- Gen.option(Gen.choose(0L, 40L))
    v <- Gen.choose(0, 99)
  } yield (k, t, v.toLong))

  /** Brute-force reference: per probe, scan every quote. On right-side
    * time ties the merge retains the LAST row in (key, time, arrival)
    * sort order backward and the FIRST forward — tie-break on value
    * makes the expectation deterministic without assuming which.
    */
  private def reference(
      probes: Seq[(String, Option[Long])], quotes: Seq[(String, Option[Long], Long)],
      strict: Boolean, tol: Option[Long], fwd: Boolean): Set[(Int, Option[Long])] =
    probes.zipWithIndex.map { case ((pk, pt), pid) =>
      val best = pt match {
        case None => None
        case Some(t) =>
          val cands = quotes.flatMap {
            case (qk, Some(qt), qv) if qk == pk =>
              val inDir =
                if (fwd) { if (strict) qt > t else qt >= t }
                else { if (strict) qt < t else qt <= t }
              val inTol = tol.forall(x => (if (fwd) qt - t else t - qt) <= x)
              if (inDir && inTol) Some((qt, qv)) else None
            case _ => None
          }
          if (cands.isEmpty) None
          else Some(if (fwd) cands.minBy(_._1)._1 else cands.maxBy(_._1)._1)
      }
      (pid, best)
    }.toSet

  private type Variant = (Boolean, Option[Long], Boolean) // (strict, tol, forward)

  private val allVariants: Seq[Variant] = for {
    strict <- Seq(false, true); fwd <- Seq(false, true)
    tol <- Seq(None, Some(7L))
  } yield (strict, tol, fwd)

  /** Every frame in `runs` (each with `pid`, `qt`, `qv`) collected as
    * ONE tagged union: one Spark job per generated input instead of one
    * per variant and implementation. Returns each run's
    * (pid, qt, qv) rows, in `runs` order.
    */
  private def collectTagged(runs: Seq[org.apache.spark.sql.DataFrame])
      : Seq[Set[(Int, Option[Long], Option[Long])]] = {
    val union = runs.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("run"), col("pid"), col("qt"), col("qv")) }
      .reduce(_ union _)
    val byRun = union.collect().groupBy(_.getInt(0)).map { case (i, rows) =>
      i -> rows.map(r => (r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    }
    runs.indices.map(byRun.getOrElse(_, Set.empty))
  }

  private def frames(ps: Seq[(String, Option[Long])], qs: Seq[(String, Option[Long], Long)]) =
    (ps.zipWithIndex.map { case ((k, t), i) => (i, k, t) }.toDF("pid", "kk", "pt"),
      qs.toDF("kk", "qt", "qv"))

  test("asofJoin matches brute force on random inputs, every variant") {
    check(Prop.forAll(probeGen, quoteGen) { (ps, qs) =>
      (ps.nonEmpty && qs.nonEmpty) ==> {
        val (pdf, qdf) = frames(ps, qs)
        val got = collectTagged(allVariants.map { case (strict, tol, fwd) =>
          AsOfJoinOps.asofJoin(pdf, qdf, Seq("kk"), "pt", "qt", strict, tol, fwd)
        })
        allVariants.zip(got).forall { case ((strict, tol, fwd), rows) =>
          rows.map { case (pid, qt, _) => (pid, qt) } == reference(ps, qs, strict, tol, fwd)
        }
      }
    })
  }

  test("salted as-of is row-identical to the unsalted operator") {
    val variants = Seq((false, None, false), (true, Some(7L), false), (false, None, true))
    check(Prop.forAll(probeGen, quoteGen) { (ps, qs) =>
      (ps.nonEmpty && qs.nonEmpty) ==> {
        val (pdf, qdf) = frames(ps, qs)
        val got = collectTagged(variants.flatMap { case (strict, tol, fwd) =>
          Seq(
            AsOfJoinOps.asofJoin(pdf, qdf, Seq("kk"), "pt", "qt", strict, tol, fwd),
            AsOfJoinOps.asofJoinSalted(pdf, qdf, Seq("kk"), "pt", "qt",
              strict, tol, fwd, saltBuckets = 3),
            // saltOn with a per-row-unique column (the tied-timestamp
            // degeneracy escape hatch) must also be row-identical
            AsOfJoinOps.asofJoinSalted(pdf, qdf, Seq("kk"), "pt", "qt",
              strict, tol, fwd, saltBuckets = 3, saltOn = Seq("pt", "pid")))
        }).map(_.map { case (pid, qt, _) => (pid, qt) })
        got.grouped(3).forall { case Seq(plain, salted, saltedById) =>
          plain == salted && plain == saltedById
        }
      }
    })
  }

  test("shuffled and broadcast modes agree when (key, time) is unique on the right") {
    val uniqueQuoteGen = quoteGen.map(_.distinctBy(q => (q._1, q._2)))
    check(Prop.forAll(probeGen, uniqueQuoteGen) { (ps, qs) =>
      (ps.nonEmpty && qs.nonEmpty) ==> {
        val (pdf, qdf) = frames(ps, qs)
        val got = collectTagged(allVariants.flatMap { case (strict, tol, fwd) =>
          Seq(
            AsOfJoinOps.asofJoin(pdf, qdf, Seq("kk"), "pt", "qt", strict, tol, fwd),
            AsOfJoinOps.asofJoin(pdf, broadcast(qdf), Seq("kk"), "pt", "qt", strict, tol, fwd))
        })
        got.grouped(2).forall { case Seq(shuffled, bcast) => shuffled == bcast }
      }
    })
  }
}
