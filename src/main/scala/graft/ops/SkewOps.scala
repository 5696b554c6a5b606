package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.ExactSums

/** Skew-handling utilities (SURVEY.md §4 scale posture). AQE's skew-join
  * split handles join-side skew automatically; these cover the
  * aggregation side: a hot group key (e.g. one viral gameId/playId, one
  * dominant token in dedup) funnels its whole partition through one
  * task. Salting splits the hot key across `saltBuckets` tasks and
  * recombines — the classic two-phase aggregate.
  */
object SkewOps {

  /** Two-phase salted sum/count: phase 1 aggregates (key, salt) partials
    * across `saltBuckets` tasks, phase 2 combines per key. `aggs` are
    * exact long terms (counts, `cents`); both phases sum them with the
    * overflow-checked exact sum (`graft.expr.ExactSums.total`), which is
    * order-independent, so results are identical to a direct groupBy.
    */
  def saltedAgg(keys: Seq[String], saltBuckets: Int, aggs: Map[String, Column])(df: DataFrame): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets " +
      "(pmod by 0 yields NULL salts and silently drops every row)")
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__cnt"), aggs.map { case (n, c) => ExactSums.total(Seq(c)).as(s"__sum_$n") }.toSeq: _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__cnt")).as("n_rows"),
        aggs.keys.map(n => ExactSums.total(Seq(col(s"__sum_$n"))).as(n)).toSeq: _*)
  }

  /** Salted shuffle join for a pathologically hot join key, for when
    * BOTH sides are too big to broadcast and AQE's skew split (which
    * only divides partitions, not one giant key) isn't enough: the fact
    * side gets a deterministic salt in [0, saltBuckets) (hash of its
    * non-key columns — NOT random, so replays/retries and the oracle
    * stay stable), the dim side is replicated once per salt value, and
    * the join runs on (key, salt) — the hot key's rows now spread over
    * `saltBuckets` tasks. Row-identical to the unsalted equi-join.
    *
    * `saltCols` must VARY within the hot key: if a hot key's rows are
    * exact duplicates on the salt columns, every row hashes to the same
    * salt and the key still funnels one task (while still paying the
    * dim replication). Pick row-distinguishing columns (line numbers,
    * ids, timestamps), or fall back to per-partition salts.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                 saltBuckets: Int, saltCols: Seq[String]): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets " +
      "(pmod by 0 yields NULL salts: the inner join would return EMPTY, not fail)")
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "saltedJoin reserves the __salt column name; rename it on the input first")
    val saltedFact = fact.withColumn("__salt", pmod(hash(saltCols.map(col): _*), lit(saltBuckets)))
    val replicatedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact.join(replicatedDim,
      saltedFact(factKey) === replicatedDim(dimKey) &&
        saltedFact("__salt") === replicatedDim("__salt"))
      .drop("__salt")
  }
}
