package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{call_function, col, lit, xxhash64}

/** Bloom-filter semi-join reduction (SURVEY.md §4): prune a huge fact
  * scan against a selective dim BEFORE the join's shuffle. This is the
  * technique Spark's own runtime row-level filtering
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, InjectRuntimeFilter)
  * applies when its thresholds and plan-shape heuristics line up; the
  * explicit operator makes it deterministic and composable — and reuses
  * Spark's native `BloomFilterAggregate` / `BloomFilterMightContain`
  * expressions (exposed as `bloom_agg` / `bloom_contains` by
  * [[graft.expr.GraftFunctions]]), so the membership probe is the same
  * codegen'd expression the optimizer itself plants, not a UDF.
  *
  * Correctness does NOT depend on the filter's sizing: a bloom filter
  * admits a superset (false positives, never false negatives), so the
  * exact join downstream always produces exact results — an undersized
  * filter only prunes less. That makes fixed conservative sizing safe at
  * ANY scale factor.
  *
  * 100 TB posture: the dim side aggregates to ONE bounded binary
  * (`numBits/8` bytes — the only driver pull, F5-class), and the probe
  * is a map-side filter on the fact scan, so the join's shuffle moves
  * only `~selectivity × |fact|` rows. Both hash sides use the same
  * `xxhash64` (seed 42) Spark's runtime filter uses.
  */
object BloomOps {

  /** Filter `fact` to rows whose `factKey` might appear in `dim`'s
    * `dimKey` (superset semantics). Follow with the exact join.
    */
  def bloomReduce(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
                  expectedItems: Long = 200000L, numBits: Long = 1600000L): DataFrame = {
    require(expectedItems > 0 && numBits > 0, "bloom sizing must be positive")
    // xxhash64 is TYPE-sensitive: an int 5 and a long 5 hash differently,
    // so mixed-width keys would turn false positives into false NEGATIVES
    // (dropping matching rows the downstream join's numeric coercion would
    // keep) — the one failure mode this operator promises not to have.
    // Spark's own InjectRuntimeFilter avoids it by hashing post-coercion
    // join keys; here the caller aligns the types explicitly.
    val ft = fact.schema(factKey).dataType
    val dt = dim.schema(dimKey).dataType
    require(ft == dt,
      s"bloomReduce keys must share one data type (xxhash64 is type-sensitive): " +
        s"$factKey is $ft, $dimKey is $dt — cast one side before calling")
    // one bounded driver pull: the serialized filter (numBits/8 bytes)
    val bf = dim
      .select(call_function("bloom_agg",
        xxhash64(col(dimKey)), lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    fact.filter(call_function("bloom_contains", lit(bf), xxhash64(col(factKey))))
  }
}
