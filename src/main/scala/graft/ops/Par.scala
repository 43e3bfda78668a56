package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Local-parallelism guard (optimization guide §2.5 "input skew" /
  * §1.2 "the distributed algorithm first").
  *
  * The bench corpus is ONE parquet file with ONE row group per table, so
  * every scan — and every `localCheckpoint` taken directly over a scan —
  * yields a single partition. Any operator that multiplies rows ABOVE
  * such a frame (banded LSH self-joins, wedge joins, broadcast-join
  * probes) then runs its exploding stage on one core while the other 31
  * idle: AQE cannot help because the probe side has no Exchange below
  * it, and coalescing decisions are made from the (tiny) INPUT size, not
  * the join's output. Profiled on l2c_simhash: the band-join probe stage
  * ran 3.1 s in exactly one task (plans/r17/l2c_simhash_before.txt).
  *
  * `fanOut` hash-repartitions to the session default parallelism ONLY
  * when the frame currently has fewer partitions, so it is
  * scale-ADAPTIVE, not a local[32] constant: at production scale the
  * same scan arrives in thousands of splits, the guard short-circuits,
  * and the plan is byte-identical to the r16 one (zero added Exchange).
  * Callers must pass frames whose plan is exchange-free (scan+project)
  * or already materialized (`ExistingRDD` from a checkpoint): for those,
  * `.rdd.getNumPartitions` builds the RDD without running a job.
  *
  * Results are unaffected: the repartition key is a deterministic column
  * hash, every caller's output is integer/string-exact (no
  * float-summation-order sensitivity), and every declared query ends in
  * a total ordering.
  */
object Par {
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val cur = df.rdd.getNumPartitions
    if (cur >= p) df
    else df.repartition(p, keys: _*)
  }

  /** Round-robin variant. Use instead of the keyed form when a
    * downstream aggregation groups by a SUPERSET of the natural key:
    * `repartition(p, key)` then satisfies the aggregate's clustering
    * requirement, Catalyst drops the aggregate's own Exchange, and the
    * (tiny) aggregate output inherits the pinned p partitions — every
    * later consumer then runs p near-empty tasks per job (measured on
    * l69: each training step went 40→400 ms that way, r17). Round-robin
    * partitioning satisfies no clustering, so the aggregate keeps its
    * own AQE-coalescable Exchange and its output stays small-partitioned
    * while the map side still fans out. */
  def fanOutAny(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val cur = df.rdd.getNumPartitions
    if (cur >= p) df
    else df.repartition(p)
  }
}
