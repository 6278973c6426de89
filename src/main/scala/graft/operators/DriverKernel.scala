package graft.operators

import org.apache.spark.sql.Dataset

/** The capped driver kernel: run a small model-scale computation on the
  * driver when its input fits under a cap, and distributed otherwise.
  *
  * Spark's fixed per-job cost dominates on small inputs (Chukonu, VLDB
  * 2021): a fixed-round fixpoint over a few thousand edges pays seconds
  * of shuffle-stage scheduling to move kilobytes, while the same rounds
  * over the collected rows take milliseconds. The contract that makes
  * this safe:
  *   - the rows are collected through `limit(cap + 1)`, so at most
  *     cap + 1 rows ever reach the driver;
  *   - ≤ cap rows IS the complete input, so `local` runs on it in one
  *     Spark job, with no count and no checkpoint;
  *   - cap + 1 rows proves overflow, and `distributed` runs instead
  *     (recomputing `rows` once — acceptable on the over-cap path).
  * Both paths must give the same answer; each caller has a spec that
  * runs its kernel at cap 0 and at its default cap on the same input.
  */
object DriverKernel {

  def capped[T, R](rows: Dataset[T], cap: Long)(local: Array[T] => R)(
      distributed: => R): R = {
    val n = math.min(cap, Int.MaxValue - 2L).toInt // `limit` takes an Int
    val got = rows.limit(n + 1).collect()
    if (got.length <= n) local(got) else distributed
  }
}
