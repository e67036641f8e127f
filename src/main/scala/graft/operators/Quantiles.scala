package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact per-group quantiles in ONE distributed job.
  *
  * The reference computes exact quartiles with 7 serial driver-side
  * `approxQuantile(relativeError=0.0)` actions, one per day-of-week
  * (ApplaudoETL.scala:250-257) — 7 full source re-reads. We compute all
  * groups x all probabilities in a single `groupBy(group).agg(percentile...)`
  * job: one shuffle on the group key and one aggregate buffer per group
  * for all probabilities, exact interpolated quantiles
  * (Spark `percentile` == SQL percentile_cont == DuckDB quantile_cont).
  *
  * Scale note: exact percentile buffers each group's values on the reducer
  * for that key — fine for bounded groups (7 days x O(rows/7)); for
  * unbounded 100 TB groups switch to `percentile_approx` with a pinned
  * accuracy (the knob is exposed here).
  */
object Quantiles {

  /** One row per group: group, q_<p*100> for each probability.
    * Interpolated (percentile_cont) semantics — matches DuckDB
    * quantile_cont for cross-engine oracles. */
  def perGroup(df: DataFrame, groupCol: String, valueCol: String,
               probs: Seq[Double], exact: Boolean = true,
               approxAccuracy: Int = 10000): DataFrame = {
    val ps = array(probs.map(lit): _*)
    byGroup(df, groupCol, probs,
      if (exact) percentile(col(valueCol), ps)
      else percentile_approx(col(valueCol), ps, lit(approxAccuracy)))
  }

  /** Element-based quantiles (returns actual data elements), matching
    * the reference's `stat.approxQuantile(..., relativeError=0.0)`
    * convention — but for ALL groups in one job instead of one driver
    * action per group. Exact while group sizes stay below accuracy/2;
    * raise `accuracy` (more memory) or accept the bounded error at
    * larger scales. */
  def perGroupElement(df: DataFrame, groupCol: String, valueCol: String,
                      probs: Seq[Double],
                      accuracy: Int = 1 << 20): DataFrame =
    byGroup(df, groupCol, probs, percentile_approx(col(valueCol),
      array(probs.map(lit): _*), lit(accuracy)))

  /** One aggregate buffer per group answers every probability; the
    * array it returns is projected to q_<p*100> columns. */
  private def byGroup(df: DataFrame, groupCol: String, probs: Seq[Double],
                      quantiles: Column): DataFrame =
    df.groupBy(col(groupCol)).agg(quantiles.as("__qs"))
      .select(col(groupCol) +: probs.indices.map(i =>
        col("__qs").getItem(i).as(s"q${(probs(i) * 100).round}")): _*)
}
