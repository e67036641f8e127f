package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rule-based row/entity classification, UDF-free.
  *
  * The reference ships two Scala UDFs (ApplaudoETL.scala:200-211, 234-245)
  * that block codegen and serialize closures to executors. Both are
  * re-expressed here as native `when` chains over per-entity conditional
  * sums (window columns or `groupBy` aggregates) — provably equivalent
  * (including the reference's integer-division semantics, see
  * [[allOrNothingCategory]]) and fully codegen-able.
  */
object Classify {

  /** Per-key unbounded-window sum (reference A1: `sum(x).over(
    * Window.partitionBy(user))` — per-entity total attached to every row).
    */
  def windowTotal(df: DataFrame, keyCol: String, valueCol: String,
                  as: String): DataFrame =
    df.withColumn(as, sum(col(valueCol)).over(Window.partitionBy(keyCol)))

  /** Conditional windowed sum (reference A2):
    * `sum(when(pred, value).otherwise(0)).over(partitionBy(key))`.
    */
  def windowCondSum(key: String, pred: Column, value: Column): Column =
    sum(when(pred, value).otherwise(lit(0))).over(Window.partitionBy(key))

  /** Reference U1 semantics, generalized. The reference's
    * `clientsCategoryUdf` divides Int by Int (`mom/total > 0.5`), which in
    * Scala is integer division: for subset counts the ratio is 0 unless the
    * subset equals the total. Effective rule: label L applies iff 100% of
    * the entity's rows fall in L's bucket; first match wins; else default.
    *
    * `rules` maps label -> that label's conditional-count column; `total`
    * is the entity's total count. The chain is one codegen'd CASE — no
    * UDF.
    */
  def allOrNothingCategory(rules: Seq[(String, Column)], total: Column,
                           default: String): Column =
    rules.foldRight(lit(default): Column) { case ((label, cnt), el) =>
      when(cnt === total, lit(label)).otherwise(el)
    }

  /** Reference U2 semantics, generalized: segment an entity by comparing a
    * per-entity measure against per-group quantile thresholds (strict `>`),
    * with disjoint guard ranges on a second attribute, falling through to
    * `default`. Thresholds arrive as a (tiny) DataFrame joined broadcast —
    * no driver-side mutable map, no closure capture (reference builds a
    * `mutable.Map` over 7 serial jobs, ApplaudoETL.scala:250-257).
    */
  def segment(measure: Column, guard: Column,
              bands: Seq[(Column => Column, Column)],
              default: String, labels: Seq[String]): Column = {
    require(bands.length == labels.length)
    bands.zip(labels).foldRight(lit(default): Column) {
      case (((guardPred, threshold), label), el) =>
        when(guardPred(guard) && measure > threshold, lit(label)).otherwise(el)
    }
  }
}
