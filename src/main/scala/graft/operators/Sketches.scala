package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate, MERGEABLE aggregates — the sketch tier of a 100 TB
  * engine. The scale contract is mergeability: per-partition /
  * per-day sketches are tiny fixed-size states that union without
  * rescanning history, so a year of daily distinct-user sketches rolls
  * up in milliseconds where an exact count would re-shuffle the year.
  *
  * The native-layout sketches (HLL, KLL/GK) cannot hash-match across
  * engines (different register layouts), so they gate via
  * deterministic INVARIANT queries (error bound vs the oracle-gated
  * exact twins; merge == one-shot) plus SketchesSpec. The relational
  * sketches built on md5-stable hashes (Count-Min, Bloom) are fully
  * engine-portable and hash-gate directly.
  */
object Sketches {

  /** Approximate distinct count per group via HyperLogLog++
    * (partial-aggregable, state = one HLL register array per group). */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** Apache DataSketches HLL partial: one binary sketch per group —
    * the materialize-then-merge half of the rollup pattern. */
  def hllPartial(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Merge pre-aggregated sketches down to estimates without touching
    * the base data (the incremental-rollup read path). */
  def hllMerge(partials: DataFrame, groupCols: Seq[String],
               sketchCol: String = "hll"): DataFrame =
    partials.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol), lit(false)))
        .as("approx_distinct"))

  /** Approximate quantiles via the percentile_approx sketch
    * (GK-style, bounded state `accuracy`, partial-aggregable). */
  def approxQuantiles(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, qs: Seq[Double],
                      accuracy: Int = 10000): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(percentile_approx(col(valueCol),
        array(qs.map(lit): _*), lit(accuracy)).as("approx_quantiles"))

  // -------------------------------------------------------------------
  // Deterministic mergeable HLL (graft-native, plans.HllDet): unlike
  // the library sketches above — whose estimate depends on HOW the
  // sketch was produced (streamed vs union'd applies HIP vs composite
  // estimators; measured) — these keep only the
  // max-register state, so merge-of-partials == one-shot EXACTLY for
  // any split of the input. That equality is what lets the sketch tier
  // ride the deterministic oracle gate (q_sketch_merge).
  // -------------------------------------------------------------------

  private def aggCol(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Column =
    org.apache.spark.sql.GraftSqlShims.column(f.toAggregateExpression())
  private def ex(c: Column) = org.apache.spark.sql.GraftSqlShims.expression(c)
  private def estimateCol(c: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(graft.plans.HllDetEstimate(ex(c)))

  /** One deterministic-HLL register blob (binary) per group. `valueCol`
    * must be bigint — hash other types upstream (e.g. xxhash64). */
  def detPartial(df: DataFrame, groupCols: Seq[String],
                 valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(aggCol(graft.plans.HllDetAgg(ex(col(valueCol)))).as("hll_det"))

  /** Union pre-aggregated deterministic sketches down to estimates —
    * bit-identical to estimating one sketch over the combined input. */
  def detMerge(partials: DataFrame, groupCols: Seq[String],
               sketchCol: String = "hll_det"): DataFrame =
    partials.groupBy(groupCols.map(col): _*)
      .agg(aggCol(graft.plans.HllDetMergeAgg(ex(col(sketchCol)))).as("__sk"))
      .select(groupCols.map(col) :+
        estimateCol(col("__sk")).as("approx_distinct"): _*)

  /** One-shot deterministic-HLL distinct estimate per group. */
  def detDistinct(df: DataFrame, groupCols: Seq[String],
                  valueCol: String): DataFrame =
    detPartial(df, groupCols, valueCol)
      .select(groupCols.map(col) :+
        estimateCol(col("hll_det")).as("approx_distinct"): _*)

  // -------------------------------------------------------------------
  // Deterministic Count-Min sketch, expressed RELATIONALLY: the sketch
  // is a (row, cell) -> count table built by one partial-aggregated
  // groupBy, so it is mergeable by construction (cell counts are exact
  // sums — union sketches by summing cells) and, unlike every library
  // sketch above, the ESTIMATES are engine-portable integers: the same
  // md5-based universal hashes compute the same cells anywhere, which
  // lets CMS estimates ride the hash-match oracle gate directly.
  // -------------------------------------------------------------------

  /** CMS cell table: `depth` x `width` rows of (r, cell, n). Shuffle
    * O(depth x width x partitions) after map-side partial aggregation,
    * regardless of input size — the 100 TB frequency-table contract.
    * State 3x256 longs ~ 6 KB at the defaults. */
  def countMinCells(tokens: DataFrame, tokenCol: String,
                    depth: Int = 3, width: Int = 256): DataFrame = {
    val x = graft.functions.StableHash.stable32(col(tokenCol))
    val rows = (0 until depth).map(r => struct(lit(r).as("r"),
      (graft.functions.StableHash.universal(x, r) % width).as("cell")))
    tokens.select(explode(array(rows: _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point-frequency estimates for `words` against a cell table:
    * est(w) = min over rows of the w-hashed cell — the classic CMS
    * read, never an underestimate, overestimate bounded by collisions
    * (~ 2N/width with constant probability per row). Broadcast-sized
    * probes join the tiny cell table; no scan of the base data. */
  def countMinEstimate(cells: DataFrame, words: DataFrame,
                       wordCol: String, depth: Int = 3,
                       width: Int = 256): DataFrame = {
    val x = graft.functions.StableHash.stable32(col(wordCol))
    val rows = (0 until depth).map(r => struct(lit(r).as("r"),
      (graft.functions.StableHash.universal(x, r) % width).as("cell")))
    words.select(col(wordCol), explode(array(rows: _*)).as("rc"))
      .select(col(wordCol), col("rc.r").as("r"), col("rc.cell").as("cell"))
      .join(cells, Seq("r", "cell"))
      .groupBy(col(wordCol)).agg(min(col("n")).as("cms_est"))
  }

  // --- Bloom filter (relational, mergeable) ------------------------------

  /** Per-row (word_idx, bit) cells for a Bloom filter of `1 << bitsLog2`
    * bits packed into 32-bit words (32-bit packing keeps every shifted
    * value positive in int64 — no sign-bit divergence across engines).
    * `k` universal hashes over the md5-stable key. */
  private[graft] def bloomCells(df: DataFrame, keyCol: Column, bitsLog2: Int,
                         k: Int, keep: Seq[Column]): DataFrame = {
    require(bitsLog2 >= 5 && bitsLog2 <= 30, "need 32..2^30 bits")
    val m = 1L << bitsLog2
    val x = graft.functions.StableHash.stable32(keyCol)
    val pos = (0 until k).map(i =>
      graft.functions.StableHash.universal(x, i) % m)
    df.select(keep :+ explode(array(pos: _*)).as("pos"): _*)
      .withColumn("word_idx", expr("pos DIV 32"))
      .withColumn("bit",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
      .drop("pos")
  }

  /** Build a Bloom filter over a key column: rows (word_idx, bits) —
    * only words with at least one set bit are materialized (sparse).
    * MERGEABLE: filters from different batches/days union by
    * `groupBy(word_idx).agg(bit_or(bits))` — the cross-batch "have I
    * seen this key before" primitive for ingest dedup at 100 TB, where
    * re-scanning history per batch is the thing you cannot do.
    * Deterministic (md5-stable hashes), so probes are engine-portable
    * and oracle-gateable — unlike a native sketch layout. */
  def bloomBuild(df: DataFrame, keyCol: Column, bitsLog2: Int = 16,
                 k: Int = 4): DataFrame =
    bloomCells(df, keyCol, bitsLog2, k, Nil)
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(bit)").as("bits"))

  /** Probe membership of `probes(keyCol)` against a built filter:
    * member = every one of the k bits set (absent word = unset).
    * NO false negatives ever (a built key's bits are all present by
    * construction); false positives bounded by the classic
    * (1 - e^{-kn/m})^k. The probe side joins the filter on word_idx —
    * a filter of 2^16 bits is 2 K words, broadcast everywhere. */
  def bloomProbe(words: DataFrame, probes: DataFrame, keyCol: String,
                 bitsLog2: Int = 16, k: Int = 4): DataFrame =
    bloomCells(probes, col(keyCol), bitsLog2, k, Seq(col(keyCol)))
      .join(broadcast(words), Seq("word_idx"), "left")
      .groupBy(col(keyCol))
      .agg(expr(
        "bool_and((coalesce(bits, CAST(0 AS BIGINT)) & bit) != 0)")
        .as("member"))
}
