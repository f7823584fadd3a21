package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Mergeable distinct-count sketches — the pre-aggregation pattern that
  * makes "distinct users per (day, dim…)" tractable at 100 TB.
  *
  * `count(DISTINCT x)` does not re-aggregate: a daily exact count cannot
  * be rolled into a monthly one without rescanning the raw data, so every
  * new grain is another full pass. A Datasketches HLL sketch does
  * re-aggregate — `union(sketch(A), sketch(B)) == sketch(A ∪ B)` — so one
  * pass over the raw data yields fine-grained sketch rows that answer
  * EVERY coarser grain by unioning binaries (a metadata-scale aggregate,
  * never a rescan). Spark ships the whole surface as codegen'd
  * aggregates: `hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate` (Datasketches HLL_8, lgK-configurable), so this
  * operator is plan composition, not a custom UDAF.
  *
  * Scale notes: the pre-agg is one shuffle on the full key (map-side
  * partial sketches — each executor emits ONE sketch per local group,
  * not its raw rows); every coarser rollup shuffles only pre-agg rows
  * (|groups| × ~2^lgK bytes, independent of raw row count). Estimate
  * error is the standard HLL ±1.04/√2^lgK (lgK 12 ≈ ±1.6% at 1σ, ~4 KiB
  * per group).
  *
  * Mirrors the reference's daily/hourly gold rollups
  * (`sql/gold_layer_views_delta.sql` daily_transaction_summary), which
  * recompute each grain from silver instead; a sketch column would let
  * its dashboard answer ad-hoc grains without new scans.
  */
object Sketches {

  /** One pass over `df`: per `keyCols` group, an HLL sketch binary of
    * `valueCol` (column `sketch`) plus its estimate (`approx_distinct`).
    * Keep the sketch column in the stored rollup — it is the part that
    * re-aggregates.
    */
  def distinctSketchRollup(df: DataFrame, keyCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(F.col): _*)
      .agg(F.hll_sketch_agg(F.col(valueCol), F.lit(lgK)).as("sketch"))
      .withColumn("approx_distinct", F.hll_sketch_estimate(F.col("sketch")))

  /** Re-rollup: union the stored sketches down to `coarserKeys` (a subset
    * of the pre-agg's keys — or Nil for a global count) without touching
    * raw data. The resulting `sketch` column re-aggregates again, so
    * grains compose (hour → day → month each from the previous).
    */
  def mergeToGrain(preAgg: DataFrame, coarserKeys: Seq[String]): DataFrame = {
    val merged =
      if (coarserKeys.isEmpty)
        preAgg.agg(F.hll_union_agg(F.col("sketch"), F.lit(false)).as("sketch"))
      else
        preAgg.groupBy(coarserKeys.map(F.col): _*)
          .agg(F.hll_union_agg(F.col("sketch"), F.lit(false)).as("sketch"))
    // a global (coarserKeys=Nil) merge of an EMPTY pre-agg still emits one
    // row, with a null sketch — estimate 0, not null, so long-typed readers
    // (SketchStream.read → getAs[Long]) don't NPE on a pre-first-batch store
    merged.withColumn("approx_distinct",
      F.when(F.col("sketch").isNull, F.lit(0L))
        .otherwise(F.hll_sketch_estimate(F.col("sketch"))))
  }

  /** EXACT heavy hitters (items in at least `minShare` of rows) without
    * a vocabulary-sized shuffle — the standard two-pass composition over
    * the Misra–Gries sketch ([[graft.plans.FreqItemsAggregate]]):
    *
    *   pass 1: one MG aggregate over the corpus → ≤ k candidate items
    *     (plus the row count n in the same pass). MG guarantees every
    *     item with true count > n/(k+1) survives its counters, so with
    *     `k + 1 > 1/minShare` the candidate set is a SUPERSET of every
    *     item at ≥ ceil(minShare·n) — the sketch can only over-admit,
    *     never drop a qualifying item.
    *   pass 2: exact recount restricted to the candidates (a broadcast
    *     join — ≤ k items, metadata-scale), then the ceil(minShare·n)
    *     threshold.
    *
    * The result is therefore EXACT (identical to `GROUP BY item HAVING
    * count >= ceil(minShare·n)` — oracle qa15 checks precisely that)
    * while both shuffles stay bounded: pass 1 ships ≤ k counters per map
    * task, pass 2 groups only candidate-matched rows over ≤ k keys. The
    * all-exact alternative shuffles the full vocabulary — at 100 TB of
    * text, that is the difference between a bounded plan and one sized
    * by distinct-term count. A relative threshold (not an absolute
    * count) is what makes the guarantee scale-free: the same (k,
    * minShare) contract holds at every corpus size.
    */
  def exactHeavyHitters(df: DataFrame, itemCol: String, k: Int,
      minShare: Double): DataFrame = {
    require(minShare > 0 && minShare < 1, "minShare must be in (0, 1)")
    require(k + 1 > 1.0 / minShare,
      s"exactHeavyHitters: need k+1 > 1/minShare (= ${1.0 / minShare}) for the " +
        "completeness guarantee; raise k or minShare")
    val rows = df.filter(F.col(itemCol).isNotNull)
    // candidates and n from ONE pass; the 1-row result explodes to ≤ k
    // rows carrying n, which the broadcast join attaches to every match
    val cands = rows
      .agg(F.count(F.lit(1)).as("n"), F.expr(s"freq_items_sketch($itemCol, $k)").as("s"))
      .select(F.col("n"), F.explode(F.col("s")).as("c"))
      .select(F.col("c.item").as(itemCol), F.col("n"))
    rows.join(F.broadcast(cands), Seq(itemCol)) // 1 cand row per item: no fan-out
      .groupBy(itemCol)
      .agg(F.count(F.lit(1)).as("cnt"), F.first("n").as("n"))
      .filter(F.col("cnt") >= F.ceil(F.lit(minShare) * F.col("n")))
      .drop("n")
  }
}
