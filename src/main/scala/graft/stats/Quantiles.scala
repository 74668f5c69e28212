package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact distributed quantile bucketing — the population-quantile step of
  * corpus curation: length-decile data cards, CCNet-style head/middle/tail
  * quality terciles (Wenzek et al. 2020 split the corpus at the 33rd/66th
  * perplexity percentiles), curriculum shard assignment by score order.
  * `approx_percentile` is the wrong tool for all of these — bucket
  * MEMBERSHIP must be reproducible (a doc's tercile decides whether it
  * trains), and sketch error moves boundary docs between buckets from run
  * to run.
  */
object Quantiles {

  /** Assigns every row its exact k-quantile bucket by GLOBAL rank over
    * (value, tie): `bucket = rank·k / n` with 0-based rank and long floor
    * division — rank 0 → bucket 0, the last row → bucket k−1, bucket
    * sizes differ by at most 1. Ties break on `tie`, so the assignment is
    * total and deterministic on any partitioning. Output: (id, v, bucket).
    *
    * Why not `ntile(k) OVER (ORDER BY …)`: Spark plans the unpartitioned
    * window as ONE task holding the whole corpus. The global rank is the
    * row count of the [[PrefixScan]] over (v, id) instead. A hot value
    * (every doc truncated to the same token budget) spreads across range
    * partitions because the tie id is part of the range key — no single
    * hot task, unlike a window partitioned by value.
    *
    * Values are exact longs (counts, fixed-point scores — the repo-wide
    * exactness discipline); null value or tie rows are dropped. Bucket
    * arithmetic is pure long division, so a SQL oracle (row_number window
    * + integer division) restates every assignment bit-for-bit. Overflow:
    * rank·k < n·k needs n < 2^63/k — beyond 9e17 rows at k=10. */
  def exactBuckets(df: DataFrame, value: Column, tie: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val scan = PrefixScan(
      df.select(tie.cast("long").as("id"), value.cast("long").as("v")).na.drop(),
      Seq(col("v").asc, col("id").asc), 1)((_, acc) => acc(0) += 1)
    val n = scan.totals(0)
    require(n > 0, "exactBuckets needs a non-empty input")
    val kk = k.toLong
    scan.frame("id", "v", "bucket") { (off, it) =>
      it.map { row =>
        val bucket = off(0) * kk / n
        off(0) += 1
        Row(row.getLong(0), row.getLong(1), bucket)
      }
    }
  }

  /** Per-STRATUM exact quantile buckets — [[exactBuckets]] partitioned by a
    * stratum key (per-language length deciles, per-source quality terciles:
    * the stratified data card that decides per-stratum truncation and
    * mixing policies). Output: (stratum, id, v, bucket).
    *
    * Scale shape: windows PARTITIONED BY stratum distribute across strata
    * (the [[Drift.ksExactBy]] argument) — no single-partition global
    * window. The caveat is a HOT stratum: one stratum holding most of the
    * corpus degenerates to one window task, and that case is exactly what
    * the two-phase [[exactBuckets]] is for — run it per hot stratum.
    * A NULL stratum is a real partition and buckets like any other (the
    * quotaSample lesson); null value/tie rows are dropped. */
  def exactBucketsBy(df: DataFrame, stratum: Column, value: Column, tie: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("stratum").orderBy(col("v").asc, col("id").asc)
    df.select(stratum.as("stratum"), tie.cast("long").as("id"), value.cast("long").as("v"))
      .na.drop("any", Seq("id", "v"))
      .withColumn("_rk", row_number().over(w).cast("long") - 1)
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("stratum")))
      .select(col("stratum"), col("id"), col("v"),
        expr(s"(_rk * ${k.toLong}L) DIV _n").as("bucket"))
  }

  /** Greedy token-budget fill — the corpus-assembly selection step ("take
    * the best documents until the token budget is met", the FineWeb-style
    * classifier-score cut): rows are ranked by (score DESC, tie ASC) and
    * kept while the INCLUSIVE running weight (token count) stays within
    * `budget`. Output: the kept rows as (id, score, w, cum) — `cum` is the
    * running total, so max(cum) is the realized budget and the boundary
    * doc is auditable. Deterministic on any partitioning (total order via
    * the tie key; integer arithmetic only).
    *
    * Why not `sum(w) OVER (ORDER BY score DESC)`: the same unpartitioned-
    * window trap as [[exactBuckets]] — one task holds the corpus. The
    * running weight is the [[PrefixScan]] over (score DESC, id). Partitions
    * whose offset already exceeds the budget are skipped whole — Catalyst
    * cannot prune them without knowing the offsets. Weights must be
    * non-negative: a negative one would make that skip drop rows the
    * cum <= budget rule keeps (and make the kept set partitioning-
    * dependent), so it fails fast, naming the smallest weight. */
  def budgetFill(df: DataFrame, score: Column, weight: Column, tie: Column, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    // slot 0: the weight total; slot 1: the partition's smallest weight, if below 0
    val scan = PrefixScan(
      df.select(tie.cast("long").as("id"), score.cast("long").as("score"), weight.cast("long").as("w")).na.drop(),
      Seq(col("score").desc, col("id").asc), 2) { (r, acc) =>
      val w = r.getLong(2)
      acc(0) += w
      if (w < acc(1)) acc(1) = w
    }
    val minW = scan.partitionTotals.foldLeft(0L)((m, t) => math.min(m, t(1)))
    require(minW >= 0L,
      s"budgetFill: negative weight $minW — the greedy cum <= budget rule is only " +
        "defined for non-negative weights")
    scan.frame("id", "score", "w", "cum") { (off, it) =>
      if (off(0) > budget) Iterator.empty // whole partition past the cut
      else it.flatMap { row =>
        off(0) += row.getLong(2)
        if (off(0) <= budget) Some(Row(row.getLong(0), row.getLong(1), row.getLong(2), off(0)))
        else None
      }
    }
  }
}
