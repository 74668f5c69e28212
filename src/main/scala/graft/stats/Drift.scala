package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift detection: PSI and KS statistic between a current
  * column distribution and a baseline snapshot, computed over equal-width
  * histograms (or quantile sketches).
  *
  * Distributed part: one histogram aggregation per side (bounded output —
  * `buckets` rows). Driver part: O(buckets) arithmetic over the collected
  * bucket counts. At 100 TB the histograms are the only thing that moves.
  */
object Drift {

  /** Population Stability Index between two bucket-count vectors.
    * PSI = Σ (p_i - q_i) * ln(p_i / q_i), with zero-count smoothing. */
  def psi(current: Seq[Long], baseline: Seq[Long], eps: Double = 1e-6): Double = {
    require(current.size == baseline.size, "bucket counts must align")
    val cTot = math.max(current.sum, 1L).toDouble
    val bTot = math.max(baseline.sum, 1L).toDouble
    current.zip(baseline).map { case (c, b) =>
      val p = math.max(c / cTot, eps)
      val q = math.max(b / bTot, eps)
      (p - q) * math.log(p / q)
    }.sum
  }

  /** Two-sample KS statistic from aligned histograms: max |CDF_p - CDF_q|. */
  def ks(current: Seq[Long], baseline: Seq[Long]): Double = {
    require(current.size == baseline.size, "bucket counts must align")
    val cTot = math.max(current.sum, 1L).toDouble
    val bTot = math.max(baseline.sum, 1L).toDouble
    var cAcc = 0.0; var bAcc = 0.0; var maxD = 0.0
    current.zip(baseline).foreach { case (c, b) =>
      cAcc += c / cTot; bAcc += b / bTot
      maxD = math.max(maxD, math.abs(cAcc - bAcc))
    }
    maxD
  }

  /** Collect an equal-width histogram as a dense bucket-count vector. */
  def histogramVector(df: DataFrame, c: Column, lo: Double, hi: Double, buckets: Int): Seq[Long] = {
    val counts = ColumnStats
      .histogram(df, c, lo, hi, buckets)
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    (0 until buckets).map(i => counts.getOrElse(i, 0L))
  }

  /** EXACT two-sample KS statistic in pure integer arithmetic — the
    * oracle-grade sibling of [[ks]] (histogram CDFs) and
    * [[SketchDrift.ks]] (KLL sketches): D = ks_num / (n1·n2), where
    * ks_num = max over the merged value grid of |k1·n2 − k2·n1| and k_i is
    * side i's inclusive count of values ≤ v. Returns ONE row
    * (ks_num, n1, n2) — integers only, so a SQL oracle restates it
    * hash-exactly, and the double D is one correctly-rounded division away
    * when a caller wants it. Reference analogue: the drift report channel
    * of the reference's summary stats (jobs.py:159-160), made exact.
    *
    * Scale shape: one groupBy(value) shuffle collapses BOTH sides onto the
    * distinct-value grid (map-side combinable counts); the CDF prefix sums
    * over that grid are the two-slot [[PrefixScan]] over the value, and
    * each partition returns only its running max — NEVER the
    * single-partition Exchange Spark plans for a global sum().over()
    * window. Overflow bound: k·n ≤ n1·n2 < 2^63 holds up to ~3e9 rows per
    * side. */
  def ksExact(a: DataFrame, ac: Column, b: DataFrame, bc: Column): DataFrame = {
    val u = a.select(ac.cast("double").as("_v")).na.drop
      .select(col("_v"), lit(1L).as("_c1"), lit(0L).as("_c2"))
      .unionAll(b.select(bc.cast("double").as("_v")).na.drop
        .select(col("_v"), lit(0L).as("_c1"), lit(1L).as("_c2")))
    val scan = PrefixScan(u.groupBy("_v").agg(sum("_c1").as("_c1"), sum("_c2").as("_c2")),
        Seq(col("_v")), 2) { (r, acc) =>
      acc(0) += r.getLong(1)
      acc(1) += r.getLong(2)
    }
    val Array(n1, n2) = scan.totals
    require(n1 > 0 && n2 > 0, s"both sides must be non-empty: n1=$n1 n2=$n2")
    val ksNum = scan.pass { (k, it) =>
      var m = 0L
      while (it.hasNext) {
        val r = it.next(); k(0) += r.getLong(1); k(1) += r.getLong(2)
        val d = math.abs(k(0) * n2 - k(1) * n1)
        if (d > m) m = d
      }
      Iterator(m)
    }.collect().max
    import a.sparkSession.implicits._
    Seq((ksNum, n1, n2)).toDF("ks_num", "n1", "n2")
  }

  /** Per-GROUP exact KS — [[ksExact]] stratified by a group key present on
    * both sides (per-language / per-source drift between two corpus
    * snapshots, the monitoring table a crawl pipeline alerts on). Output:
    * one row per group (g, ks_num, n1, n2); groups missing from either
    * side are dropped (no distribution to compare against).
    *
    * Scale shape: one groupBy(group, value) collapse, then windows
    * PARTITIONED BY group over the distinct-value grid — partitioned
    * windows distribute across groups, so the single-partition global
    * window trap does not apply; ONE giant group degenerates to a
    * single-task sort, and that case is exactly what the two-phase
    * [[ksExact]] is for. */
  def ksExactBy(
      a: DataFrame, ac: Column, ag: Column,
      b: DataFrame, bc: Column, bg: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = a.select(ag.as("g"), ac.cast("double").as("_v")).na.drop("any", Seq("_v"))
      .select(col("g"), col("_v"), lit(1L).as("_c1"), lit(0L).as("_c2"))
      .unionAll(b.select(bg.as("g"), bc.cast("double").as("_v")).na.drop("any", Seq("_v"))
        .select(col("g"), col("_v"), lit(0L).as("_c1"), lit(1L).as("_c2")))
    val grid = u.groupBy("g", "_v").agg(sum("_c1").as("c1"), sum("_c2").as("c2"))
    val w = Window.partitionBy("g").orderBy("_v")
    val tot = Window.partitionBy("g")
    grid
      .withColumn("k1", sum("c1").over(w))
      .withColumn("k2", sum("c2").over(w))
      .withColumn("n1", sum("c1").over(tot))
      .withColumn("n2", sum("c2").over(tot))
      .groupBy("g")
      .agg(
        max(abs(col("k1") * col("n2") - col("k2") * col("n1"))).as("ks_num"),
        max("n1").as("n1"), max("n2").as("n2"))
      .filter(col("n1") > 0 && col("n2") > 0)
  }

  /** End-to-end drift between two frames on one column: (psi, ks). */
  def detect(
      current: DataFrame,
      baseline: DataFrame,
      c: Column,
      lo: Double,
      hi: Double,
      buckets: Int = 10
  ): (Double, Double) = {
    val cur = histogramVector(current, c, lo, hi, buckets)
    val base = histogramVector(baseline, c, lo, hi, buckets)
    (psi(cur, base), ks(cur, base))
  }
}
