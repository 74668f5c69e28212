package graft

import org.apache.spark.sql.functions._
import graft.stats.Quantiles

/** Exact distributed quantile bucketing (two-phase global rank, q127). */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("exactBuckets equals the brute-force global-rank bucket on any partitioning") {
    val n = 10007L
    // deterministic non-uniform values with heavy ties (53 distinct values)
    def v(i: Long): Long = i * 2654435761L % 53L
    val df = (1L to n).map(i => (i, v(i))).toDF("id", "v")
    val got = Quantiles.exactBuckets(df.repartition(13), col("v"), col("id"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val expected = (1L to n).map(i => (i, v(i))).sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, vv), r) => (id, vv, r.toLong * 10L / n) }.sortBy(_._1)
    assert(got == expected)
    // floor-division bucketing: sizes differ by at most 1 and cover 0..k-1
    val sizes = got.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.keySet == (0L until 10L).toSet)
    assert(sizes.values.max - sizes.values.min <= 1)
  }

  test("exactBuckets: a fully-tied hot value (every doc at the same token budget) still buckets deterministically by tie id") {
    val df = (1L to 9000L).map(i => (i, 512L)).toDF("id", "v")
    val got = Quantiles.exactBuckets(df.repartition(17), col("v"), col("id"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got.size == 9000)
    assert(got(1L) == 0 && got(3000L) == 0)
    assert(got(3001L) == 1 && got(6000L) == 1)
    assert(got(6001L) == 2 && got(9000L) == 2)
  }

  test("exactBucketsBy: per-stratum buckets equal the brute force; NULL stratum is a real partition") {
    def v(i: Long): Long = i * 2654435761L % 37L
    val rows = (1L to 4000L).map(i =>
      (if (i % 5 == 0) null else s"l${i % 3}", i, v(i)))
    val df = rows.toDF("lang", "id", "v")
    val got = Quantiles.exactBucketsBy(df.repartition(11), col("lang"), col("v"), col("id"), k = 4)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._2).toSeq
    val expected = rows.map { case (l, i, vv) => (Option(l), i, vv) }
      .groupBy(_._1).toSeq.flatMap { case (_, ms) =>
        val n = ms.size.toLong
        ms.sortBy(t => (t._3, t._2)).zipWithIndex.map { case ((l, i, vv), r) =>
          (l, i, vv, r.toLong * 4L / n)
        }
      }.sortBy(_._2)
    assert(got == expected)
    assert(got.exists(_._1.isEmpty), "null stratum must appear in the output")
  }

  test("budgetFill equals the brute-force running-sum cut on any partitioning; edge budgets") {
    val n = 8000L
    def score(i: Long): Long = i * 2654435761L % 101L
    def w(i: Long): Long = i * 40503L % 17L // includes zero weights
    val df = (1L to n).map(i => (i, score(i), w(i))).toDF("id", "s", "w")
    val budget = 3000L
    val got = Quantiles.budgetFill(df.repartition(13), col("s"), col("w"), col("id"), budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    var cum = 0L
    val expected = (1L to n).map(i => (i, score(i), w(i))).sortBy(t => (-t._2, t._1))
      .flatMap { case (i, s, ww) => cum += ww; if (cum <= budget) Some((i, s, ww, cum)) else None }
      .sortBy(_._1)
    assert(got == expected)
    assert(got.nonEmpty && got.map(_._4).max <= budget)
    // budget >= total keeps everything; budget 0 keeps only leading zero-weight rows
    val total = (1L to n).map(w).sum
    assert(Quantiles.budgetFill(df, col("s"), col("w"), col("id"), total).count() == n)
    val zeroKept = Quantiles.budgetFill(df, col("s"), col("w"), col("id"), 0L)
      .collect().map(_.getLong(2)).toSeq
    assert(zeroKept.forall(_ == 0L))
  }

  test("budgetFill: a negative weight fails fast, naming the weight") {
    val df = (1L to 500L).map(i => (i, i % 7, if (i == 321L) -5L else i % 11)).toDF("id", "s", "w")
    val e = intercept[IllegalArgumentException] {
      Quantiles.budgetFill(df.repartition(5), col("s"), col("w"), col("id"), 100L)
    }
    assert(e.getMessage.contains("negative weight -5"), e.getMessage)
  }
}
