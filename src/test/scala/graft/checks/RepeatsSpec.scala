package graft.checks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The exact step behind every uniqueness check, on candidate rows that all
  * share one key hash: only the real key may group rows. */
class RepeatsSpec extends SparkSpec {
  import spark.implicits._

  test("repeats: one shared _kh over three distinct keys (null members) yields only true repeats") {
    val candidates = Seq[(String, String, Long)](
      ("a", null, 2L),
      (null, "b", 3L),
      ("a", "b", 4L),
      ("a", null, 5L),
      (null, "b", 6L),
      ("a", null, 7L)
    ).toDF("p", "q", "_rn").withColumn("_kh", lit(42L))
    val got = UniquenessCheck
      .repeats(candidates, Seq("p", "q"))
      .select(col("_rn"), col("_first"))
      .as[(Long, Long)]
      .collect()
      .sorted
      .toSeq
    assert(got == Seq(5L -> 2L, 6L -> 3L, 7L -> 2L))
  }

  test("repeats after candidateRows: a hash collision alone never makes a violation") {
    // two distinct keys forced onto one hash, one of them repeated
    val base = Seq[(String, Long, Long)](("x", 2L, 7L), ("y", 3L, 7L), ("y", 4L, 7L), ("z", 5L, 8L))
      .toDF("k", "_rn", "_kh")
    val got = UniquenessCheck
      .repeats(UniquenessCheck.candidateRows(base), Seq("k"))
      .select(col("k"), col("_rn"), col("_first"))
      .as[(String, Long, Long)]
      .collect()
      .toSeq
    assert(got == Seq(("y", 4L, 3L)))
  }
}
