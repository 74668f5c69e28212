package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed table storage for CO-LOCATED joins: write once bucketed+sorted
  * by the join key, and every subsequent key-equijoin between tables
  * bucketed the same way (same key, same bucket count) runs with NO shuffle
  * on either side — at 100 TB that turns the referential-check join
  * (fact ⋈ dimension-keys) from the dominant cost into a local merge per
  * bucket. The write pays one shuffle ONCE; every downstream join,
  * uniqueness-by-key aggregation, and FK check amortizes it.
  *
  * This is plain Spark bucketing (`bucketBy`/`sortBy` + the session
  * catalog), not a custom format: Catalyst's `EnsureRequirements` sees the
  * bucketed `HashPartitioning` and elides the `Exchange` (PlanSpec asserts
  * exactly that).
  */
object BucketedStore {

  /** Write `df` as a bucketed, per-bucket-sorted parquet table registered in
    * the session catalog. `buckets` must match across tables that will be
    * joined shuffle-free. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
