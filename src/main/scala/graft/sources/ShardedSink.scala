package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.stats.Packing

/** Training-shard export — the delivery step after sequence packing: write
  * a curated corpus as `shards` parquet shards of ~equal TOKEN budget (not
  * row count), the layout a training data loader consumes one shard per
  * worker.
  *
  * Construction: docs are packed into contiguous fixed-budget bins in
  * global `order` ([[Packing.assignBins]], whose prefix sum is the
  * [[graft.stats.PrefixScan]], never a single-partition window), then
  * bins round-robin onto shards (`shard = bin % shards`) — bins are ~one
  * budget of tokens each, so spreading them cyclically balances shard
  * totals WITHOUT knowing the total bin count up front (a contiguous split,
  * `bin / binsPerShard`, would need a second global count first; exact
  * equality holds when bin sizes are uniform, and the residual spread is
  * bounded by the per-bin size variance either way). Within a shard, rows
  * keep bin-then-order sort so a loader streams bins contiguously.
  *
  * Scale shape: the bin mapping is an 8-byte (id, bin) frame equi-joined
  * back onto the corpus; the write shuffles once on the shard key
  * (`repartitionByRange(shard, order)` — range, not hash, so every shard
  * gets its own task(s) and no two shards collide on one reducer), then
  * `partitionBy(shard)` lays files out as `shard=K/part-*.parquet`.
  *
  * Returns the (id, bin, shard) assignment frame (what a manifest records;
  * also what the driver-level oracle checks — q76 reads the WRITTEN files
  * back and re-derives the assignment in SQL). */
object ShardedSink {

  def write(
      df: DataFrame,
      id: Column,
      order: Column,
      weight: Column,
      budget: Long,
      shards: Int,
      path: String
  ): DataFrame = {
    require(shards > 0, s"shards must be positive: $shards")
    val bins = Packing.assignBins(df, id, order, weight, budget)
    // materialized once (r6): the range-repartitioned write SAMPLES its
    // input before shuffling it, so without the cut the PrefixScan plan
    // under the join executed twice (sampling pass + real pass); 24 B/row,
    // the same assignment a manifest records anyway
    val assignment = bins.select(
      col("id"), col("bin"), pmod(col("bin"), lit(shards.toLong)).as("shard"))
      .localCheckpoint(true)
    // caller contract: df must not already carry `bin`/`shard` columns
    df.withColumn("id", id.cast("long"))
      .join(assignment, Seq("id"))
      .repartitionByRange(shards, col("shard"), col("bin"))
      .sortWithinPartitions(col("shard"), col("bin"), col("id"))
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(path)
    assignment
  }
}
