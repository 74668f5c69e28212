package graft.stats

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one two-phase distributed prefix scan behind the exact running
  * statistics ([[Packing.assignBins]], [[Quantiles.exactBuckets]],
  * [[Quantiles.budgetFill]], [[Drift.ksExact]],
  * [[graft.text.TextOps.zipfFit]]). A running sum or rank over a global
  * order written as `sum(..).over(Window.orderBy(..))` with no partition
  * key collapses the whole table into ONE task (Spark plans a
  * single-partition Exchange for a global window) — the classic scale
  * killer. The scan instead:
  *  1. range-repartitions the caller's rows on its order columns into
  *     `spark.sql.shuffle.partitions` partitions and sorts within each
  *     (one shuffle, the same one any global sort pays; the range-bound
  *     sampling is its own small job);
  *  2. builds a fixed-width vector of long totals per partition (the
  *     caller's `measure` adds each row into a zeroed per-partition
  *     accumulator, no allocation per row) and collects the P vectors in
  *     partition order — the only driver traffic;
  *  3. turns them into per-partition EXCLUSIVE offsets and grand totals on
  *     the driver. The totals (and the collected vectors, for a slot that
  *     folds something other than a sum) are available before the second
  *     pass runs, so the caller checks its preconditions (non-empty input,
  *     two non-empty sides, no negative weight) from them;
  *  4. broadcasts the offsets and runs the caller's per-partition emit,
  *     which receives its partition's starting offsets and walks the
  *     partition's rows in order, carrying its own running state.
  * Both passes read ONE lineage, so the second pass reuses the range
  * shuffle's map output instead of re-shuffling. Every partition sees the
  * exact global prefix of every slot whatever the sampled range bounds
  * were, so the result is a pure function of the rows and the order —
  * provided the order is TOTAL (ties would make prefixes depend on their
  * placement; callers add a tie column to the order).
  *
  * ROW CONTRACT: below the `.rdd` drop, rows carry the columns of the
  * frame handed to [[PrefixScan.apply]], by ordinal in its select order;
  * `measure` and `emit` read fields by those ordinals only. */
private[graft] final class PrefixScan private (
    spark: SparkSession, rows: RDD[Row], val partitionTotals: Array[Array[Long]], width: Int) {

  private val offsets: Array[Array[Long]] =
    partitionTotals.scanLeft(new Array[Long](width))((acc, p) => Array.tabulate(width)(j => acc(j) + p(j)))

  /** The grand total of every slot. */
  val totals: Array[Long] = offsets.last

  /** The second pass: `emit` gets its partition's starting offsets (a copy
    * it may use as running state) and the partition's rows in order. */
  def pass[T: ClassTag](emit: (Array[Long], Iterator[Row]) => Iterator[T]): RDD[T] = {
    val bc = spark.sparkContext.broadcast(offsets)
    rows.mapPartitionsWithIndex((i, it) => emit(bc.value(i).clone(), it))
  }

  /** [[pass]] emitting rows of non-null longs, as a DataFrame with these column names. */
  def frame(columns: String*)(emit: (Array[Long], Iterator[Row]) => Iterator[Row]): DataFrame =
    spark.createDataFrame(pass(emit), StructType(columns.map(StructField(_, LongType, nullable = false))))
}

private[graft] object PrefixScan {

  /** Runs phases 1–3 over `rows` (the caller's projection) in `order`;
    * `measure` adds one row into a `width`-slot accumulator. */
  def apply(rows: DataFrame, order: Seq[Column], width: Int)(measure: (Row, Array[Long]) => Unit): PrefixScan = {
    val spark = rows.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val rdd = rows.repartitionByRange(p, order: _*).sortWithinPartitions(order: _*).rdd
    val parts = rdd.mapPartitions { it =>
      val acc = new Array[Long](width)
      while (it.hasNext) measure(it.next(), acc)
      Iterator.single(acc)
    }.collect()
    new PrefixScan(spark, rdd, parts, width)
  }
}
