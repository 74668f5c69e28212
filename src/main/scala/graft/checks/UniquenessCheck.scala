package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.sources.TableSource

/** Uniqueness checks — single-column `unique` constraints, the composite
  * primary-key check, and exact duplicate-row detection.
  *
  * Semantics pinned by the reference (custom_checks.py:90-174):
  *  - the FIRST occurrence of a value/tuple is NOT an error; every later
  *    occurrence is (cache.add happens after membership test,
  *    custom_checks.py:121-143);
  *  - tuples whose members are ALL null are skipped (custom_checks.py:118-119);
  *  - composite violations get a distinct message naming the PK fields
  *    (custom_checks.py:126-140).
  *
  * Scale design — hash prefilter, then one exact window:
  *  1. [[candidateRows]]: count `xxhash64(key)` through a partial-aggregating
  *     groupBy. Only the 8-byte hash and its count cross the wire; map-side
  *     combine absorbs skewed keys (phash clusters) before the exchange.
  *  2. Hashes with count > 1 are duplicate CANDIDATES (true duplicates ∪ rare
  *     64-bit collisions). That tiny set is joined back to the rows as a
  *     data-induced predicate. When the planner can size both sides (a
  *     parquet scan, or a driver-parsed local relation too large for one
  *     partition) the candidate side is broadcast and the base rows never
  *     shuffle. Only when it cannot size them (an RDD of unknown size, or a
  *     candidate side above the broadcast threshold, as at 100 TB) does the
  *     join shuffle the base rows.
  *  3. [[repeats]]: one `min(_rn) over Window.partitionBy(key)` on the
  *     candidate rows; violations are the rows with `_rn > _first`. Window
  *     partitions group null members together, so key equality is
  *     null-safe, and hash collisions cannot create violations: the window
  *     groups by the real key. Only candidate rows shuffle here.
  *  The salted variant (`salts > 0`, see [[Skew]]) replaces step 3 with a
  *  two-phase aggregate joined back null-safely, for keys so hot that one
  *  window partition would overwhelm a task.
  *
  *  One partition skips the prefilter: a small driver-parsed source is one
  *  partition by construction (`TableSource.localFrame`), so no step needs an
  *  exchange and the prefilter would only add its count pass and broadcast
  *  job. [[candidateRows]] then returns every row, and [[repeats]] runs in
  *  the scan's task. The output is the same: a row repeats an earlier row
  *  of its key only if its key hash occurs at least twice, and the key's
  *  first row shares that hash, so the prefilter never drops a violating
  *  row or the row it cites.
  */
object UniquenessCheck {

  /** Violations for one unique key group (single column or composite PK).
    *
    * @param df        source frame
    * @param payloadCols columns of the `row` payload injected into errors
    * @param keyCols   the unique column (size 1) or the composite primaryKey
    * @param rowNumber 1-based row-number column (must be unique per row)
    * @param columnNumber 1-based position of the (first) key column
    * @param primaryKeyFields names for the composite message; non-empty ⇒
    *                  composite semantics
    */
  def violations(
      df: DataFrame,
      payloadCols: Seq[String],
      keyCols: Seq[String],
      rowNumber: Column,
      columnNumber: Int,
      primaryKeyFields: Seq[String] = Nil,
      partitionId: Option[Column] = None,
      /** >0 ⇒ two-phase salted aggregations (see [[Skew]]) for extreme
        * per-key skew; 0 (default) relies on map-side combine */
      salts: Int = 0
  ): DataFrame = {
    val rn = rowNumber.cast(LongType).as("_rn")
    val pid = partitionId.getOrElse(lit(null)).cast(IntegerType).as("_pid")
    val notAllNull = RowChecks.balanced(keyCols.map(col(_).isNotNull))(_ || _)
    val keyHash = xxhash64(keyCols.map(col): _*).as("_kh")
    val base = df
      .filter(notAllNull)
      .select(keyCols.map(col) ++ Seq(rn, pid, keyHash, RowChecks.rowPayload(payloadCols).as("row")): _*)

    val dupRows =
      if (salts > 0) saltedRepeats(candidateRows(base, salts), keyCols, salts)
      else repeats(candidateRows(base), keyCols)

    val composite = primaryKeyFields.nonEmpty && keyCols.size > 1
    val msg =
      if (composite)
        RowChecks.message(
          "unique-constraint-composite",
          Map(
            "row_numbers" -> col("_rn").cast(StringType),
            "primary_key_fields" -> lit(primaryKeyFields.mkString(", "))
          )
        )
      else
        RowChecks.message(
          "unique-constraint",
          Map(
            "row_numbers" -> col("_rn").cast(StringType),
            "column_number" -> lit(columnNumber).cast(StringType)
          )
        )

    dupRows.select(
      lit("unique-constraint").as("code"),
      col("_rn").as("row_number"),
      lit(columnNumber).cast(IntegerType).as("column_number"),
      msg.as("message"),
      col("row"),
      col("_pid").as("partition_id")
    )
  }

  /** Hash prefilter: rows whose `_kh` occurs more than once. The 8-byte hash
    * and its count are all that shuffle; the candidate-hash set is joined
    * back (broadcast when the planner can size it). An unsalted base that is
    * one partition by construction (`TableSource.onePartition`) is returned
    * whole: with no exchange to shrink, the count pass and the broadcast
    * would only add jobs. */
  private[checks] def candidateRows(base: DataFrame, salts: Int = 0): DataFrame =
    if (salts == 0 && TableSource.onePartition(base)) base
    else {
      val counted =
        if (salts > 0)
          Skew.saltedGroupStats(base, Seq("_kh"), col("_rn"), salts).withColumnRenamed("_cnt", "_hc")
        else base.groupBy(col("_kh")).agg(count(lit(1)).as("_hc"))
      val candHashes = counted.filter(col("_hc") > 1).select(col("_kh"))
      base.join(candHashes, "_kh")
    }

  /** The exact step: every candidate row that repeats an earlier row of the
    * same (null-safe) key, with `_first` the key's first row number. One
    * window partitioned by the real key, so rows that only share a hash stay
    * apart. */
  private[checks] def repeats(candidates: DataFrame, keyCols: Seq[String]): DataFrame =
    candidates
      .withColumn("_first", min(col("_rn")).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("_rn") > col("_first"))

  /** [[repeats]] for extreme per-key skew: per-key (count, first) in two
    * salted aggregation phases, joined back on null-safe key equality. */
  private def saltedRepeats(candidates: DataFrame, keyCols: Seq[String], salts: Int): DataFrame = {
    val firsts = Skew
      .saltedGroupStats(candidates, keyCols, col("_rn"), salts)
      .filter(col("_cnt") > 1)
      .select(keyCols.map(c => col(c).as(s"_k_$c")) :+ col("_first"): _*)
    val joinCond = keyCols.map(c => candidates(c) <=> firsts(s"_k_$c")).reduce(_ && _)
    candidates
      .join(firsts, joinCond, "inner")
      .filter(col("_rn") > col("_first"))
  }

  /** duplicate-row (custom_checks.py:467-478): exact duplicate of an earlier
    * row; message cites the earlier row-number. Same shape as [[violations]]:
    * count xxhash64 of the whole row, then the one exact window over the
    * candidates on the full tuple. */
  def duplicateRows(
      df: DataFrame,
      payloadCols: Seq[String],
      rowNumber: Column,
      partitionId: Option[Column] = None
  ): DataFrame = {
    val cols = payloadCols
    val rn = rowNumber.cast(LongType).as("_rn")
    val pid = partitionId.getOrElse(lit(null)).cast(IntegerType).as("_pid")
    val rowHash = xxhash64(cols.map(col): _*).as("_kh")
    val base = df.select(cols.map(col) ++ Seq(rn, pid, rowHash): _*)
    repeats(candidateRows(base), cols)
      .select(
        lit("duplicate-row").as("code"),
        col("_rn").as("row_number"),
        lit(null).cast(IntegerType).as("column_number"),
        RowChecks
          .message(
            "duplicate-row",
            Map(
              "row_number" -> col("_rn").cast(StringType),
              "row_numbers" -> col("_first").cast(StringType)
            )
          )
          .as("message"),
        RowChecks.rowPayload(cols).as("row"),
        col("_pid").as("partition_id")
      )
  }
}
