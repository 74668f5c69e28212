package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-column statistics in ONE wide aggregation pass (north-star operator:
  * null counts, distinct counts via HyperLogLog sketches, min/max,
  * histograms). One `agg` with every statistic for every profiled column ⇒
  * one scan, one partial-agg shuffle of a single row per partition —
  * scale-independent output size.
  */
object ColumnStats {

  /** Exact-distinct jobs `profile` keeps in flight at once. */
  private val ExactDistinctJobs = 3

  final case class ColStat(
      column: String,
      count: Long,
      nullCount: Long,
      distinct: Long,
      min: Option[Double],
      max: Option[Double]
  )

  /** Per-column profile card. Default (approx) mode is ONE wide
    * aggregation pass; `exactDistinct = true` additionally runs one exact
    * two-phase countDistinct job PER column, at most 3 at a time,
    * concurrently with the base agg (k+1 independent jobs — not a
    * single-snapshot read: on a source mutating between jobs the counts can
    * disagree; profile over a consistent snapshot, as all engine callers
    * do). The first failing job cancels the others, and its error is
    * rethrown once every job has ended. */
  def profile(df: DataFrame, cols: Seq[String], exactDistinct: Boolean = false): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      val isNumeric = df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
      Seq(
        count(col(c)).as(s"${c}__count"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls")
      ) ++ (if (exactDistinct) Nil
            else Seq(approx_count_distinct(col(c)).as(s"${c}__distinct"))) ++
        (if (isNumeric)
           Seq(min(col(c)).cast("double").as(s"${c}__min"), max(col(c)).cast("double").as(s"${c}__max"))
         else
           Seq(lit(null).cast("double").as(s"${c}__min"), lit(null).cast("double").as(s"${c}__max")))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // exactDistinct: k countDistincts in ONE agg plan through Catalyst's
    // Expand — k+1 copies of every input row through the first aggregation
    // (the multi-distinct rewrite). Run each column's exact distinct as its
    // OWN two-phase agg instead (no Expand; the scan is pruned to that one
    // column), on a pool this call owns, while the calling thread runs the
    // base agg (guide §2.6: actions are only sequential because the driver
    // calls them sequentially). Same exact results, ~k× less pre-shuffle volume.
    val sc = df.sparkSession.sparkContext
    val tag = s"graft-profile-${java.util.UUID.randomUUID()}"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def job[T](body: => T): Option[T] =
      if (failure.get != null) None
      else {
        sc.addJobTag(tag)
        try Some(body)
        catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
            None
        } finally sc.removeJobTag(tag)
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ExactDistinctJobs)
    val (base, distinct) =
      try {
        val futures = if (!exactDistinct) Nil else cols.map { c =>
          c -> pool.submit(() => job(df.select(col(c)).agg(countDistinct(col(c))).head().getLong(0)))
        }
        val row = job(wide.collect()(0)) // melt to long format driver-side (one row collected)
        (row, futures.map { case (c, f) => c -> f.get() }.toMap)
      } finally pool.shutdown()
    Option(failure.get).foreach(e => throw e)
    val row = base.get
    val spark = df.sparkSession
    import spark.implicits._
    cols.map { c =>
      (
        c,
        row.getAs[Long](s"${c}__count"),
        row.getAs[Long](s"${c}__nulls"),
        if (exactDistinct) distinct(c).get else row.getAs[Long](s"${c}__distinct"),
        Option(row.getAs[Any](s"${c}__min")).map(_.asInstanceOf[Double]),
        Option(row.getAs[Any](s"${c}__max")).map(_.asInstanceOf[Double])
      )
    }.toDF("column", "cnt", "nulls", "dcount", "vmin", "vmax")
  }

  /** Top-k heavy hitters of a (stringified) column via one mergeable
    * frequent-items sketch pass ([[graft.exprs.FreqSketchAgg]]): a single
    * scan whose shuffle payload is one few-KB sketch per partition,
    * independent of cardinality — the 100-TB shape for "what are the top
    * values of this column". Counts are EXACT while the column's distinct
    * count fits the sketch map (categorical columns), with deterministic
    * (count desc, item asc) ordering. Output: (item, cnt), k rows. */
  def heavyHitters(df: DataFrame, c: Column, k: Int, maxMapSize: Int = 1024): DataFrame = {
    val bytes = df.agg(graft.exprs.SketchAgg.freq(c, maxMapSize)).head().getAs[Array[Byte]](0)
    val sketch = graft.exprs.SketchAgg.deserializeFreq(bytes)
    val rows = sketch
      .getFrequentItems(org.apache.datasketches.frequencies.ErrorType.NO_FALSE_POSITIVES)
      .toSeq
      .map(r => (r.getItem, r.getEstimate))
      .sortBy { case (item, est) => (-est, item) }
      .take(k)
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("item", "cnt")
  }

  /** Schema/type inference over (stringified) columns — the profiling step a
    * pipeline runs BEFORE it has a Table Schema to validate against: for each
    * column, count the values parseable as integer / number / date / boolean
    * and infer the dominant type (a type wins only when EVERY non-empty value
    * parses as it; priority integer > number > date > boolean > string, empty
    * columns report `empty`). Lexical spaces are regex-pinned (anchored) so a
    * SQL oracle can restate them verbatim.
    *
    * ONE wide aggregation pass: a single scan, one partial-agg shuffle of
    * 5 longs per column per partition — scale-independent output (one row per
    * profiled column). Output: (col_name, non_empty, as_integer, as_number,
    * as_date, as_boolean, inferred). */
  def inferTypes(df: DataFrame, cols: Seq[String]): DataFrame = {
    val intRe = "^[+-]?\\d+$"
    val numRe = "^[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$"
    val dateRe = "^\\d{4}-\\d{2}-\\d{2}$"
    def cnt(cond: Column): Column = count(when(cond, lit(1)))
    val aggs = cols.flatMap { name =>
      val c = col(name).cast("string")
      val nonEmpty = c.isNotNull && c =!= ""
      Seq(
        cnt(nonEmpty).as(s"__${name}_ne"),
        cnt(nonEmpty && c.rlike(intRe)).as(s"__${name}_int"),
        cnt(nonEmpty && c.rlike(numRe)).as(s"__${name}_num"),
        cnt(nonEmpty && c.rlike(dateRe)).as(s"__${name}_date"),
        cnt(nonEmpty && lower(c).isin("true", "false")).as(s"__${name}_bool")
      )
    }
    val structs = array(cols.map { name =>
      struct(
        lit(name).as("col_name"),
        col(s"__${name}_ne").as("non_empty"),
        col(s"__${name}_int").as("as_integer"),
        col(s"__${name}_num").as("as_number"),
        col(s"__${name}_date").as("as_date"),
        col(s"__${name}_bool").as("as_boolean")
      )
    }: _*)
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(structs).as("t"))
      .select(col("t.*"))
      .withColumn(
        "inferred",
        when(col("non_empty") === 0, "empty")
          .when(col("as_integer") === col("non_empty"), "integer")
          .when(col("as_number") === col("non_empty"), "number")
          .when(col("as_date") === col("non_empty"), "date")
          .when(col("as_boolean") === col("non_empty"), "boolean")
          .otherwise("string")
      )
  }

  /** Equal-width histogram over [lo, hi): bucket → count. Values outside the
    * range clamp to the edge buckets. One groupBy over a computed bucket id —
    * partial agg keeps the shuffle at `buckets` rows per partition. */
  def histogram(df: DataFrame, c: Column, lo: Double, hi: Double, buckets: Int): DataFrame = {
    val width = (hi - lo) / buckets
    val bucket = least(
      greatest(floor((c - lit(lo)) / lit(width)).cast("int"), lit(0)),
      lit(buckets - 1)
    )
    df.filter(c.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }
}
