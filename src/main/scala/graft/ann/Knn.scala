package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one kNN skeleton behind the `graft.ann` probes and joins: each
  * step exists once here, and the operators pick only their store, their
  * score and their ranking key.
  *
  *  - Array contract. Every per-row kernel here takes primitive arrays,
  *    and the UDFs that call them declare `Array[Long]` / `Array[Double]`
  *    parameters: Spark hands a typed UDF's `Seq[T]` argument over as a
  *    linked `List`, where each `v(j)` and `v.length` walks the list, so
  *    an indexed loop is quadratic per row. An `Array[T]` parameter is one
  *    primitive copy (`ArrayData.toLongArray`), no boxing. Null arrays
  *    still arrive as null; a null element fails either way.
  *  - Integer distance. [[sqL2]] is the squared-L2 loop over fixed-point
  *    longs (exact while the sum fits a long; see [[KMeans]] for the
  *    bounds) and [[nearest]] its argmin, ties to the smallest index.
  *    [[adcTable]] builds one query's asymmetric-distance (ADC) table over
  *    every codeword of every subspace; [[adcSum]] scores a code row
  *    against it with m lookups. [[adcResidual]] is the batch form, which
  *    has no per-query table.
  *  - Cell ranking. [[cellsByDot]] (unit IVF centroids, largest dot first)
  *    and [[cellsByDistance]] (fixed-point coarse centroids, smallest
  *    distance first) return the `nprobe` nearest cells, ties to the
  *    smallest cell, for one query on the driver or per row of a batch.
  *  - Single-query top-k. [[cosineTopK]] scores `dot(vec, q) /
  *    (l2norm(vec) · |q|)` with the native `VectorExprs` kernels, drops
  *    null scores (null or zero-norm store vectors: with ANSI off a
  *    division by zero is null) and NaN scores (Spark orders NaN above
  *    every double, so it would displace a real neighbor at rank 1), and
  *    takes `orderBy(cosine desc, id).limit(k)`. Spark runs that as
  *    TakeOrderedAndProject: per-partition heaps and a driver merge, no
  *    global sort and no shuffle of the vectors. A zero-norm query has no
  *    direction, so it fails fast instead of scoring every row null.
  *  - Per-query top-k. [[topK]] is the one `row_number` window (rank 1..k
  *    per key, ordered by score, then id). [[collapsedTopK]] ends a join
  *    whose sides were collapsed to distinct vectors or signatures: each
  *    store group keeps its k smallest member ids (members share every
  *    score, so no other member can enter any top-k), each query group
  *    takes its top-k over those members, and the result fans back out to
  *    every query row of the group.
  *  - Probed-cell pruning. [[probedStore]] collects the cells a query
  *    batch explodes to (at most the centroid count) and pushes them into
  *    the store scan as an explicit `cluster IN (...)` partition filter: a
  *    predicate induced by the query batch that always prunes, unlike
  *    dynamic partition pruning.
  */
private[ann] object Knn {

  /** Σ_j (v(off + j) − w(j))² over j < |w|. */
  def sqL2(v: Array[Long], off: Int, w: Array[Long]): Long = {
    var dd = 0L; var j = 0
    while (j < w.length) { val t = v(off + j) - w(j); dd += t * t; j += 1 }
    dd
  }

  /** (index, distance) of the word nearest to v's slice at `off`, ties to
    * the smallest index. */
  def nearest(words: Array[Array[Long]], v: Array[Long], off: Int): (Int, Long) = {
    var best = 0; var bestD = Long.MaxValue; var c = 0
    while (c < words.length) {
      val dd = sqL2(v, off, words(c))
      if (dd < bestD) { bestD = dd; best = c }
      c += 1
    }
    (best, bestD)
  }

  /** table(s)(c) = ‖q_s − codebooks(s)(c)‖² for subspace s and code c. */
  def adcTable(q: Array[Long], codebooks: Pq.Codebooks): Array[Array[Long]] = {
    val sd = codebooks(0)(0).length
    Array.tabulate(codebooks.length)(s => codebooks(s).map(w => sqL2(q, s * sd, w)))
  }

  /** Σ_s table(s)(codes(s)). */
  def adcSum(table: Array[Array[Long]], codes: Array[Long]): Long = {
    var acc = 0L; var s = 0
    while (s < codes.length) { acc += table(s)(codes(s).toInt); s += 1 }
    acc
  }

  /** Σ_s ‖(q − centroid)_s − codebooks(s)(codes(s))‖²: the value
    * [[adcSum]] gives over the [[adcTable]] of q's residual against the
    * cell. This three-operand loop stays apart from [[sqL2]] because it
    * subtracts the centroid on the fly: a batch join scores each
    * candidate row once, and materializing its residual would allocate
    * per row. */
  def adcResidual(q: Array[Long], centroid: Array[Long], codebooks: Pq.Codebooks,
      codes: Array[Long]): Long = {
    val sd = codebooks(0)(0).length
    var acc = 0L; var s = 0
    while (s < codebooks.length) {
      val w = codebooks(s)(codes(s).toInt)
      var j = 0
      while (j < sd) { val t = q(s * sd + j) - centroid(s * sd + j) - w(j); acc += t * t; j += 1 }
      s += 1
    }
    acc
  }

  /** (m, subDim) of an IVF-PQ quantizer pair, whose coarse centroids must
    * be m·subDim wide. */
  def pqShape(coarse: Array[Array[Long]], codebooks: Pq.Codebooks): (Int, Int) = {
    val m = codebooks.length
    val sd = codebooks(0)(0).length
    require(coarse(0).length == m * sd, s"coarse dim ${coarse(0).length} != ${m * sd}")
    (m, sd)
  }

  /** The np cells with the smallest keys, ties to the smallest cell. */
  private def rank[K](cells: Int, np: Int)(key: Int => K)(implicit o: Ordering[K]): Array[Int] = {
    val keys = IndexedSeq.tabulate(cells)(key)
    keys.indices.sortBy(keys).take(np).toArray
  }

  /** The np unit centroids with the largest dot product with v. |v| is one
    * positive factor of every dot, so it cannot change the order. */
  def cellsByDot(centroids: Array[Array[Double]], v: Array[Double], np: Int): Array[Int] =
    rank(centroids.length, np)(c => -Ann.dotK(v, centroids(c)))(Ordering.Double.TotalOrdering)

  /** The np fixed-point centroids nearest to v; v must be as wide as they are. */
  def cellsByDistance(centroids: Array[Array[Long]], v: Array[Long], np: Int): Array[Int] = {
    require(v.length == centroids(0).length, s"query dim ${v.length} != ${centroids(0).length}")
    rank(centroids.length, np)(c => sqL2(v, 0, centroids(c)))
  }

  /** Top-k rows of `df` by cosine to one query, as (id, cosine). */
  def cosineTopK(df: DataFrame, id: Column, vec: Column, query: Seq[Double], k: Int): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0.0, "zero-norm query")
    val q = array(query.map(lit): _*)
    df.select(id.as("id"), (Ann.dot(vec, q) / (Ann.l2norm(vec) * lit(qn))).as("cosine"))
      .filter(!isnan(col("cosine"))) // a null score fails it too
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** The query's sign-bit LSH signature under `planes`. */
  def querySig(planes: Seq[Seq[Double]], query: Seq[Double]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << i else 0L
    }.sum

  /** The first k rows per `key` under `order`, numbered 1..k in `rank`. */
  def topK(df: DataFrame, key: String, order: Seq[Column], k: Int): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** `cand` (qKey, sKey, score) per candidate group pair, `members`
    * (sKey, id) per store row, `queries` (qKey, qid) per query row: the
    * top k (by `first`, then id) per query row, with its `rank`. */
  def collapsedTopK(cand: DataFrame, members: DataFrame, queries: DataFrame, qKey: String,
      sKey: String, first: Column, k: Int): DataFrame = {
    val capped = topK(members, sKey, Seq(col("id")), k).drop("rank")
    topK(cand.join(capped, Seq(sKey)), qKey, Seq(first, col("id")), k)
      .join(queries, Seq(qKey))
  }

  /** The store at `path` read back only in the cells `probes` holds in
    * its `cluster` column. */
  def probedStore(spark: SparkSession, path: String, probes: DataFrame): DataFrame = {
    val cells = probes.select(col("cluster")).distinct().collect()
      .map(_.getAs[Number](0)).sortBy(_.longValue)
    spark.read.parquet(path).filter(col("cluster").isin(cells.toSeq: _*))
  }
}
