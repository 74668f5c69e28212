package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI 2011) over fixed-point
  * vectors — the memory-compressed ANN scan path: a 64-dim float vector
  * (256 B) becomes `m` small codes (8 B at m=8), so a 100-TB embedding
  * corpus scans from ~3 TB of codes, and the asymmetric-distance (ADC)
  * scan replaces per-dimension arithmetic with `m` table lookups per row.
  *
  * Division of labor with the rest of `graft.ann`: [[KMeans.fitAssign]]
  * is the codebook TRAINER (run it per subspace over sliced subvectors —
  * PQ codebooks are literally m independent k-means); [[Pq]] takes the
  * trained (or planted, for oracle-exact tests) codebooks and does the
  * scale-critical parts: encode and compressed-domain scan. Everything is
  * exact integer arithmetic on [[KMeans.fixedPoint]] vectors — argmin of
  * integer squared distances, ties to the smallest code — so a SQL oracle
  * restates encode and ADC verbatim (the q89/q100 planted-centroid
  * discipline).
  *
  * Scale shape: codebooks are driver-small (m·k·subDim longs) and
  * broadcast; encode is one primitive-loop projection (m·k·subDim
  * mul-adds per row, no shuffle); the ADC scan broadcasts an m·k
  * distance TABLE (built on the driver from the query alone) and sums m
  * lookups per row — no join, no shuffle, the scan stays inside the
  * parquet read's partitioning.
  */
object Pq {

  /** codebooks(s)(c) = the subDim-long centroid for code c of subspace s;
    * all subspaces must have the same code count and sub-dimension. */
  type Codebooks = Array[Array[Array[Long]]]

  /** Slice full fixed-point vectors into per-subspace codebooks — the
    * planted-codebook constructor (oracle tests: "codes 0..k-1 are the
    * subvectors of the k smallest-id vectors"), and the adapter from any
    * trainer that yields full-width centroids. */
  def sliceCodebooks(vectors: Array[Array[Long]], m: Int): Codebooks = {
    require(vectors.nonEmpty, "need at least one codebook vector")
    val d = vectors(0).length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val sd = d / m
    Array.tabulate(m)(s => vectors.map(_.slice(s * sd, (s + 1) * sd)))
  }

  /** Train codebooks: m independent integer k-means runs ([[KMeans.fit]])
    * over the sliced subvectors — the textbook PQ trainer. Each subspace
    * run scans `df` iters times over a subDim-wide projection (train on a
    * SAMPLE at 100 TB — PQ codebooks converge on a tiny fraction of the
    * corpus; encode is the full-scan pass, not training). */
  def trainCodebooks(df: DataFrame, vec: Column, id: Column, m: Int, k: Int,
      iters: Int, init: String = "spread"): Codebooks = {
    val first = df.select(vec.as("v")).limit(1).collect()
    require(first.nonEmpty, "cannot train codebooks on an empty frame")
    val d = first(0).getSeq[Long](0).length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val sd = d / m
    Array.tabulate(m) { s =>
      val off = s * sd
      // "spread" by default: subvector values repeat heavily across rows
      // (that's the point of PQ), so the k-smallest-ids init routinely
      // seeds DUPLICATE centroids that Lloyd can never separate
      KMeans.fit(df, slice(vec, off + 1, sd), id, k, iters, init)
    }
  }

  /** Encode vectors to PQ codes: per subspace, the argmin-distance code
    * ([[Knn.nearest]], ties to the smallest index). Input `vec` must be array<long>
    * ([[KMeans.fixedPoint]]) of length m·subDim. Output (id, codes)
    * with codes array<long> of length m. Null vectors emit null codes. */
  def encode(df: DataFrame, vec: Column, id: Column, codebooks: Codebooks): DataFrame = {
    val cb = codebooks
    val m = cb.length
    val d = m * cb(0)(0).length
    val sd = cb(0)(0).length
    val u = udf { (v: Array[Long]) =>
      if (v == null) null
      else {
        require(v.length == d, s"vector dim ${v.length} != codebook dim $d")
        val out = new Array[Long](m)
        var s = 0
        while (s < m) { out(s) = Knn.nearest(cb(s), v, s * sd)._1.toLong; s += 1 }
        out
      }
    }
    df.select(id.cast("long").as("id"), u(vec).as("codes"))
  }

  /** Base-k positional checksum of a code array: Σ codes(s)·k^s — a
    * single long that pins the exact code assignment (driver-compare
    * friendly: array columns hash awkwardly through pandas). Requires
    * k^m ≤ Long.MaxValue. */
  def codeKey(codes: Column, k: Int): Column = {
    val kk = k.toLong
    val u = udf { (cs: Array[Long]) =>
      if (cs == null) null.asInstanceOf[java.lang.Long]
      else {
        var acc = 0L; var p = 1L; var s = 0
        while (s < cs.length) { acc += cs(s) * p; p *= kk; s += 1 }
        java.lang.Long.valueOf(acc)
      }
    }
    u(codes)
  }

  /** Materialize an IVF-PQ store (the FAISS-standard composition): every
    * row is assigned its nearest coarse centroid (integer argmin, ties to
    * the smallest cell), its RESIDUAL (v − centroid, exact longs) is
    * PQ-encoded, and the (id, codes) rows are written parquet PARTITIONED
    * by `cluster` — so a probe is a directory-pruned read of nprobe cells
    * scanning m-byte codes instead of full vectors: the two ANN scale
    * levers (touch less data, touch it compressed) in one store.
    * Residual encoding is what makes shared codebooks tight across cells
    * (Jégou et al. §IV.B). Null vectors are not indexable and are
    * dropped. Coarse centroids + codebooks stay with the CALLER (train
    * with [[KMeans.fit]] / [[trainCodebooks]], or plant them for
    * oracle-exact tests) — pass the same pair at probe time. */
  def writeIvfPq(df: DataFrame, vec: Column, id: Column, path: String,
      coarse: Array[Array[Long]], codebooks: Codebooks): Unit = {
    val cs = coarse
    val cb = codebooks
    val (m, sd) = Knn.pqShape(cs, cb)
    val u = udf { (v: Array[Long]) =>
      if (v == null) null
      else {
        val cell = Knn.nearest(cs, v, 0)._1
        val cv = cs(cell)
        val resid = new Array[Long](v.length)
        var j = 0
        while (j < resid.length) { resid(j) = v(j) - cv(j); j += 1 }
        val codes = new Array[Long](m)
        var s = 0
        while (s < m) { codes(s) = Knn.nearest(cb(s), resid, s * sd)._1.toLong; s += 1 }
        (cell.toLong, codes)
      }
    }
    df.select(id.cast("long").as("id"), u(vec).as("_a"))
      .filter(col("_a").isNotNull)
      .select(col("id"), col("_a._1").as("cluster"), col("_a._2").as("codes"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    // persist the quantizers next to the data (underscore file — invisible
    // to the parquet reader), the Ann.writeIvfBucketed discipline: a probe
    // must use the EXACT arrays the store was encoded under
    val txt = (cs.map(_.mkString(",")).mkString(";") +: cb.map(sub =>
      sub.map(_.mkString(",")).mkString(";"))).mkString("\n")
    java.nio.file.Files.writeString(quantizerFile(path).toPath, txt)
  }

  private def quantizerFile(path: String) =
    new java.io.File(path, "_pq_quantizers.txt")

  /** Read back the (coarse centroids, codebooks) persisted by
    * [[writeIvfPq]] — line 1 = coarse (`;`-separated vectors of
    * `,`-separated longs), lines 2..m+1 = one codebook per subspace. */
  def readQuantizers(path: String): (Array[Array[Long]], Codebooks) = {
    val lines = java.nio.file.Files.readString(quantizerFile(path).toPath).split('\n')
    def parse(l: String): Array[Array[Long]] =
      l.split(';').map(_.split(',').map(_.toLong))
    (parse(lines(0)), lines.drop(1).map(parse))
  }

  /** Probe an [[writeIvfPq]] store: rank cells on the driver
    * ([[Knn.cellsByDistance]]), push the nprobe nearest cell ids as an
    * explicit partition filter (directory pruning), and ADC-scan the
    * survivors with a PER-CELL [[Knn.adcTable]] built from the query's
    * residual against that cell. Output (id, cluster, adist) for every
    * candidate, ordered (adist, id) — `limit(k)` on top is the top-k
    * probe; returning candidates keeps the oracle exact and lets callers
    * re-rank exactly if they kept full vectors elsewhere. */
  def ivfPqProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Long], coarse: Array[Array[Long]], codebooks: Codebooks,
      nprobe: Int): DataFrame = {
    Knn.pqShape(coarse, codebooks)
    val cells = Knn.cellsByDistance(coarse, query, nprobe).map(_.toLong)
    val tables: Map[Long, Array[Array[Long]]] = cells.map { cell =>
      val cv = coarse(cell.toInt)
      cell -> Knn.adcTable(Array.tabulate(query.length)(j => query(j) - cv(j)), codebooks)
    }.toMap
    val u = udf((cell: Long, cs: Array[Long]) => Knn.adcSum(tables(cell), cs))
    spark.read.parquet(path)
      .filter(col("cluster").isin(cells.toSeq: _*)) // partition pruning
      .select(col("id"), col("cluster").cast("long").as("cluster"),
        u(col("cluster").cast("long"), col("codes")).as("adist"))
      .orderBy(col("adist"), col("id"))
  }

  /** Batch kNN JOIN against a [[writeIvfPq]] store — the PQ sibling of
    * [[Ann.knnJoinIvf]]: each query row is assigned its nprobe nearest
    * cells ([[Knn.cellsByDistance]] per row, the ranking [[ivfPqProbe]]
    * runs on the driver), exploded, and equi-joined on the store's
    * `cluster` partition column, which [[Knn.probedStore]] prunes to the
    * probed cells. The per-candidate distance is the SAME value the
    * single-query ADC table produces ([[Knn.adcResidual]]), so the batch
    * path needs no per-query driver tables. [[Knn.topK]] per query by
    * (adist, id). A query row must be m·subDim wide; a null query probes
    * nothing. Output: (qid, id, adist, rank), rank 1..k. */
  def ivfPqKnnJoin(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
      qvec: Column, qid: Column, path: String, coarse: Array[Array[Long]],
      codebooks: Codebooks, k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val cs = coarse
    val cb = codebooks
    Knn.pqShape(cs, cb)
    val cellsU = udf { (v: Array[Long]) =>
      if (v == null) Array.empty[Long] // null queries are not probeable: emit no cells
      else Knn.cellsByDistance(cs, v, nprobe).map(_.toLong)
    }
    val probes = queries
      .select(qid.cast("long").as("qid"), qvec.as("_qv"))
      .withColumn("cluster", explode(cellsU(col("_qv"))))
    val store = Knn.probedStore(spark, path, probes)
      .select(col("id"), col("cluster").cast("long").as("cluster"), col("codes"))
    val adcU = udf((qv: Array[Long], cell: Long, codes: Array[Long]) =>
      Knn.adcResidual(qv, cs(cell.toInt), cb, codes))
    val cand = probes.join(store, Seq("cluster"))
      .select(col("qid"), col("id"), adcU(col("_qv"), col("cluster"), col("codes")).as("adist"))
    Knn.topK(cand, "qid", Seq(col("adist"), col("id")), k)
  }

  /** Exact integer squared L2 distance to one query — the uncompressed
    * ground truth the ADC scan approximates; pairs with [[adcDist]] for
    * re-ranking and with [[Recall.atK]] for probe quality measurement. */
  def l2Dist(vec: Column, query: Array[Long]): Column = {
    val q = query
    val u = udf { (v: Array[Long]) =>
      if (v == null) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(Knn.sqL2(v, 0, q))
    }
    u(vec)
  }

  /** Asymmetric distance: approximate squared distance from one query
    * (fixed-point, full width) to an encoded vector, [[Knn.adcSum]] over
    * the query's [[Knn.adcTable]]. The table is built on the DRIVER (m·k
    * integer distances) and ships in the closure; the scan is m array
    * lookups + adds per row — no join, no shuffle, composable into any
    * projection over the codes. */
  def adcDist(codes: Column, query: Array[Long], codebooks: Codebooks): Column = {
    val m = codebooks.length
    val sd = codebooks(0)(0).length
    require(query.length == m * sd, s"query dim ${query.length} != ${m * sd}")
    val tb = Knn.adcTable(query, codebooks)
    val u = udf { (cs: Array[Long]) =>
      if (cs == null) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(Knn.adcSum(tb, cs))
    }
    u(codes)
  }
}
