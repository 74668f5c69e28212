package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column. The
  * probes and joins run on one skeleton, [[Knn]]: its scaladoc explains
  * the shared steps (cell ranking, single-query and per-query top-k,
  * probed-cell pruning).
  *
  * Baseline: brute-force cosine top-k ([[Knn.cosineTopK]]) — one scan
  * scored by the native `VectorExprs` dot/l2norm kernels. That plan is
  * already the right shape at 10^12 rows; the scan is the cost.
  *
  * Scale path: random-hyperplane LSH — `numBits` sign bits against
  * deterministic pseudo-random hyperplanes form a bucket id; queries probe
  * only their bucket (and optionally neighboring buckets), turning the full
  * scan into a partition-pruned read when the table is written bucketed or
  * partitioned by signature prefix.
  */
object Ann {

  /** Scalar double loops: the reference the native `VectorExprs` kernels
    * must match (through the UDF variants below), and the IVF
    * normalization, assignment and cell ranking. The operators score with
    * the native kernels ([[dot]], [[l2norm]]). Like every [[Knn]] kernel
    * they take primitive arrays, and their UDFs declare `Array[Double]`
    * parameters: a `Seq[Double]` UDF argument arrives as a linked list. */
  private[ann] def dotK(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
  private[ann] def normK(a: Array[Double]): Double = math.sqrt(dotK(a, a))

  private val dotUdf = udf((a: Array[Double], b: Array[Double]) => dotK(a, b))
  private val normUdf = udf((a: Array[Double]) => normK(a))
  private val cosineUdf = udf { (a: Array[Double], b: Array[Double]) =>
    dotK(a, b) / (normK(a) * normK(b))
  }

  /** Dot product of two numeric array columns — native codegen'd Catalyst
    * expression (VectorExprs.DotProduct): same primitive loop as the UDF
    * kernel (bit-identical doubles), but evaluated INSIDE whole-stage
    * codegen — no serialization boundary, no Seq boxing. */
  def dot(a: Column, b: Column): Column = graft.exprs.VectorExprs.dotNative(a, b)

  def l2norm(v: Column): Column = graft.exprs.VectorExprs.l2normNative(v)

  def cosine(a: Column, b: Column): Column = graft.exprs.VectorExprs.cosineNative(a, b)

  /** UDF-kernel variants, kept for parity tests and as the reference
    * implementation of the loop semantics. */
  private[graft] def dotViaUdf(a: Column, b: Column): Column =
    dotUdf(a.cast("array<double>"), b.cast("array<double>"))
  private[graft] def l2normViaUdf(v: Column): Column = normUdf(v.cast("array<double>"))
  private[graft] def cosineViaUdf(a: Column, b: Column): Column =
    cosineUdf(a.cast("array<double>"), b.cast("array<double>"))

  /** Brute-force cosine top-k against a constant query vector
    * ([[Knn.cosineTopK]] over every row). Output: (id, cosine) ordered
    * descending, k rows. */
  def bruteForceTopK(df: DataFrame, vec: Column, id: Column, query: Seq[Double], k: Int): DataFrame =
    Knn.cosineTopK(df, id, vec, query, k)

  /** Deterministic pseudo-random hyperplanes: component h(i,d) derived from a
    * hash of (seed, i, d), mapped to [-1, 1). Reproducible across runs with
    * no stored model. */
  def hyperplanes(numBits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until numBits).map { i =>
      (0 until dim).map { d =>
        // splitmix64-style scramble — public-domain bit mixer
        var z = seed + (i.toLong << 32) + d.toLong + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        (z.toDouble / Long.MaxValue.toDouble)
      }
    }

  /** Sign-bit LSH signature (as a long) for a vector column — a single
    * native expression with one generated loop (VectorExprs.LshSignature).
    * The per-bit when/shiftleft/OR composition this replaces fell out of
    * codegen at ≥ ~20 bits (interpreted eval, ~80× slower). */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.exprs.VectorExprs.lshSignatureNative(vec, planes)

  /** All signatures within Hamming distance `maxH` of `qSig` over `numBits`
    * bits — the multi-probe set. C(numBits, ≤maxH) values; keep maxH small. */
  private[graft] def sigsWithin(qSig: Long, numBits: Int, maxH: Int): Seq[Long] =
    (0 to maxH).flatMap { h =>
      (0 until numBits).combinations(h).map(_.foldLeft(qSig)((s, b) => s ^ (1L << b))).toSeq
    }

  /** Materialize `df` as an LSH-bucketed store: parquet PARTITIONED by the
    * top `prefixBits` of the signature (directory per prefix), full signature
    * kept as a column. This is the scale path the query-time LSH promises:
    * probes become partition-pruned reads instead of full scans. One tiny job
    * reads the vector dimension; one job writes. */
  def writeLshBucketed(
      df: DataFrame,
      vec: Column,
      id: Column,
      path: String,
      numBits: Int = 8,
      prefixBits: Int = 4,
      seed: Long = 42L
  ): Unit = {
    require(prefixBits >= 1 && prefixBits <= numBits, "1 <= prefixBits <= numBits")
    val dim = df.select(size(vec.cast("array<double>"))).head().getInt(0)
    val planes = hyperplanes(numBits, dim, seed)
    // geometry stamped into the sig column's metadata (persisted in the
    // parquet footer): lets graft.exprs.HammingProbePruning rewrite ad-hoc
    // `bit_count(sig ^ q) <= h` filters into partition-pruned probes
    val sigMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.lsh.numBits", numBits.toLong)
      .putLong("graft.lsh.prefixBits", prefixBits.toLong)
      .build()
    df.select(id.as("id"), vec.as("embedding"), lshSignature(vec, planes).as("sig", sigMeta))
      .withColumn("sig_prefix", shiftrightunsigned(col("sig"), numBits - prefixBits))
      .write
      .mode("overwrite")
      .partitionBy("sig_prefix")
      .parquet(path)
  }

  /** Top-k probe against a [[writeLshBucketed]] store: enumerate the
    * signatures within `probeHamming` of the query's, push their PREFIX set
    * into the partition filter (directory pruning — the scan never lists the
    * other buckets) and the exact signature set into a data filter, then
    * [[Knn.cosineTopK]] over the surviving candidates. */
  def lshTopKStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Seq[Double],
      k: Int,
      numBits: Int = 8,
      prefixBits: Int = 4,
      probeHamming: Int = 2,
      seed: Long = 42L
  ): DataFrame = {
    val probes = sigsWithin(Knn.querySig(hyperplanes(numBits, query.size, seed), query),
      numBits, probeHamming)
    val prefixes = probes.map(_ >>> (numBits - prefixBits)).distinct
    val candidates = spark.read
      .parquet(path)
      .filter(col("sig_prefix").isin(prefixes: _*)) // partition pruning
      .filter(col("sig").isin(probes: _*))
    Knn.cosineTopK(candidates, col("id"), col("embedding"), query, k)
  }

  /** Batch kNN JOIN: top-k store neighbors for EVERY row of a query
    * DataFrame — the training-data-pipeline shape ("top-k for each of 10M
    * query rows"), where the single-vector probes ([[lshTopKStored]],
    * [[ivfTopK]]) don't apply because there is no driver-side query vector.
    *
    * Plan shape (never a driver loop, never a cross join; both sides
    * PRE-COLLAPSED to distinct vectors, the hammingKnnJoin pattern —
    * mass-duplicated embeddings put every copy on one sig join key and
    * cosine is a pure function of the vector, so copies add work without
    * adding information):
    *  1. store rows collapse to bit-identical-vector groups (8-byte
    *     xxhash64 key), each keeping its ≤ k smallest member ids (members
    *     share every cosine, so no other member can enter any top-k);
    *     query rows collapse the same way (the result is a pure function
    *     of the vector);
    *  2. query side: one codegen'd LSH signature per distinct vector,
    *     exploded into the C(numBits, ≤probeHamming) probe signatures
    *     (a row-local expansion of a few longs — the multi-probe trick
    *     trades a small fan-out for recall);
    *  3. equi-join on `sig` against the distinct store vectors — an 8-byte
    *     join key. With a small query batch AQE broadcasts the probe side
    *     (store is never shuffled); at 10M+ queries both sides exchange on
    *     `sig`, each distinct store vector crossing the wire once per
    *     matching probe;
    *  4. cosine on the surviving candidates (native codegen'd kernels),
    *     then [[Knn.collapsedTopK]]: per-query-vector top-k over the ≤ k
    *     member ids per candidate group — 24 B per CANDIDATE group, not
    *     per store row — fanned back out to every query row carrying
    *     that vector.
    * A (query, candidate) pair can match at most one probe signature (a
    * store vector has ONE sig), so no candidate dedup is needed.
    *
    * Recall follows the store's LSH geometry: guaranteed for candidates
    * sharing the query's signature (e.g. scaled duplicates — sign-invariant),
    * probabilistic beyond, tunable via numBits/probeHamming.
    *
    * SIZE numBits WITH log2(storeRows): expected bucket occupancy is
    * n / 2^numBits, and per-query verification work is occupancy ×
    * (numBits+… probes) — with FIXED bits a 10× store means 10× candidates
    * per query, i.e. ~100× total join work (measured in Bench: 44k vec/s at
    * 20M rows with 16 bits vs ~200k vec/s at 2M). Keeping occupancy
    * constant (numBits ≈ log2(n) − 5 for ~30/bucket) keeps per-row cost
    * flat, exactly like sizing a real LSH index.
    *
    * Output: (qid, id, cosine, rank), rank 1..k per qid.
    */
  def knnJoin(
      queries: DataFrame,
      qvec: Column,
      qid: Column,
      store: DataFrame,
      k: Int,
      numBits: Int = 8,
      probeHamming: Int = 1,
      seed: Long = 42L
  ): DataFrame = {
    val dimRows = queries.select(size(qvec.cast("array<double>"))).head(1)
    require(dimRows.nonEmpty, "knnJoin: empty query batch (cannot derive vector dimension)")
    val dim = dimRows.head.getInt(0)
    val planes = hyperplanes(numBits, dim, seed)
    val nb = numBits; val ph = probeHamming
    val probesUdf = udf((sig: Long) => sigsWithin(sig, nb, ph).toArray)

    // 1. collapse both sides to bit-identical-vector groups
    val qmembers = queries
      .select(qid.as("qid"), qvec.cast("array<double>").as("_qv"))
      .withColumn("_qn", l2norm(col("_qv")))
      .filter(col("_qn") > 0.0)
      .withColumn("_qkey", xxhash64(col("_qv")))
    val qreps = qmembers
      .groupBy(col("_qkey"))
      .agg(min_by(struct(col("_qv"), col("_qn")), col("qid")).as("_r"))
      .select(col("_qkey"), col("_r._qv").as("_qv"), col("_r._qn").as("_qn"))
    val smembers = store
      .select(col("id"), col("embedding"), col("sig"))
      .withColumn("_skey", xxhash64(col("embedding")))
    val sreps = smembers
      .groupBy(col("_skey"))
      .agg(min_by(struct(col("embedding"), col("sig")), col("id")).as("_r"))
      .select(col("_skey"), col("_r.embedding").as("embedding"), col("_r.sig").as("sig"))

    // 2-3. multi-probe explode on distinct query vectors, 8-byte sig join
    val qside = qreps
      .withColumn("sig", explode(probesUdf(lshSignature(col("_qv"), planes))))
    val cand = qside
      .join(sreps, Seq("sig"))
      .select(
        col("_qkey"), col("_skey"),
        (dot(col("embedding"), col("_qv")) / (l2norm(col("embedding")) * col("_qn"))).as("cosine"))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))

    // 4-5. capped per-vector top-k, fanned out to the query rows
    Knn.collapsedTopK(cand, smembers.select(col("_skey"), col("id")),
        qmembers.select(col("_qkey"), col("qid")), "_qkey", "_skey", col("cosine").desc, k)
      .select(col("qid"), col("id"), col("cosine"), col("rank"))
  }

  // --------------------------------------------------------------------
  // IVF (inverted-file) coarse quantizer — the other classic ANN scale
  // path: spherical k-means partitions the vector space into k cells, the
  // store is partitioned by cell, probes read only the nprobe cells whose
  // centroids are nearest the query.
  // --------------------------------------------------------------------

  private val normalizeUdf = udf { (v: Array[Double]) =>
    if (v == null) null
    else {
      val n = normK(v)
      if (n == 0.0) null else v.map(_ / n)
    }
  }

  private def argmaxDotUdf(centroids: IndexedSeq[IndexedSeq[Double]]) = {
    val cs = centroids.map(_.toArray).toArray
    udf { (v: Array[Double]) =>
      var best = 0; var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < cs.length) {
        val d = dotK(v, cs(c))
        if (d > bestDot) { bestDot = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Deterministic spherical k-means over the (unit-normalized) vectors.
    * No RNG: the k initial centroids are the first k distinct vectors in
    * xxhash64 order; `iters` fixed Lloyd rounds, assignment by max dot,
    * centroid update = normalized mean. Each round is one distributed
    * scan + one (cluster, dim) partial-sum shuffle (k·dim rows to the
    * driver — tiny). At 100 TB you train on a bounded deterministic sample
    * (`trainLimit`), never the full table: the quantizer only needs the
    * density shape. Empty clusters keep their previous centroid. */
  def trainCentroids(
      df: DataFrame,
      vec: Column,
      k: Int,
      iters: Int = 5,
      trainLimit: Int = 100000
  ): IndexedSeq[IndexedSeq[Double]] = {
    val vnorm = df
      .select(normalizeUdf(vec.cast("array<double>")).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("_h", xxhash64(col("v")))
    val sample = vnorm.orderBy("_h").limit(trainLimit).select("v").cache()
    try {
      var centroids: IndexedSeq[IndexedSeq[Double]] =
        sample.distinct().withColumn("_h", xxhash64(col("v"))).orderBy("_h").limit(k)
          .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
      require(centroids.size == k, s"need >= $k distinct vectors to train, got ${centroids.size}")
      val dim = centroids.head.length
      var it = 0
      while (it < iters) {
        val assign = argmaxDotUdf(centroids)
        val sums = sample
          .select(assign(col("v")).as("c"), posexplode(col("v")).as(Seq("d", "x")))
          .groupBy("c", "d")
          .agg(sum("x").as("s"))
          .collect()
        val acc = Array.fill(k, dim)(0.0)
        sums.foreach(r => acc(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        centroids = (0 until k).map { c =>
          val m = acc(c).toIndexedSeq
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0.0) centroids(c) else m.map(_ / n) // empty cell: keep previous
        }
        it += 1
      }
      centroids
    } finally { sample.unpersist(); () }
  }

  private def centroidsFile(path: String) = new java.io.File(path, "_ivf_centroids.txt")

  /** Materialize `df` as an IVF store: train the coarse quantizer, assign
    * every row to its nearest cell, write parquet PARTITIONED by `cluster`
    * (directory per cell), and persist the centroids next to the data (an
    * underscore file — invisible to the parquet reader). Probes against
    * this store are partition-pruned reads, like [[writeLshBucketed]]. */
  def writeIvfBucketed(
      df: DataFrame,
      vec: Column,
      id: Column,
      path: String,
      k: Int = 16,
      iters: Int = 5,
      trainLimit: Int = 100000
  ): Unit = {
    val centroids = trainCentroids(df, vec, k, iters, trainLimit)
    val assign = argmaxDotUdf(centroids)
    df.select(id.as("id"), vec.as("embedding"),
        normalizeUdf(vec.cast("array<double>")).as("_vn"))
      .filter(col("_vn").isNotNull) // null / zero-norm vectors are not indexable
      .select(col("id"), col("embedding"), assign(col("_vn")).as("cluster"))
      .write
      .mode("overwrite")
      .partitionBy("cluster")
      .parquet(path)
    val txt = centroids.map(_.mkString(",")).mkString("\n")
    java.nio.file.Files.writeString(centroidsFile(path).toPath, txt)
  }

  private[ann] def readCentroids(path: String): Array[Array[Double]] =
    java.nio.file.Files
      .readString(centroidsFile(path).toPath)
      .split('\n')
      .map(_.split(',').map(_.toDouble))

  /** Top-k probe against a [[writeIvfBucketed]] store: rank cells on the
    * driver ([[Knn.cellsByDot]]), push the nprobe nearest cell ids into
    * the partition filter (directory pruning), [[Knn.cosineTopK]] over the
    * surviving candidates. Recall is governed by nprobe; nprobe == k
    * degenerates to an exact (but still pruned-scan-shaped) search. */
  def ivfTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Seq[Double],
      k: Int,
      nprobe: Int = 4
  ): DataFrame = {
    val cells = Knn.cellsByDot(readCentroids(path), query.toArray, nprobe)
    val candidates = spark.read
      .parquet(path)
      .filter(col("cluster").isin(cells.toSeq: _*)) // partition pruning
    Knn.cosineTopK(candidates, col("id"), col("embedding"), query, k)
  }

  /** Batch kNN JOIN against a [[writeIvfBucketed]] store — the IVF sibling
    * of [[knnJoin]]: each query row is assigned its `nprobe` nearest cells
    * ([[Knn.cellsByDot]] per row, the ranking [[ivfTopK]] runs on the
    * driver; the k unit centroids ship as closure state), exploded, and
    * equi-joined on the store's `cluster` partition column, which
    * [[Knn.probedStore]] prunes to the probed cells; cosine +
    * [[Knn.topK]] per query over candidates only. With a small query
    * batch AQE additionally broadcasts the probe side, and at 10M+
    * queries both sides exchange on `cluster`. Recall is governed by
    * nprobe exactly as in [[ivfTopK]] (nprobe == k cells is exact).
    *
    * Output: (qid, id, cosine, rank), rank 1..k per qid.
    */
  def knnJoinIvf(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      qvec: Column,
      qid: Column,
      path: String,
      k: Int,
      nprobe: Int = 4
  ): DataFrame = {
    val centroids = readCentroids(path)
    val cellsUdf = udf((v: Array[Double]) => Knn.cellsByDot(centroids, v, nprobe))
    val qside = queries
      .select(qid.as("qid"), qvec.cast("array<double>").as("_qv"))
      .withColumn("_qn", l2norm(col("_qv")))
      .filter(col("_qn") > 0.0)
      .withColumn("cluster", explode(cellsUdf(col("_qv"))))
    val cand = qside
      .join(Knn.probedStore(spark, path, qside), Seq("cluster"))
      .select(
        col("qid"), col("id"),
        (dot(col("embedding"), col("_qv")) / (l2norm(col("embedding")) * col("_qn"))).as("cosine"))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
    Knn.topK(cand, "qid", Seq(col("cosine").desc, col("id")), k)
      .select(col("qid"), col("id"), col("cosine"), col("rank"))
  }

  /** Batch kNN JOIN in Hamming space — the perceptual-hash sibling of
    * [[knnJoin]] for image near-dup search: per query row, the top-k store
    * rows by Hamming distance over a 64-bit signature column (phash),
    * restricted to `distance <= maxDistance`.
    *
    * Plan shape (never a cross join; both sides PRE-COLLAPSED to distinct
    * signatures before banding, the Dedup.hammingPairs pattern — mass-
    * duplicated images, i.e. distance-0 mega-clusters, are the NORM in
    * web-scale corpora, and banding raw rows would land every member of
    * such a cluster on one (band, value) join key, one hot task doing
    * O(|cluster|²) candidate work):
    *  1. store rows collapse to distinct signatures, each keeping only its
    *     k smallest member ids (ordering is (distance, id) and all members
    *     of one signature share every distance, so no other member can ever
    *     enter any query's top-k) — one well-distributed window over the
    *     signature; query rows collapse to distinct signatures (the result
    *     is a pure function of the signature);
    *  2. the distinct signatures split into `bands` contiguous sub-bands
    *     (posexplode of a few masked shifts — row-local, codegen'd);
    *  3. equi-join on (band index, band value): by the pigeonhole principle a
    *     pair within Hamming distance < bands agrees exactly on ≥ 1 band, so
    *     with `maxDistance <= bands - 1` the candidate set is EXACT — the
    *     guarantee Dedup.hammingPairs carries, which is why the brute-force
    *     bit_count cross join is an equality oracle (q47), not a recall bound;
    *  4. distinct (a pair can agree on several bands), codegen'd bit_count
    *     distance, threshold filter, then [[Knn.collapsedTopK]]:
    *     per-QUERY-SIGNATURE top-k over the ≤ k member ids per candidate
    *     signature — 20 B per CANDIDATE signature pair, never per store
    *     row — fanned back out to every query row carrying that signature
    *     (membership join on the 8-byte signature).
    * Shuffle: `bands` 12-byte keys per DISTINCT signature on each side.
    * Candidate volume is surfaced as the `graft.hammingknn.cand`
    * observation (`sig_pairs` = surviving signature pairs) so skew handling
    * is never silent. Residual hot keys can only come from one band VALUE
    * shared by many distinct signatures (gradient-style regions) — bounded
    * by 2^(64/bands) diversity, and orthogonal to duplicate-row skew.
    *
    * Output: (qid, id, distance, rank), rank 1..k per qid.
    */
  def hammingKnnJoin(
      queries: DataFrame,
      qsig: Column,
      qid: Column,
      store: DataFrame,
      ssig: Column,
      sid: Column,
      k: Int,
      bands: Int = 4,
      numBits: Int = 64,
      maxDistance: Int = 3
  ): DataFrame = {
    require(bands >= 1 && bands <= numBits, "1 <= bands <= numBits")
    require(maxDistance < bands,
      s"maxDistance ($maxDistance) must be < bands ($bands): the pigeonhole guarantee needs one agreeing band")
    val width = numBits / bands
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def bandVals(sig: Column): Column =
      array((0 until bands).map(b => shiftrightunsigned(sig, b * width).bitwiseAND(lit(mask))): _*)

    // 1. collapse: distinct signatures only ever reach the banding join
    val qmembers = queries
      .select(qid.as("qid"), qsig.as("_qsig"))
      .filter(col("_qsig").isNotNull)
    val qsigs = qmembers.select(col("_qsig")).distinct()
    val smembers = store
      .select(sid.as("id"), ssig.as("_sig"))
      .filter(col("_sig").isNotNull)
    val ssigs = smembers.select(col("_sig")).distinct()

    // 2-3. band the distinct signatures, pigeonhole equi-join
    val qside = qsigs
      .select(col("_qsig"), posexplode(bandVals(col("_qsig"))).as(Seq("bidx", "bval")))
    val sside = ssigs
      .select(col("_sig"), posexplode(bandVals(col("_sig"))).as(Seq("bidx", "bval")))
    val cand = qside
      .join(sside, Seq("bidx", "bval"))
      .select(col("_qsig"), col("_sig"),
        bit_count(col("_qsig").bitwiseXOR(col("_sig"))).as("distance"))
      .filter(col("distance") <= maxDistance)
      .distinct()
      .observe("graft.hammingknn.cand", count(lit(1)).as("sig_pairs"))

    // 4-5. capped per-signature top-k, fanned out to the query rows
    Knn.collapsedTopK(cand, smembers, qmembers, "_qsig", "_sig", col("distance"), k)
      .select(col("qid"), col("id"), col("distance"), col("rank"))
  }

  /** LSH-bucketed top-k: compute the query's bucket, scan only rows whose
    * signature matches within `probeHamming` bits, [[Knn.cosineTopK]] inside.
    * Approximate: recall depends on numBits/probeHamming. Prefer
    * [[lshTopKStored]] — this variant still SCANS the full table (cheap
    * inner loop, full I/O); the stored variant prunes partitions. */
  def lshTopK(
      df: DataFrame,
      vec: Column,
      id: Column,
      query: Seq[Double],
      k: Int,
      numBits: Int = 16,
      probeHamming: Int = 2,
      seed: Long = 42L
  ): DataFrame = {
    val planes = hyperplanes(numBits, query.size, seed)
    val qSig = Knn.querySig(planes, query)
    val candidates = df.select(id.as("id"), vec.as("_v"), lshSignature(vec, planes).as("_sig"))
      .filter(bit_count(col("_sig").bitwiseXOR(lit(qSig))) <= probeHamming)
    Knn.cosineTopK(candidates, col("id"), col("_v"), query, k)
  }

  /** CLIP-score-style image–text ALIGNMENT card — per-group pair counts
    * and the fraction whose embedding cosine clears `threshold`: the
    * LAION-family curation gate (Schuhmann et al. 2021 keep image–caption
    * pairs with CLIP similarity ≥ 0.3; here the threshold is a parameter
    * and the verdict rolls up into the per-group quality card a curation
    * run reads before choosing a cut). `pairs` is the already-joined
    * (image-embedding, caption-embedding) frame — pairing is the caller's
    * id-keyed join, so at 100 TB it is ONE co-partitioned (or bucketed,
    * shuffle-free) join, never recomputed here.
    *
    * Scale shape: one codegen'd cosine projection per pair (native
    * dot/l2norm kernels — no HOFs, no UDF), then a map-side-combinable
    * count/sum aggregate down to |groups| rows. The rate is ONE
    * correctly-rounded IEEE division of two longs, so a SQL oracle
    * restates the card exactly away from the threshold boundary.
    * A zero-norm or null embedding has no cosine: with ANSI off the
    * division by a zero norm is null, and a null score counts as NOT
    * aligned. So does a NaN cosine (a NaN component): Spark orders NaN
    * above every number, so a bare `>= threshold` would count exactly the
    * rows a quality gate exists to reject.
    * Output: (label, n_pairs, n_aligned, align_rate). */
  def alignmentCard(
      pairs: DataFrame,
      group: Column,
      imgEmb: Column,
      capEmb: Column,
      threshold: Double
  ): DataFrame = {
    val cos = cosine(imgEmb, capEmb)
    pairs
      .groupBy(group.as("label"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(!isnan(cos) && cos >= lit(threshold), 1L).otherwise(0L))
          .as("n_aligned"))
      .withColumn("align_rate",
        col("n_aligned").cast("double") / col("n_pairs").cast("double"))
  }

  /** Embedding OUTLIER score — L2 distance of each vector to the CORPUS
    * CENTROID (per-dimension mean). The standard embedding-quality
    * prefilter: junk rows (corrupt encodes, off-distribution content)
    * land far from the centroid and get dropped/reviewed before the
    * expensive dedup/ANN stages (the SemDeDup-family screening step).
    *
    * Scale shape: pass 1 is a map-side-combinable per-dimension mean
    * (posexplode → d groups; the shuffle carries d rows per partition);
    * the centroid — d doubles, a bounded driver read like the IVF
    * centroid set — is closed over by the pass-2 scoring kernel: one
    * codegen-friendly projection, no join, no second shuffle. */
  def embeddingOutliers(df: DataFrame, vec: Column, id: Column): DataFrame = {
    val ex = df.select(posexplode(vec).as(Seq("_p", "_v")))
    val centroid = ex
      .groupBy("_p")
      .agg(avg(col("_v").cast("double")).as("_m"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getDouble(1))
    val c = centroid
    // Array[Double] + explicit cast: an Array[Float]-typed kernel would make
    // the analyzer float-round an array<double> input while the centroid
    // pass above averaged unrounded doubles — two passes, two precisions.
    // float inputs widen losslessly, so float-vector scores are unchanged.
    val u = udf { (e: Array[Double]) =>
      if (e == null) null.asInstanceOf[java.lang.Double]
      else {
        var s = 0.0
        var i = 0
        val n = math.min(e.length, c.length)
        while (i < n) { val d = e(i) - c(i); s += d * d; i += 1 }
        java.lang.Double.valueOf(math.sqrt(s))
      }
    }
    df.select(id.cast("long").as("id"), u(vec.cast("array<double>")).as("dist"))
  }

  /** Symmetric max-abs int8 quantization of an embedding column — the
    * storage scale path for ANN stores: a 64-dim float32 vector becomes
    * 64 bytes + one double (≈4× smaller scan + shuffle footprint, the
    * standard serving-index compression; e.g. Faiss SQ8). Per vector:
    * `scale = max|v_i| / 127`, `q_i = floor(v_i/scale + 0.5)` (half-up,
    * engine-reproducible — never banker's rounding), stored as BINARY.
    * Zero vectors quantize to scale 0 with all-zero bytes. Output:
    * (id, scale, q). One per-row primitive-loop kernel, no shuffle;
    * pairs with [[int8Dot]] for the in-store approximate dot. */
  def quantizeInt8(df: DataFrame, vec: Column, id: Column): DataFrame = {
    val u = udf { (arr: Array[Double]) =>
      if (arr == null) null
      else {
        var m = 0.0; var i = 0
        while (i < arr.length) { val a = math.abs(arr(i)); if (a > m) m = a; i += 1 }
        val scale = m / 127.0
        val q = new Array[Byte](arr.length)
        if (m > 0) {
          i = 0
          while (i < arr.length) { q(i) = math.floor(arr(i) / scale + 0.5).toByte; i += 1 }
        }
        (scale, q)
      }
    }
    df.select(id.cast("long").as("id"), u(vec.cast("array<double>")).as("_q"))
      .select(col("id"), col("_q._1").as("scale"), col("_q._2").as("q"))
  }

  /** Approximate dot product over [[quantizeInt8]] pairs:
    * `sa·sb·Σ qa_i·qb_i` — the integer accumulation runs in long (exact),
    * one double multiply chain at the end, so the value is bit-reproducible
    * across engines. Primitive-loop kernel over BINARY (bytes are the
    * signed quantized values). */
  def int8Dot(qa: Column, sa: Column, qb: Column, sb: Column): Column = {
    val u = udf { (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null.asInstanceOf[java.lang.Long]
      else {
        var s = 0L; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
        java.lang.Long.valueOf(s)
      }
    }
    sa * sb * u(qa, qb)
  }
}
