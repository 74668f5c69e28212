package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic integer-arithmetic Lloyd k-means over fixed-point vectors —
  * the clustering step a curation pipeline uses to carve an embedding space
  * into domains (cluster-then-balance mixing, and the centroid-training
  * front end of SemDeDup/IVF whose ASSIGNMENT side already ships in
  * [[Dedup.semDedup]] / [[Ann.knnJoinIvf]]).
  *
  * Everything is exact integer arithmetic so results are bit-reproducible
  * across engines, runs, and partitionings — no float accumulation order
  * anywhere:
  *   - vectors are fixed-point longs ([[fixedPoint]]: floor(x·scale + 0.5),
  *     each step correctly-rounded IEEE, so SQL restates it exactly);
  *   - init = the vectors of the k smallest ids (deterministic, like the
  *     planted-centroid discipline of semDedup);
  *   - assignment = argmin of the integer squared distance, ties to the
  *     smallest cluster index ([[Knn.nearest]]);
  *   - update = per-dimension truncating division sum/count (Java `/` on
  *     longs == SQL `//` on BIGINT), empty clusters keep their centroid.
  *
  * Scale shape (MLlib's own k-means loop, minus RNG): centroids live on the
  * driver (k·dim longs) and broadcast each round; the update round is
  * map-side-only — each partition emits ONE k×dim partial-sum matrix,
  * reduced to the driver (P·k·dim longs), NEVER an n×dim explode shuffle;
  * the final assignment is one broadcast primitive-loop kernel projection.
  * Overflow bounds: |v_j| ≤ scale·max|x| keeps squared distances ≤
  * dim·(2·scale·max|x|)² — 64-dim unit-norm at scale 1000 is ≤ 2.6e8,
  * nine orders under Long.MaxValue. */
object KMeans {

  /** Fixed-point quantization to array<long>: q_j = floor(x_j·scale + 0.5).
    * Primitive-loop kernel (Catalyst `transform` runs interpreted). */
  def fixedPoint(vec: Column, scale: Double = 1000.0): Column = {
    val sc = scale
    val u = udf { (v: Array[Float]) =>
      if (v == null) null
      else {
        val out = new Array[Long](v.length)
        var j = 0
        while (j < out.length) { out(j) = math.floor(v(j).toDouble * sc + 0.5).toLong; j += 1 }
        out
      }
    }
    u(vec)
  }

  /** Train only: the centroids [[fitAssign]] would assign under — k
    * arrays of dim longs after `iters − 1` update rounds. The
    * driver-side return is what PQ codebook training
    * ([[Pq.trainCodebooks]]) and any planted-centroid oracle needs.
    *
    * `init` selects the deterministic seeding: `"first"` (default, the
    * q100 oracle contract — the k smallest ids' vectors verbatim) or
    * `"spread"` — greedy farthest-point over the 8k smallest ids
    * (pick vector 0, then repeatedly the candidate maximizing min
    * distance to the chosen set, ties to the smallest id). Lloyd
    * cannot separate DUPLICATE init centroids (the losers stay empty
    * and parked forever), so "first" degrades badly when the k
    * smallest ids repeat values — "spread" is the deterministic
    * k-means++-shaped cure, still a pure function of the data. */
  def fit(df: DataFrame, vec: Column, id: Column, k: Int, iters: Int,
      init: String = "first"): Array[Array[Long]] =
    trainLoop(df, vec, id, k, iters, init)._2

  /** `iters` assignment passes with centroid updates between them (so
    * iters=2 is: assign under the init centroids, update once, reassign).
    * Input `vec` must be array<long> ([[fixedPoint]]); returns
    * (id, cluster, dist) under the final centroids. Each round RESCANS
    * `df` (the MLlib-style alternative is caching the points); for
    * many-round runs, persist the quantized frame upstream — the loop
    * itself stays storage-agnostic. */
  def fitAssign(df: DataFrame, vec: Column, id: Column, k: Int, iters: Int): DataFrame = {
    val (pts, centroids) = trainLoop(df, vec, id, k, iters)
    val spark = df.sparkSession
    val bcF = spark.sparkContext.broadcast(centroids)
    val assign = udf { (v: Array[Long]) =>
      val (best, dd) = Knn.nearest(bcF.value, v, 0)
      (best.toLong, dd)
    }
    pts.select(col("id"), assign(col("v")).as("_a"))
      .select(col("id"), col("_a._1").as("cluster"), col("_a._2").as("dist"))
  }

  private def trainLoop(df: DataFrame, vec: Column, id: Column, k: Int,
      iters: Int, init: String = "first"): (DataFrame, Array[Array[Long]]) = {
    require(k >= 1, s"k must be positive: $k")
    require(iters >= 1, s"iters must be positive: $iters")
    require(init == "first" || init == "spread", s"unknown init: $init")
    val spark = df.sparkSession
    // null vectors (fixedPoint passes nulls through by design) are
    // dropped here: they can neither train a centroid nor be assigned —
    // unguarded they NPE inside the update/assign kernels
    val pts = df.select(id.cast("long").as("id"), vec.as("v"))
      .filter(col("v").isNotNull)
    var centroids: Array[Array[Long]] =
      if (init == "first")
        pts.orderBy("id").limit(k).collect().map(_.getSeq[Long](1).toArray)
      else {
        // greedy farthest-point over a bounded deterministic candidate
        // pool (the 8k smallest ids; ties to the smallest id)
        val pool = pts.orderBy("id").limit(8 * k).collect()
          .map(_.getSeq[Long](1).toArray)
        require(pool.nonEmpty, "need at least one row")
        val chosen = scala.collection.mutable.ArrayBuffer(pool(0))
        val minD = Array.fill(pool.length)(Long.MaxValue)
        while (chosen.length < math.min(k, pool.length)) {
          val last = chosen.last
          var bestI = -1; var bestD = -1L; var i = 0
          while (i < pool.length) {
            val dd = Knn.sqL2(pool(i), 0, last)
            if (dd < minD(i)) minD(i) = dd
            if (minD(i) > bestD) { bestD = minD(i); bestI = i }
            i += 1
          }
          chosen += pool(bestI)
        }
        // fewer distinct points than k: pad with the last (documented Lloyd
        // behavior — duplicates stay empty and parked)
        while (chosen.length < k) chosen += chosen.last
        chosen.toArray
      }
    require(centroids.length == k, s"need at least k=$k rows, got ${centroids.length}")
    val d = centroids(0).length
    val kk = k

    for (_ <- 1 until iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val (sums, cnts) = pts.rdd.mapPartitions { it =>
        val cs = bc.value
        val s = Array.ofDim[Long](cs.length, d)
        val n = new Array[Long](cs.length)
        it.foreach { r =>
          val v = r.getSeq[Long](1).toArray
          val best = Knn.nearest(cs, v, 0)._1
          val row = s(best); var j = 0
          while (j < d) { row(j) += v(j); j += 1 }
          n(best) += 1
        }
        Iterator((s, n))
      }.reduce { (a, b) =>
        var c = 0
        while (c < kk) {
          var j = 0
          while (j < d) { a._1(c)(j) += b._1(c)(j); j += 1 }
          a._2(c) += b._2(c); c += 1
        }
        a
      }
      centroids = Array.tabulate(kk) { c =>
        if (cnts(c) == 0L) centroids(c) // empty cluster keeps its centroid
        else sums(c).map(_ / cnts(c)) // truncating div == SQL // on BIGINT
      }
    }
    (pts, centroids)
  }
}
