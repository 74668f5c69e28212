package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup

/** Persist-side LSH: bucketed store, partition-pruned probes, and the
  * LSH-bucketed embedding dedup. */
class AnnStoreSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int) = (0 until n).map { i =>
    (i.toLong, Seq.tabulate(16)(d => math.sin(i * 7 + d * 3).toFloat))
  }.toDF("vec_id", "embedding")

  test("lshTopKStored probes a strict subset of partitions and finds the exact match") {
    val path = Files.createTempDirectory("graft_lsh").toString + "/store"
    val df = vecs(300)
    Ann.writeLshBucketed(df, col("embedding"), col("vec_id"), path, numBits = 8, prefixBits = 4)
    // all 16 prefix dirs exist on this data?
    val dirs = new java.io.File(path).listFiles().count(_.getName.startsWith("sig_prefix="))
    val q = (0 until 16).map(d => math.sin(5 * 7 + d * 3)) // vector of id 5
    val probe = Ann.lshTopKStored(spark, path, q, 3, numBits = 8, prefixBits = 4, probeHamming = 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "probe must push a partition filter")
    // hamming<=1 over 8 bits touches at most 5 distinct 4-bit prefixes
    assert(dirs > 5, s"store should have more prefix dirs than the probe touches (got $dirs)")
    val top = probe.collect()
    assert(top.head.getLong(0) == 5L && top.head.getDouble(1) > 0.999999)
  }

  test("stored probe returns the same candidates as the query-time scan filter") {
    val path = Files.createTempDirectory("graft_lsh2").toString + "/store"
    val df = vecs(200)
    Ann.writeLshBucketed(df, col("embedding"), col("vec_id"), path, numBits = 8, prefixBits = 4)
    val q = (0 until 16).map(d => math.sin(9 * 7 + d * 3))
    val stored = Ann.lshTopKStored(spark, path, q, 10, numBits = 8, prefixBits = 4, probeHamming = 2)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val scanned = Ann.lshTopK(df, col("embedding"), col("vec_id"), q, 10, numBits = 8, probeHamming = 2)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(stored == scanned)
  }

  /** 6 planted unit-ish clusters: center c + small deterministic jitter. */
  private def clustered(n: Int, k: Int = 6, dim: Int = 16) = (0 until n).map { i =>
    val c = i % k
    val v = Seq.tabulate(dim) { d =>
      (math.cos(c * 5 + d) + 0.05 * math.sin(i * 13 + d * 7)).toFloat
    }
    (i.toLong, v, c)
  }.toDF("vec_id", "embedding", "label")

  test("IVF: trainCentroids is deterministic and produces unit centroids") {
    val df = clustered(240)
    val a = Ann.trainCentroids(df, col("embedding"), k = 6, iters = 4)
    val b = Ann.trainCentroids(df, col("embedding"), k = 6, iters = 4)
    assert(a == b)
    a.foreach(c => assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
  }

  test("IVF store: probe prunes to nprobe cell directories and recall is exact on clustered data") {
    val path = Files.createTempDirectory("graft_ivf").toString + "/store"
    val df = clustered(300)
    Ann.writeIvfBucketed(df, col("embedding"), col("vec_id"), path, k = 6, iters = 4)
    val cellDirs = new java.io.File(path).listFiles().count(_.getName.startsWith("cluster="))
    assert(cellDirs == 6, s"expected 6 cell dirs, got $cellDirs")
    val q = df.filter(col("vec_id") === 10).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val probe = Ann.ivfTopK(spark, path, q, 15, nprobe = 2)
    assert(probe.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "probe must push a partition filter")
    val got = probe.collect().map(_.getLong(0)).toSeq
    val exact = Ann.bruteForceTopK(df, col("embedding"), col("vec_id"), q, 15)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, "nprobe=2 must recover the exact top-k on well-separated clusters")
    assert(got.head == 10L)
  }

  test("IVF: nprobe == k is exact on ANY data (degenerates to a pruned-shape full search)") {
    val path = Files.createTempDirectory("graft_ivf2").toString + "/store"
    val df = vecs(150) // sin-lattice: NOT clustered
    Ann.writeIvfBucketed(df, col("embedding"), col("vec_id"), path, k = 5, iters = 3)
    val q = (0 until 16).map(d => math.sin(42 * 7 + d * 3))
    val got = Ann.ivfTopK(spark, path, q, 10, nprobe = 5)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val exact = Ann.bruteForceTopK(df, col("embedding"), col("vec_id"), q, 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(got == exact)
  }

  test("embeddingCosinePairsLsh: scaled copies always collide (sign-invariant), originals verified out") {
    // hash-random vectors (sin-lattice vectors alias into genuine near-dups)
    val base = Ann.hyperplanes(40, 16, seed = 7).zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val copies = base.select((col("vec_id") + 1000).as("vec_id"),
      expr("transform(embedding, x -> CAST(x * 0.5 AS FLOAT))").as("embedding"))
    val pairs = Dedup
      .embeddingCosinePairsLsh(base.unionAll(copies), col("embedding"), col("vec_id"),
        threshold = 0.99, numBits = 10, tables = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity)
      .toSeq
    assert(pairs == (0 until 40).map(i => (i.toLong, i + 1000L)))
  }

  test("knnJoin: per-query top-k via signature join == exact brute force on planted data") {
    // store: 60 hash-random base vectors + 4 scaled copies of each of the
    // first 3 (copies share the original's FULL signature — sign-invariant),
    // queries = the 3 originals; true top-5 per query = {original} ∪ copies
    val base = Ann.hyperplanes(60, 16, seed = 11).zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val copies = base.filter(col("vec_id") < 3)
      .crossJoin(spark.range(4).withColumnRenamed("id", "c"))
      .select((col("vec_id") * 10 + col("c") + 1000).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 0.5 AS FLOAT))").as("embedding"))
    val path = Files.createTempDirectory("graft_knn").toString + "/store"
    Ann.writeLshBucketed(base.unionAll(copies), col("embedding"), col("vec_id"), path,
      numBits = 8, prefixBits = 4)
    val store = spark.read.parquet(path)
    val queries = base.filter(col("vec_id") < 3)

    val got = Ann.knnJoin(queries, col("embedding"), col("vec_id"), store,
        k = 5, numBits = 8, probeHamming = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // exact per-query brute force over the same content
    val all = base.unionAll(copies)
    val exact = (0L until 3L).flatMap { q =>
      val qv = queries.filter(col("vec_id") === q).head().getSeq[Float](1).map(_.toDouble)
      Ann.bruteForceTopK(all, col("embedding"), col("vec_id"), qv, 5)
        .collect().map(r => (q, r.getLong(0)))
    }.sorted
    assert(got == exact)
    // rank column is 1..k per query
    val ranks = Ann.knnJoin(queries, col("embedding"), col("vec_id"), store, k = 5)
      .groupBy("qid").agg(collect_list("rank").as("rks")).collect()
    ranks.foreach(r => assert(r.getSeq[Int](1).sorted == (1 to 5)))
  }

  test("knnJoinIvf: nprobe == cells is exact; clustered queries recall at nprobe=2") {
    val df = clustered(240)
    val path = Files.createTempDirectory("graft_knnivf").toString + "/store"
    Ann.writeIvfBucketed(df, col("embedding"), col("vec_id"), path, k = 6, iters = 4)
    val queries = df.filter(col("vec_id") < 4).select(col("vec_id"), col("embedding"))

    def runIvf(nprobe: Int) = Ann
      .knnJoinIvf(spark, queries, col("embedding"), col("vec_id"), path, k = 4, nprobe = nprobe)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val exact = (0L until 4L).flatMap { q =>
      val qv = queries.filter(col("vec_id") === q).head().getSeq[Float](1).map(_.toDouble)
      Ann.bruteForceTopK(df, col("embedding"), col("vec_id"), qv, 4)
        .collect().map(r => (q, r.getLong(0)))
    }.sorted

    // nprobe = all cells degenerates to an exact search (any data)
    assert(runIvf(6) == exact)
    // on well-separated clusters the true neighbors live in the query's own
    // cell, so a 2-cell probe already matches the exact answer
    assert(runIvf(2) == exact)
  }

  test("knnJoinIvf: a one-row batch returns ivfTopK's ids and bit-identical cosines") {
    val df = vecs(200) // sin-lattice: cells overlap, so the ranking decides recall
    val path = Files.createTempDirectory("graft_knnivf_parity").toString + "/store"
    Ann.writeIvfBucketed(df, col("embedding"), col("vec_id"), path, k = 6, iters = 3)
    for (qid <- Seq(3L, 77L); nprobe <- Seq(1, 2)) {
      val query = df.filter(col("vec_id") === qid)
      val qv = query.head().getSeq[Float](1).map(_.toDouble)
      val single = Ann.ivfTopK(spark, path, qv, 7, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq
      val batch = Ann.knnJoinIvf(spark, query, col("embedding"), col("vec_id"), path, k = 7, nprobe = nprobe)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
      assert(batch == single, s"q=$qid nprobe=$nprobe")
      assert(single.nonEmpty)
    }
  }

  test("single-query probes fail fast on a zero-norm query") {
    val df = clustered(120)
    val lsh = Files.createTempDirectory("graft_zero_lsh").toString + "/store"
    Ann.writeLshBucketed(df, col("embedding"), col("vec_id"), lsh, numBits = 8, prefixBits = 4)
    val ivf = Files.createTempDirectory("graft_zero_ivf").toString + "/store"
    Ann.writeIvfBucketed(df, col("embedding"), col("vec_id"), ivf, k = 6, iters = 2)
    val zero = Seq.fill(16)(0.0)
    val probes = Seq[() => Any](
      () => Ann.bruteForceTopK(df, col("embedding"), col("vec_id"), zero, 5).collect(),
      () => Ann.lshTopK(df, col("embedding"), col("vec_id"), zero, 5, numBits = 8).collect(),
      () => Ann.lshTopKStored(spark, lsh, zero, 5, numBits = 8, prefixBits = 4).collect(),
      () => Ann.ivfTopK(spark, ivf, zero, 5, nprobe = 2).collect())
    probes.foreach { probe =>
      val e = intercept[IllegalArgumentException](probe())
      assert(e.getMessage.contains("zero-norm query"))
    }
  }

  test("hammingKnnJoin equals brute-force top-k at maxDistance <= bands-1 (pigeonhole)") {
    // deterministic 64-bit signatures with planted near-neighbors: every
    // 10th signature is its predecessor with 1-3 bits flipped
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val sigs = (0 until 400).map { i =>
      val base = mix((i / 10).toLong * 10)
      val flips = i % 10 match {
        case 0 => 0L
        case f => (1 to (f % 3 + 1)).map(j => 1L << ((i * 7 + j * 13) % 64)).reduce(_ | _)
      }
      (i.toLong, base ^ flips)
    }.toDF("id", "sig")
    val queries = sigs.filter(col("id") % 10 === 0)
    val got = Ann
      .hammingKnnJoin(queries, col("sig"), col("id"), sigs, col("sig"), col("id"),
        k = 4, bands = 4, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted.toSeq
    // brute force: all pairs, distance <= 3, rank by (distance, id), top 4
    val all = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = all.filter(_._1 % 10 == 0).flatMap { case (qid, qsig) =>
      all.map { case (id, sig) => (qid, id, java.lang.Long.bitCount(qsig ^ sig)) }
        .filter(_._3 <= 3)
        .sortBy(t => (t._3, t._2))
        .take(4)
        .zipWithIndex
        .map { case ((q, i, d), rk) => (q, i, d, rk + 1) }
    }.sorted.toSeq
    assert(got == exact)
    assert(got.nonEmpty && got.exists(_._3 > 0), "planted flips must produce non-trivial neighbors")
  }

  test("knnJoin: mass-duplicated store vectors stay collapsed and results stay exact") {
    // 2 000 bit-identical copies of one vector + 40 distinct vectors; the
    // duplicated group may contribute at most k smallest ids to any top-k
    val v0 = Seq.tabulate(16)(d => math.sin(d * 3 + 1).toFloat)
    val rows = (0L until 2000L).map(i => (i, v0)) ++
      (0 until 40).map(i => (5000L + i, Seq.tabulate(16)(d => math.sin(i * 7 + d * 3).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val planes = Ann.hyperplanes(8, 16)
    val store = df.select(col("vec_id").as("id"), col("embedding"),
      Ann.lshSignature(col("embedding").cast("array<double>"), planes).as("sig"))
    val queries = Seq((100L, v0), (9999L, v0)).toDF("vec_id", "embedding")
    val got = Ann.knnJoin(queries, col("embedding"), col("vec_id"), store, k = 4, numBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    // both query rows carry the duplicated vector → identical results: the
    // 4 smallest ids of the copy group at cosine 1.0
    val expected = Seq(100L, 9999L).flatMap(q => (0L until 4L).map(i => (q, i, i.toInt + 1))).sorted
    assert(got == expected)
  }

  test("embeddingCosinePairs fails fast past maxBlockDistinct, naming the scale path") {
    val rows = (1L to 4L).map(i => (i, Seq.tabulate(8)(d => (i * 10 + d).toFloat), 1))
    val df = rows.toDF("vec_id", "embedding", "blk")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingCosinePairs(df, col("embedding"), col("vec_id"), col("blk"),
        threshold = 0.0, maxBlockDistinct = 3)
    }
    assert(e.getMessage.contains("embeddingCosinePairsLsh"))
  }

  test("embeddingCosinePairs collapses identical vectors: duplicate-heavy block stays exact") {
    // 20 bit-identical copies of one vector + 2 distinct vectors in a block:
    // the collapsed plan scores C(3,2) rep pairs + one self-cosine, then
    // expands — results must equal the naive all-pairs enumeration
    val v0 = Seq.tabulate(8)(d => math.sin(d * 3 + 1).toFloat)
    val v1 = v0.map(x => (x * 0.9f + 0.02f)) // close but distinct
    val v2 = Seq.tabulate(8)(d => math.cos(d * 5 + 2).toFloat)
    val rows = (1L to 20L).map(i => (i, v0, 1)) ++ Seq((30L, v1, 1), (31L, v2, 1), (40L, v0, 2))
    val df = rows.toDF("vec_id", "embedding", "blk")
    val got = Dedup
      .embeddingCosinePairs(df, col("embedding"), col("vec_id"), col("blk"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val vecs = rows.map { case (i, v, b) => (i, v.map(_.toDouble), b) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = (for {
      (ai, av, ab) <- vecs; (bi, bv, bb) <- vecs
      if ai < bi && ab == bb
      c = cos(av, bv) if c >= 0.9
    } yield (ai, bi, c)).sorted.toSeq
    assert(got.map(p => (p._1, p._2)) == expected.map(p => (p._1, p._2)))
    // identical-vector pairs must carry the exact self-cosine the naive
    // arithmetic produces (dot(v,v)/(n*n)), not a synthesized literal
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g._3 - e._3) < 1e-12) }
    assert(!got.exists(p => p._1 == 40L || p._2 == 40L), "cross-block pairs must not appear")
  }

  test("knnJoinIvf pushes an explicit cluster IN partition filter on the store scan") {
    val df = clustered(240)
    val path = Files.createTempDirectory("graft_knnivf_pf").toString + "/store"
    Ann.writeIvfBucketed(df, col("embedding"), col("vec_id"), path, k = 6, iters = 4)
    val queries = df.filter(col("vec_id") < 2).select(col("vec_id"), col("embedding"))
    val out = Ann.knnJoinIvf(spark, queries, col("embedding"), col("vec_id"), path, k = 3, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    // static pruning, not DPP: the store FileScan must carry a non-empty
    // PartitionFilters with the probed cluster set
    val pf = "PartitionFilters: \\[[^\\]]*cluster[^\\]]*IN".r
    assert(pf.findFirstIn(plan).isDefined,
      s"store scan must carry cluster IN (...) partition filter, plan:\n$plan")
    assert(out.count() > 0)
  }

  test("hammingKnnJoin: distance-0 mega-cluster (one signature repeated 10k times) stays collapsed") {
    // 10 000 store rows share ONE signature; 30 distinct others nearby.
    // Pre-collapse means banding joins see ~31 signatures, not 10 030 rows —
    // the graft.hammingknn.cand observation pins the candidate volume.
    val base = 0x0123456789abcdefL
    val mega = (0 until 10000).map(i => (i.toLong, base))
    val others = (0 until 30).map(i => (10000L + i, base ^ (1L << (i % 64)) ^ (if (i % 3 == 0) 2L else 0L)))
    val sigs = (mega ++ others).toDF("id", "sig")
    val queries = Seq((0L, base), (9999L, base), (20000L, base ^ 1L)).toDF("id", "sig")

    val (rows, observed) = collectObserved(Ann.hammingKnnJoin(queries, col("sig"), col("id"), sigs, col("sig"),
      col("id"), k = 5, bands = 4, maxDistance = 3))
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted.toSeq
    val sigPairs = observed.flatMap(_.get("graft.hammingknn.cand")).map(_.getLong(0))

    // exactness under skew: brute force over the 10 030 rows
    val all = (mega ++ others)
    val exact = Seq((0L, base), (9999L, base), (20000L, base ^ 1L)).flatMap { case (qid, qsig) =>
      all.map { case (id, sig) => (qid, id, java.lang.Long.bitCount(qsig ^ sig)) }
        .filter(_._3 <= 3)
        .sortBy(t => (t._3, t._2))
        .take(5)
        .zipWithIndex
        .map { case ((q, i, d), rk) => (q, i, d, rk + 1) }
    }.sorted
    assert(got == exact)
    // collapse evidence: candidate signature pairs ≈ |distinct qsigs| ×
    // |distinct matching ssigs| (≤ 2 × 31), nowhere near the 10k raw rows
    assert(sigPairs.exists(n => n > 0 && n <= 62), s"expected collapsed candidate volume, got $sigPairs")
  }

  test("quantizeInt8 + int8Dot: half-up byte codes, exact integer accumulation, zero-vector safe") {
    // v=(1,-0.5,0.25): scale=1/127, q=(127, floor(-63.5+0.5)=-63, floor(32.25)=32)
    val df = Seq((1L, Array(1f, -0.5f, 0.25f)), (2L, Array(0f, 0f, 0f))).toDF("id", "v")
    val quant = Ann.quantizeInt8(df, col("v"), col("id"))
    val rows = quant.orderBy("id").collect()
    val q1 = rows(0).getAs[Array[Byte]]("q")
    assert(q1.toSeq == Seq[Byte](127, -63, 32))
    assert(rows(0).getDouble(1) == 1.0 / 127.0)
    assert(rows(1).getDouble(1) == 0.0 && rows(1).getAs[Array[Byte]]("q").forall(_ == 0))
    // self-dot: (1/127)^2 * (127^2 + 63^2 + 32^2) = 21122/16129
    val d = quant.filter(col("id") === 1)
      .select(Ann.int8Dot(col("q"), col("scale"), col("q"), col("scale"))).head().getDouble(0)
    assert(d == (1.0 / 127.0) * (1.0 / 127.0) * 21122.0)
  }

  test("alignmentCard: per-label counts, orthogonal captions misalign, rate is an exact division") {
    // label 0: two aligned pairs (identical vectors, cosine 1) + one
    // orthogonal pair (cosine 0); label 1: one anti-parallel pair (-1)
    val pairs = Seq(
      (0, Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
      (0, Array(0f, 2f, 0f), Array(0f, 5f, 0f)),
      (0, Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (1, Array(0f, 0f, 3f), Array(0f, 0f, -3f))
    ).toDF("label", "img", "cap")
    val got = Ann.alignmentCard(pairs, col("label"), col("img"), col("cap"), threshold = 0.5)
      .orderBy("label")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq((0, 3L, 2L, 2.0 / 3.0), (1, 1L, 0L, 0.0)))
  }

  test("alignmentCard: zero-norm embeddings (null cosine) count as NOT aligned") {
    // with ANSI off the division by a zero norm is null, not NaN; the
    // gate must not count it
    val pairs = Seq(
      (0, Array(1f, 0f), Array(1f, 0f)), // cosine 1 -> aligned
      (0, Array(0f, 0f), Array(1f, 0f)), // zero-norm img -> null -> NOT aligned
      (0, Array(2f, 0f), Array(0f, 0f))  // zero-norm cap -> null -> NOT aligned
    ).toDF("label", "img", "cap")
    val cos = pairs.select(Ann.cosine(col("img"), col("cap"))).collect().map(r => Option(r.get(0))).toSeq
    assert(cos == Seq(Some(1.0), None, None), s"cosines: $cos")
    val got = Ann.alignmentCard(pairs, col("label"), col("img"), col("cap"), threshold = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((3L, 1L)))
  }
}
