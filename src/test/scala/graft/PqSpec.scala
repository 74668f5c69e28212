package graft

import org.apache.spark.sql.functions._
import graft.ann.Pq

/** Product quantization: encode argmin + tie-break, code checksum, and
  * ADC distance = the brute-force table sum. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 2 subspaces × 2 dims, 3 codes each — hand-checkable
  private val cbs: Pq.Codebooks = Array(
    Array(Array(0L, 0L), Array(10L, 0L), Array(0L, 10L)),
    Array(Array(5L, 5L), Array(-5L, -5L), Array(5L, -5L))
  )

  test("encode: per-subspace argmin of integer squared distance, ties to smallest code") {
    val df = Seq(
      (1L, Seq(0L, 0L, 5L, 5L)),     // exact codebook hits -> (0, 0)
      (2L, Seq(9L, 1L, -4L, -4L)),   // nearest (10,0) and (-5,-5) -> (1, 1)
      (3L, Seq(10L, 10L, 5L, 5L)),   // sub0 (10,10): codes 1,2 both 100 < code 0's 200
                                     // -> tie breaks to 1; sub1 exact hit on code 0
      (4L, null.asInstanceOf[Seq[Long]])
    ).toDF("id", "v")
    val got = Pq.encode(df, col("v"), col("id"), cbs)
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Long](1)).map(_.toSeq)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some(Seq(0L, 0L))),
      (2L, Some(Seq(1L, 1L))),
      (3L, Some(Seq(1L, 0L))),
      (4L, None)))
  }

  test("codeKey: base-k positional checksum") {
    val df = Seq((1L, Seq(2L, 1L))).toDF("id", "codes")
    val got = df.select(Pq.codeKey(col("codes"), k = 3)).head().getLong(0)
    assert(got == 2L + 1L * 3L) // 2·3^0 + 1·3^1
  }

  test("adcDist equals the driver brute-force table sum; zero for an exact codebook-word query") {
    val df = Seq((1L, Seq(0L, 0L, 5L, 5L)), (2L, Seq(9L, 1L, -4L, -4L))).toDF("id", "v")
    val enc = Pq.encode(df, col("v"), col("id"), cbs)
    // query = exact concatenation of codebook words (0, 1)
    val query = Array(0L, 0L, -5L, -5L)
    val got = enc.select(col("id"), Pq.adcDist(col("codes"), query, cbs).as("a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // id 1 codes (0,0): d(sub0 q=[0,0] vs cb [0,0]) = 0; d(sub1 q=[-5,-5] vs cb [5,5]) = 200
    // id 2 codes (1,1): d([0,0] vs [10,0]) = 100; d([-5,-5] vs [-5,-5]) = 0
    assert(got == Seq((1L, 200L), (2L, 100L)))
  }

  test("trainCodebooks: m independent k-means over sliced subvectors, deterministic init + update") {
    // 4-dim vectors, m=2 subspaces; two obvious clusters per subspace
    // ids 0,1 are the k=2 init; one update round (iters=2) recenters
    val df = Seq(
      (0L, Seq(0L, 0L, 100L, 100L)),
      (1L, Seq(40L, 40L, 0L, 0L)),
      (2L, Seq(2L, 2L, 104L, 104L)),   // joins cluster of (0,0) / (104,104)
      (3L, Seq(42L, 42L, 2L, 2L))      // joins cluster of (40,40) / (0,0)
    ).toDF("id", "v")
    val cbs = Pq.trainCodebooks(df, col("v"), col("id"), m = 2, k = 2, iters = 2)
    // sub0: init [(0,0),(40,40)]; members {0:(0,0),(2,2)}, {1:(40,40),(42,42)}
    //       -> updated [(1,1),(41,41)]
    assert(cbs(0)(0).toSeq == Seq(1L, 1L) && cbs(0)(1).toSeq == Seq(41L, 41L))
    // sub1: init [(100,100),(0,0)]; members {0:(100,100),(104,104)}, {1:(0,0),(2,2)}
    //       -> updated [(102,102),(1,1)]
    assert(cbs(1)(0).toSeq == Seq(102L, 102L) && cbs(1)(1).toSeq == Seq(1L, 1L))
    // and encode under the trained books assigns every vector to its cluster
    val got = Pq.encode(df, col("v"), col("id"), cbs)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(1L, 1L)), (2L, Seq(0L, 0L)), (3L, Seq(1L, 1L))))
  }

  test("ivfPqProbe: partition-pruned cell read, residual ADC, self-distance 0 for planted words") {
    import java.nio.file.Files
    // 4-dim vectors, 2 coarse cells far apart, m=2 × k=2 residual codebooks
    val coarse = Array(Array(0L, 0L, 0L, 0L), Array(1000L, 1000L, 1000L, 1000L))
    val cbs: Pq.Codebooks = Array(
      Array(Array(0L, 0L), Array(7L, 7L)),
      Array(Array(0L, 0L), Array(-7L, -7L)))
    val df = Seq(
      (1L, Seq(0L, 0L, 0L, 0L)),          // cell 0, residual (0,0,0,0) -> codes (0,0)
      (2L, Seq(7L, 7L, -7L, -7L)),        // cell 0, exact codebook words -> codes (1,1)
      (3L, Seq(1000L, 1000L, 1000L, 1000L)), // cell 1, residual zero
      (4L, Seq(1007L, 1007L, 993L, 993L)) // cell 1, words (1,1)
    ).toDF("id", "v")
    val path = Files.createTempDirectory("graft_ivfpq").toString + "/store"
    Pq.writeIvfPq(df, col("v"), col("id"), path, coarse, cbs)
    // probe near cell 1 with nprobe=1: only cell 1's directory is read
    val q = Array(1007L, 1007L, 993L, 993L) // == vector 4
    val out = Pq.ivfPqProbe(spark, path, q, coarse, cbs, nprobe = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"probe must carry a cluster partition filter:\n$plan")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // cell-0 rows never surface; vec 4's ADC self-distance is exactly 0
    // (its residual IS the (1,1) codebook word the query residual hits)
    assert(got.map(_._1).toSet == Set(3L, 4L))
    assert(got.forall(_._2 == 1L))
    assert(got.find(_._1 == 4L).get._3 == 0L)
  }

  test("Recall.atK counts the id intersection over k; l2Dist is the exact integer distance") {
    import graft.ann.Recall
    val approx = Seq(1L, 2L, 3L, 9L).toDF("id")
    val exact = Seq(1L, 2L, 4L, 8L).toDF("id")
    val r = Recall.atK(approx, col("id"), exact, col("id"), k = 4).head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((4L, 2L, 0.5)))
    val d = Seq((1L, Seq(3L, 4L))).toDF("id", "v")
      .select(Pq.l2Dist(col("v"), Array(0L, 0L))).head().getLong(0)
    assert(d == 25L)
  }

  test("ivfPqKnnJoin: per-query adist equals the single-probe ADC values; partition filter fires") {
    import java.nio.file.Files
    val coarse = Array(Array(0L, 0L, 0L, 0L), Array(1000L, 1000L, 1000L, 1000L))
    val cbs: Pq.Codebooks = Array(
      Array(Array(0L, 0L), Array(7L, 7L)),
      Array(Array(0L, 0L), Array(-7L, -7L)))
    val df = Seq(
      (1L, Seq(0L, 0L, 0L, 0L)), (2L, Seq(7L, 7L, -7L, -7L)),
      (3L, Seq(1000L, 1000L, 1000L, 1000L)), (4L, Seq(1007L, 1007L, 993L, 993L))
    ).toDF("id", "v")
    val path = Files.createTempDirectory("graft_ivfpqknn").toString + "/store"
    Pq.writeIvfPq(df, col("v"), col("id"), path, coarse, cbs)
    val queries = df.filter(col("id").isin(2L, 4L))
    val out = Pq.ivfPqKnnJoin(spark, queries, col("v"), col("id"), path, coarse, cbs,
      k = 2, nprobe = 1)
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"store scan must carry a cluster partition filter:\n$plan")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    // each query's top-1 is itself at adist 0 (its residual IS a codebook
    // word pair); the single-probe path must agree on every pair
    assert(got.map(t => (t._1, t._2, t._4)).filter(_._3 == 1) ==
      Seq((2L, 2L, 1), (4L, 4L, 1)))
    for (qid <- Seq(2L, 4L)) {
      val q = df.filter(col("id") === qid).select("v").head().getSeq[Long](0).toArray
      val single = Pq.ivfPqProbe(spark, path, q, coarse, cbs, nprobe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      got.filter(_._1 == qid).foreach { case (_, id, adist, _) =>
        assert(single(id) == adist, s"batch vs single mismatch for q=$qid id=$id")
      }
    }
    // a null query vector probes nothing instead of crashing the job
    val withNull = Seq((9L, null.asInstanceOf[Seq[Long]])).toDF("id", "v")
    assert(Pq.ivfPqKnnJoin(spark, withNull, col("v"), col("id"), path, coarse, cbs,
      k = 2, nprobe = 1).count() == 0L)
    // the store persists its quantizers — a probe can rehydrate them
    val (rc, rcb) = Pq.readQuantizers(path)
    assert(rc.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq)
    assert(rcb.map(_.map(_.toSeq).toSeq).toSeq == cbs.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("ivfPqKnnJoin: a query row wider than m·subDim fails, naming both dimensions") {
    import java.nio.file.Files
    val coarse = Array(Array(0L, 0L, 0L, 0L), Array(1000L, 1000L, 1000L, 1000L))
    val cbs: Pq.Codebooks = Array(
      Array(Array(0L, 0L), Array(7L, 7L)),
      Array(Array(0L, 0L), Array(-7L, -7L)))
    val df = Seq((1L, Seq(0L, 0L, 0L, 0L)), (2L, Seq(1000L, 1000L, 1000L, 1000L))).toDF("id", "v")
    val path = Files.createTempDirectory("graft_ivfpq_dim").toString + "/store"
    Pq.writeIvfPq(df, col("v"), col("id"), path, coarse, cbs)
    // one well-formed row and one with a fifth component: scoring only the
    // 4-long prefix would return a plausible, wrong neighbor list
    val queries = Seq((1L, Seq(0L, 0L, 0L, 0L)), (9L, Seq(1000L, 1000L, 1000L, 1000L, 5L)))
      .toDF("id", "v")
    val e = intercept[Exception] {
      Pq.ivfPqKnnJoin(spark, queries, col("v"), col("id"), path, coarse, cbs, k = 1, nprobe = 1)
        .collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("query dim 5 != 4")), s"got: $e")
    // coarse centroids must be as wide as the codebooks' m·subDim
    val wide = coarse.map(_ :+ 0L)
    val e2 = intercept[IllegalArgumentException] {
      Pq.ivfPqKnnJoin(spark, df, col("v"), col("id"), path, wide, cbs, k = 1, nprobe = 1)
    }
    assert(e2.getMessage.contains("coarse dim 5 != 4"))
  }

  test("spread init seeds distinct centroids where first-k init seeds duplicates") {
    import graft.ann.KMeans
    // the k=2 smallest ids are IDENTICAL — first-k init duplicates them;
    // spread init picks the farthest pool point ((102,102): 20808 > 20000)
    val df = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(0L, 0L)),
      (2L, Seq(100L, 100L)), (3L, Seq(102L, 102L)), (4L, Seq(2L, 2L))
    ).toDF("id", "v")
    val first = KMeans.fit(df, col("v"), col("id"), k = 2, iters = 1)
    assert(first.map(_.toSeq).toSeq == Seq(Seq(0L, 0L), Seq(0L, 0L)))
    val spread = KMeans.fit(df, col("v"), col("id"), k = 2, iters = 1, init = "spread")
    assert(spread.map(_.toSeq).toSeq == Seq(Seq(0L, 0L), Seq(102L, 102L)))
    // and one update from the spread seed lands the true cluster means
    val trained = KMeans.fit(df, col("v"), col("id"), k = 2, iters = 2, init = "spread")
    assert(trained.map(_.toSeq).sortBy(_.head).toSeq == Seq(Seq(0L, 0L), Seq(101L, 101L)))
  }

  test("sliceCodebooks: dim must divide m; slices preserve order") {
    val cb = Pq.sliceCodebooks(Array(Array(1L, 2L, 3L, 4L), Array(5L, 6L, 7L, 8L)), m = 2)
    assert(cb(0)(0).toSeq == Seq(1L, 2L) && cb(1)(1).toSeq == Seq(7L, 8L))
    intercept[IllegalArgumentException] {
      Pq.sliceCodebooks(Array(Array(1L, 2L, 3L)), m = 2)
    }
  }
}
