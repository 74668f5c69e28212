package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup
import graft.stats.{ColumnStats, Drift}
import graft.text.TextOps

/** Text analysis, dedup, ANN, stats and drift operators. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a completely different sentence about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (4L, "dog lazy the over jumps fox brown quick the"), // same token multiset as 1
    (5L, "the quick brown fox jumps over the lazy cat and more words here")
  ).toDF("doc_id", "text")

  test("token count / stopword count / punct count") {
    val r = docs
      .select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n"),
        TextOps.stopwordCount(col("text")).as("s"),
        TextOps.punctCount(col("text")).as("p")
      )
      .collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
      .sortBy(_._1)
    assert(r(0) == (1L, 9, 2, 0)) // two 'the'
    assert(r(1)._2 == 7)
    assert(r(1)._3 == 1) // 'a'
  }

  test("language ID heuristic picks marker language or unk") {
    val df = Seq(
      (1L, "the cat and the dog is here"),
      (2L, "der hund und die katze ist hier"),
      (3L, "le chat et la maison est grande"),
      (4L, "xyz qwerty asdf")
    ).toDF("id", "text")
    val r = df.select(col("id"), TextOps.langId(col("text"))).collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1)
    assert(r(0)._2 == "en")
    assert(r(1)._2 == "de")
    assert(r(2)._2 == "fr")
    assert(r(3)._2 == "unk")
  }

  test("exact dedup finds byte-identical texts, first occurrence kept") {
    val d = Dedup.exact(docs, col("text"), col("doc_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d.toSeq == Seq((3L, 1L)))
  }

  test("normalized token-set dedup also catches reordered duplicates") {
    val d = Dedup
      .normalizedTokenSet(docs, col("text"), col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(d.toSeq == Seq((3L, 1L), (4L, 1L)))
  }

  test("simhash identical for identical texts, near for near-duplicates") {
    val sigs = docs
      .select(col("doc_id"), TextOps.simhash64(col("text")).as("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(sigs(1L) == sigs(3L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(5L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    assert(hammingNear < hammingFar)
  }

  test("minhash LSH finds the exact duplicate pair with jaccard 1.0") {
    val pairs = Dedup
      .minHashPairs(docs, col("text"), col("doc_id"), threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 1.0))
  }

  test("ngram jaccard within blocks") {
    val blocked = docs.withColumn("blk", lit(1))
    val pairs = Dedup
      .ngramJaccardPairs(blocked, col("text"), col("doc_id"), col("blk"), threshold = 0.99)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 3L)))
  }

  test("ngram jaccard fails fast past maxBlockDistinct, naming the scale path") {
    // 4 DISTINCT shingle sets in one block with a cap of 3: the quadratic
    // baseline must refuse before the self-join and point at minHashPairs
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon", 1),
      (2L, "one two three four five six", 1),
      (3L, "red green blue yellow purple", 1),
      (4L, "north south east west center", 1)
    ).toDF("doc_id", "text", "blk")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(df, col("text"), col("doc_id"), col("blk"), maxBlockDistinct = 3)
    }
    assert(e.getMessage.contains("minHashPairs"))
    // identical copies do NOT count against the cap (they collapse first)
    val dups = Seq.tabulate(10)(i => (i.toLong, "same text every time here", 1))
      .toDF("doc_id", "text", "blk")
    assert(Dedup.ngramJaccardPairs(dups, col("text"), col("doc_id"), col("blk"),
      maxBlockDistinct = 1).count() == 45L)
  }

  test("ngram jaccard collapses identical shingle sets: duplicate-heavy block stays exact") {
    // 25 exact copies + 2 distinct docs in one block + 1 cross-block copy:
    // naive all-pairs is C(28,2) jaccard kernels; the collapsed plan runs
    // C(3,2) rep kernels and synthesizes the rest — results must be the
    // naive enumeration exactly
    val rows =
      (1L to 25L).map(i => (i, "the quick brown fox jumps over the lazy dog again", 1)) ++
        Seq(
          (30L, "the quick brown fox jumps over the lazy dog today", 1),
          (31L, "a completely different sentence about spark engines", 1),
          (40L, "the quick brown fox jumps over the lazy dog again", 2) // other block
        )
    val df = rows.toDF("doc_id", "text", "blk")
    val got = Dedup
      .ngramJaccardPairs(df, col("text"), col("doc_id"), col("blk"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // naive all-pairs enumeration over the same shingle sets (same
    // inter/union arithmetic as the engine's jaccardLong kernel)
    val sh = df
      .select(col("doc_id"), col("blk"), TextOps.wordShingleHashes(col("text"), 3).as("sh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toSet))
    def jac(a: Set[Long], b: Set[Long]): Double = {
      val u = a.union(b).size
      if (u == 0) 1.0 else a.intersect(b).size.toDouble / u
    }
    val expected = (for {
      (ai, ab, ash) <- sh; (bi, bb, bsh) <- sh
      if ai < bi && ab == bb
      j = jac(ash, bsh) if j >= 0.5
    } yield (ai, bi, j)).sorted.toSeq
    assert(got == expected)
    assert(got.size == 25 * 24 / 2 + 25, "25 intra-copy pairs choose 2, plus copy-vs-variant pairs")
    assert(!got.exists(p => p._1 == 40L || p._2 == 40L), "cross-block pairs must not appear")
  }

  test("hamming-band near-dup pairs: recall within bands-1 flips, no false positives") {
    val x = 0x123456789abcdefL
    val y = x ^ (1L << 3) ^ (1L << 40) // 2 bit flips
    val z = 0x7ea5e5e5e5e5e5e5L
    val df = Seq((1L, x), (2L, y), (3L, z)).toDF("id", "sig")
    val pairs = Dedup
      .hammingPairs(df, col("sig"), col("id"), maxHamming = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 2)))
  }

  test("hammingPairs: maxBucket is a pure performance knob — results identical under tiny caps") {
    // 60 sigs in 3 exact-dup clusters + near-dup links between clusters;
    // maxBucket=2 forces EVERYTHING through the hot-bucket split path
    val sigs = (0 until 60).map { i =>
      val base = Seq(0x0123456789abcdefL, 0x0123456789abcdeeL, 0x7ea5a5a5a5a5a5a5L)(i % 3)
      (i.toLong + 1, base)
    }
    val df = sigs.toDF("id", "sig")
    def run(cap: Int) = Dedup
      .hammingPairs(df, col("sig"), col("id"), maxHamming = 1, bands = 2, maxBucket = cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(p => (p._1, p._2))
      .toSeq
    val full = run(10000)
    assert(run(2) == full)
    // sanity: 20 ids per cluster -> 3*C(20,2)=570 zero-pairs, plus 20*20
    // cross pairs between the two clusters at hamming 1
    assert(full.count(_._3 == 0) == 570)
    assert(full.count(_._3 == 1) == 400)
  }

  test("minHashPairs: exact-dup pairs survive any maxBucket (identical-set collapse)") {
    val many = (0 until 30).map(i => (i.toLong + 1, "the quick brown fox jumps over the lazy dog")) ++
      Seq((100L, "a completely different sentence about spark engines"))
    val df = many.toDF("doc_id", "text")
    def run(cap: Int) = Dedup
      .minHashPairs(df, col("text"), col("doc_id"), threshold = 0.9, maxBucket = cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
      .toSeq
    val full = run(1000)
    assert(full.size == 30 * 29 / 2 && full.forall(_._3 == 1.0))
    assert(run(1) == full) // every bucket "hot": prefix extension, not drop
  }

  test("minHashPairs hot path: two-band narrowing documented + surfaced via graft.minhash.hot") {
    // DISTINCT near-dup variants of one base text (distinct shingle sets, so
    // the identical-set collapse does NOT absorb them): maxBucket=1 forces
    // every bucket through the prefix-extension path, where candidates must
    // agree on two CONSECUTIVE bands instead of one. This pins the exact
    // recall trade the scaladoc documents — pairs with an agreeing band but
    // no two consecutive agreeing bands are dropped under the hot regime —
    // and checks the "no silent caps" beacon fires.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val variants = (0 until 12).map(i => (i.toLong + 1, s"$base extra$i tail$i"))
    val df = variants.toDF("doc_id", "text")
    def run(cap: Int) = Dedup
      .minHashPairs(df, col("text"), col("doc_id"), threshold = 0.3, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // expected agreement structure from the engine's own banding math
    val bands = 8; val rows = 32 / bands
    val sigs = df.select(col("doc_id"),
        Dedup.minhashSignature(TextOps.wordShingleHashes(col("text"), 3), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def bandHashes(id: Long): Seq[Seq[Long]] = (0 until bands).map(b => sigs(id).slice(b * rows, (b + 1) * rows))
    def agreeing(a: Long, b: Long): Seq[Int] =
      (0 until bands).filter(i => bandHashes(a)(i) == bandHashes(b)(i))
    val idPairs = for (a <- 1L to 12L; b <- (a + 1) to 12L) yield (a, b)
    val oneBand = idPairs.filter(p => agreeing(p._1, p._2).nonEmpty)
    val twoConsecutive = idPairs.filter { p =>
      val ag = agreeing(p._1, p._2).toSet
      ag.exists(i => ag.contains((i + 1) % bands))
    }
    assume(oneBand.nonEmpty, "fixture must produce banded candidates")

    val full = run(1000)
    val hot = run(1)
    // full recall = one agreeing band (all variants pass the 0.3 jaccard
    // verify — they share the long base shingle run)
    assert(full == oneBand.sorted)
    // hot regime = exactly the consecutive-two-band survivors: the
    // documented narrowing, nothing more, nothing less
    assert(hot == twoConsecutive.sorted)
    assert(hot.toSet.subsetOf(full.toSet))

    // the beacon: hot_rows > 0 whenever the narrowing was live
    val (_, observed) = collectObserved(
      Dedup.minHashPairs(df, col("text"), col("doc_id"), threshold = 0.3, maxBucket = 1))
    val hotRows = observed.flatMap(_.get("graft.minhash.hot")).map(_.getLong(0))
    assert(hotRows.exists(_ > 0), s"hot-bucket observation must fire, got $hotRows (metrics $observed)")
  }

  test("minHashPairs hot sample recovers hot-band-only pairs and measures the loss (graft.minhash.hotrecall)") {
    // same fixture as the narrowing test: distinct near-dup variants,
    // maxBucket=1 makes every bucket hot. With the default sample
    // (hotSample = maxBucket = 1) the prefix narrowing loses one-band-only
    // pairs; with a sample covering the bucket, recall is FULL again and
    // hot_recovered counts exactly the pairs prefix-extension alone missed.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val variants = (0 until 12).map(i => (i.toLong + 1, s"$base extra$i tail$i"))
    val df = variants.toDF("doc_id", "text")
    def run(cap: Int, hs: Int) = Dedup
      .minHashPairs(df, col("text"), col("doc_id"), threshold = 0.3, maxBucket = cap, hotSample = hs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val full = run(1000, -1)
    val narrowed = run(1, 1)
    assume(narrowed.size < full.size, "fixture must have hot-band-only pairs for the recovery to matter")

    // sample covers every hot bucket entirely → full single-band recall
    val (rows, observed) = collectObserved(Dedup
      .minHashPairs(df, col("text"), col("doc_id"), threshold = 0.3, maxBucket = 1, hotSample = 12))
    val sampled = rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(sampled == full, "a bucket-covering sample must restore full recall")
    val recovered = observed.flatMap(_.get("graft.minhash.hotrecall")).map(r => (r.getLong(0), r.getLong(1)))
    // hot_recovered = verified pairs found ONLY via the sample = the loss
    assert(recovered.exists(_._1 == (full.size - narrowed.size).toLong),
      s"hot_recovered must equal the measured prefix-path loss (${full.size - narrowed.size}), got $recovered")
    assert(recovered.exists(_._2 == full.size.toLong))
  }

  test("fingerprint is whitespace/case-insensitive-normalised and stable") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("id", "t")
    val f = df.select(col("id"), TextOps.fingerprint(col("t"))).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) == f(2L))
    assert(f(1L) != f(3L))
  }

  test("brute-force ANN: identical vector is its own top-1 with cosine 1.0") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs, col("embedding"), col("vec_id"), Seq(1.0, 0.0, 0.0), 2).collect()
    assert(top(0).getLong(0) == 1L && math.abs(top(0).getDouble(1) - 1.0) < 1e-9)
    assert(top(1).getLong(0) == 2L)
  }

  test("LSH ANN recalls the exact-match neighbor") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 3 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val q = (0 until 8).map(d => math.sin(0 * 3 + d))
    val top = Ann.lshTopK(vecs, col("embedding"), col("vec_id"), q, 3, numBits = 8, probeHamming = 2).collect()
    assert(top.head.getLong(0) == 0L)
  }

  test("column stats single-pass profile") {
    val df = Seq((1, Some(2.0)), (2, None), (3, Some(8.0))).toDF("id", "v")
    val r = ColumnStats.profile(df, Seq("id", "v"), exactDistinct = true).collect().map(x => x.getString(0) -> x).toMap
    assert(r("v").getLong(1) == 2) // non-null count
    assert(r("v").getLong(2) == 1) // nulls
    assert(r("v").getLong(3) == 2) // distinct
    assert(r("v").getDouble(4) == 2.0 && r("v").getDouble(5) == 8.0)
    assert(r("id").getLong(1) == 3)
  }

  test("column stats profile: a failing column cancels the other jobs, rethrows its own error, leaves none running") {
    val boom = udf { (x: Long) => if (x >= 0L) throw new IllegalStateException("profile-boom") else x }
    val slow = udf { (x: Long) => TextDedupSpec.slowCalls.incrementAndGet(); Thread.sleep(50); x }
    // each slow column's exact-distinct job makes 400 calls of 50 ms (40
    // tasks of 0.5 s on 4 slots); the failing column comes first
    val df = spark.range(0, 400, 1, 40)
      .select(boom(col("id")).as("bad") +: (0 until 5).map(i => slow(col("id") + i).as(s"s$i")): _*)
    val before = TextDedupSpec.slowCalls.get
    val err = intercept[Exception](ColumnStats.profile(df, df.columns.toSeq, exactDistinct = true))
    val during = TextDedupSpec.slowCalls.get - before
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("profile-boom")),
      s"the failing job's own error must surface, got $err")
    assert(!err.isInstanceOf[java.util.concurrent.ExecutionException])
    // the five slow distinct jobs alone make 2000 calls: far fewer means
    // the first failure cancelled the rest
    assert(during < 1000, s"$during slow calls: the other jobs ran on after the failure")
    // a killed task may finish the rows it is on; after that, silence
    Thread.sleep(2000)
    val calls = TextDedupSpec.slowCalls.get
    Thread.sleep(1500)
    assert(TextDedupSpec.slowCalls.get == calls, "profile returned while its jobs were still running")
  }

  test("drift: identical distributions give PSI~0 and KS~0, shifted ones do not") {
    val a = (1 to 1000).map(i => i % 100).toDF("x")
    val b = (1 to 1000).map(i => i % 100).toDF("x")
    val c = (1 to 1000).map(i => (i % 100) + 50).toDF("x")
    val (psiSame, ksSame) = Drift.detect(a, b, col("x"), 0, 150, 10)
    val (psiShift, ksShift) = Drift.detect(a, c, col("x"), 0, 150, 10)
    assert(math.abs(psiSame) < 1e-9 && ksSame < 1e-9)
    assert(psiShift > 0.5 && ksShift > 0.2)
  }

  test("histogram clamps out-of-range values to edge buckets") {
    val df = Seq(-5.0, 0.0, 4.9, 5.0, 49.9, 60.0).toDF("x")
    val h = ColumnStats.histogram(df, col("x"), 0, 50, 10).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(h(0) == 3)  // -5 clamped, 0, 4.9
    assert(h(1) == 1)  // 5.0
    assert(h(9) == 2)  // 49.9 and 60 clamped
  }

  test("winnowing: shared-substring guarantee, edit robustness, determinism") {
    val k = 8; val w = 4
    val common = "the quick brown fox jumps over the lazy dog near the river bank today"
    val a = s"PREFIX AAA $common SUFFIX BBB"
    val b = s"totally different opening words here $common and a different ending"
    val c = "unrelated content about spark catalyst expressions and parquet column pruning"
    def fp(s: String) = TextOps.winnowingOf(s, k, w).toSet
    // guarantee: a shared substring of >= w+k-1 chars yields >= 1 shared fingerprint
    assert((fp(a) intersect fp(b)).nonEmpty)
    // near-dup (one word changed) shares MOST fingerprints; unrelated ~none
    val aEdit = a.replace("lazy", "SLEEPY")
    val overlapNear = (fp(a) intersect fp(aEdit)).size.toDouble / fp(a).size
    val overlapFar = (fp(a) intersect fp(c)).size.toDouble / fp(a).size
    assert(overlapNear > 0.6, s"near overlap $overlapNear")
    assert(overlapFar < 0.1, s"far overlap $overlapFar")
    // deterministic, sorted, distinct; whitespace/case normalised
    val f1 = TextOps.winnowingOf(a, k, w)
    assert(f1.toSeq == f1.sorted.toSeq && f1.distinct.length == f1.length)
    assert(TextOps.winnowingOf("  THE   Quick brown ", k, w).toSeq ==
      TextOps.winnowingOf("the quick brown", k, w).toSeq)
    // degenerate inputs
    assert(TextOps.winnowingOf(null, k, w).isEmpty)
    assert(TextOps.winnowingOf("", k, w).isEmpty)
    assert(TextOps.winnowingOf("abc", k, w).length == 1) // shorter than k
  }

  test("sharedFingerprintPairs finds planted near-dups, skips boilerplate fingerprints") {
    val boiler = "copyright acme corp all rights reserved do not redistribute"
    def body(i: Int) = // per-doc-unique tokens: no long cross-doc substrings
      s"doc$i alpha${i * 13} beta${i * 31} gamma${i * 17} delta${i * 7} epsilon${i * 3} zeta${i * 41}"
    val docs = (0 until 40).map { i =>
      val b = if (i == 30) body(10) else body(i) // 30 is a near-copy of 10
      (i.toLong, s"$b $boiler") // every doc carries the same boilerplate tail
    }.toDF("doc_id", "text")
    val pairs = Dedup
      .sharedFingerprintPairs(docs, col("text"), col("doc_id"),
        minShared = 3, maxDocsPerFingerprint = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 30 is a near-copy of doc 10; boilerplate-only overlaps are excluded
    assert(pairs == Set((10L, 30L)))
  }

  test("contaminatedDocs: n-gram overlap with the benchmark set, threshold honoured") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 4 3-grams with bench doc
      (2L, "alpha beta gamma unrelated tail here"), // shares 1 3-gram — below threshold
      (3L, "totally different words in this doc"), // no overlap
      (4L, "alpha beta gamma delta epsilon zeta") // exact copy → full overlap
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val got = graft.text.TextOps
      .contaminatedDocs(corpus, col("text"), col("doc_id"), bench, col("text"), minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // 6 tokens → 4 distinct 3-grams; doc 2 shares only "alpha beta gamma"
    assert(got == Seq((1L, 4L), (4L, 4L)))
    // bloom-prefilter path (forced via threshold 0): same exact result —
    // false positives only widen the pre-join candidate set, never the join
    val bloomed = graft.text.TextOps
      .contaminatedDocs(corpus, col("text"), col("doc_id"), bench, col("text"),
        minOverlap = 2, bloomThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(bloomed == got)
  }

  test("connectedComponents: pairs collapse to min-id clusters, chains converge, isolated pairs stay apart") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain — needs >1 propagation round),
    // {10,11}, {20,21,22} (a triangle); node 99 appears in no pair
    val pairs = Seq((2L, 1L), (3L, 2L), (4L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L)
    ))
  }

  test("connectedComponentsStats surfaces non-convergence instead of silently returning partial labels") {
    import spark.implicits._
    // a 6-hop chain: min-label propagation needs 5 rounds to reach node 6
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cut = Dedup.connectedComponentsStats(chain, col("id_a"), col("id_b"), maxIter = 2)
    assert(!cut.converged && cut.iterations == 2)
    // the partial labels are indeed non-minimal on the chain tail
    val partial = cut.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(partial(6L) != 1L)
    val full = Dedup.connectedComponentsStats(chain, col("id_a"), col("id_b"))
    assert(full.converged && full.iterations <= 7)
    assert(full.labels.collect().forall(_.getLong(1) == 1L))
  }

  test("connectedComponents: a lazy truncate fails fast and names the operator, both variants") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val lazyCut: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity
    val runs = Seq[(String, () => Dedup.CcResult)](
      "connectedComponentsStats" -> (() =>
        Dedup.connectedComponentsStats(pairs, col("id_a"), col("id_b"), truncate = lazyCut)),
      "connectedComponentsStars" -> (() =>
        Dedup.connectedComponentsStars(pairs, col("id_a"), col("id_b"), truncate = lazyCut)))
    for ((op, run) <- runs) {
      // the outer bound turns a regression to an unbounded wait into a
      // failure instead of a hung suite
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](Await.result(Future(run()), 60.seconds))
      assert(e.getMessage.contains(op) && e.getMessage.contains("truncate must be eager"), e.getMessage)
      assert((System.nanoTime() - t0) / 1e9 < 30.0, s"$op took too long to fail")
    }
  }

  test("connectedComponentsStars: same labels as propagation, O(log n) rounds on a long chain") {
    import spark.implicits._
    // mixed shapes: chain, pair, triangle — labels must equal propagation's
    val pairs = Seq((2L, 1L), (3L, 2L), (4L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val stars = Dedup.connectedComponentsStars(pairs, col("id_a"), col("id_b"))
    assert(stars.converged)
    val got = stars.labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val prop = Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == prop)

    // a 300-node chain: min-label propagation needs ~300 rounds (its default
    // maxIter=25 leaves PARTIAL labels); star contraction converges in
    // O(log n) and must label every node with the chain head
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val prop25 = Dedup.connectedComponentsStats(chain, col("id_a"), col("id_b"))
    assert(!prop25.converged, "propagation at default maxIter must NOT finish a 300-chain")
    val starred = Dedup.connectedComponentsStars(chain, col("id_a"), col("id_b"))
    assert(starred.converged && starred.iterations <= 12,
      s"star contraction should need O(log n) rounds, took ${starred.iterations}")
    val labels = starred.labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 300 && labels.forall(_._2 == 1L))
  }

  test("connectedComponentsStars: self-loop-only nodes surface as singleton labels (parity with propagation)") {
    import spark.implicits._
    // node 7 appears ONLY as (7,7); propagation labels it with itself, so
    // stars must too — and a self-loop on a connected node changes nothing
    val pairs = Seq((1L, 2L), (7L, 7L), (2L, 2L)).toDF("id_a", "id_b")
    val stars = Dedup.connectedComponentsStars(pairs, col("id_a"), col("id_b"))
    val got = stars.labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val prop = Dedup.connectedComponentsStats(pairs, col("id_a"), col("id_b")).labels
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == prop)
    assert(got == Seq((1L, 1L), (2L, 1L), (7L, 7L)))
  }

  test("connectedComponentsAuto: shallow graphs stay on propagation, deep chains silently take the stars path") {
    import spark.implicits._
    val shallow = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val s = Dedup.connectedComponentsAuto(shallow, col("id_a"), col("id_b"))
    assert(s.converged && s.iterations <= 5, "a shallow graph converges inside the propagation probe")
    // a 300-node chain blows the probe budget; the caller never chooses —
    // auto switches to star contraction and still converges
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val deep = Dedup.connectedComponentsAuto(chain, col("id_a"), col("id_b"))
    assert(deep.converged, "auto must converge on a diameter-299 chain")
    assert(deep.iterations <= 12, "the deep path must be star contraction, not propagation")
    assert(deep.labels.collect().forall(_.getLong(1) == 1L))
    // and components() (which routes through auto) now handles the same
    // chain end-to-end: every node labeled with the chain head
    val corpus = (1L to 300L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val comp = Dedup.components(corpus, col("doc_id"), chain, col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.length == 300 && comp.forall(_._2 == 1L))
  }

  test("dedupLines: a separator with regex metacharacters is treated literally") {
    val multi = Seq(
      (1L, "alpha|shared|beta"),
      (2L, "shared|gamma")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(multi, col("text"), col("doc_id"), sep = "|")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "alpha|shared|beta"), (2L, "gamma")))
  }

  test("components: every corpus row gets a canonical id, singletons carry their own") {
    import spark.implicits._
    val corpus = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 1L), (3L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.components(corpus, col("doc_id"), pairs, col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L), (7L, 7L), (8L, 8L)
    ))
    // "keep one doc per component" = filter(id === comp): 1,4,5,7,8 survive
    val kept = Dedup.components(corpus, col("doc_id"), pairs, col("id_a"), col("id_b"))
      .filter(col("id") === col("comp")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 7L, 8L))
  }

  test("componentsBySignature: distinct-signature CC equals row-level CC; null sigs stay singletons") {
    // sigs: 0b0001 {1,4}, 0b0011 {2} (1 bit from both 0b0001 and 0b0111),
    // 0b0111 {3,7}, 0b1000_0000 {5} isolated, null {6,8} -> own ids
    val rows = Seq(
      (1L, java.lang.Long.valueOf(1L)), (2L, java.lang.Long.valueOf(3L)),
      (3L, java.lang.Long.valueOf(7L)), (4L, java.lang.Long.valueOf(1L)),
      (5L, java.lang.Long.valueOf(128L)), (6L, null.asInstanceOf[java.lang.Long]),
      (7L, java.lang.Long.valueOf(7L)), (8L, null.asInstanceOf[java.lang.Long])
    ).toDF("id", "sig")
    val got = Dedup.componentsBySignature(rows, col("id"), col("sig"), maxHamming = 1, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 5L), (6L, 6L), (7L, 1L), (8L, 8L)
    ))
    // parity with the row-level pair graph + full-corpus components
    val pairs = Dedup.hammingPairs(rows.filter(col("sig").isNotNull), col("sig"), col("id"),
      maxHamming = 1, bands = 2)
    val rowLevel = Dedup.components(rows, col("id"), pairs, col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rowLevel == got)
  }

  test("dedupLines: first (id, pos) occurrence of each distinct line wins corpus-wide") {
    val multi = Seq(
      (1L, "alpha\nshared footer\nbeta"),
      (2L, "shared footer\ngamma\nalpha"), // loses both dup lines
      (3L, "gamma\ndelta"), // loses gamma (doc 2 pos 2 is earlier)
      (4L, "shared footer") // loses its only line -> empty doc
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(multi, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "alpha\nshared footer\nbeta"),
      (2L, "gamma"),
      (3L, "delta"),
      (4L, "")
    ))
  }

  // span-fixture geometry (n=8): docs 1/2 share exactly one 8-gram
  // ("a b c d e f g h" at (1,0) and (2,1)); doc 4 repeats an 8-token
  // phrase, so its pos-0 and pos-8 grams are equal (within-doc dup);
  // doc 3 and doc 5 (< 8 tokens) have nothing duplicated
  private val spanDocs = Seq(
    (1L, "a b c d e f g h x"),
    (2L, "z a b c d e f g h"),
    (3L, "p q r s t u v w"),
    (4L, "m n o p q r s t m n o p q r s t"),
    (5L, "too short")
  ).toDF("doc_id", "text")

  test("duplicatedSpanStats: global >=2 occurrences (cross- and within-doc), hand-counted") {
    val got = Dedup.duplicatedSpanStats(spanDocs, col("text"), col("doc_id"), n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0),
      (4L, 9L, 2L, 2.0 / 9.0),
      (5L, 0L, 0L, 0.0)
    ))
  }

  test("removeDuplicatedSpans: first (id, pos) occurrence kept, later spans cut token-wise") {
    val got = Dedup.removeDuplicatedSpans(spanDocs, col("text"), col("doc_id"), n = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a b c d e f g h x", 0L), // winner of the shared gram
      (2L, "z", 8L), // its (2,1) gram loses to (1,0) -> tokens 1..8 cut
      (3L, "p q r s t u v w", 0L),
      (4L, "m n o p q r s t", 8L), // second phrase copy cut
      (5L, "too short", 0L)
    ))
  }

  test("topPhrases: exact containing-doc counts, (cnt desc, phrase asc) tie-break") {
    // docs 1/3/5 share the "the quick brown fox jumps over the" prefix ->
    // six 3-grams at count 3; lexicographic tie-break picks the first k
    val got = TextOps.topPhrases(docs, col("text"), n = 3, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("brown fox jumps", 3L), ("fox jumps over", 3L), ("jumps over the", 3L)))
  }

  test("subwordCount: GPT-2-ish segments — contractions, letter/digit/punct runs, leading spaces") {
    // Hello | , | _world | ! | _It | 's | _42  -> 7 segments
    val got = Seq(("Hello, world! It's 42", 1)).toDF("text", "x")
      .select(graft.text.TextOps.subwordCount(col("text"))).head().getInt(0)
    assert(got == 7)
  }

  test("dupLineStats: occurrences beyond first are dups; char totals exclude separators") {
    // lines: a, bb, a, "", "" -> 5 total / 2 dup; chars 4 total / 1 dup
    val got = Seq(("a\nbb\na\n\n", 1)).toDF("text", "x")
      .select(graft.text.TextOps.dupLineStats(col("text")).as("s"))
      .select("s.total_lines", "s.dup_lines", "s.total_chars", "s.dup_chars")
      .head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) == ((5L, 2L, 4L, 1L)))
  }

  test("contaminationScore: per-doc overlap fraction, zero-overlap docs kept") {
    // bench = doc 1 ("a b c d" -> grams {a b c, b c d}); doc 2 shares one
    // of two grams (0.5); doc 3 shares none (0.0); doc 4 too short for a
    // full window -> whole-text gram, no match
    val corpus = Seq(
      (1L, "a b c d"), (2L, "a b c x y"), (3L, "p q r s"), (4L, "a b")
    ).toDF("doc_id", "text")
    val got = graft.text.TextOps
      .contaminationScore(corpus, col("text"), col("doc_id"),
        corpus.filter(col("doc_id") === 1), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1.0), (2L, 3L, 1L, 1.0 / 3), (3L, 2L, 0L, 0.0), (4L, 1L, 0L, 0.0)))
  }

  test("semDedup: cluster assignment (tie -> lowest cid), within-cluster pairs, argmin-cosine keep") {
    // centroids (1,0)/(0,1); id3 at (5,5) ties both -> cluster 0.
    // eps=0.99: {1,2} pair (cos .9948) and {4,5} pair (cos .9923); the
    // keeper is the member FARTHEST from its centroid -> 2 and 5
    val vecs = Seq(
      (1L, Array(10f, 0f)), (2L, Array(9.8f, 1f)), (3L, Array(5f, 5f)),
      (4L, Array(0f, 7f)), (5L, Array(1f, 8f))
    ).toDF("id", "v")
    val cents = IndexedSeq(IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0))
    val got = Dedup.semDedup(vecs, col("v"), col("id"), cents, eps = 0.99)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 0L, 1L, 2L), (2L, 0L, 1L, 2L), (3L, 0L, 3L, 3L),
      (4L, 1L, 4L, 5L), (5L, 1L, 4L, 5L)))
  }

  test("semDedup: mass-duplicated vectors ride the spanning star, components stay exact") {
    // 500 identical copies of (10,0) + one near-dup (9.8,1) + one far (0,7):
    // all copies + the near-dup form ONE component (edge count is O(n), not
    // 500^2/2); keep = farthest from centroid -> the near-dup (id 600)
    val rows = (1L to 500L).map(i => (i, Array(10f, 0f))) ++
      Seq((600L, Array(9.8f, 1f)), (700L, Array(0f, 7f)))
    val df = rows.toDF("id", "v")
    val cents = IndexedSeq(IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0))
    val got = Dedup.semDedup(df, col("v"), col("id"), cents, eps = 0.99)
    val comps = got.groupBy("comp").count().orderBy("comp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(comps == Seq((1L, 501L), (700L, 1L)))
    assert(got.filter(col("comp") === 1L).select("keep_id").distinct().head().getLong(0) == 600L)
  }

  test("embeddingOutliers: exact L2 distance to the per-dimension centroid") {
    val vecs = Seq(
      (1L, Array(0f, 0f)), (2L, Array(2f, 0f)), (3L, Array(1f, 3f))
    ).toDF("vec_id", "embedding")
    // centroid = (1, 1); dists: v1 = v2 = sqrt(2), v3 = 2
    val got = Ann.embeddingOutliers(vecs, col("embedding"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, math.sqrt(2.0)), (2L, math.sqrt(2.0)), (3L, 2.0)))
  }

  test("componentsKeepBest: argmax-score representative per component, ties -> lowest id") {
    val kb = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (20L, 6L), (21L, 6L))
      .toDF("doc_id", "score")
    val pairsKb = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup
      .componentsKeepBest(kb, col("doc_id"), col("score"), pairsKb, col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 2L), (2L, 1L, 2L), (3L, 1L, 2L), // comp {1,2,3}: doc 2 scores 9
      (10L, 10L, 10L), // singleton keeps itself
      (20L, 20L, 20L), (21L, 20L, 20L) // tie at 6 -> lowest id
    ))
  }

  test("PII scan: per-type counts, multi-hit, no false positives on clean text") {
    val pii = Seq(
      (1L, "write to alice.smith+x@example.com or bob@mail.co today"),
      (2L, "server at 192.168.0.1 and 10.0.255.7 responded"),
      (3L, "call 555-867-5309 or 555.867.5309 now"),
      (4L, "ssn on file 123-45-6789"),
      (5L, "a perfectly clean document with words only"),
      (6L, "version 1.2 section 3.4.5 not an ip, 12-34 not a phone")
    ).toDF("doc_id", "text")
    val got = TextOps.piiScan(pii, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 0L, 0L, 0L),
      (2L, 0L, 2L, 0L, 0L),
      (3L, 0L, 0L, 2L, 0L),
      (4L, 0L, 0L, 0L, 1L)
    ))
  }

  test("PII redact: every span replaced by its tag, clean text untouched") {
    val pii = Seq(
      (1L, "mail a@b.io and c@d.org; ip 8.8.8.8; call 555-123-4567; ssn 123-45-6789 end"),
      (2L, "nothing to redact here")
    ).toDF("doc_id", "text")
    val got = pii.select(col("doc_id"), TextOps.piiRedact(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got(0)._2 == "mail <EMAIL> and <EMAIL>; ip <IPV4>; call <PHONE>; ssn <SSN> end")
    assert(got(1)._2 == "nothing to redact here")
  }

  test("curationVerdicts: C4-style keep/drop reasons in one pass") {
    val base = "the data of this and that is a fine document with many of the words " +
      "that a normal page would carry and it keeps going on and on just fine"
    val fx = Seq(
      (1L, base), // clean: enough tokens, plenty of stopwords
      (2L, "tiny doc"), // too-short (+low-stopword, +repetitive on its 1 bigram)
      (3L, base + " " + Seq.fill(30)("buy now").mkString(" ")), // repetitive
      (4L, base + " mail me at x@y.io today"), // has-pii
      (5L, (1 to 40).map(i => s"w$i").mkString(" ")) // no stopwords at all
    ).toDF("doc_id", "text")
    val got = graft.text.TextOps.curationVerdicts(fx, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(2L, 3L, 4L, 5L), s"doc 1 must pass clean: $got")
    assert(got(0)._2.contains("too-short"))
    assert(got(1)._2 == "repetitive")
    assert(got(2)._2 == "has-pii")
    assert(got(3)._2 == "low-stopword")
  }

  test("blocklistFlags: distinct blocklist terms among tokens, case-folded, repeats count once") {
    val fx = Seq(
      (1L, "clean words only here"),
      (2L, "SPAM spam and more Spam"), // one distinct term despite repeats + case
      (3L, "spam plus scam in one doc"), // two distinct terms
      (4L, "  scam  "), // whitespace-trimmed
      (5L, "spammy scammer") // substrings are NOT token matches
    ).toDF("doc_id", "text")
    val got = fx
      .select(col("doc_id"),
        graft.text.TextOps.blocklistFlags(col("text"), Seq("spam", "scam")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(got == Seq((1L, 0), (2L, 1), (3L, 2), (4L, 1), (5L, 0)))
  }

  test("encodingStats: replacement chars, C1 double-decode signatures, non-ASCII density") {
    val fx = Seq(
      (1L, "plain ascii text"),
      (2L, "café menü"), // 2 non-ascii, no repl/c1
      (3L, "bad�byte�"), // 2 repl (also non-ascii)
      (4L, "nel\u0085and\u009Fmore"), // 2 C1 (also non-ascii)
      (5L, "tab\tand\nnewline ok") // ASCII controls are NOT flagged
    ).toDF("doc_id", "text")
    val got = fx
      .select(col("doc_id"), graft.text.TextOps.encodingStats(col("text")).as("e"))
      .select(col("doc_id"), col("e.repl"), col("e.c1"), col("e.non_ascii"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 0L), (2L, 0L, 0L, 2L), (3L, 2L, 0L, 2L),
      (4L, 0L, 2L, 2L), (5L, 0L, 0L, 0L)))
  }

  test("contaminationAttribution: per-(doc, benchmark) overlap fractions, only hit pairs") {
    // doc 1 shares its full 3-gram set with bench A; doc 2 shares one gram
    // with bench B; doc 3 is clean
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), // grams: (a b g), (b g d) — both in bench 10
      (2L, "one two three four five"), // gram (three four five) in bench 20
      (3L, "totally clean text here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta gamma delta epsilon"), // contains both doc-1 grams
      (20L, "zero three four five six")
    ).toDF("bench_id", "btext")
    val got = TextOps
      .contaminationAttribution(corpus, col("text"), col("doc_id"),
        bench, col("btext"), col("bench_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sorted.toSeq
    assert(got == Seq((1L, 10L, 2L, 2L, 1.0), (2L, 20L, 3L, 1L, 1.0 / 3)))
  }

  test("URL domain extraction and per-domain distinct-doc counts") {
    val web = Seq(
      (1L, "intro http://a.example.com/x then https://b.example.org/y?z=1 done"),
      (2L, "again http://a.example.com/other plus http://a.example.com/dup twice"),
      (3L, "no urls at all here"),
      (4L, "bad scheme ftp://c.example.net/f ignored")
    ).toDF("doc_id", "text")
    val doms = TextOps.urlDomains(web, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(doms == Seq((1L, "a.example.com"), (1L, "b.example.org"),
      (2L, "a.example.com"), (2L, "a.example.com")))
    val top = TextOps.topDomains(web, col("text"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(top == Seq(("a.example.com", 2L), ("b.example.org", 1L)))
  }

  test("bigram repetition stats: exact total/distinct/top counts (Gopher-style filter)") {
    val reps = Seq(
      (1L, "a b a b a b"), // bigrams: ab ba ab ba ab -> total 5, distinct 2, top 3
      (2L, "all words completely distinct here"), // total 4, distinct 4, top 1
      (3L, "one"), // <2 tokens -> zeros
      (4L, "x x x x") // xx xx xx -> total 3, distinct 1, top 3
    ).toDF("doc_id", "text")
    val got = reps
      .select(col("doc_id"), TextOps.bigramRepetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.total"), col("r.distinct"), col("r.top"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 5L, 2L, 3L),
      (2L, 4L, 4L, 1L),
      (3L, 0L, 0L, 0L),
      (4L, 3L, 1L, 3L)
    ))
  }

  test("unigramLogProb: add-one-smoothed NLL equals the driver brute force, OOV floored, null text absent") {
    val ref = Seq((10L, "alpha beta beta gamma"), (11L, "alpha alpha delta")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "alpha beta"),            // in-vocab
      (2L, "omega omega"),           // fully OOV -> +1 floor
      (3L, "alpha zzz"),             // mixed
      (4L, null.asInstanceOf[String]) // no tokens -> no output row
    ).toDF("doc_id", "text")
    val got = TextOps.unigramLogProb(score, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .sortBy(_._1).toSeq
    // driver brute force: N=7 tokens, V=4 vocab, denom=12
    val c = Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L, "delta" -> 1L)
    def nll(t: String) = -math.log((c.getOrElse(t, 0L) + 1.0) / 12.0)
    def sc(ts: String*) = math.round(ts.map(nll).sum / ts.size * 1e6)
    assert(got == Seq(
      (1L, 2L, sc("alpha", "beta")),
      (2L, 2L, sc("omega", "omega")),
      (3L, 2L, sc("alpha", "zzz"))))
    // ordering sanity: the in-vocab doc scores strictly lower than the OOV doc
    assert(got(0)._3 < got(1)._3)
  }

  test("bigramLogProb: add-one-smoothed pair NLL equals the driver brute force; word order moves the score") {
    val ref = Seq((10L, "a b c"), (11L, "a b d")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b"),      // seen pair
      (2L, "b a"),      // REVERSED — unseen pair, same tokens
      (3L, "single"),   // <2 tokens -> no row
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(score, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .sortBy(_._1).toSeq
    // ref: c2(a,b)=2, c2(b,c)=1, c2(b,d)=1; c1(a)=2, c1(b)=2, c1(c)=1, c1(d)=1; V=4+1=5
    def nll(c2: Long, c1: Long) = -math.log((c2 + 1.0) / (c1 + 5.0))
    assert(got == Seq(
      (1L, 1L, math.round(nll(2, 2) / 1 * 1e6)),
      (2L, 1L, math.round(nll(0, 2) / 1 * 1e6))))
    // order sensitivity: the seen order scores strictly lower NLL
    assert(got(0)._3 < got(1)._3)
  }

  test("tokenIds: frequency-rank vocabulary, document order preserved, UNK=0, vocab cutoff") {
    val ref = Seq((10L, "b b b a a c")).toDF("doc_id", "text")
    // ranks: b=1 (3×), a=2 (2×), c=3 (1×) — but vocabSize=2 cuts c to UNK
    val docs = Seq(
      (1L, "a b a"),      // ids (2,1,2) in order
      (2L, "c zzz b"),    // c cut + OOV -> (0,0,1), oov=2
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextOps.tokenIds(docs, col("text"), col("doc_id"), ref, col("text"), vocabSize = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Seq(2L, 1L, 2L), 3L, 0L),
      (2L, Seq(0L, 0L, 1L), 3L, 2L)))
  }

  test("linearScore: sum of token weights, OOV weight 0, repeats counted, null text -> null") {
    val fx = Seq(
      (1L, "data spark data"),   // 3+5+3 = 11
      (2L, "slow the big a"),    // -4-2-1-1 = -8
      (3L, "unknown tokens only"), // all OOV -> 0
      (4L, "  data  "),          // whitespace-trimmed -> 3
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val w = Map("data" -> 3, "spark" -> 5, "slow" -> -4, "the" -> -2,
      "big" -> -1, "a" -> -1)
    val got = fx
      .select(col("doc_id"), graft.text.TextOps.linearScore(col("text"), w).as("s"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, Some(11L)), (2L, Some(-8L)), (3L, Some(0L)),
      (4L, Some(3L)), (5L, None)))
  }

  test("distinctiveTerms: argmax tf/df per doc, ties break token-asc, null doc absent") {
    val fx = Seq(
      // "rare" appears only in doc 1 (df=1); "common" in all three (df=3)
      (1L, "common rare common"),      // rare: 1/1=1.0 beats common: 2/3
      (2L, "common common common"),    // only token -> common 3/3=1.0
      (3L, "common zzz aaa"),          // aaa and zzz both 1/1 -> aaa wins tie
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = graft.text.TextOps.distinctiveTerms(fx, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "rare", 1L, 1L),
      (2L, "common", 3L, 3L),
      (3L, "aaa", 1L, 1L)))
  }

  test("bpeMergePairs: char-pair counts weighted by word frequency, single-char words skipped") {
    val fx = Seq(
      (1L, "abab ab x"),   // abab: ab,ba,ab ; ab: ab ; x: none
      (2L, "ab ab")        // two more ab words
    ).toDF("doc_id", "text")
    val got = graft.text.TextOps.bpeMergePairs(fx, col("text"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "ab" pair: 2 (from abab) + 3 (from "ab" ×3 occurrences) = 5; "ba": 1
    assert(got == Seq(("ab", 5L), ("ba", 1L)))
  }

  test("dsirScore: smoothed log-ratio equals the driver brute force; target-like > 0 > raw-like; OOV = 0") {
    val target = Seq((10L, "a b"), (11L, "a c")).toDF("doc_id", "text")
    val raw = Seq((20L, "x y"), (21L, "x a")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b"),                     // target-like (positive score)
      (2L, "x y"),                     // raw-like (negative score)
      (3L, "zzz"),                     // fully OOV -> w = ln(1/16)-ln(1/16) = 0
      (4L, null.asInstanceOf[String])  // no tokens -> no row
    ).toDF("doc_id", "text")
    val got = TextOps.dsirScore(docs, col("text"), col("doc_id"), target, col("text"), raw, col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .sortBy(_._1).toSeq
    // brute force: target counts a:2 b:1 c:1 "a b":1 "a c":1 (T=6);
    // raw counts x:2 y:1 a:1 "x y":1 "x a":1 (R=6); union vocab 9 -> V=10
    val tc = Map("a" -> 2L, "b" -> 1L, "c" -> 1L, "a b" -> 1L, "a c" -> 1L)
    val rc = Map("x" -> 2L, "y" -> 1L, "a" -> 1L, "x y" -> 1L, "x a" -> 1L)
    def w(f: String) =
      math.log((tc.getOrElse(f, 0L) + 1.0) / 16.0) - math.log((rc.getOrElse(f, 0L) + 1.0) / 16.0)
    def sc(fs: String*) = math.round(fs.map(w).sum * 1e6)
    assert(got == Seq(
      (1L, 3L, sc("a", "b", "a b")),
      (2L, 3L, sc("x", "y", "x y")),
      (3L, 1L, 0L)))
    assert(got(0)._3 > 0L && got(1)._3 < 0L)
  }

  test("dsirScore hashed buckets: buckets=1 pools everything (all scores 0); wide table keeps the ranking") {
    val target = Seq((10L, "a b"), (11L, "a c")).toDF("doc_id", "text")
    val raw = Seq((20L, "x y"), (21L, "x a")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "x y")).toDF("doc_id", "text")
    // ONE bucket: t = T, r = R for every feature -> identical smoothed
    // probabilities -> exactly 0.0 everywhere (nfeat preserved)
    val pooled = TextOps.dsirScore(docs, col("text"), col("doc_id"),
        target, col("text"), raw, col("text"), buckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(pooled == Seq((1L, 3L, 0.0), (2L, 3L, 0.0)))
    // wide hashed table: collisions only coarsen — the target-like doc still
    // outranks the raw-like one, and the run is deterministic
    val h1 = TextOps.dsirScore(docs, col("text"), col("doc_id"),
        target, col("text"), raw, col("text"), buckets = 1 << 16)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    val h2 = TextOps.dsirScore(docs, col("text"), col("doc_id"),
        target, col("text"), raw, col("text"), buckets = 1 << 16)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    assert(h1 == h2)
    assert(h1.head._2 > h1(1)._2)
  }

  test("canonicalizeUrl: case/www/port/query/fragment/slash variants collapse; non-default port and https kept distinct") {
    val fx = Seq(
      (1L, "http://EXAMPLE.COM/Page/One"),
      (2L, "http://www.example.com/Page/One/"),
      (3L, "http://example.com:80/Page/One?utm_source=x&b=2#frag"),
      (4L, "https://example.com:443/Page/One"),     // https canonical — different scheme, kept apart
      (5L, "http://example.com:8080/Page/One"),     // non-default port survives
      (6L, "not a url/"),                           // schemeless: only slash/query trims apply
      (7L, "http://example.com/Page/One#only-frag")
    ).toDF("id", "url")
    val got = fx.select(col("id"), TextOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "http://example.com/Page/One"),
      (2L, "http://example.com/Page/One"),
      (3L, "http://example.com/Page/One"),
      (4L, "https://example.com/Page/One"),
      (5L, "http://example.com:8080/Page/One"),
      (6L, "not a url"),
      (7L, "http://example.com/Page/One")))
  }

  test("urlDedup: min-id winner and duplicate count per canonical URL") {
    val fx = Seq(
      (5L, "http://A.com/x"),
      (2L, "http://www.a.com/x/"),
      (9L, "http://a.com/x?utm_q=1"),
      (3L, "http://b.com/y")
    ).toDF("id", "url")
    val got = TextOps.urlDedup(fx, col("url"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      ("http://a.com/x", 2L, 3L),
      ("http://b.com/y", 3L, 1L)))
  }

  test("htmlText: script/style/comment blocks gone, tags stripped, entities decoded once, whitespace collapsed") {
    val fx = Seq(
      (1L, "<html><head><style>p{c:1}</style><script>if (1 < 2) { x(\"<b>\"); }</script></head>" +
        "<body><h1>Title</h1><p>Hello   world</p><!-- secret --><p>A &amp; B &lt;3 &amp;lt; &nbsp;.</p></body></html>"),
      (2L, "plain text, no markup"),
      (3L, "<p>multi</p>\n<p>line</p>")
    ).toDF("id", "html")
    val got = fx.select(col("id"), TextOps.htmlText(col("html")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "Title Hello world A & B <3 &lt; ."),
      (2L, "plain text, no markup"),
      (3L, "multi line")))
  }

  test("editDistancePairs: complete recall vs brute force at k=1 and k=2; exact dups pre-collapse to min-id reps") {
    val fx = Seq(
      (10L, "spark"), (3L, "spark"),          // exact dup -> one distinct string, rep id 3
      (5L, "spark"),                           // another exact dup
      (7L, "spork"),  // sub, dist 1
      (8L, "sparks"), // ins, dist 1
      (9L, "spak"),   // del, dist 1
      (11L, "spoork"),// dist 2 from spark
      (12L, "zzzz")   // far from everything
    ).toDF("id", "s")
    def brute(k: Int): Set[(String, String, Long)] = {
      val d = Seq("spark", "spork", "sparks", "spak", "spoork", "zzzz")
      (for {
        a <- d; b <- d if a < b
        dist = {
          // classic DP levenshtein
          val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
            if (i == 0) j else if (j == 0) i else 0
          }
          for (i <- 1 to a.length; j <- 1 to b.length)
            m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
              m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          m(a.length)(b.length)
        } if dist <= k && dist >= 1
      } yield (a, b, dist.toLong)).toSet
    }
    for (k <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(fx, col("s"), col("id"), maxDist = k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == brute(k), s"maxDist=$k")
    }
    // rep ids are the min id per exact string
    val reps = Dedup.editDistancePairs(fx, col("s"), col("id"))
      .filter(col("a") === "spak" && col("b") === "spark")
      .collect().map(r => (r.getLong(3), r.getLong(4))).toSeq
    assert(reps == Seq((9L, 3L)))
  }

  test("charEntropy: exact formula, code-point counting, null/empty -> null") {
    val fx = Seq(
      (1L, "aaaa"),        // one symbol -> 0
      (2L, "ab"),          // ln 2
      (3L, "aabb"),        // ln 2
      (4L, "abcd"),        // ln 4
      (5L, ""),            // empty -> null
      (6L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = fx.select(col("id"), TextOps.charEntropy(col("t")).as("h"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .sortBy(_._1).toMap
    assert(got(1L) == 0.0)
    assert(math.abs(got(2L) - math.log(2)) < 1e-12)
    assert(math.abs(got(3L) - math.log(2)) < 1e-12)
    assert(math.abs(got(4L) - math.log(4)) < 1e-12)
    assert(got(5L) == null && got(6L) == null)
    // mixed counts: "aab" -> ln(3) - (2 ln 2)/3
    val h = Seq((1L, "aab")).toDF("id", "t")
      .select(TextOps.charEntropy(col("t"))).head().getDouble(0)
    assert(math.abs(h - (math.log(3) - 2 * math.log(2) / 3)) < 1e-12)
  }

  test("zipfFit: slope/intercept equal the driver least-squares over (freq DESC, token ASC) ranks") {
    // freq: a=5, b=2, c=2, d=1  -> ranks a=1, b=2, c=3, d=4
    val fx = Seq((1L, "a a b c"), (2L, "a b c d"), (3L, "a a")).toDF("id", "t")
    val got = TextOps.zipfFit(fx, col("t")).head()
    assert(got.getLong(0) == 4L && got.getLong(1) == 10L)
    val xs = Seq(1, 2, 3, 4).map(r => math.log(r.toDouble))
    val ys = Seq(5, 2, 2, 1).map(f => math.log(f.toDouble))
    val n = 4.0
    val sx = xs.sum; val sy = ys.sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(got.getDouble(2) - slope) < 1e-9)
    assert(math.abs(got.getDouble(3) - (sy - slope * sx) / n) < 1e-9)
    // empty docs contribute nothing; ranks are deterministic under ties (token ASC)
  }

  test("weightedSample: smallest hash/weight keys win; IEEE-exact ties break on the tie column") {
    val fx = Seq(
      (1L, 100L, 1L),  // key 100.0
      (2L, 100L, 4L),  // key 25.0
      (3L, 30L, 2L),   // key 15.0
      (4L, 200L, 8L),  // key 25.0 -> exact tie with id 2, id breaks it
      (5L, 90L, 1L)    // key 90.0
    ).toDF("id", "h", "w")
    val got = graft.stats.Sampling
      .weightedSample(fx, col("w"), col("h"), col("id"), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got.map(_._1).toSet == Set(3L, 2L, 4L))
    assert(got.sortBy(x => (x._2, x._1)).map(_._1) == Seq(3L, 2L, 4L))
  }

  test("bpeTrain: Sennrich walkthrough — merge order, overlap counting, greedy non-overlap apply, early stop") {
    // the classic fixture: low x5, lower x2, newest x6, widest x3
    val corpus = Seq(
      (1L, ("low " * 5).trim),
      (2L, ("lower " * 2).trim),
      (3L, ("newest " * 6).trim),
      (4L, ("widest " * 3).trim)
    ).toDF("id", "text")
    val got = TextOps.bpeTrain(corpus, col("text"), merges = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    // hand trace: es/st tie at 9 -> "e s" wins lexicographically; then
    // "es t" 9; then l-o / o-w tie at 7 -> "l o"; then "lo w" 7
    assert(got == Seq((1L, "e s", 9L), (2L, "es t", 9L), (3L, "l o", 7L), (4L, "lo w", 7L)))
    // overlap counting + greedy apply: "aaaa" has THREE overlapping (a,a)
    // occurrences but greedy merges only two sites -> next merge (aa,aa);
    // then the word is one symbol and training stops early
    val aa = Seq((1L, "aaaa")).toDF("id", "text")
    val got2 = TextOps.bpeTrain(aa, col("text"), merges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got2 == Seq((1L, "a a", 3L), (2L, "aa aa", 1L)))
  }

  test("bpeEncode/bpeApply/bpeTokenCount: word-boundary safety, greedy apply, merge-order sensitivity") {
    val docs = Seq((1L, "low lower"), (2L, "aaaa"), (3L, "  low  \t lower ")).toDF("id", "text")
    val enc = docs.select(col("id"), TextOps.bpeEncode(col("text")).as("enc"))
    val e = enc.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // words joined by THREE spaces, symbols by two, pad space each end;
    // whitespace runs normalize like tokens()
    assert(e(1L) == " l  o  w   l  o  w  e  r ")
    assert(e(3L) == e(1L))
    // applying (l,o) then (lo,w): the "w   l" word boundary never matches
    val applied = enc.select(col("id"),
      TextOps.bpeApply(col("enc"), Seq("l o", "lo w")).as("enc"))
    val a = applied.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a(1L) == " low   low  e  r ")
    // token counts: base = code points, after = merged symbols
    val n = docs.select(col("id"),
      TextOps.bpeTokenCount(TextOps.bpeEncode(col("text"))).as("nb"),
      TextOps.bpeTokenCount(TextOps.bpeApply(TextOps.bpeEncode(col("text")), Seq("l o", "lo w"))).as("nt"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(n(1L) == ((8L, 4L)) && n(3L) == ((8L, 4L)))
    // greedy non-overlap: "a a" merges aaaa -> aa aa (two sites), and the
    // SECOND merge only fires because the first created its operands
    val aa = docs.filter(col("id") === 2L)
      .select(TextOps.bpeApply(TextOps.bpeEncode(col("text")), Seq("a a", "aa aa")).as("enc"))
      .head().getString(0)
    assert(aa == " aaaa ")
    // merge order matters: applying (aa,aa) FIRST is a no-op on raw chars
    val aa2 = docs.filter(col("id") === 2L)
      .select(TextOps.bpeApply(TextOps.bpeEncode(col("text")), Seq("aa aa", "a a")).as("enc"))
      .head().getString(0)
    assert(aa2 == " aa  aa ")
  }

  test("sourceVocabOverlap: exact pairwise vocab Jaccard, zero-overlap pairs kept, duplicates collapse") {
    // srcA vocab {w,x,y,z}, srcB {x,y,q} (shares x,y), srcC {m,n} disjoint;
    // repeated tokens and a duplicate doc must not inflate any count
    val corpus = Seq(
      ("srcA", "w x y"), ("srcA", "y z w w"), ("srcA", "y z w w"),
      ("srcB", "x x y q"), ("srcC", "m n n m"), ("srcC", "  ")
    ).toDF("source", "text")
    val got = TextOps.sourceVocabOverlap(corpus.repartition(5), col("text"), col("source"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      ("srcA", "srcB", 4L, 3L, 2L, 2.0 / 5.0),
      ("srcA", "srcC", 4L, 2L, 0L, 0.0),
      ("srcB", "srcC", 3L, 2L, 0L, 0.0)))
  }

  test("savingsCard: per-cluster-size counts and dropped weight of non-representatives") {
    // components: {1,2,3} (comp 1), {5,6} (comp 5), singletons 8, 9
    val labeled = Seq(
      (1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L),
      (5L, 5L, 40L), (6L, 5L, 50L),
      (8L, 8L, 60L), (9L, 9L, 70L)
    ).toDF("id", "comp", "w")
    val got = Dedup.savingsCard(labeled.repartition(4), col("id"), col("comp"), col("w"))
      .orderBy("cluster_size")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 130L, 0L),   // two singletons, nothing dropped
      (2L, 1L, 2L, 90L, 50L),   // {5,6}: 6 dropped (w=50)
      (3L, 1L, 3L, 60L, 50L)))  // {1,2,3}: 2+3 dropped (20+30)
  }

  test("snapshotDiff: added/removed/changed/unchanged per group, group from the surviving side") {
    val oldSnap = Seq(
      (1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"), (4L, "d", "s2")
    ).toDF("doc_id", "text", "source")
    val newSnap = Seq(
      (1L, "a", "s1"),        // unchanged
      (2L, "B2", "s1"),       // changed
      (4L, "d", "s2"),        // unchanged
      (9L, "new", "s3")       // added (source only in new)
    ).toDF("doc_id", "text", "source") // 3 removed (s2)
    val got = Dedup
      .snapshotDiff(oldSnap.repartition(3), newSnap.repartition(2),
        col("doc_id"), col("text"), col("source"))
      .orderBy("group")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("s1", 0L, 0L, 1L, 1L),
      ("s2", 0L, 1L, 0L, 1L),
      ("s3", 1L, 0L, 0L, 0L)))
  }
}

object TextDedupSpec {
  /** Calls of the column-stats failure spec's slow UDF (tasks run in this JVM). */
  val slowCalls = new java.util.concurrent.atomic.AtomicLong()
}
