package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for training-data pipelines: exact, normalized,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Shared scale pattern: never window-sort the full corpus. Duplicate groups
  * are found with a partial-aggregating `groupBy(key)` (map-side combine makes
  * skewed keys cheap) and only the tiny duplicate-key set flows into the
  * join-back, which AQE turns into a broadcast join in the common case. First
  * occurrence (lowest id) is the kept representative, matching the
  * first-occurrence-wins semantics of the reference's uniqueness check
  * (reference: custom_checks.py:121-143).
  */
object Dedup {

  /** Rows that are duplicates (by `key`) of an earlier row. Output:
    * (id, kept_id) — `kept_id` is the representative (min id) of the group. */
  def duplicatesByKey(df: DataFrame, key: Column, id: Column): DataFrame = {
    val base = df.select(key.as("_key"), id.as("_id"))
    val groups = base
      .groupBy(col("_key"))
      .agg(count(lit(1)).as("_cnt"), min(col("_id")).as("kept_id"))
      .filter(col("_cnt") > 1)
      .drop("_cnt")
    base
      .join(groups, "_key")
      .filter(col("_id") > col("kept_id"))
      .select(col("_id").as("id"), col("kept_id"))
  }

  /** Exact dedup on the raw text (hash-groupBy on xxhash64 of the bytes —
    * the shuffle key is 8 bytes, never the document). For whitespace/case
    * tolerant exact dedup use [[TextOps.fingerprint]] as the key instead. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    duplicatesByKey(df, xxhash64(text), id)

  /** Dedup on the sorted distinct token set (order/whitespace-insensitive). */
  def normalizedTokenSet(df: DataFrame, text: Column, id: Column): DataFrame =
    duplicatesByKey(df, array_join(array_sort(array_distinct(TextOps.tokens(text))), " "), id)

  /** SimHash dedup: exact 64-bit signature collision. For hamming-≤k matching
    * use [[hammingPairs]] over the signature (k+1 bands, pigeonhole). */
  def simhash(df: DataFrame, text: Column, id: Column): DataFrame =
    duplicatesByKey(df, TextOps.simhash64(text), id)

  /** splitmix64 scramble (public-domain bit mixer) — remixes one shingle
    * hash into the i-th hash family without re-hashing the string. */
  @inline private def scramble(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Exact Jaccard of two SORTED distinct long arrays — primitive merge.
    * The reference implementation the specs pin [[jaccardCol]]'s
    * arithmetic against. */
  private[graft] def jaccardLong(a: Seq[Long], b: Seq[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    val na = a.length; val nb = b.length
    while (i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Exact Jaccard of two SORTED distinct long-array columns as a fully
    * codegen'd expression — same arithmetic as [[jaccardLong]] (int
    * intersection / int union via exact double division, union 0 ⇒ 1.0),
    * without the UDF's per-row Seq boxing (r6: the boxing dominated the
    * candidate-verify projection at oracle scale). */
  private[dedup] def jaccardCol(a: Column, b: Column): Column = {
    val inter = graft.exprs.VectorExprs.sortedIntersectNative(a, b)
    val union = size(a) + size(b) - inter
    when(union === 0, lit(1.0)).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** (_id, _sh, _shkey): shingle sets + the 64-bit identical-set group key.
    * Shared by [[minHashPairs]] and the incremental [[MinHashStore]] so the
    * store and ad-hoc paths band identically. */
  private[dedup] def shingled(df: DataFrame, text: Column, id: Column, shingleWords: Int): DataFrame =
    df.select(id.as("_id"), TextOps.wordShingleHashes(text, shingleWords).as("_sh"))
      .withColumn("_shkey", xxhash64(col("_sh")))

  /** One representative row (min _id) per distinct `keys` value, with its
    * `payload` columns: (keys..., _id, payload...). */
  private[dedup] def repsOf(
      df: DataFrame, keys: Seq[String] = Seq("_shkey"), payload: Seq[String] = Seq("_sh")): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(("_id" +: payload).map(col): _*), col("_id")).as("_r"))
      .select(keys.map(col) ++ ("_id" +: payload).map(c => col(s"_r.$c").as(c)): _*)

  /** (_shkey, _id, band, bh, bh2): LSH band hashes of the representatives.
    * Band structs are built at plan time (Scala loop, not an interpreted
    * HOF); slice/cast/xxhash64 are all codegen'd. Each band carries the
    * NEXT band's hash for the hot-bucket prefix extension. */
  private[dedup] def bandedOf(reps: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val withSig = reps.select(col("_shkey"), col("_id"),
      minhashSignature(col("_sh"), numHashes).as("_sig"))
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(col("_sig"), b * rows + 1, rows).cast("string")).as("bh"),
        xxhash64(slice(col("_sig"), ((b + 1) % bands) * rows + 1, rows).cast("string")).as("bh2")
      )
    }
    withSig
      .select(col("_shkey"), col("_id"), explode(array(bandCols: _*)).as("_b"))
      .select(col("_shkey"), col("_id"), col("_b.band"), col("_b.bh"), col("_b.bh2"))
  }

  /** MinHash signature over shingle hashes: `numHashes` minima of splitmix
    * remixes. Per-row compute kernel as a Scala UDF (Catalyst higher-order
    * functions are CodegenFallback/interpreted — measured ~40× slower). */
  def minhashSignature(shingleHashes: Column, numHashes: Int = 32): Column = {
    val k = numHashes
    val u = udf { (sh: Seq[Long]) =>
      val out = new Array[Long](k)
      var i = 0
      while (i < k) {
        val seed = (i + 1).toLong * 0xff51afd7ed558ccdL
        var mn = Long.MaxValue
        var j = 0
        while (j < sh.length) {
          val h = scramble(sh(j) ^ seed)
          if (h < mn) mn = h
          j += 1
        }
        out(i) = mn
        i += 1
      }
      out
    }
    u(shingleHashes)
  }

  /** Exact-Jaccard verify over the `_sh` shingle sets, shared by every
    * shingle-set pair operator: identical sets score 1.0 (exactly what
    * jaccardLong(a, a) returns, empty sets included). */
  private[dedup] def jaccardVerify(threshold: Double): NearDupPairs.Verify =
    NearDupPairs.Verify("jaccard", (a, b) => jaccardCol(a("_sh"), b("_sh")),
      _ >= threshold, same = Some(lit(1.0)))

  /** The MinHash hot-bucket policy (step 3 of [[minHashPairs]]): prefix
    * extension by the next band's hash, its rows observed as
    * `graft.minhash.hot` (observedMetrics key `hot_rows`), plus the `hs`
    * smallest-id members of each hot bucket on the full single-band path —
    * the same per-bucket all-pairs budget a cold bucket gets at the cap.
    * Verified pairs found ONLY by that sample (`_src` == 4) ride the verify
    * job as `hot_recovered` in `graft.minhash.hotrecall`: a direct
    * measurement of what prefix extension alone would have lost. */
  private[dedup] def minHashHot(maxBucket: Int, hotSample: Int): NearDupPairs.HotPolicy = {
    import org.apache.spark.sql.expressions.Window
    // -1 = follow maxBucket; 0 disables the sample
    val hs = if (hotSample < 0) maxBucket else hotSample
    val byId = Window.partitionBy(col("band"), col("bh")).orderBy(col("_id"))
    NearDupPairs.HotPolicy(
      hot => Seq(
        hot.observe("graft.minhash.hot", count(lit(1)).as("hot_rows")) -> Seq("band", "bh", "bh2"),
        hot.withColumn("_hr", row_number().over(byId)).filter(col("_hr") <= hs).drop("_hr") -> Seq("band", "bh")),
      _.observe("graft.minhash.hotrecall",
        sum(when(col("_src") === 4, 1L).otherwise(0L)).as("hot_recovered"),
        count(lit(1)).as("verified_pairs")))
  }

  /** MinHash+LSH candidate pairs with exact-Jaccard verification.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ `threshold`.
    *
    * Scale design (the [[NearDupPairs]] skeleton, shared with
    * [[hammingPairs]]):
    *  1. collapse documents with IDENTICAL shingle sets first (8-byte-key
    *     groupBy on a hash of the set); intra-group pairs have jaccard
    *     exactly 1.0, no verification needed;
    *  2. LSH-band only the distinct-set REPRESENTATIVES (the banding
    *     shuffle carries no shingle arrays — just key, id and band hashes);
    *  3. buckets larger than `maxBucket` are NOT dropped (the r1 guard lost
    *     recall silently): their members are re-bucketed with the band
    *     prefix EXTENDED by the following band's hash — i.e. candidates in
    *     hot regions must agree on two bands instead of one. That narrows
    *     the candidate set only where the data is pathological and only
    *     deterministically, but it IS a recall trade: a true pair whose
    *     only agreeing band was hot is dropped by the prefix path
    *     (hammingPairs' interleaved sub-banding has no such loss — its
    *     pigeonhole bound survives any re-partition of the bits; no
    *     analogous exact split exists for minhash bands, whose guarantee is
    *     probabilistic per band). The trade is therefore bounded AND
    *     measured: the `hotSample` smallest-id members of every hot bucket
    *     additionally take the full single-band path (the cold budget), so
    *     pairs among them are recovered, rows routed through the narrowing
    *     surface as the `graft.minhash.hot` observation, and verified pairs
    *     found ONLY by the sample ride the same job as `hot_recovered` in
    *     `graft.minhash.hotrecall` — a live measurement of the loss;
    *  4. candidates verified with exact Jaccard on the shingle sets, then
    *     expanded back through membership (members carry identical sets, so
    *     the representative's jaccard IS the members' jaccard).
    * Construction runs Spark jobs (three `truncate` cuts and the hot-bucket
    * probe) — see [[NearDupPairs]] for the contract. */
  def minHashPairs(
      df: DataFrame,
      text: Column,
      id: Column,
      shingleWords: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      hotSample: Int = -1,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // MATERIALIZED ONCE: the shingled frame feeds ~6 consumer subtrees
    // (group sizes, reps, same-key pairs ×2, member expansion ×2), each of
    // which used to re-run the scan + shingle kernel; reps feed the banding
    // AND the verify-side shingle join; banded feeds counts/cold/hot —
    // without the cuts each consumer re-ran the minhash-signature kernel
    // chain (an oracle-scale profile: ~9 s of q74's 13 s were
    // minHashPairs re-derivations).
    val withSh = truncate(shingled(df, text, id, shingleWords))
    val reps = truncate(repsOf(withSh))
    val banded = truncate(bandedOf(reps, numHashes, bands))
    NearDupPairs(withSh, reps.select(col("_shkey"), col("_sh")), "_shkey",
      NearDupPairs.Bands(banded, Seq("band", "bh"), maxBucket, minHashHot(maxBucket, hotSample), max(_)),
      jaccardVerify(threshold))
  }

  /** Bits of `sig` whose index ≡ k (mod m), compacted into a long — an
    * INTERLEAVED cut of the 64 bits, guaranteed different from any contiguous
    * banding. Per-row primitive kernel (UDF beats an unrolled 64-term
    * Catalyst tree and stays row-local). */
  private[dedup] def interleavedBand(sig: Long, k: Int, m: Int): Long = {
    var out = 0L; var idx = 0; var j = k
    while (j < 64) { out |= ((sig >>> j) & 1L) << idx; idx += 1; j += m }
    out
  }

  /** Near-duplicate pairs by Hamming distance over 64-bit signatures
    * (phash / simhash). Output: (id_a, id_b, hamming) with id_a < id_b —
    * EXACT (full recall + precision): every pair within `maxHamming` bits is
    * emitted, none outside.
    *
    * Scale design (the [[NearDupPairs]] skeleton; phash clusters are the
    * north-star skew case):
    *  1. collapse identical signatures with a partial-agg groupBy — the only
    *     shuffle that sees every row, and its key is 8 bytes;
    *     hamming-0 pairs come straight from group membership;
    *  2. band only the DISTINCT signatures into `bands` contiguous bit bands
    *     (pigeonhole: ≤ bands-1 flips ⇒ some band equal);
    *  3. buckets larger than `maxBucket` are NOT dropped (the r1 guard lost
    *     recall exactly where the duplicates live): their members are
    *     re-split by a second, INTERLEAVED banding into maxHamming+1
    *     sub-bands — any valid pair still shares a sub-band (pigeonhole
    *     holds for every partition of the 64 bits), so recall is preserved
    *     while gradient-style clusters break apart;
    *  4. verify true bit_count(xor) ≤ maxHamming on signature pairs, then
    *     expand back through group membership (tiny broadcast joins).
    * `maxBucket` is thus a pure performance knob — results are identical at
    * any setting. Construction runs Spark jobs (two `truncate` cuts and the
    * hot-bucket probe) — see [[NearDupPairs]] for the contract. */
  def hammingPairs(
      df: DataFrame,
      sig: Column,
      id: Column,
      maxHamming: Int,
      bands: Int = 8,
      maxBucket: Int = 10000,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    require(bands > maxHamming, s"need bands > maxHamming for full recall (pigeonhole): $bands <= $maxHamming")
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // 16 B/row, feeds five consumer subtrees — materialized once (r6)
    val base = truncate(df.select(id.as("_id"), sig.cast("long").as("_sig")))
    val sigs = base.select(col("_sig")).distinct()
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), shiftrightunsigned(col("_sig"), b * width).bitwiseAND(mask).as("bv"))
    }
    // distinct-sig × bands rows, feeds counts/cold/hot — materialized once
    val banded = truncate(sigs
      .select(col("_sig"), explode(array(bandCols: _*)).as("_b"))
      .select(col("_sig"), col("_b.band"), col("_b.bv")))
    // hot buckets: second-level interleaved split (recall-preserving)
    val m2 = maxHamming + 1
    val subUdf = udf((s: Long, k: Int) => interleavedBand(s, k, m2))
    val subBands = NearDupPairs.HotPolicy(hot => Seq(
      hot.select(col("_sig"), col("band"), col("bv"), explode(array((0 until m2).map(lit(_)): _*)).as("sub"))
        .withColumn("sbv", subUdf(col("_sig"), col("sub"))) -> Seq("band", "bv", "sub", "sbv")))
    NearDupPairs(base, sigs, "_sig",
      NearDupPairs.Bands(banded, Seq("band", "bv"), maxBucket, subBands, min(_)),
      NearDupPairs.Verify("hamming", (a, b) => bit_count(a("_sig").bitwiseXOR(b("_sig"))),
        _.between(1, maxHamming), same = Some(lit(0))))
  }

  /** Exact n-gram Jaccard similarity for all pairs within blocks (e.g. same
    * language) — the documented quadratic baseline (the scalable path is
    * [[minHashPairs]]), but quadratic in DISTINCT shingle sets per block,
    * not rows: documents with identical sets (exact/near-exact duplicates,
    * the dominant mass in web corpora) collapse to one representative
    * before the self-join, intra-group pairs are jaccard 1.0 by identity
    * (exactly what jaccardLong(a, a) returns, empty sets included), and
    * rep-level pairs expand back through membership. Results are identical
    * to the naive all-pairs at any duplication level.
    *
    * Fail-fast scale guard: before the rep-level self-join, the largest
    * block's DISTINCT-set count is checked against `maxBlockDistinct` —
    * past it the quadratic pair volume is the wrong tool and the call
    * raises, naming [[minHashPairs]] (the scale path). The guard costs one
    * extra aggregation pass over the shingled corpus; the baseline is for
    * modest blocks by contract, where that pass is cheap. Construction runs
    * Spark jobs (the `truncate` cut and the guard) — see [[NearDupPairs]]
    * for the contract. Output: (id_a, id_b, jaccard). */
  def ngramJaccardPairs(
      df: DataFrame,
      text: Column,
      id: Column,
      block: Column,
      shingleWords: Int = 3,
      threshold: Double = 0.5,
      maxBlockDistinct: Int = 20000,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    // materialized ONCE (r6): six consumer subtrees used to re-run the
    // shingle kernel (guard, groups, same-key pairs ×2, members ×2, reps)
    val base = truncate(df
      .select(block.as("_blk"), id.as("_id"), TextOps.wordShingleHashes(text, shingleWords).as("_sh"))
      .withColumn("_shkey", xxhash64(col("_sh"))))
    NearDupPairs(base, repsOf(base, Seq("_blk", "_shkey")).drop("_id"), "_shkey",
      NearDupPairs.Blocks(maxBlockDistinct, "ngramJaccardPairs", "shingle sets",
        "minHashPairs (banded MinHash, bucket-bounded)"),
      jaccardVerify(threshold))
  }

  /** Candidate near-dup pairs by SHARED WINNOWING FINGERPRINTS (rolling-hash
    * document fingerprinting, TextOps.winnowingFingerprints): docs sharing
    * ≥ `minShared` fingerprints. Each fingerprint is a bucket — the join is
    * bucket-bounded like the LSH paths, and the shuffle carries (fp, id)
    * only. Fingerprints shared by more than `maxDocsPerFingerprint` docs are
    * boilerplate (a ubiquitous header/footer) and are skipped — a precision
    * control, not a recall loss: near-dup pairs share MANY fingerprints and
    * survive on their non-boilerplate ones. Output: (id_a, id_b, shared). */
  def sharedFingerprintPairs(
      df: DataFrame,
      text: Column,
      id: Column,
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 2,
      maxDocsPerFingerprint: Int = 1000
  ): DataFrame = {
    val fps = df.select(id.as("_id"), explode(TextOps.winnowingFingerprints(text, k, w)).as("_fp"))
    val counts = fps.groupBy("_fp").agg(count(lit(1)).as("_dc"))
    val kept = fps
      .join(counts.filter(col("_dc").between(2, maxDocsPerFingerprint)).select("_fp"), Seq("_fp"))
    kept.select(col("_fp"), col("_id").as("id_a"))
      .join(kept.select(col("_fp"), col("_id").as("id_b")), Seq("_fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Embedding cosine near-duplicate pairs via hyperplane-LSH bucketing:
    * `tables` independent sign-hash tables of `numBits` bits each; candidate
    * pairs share a FULL signature in at least one table, then verify exact
    * cosine ≥ `threshold`. Cost is bucket-bounded (never O(n²) in a block);
    * recall grows with `tables` and shrinks with `numBits`.
    *
    * Use in the NEAR-DUP regime (threshold ≳ 0.9, where sign agreement per
    * bit is ≳ 0.9): at low thresholds hyperplane LSH needs so many tables it
    * degenerates past brute force — use [[embeddingCosinePairs]] with a
    * semantic block there. Scaled copies of a vector hash IDENTICALLY (signs
    * are scale-invariant), so exact duplicates always collide. */
  def embeddingCosinePairsLsh(
      df: DataFrame,
      vec: Column,
      id: Column,
      threshold: Double = 0.95,
      numBits: Int = 12,
      tables: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    import graft.ann.Ann
    val dim = df.select(size(vec.cast("array<double>"))).head().getInt(0)
    val base = df.select(id.as("_id"), vec.cast("array<double>").as("_v"), Ann.l2norm(vec).as("_n"))
    val tableCols = (0 until tables).map { t =>
      struct(lit(t).as("t"), Ann.lshSignature(col("_v"), Ann.hyperplanes(numBits, dim, seed + t)).as("sig"))
    }
    // Banding shuffle carries (t, sig, id) ONLY — 24 B/row·table, never the
    // vectors (same design as minHashPairs' shingle-free banding). The two
    // join sides share one subplan, so the exchange is computed once and
    // reused; vectors join back only for the DEDUPLICATED candidate pairs.
    val bucketed = base
      .select(col("_id"), explode(array(tableCols: _*)).as("_b"))
      .select(col("_id"), col("_b.t"), col("_b.sig"))
    val a = bucketed.select(col("t"), col("sig"), col("_id").as("id_a"))
    val b = bucketed.select(col("t"), col("sig"), col("_id").as("id_b"))
    val candidates = a
      .join(b, Seq("t", "sig"))
      .filter(col("id_a") < col("id_b"))
      // a pair may collide in several tables — dedupe BEFORE the dot product
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(base.select(col("_id").as("id_a"), col("_v").as("_va"), col("_n").as("_na")), Seq("id_a"))
      .join(base.select(col("_id").as("id_b"), col("_v").as("_vb"), col("_n").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (Ann.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding cosine near-duplicate pairs within blocks (e.g. same label or
    * same LSH bucket): (id_a, id_b, cosine) with cosine ≥ threshold.
    * Quadratic in DISTINCT vectors per block, not rows: bit-identical
    * vectors (mass-duplicated embeddings) collapse to one representative
    * before the self-join; intra-group pairs score the representative
    * against itself (the exact arithmetic the naive pair would have run,
    * so zero-norm vectors keep their NaN behaviour), and rep-level pairs
    * expand back through membership. Results identical to naive all-pairs.
    * Fail-fast scale guard: raises past `maxBlockDistinct` DISTINCT vectors
    * in any block, naming [[embeddingCosinePairsLsh]] (the scale path).
    * Construction runs Spark jobs (the `truncate` cut and the guard) — see
    * [[NearDupPairs]] for the contract. */
  def embeddingCosinePairs(
      df: DataFrame,
      vec: Column,
      id: Column,
      block: Column,
      threshold: Double = 0.95,
      maxBlockDistinct: Int = 20000,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    import graft.ann.Ann
    // pre-normalise once per row (UDF kernel), pair score is then a pure
    // dot. Materialized ONCE (r6): the frame feeds six consumer subtrees
    // (guard, groups, same-key pairs ×2, member expansion ×2, reps) which
    // each re-ran the norm kernel and the input scan.
    val base = truncate(df.select(
      block.as("_blk"),
      id.as("_id"),
      vec.cast("array<double>").as("_v"),
      Ann.l2norm(vec).as("_n")
    ).withColumn("_vkey", xxhash64(col("_v"))))
    NearDupPairs(base, repsOf(base, Seq("_blk", "_vkey"), Seq("_v", "_n")).drop("_id"), "_vkey",
      NearDupPairs.Blocks(maxBlockDistinct, "embeddingCosinePairs", "vectors",
        "embeddingCosinePairsLsh (sign-LSH, bucket-bounded)"),
      NearDupPairs.Verify("cosine", (a, b) => Ann.dot(a("_v"), b("_v")) / (a("_n") * b("_n")),
        _ >= threshold, same = None))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup of an
    * embedding corpus. Rows are assigned to the nearest of `centroids` by
    * cosine; near-dup pairs (cosine ≥ `eps`) are found ONLY within a
    * cluster; connected components over those pairs become dedup groups;
    * each group keeps the member FARTHEST from its centroid (the paper's
    * diversity-preserving election — lowest cosine-to-centroid, ties →
    * lowest id). Output: one row per input row,
    * `(id, cluster, comp, keep_id)` — `filter(id = keep_id)` IS the
    * semantically deduped corpus.
    *
    * 100-TB shape: centroids are a broadcast closure scored in ONE per-row
    * primitive-loop kernel (no join, no shuffle for assignment — the
    * [[graft.ann.Ann.trainCentroids]] assignment pattern); the pairwise
    * stage is [[embeddingCosinePairs]] over one min-id rep per DISTINCT
    * vector per cluster, so it is quadratic only in those (the paper's
    * premise: k is sized so clusters are small — k≈50k for 100M docs) and
    * inherits the fail-fast guard naming the LSH sibling; the CC edge set
    * is SPANNING, never all-pairs — identical-vector groups contribute a
    * star to their rep, so a mass-duplicated corpus (templated docs embed
    * identically) costs O(repPairs + n) edges instead of
    * quadratic-per-group; the election is
    * [[componentsKeepBest]]'s map-side-combinable max(struct) — never a
    * per-component window. Cosine-to-centroid is rounded to 9 dp before
    * the argmax/argmin decisions so the elections are reproducible across
    * engines; zero-norm vectors are undefined (NaN) as in the paper's
    * normalized setting. The assignment frame is materialized ONCE via
    * `truncate` (localCheckpoint by default; pass a reliable-storage cut
    * on a real cluster) because four downstream stages consume it. At
    * very large centroid counts (k ≳ 10⁴) the linear-scan kernel is the
    * bottleneck — route assignment through the IVF store
    * ([[graft.ann.Ann.knnJoinIvf]] with k=1) instead. */
  def semDedup(
      df: DataFrame,
      vec: Column,
      id: Column,
      centroids: IndexedSeq[IndexedSeq[Double]],
      eps: Double,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    require(centroids.nonEmpty, "semDedup: centroids must be non-empty")
    val cents = centroids.map(_.toArray).toArray
    val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val assignUdf = udf { (v: Seq[Double]) =>
      val arr = v.toArray
      var s = 0.0; var i = 0
      while (i < arr.length) { s += arr(i) * arr(i); i += 1 }
      val vn = math.sqrt(s)
      var best = 0; var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val cv = cents(c)
        var d = 0.0; var j = 0
        // min-bound like embeddingOutliers: a truncated/corrupt row vector
        // must not index past its end (shorter side zero-pads the dot)
        val jn = math.min(arr.length, cv.length)
        while (j < jn) { d += arr(j) * cv(j); j += 1 }
        val raw = d / (vn * cnorms(c))
        // half-away-from-zero at 9 dp in pure double math — the exact
        // arithmetic DuckDB's round(x, 9) runs (round(x·1e9)/1e9), and
        // ~100× cheaper than BigDecimal on this k·n hot path; zero-norm
        // vectors keep the raw NaN (never wins the argmax: NaN > x false)
        val sim =
          if (java.lang.Double.isFinite(raw)) {
            val y = raw * 1e9
            (math.signum(y) * math.floor(math.abs(y) + 0.5)) / 1e9
          } else raw
        if (sim > bestSim) { bestSim = sim; best = c } // first (lowest) cid wins ties
        c += 1
      }
      (best, bestSim)
    }
    // the assignment projection feeds FOUR consumers (both pair-join
    // sides, the election corpus, the label join-back) — cut it once
    // (CurationPipeline's truncate contract: localCheckpoint by default,
    // a reliable-storage cut on a real cluster) so the kernel and the
    // input scan run a single time
    val assigned = truncate(
      df.select(id.cast("long").as("id"), vec.cast("array<double>").as("_v"))
        .withColumn("_a", assignUdf(col("_v")))
        .select(col("id"), col("_a._1").cast("long").as("cluster"),
          col("_a._2").as("_csim"), col("_v")))
    // CC needs a SPANNING edge set, not every verified pair: on a
    // mass-duplicated corpus (templated docs embed identically) all-pairs
    // expansion is quadratic PER identical-vector group (3125-member
    // groups at 200k rows already mean ~5M edges each), while a star to
    // the group's min-id rep plus verified rep-level pairs yields the SAME
    // components in O(repPairs + n) edges. Zero-norm groups keep the
    // brute-force semantics: self-cosine is NaN, never ≥ eps, no star.
    import graft.ann.Ann
    val keyed = assigned.withColumn("_vkey", xxhash64(col("_v")))
    val grp = keyed
      .groupBy(col("cluster"), col("_vkey"))
      .agg(min(col("id")).as("_rid"), count(lit(1)).as("_cnt"), first(col("_v")).as("_gv"))
    val repPairs = embeddingCosinePairs(
      grp.select(col("cluster"), col("_rid").as("id"), col("_gv").as("_v")),
      col("_v"), col("id"), col("cluster"), threshold = eps)
      .select(col("id_a"), col("id_b"))
    val starGroups = grp
      .filter(col("_cnt") > 1)
      .withColumn("_n2", Ann.l2norm(col("_gv")) * Ann.l2norm(col("_gv")))
      .filter(Ann.dot(col("_gv"), col("_gv")) / col("_n2") >= eps)
      .select(col("cluster"), col("_vkey"), col("_rid"))
    val starEdges = keyed
      .join(starGroups, Seq("cluster", "_vkey"))
      .filter(col("id") =!= col("_rid"))
      .select(col("_rid").as("id_a"), col("id").as("id_b"))
    val edges = repPairs.unionAll(starEdges)
    componentsKeepBest(assigned, col("id"), -col("_csim"), edges, col("id_a"), col("id_b"))
      .join(assigned.select(col("id"), col("cluster")), Seq("id"))
      .select(col("id"), col("cluster"), col("comp"), col("keep_id"))
  }

  /** Connected components over an undirected pair set — the step that turns
    * near-dup PAIRS into dedup CLUSTERS (one canonical doc per component).
    * Iterative min-label propagation: each node's label becomes the min of
    * its own and its neighbors' labels until fixpoint — the standard
    * distributed CC shape (label-propagation family; converges in
    * O(distance-to-min-node) rounds, each round ONE hash join on node id +
    * one aggregation — for dedup clusters, whose diameter is tiny, a
    * handful of rounds; for large-diameter graphs use
    * [[connectedComponentsStars]], whose round count is O(log n)
    * regardless of diameter).
    *
    * A driver loop with one action per round is inherent to iterative
    * fixpoints (the reference point is GraphX/GraphFrames CC, same shape);
    * `truncate` cuts lineage each round so the plan stays constant-size.
    * CONTRACT (r6): `truncate` must EAGERLY execute the frame as a Spark
    * action (localCheckpoint(true), checkpoint(true), or a write +
    * read-back) — the per-round convergence count rides the frame as an
    * Observation whose metrics only arrive when that action runs; a lazy
    * cut would block the round loop indefinitely.
    * The default `localCheckpoint` stores blocks on executors — fast, but
    * lost with an executor; long cluster runs should pass
    * `_.checkpoint(true)` (reliable storage via spark.checkpoint.dir) or a
    * parquet round-trip. Output: (id, comp), comp = min id reachable.
    * Nodes never appearing in a pair are absent — [[components]] joins back
    * to the corpus for singleton rows.
    *
    * If `maxIter` is reached before fixpoint the labels are PARTIAL
    * (non-minimal component ids on chains longer than `maxIter` hops) —
    * never returned silently: use [[connectedComponentsStats]] for the
    * `converged`/`iterations` flags; this convenience wrapper logs a
    * warning through slf4j on non-convergence. */
  def connectedComponents(
      pairs: DataFrame,
      a: Column,
      b: Column,
      maxIter: Int = 25,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    val r = connectedComponentsStats(pairs, a, b, maxIter, truncate)
    if (!r.converged)
      org.slf4j.LoggerFactory.getLogger("graft.dedup")
        .warn(s"connectedComponents did NOT converge in ${r.iterations} rounds " +
          "(maxIter reached): component ids are partially propagated — raise maxIter " +
          "or switch to connectedComponentsStars for large-diameter graphs")
    r.labels
  }

  /** Label frame + convergence evidence from [[connectedComponents]]:
    * `iterations` = rounds executed, `converged` = fixpoint reached (labels
    * are exact minimal ids) vs `maxIter` hit (labels partial). */
  final case class CcResult(labels: DataFrame, iterations: Int, converged: Boolean)

  /** [[connectedComponents]] with the convergence evidence surfaced. */
  def connectedComponentsStats(
      pairs: DataFrame,
      a: Column,
      b: Column,
      maxIter: Int = 25,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): CcResult = {
    val edges = pairs.select(a.cast("long").as("src"), b.cast("long").as("dst"))
    val sym = truncate(
      edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    )
    var labels = truncate(
      sym.select(col("src").as("id")).distinct().withColumn("comp", col("id"))
    )
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // ONE join + ONE aggregation per round (r6): the node's own label
      // rides the join as a flagged SELF edge, so the update
      // comp'(u) = min over comp(v), v ∈ N(u) ∪ {u} comes straight out of
      // the groupBy — the earlier shape joined the neighbor minima back
      // onto the label frame (a second join per round). The changed-label
      // count rides the SAME job that materializes the round (Observation
      // metrics fire on the eager truncate action), so each round is ONE
      // job: join → agg → cut.
      val obs = org.apache.spark.sql.Observation()
      val withSelf = sym.select(col("src"), col("dst"), lit(false).as("_self"))
        .unionAll(labels.select(col("id").as("src"), col("id").as("dst"), lit(true).as("_self")))
      val next = truncate(
        withSelf
          .join(labels.select(col("id").as("dst"), col("comp").as("_nc")), Seq("dst"))
          .groupBy("src")
          .agg(
            min(col("_nc")).as("comp"),
            min(when(col("_self"), col("_nc"))).as("_oldc"))
          .select(col("src").as("id"), col("comp"),
            (col("comp") < col("_oldc")).cast("long").as("_chg"))
          .observe(obs, coalesce(sum(col("_chg")), lit(0L)).as("_changed"))
          .select(col("id"), col("comp"))
      )
      val changed = obs.get("_changed").asInstanceOf[Long]
      labels = next
      converged = changed == 0L
      iter += 1
    }
    CcResult(labels, iter, converged)
  }

  /** Connected components via alternating SMALL-STAR / LARGE-STAR rounds —
    * the scalable variant for graphs whose components have LARGE DIAMETER,
    * where [[connectedComponents]]' min-label propagation needs
    * O(diameter) rounds (measured: a diameter-9 chain takes exactly 10).
    * The star operations (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014 — a public construction) contract
    * whole subtrees toward the component minimum each round, converging in
    * O(log n) rounds on any graph:
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller-or-equal neighbors and
    *    itself to that minimum.
    * Each half-round is ONE min() window over the symmetric edge view —
    * the same per-round cost shape as label propagation, so the win is
    * purely the round count. Fixpoint = the edge set is unchanged by a
    * small-star round (stars are fixpoints of both operations); detected
    * by (count, hash-sum) equality riding the round's materialization as
    * an Observation — `truncate` must therefore EAGERLY execute an action
    * (see [[connectedComponentsStats]]'s contract note).
    *
    * Output/semantics identical to [[connectedComponentsStats]]: (id, comp)
    * for every node appearing in a pair, comp = component minimum. */
  def connectedComponentsStars(
      pairs: DataFrame,
      a: Column,
      b: Column,
      maxIter: Int = 50,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): CcResult = {
    // normalized distinct edges WITH self-loops kept: a node whose only
    // pairs are (a,a) must still surface as a singleton label (parity with
    // connectedComponentsStats) — the node set is taken here, the iteration
    // runs on the self-loop-free subset
    val base = truncate(
      pairs.select(a.cast("long").as("src"), b.cast("long").as("dst"))
        .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
        .distinct()
    )
    val init = base.filter(col("src") =!= col("dst"))
    // Each half-star is ONE window shuffle (r6): the per-node neighborhood
    // minimum rides a min() window over the symmetric view partitioned by
    // the node, so every row carries its node's m directly — the earlier
    // groupBy + join-back shape paid a second aggregation Exchange plus a
    // broadcast (local) / co-partitioned join (at scale) per half-round.
    // Window buffering per node is bounded by node degree, the same bound
    // the join output already materialized per node. Duplicate rows are
    // harmless to min() and smallStar's terminal distinct canonicalizes
    // the round (largeStar's output stays ≤ one row per symmetric edge),
    // so results are identical with roughly half the stages per round.
    import org.apache.spark.sql.expressions.Window
    def withM(edges: DataFrame): DataFrame =
      edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .select(col("src").as("u"), col("dst").as("v"))
        .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy(col("u")))))
    def largeStar(edges: DataFrame): DataFrame =
      withM(edges)
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
    // both smallStar row families ((v, m) for v ≤ u, plus (u, m) for every
    // node) come out of ONE pass over the windowed frame via a codegen'd
    // explode — a unionAll of two selections would run the window twice
    def smallStar(edges: DataFrame): DataFrame =
      withM(edges)
        .select(explode(array(
          when(col("v") <= col("u"), struct(col("v").as("src"), col("m").as("dst"))),
          struct(col("u").as("src"), col("m").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
        .filter(col("src").isNotNull && col("src") =!= col("dst"))
        .distinct()
    def checksum(edges: DataFrame): (Long, Long) = {
      val r = edges
        .agg(count(lit(1)).as("c"), coalesce(sum(xxhash64(col("src"), col("dst"))), lit(0L)).as("h"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var edges = init
    var sig = checksum(edges)
    var iter = 0
    var converged = sig._1 == 0L // an empty pair set is trivially done
    while (iter < maxIter && !converged) {
      // the fixpoint checksum rides the SAME job that materializes the
      // round (Observation metrics fire on the eager truncate action) —
      // one job per round instead of materialize + checksum scan (r6)
      val obs = org.apache.spark.sql.Observation()
      val next = truncate(
        smallStar(largeStar(edges)).observe(obs,
          count(lit(1)).as("_c"),
          coalesce(sum(xxhash64(col("src"), col("dst"))), lit(0L)).as("_h")))
      val m = obs.get
      val nextSig = (m("_c").asInstanceOf[Long], m("_h").asInstanceOf[Long])
      converged = nextSig == sig
      edges = next
      sig = nextSig
      iter += 1
    }
    // at the fixpoint the edge set is a star forest rooted at component
    // minima: every src points at its component's min node; nodes that only
    // appeared in self-loops re-enter as singleton labels
    val edgeLabels = edges.select(col("src").as("id"), col("dst").as("comp"))
      .unionAll(edges.select(col("dst").as("id"), col("dst").as("comp")))
      .distinct()
    val selfOnly = base.filter(col("src") === col("dst")).select(col("src").as("id")).distinct()
      .join(edgeLabels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    CcResult(edgeLabels.unionAll(selfOnly), iter, converged)
  }

  /** Full-corpus canonical id — the final step of a dedup pipeline: one
    * (id, comp) row for EVERY corpus row, where `comp` is the minimum id of
    * the row's near-dup component and singletons (rows in no pair) carry
    * their own id. Keeping every row (rather than only paired nodes, as
    * [[connectedComponents]] does) is what downstream "keep one doc per
    * component" filters need: `filter(col("id") === col("comp"))` IS the
    * deduplicated corpus.
    *
    * Plan shape: the label frame is tiny next to the corpus (only nodes
    * that appeared in a pair), so the left join broadcasts in the common
    * case; the corpus itself is never shuffled. */
  def components(
      corpus: DataFrame,
      id: Column,
      pairs: DataFrame,
      a: Column,
      b: Column,
      maxIter: Int = 25,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    val labels = connectedComponentsAuto(pairs, a, b, probeIter = math.min(maxIter, 10),
      maxIter = math.max(maxIter, 50), truncate).labels
    corpus
      .select(id.cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Dedup SAVINGS card — the audit a curation run reads after canonical
    * ids land: per CLUSTER SIZE, how many clusters, how many documents
    * they hold, their total weight (chars/bytes/tokens — caller's column),
    * and how much of that weight dedup DROPS (every non-representative
    * member, i.e. rows with `id != comp`). The size-1 row is the untouched
    * corpus; the tail rows are the boilerplate families — a card like
    * `{2: 14k clusters, 17: 3 clusters}` is the shape check that near-dup
    * geometry behaved before anyone deletes 100 TB of data.
    *
    * Input is the [[components]] output joined with a weight column:
    * (id, comp, weight). Output: (cluster_size, n_clusters, n_docs,
    * w_total, w_dropped) — all pure integer aggregation, restated exactly
    * by a SQL oracle.
    *
    * Scale shape: two map-side-combinable hash aggregates — corpus rows →
    * one row per component (keyed on the 8-byte comp; the same shuffle
    * geometry as the dedup keep-filter itself), then components → one row
    * per distinct size (a handful). No join, no window, no driver state. */
  def savingsCard(labeled: DataFrame, id: Column, comp: Column, weight: Column): DataFrame = {
    val per = labeled
      .select(id.cast("long").as("_id"), comp.cast("long").as("_comp"),
        weight.cast("long").as("_w"))
      .groupBy("_comp")
      .agg(
        count(lit(1)).as("_sz"),
        sum(col("_w")).as("_wt"),
        sum(when(col("_id") =!= col("_comp"), col("_w")).otherwise(0L)).as("_wd"))
    per
      .groupBy(col("_sz").as("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("_sz")).as("n_docs"),
        sum(col("_wt")).as("w_total"),
        sum(col("_wd")).as("w_dropped"))
  }

  /** SNAPSHOT DIFF card — the recrawl delta a pipeline reads before
    * re-running curation: per group (source/domain/shard), how many
    * documents the new snapshot ADDED (id only in new), REMOVED (only in
    * old), CHANGED (both, content differs) and left UNCHANGED. The card
    * decides incremental work: only added+changed rows re-enter the
    * fingerprint/dedup/quality stages (the [[MinHashStore]] incremental
    * path), and a removed/changed spike on one source is the
    * crawl-regression alarm.
    *
    * Scale shape: both snapshots project to (8-byte id, 8-byte content
    * xxhash64, group) — the full outer join carries ~24 B/row and
    * co-partitions on the id (ONE shuffle each side; at 100 TB both sides
    * bucket-store on id and the join is shuffle-free), then a map-side
    * combinable rollup to |groups| rows. Content equality via xxhash64
    * carries the standard n²/2⁶⁴ collision trade of hash-keyed dedup
    * (a colliding changed doc would count unchanged).
    *
    * Output: (group, n_added, n_removed, n_changed, n_unchanged). */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      id: Column,
      content: Column,
      group: Column
  ): DataFrame = {
    val o = oldSnap.select(id.cast("long").as("_id"), xxhash64(content).as("_oh"),
      group.as("_og"))
    val n = newSnap.select(id.cast("long").as("_nid"), xxhash64(content).as("_nh"),
      group.as("_ng"))
    val st = when(col("_id").isNull, "added")
      .when(col("_nid").isNull, "removed")
      .when(col("_oh") === col("_nh"), "unchanged")
      .otherwise("changed")
    o.join(n, col("_id") === col("_nid"), "full_outer")
      .select(coalesce(col("_ng"), col("_og")).as("group"), st.as("_st"))
      .groupBy("group")
      .agg(
        sum(when(col("_st") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("_st") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("_st") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("_st") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
  }

  /** Strategy auto-selection: min-label propagation is the cheaper round
    * for the SHALLOW graphs dedup clusters usually are (each round is one
    * join + one agg on the symmetric edge list), but needs O(diameter)
    * rounds — a pathological chain silently blows any fixed budget. So:
    * probe with propagation for `probeIter` rounds; if the fixpoint is not
    * reached, switch to small-star/large-star contraction (O(log n) rounds
    * regardless of diameter) for the full answer. The probe work is
    * discarded on switch — bounded at `probeIter` cheap rounds, the price
    * of never asking callers to know their graph's diameter. */
  def connectedComponentsAuto(
      pairs: DataFrame,
      a: Column,
      b: Column,
      probeIter: Int = 10,
      maxIter: Int = 50,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): CcResult = {
    val probe = connectedComponentsStats(pairs, a, b, probeIter, truncate)
    if (probe.converged) probe
    else {
      org.slf4j.LoggerFactory.getLogger("graft.dedup")
        .info(s"connectedComponentsAuto: propagation did not converge in $probeIter rounds " +
          "(deep component) - switching to star contraction")
      val r = connectedComponentsStars(pairs, a, b, maxIter, truncate)
      warnIfUnconverged(r, "connectedComponentsAuto(stars)")
      r
    }
  }

  private def warnIfUnconverged(r: CcResult, who: String): Unit =
    if (!r.converged)
      org.slf4j.LoggerFactory.getLogger("graft.dedup")
        .warn(s"$who did NOT converge in ${r.iterations} rounds (maxIter reached): " +
          "component labels are PARTIAL - raise maxIter")

  /** Canonical ids for a SIGNATURE-keyed corpus (phash image dedup): the
    * component graph is built over DISTINCT signatures — one representative
    * (min id) per signature, Hamming-banded pairs between representatives
    * only, star-contraction components over that graph (O(log n) rounds,
    * diameter-proof) — and every row then inherits its signature's label
    * through one membership join. On a web-scale image corpus the
    * mass-duplicated signatures are the NORM, so CC input shrinks from
    * row-level clique edges (|cluster|² per duplicated signature) to the
    * distinct-signature graph. Identical-signature rows are distance-0
    * connected, so components are unchanged; the component label is the
    * global min row id (representatives are per-signature minima). Rows
    * with a null signature join nothing and keep their own id. Output:
    * (id, comp) for EVERY row. */
  def componentsBySignature(
      corpus: DataFrame,
      id: Column,
      sig: Column,
      maxHamming: Int = 1,
      bands: Int = 2,
      maxIter: Int = 50
  ): DataFrame = {
    val reps = corpus
      .select(sig.as("_sig"), id.cast("long").as("_id"))
      .groupBy("_sig")
      .agg(min("_id").as("_rep"))
    val pairs =
      hammingPairs(reps.select(col("_sig"), col("_rep")), col("_sig"), col("_rep"), maxHamming, bands)
    val cc = connectedComponentsStars(pairs, col("id_a"), col("id_b"), maxIter)
    warnIfUnconverged(cc, "componentsBySignature")
    val labels = cc.labels
    corpus
      .select(id.cast("long").as("id"), sig.as("_sig"))
      .join(reps, Seq("_sig"), "left")
      .join(labels.withColumnRenamed("id", "_lid"),
        col("_rep") === col("_lid"), "left")
      .select(col("id"), coalesce(col("comp"), col("_rep"), col("id")).as("comp"))
  }

  /** CORPUS-LEVEL LINE dedup — the C4/RefinedWeb curation step: every
    * distinct line is kept exactly once across the whole corpus (first
    * occurrence wins, ordered by (id, position)); later occurrences are
    * deleted in place and each document is reassembled from its surviving
    * lines (possibly empty). Output: (id, text).
    *
    * Plan shape for 100 TB: lines explode once; the winner per line is a
    * map-side-combinable min((id, pos)) aggregation keyed on the line's
    * 8-byte xxhash64 (boilerplate lines repeated in millions of docs
    * pre-aggregate inside each task — the hot key carries ONE row per
    * partition into the shuffle); survivors are a semi join on (hash, id,
    * pos); reassembly shuffles the kept lines once by doc id. Collisions:
    * two DISTINCT lines sharing an xxhash64 would wrongly drop one — ~n²/2⁶⁵
    * expected pairs, the standard accepted trade of hash-keyed dedup at
    * corpus scale (same trade as [[exact]]). */
  def dedupLines(corpus: DataFrame, text: Column, id: Column, sep: String = "\n"): DataFrame = {
    // split() takes a REGEX; sep is a literal separator everywhere else in
    // this function (mkString below), so quote it — a sep like "|" or "."
    // must not become a match-anything pattern
    val lines = corpus
      .select(id.cast("long").as("_id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep))).as(Seq("_pos", "_line")))
    val keyed = lines.withColumn("_h", xxhash64(col("_line")))
    val winners = keyed
      .groupBy("_h")
      .agg(min(struct(col("_id"), col("_pos"))).as("_w"))
      .select(col("_h"), col("_w._id").as("_id"), col("_w._pos").as("_pos"))
    // reassembly kernel: primitive sort + join, not a Catalyst HOF chain
    // (interpreted) — runs once per doc over its kept lines, off the scan
    val assemble = udf { (rows: Seq[org.apache.spark.sql.Row]) =>
      rows.sortBy(_.getInt(0)).map(_.getString(1)).mkString(sep)
    }
    val rebuilt = keyed
      .join(winners, Seq("_h", "_id", "_pos"), "left_semi")
      .groupBy("_id")
      .agg(assemble(collect_list(struct(col("_pos"), col("_line")))).as("_text"))
    corpus
      .select(id.cast("long").as("_id"))
      .join(rebuilt, Seq("_id"), "left")
      .select(col("_id").as("id"), coalesce(col("_text"), lit("")).as("text"))
  }

  /** Canonical ids with a QUALITY-AWARE representative — real curation
    * keeps the BEST doc of a near-dup cluster (longest, highest quality
    * score), not the lowest id. Labels come from [[components]]; each
    * component elects `keep_id` = the member maximizing `score` (ties →
    * lowest id). Output: (id, comp, keep_id) for every corpus row;
    * `filter(id === keep_id)` IS the deduplicated corpus.
    *
    * Scale shape: the election is one map-side-combinable
    * `max(struct(score, -id))` aggregation keyed on comp (hot components
    * pre-aggregate in-task), joined back broadcast-style — never a
    * per-component window over the corpus. `score` must be non-null
    * (struct ordering over null fields is undefined here) — coalesce
    * upstream if the quality signal can be missing. */
  def componentsKeepBest(
      corpus: DataFrame,
      id: Column,
      score: Column,
      pairs: DataFrame,
      pairA: Column,
      pairB: Column,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    val labeled = components(corpus.select(id.as("_id0")), col("_id0"), pairs, pairA, pairB,
      truncate = truncate)
    val scored = corpus.select(id.cast("long").as("id"), score.as("_score"))
    val withScore = labeled.join(scored, Seq("id"))
    val best = withScore
      .groupBy("comp")
      .agg(max(struct(col("_score"), (-col("id")).as("_nid"))).as("_b"))
      .select(col("comp"), (-col("_b._nid")).as("keep_id"))
    withScore.join(best, Seq("comp")).select(col("id"), col("comp"), col("keep_id"))
  }

  /** Positional token-`n`-gram hashes of a document: FNV-1a 64 of each
    * window of `n` whitespace tokens joined by single spaces (identical to
    * [[TextOps.fnv1a64]] over the joined string, computed without
    * materializing it), one hash per start position in order. Fewer than
    * `n` tokens → empty. The span-granularity signature both span ops key
    * on. */
  private def spanHashes(n: Int): Column => Column = {
    val nn = n
    val u = udf { (s: String) =>
      if (s == null) Array.empty[Long]
      else {
        val toks = s.trim.split("\\s+")
        if (toks.length < nn) Array.empty[Long]
        else {
          val out = new Array[Long](toks.length - nn + 1)
          var i = 0
          while (i < out.length) {
            var h = 0xcbf29ce484222325L
            var j = 0
            while (j < nn) {
              val t = toks(i + j)
              var k = 0
              while (k < t.length) { h = (h ^ t.charAt(k)) * 0x100000001b3L; k += 1 }
              if (j < nn - 1) h = (h ^ ' ') * 0x100000001b3L
              j += 1
            }
            out(i) = h
            i += 1
          }
          out
        }
      }
    }
    u(_)
  }

  /** SPAN-LEVEL duplication stats — the metric behind exact-substring
    * training-data dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", done there with suffix arrays on one
    * machine; re-expressed here at token-n-gram granularity as a
    * distributed aggregation). A position is duplicated when its n-gram
    * occurs ≥ 2 times ANYWHERE in the corpus (another doc or the same
    * one). Output: (id, total_ngrams, dup_ngrams, dup_frac) per doc —
    * the fraction drives the usual drop/trim curation rules.
    *
    * Plan shape for 100 TB: the kernel emits 8-byte span hashes; global
    * counts aggregate the exploded rows keyed on the hash alone (map-side
    * combine collapses hot boilerplate spans in-task; a doc's body grams
    * are mostly unique, so a finer (id, hash) pre-collapse was measured
    * pure overhead — giant spilling hash tables for nothing); only hashes
    * with count ≥ 2 flow into the semi join back, which AQE broadcasts
    * when the duplicated-span inventory is small, and the per-doc
    * aggregation sees only the duplicated positions. Like [[dedupLines]],
    * the exploded frame feeds two consumers, so the span kernel runs twice
    * over the scan — callers chaining more stages can cut it once with a
    * checkpoint. Collisions: ~n²/2⁶⁵ expected false duplicate pairs — the
    * same accepted trade as [[dedupLines]]/[[exact]]. */
  def duplicatedSpanStats(corpus: DataFrame, text: Column, id: Column, n: Int = 8): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val ex = corpus.select(id.cast("long").as("id"), explode(spanHashes(n)(text)).as("_h"))
    val dup = ex.groupBy("_h").agg(count(lit(1)).as("_cg")).filter(col("_cg") >= 2).select("_h")
    val dupPerDoc = ex
      .join(dup, Seq("_h"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("dup_ngrams"))
    corpus
      .select(id.cast("long").as("id"),
        greatest(size(TextOps.tokens(text)) - (n - 1), lit(0)).cast("long").as("total_ngrams"))
      .join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("total_ngrams"),
        coalesce(col("dup_ngrams"), lit(0L)).as("dup_ngrams"),
        when(col("total_ngrams") === 0, lit(0.0))
          .otherwise(col("dup_ngrams") / col("total_ngrams")).as("dup_frac"))
      .withColumn("dup_frac", coalesce(col("dup_frac"), lit(0.0)))
  }

  /** SPAN-LEVEL dedup — the ACTION of Lee et al. 2021: every duplicated
    * token-n-gram keeps its first occurrence (lowest (id, position)) and
    * every LATER occurrence is cut out of its document; a token is removed
    * when ANY removed n-gram covers it, and the doc is reassembled from
    * surviving tokens joined by single spaces (whitespace normalizes, the
    * [[TextOps.splitOversized]] rejoin convention). Output: (id, text,
    * removed_tokens).
    *
    * Plan shape mirrors [[dedupLines]] one level finer: positional span
    * hashes explode once; the winner per span is a map-side-combinable
    * min((id, pos)) keyed on the 8-byte hash; only spans with global
    * count ≥ 2 mark removals; removal positions shuffle once by doc id and
    * a per-row primitive kernel merges the covering intervals and rebuilds
    * the text (interval merge is doc-local — never a corpus-wide sort). */
  def removeDuplicatedSpans(corpus: DataFrame, text: Column, id: Column, n: Int = 8): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val ex = corpus.select(id.cast("long").as("_id"),
      posexplode(spanHashes(n)(text)).as(Seq("_pos", "_h")))
    val winners = ex
      .groupBy("_h")
      .agg(count(lit(1)).as("_cnt"), min(struct(col("_id"), col("_pos"))).as("_w"))
      .filter(col("_cnt") >= 2)
      .select(col("_h"), col("_w._id").as("_wid"), col("_w._pos").as("_wpos"))
    val removed = ex
      .join(winners, Seq("_h"))
      .filter(!(col("_id") === col("_wid") && col("_pos") === col("_wpos")))
      .groupBy("_id")
      .agg(collect_list(col("_pos")).as("_rm"))
    // rebuild kernel: mark tokens covered by any removed span start
    // (positions i..i+n-1), emit survivors — primitive loop, doc-local
    val nn = n
    val rebuild = udf { (s: String, rm: Seq[Int]) =>
      val toks = if (s == null) Array.empty[String] else s.trim.split("\\s+")
      if (rm == null || rm.isEmpty) (toks.mkString(" "), 0L)
      else {
        val cut = new Array[Boolean](toks.length)
        rm.foreach { i =>
          var j = i; val end = math.min(i + nn, toks.length)
          while (j < end) { cut(j) = true; j += 1 }
        }
        val sb = new StringBuilder
        var kept = 0
        var i = 0
        while (i < toks.length) {
          if (!cut(i)) { if (kept > 0) sb.append(' '); sb.append(toks(i)); kept += 1 }
          i += 1
        }
        (sb.toString, (toks.length - kept).toLong)
      }
    }
    corpus
      .select(id.cast("long").as("_id"), text.as("_text"))
      .join(removed, Seq("_id"), "left")
      .select(col("_id").as("id"), rebuild(col("_text"), col("_rm")).as("_r"))
      .select(col("id"), col("_r._1").as("text"), col("_r._2").as("removed_tokens"))
  }

  // ---------------------------------------------------------------------
  // Edit-distance near-dup pairs (symmetric deletion neighborhoods)
  // ---------------------------------------------------------------------

  /** All strings obtainable from `s` by deleting up to `maxDist` characters
    * (including `s` itself), deduplicated — the FastSS symmetric-deletion
    * neighborhood (Bocek et al. 2007). Two strings within Levenshtein
    * distance k ALWAYS share a common member of their depth-k neighborhoods
    * (delete the unmatched characters on each side), so bucketing by
    * neighborhood member has complete recall; the Levenshtein verify then
    * removes false candidates. Neighborhood size is L+1 at k=1 and
    * O(L^2/2) at k=2 — an op for SHORT strings (titles, names, queries),
    * not document bodies (near-dup bodies are MinHash territory). */
  private def deletionNeighborhood(s: String, maxDist: Int): Array[String] = {
    var frontier = Set(s)
    val all = scala.collection.mutable.LinkedHashSet(s)
    var d = 0
    while (d < maxDist) {
      val next = scala.collection.mutable.Set[String]()
      frontier.foreach { v =>
        var i = 0
        while (i < v.length) {
          val w = new java.lang.StringBuilder(v.length - 1)
            .append(v, 0, i).append(v, i + 1, v.length).toString
          if (!all.contains(w)) { all += w; next += w }
          i += 1
        }
      }
      frontier = next.toSet
      d += 1
    }
    all.toArray
  }

  /** Edit-distance near-dup pairs over the DISTINCT strings of a corpus:
    * (a, b, dist, id_a, id_b) with a < b, 1 <= dist <= `maxDist`, and
    * id_x = the minimum id carrying that exact string (exact duplicates
    * pre-collapse, the repo-wide banding discipline — a title repeated a
    * million times costs ONE neighborhood, and its exact-dup handling is
    * [[exact]]'s job). Candidate generation = explode each distinct
    * string's depth-`maxDist` deletion neighborhood, self-join on the
    * neighborhood member's 64-bit hash (8-byte shuffle keys, never the
    * variant strings), dedupe candidate pairs, verify with the codegen'd
    * `levenshtein`. Complete recall (FastSS property, spec-checked against
    * brute force); `maxDist` <= 2 enforced because neighborhoods grow
    * O(L^maxDist).
    *
    * Scale shape: shuffle volume = distinct strings x (L+1) [k=1] hashed
    * rows; the verify runs only on bucket-mates. Hot buckets = a variant
    * shared by many strings (single-char strings all share ""); real title
    * corpora bound this by length, and the candidate-pair dedupe keeps the
    * verify linear in CANDIDATES, not bucket size squared times buckets. */
  def editDistancePairs(
      corpus: DataFrame,
      str: Column,
      id: Column,
      maxDist: Int = 1
  ): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, s"maxDist must be 1 or 2: $maxDist")
    val nbhd = udf((s: String) => deletionNeighborhood(s, maxDist))
    val d = corpus
      .select(str.as("s"), id.cast("long").as("id"))
      .filter(col("s").isNotNull)
      .groupBy("s").agg(min("id").as("mid"))
    val ex = d.select(col("s"), col("mid"), explode(nbhd(col("s"))).as("_v"))
      .select(col("s"), col("mid"), xxhash64(col("_v")).as("_h"))
    val cand = ex.as("l").join(ex.as("r"), col("l._h") === col("r._h") && col("l.s") < col("r.s"))
      .select(col("l.s").as("a"), col("r.s").as("b"), col("l.mid").as("id_a"), col("r.mid").as("id_b"))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("dist") <= maxDist && col("dist") >= 1)
      .select(col("a"), col("b"), col("dist"), col("id_a"), col("id_b"))
  }
}


