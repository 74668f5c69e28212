package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, MinHashStore}

/** Incremental MinHash store: batch screening against a persisted corpus
  * index must equal the full-corpus pair set restricted to batch-touching
  * pairs, at every bucket regime. */
class MinHashStoreSpec extends SparkSpec {
  import spark.implicits._

  // corpus with exact dups, near dups, and distinct docs; ids chosen so the
  // even/odd split puts dup partners on both sides
  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
  private def allDocs = (
    (1L to 20L).map(i => (i, s"$base extra$i tail$i")) ++      // near-dup family
      Seq(
        (30L, "the quick brown fox jumps over the lazy dog"),  // exact pair 30/31
        (31L, "the quick brown fox jumps over the lazy dog"),
        (32L, "a completely different sentence about spark engines"),
        (33L, "yet another unrelated document body entirely here")
      )
  ).toDF("doc_id", "text")

  private def split(df: org.apache.spark.sql.DataFrame) =
    (df.filter(col("doc_id") % 2 === 0), df.filter(col("doc_id") % 2 === 1))

  test("incremental probe equals the full-corpus pair set restricted to batch-touching pairs") {
    val (corpus, batch) = split(allDocs)
    val path = Files.createTempDirectory("graft_mhstore").toString + "/store"
    MinHashStore.write(corpus, col("text"), col("doc_id"), path, bands = 8)

    val got = MinHashStore
      .minHashPairsIncremental(spark, batch, col("text"), col("doc_id"), path, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

    val full = Dedup
      .minHashPairs(allDocs, col("text"), col("doc_id"), threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val expected = full.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    assert(got == expected)
    assert(got.exists(p => p._1 == 30L && p._2 == 31L && p._3 == 1.0), "cross-split exact dup must surface")
    assert(expected.size < full.size, "fixture must also have corpus-only pairs the probe excludes")
  }

  test("incremental probe equality holds in the hot-bucket regime (maxBucket=1, sample on)") {
    val (corpus, batch) = split(allDocs)
    val path = Files.createTempDirectory("graft_mhstore_hot").toString + "/store"
    MinHashStore.write(corpus, col("text"), col("doc_id"), path, bands = 8)
    val got = MinHashStore
      .minHashPairsIncremental(spark, batch, col("text"), col("doc_id"), path,
        threshold = 0.3, maxBucket = 1, hotSample = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val full = Dedup
      .minHashPairs(allDocs, col("text"), col("doc_id"), threshold = 0.3, maxBucket = 1, hotSample = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == full.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1))
  }

  test("incremental probe in the hot regime surfaces graft.minhash.hot through PipelineWarnings") {
    val (corpus, batch) = split(allDocs)
    val path = Files.createTempDirectory("graft_mhstore_beacon").toString + "/store"
    MinHashStore.write(corpus, col("text"), col("doc_id"), path, bands = 8)
    val pw = graft.report.PipelineWarnings.register(spark)
    try {
      // maxBucket = 1: every shared band bucket is hot
      MinHashStore
        .minHashPairsIncremental(spark, batch, col("text"), col("doc_id"), path, threshold = 0.3, maxBucket = 1)
        .collect()
      // hot and hotrecall ride one job, so both arrive together
      val warnings = pw.await(minBeacons = 2)
      assert(warnings.exists(_.startsWith("MinHash LSH hot-bucket narrowing was live:")), warnings.toString)
    } finally pw.close()
  }

  test("append: new shingle sets extend the index, duplicate sets only add members") {
    val (corpus, batch) = split(allDocs)
    val path = Files.createTempDirectory("graft_mhstore_app").toString + "/store"
    MinHashStore.write(corpus, col("text"), col("doc_id"), path)
    MinHashStore.append(spark, batch, col("text"), col("doc_id"), path)

    // reps stay one-per-distinct-set across both writes
    val reps = spark.read.parquet(s"$path/reps")
    assert(reps.select("_shkey").distinct().count() == reps.count())
    val memberCount = spark.read.parquet(s"$path/members").count()
    assert(memberCount == 24L, s"every doc from both writes is a member, got $memberCount")
    // 30 and 31 share one set: 24 members, 23 distinct sets
    assert(reps.count() == 23L)

    // a second batch of copies now matches docs from BOTH prior writes
    val batch2 = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, s"$base extra3 tail3")
    ).toDF("doc_id", "text")
    val got = MinHashStore
      .minHashPairsIncremental(spark, batch2, col("text"), col("doc_id"), path, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got.contains((30L, 100L, 1.0)) && got.contains((31L, 100L, 1.0)))
    assert(got.contains((3L, 101L, 1.0)), "identical set appended from batch 1 must match batch 2")
  }

  test("stored geometry governs the probe (meta round trip)") {
    // a store written with non-default geometry (2-word shingles, 16 hashes,
    // 4 bands): the probe must band with the STORED geometry or its hashes
    // would never match the store's — equality with a full run at that same
    // geometry proves the meta round trip end-to-end
    val (corpus, batch) = split(allDocs)
    val path = Files.createTempDirectory("graft_mhstore_meta").toString + "/store"
    MinHashStore.write(corpus, col("text"), col("doc_id"), path, shingleWords = 2, numHashes = 16, bands = 4)
    val got = MinHashStore
      .minHashPairsIncremental(spark, batch, col("text"), col("doc_id"), path, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val full = Dedup
      .minHashPairs(allDocs, col("text"), col("doc_id"), shingleWords = 2, numHashes = 16, bands = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == full.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1))
    assert(got.nonEmpty)
  }
}
