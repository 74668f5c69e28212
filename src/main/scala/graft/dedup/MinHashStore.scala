package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash index for INCREMENTAL near-dup detection — the
  * production shape of a growing training corpus: the corpus is shingled,
  * signed, and banded ONCE (the expensive per-row kernels), and each new
  * ingestion batch is checked against the store (and against itself)
  * without recomputing anything corpus-side. The reference's lifecycle is
  * the same pattern at its own scale (resources are re-validated on
  * create/update, never the whole catalog; reference logic.py:653-708).
  *
  * Layout under `path` (all plain parquet + one meta file, so any engine
  * can read it back):
  *   meta        geometry line "shingleWords,numHashes,bands" — a probe
  *               MUST band with the store's geometry or the hashes are
  *               incomparable (enforced on read)
  *   members/    (_shkey, _id)            one row per corpus doc
  *   reps/       (_shkey, _sh)            one row per DISTINCT shingle set
  *   banded/     (_shkey, _id, band, bh, bh2)  rep band hashes
  *
  * Scale shape: `minHashPairsIncremental` unions the store's banded rows
  * (40 B/row, no shingles) with the batch's, so the candidate machinery —
  * identical-set collapse, cold buckets, hot-bucket prefix extension +
  * deterministic sample (see [[Dedup.minHashPairs]]) — sees exactly the
  * banding the full-corpus run would see, and the cold/prefix pair set is
  * provably the full-corpus pair set restricted to pairs touching the
  * batch (band hashes are id-independent). The hot-bucket SAMPLE path
  * ranks by representative id, which can differ from a full run's when a
  * shared set's store representative is not the global minimum — both
  * runs recover a valid deterministic sample; they coincide whenever
  * `hotSample` covers the bucket. Only batch rows pay shingle/minhash
  * kernel cost; store shingles are read only for the verified-candidate
  * keys.
  */
object MinHashStore {

  final case class Geometry(shingleWords: Int, numHashes: Int, bands: Int)

  /** Build the store from the full corpus (one-time, or rebuild). */
  def write(
      df: DataFrame,
      text: Column,
      id: Column,
      path: String,
      shingleWords: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8
  ): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val withSh = Dedup.shingled(df, text, id, shingleWords)
    val reps = Dedup.repsOf(withSh)
    withSh.select(col("_shkey"), col("_id")).write.mode("overwrite").parquet(s"$path/members")
    reps.select(col("_shkey"), col("_sh")).write.mode("overwrite").parquet(s"$path/reps")
    Dedup.bandedOf(reps, numHashes, bands).write.mode("overwrite").parquet(s"$path/banded")
    writeMeta(df.sparkSession, path, Geometry(shingleWords, numHashes, bands))
  }

  /** Append a batch to the store: every batch doc joins members/; reps and
    * banded rows are added only for shingle sets the store has never seen
    * (an 8-byte anti-join). Call AFTER [[minHashPairsIncremental]] if the
    * batch should first be screened against the existing corpus. */
  def append(
      spark: SparkSession,
      batch: DataFrame,
      text: Column,
      id: Column,
      path: String
  ): Unit = {
    val g = readMeta(spark, path)
    val withSh = Dedup.shingled(batch, text, id, g.shingleWords)
    val existingKeys = spark.read.parquet(s"$path/reps").select(col("_shkey"))
    val newReps = Dedup.repsOf(withSh).join(existingKeys, Seq("_shkey"), "left_anti")
    withSh.select(col("_shkey"), col("_id")).write.mode("append").parquet(s"$path/members")
    newReps.select(col("_shkey"), col("_sh")).write.mode("append").parquet(s"$path/reps")
    Dedup.bandedOf(newReps, g.numHashes, g.bands).write.mode("append").parquet(s"$path/banded")
  }

  /** Near-dup pairs INVOLVING the batch: every (id_a, id_b, jaccard) with
    * jaccard ≥ `threshold` where at least one side is a batch doc (the
    * other side is a corpus doc or another batch doc). Equals the
    * full-corpus [[Dedup.minHashPairs]] output restricted to batch-touching
    * pairs — the store contributes precomputed banding, so the union of
    * store and batch band rows IS the full-corpus banding. Runs the
    * [[NearDupPairs]] skeleton with the minHashPairs hot policy, so the
    * `graft.minhash.hot`/`graft.minhash.hotrecall` beacons fire here too.
    * Construction runs Spark jobs (four `truncate` cuts and the hot-bucket
    * probe over the union banding) — see [[NearDupPairs]] for the contract.
    *
    * The typical admission flow: screen the batch, drop or canonicalize
    * the flagged docs, then [[append]] the survivors. */
  def minHashPairsIncremental(
      spark: SparkSession,
      batch: DataFrame,
      text: Column,
      id: Column,
      path: String,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      hotSample: Int = -1,
      truncate: DataFrame => DataFrame = _.localCheckpoint(true)
  ): DataFrame = {
    val g = readMeta(spark, path)
    // ONLY the BATCH-derived frames are materialized (r6): they feed 2-4
    // consumer subtrees each and carry the shingle/minhash kernel cost.
    // The store-side halves of the unions below stay bare parquet reads —
    // the store IS a materialization already, and checkpointing a
    // corpus-sized union (measured at a 10M-doc store) halved incremental
    // throughput from re-buffering gigabytes that disk already holds.
    val batchSh = truncate(Dedup.shingled(batch, text, id, g.shingleWords))
    val batchReps = truncate(Dedup.repsOf(batchSh))
    // members carry the origin flag — a pair qualifies iff EITHER side is new
    val members = spark.read.parquet(s"$path/members")
      .select(col("_shkey"), col("_id"), lit(false).as("_new"))
      .unionAll(batchSh.select(col("_shkey"), col("_id"), lit(true).as("_new")))
    // store reps win ties on shared keys (either side's _sh is the same set)
    val storeReps = spark.read.parquet(s"$path/reps")
    // the anti-join + banding of NEW reps runs the minhash kernel — cut it
    // once (batch-sized); the union with the store stays lazy
    val newReps = truncate(
      batchReps.join(storeReps.select(col("_shkey")), Seq("_shkey"), "left_anti"))
    val banded = spark.read.parquet(s"$path/banded")
      .unionAll(truncate(Dedup.bandedOf(newReps, g.numHashes, g.bands)))
    val reps = storeReps.select(col("_shkey"), col("_sh")).unionAll(newReps.select(col("_shkey"), col("_sh")))
    NearDupPairs(members, reps, "_shkey",
      NearDupPairs.Bands(banded, Seq("band", "bh"), maxBucket, Dedup.minHashHot(maxBucket, hotSample), max(_)),
      Dedup.jaccardVerify(threshold),
      // keys with ≥ 1 batch member: identical-set groups and rep-pair
      // candidates must touch one
      batchKeys = Some(batchSh.select(col("_shkey")).distinct()))
  }

  // meta rides the same filesystem as the store (parquet, one row), so the
  // layout works on any Hadoop-compatible FS, not just local disk
  private def writeMeta(spark: SparkSession, path: String, g: Geometry): Unit = {
    import spark.implicits._
    Seq((g.shingleWords, g.numHashes, g.bands))
      .toDF("shingle_words", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private[dedup] def readMeta(spark: SparkSession, path: String): Geometry = {
    val r = spark.read.parquet(s"$path/meta").head()
    Geometry(r.getAs[Int]("shingle_words"), r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"))
  }
}
