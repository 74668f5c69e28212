package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one pipeline behind the near-duplicate pair operators
  * ([[Dedup.minHashPairs]], [[Dedup.hammingPairs]],
  * [[MinHashStore.minHashPairsIncremental]], [[Dedup.ngramJaccardPairs]],
  * [[Dedup.embeddingCosinePairs]]). First occurrence wins, as in the
  * reference's uniqueness check (reference: custom_checks.py:121-143):
  *  1. rows sharing an identical key (a hash of the shingle set, the
  *     signature itself, a hash of the vector) collapse to one
  *     representative — web corpora are dominated by exact duplicates,
  *     which would otherwise all land in the same buckets or blocks;
  *  2. the pairs inside each identical-key group are emitted with the
  *     identical-key score, no verification needed (that output is
  *     inherently quadratic in the group size — it IS the answer);
  *  3. representatives pair up, inside LSH band buckets ([[Bands]]) or
  *     all-pairs inside blocks ([[Blocks]]);
  *  4. each representative pair is verified once; payload columns (shingle
  *     sets, vectors) join in only after candidate dedup, so each crosses
  *     the wire once per pair side;
  *  5. verified pairs expand back through membership — members carry the
  *     identical key, so the representative's score IS the members' score.
  * An operator supplies only its key or band function, its hot-bucket
  * policy and its verify score.
  *
  * Column conventions: `members` is (block..., key, `_id`), plus a boolean
  * `_new` when `batchKeys` is given; `reps` is (block..., key, payload...),
  * one row per distinct key; a [[Bands]] frame is (key, bucket columns...,
  * hot-policy columns...), one row per representative and band.
  * [[Blocks]] pair within the `_blk` column. Output: (id_a, id_b, score)
  * with id_a < id_b.
  *
  * CONSTRUCTION IS EAGER: building one of these frames runs Spark jobs
  * before it returns —
  *  - every `truncate` cut the operator takes (the default
  *    `localCheckpoint(true)` executes at once);
  *  - for [[Bands]], the `hasHot` probe: one aggregation over the band
  *    bucket sizes that decides whether any bucket exceeds `maxBucket`.
  *    When none does, the hot subtree is left out of the plan (its inputs
  *    are provably empty), and so is the `graft.minhash.hot` observation —
  *    its absence means exactly what hot_rows == 0 would;
  *  - for [[Blocks]], the `maxBlockDistinct` guard: one aggregation that
  *    raises before the quadratic self-join can start (a lazy in-job check
  *    could not abort the blow-up it exists to prevent).
  * A lazy `truncate` drops the cut jobs and `maxBlockDistinct =
  * Int.MaxValue` drops the guard; the `hasHot` probe always runs. */
private[dedup] object NearDupPairs {

  /** How a pair is scored: `score(a, b)` reads either side's rep columns
    * (key or payload) by name; `accept` keeps a verified score; `same` is
    * the score of two rows sharing one identical key (None: score the rep
    * against itself — for cosine, zero-norm vectors keep their NaN). */
  final case class Verify(name: String, score: (String => Column, String => Column) => Column,
      accept: Column => Column, same: Option[Column])

  sealed trait Pairing { def block: Seq[String] }

  /** Representatives pair inside the LSH buckets of `banded` (grouped by
    * `bucket`). Buckets of more than `maxBucket` rows go through `hot`
    * instead of the all-pairs self-join. The result keeps one row per id
    * pair, with the `best` of its scores. */
  final case class Bands(banded: DataFrame, bucket: Seq[String], maxBucket: Int, hot: HotPolicy,
      best: Column => Column) extends Pairing { def block: Seq[String] = Nil }

  /** Representatives pair all-pairs inside `_blk` blocks, behind a guard on
    * the largest block's distinct-key count; the message names `op`, the
    * distinct things counted (`what`) and the bucket-bounded `scalePath`. */
  final case class Blocks(maxBlockDistinct: Int, op: String, what: String, scalePath: String)
      extends Pairing { def block: Seq[String] = Seq("_blk") }

  /** Hot buckets: `sources` turns the hot bucket rows into extra candidate
    * sources, each (rows, bucket columns) self-joined like a cold bucket;
    * `verified` sees the verified rep pairs and their `_src` bits (1 = cold,
    * 2 << i = hot source i; bit-or over every path that found the pair). */
  final case class HotPolicy(sources: DataFrame => Seq[(DataFrame, Seq[String])],
      verified: DataFrame => DataFrame = identity)

  /** Runs the pipeline; with `batchKeys` (the keys of a new batch) only
    * pairs with at least one `_new` member are kept, and rep pairs must
    * touch a batch key before verification. */
  def apply(members: DataFrame, reps: DataFrame, key: String, pairing: Pairing, verify: Verify,
      batchKeys: Option[DataFrame] = None): DataFrame = {
    val blk = pairing.block
    val keys = blk :+ key
    val payload = reps.columns.toSeq.filterNot(keys.contains)
    val flag = if (batchKeys.isEmpty) Nil else Seq("_new")
    val (ka, kb, name) = (key + "_a", key + "_b", verify.name)
    // one side of a self-join: `fixed` columns as they are, `cols` suffixed
    def side(df: DataFrame, s: String, fixed: Seq[String], cols: Seq[String]): DataFrame =
      df.select(fixed.map(col) ++ cols.map(c => col(c).as(c + s)): _*)
    def touching(df: DataFrame): DataFrame =
      if (flag.isEmpty) df else df.filter(col("_new_a") || col("_new_b"))
    val scored = verify.score(c => col(c + "_a"), c => col(c + "_b")).as(name)

    // 1-2. identical-key groups (map-side combine soaks up skew) and the
    // pairs inside them; incrementally, only groups with a batch member
    val groups = members.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_cnt"))
    val dup = members.join(
      batchKeys.getOrElse(groups.filter(col("_cnt") > 1).select(keys.map(col): _*)), keys)
    val sameIds = touching(side(dup, "_a", keys, "_id" +: flag)
      .join(side(dup, "_b", keys, "_id" +: flag), keys)
      .filter(col("_id_a") < col("_id_b")))
    val samePairs = verify.same match {
      case Some(s) => sameIds.select(col("_id_a").as("id_a"), col("_id_b").as("id_b"), s.as(name))
      case None =>
        val self = reps.select(keys.map(col) :+ verify.score(col, col).as(name): _*)
          .filter(verify.accept(col(name)))
        sameIds.join(self, keys).select(col("_id_a").as("id_a"), col("_id_b").as("id_b"), col(name))
    }

    // 3-4. representative pairs, verified
    val repPairs = pairing match {
      case Blocks(maxBlockDistinct, op, what, scalePath) =>
        if (maxBlockDistinct != Int.MaxValue) {
          val r = groups.groupBy(col("_blk")).agg(count(lit(1)).as("_d")).agg(max(col("_d"))).head
          val worst = if (r.isNullAt(0)) 0L else r.getLong(0)
          require(worst <= maxBlockDistinct,
            s"$op: largest block holds $worst DISTINCT $what " +
              s"(> maxBlockDistinct=$maxBlockDistinct) - the all-pairs baseline is quadratic in that " +
              s"count; use Dedup.$scalePath for corpora of this shape, or raise maxBlockDistinct explicitly")
        }
        side(reps, "_a", blk, key +: payload).join(side(reps, "_b", blk, key +: payload), blk)
          .filter(col(ka) < col(kb))
          .select(blk.map(col) ++ Seq(col(ka), col(kb), scored): _*)
          .filter(verify.accept(col(name)))

      case Bands(banded, bucket, maxBucket, hot, _) =>
        // counts/cold re-derive from the CHECKPOINTED banded per consumer —
        // measured cheaper than materializing them too (the extra cut jobs
        // cost more than the re-run of one join over in-memory blocks)
        val counts = banded.groupBy(bucket.map(col): _*).agg(count(lit(1)).as("_bc"))
        val cold = banded.join(counts.filter(col("_bc").between(2, maxBucket)), bucket)
        val hotCounts = counts.filter(col("_bc") > maxBucket)
        val hasHot = hotCounts.limit(1).count() > 0
        def pairsOf(rows: DataFrame, cols: Seq[String], src: Int): DataFrame =
          side(rows, "_a", cols, Seq(key)).join(side(rows, "_b", cols, Seq(key)), cols)
            .filter(col(ka) < col(kb))
            .select(col(ka), col(kb), lit(src).as("_src"))
        val hotPairs =
          if (!hasHot) Nil
          else hot.sources(banded.join(hotCounts, bucket)).zipWithIndex.map {
            case ((rows, cols), i) => pairsOf(rows, cols, 2 << i)
          }
        val candidates = (pairsOf(cold, bucket, 1) +: hotPairs).reduce(_ unionAll _)
          .groupBy(col(ka), col(kb))
          .agg(bit_or(col("_src")).as("_src"))
        // touch-the-batch filter: two equi LEFT joins against the (small,
        // broadcastable) batch key set — never an OR-condition join, which
        // would plan as a nested-loop product
        val touched = batchKeys.fold(candidates)(bk => candidates
          .join(bk.select(col(key).as(ka), lit(true).as("_fa")), Seq(ka), "left")
          .join(bk.select(col(key).as(kb), lit(true).as("_fb")), Seq(kb), "left")
          .filter(col("_fa").isNotNull || col("_fb").isNotNull))
        val withPayload =
          if (payload.isEmpty) touched
          else touched
            .join(side(reps, "_a", Nil, key +: payload), ka)
            .join(side(reps, "_b", Nil, key +: payload), kb)
        hot.verified(withPayload.select(col(ka), col(kb), col("_src"), scored).filter(verify.accept(col(name))))
    }

    // 5. expand through membership
    val crossPairs = touching(repPairs
        .join(side(members, "_a", blk, key +: "_id" +: flag), blk :+ ka)
        .join(side(members, "_b", blk, key +: "_id" +: flag), blk :+ kb))
      .select(least(col("_id_a"), col("_id_b")).as("id_a"), greatest(col("_id_a"), col("_id_b")).as("id_b"),
        col(name))

    val pairs = samePairs.unionAll(crossPairs)
    pairing match {
      case b: Bands => pairs.groupBy(col("id_a"), col("id_b")).agg(b.best(col(name)).as(name))
      case _: Blocks => pairs
    }
  }
}
