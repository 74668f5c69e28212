package graft

import org.apache.spark.sql.functions._
import graft.runner.{ValidationConfig, ValidationRunner}
import graft.schema._

/** Physical-plan assertions — the execution properties the engine is designed
  * around (SURVEY.md §4.2): the whole row-check suite compiles into ONE scan
  * inside whole-stage codegen; FK dimensions broadcast; unused columns are
  * pruned out of the parquet read.
  */
class PlanSpec extends SparkSpec {

  private val li = "/root/testdata/sf0.001/lineitem.parquet"
  private def fc = FieldConstraints()

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("multi-check single pass: the whole check suite reads the source ONCE, codegen'd") {
    val df = spark.read.parquet(li).withColumn("_rid", col("l_orderkey") * 10 + col("l_linenumber"))
    val schema = TableSchema(
      Seq(
        Field("l_returnflag", constraints = fc.copy(enumVals = Some(Seq("A", "N")))),
        Field("l_quantity", ftype = "number", constraints = fc.copy(minimum = Some(5), maximum = Some(45))),
        Field("l_linestatus", constraints = fc.copy(required = true))
      ),
      customConstraints = Seq("l_extendedprice > l_quantity * 900")
    )
    val plan = executedPlan(
      ValidationRunner
        .plan(df, schema, ValidationConfig(rowNumberCol = "_rid"))
        .violations
    )
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected ONE parquet scan, got $scans")
    assert(plan.contains("*("), "check suite must run inside whole-stage codegen (starred stages)")
  }

  test("WIDE schema (60 fields, 180 checks): the OR pre-filter stays codegen'd") {
    // guards against the codegen cliff VectorExprs.LshSignature was built
    // for: a wide composition silently falling back to interpreted eval
    import spark.implicits._
    val nCols = 60
    val wide = spark.range(0, 1000, 1, 4).select(
      (col("id") + 1).as("_rid") +: (0 until nCols).map(i => (col("id") % (i + 2)).cast("double").as(s"c$i")): _*
    )
    val path = java.nio.file.Files.createTempDirectory("graft_wide").toString + "/t"
    wide.write.parquet(path)
    val schema = TableSchema(
      (0 until nCols).map(i =>
        Field(s"c$i", ftype = "number",
          constraints = fc.copy(required = true, minimum = Some(0.0), maximum = Some(1e9)))
      )
    )
    val viols = ValidationRunner.plan(
      spark.read.parquet(path), schema, ValidationConfig(rowNumberCol = "_rid")
    ).violations
    val plan = executedPlan(viols)
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
    // the Filter (OR of 180 conditions) must be inside a starred codegen stage
    assert(plan.contains("*("), s"wide pre-filter fell out of codegen:\n${plan.take(800)}")
    viols.count() // and it executes
  }

  test("uniqueness plan: partial aggregation before the exchange (map-side combine)") {
    val df = spark.read.parquet(li).withColumn("_rid", col("l_orderkey") * 10 + col("l_linenumber"))
    val schema = TableSchema(Seq(Field("l_suppkey", ftype = "integer", constraints = fc.copy(unique = true))))
    val plan = executedPlan(
      ValidationRunner.plan(df, schema, ValidationConfig(rowNumberCol = "_rid")).violations
    )
    // partial_count before the exchange = map-side combine absorbs duplicates
    assert(plan.contains("partial_count") || plan.contains("partial count"), s"plan:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"), s"plan:\n$plan")
  }

  test("FK dimension broadcast: forced hint produces a broadcast join") {
    val df = spark.read.parquet(li).withColumn("_rid", col("l_orderkey") * 10 + col("l_linenumber"))
    val dim = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    val schema = TableSchema(Seq(Field("l_suppkey", ftype = "integer", foreignKey = Some(TableRef("supplier", "s_suppkey")))))
    val plan = executedPlan(
      ValidationRunner
        .plan(df, schema, ValidationConfig(rowNumberCol = "_rid", dims = Map("supplier" -> dim), broadcastDims = true))
        .violations
    )
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("column pruning: selecting (code,row_number) prunes the row payload from the scan") {
    val df = spark.read.parquet(li).withColumn("_rid", col("l_orderkey") * 10 + col("l_linenumber"))
    val schema = TableSchema(
      Seq(Field("l_returnflag", constraints = fc.copy(enumVals = Some(Seq("A", "N")))))
    )
    // blank-row (a table-wide check) references every column by definition —
    // disable it so pruning is observable
    val pruned = ValidationRunner
      .plan(df, schema, ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema"))))
      .violations
      .select("code", "row_number")
    val plan = executedPlan(pruned)
    // the payload would need l_shipdate/l_tax etc.; the pruned projection
    // must not read them
    assert(!plan.contains("l_shipdate"), s"l_shipdate should be pruned:\n$plan")
    assert(!plan.contains("l_tax"), s"l_tax should be pruned:\n$plan")
  }

  test("stored image table: metadata-only checks never read the bytes column") {
    val path = graft.images.SyntheticImages.materialized(spark, 200, "target/imgcache_test")
    val imgs = spark.read.parquet(path).select(col("row_id").as("_rid"), col("image_id"))
    val schema = TableSchema(Seq(Field("image_id", constraints = fc.copy(unique = true))))
    val plan = executedPlan(
      ValidationRunner.plan(imgs, schema, ValidationConfig(rowNumberCol = "_rid")).violations
    )
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("bytes")),
      s"bytes must be pruned from every scan: $readSchemas")
  }

  test("stored image table: the q66 curation-filter shape never reads bytes, one scan, no shuffle") {
    val path = graft.images.SyntheticImages.materialized(spark, 200, "target/imgcache_test")
    val out = spark.read.parquet(path)
      .select(col("row_id"),
        concat_ws(",",
          when(col("w") * col("h") < 1500, lit("too-small")),
          when(col("w") > col("h") * 2 || col("h") > col("w") * 2, lit("extreme-aspect")),
          when(col("caption").isNull || length(col("caption")) < 8, lit("short-caption")),
          when(!col("fmt").isin("png", "jpg", "jpeg"), lit("odd-format"))).as("reasons"))
      .filter(col("reasons") =!= "")
    val plan = executedPlan(out)
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("bytes")),
      s"bytes must be pruned from every scan: $readSchemas")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
    assert(!plan.contains("Exchange"), s"curation verdicts must not shuffle:\n$plan")
  }

  test("stored image table: caption checks (captionViolations) never read bytes") {
    val path = graft.images.SyntheticImages.materialized(spark, 200, "target/imgcache_test")
    val plan = executedPlan(
      graft.images.ImageChecks.captionViolations(spark.read.parquet(path), col("row_id"))
    )
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("bytes")),
      s"bytes must be pruned from every scan: $readSchemas")
  }

  test("bucketed store: co-located FK anti-join runs with NO shuffle on either side") {
    import graft.sources.BucketedStore
    import spark.implicits._
    val fact = (1L to 5000L).map(i => (i, i % 400)).toDF("id", "k")
    val dim = (0L until 300L).toDF("k") // keys 300..399 missing -> violations
    BucketedStore.writeBucketed(fact, "graft_fact_b", "k", 8)
    BucketedStore.writeBucketed(dim, "graft_dim_b", "k", 8)
    try {
      // MERGE hint forces the sort-merge path (suites run in parallel on one
      // session — mutating the global broadcast threshold would race them)
      val viols = spark.table("graft_fact_b").join(
        spark.table("graft_dim_b").hint("merge"), Seq("k"), "left_anti")
      val plan = executedPlan(viols)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(viols.count() == 5000L / 400 * 100) // keys 300..399
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_fact_b")
      spark.sql("DROP TABLE IF EXISTS graft_dim_b")
    }
  }

  test("ExactStore: the batch join exchanges ONLY the batch side — the corpus store never shuffles") {
    import spark.implicits._
    val corpus = (1L to 2000L).map(i => (i, s"doc body number ${i % 500}")).toDF("doc_id", "text")
    graft.dedup.ExactStore.write(corpus, col("text"), col("doc_id"), "graft_exact_b", buckets = 8)
    try {
      val batch = (1L to 100L).map(i => (i + 9000L, s"DOC BODY NUMBER ${i % 500}  ")).toDF("doc_id", "text")
      val out = graft.dedup.ExactStore.incrementalExactDups(
        batch.hint("merge"), col("text"), col("doc_id"), "graft_exact_b")
      val plan = executedPlan(out)
      assert("Exchange".r.findAllIn(plan).length == 1,
        s"only the batch side may exchange into the store bucketing:\n$plan")
      // every batch doc normalizes (case + trailing ws) to an existing
      // corpus class; keeper = min corpus id of the class = bid - 9000
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got.size == 100)
      assert(got.forall { case (bid, kept) => kept == bid - 9000L })
    } finally spark.sql("DROP TABLE IF EXISTS graft_exact_b")
  }

  test("hammingKnnJoin plan: banded equi-join, never a cartesian/nested-loop product") {
    import spark.implicits._
    val sigs = (0 until 100).map(i => (i.toLong, i.toLong * 0x9e3779b97f4a7c15L)).toDF("id", "sig")
    val out = graft.ann.Ann.hammingKnnJoin(
      sigs.filter(col("id") % 10 === 0), col("sig"), col("id"),
      sigs, col("sig"), col("id"), k = 3, bands = 4, maxDistance = 3)
    val plan = executedPlan(out)
    assert(!plan.contains("CartesianProduct"), "candidate generation must not cross-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "candidate generation must not nested-loop")
    // per-query ranking is ONE window over candidates only (plus the
    // store-side per-signature member cap window)
    assert("Window".r.findAllIn(plan).length >= 1)
    // pre-collapsed shape: the banded pigeonhole equi-join over DISTINCT
    // signatures, the capped store-member expansion, and the query fan-out —
    // all equi-joins, never a product
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(plan).length
    assert(joins == 3, s"three equi-joins expected (banding + 2 membership expansions), got $joins:\n$plan")
  }

  test("contaminatedDocs plan: equi-join on the 8-byte shingle hash, never a product") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tok$i end")).toDF("doc_id", "text")
    val out = graft.text.TextOps.contaminatedDocs(
      docs, col("text"), col("doc_id"), docs.filter(col("doc_id") % 10 === 1), col("text"))
    val plan = executedPlan(out)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"contamination must equi-join on the shingle hash:\n$plan")
    // exactly one join — tiny benchmark broadcasts; at a benchmark too large
    // to broadcast the same equi-join degrades to shuffle hash / sort-merge
    // (evidenced at scale by Bench.contaminationThroughput's strategy print)
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(plan).length
    assert(joins == 1, s"one equi-join expected, got $joins")
  }

  test("contaminationScore plan: one equi-join on the shingle hash, one aggregation pass") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tok$i end")).toDF("doc_id", "text")
    val out = graft.text.TextOps.contaminationScore(
      docs, col("text"), col("doc_id"), docs.filter(col("doc_id") % 10 === 1), col("text"))
    val plan = executedPlan(out)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"score must equi-join on the shingle hash:\n$plan")
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(plan).length
    assert(joins == 1, s"one equi-join expected, got $joins")
    // totals + hits reduce in the SAME aggregation: one partial + one final
    // HashAggregate pair keyed on doc_id (plus the benchmark-side distinct)
    assert(!plan.contains("Window"), "denominator must not re-window the corpus")
  }

  test("semDedup plan: centroid assignment adds no join before the cluster-blocked pair stage") {
    import spark.implicits._
    val vecs = (1L to 40L).map(i => (i, Array(i.toFloat % 7, i.toFloat % 5))).toDF("id", "v")
    val cents = IndexedSeq(IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0))
    val out = graft.dedup.Dedup.semDedup(vecs, col("v"), col("id"), cents, eps = 0.999)
    val plan = executedPlan(out)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pairs must block on the assigned cluster, never a product:\n$plan")
  }

  test("piiScan plan: one scan, one codegen'd projection, zero shuffle") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pii").toString + "/t"
    (1L to 100L).map(i => (i, s"doc $i body u$i@example.com")).toDF("doc_id", "text")
      .write.parquet(path)
    val out = graft.text.TextOps.piiScan(spark.read.parquet(path), col("text"), col("doc_id"))
    val plan = executedPlan(out)
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
    assert(!plan.contains("Exchange"), s"PII scan must not shuffle:\n$plan")
    assert(plan.contains("*("), "PII regexp counts must run inside whole-stage codegen")
  }

  test("blocklist / encoding-scan plans: one scan, codegen'd projection, zero shuffle") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_bl").toString + "/t"
    (1L to 100L).map(i => (i, s"doc $i body spam maybe")).toDF("doc_id", "text")
      .write.parquet(path)
    val src = spark.read.parquet(path)
    val bl = src.select(col("doc_id"),
      graft.text.TextOps.blocklistFlags(col("text"), Seq("spam", "scam")).as("n"))
      .filter(col("n") > 0)
    val blPlan = executedPlan(bl)
    assert("FileScan parquet".r.findAllIn(blPlan).size == 1)
    assert(!blPlan.contains("Exchange"), s"blocklist must not shuffle:\n$blPlan")
    assert(blPlan.contains("*("), "blocklist intersect must run inside whole-stage codegen")
    val enc = src.select(col("doc_id"), graft.text.TextOps.encodingStats(col("text")).as("e"))
    val encPlan = executedPlan(enc)
    assert("FileScan parquet".r.findAllIn(encPlan).size == 1)
    assert(!encPlan.contains("Exchange"), s"encoding scan must not shuffle:\n$encPlan")
    assert(encPlan.contains("*("), "encoding regexp chain must run inside whole-stage codegen")
  }

  test("temperatureSample data pass: after the bounded count agg, ONE codegen'd filter, no shuffle") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ts").toString + "/t"
    (1L to 300L).map(i => (i, if (i % 3 == 0) "en" else "de")).toDF("id", "lang")
      .write.parquet(path)
    val src = spark.read.parquet(path)
    val h = pmod(col("id") * lit(2654435761L), lit(4294967296L))
    val out = graft.stats.Sampling.temperatureSample(src, col("lang"), h)
    val plan = executedPlan(out)
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
    assert(!plan.contains("Exchange"), s"the sampling pass itself must not shuffle:\n$plan")
    assert(plan.contains("*("), "the CASE threshold filter must run inside whole-stage codegen")
  }

  test("Packing.assignBins plan: the range shuffle, never a single-partition global window") {
    import spark.implicits._
    val df = (1L to 10000L).map(i => (i, i % 50 + 1)).toDF("id", "w")
    val out = graft.stats.Packing.assignBins(df, col("id"), col("id"), col("w"), budget = 500L)
    // the output is built from an RDD of per-partition scans — materialize
    // and check the prepared frame's plan has NO SinglePartition exchange
    // (the naive window plan would)
    val plan = executedPlan(out)
    assert(!plan.contains("SinglePartition"),
      s"packing must not collapse to one partition:\n$plan")
    assert(out.rdd.getNumPartitions > 1, "bin assignment must stay distributed")
  }

  test("dedupLines plan: winner election is a partial-aggregated hash groupBy, joins are equi") {
    import spark.implicits._
    val docs = (1L to 80L).map(i => (i, s"line${i % 9}\nline${i % 7}\nuniq$i")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.dedupLines(docs, col("text"), col("doc_id"))
    val plan = executedPlan(out)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"line dedup must only equi-join:\n$plan")
    // map-side combine before the winner shuffle: partial_min on the hash key
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"winner election must pre-aggregate map-side (hot boilerplate keys):\n$plan")
  }

  test("hot short-circuit: minHashPairs / hammingPairs plan the hot subtree only when a bucket exceeds maxBucket") {
    // the hasHot probe leaves the hot join(s) out of the plan when no bucket
    // is over the cap; a skeleton that dropped the probe would still return
    // the same pairs, so only the plan shows it
    import spark.implicits._
    import graft.dedup.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val docs = (0 until 12).map(i => (i.toLong + 1, s"$base extra$i tail$i")).toDF("doc_id", "text")
    def minhash(cap: Int) =
      executedPlan(Dedup.minHashPairs(docs, col("text"), col("doc_id"), threshold = 0.3, maxBucket = cap))
    val mhCold = minhash(1000)
    assert(!mhCold.contains("Window") && !mhCold.contains("graft.minhash.hot,"),
      s"no bucket over the cap: no hot sample window, no hot beacon:\n$mhCold")
    val mhHot = minhash(1)
    assert(mhHot.contains("Window") && mhHot.contains("graft.minhash.hot,"),
      s"hot buckets: the sample window and the hot beacon are planned:\n$mhHot")

    // two exact-dup clusters one bit apart share their upper 32-bit band
    val sigs = (0 until 60).map { i =>
      (i.toLong + 1, Seq(0x0123456789abcdefL, 0x0123456789abcdeeL, 0x7ea5a5a5a5a5a5a5L)(i % 3))
    }.toDF("id", "sig")
    def hamming(cap: Int) =
      executedPlan(Dedup.hammingPairs(sigs, col("sig"), col("id"), maxHamming = 1, bands = 2, maxBucket = cap))
    // banded is a checkpoint, so the only Generate left is the hot sub-band explode
    val hmCold = hamming(10000)
    assert(!hmCold.contains("Generate"), s"no bucket over the cap: no interleaved sub-bands:\n$hmCold")
    val hmHot = hamming(1)
    assert(hmHot.contains("Generate"), s"hot buckets: the interleaved sub-band split is planned:\n$hmHot")
  }

  test("curation pipeline: each stage materialized once — the final plan reads NO parquet") {
    // the composed pipeline must not let Catalyst inline the whole chain
    // into every downstream self-join (line dedup reads its input 3x, the
    // minhash family more): stage boundaries are checkpointed, so the final
    // packing plan consumes ONLY in-memory stage outputs — zero file scans,
    // and therefore zero re-derivation of any stage
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        concat_ws("\n", col("text"), lit("footer"),
          concat(lit("u"), col("doc_id"))).as("text"))
    val out = graft.text.CurationPipeline
      .run(docs, col("text"), col("doc_id"), col("lang"), quota = 40, budget = 500L, bands = 32)
    val plan = executedPlan(out)
    assert(!plan.contains("FileScan parquet"),
      s"pipeline stages must flow through single materializations, not re-scans:\n$plan")
  }

  test("curation pipeline to sequences: the chunk fan-out is cut once — final plan reads NO parquet") {
    // packedSequences reads its input twice (bin assignment + join back);
    // without the chunk checkpoint the split kernel and every upstream
    // stage would run twice
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        concat_ws("\n", col("text"), lit("footer"),
          concat(lit("u"), col("doc_id"))).as("text"))
    val out = graft.text.CurationPipeline
      .runToSequences(docs, col("text"), col("doc_id"), col("lang"),
        quota = 40, chunkBudget = 32, seqBudget = 500L, bands = 32)
    val plan = executedPlan(out)
    assert(!plan.contains("FileScan parquet"),
      s"sequence endpoint must consume only stage materializations:\n$plan")
  }

  test("bpeMergePairs plan: pair expansion sits ABOVE the word-count aggregate") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"ab${i % 7} cd${i % 5} ab${i % 7}"))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.bpeMergePairs(docs, col("text"), k = 5)
    val plan = executedPlan(out)
    // plan strings print top-down: the pair explode (first Generate) must
    // appear above the word-count HashAggregate, which must itself sit
    // above the token explode (last Generate) — i.e. pairs are expanded
    // over the vocabulary-sized DISTINCT-word table, never raw tokens
    val pairGen = plan.indexOf("Generate")
    val wordAgg = plan.indexOf("HashAggregate(keys=[w#")
    val tokGen = plan.lastIndexOf("Generate")
    assert(pairGen >= 0 && wordAgg >= 0 && tokGen > pairGen,
      s"expected two Generates around the word aggregate:\n$plan")
    assert(pairGen < wordAgg && wordAgg < tokGen,
      s"pair explode must consume the aggregated word table:\n$plan")
    // both counting shuffles pre-aggregate map-side
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"word/pair counts must map-side combine:\n$plan")
  }

  test("distinctiveTerms plan: equi-joins only, map-side-combined counts") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"tok${i % 11} tok${i % 3} shared"))
      .toDF("doc_id", "text")
    val out = graft.text.TextOps.distinctiveTerms(docs, col("text"), col("doc_id"))
    val plan = executedPlan(out)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"tf-df join must be an equi-join:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"tf/df counts must map-side combine:\n$plan")
  }

  test("bigramLogProb / tokenIds plans: equi-joins only, map-side-combined counts") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, s"tok${i % 7} tok${i % 3} tok${i % 5} end"))
      .toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    for (out <- Seq(
      graft.text.TextOps.bigramLogProb(docs, col("text"), col("doc_id"), ref, col("text")),
      graft.text.TextOps.tokenIds(docs, col("text"), col("doc_id"), ref, col("text"), 5))) {
      val plan = executedPlan(out)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"LM/vocab joins must be equi-joins:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial count"),
        s"count tables must map-side combine:\n$plan")
    }
    // the vocabulary rank window is single-partition: it may only ever see
    // the top-vocabSize rows, cut by a top-k below it. The operator makes
    // that cut itself — the optimizer's own row_number()-filter-to-top-k
    // inference is excluded in an isolated session so it cannot supply it
    val iso = spark.newSession()
    iso.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit")
    val isoDocs = iso.createDataFrame(docs.collectAsList(), docs.schema)
    val sp = graft.text.TextOps.tokenIds(isoDocs, col("text"), col("doc_id"),
      isoDocs.filter(col("doc_id") % 2 === 0), col("text"), 5).queryExecution.sparkPlan
    val windows = sp.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"tokenIds ranks with ONE window:\n$sp")
    val cut = windows.head.child.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t.limit
      case l: org.apache.spark.sql.execution.GlobalLimitExec => l.limit
    }
    assert(cut.exists(_ <= 5), s"rank window must sit above a top-5 cut, got $cut:\n$sp")
  }

  test("aspectBucketCounts plan: reads ONLY w,h (bytes pruned), one scan, one tiny agg exchange") {
    val path = graft.images.SyntheticImages.materialized(spark, 200, "target/imgcache_test")
    val plan = executedPlan(graft.images.ImageOps.aspectBucketCounts(
      spark.read.parquet(path), col("w"), col("h")))
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(s =>
      !s.contains("bytes") && !s.contains("caption") && !s.contains("phash")),
      s"only w,h may be read: $readSchemas")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
    // the only shuffle is the ladder-sized final aggregation
    assert("Exchange".r.findAllIn(plan).length <= 1, s"plan:\n$plan")
  }

  test("sourceVocabOverlap plan: pair explodes sit ABOVE the per-token collect_set aggregate") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (s"s${i % 4}", s"tok${i % 11} tok${i % 7} tok${i % 11}"))
      .toDF("source", "text")
    val plan = executedPlan(
      graft.text.TextOps.sourceVocabOverlap(docs, col("text"), col("source")))
    // plan strings print top-down: both pair explodes (the two leading
    // Generates) must appear above the per-token collect_set aggregate
    // (EliminateDistinct folds the explicit (src, t) distinct into it —
    // collect_set is duplicate-insensitive), which sits above the token
    // explode (the last Generate) — i.e. pair expansion runs over the
    // vocabulary-sized membership table, never over raw corpus tokens
    val pairGen = plan.indexOf("Generate")
    val vocabAgg = plan.indexOf("collect_set")
    val tokGen = plan.lastIndexOf("Generate")
    assert(pairGen >= 0 && vocabAgg >= 0 && tokGen > pairGen,
      s"expected pair Generates above the collect_set aggregate:\n$plan")
    assert(pairGen < vocabAgg && vocabAgg < tokGen,
      s"pair explode must consume the per-token source-set table:\n$plan")
  }

  test("bpeApply tokenize pass: fold of literal replaces stays one no-shuffle scan") {
    import graft.text.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = docs.select(col("doc_id"),
      TextOps.bpeTokenCount(TextOps.bpeApply(
        TextOps.bpeEncode(col("text")), Seq("e r", "er s", "l o"))).as("n_tok"))
    val plan = executedPlan(out)
    assert(!plan.contains("Exchange"), s"tokenizer apply must not shuffle:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
    // the merge-fold replaces live in ONE codegen'd projection (the `*(1)`
    // whole-stage marker) directly over the scan — only the encode UDF is
    // opaque to codegen, and it rides inside the same stage
    assert(plan.contains("*(1) Project"), s"plan:\n$plan")
  }

  test("violations plan is lazy: building it launches no Spark job") {
    // (the parquet read itself runs a footer-inference job — do it first)
    val df = spark.read.parquet(li).withColumn("_rid", col("l_orderkey"))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val schema = TableSchema(Seq(Field("l_returnflag", constraints = fc.copy(required = true))))
    ValidationRunner.plan(df, schema, ValidationConfig(rowNumberCol = "_rid"))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "plan() must not trigger jobs")
  }
}
