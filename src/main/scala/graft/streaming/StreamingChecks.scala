package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.runner.{ValidationConfig, ValidationRunner}
import graft.schema.TableSchema

/** Structured-Streaming validation operators beyond the stateless suite
  * (`ValidationRunner.streamingViolations`): event-time windowed violation
  * rates (watermark + window aggregation) and stateful first-occurrence-wins
  * uniqueness (`flatMapGroupsWithState`). The reference is batch-only
  * (SURVEY §2.9); these are the continuous-ingest counterparts a pipeline
  * monitoring admission quality needs.
  */
object StreamingChecks {

  /** Event-time violation-rate monitor: run the stateless check suite, then
    * aggregate violations per (event-time window, code) behind a watermark.
    * Append-mode sinks emit each window once it is finalized (watermark
    * passes window end) — the standard alerting shape.
    *
    * `tsCol` must be a timestamp column of the INPUT frame. VALID rows must
    * advance the watermark too — a quiet (violation-free) stream would
    * otherwise never finalize its windows — and Catalyst pushes any filter
    * that does not reference the event-time column BELOW the
    * EventTimeWatermark node, which would starve it of the valid rows. The
    * plan therefore explodes one code-or-null per check ABOVE the watermark
    * (a Generate; filters on its output cannot be pushed below it) and
    * drops the nulls after: every input row reaches the watermark operator,
    * everything stays codegen'd. At scale the aggregation is a streaming
    * shuffle keyed by (window, code) — dozens of distinct keys, trivially
    * balanced; the explode multiplies rows by the CHECK COUNT, acceptable
    * for a monitor (compose with a sampled tap for very hot streams). */
  def windowedViolationRates(
      df: DataFrame,
      schema: TableSchema,
      cfg: ValidationConfig,
      tsCol: String,
      windowDuration: String = "1 minute",
      watermarkDelay: String = "2 minutes"
  ): DataFrame = {
    val withNa = ValidationRunner.replaceNa(df, schema.naValue)
    val dataCols =
      withNa.columns.toSeq.filterNot(c => c == cfg.rowNumberCol || cfg.partitionIdCol.contains(c))
    val payloadSchema = org.apache.spark.sql.types.StructType(dataCols.map(c => withNa.schema(c)))
    val compiled =
      graft.checks.RowChecks.compile(schema, payloadSchema, col(cfg.rowNumberCol), cfg.options)
    val codes = array(compiled.map(ck => when(ck.cond, lit(ck.code))): _*)
    withNa
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(codes).as("code"))
      .filter(col("code").isNotNull)
      .groupBy(window(col(tsCol), windowDuration).as("window"), col("code"))
      .agg(count(lit(1)).as("violations"))
  }

  /** Event-time windowed DRIFT monitor: per window, ONE mergeable KLL sketch
    * of the value column (the same `TypedImperativeAggregate` the batch
    * profiler uses — partial sketches merge inside the streaming aggregation
    * state exactly like percentile_approx does), then PSI and KS against a
    * FIXED baseline sketch (serialized bytes captured in the closure, e.g.
    * yesterday's `SketchDrift.writeSnapshot` entry) computed on the few-KB
    * sketch — never re-reading baseline data. Append mode: each window emits
    * once the watermark finalizes it — the continuous counterpart of
    * `SketchDrift.driftAgainstSnapshot`.
    *
    * At scale the aggregation state per window is one few-KB sketch; the
    * shuffle is keyed by window (merge-friendly partial sketches), and the
    * drift math runs once per FINALIZED window on a few KB. Output:
    * (window, n, psi, ks, drifted). */
  def windowedSketchDrift(
      df: DataFrame,
      valueCol: Column,
      tsCol: String,
      baseline: Array[Byte],
      windowDuration: String = "1 minute",
      watermarkDelay: String = "2 minutes",
      psiThreshold: Double = 0.2,
      k: Int = 200
  ): DataFrame = {
    val psiUdf = udf { (bytes: Array[Byte]) =>
      graft.stats.SketchDrift.psi(
        graft.exprs.SketchAgg.deserialize(bytes),
        graft.exprs.SketchAgg.deserialize(baseline))
    }
    val ksUdf = udf { (bytes: Array[Byte]) =>
      graft.stats.SketchDrift.ks(
        graft.exprs.SketchAgg.deserialize(bytes),
        graft.exprs.SketchAgg.deserialize(baseline))
    }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration).as("window"))
      .agg(graft.exprs.SketchAgg.kll(valueCol, k).as("_sk"), count(valueCol).as("n"))
      .select(col("window"), col("n"), psiUdf(col("_sk")).as("psi"), ksUdf(col("_sk")).as("ks"))
      .withColumn("drifted", col("psi") >= psiThreshold)
  }

  /** Stateful streaming uniqueness: first-occurrence-wins across the whole
    * stream (the unique-constraint semantics of the batch engine,
    * custom_checks.py:121-143 — first cache hit wins, later rows violate).
    * Implemented with `flatMapGroupsWithState` over the EXACT key value
    * (no hash-collision false positives); state per distinct key is one
    * long (the first row id). Rows whose every key column is null are
    * skipped, as in batch. At scale the group shuffle is keyed by the
    * value itself — pre-salt upstream if one value dominates; state grows
    * with distinct keys, so production deployments bound it with a state
    * TTL (pass `stateTtl`, which arms a processing-time timeout that drops
    * idle keys — re-seen keys after expiry are treated as fresh). */
  def streamingUniqueViolations(
      df: DataFrame,
      keys: Seq[String],
      rowNumberCol: String,
      stateTtl: Option[String] = None
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val anyKeyNonNull = keys.map(col(_).isNotNull).reduce(_ || _)
    val keyed = df
      .filter(anyKeyNonNull) // all-null key tuple is skipped (batch parity)
      .select(
        // SOH-separated tuple with a NUL null-sentinel: unambiguous for any
        // text free of control chars (("a","b") never collides with ("ab",""),
        // ("a",null) differs from ("a",""))
        concat_ws("\u0001", keys.map(k => coalesce(col(k).cast("string"), lit("\u0000"))): _*).as("k"),
        col(rowNumberCol).cast("long").as("rid")
      )
      .as[(String, Long)]
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val out = keyed
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, String)](OutputMode.Append(), timeout) {
        (_: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rids = rows.map(_._2).toArray.sorted
            val dups =
              if (state.exists) rids.toSeq
              else { state.update(rids.head); rids.tail.toSeq }
            stateTtl.foreach(state.setTimeoutDuration)
            dups.iterator.map(rid => (rid, "unique-constraint"))
          }
      }
    out.toDF("row_number", "code").select(col("code"), col("row_number"))
  }

  /** Streaming EXACT dedup with first-occurrence-wins semantics across the
    * whole stream — the continuous counterpart of [[graft.dedup.Dedup.exact]]
    * and the admission-time companion of the batch MinHash store: each doc
    * is keyed by its whitespace/case-normalised content fingerprint
    * ([[graft.text.TextOps.fingerprint]]), state per distinct fingerprint
    * is ONE long (the keeper's id), and later arrivals emit (id, kept_id)
    * exactly like the batch dedup family. State grows with distinct docs —
    * bound it with `stateTtl` in production (idle fingerprints expire;
    * re-seen docs after expiry count as fresh, the standard trade). */
  def streamingExactDedup(
      df: DataFrame,
      text: Column,
      id: Column,
      stateTtl: Option[String] = None
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .select(graft.text.TextOps.fingerprint(text).as("_fp"), id.cast("long").as("_id"))
      .filter(col("_fp").isNotNull)
      .as[(Long, Long)]
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    keyed
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](OutputMode.Append(), timeout) {
        (_: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ids = rows.map(_._2).toArray.sorted
            val dups =
              if (state.exists) ids.toSeq
              else { state.update(ids.head); ids.tail.toSeq }
            val kept = state.get
            stateTtl.foreach(state.setTimeoutDuration)
            dups.iterator.map(d => (d, kept))
          }
      }
      .toDF("id", "kept_id")
  }

  /** Streaming benchmark decontamination — the admission-time counterpart
    * of [[graft.text.TextOps.contaminatedDocs]]: flag streamed docs sharing
    * ≥ `minOverlap` distinct word n-gram shingles with the benchmark set.
    * A doc's shingles all live in its own row, so the overlap is ROW-LOCAL:
    * the benchmark's distinct shingle hashes are collected ONCE (driver
    * memory bound = benchmark size — benchmarks are tiny next to corpora;
    * the batch operator is the path for benchmark sets past memory) and the
    * check is a stateless per-row kernel — append mode, no watermark, no
    * streaming state at all. Output: (doc_id, overlap), contaminated docs
    * only. */
  def streamingContaminated(
      stream: DataFrame,
      text: Column,
      id: Column,
      benchmark: DataFrame,
      btext: Column,
      minOverlap: Int = 3,
      shingleWords: Int = 3,
      maxBenchmarkShingles: Long = 5000000L
  ): DataFrame = {
    val bshingles = benchmark
      .select(explode(graft.text.TextOps.wordShingleHashes(btext, shingleWords)).as("_g"))
      .distinct()
    // fail FAST on an oversized benchmark instead of a driver OOM halfway
    // through the collect — in ONE job: collect at most limit+1 rows (the
    // limit bounds driver memory even when the true set is huge), and if
    // the sentinel extra row arrives, name the batch path. A separate
    // count() would re-derive the whole shingle pipeline a second time.
    val limited = bshingles
      .limit(math.toIntExact(math.min(maxBenchmarkShingles, Int.MaxValue - 1L) + 1L))
      .collect()
    require(
      limited.length <= maxBenchmarkShingles,
      s"benchmark has > $maxBenchmarkShingles distinct shingles: too large to " +
        "collect to the driver - use the batch operator graft.text.TextOps.contaminatedDocs " +
        "(distributed join, no driver set) or raise maxBenchmarkShingles")
    val bset: java.util.HashSet[Long] = {
      val s = new java.util.HashSet[Long]()
      limited.foreach(r => s.add(r.getLong(0)))
      s
    }
    val overlapUdf = udf { (sh: Array[Long]) =>
      var c = 0; var j = 0
      while (j < sh.length) { if (bset.contains(sh(j))) c += 1; j += 1 }
      c
    }
    stream
      .select(id.as("doc_id"),
        overlapUdf(graft.text.TextOps.wordShingleHashes(text, shingleWords)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }
}
