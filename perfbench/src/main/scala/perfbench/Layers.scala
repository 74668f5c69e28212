package perfbench

import java.io.File

import perfbench.Tracer.SpanStats

/** Per-layer metrics from the traced run. Every metric is reported for
  * every workload: a layer the workload never calls reads 0. Times are
  * medians over traced units; counts are means per traced unit. */
object Layers {

  /** layer spans whose duration is reported as `<span>_ms` */
  val timedSpans: Seq[String] = Seq(
    "sources.read", "schema.parse", "runner.plan", "runner.run", "report.json",
    "checks.row", "checks.unique", "checks.fk",
    "stats.profile", "stats.quota", "stats.packing",
    "images.decode", "images.caption",
    "text.verdicts", "dedup.lines", "dedup.minhash", "dedup.components")

  /** Spark counters charged to each whole unit (root span and below) */
  val sparkTotals: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "executor_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "input_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "fetch_wait_ms" -> "ms", "spill_bytes" -> "bytes", "core_busy_ratio" -> "ratio", "straggler_ratio" -> "ratio")

  /** spans whose own Spark counters are reported as `spark.<span>.<counter>` */
  val sparkSpans: Seq[String] = Seq(
    "runner.run", "checks.row", "checks.unique", "checks.fk", "stats.profile", "stats.quota",
    "images.decode", "text.verdicts", "dedup.lines", "dedup.minhash", "dedup.components")
  val sparkSpanCounters: Seq[(String, String)] = Seq(
    "executor_cpu_ms" -> "ms", "shuffle_write_bytes" -> "bytes", "core_busy_ratio" -> "ratio",
    "straggler_ratio" -> "ratio")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(workload: String, spans: Seq[SpanStats], units: Seq[Outcome]): Seq[(String, Double, String)] = {
    val byOp = spans.groupBy(_.span.op)
    /** per unit (operation) holding span `name`: the spans so named */
    def perOp(name: String): Seq[Seq[SpanStats]] =
      byOp.values.map(_.filter(_.span.name == name)).filter(_.nonEmpty).toSeq
    def msOf(name: String): Double = Main.median(perOp(name).map(_.map(_.durMs).sum))
    def countOf(name: String, counter: String): Double = mean(perOp(name).map(_.map(_.counter(counter)).sum))
    /** ratio counters pool the tasks of every span so named in a unit */
    def ratioOf(name: String, counter: String): Double = Main.median(perOp(name).map { ss =>
      val pooled = new SpanStats(ss.head.span.copy())
      pooled.span.endNs = ss.head.span.startNs + ss.map(s => s.span.endNs - s.span.startNs).sum
      pooled.cores = ss.head.cores
      ss.foreach(s => pooled.tasks ++= s.tasks)
      pooled.counter(counter)
    })
    def counterOf(name: String, counter: String): Double =
      if (counter.endsWith("_ratio")) ratioOf(name, counter) else countOf(name, counter)
    def detail(key: String): Double = mean(units.flatMap(_.detail.get(key)))

    val times = timedSpans.map(s => (s + "_ms", msOf(s), "ms"))
    val counts = Seq(
      ("sources.rows", detail("sources.rows"), "rows"),
      ("runner.plan_jobs", countOf("runner.plan", "jobs"), "count"),
      ("runner.jobs_per_op", countOf("runner.run", "jobs"), "count"),
      ("runner.stages_per_op", countOf("runner.run", "stages"), "count"),
      ("runner.tasks_per_op", countOf("runner.run", "tasks"), "count"),
      ("runner.driver_gap_ms", Main.median(perOp("runner.run").map(_.map(_.driverGapMs).sum)), "ms"),
      ("report.bytes", detail("report.bytes"), "bytes"),
      ("report.errors", detail("report.errors"), "count"),
      ("stats.profile_jobs", countOf("stats.profile", "jobs"), "count"),
      ("images.violations", detail("images.violations"), "count"),
      ("dedup.pairs", detail("dedup.pairs"), "count"),
      ("dedup.minhash_shuffle_records_per_pair", {
        val pairs = detail("dedup.pairs")
        if (pairs <= 0) 0.0 else countOf("dedup.minhash", "shuffle_write_records") / pairs
      }, "records/pair"),
      ("dedup.components_jobs", countOf("dedup.components", "jobs"), "count"),
      ("dedup.components", detail("dedup.components"), "count")
    )
    // whole-unit totals: every span of the unit's root op, pooled
    val roots = spans.filter(s => s.span.parent < 0 && s.span.name == workload)
    val rootOps = roots.map(_.span.op).toSet
    val unitSpans = spans.filter(s => rootOps(s.span.op)).groupBy(_.span.op)
    val totals = sparkTotals.map { case (c, unit) =>
      val v =
        if (c.endsWith("_ratio")) Main.median(roots.map { r =>
          val pooled = new SpanStats(r.span)
          pooled.cores = r.cores
          unitSpans(r.span.op).foreach(s => pooled.tasks ++= s.tasks)
          pooled.counter(c)
        })
        else mean(roots.map(r => unitSpans(r.span.op).map(_.counter(c)).sum))
      (s"spark.$c", v, unit)
    }
    val perSpan = for (s <- sparkSpans; (c, unit) <- sparkSpanCounters) yield (s"spark.$s.$c", counterOf(s, c), unit)
    times ++ counts ++ totals ++ perSpan
  }

  /** Writes every span (with self time and its own Spark counters) and a
    * per-name summary with each layer's share of the traced units' time. */
  def dump(out: File, workload: String, seed: Long, spans: Seq[SpanStats]): Unit = {
    val unitMs = spans.filter(s => s.span.parent < 0 && s.span.name == workload).map(_.durMs).sum
    val summary = spans.groupBy(_.span.name).toSeq.sortBy(-_._2.map(_.selfMs).sum).map { case (name, ss) =>
      val self = ss.map(_.selfMs).sum
      val counters = Tracer.counters.map(c => s"${Json.str(c)}: ${Json.num(ss.map(_.counter(c)).sum)}").mkString(", ")
      s"""    {"name": ${Json.str(name)}, "count": ${ss.size}, "total_ms": ${Json.num(ss.map(_.durMs).sum)}, """ +
        s""""self_ms": ${Json.num(self)}, "self_share_of_units": ${Json.num(if (unitMs > 0) self / unitMs else 0.0)}, """ +
        s""""driver_gap_ms": ${Json.num(ss.map(_.driverGapMs).sum)}, $counters}"""
    }
    val rows = spans.map { s =>
      val counters = Tracer.counters.map(c => s"${Json.str(c)}: ${Json.num(s.counter(c))}").mkString(", ")
      s"""    {"id": ${s.span.id}, "name": ${Json.str(s.span.name)}, "parent": ${s.span.parent}, "op": ${s.span.op}, """ +
        s""""start_ms": ${s.span.startMs}, "end_ms": ${s.span.endMs}, "dur_ms": ${Json.num(s.durMs)}, """ +
        s""""self_ms": ${Json.num(s.selfMs)}, $counters}"""
    }
    Gen.writeString(out,
      s"""{"workload": ${Json.str(workload)}, "seed": $seed, "unit_ms_total": ${Json.num(unitMs)},\n""" +
        s""" "summary": [\n${summary.mkString(",\n")}\n ],\n "spans": [\n${rows.mkString(",\n")}\n ]}\n""")
  }
}
