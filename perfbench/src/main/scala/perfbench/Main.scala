package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: set up a workload several times (reporting the
  * median set-up time), then run its unit of work closed-loop for the
  * given seconds, checking every unit against the generator's answers.
  *
  * With `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
  * alternates untraced and traced units and reports per-layer metrics
  * from the spans, plus the tracing overhead. The result is one JSON
  * object written to `--result`; the span dump goes to `--trace-out`.
  */
object Main {

  /** set-ups per run; setup_s reports their median */
  val SetupReps = 3

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      workDir: String = "",
      result: String = "",
      traceOut: String = ""
  )

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil                          => a
    case "--workload" :: v :: rest    => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest        => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest     => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest       => parse(rest, a.copy(trace = v == "1"))
    case "--workdir" :: v :: rest     => parse(rest, a.copy(workDir = v))
    case "--result" :: v :: rest      => parse(rest, a.copy(result = v))
    case "--trace-out" :: v :: rest   => parse(rest, a.copy(traceOut = v))
    case other :: _                   => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(2 * 1024 * 1024))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** heap in use after full collections, in MiB. Spark's ContextCleaner
    * drops the blocks, broadcasts and shuffles of finished work only after
    * a collection shows them unreachable, asynchronously, so collect until
    * the heap stops shrinking (at most ten rounds). */
  private def heapAfterGc(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var last = used()
    var rounds = 1
    var done = false
    while (!done && rounds < 10) {
      Thread.sleep(200)
      val now = used()
      done = now > last * 0.99
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  /** linear-interpolated percentile (the `inclusive` quantile method) */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.workload.nonEmpty && a.workDir.nonEmpty && a.result.nonEmpty, "--workload, --workdir and --result are required")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(a.workDir).getAbsoluteFile
    deleteTree(work)
    work.mkdirs()
    val wl = Workloads.byName(a.workload)

    // ---- set-up (session, generation, writes) several times; the last
    // one's inputs are measured. setup_s = median set-up + the warm-up ----
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { r =>
      val t0 = if (r == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) { stop(spark); deleteTree(new File(work, s"rep${r - 1}")) }
      spark = session(cores, work)
      wl.setup(spark, a.seed, new File(work, s"rep$r"))
      setupSecs += (System.currentTimeMillis() - t0) / 1000.0
      System.err.println(f"[perfbench] set-up ${r + 1}/$SetupReps: ${setupSecs.last}%.3f s")
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupSecs = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] warm-up: $warmupSecs%.3f s")

    // ---- timed region ----
    var attempted = 0
    var failed = 0
    val untraced = mutable.ArrayBuffer.empty[Outcome]
    val traced = mutable.ArrayBuffer.empty[Outcome]
    def attempt(f: => Outcome): Option[Outcome] = {
      attempted += 1
      try {
        val o = f
        if (o.mismatches.nonEmpty) {
          failed += 1
          o.mismatches.take(10).foreach(m => System.err.println(s"[perfbench] MISMATCH ${wl.name}: $m"))
        }
        Some(o)
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] FAILED ${wl.name}: $e")
          e.printStackTrace()
          None
      }
    }
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val t0 = System.nanoTime()
    var k = 0
    // measure for at least the given seconds: the round of units in
    // flight at the deadline completes
    while (k == 0 || k % wl.round != 0 || System.nanoTime() < deadline) {
      attempt(wl.run(k)).foreach(untraced += _)
      tracer.foreach { tr =>
        attempt(wl.traced(k, tr)).foreach(traced += _)
        if (wl.hasProbe) attempt { wl.probe(tr); Outcome(0L, 0L, Nil) }
      }
      k += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // one probe after the timed region: a forced collection inside it would
    // perturb the units that follow (G1 shrinks the heap after a full GC)
    val heapMb = heapAfterGc()

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        val lat = untraced.map(_.nanos / 1e6).toSeq
        // closed loop, one client: throughput over the units' own time, so
        // the verification between units does not count
        val busy = untraced.map(_.nanos).sum / 1e9
        val rowsPerS =
          if (wl.name == "upload") untraced.map(_.rows).sum / busy
          else median(untraced.map(o => o.rows / (o.nanos / 1e9)).toSeq)
        Seq(
          ("setup_s", median(setupSecs.toSeq) + warmupSecs, "s"),
          ("latency_p50_ms", percentile(lat, 0.5), "ms"),
          ("latency_p90_ms", percentile(lat, 0.9), "ms"),
          ("ops_per_s", untraced.size / busy, "1/s"),
          ("rows_per_s", rowsPerS, "rows/s"),
          ("peak_heap_mb", heapMb, "MB")
        )
      case Some(tr) =>
        tr.close()
        val spans = tr.report(cores)
        val layer = Layers.metrics(wl.name, spans, traced.toSeq)
        val overhead = median(traced.map(_.nanos.toDouble).toSeq) / median(untraced.map(_.nanos.toDouble).toSeq)
        if (a.traceOut.nonEmpty) Layers.dump(new File(a.traceOut), wl.name, a.seed, spans)
        layer :+ (("trace.overhead_ratio", overhead, "ratio"))
    }

    // human-readable summary on stderr; the JSON result goes to the file
    val failedRatio = if (attempted == 0) 1.0 else failed.toDouble / attempted
    System.err.println(s"[perfbench] ${wl.name} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"attempted=$attempted failed=$failed failed_ratio=$failedRatio failed/attempted, " +
      f"units=${untraced.size} over $wall%.2f s, setup reps=${setupSecs.map(s => f"$s%.2f").mkString(",")}")
    System.err.println("[perfbench] unit ms: " + untraced.map(o => f"${o.nanos / 1e6}%.0f").mkString(" "))
    wl.properties.toSeq.sortBy(_._1).foreach { case (key, v) => System.err.println(s"[perfbench] property $key = $v") }
    val json = Json.result(correct = failed == 0, attempted, failed, metrics)
    Gen.writeString(new File(a.result), json + "\n")
    stop(spark)
    deleteTree(work)
  }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }.mkString(", ") +
      "}}"
}
