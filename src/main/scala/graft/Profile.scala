package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** The diagnostic main: where a query's or a scale workload's time goes.
  * Not part of the benchmark protocol: `Bench` stays the frozen harness.
  *
  * Usage: `runMain graft.Profile <subcommand> [args]`
  *  - `queries [samples=3] [tag=explain] [prefix ...]` — for every
  *    `SparkEntry` query whose name starts with a prefix, on
  *    SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS] with Bench's settings:
  *    writes `plans/r06/<query>_<tag>.txt` (explain formatted) and times
  *    the noop-sink write (every column computed, output discarded) and
  *    `count()`;
  *  - `point [rows=200000000] [cpus=32] [samples=2] [mode=metadata]
  *    [shufflePartitions=64]` — one workload at one size, min of samples;
  *  - `scaling [low=8] [high=32] [rounds=3] [rows=20000000]
  *    [modes=rowchecks,metadata,salted,embedding,knnjoin,text,image]` — N→4N
  *    efficiency per mode;
  *  - `hotprobe [family=4000] [fillers=100000] [cpus=32]` — minhash
  *    hot-bucket recall against brute force.
  *
  * Every timed action runs under the job description
  * `<mode|query>/<label>/<sample>`; after it, one JSON line per stage
  * (wall vs executor run/CPU time, GC, shuffle bytes, fetch wait, spill)
  * and one `span` line: the action's jobs, its driver idle time (no job
  * running) and its seam (wall time minus summed stage wall times;
  * negative when stages overlap). */
object Profile {

  /** A pre-rendered JSON value (number, array or object). */
  private final case class Raw(json: String)

  /** One JSON object: strings quoted and escaped, [[Raw]] and numbers as is. */
  private def obj(fields: Seq[(String, Any)]): String = fields.map {
    case (k, s: String) => s""""$k":"${s.replace("\\", "\\\\").replace("\"", "\\\"")}""""
    case (k, Raw(v)) => s""""$k":$v"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  private def emit(fields: (String, Any)*): String = { val line = obj(fields); println(line); line }

  private def timed[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); (body, (System.nanoTime() - t0) / 1e9) }

  private final case class Stage(id: Int, job: String, name: String, metrics: ListMap[String, Long])

  private def stage(i: StageInfo, job: String): Stage = {
    val m = i.taskMetrics
    Stage(i.stageId, job, i.name.takeWhile(_ != '\n').take(60), ListMap(
      "tasks" -> i.numTasks.toLong,
      "wall_ms" -> (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(-1L),
      "run_ms" -> m.executorRunTime,
      "cpu_ms" -> m.executorCpuTime / 1000000L,
      "gc_ms" -> m.jvmGCTime,
      "sh_read_mb" -> (m.shuffleReadMetrics.totalBytesRead >> 20),
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "sh_write_mb" -> (m.shuffleWriteMetrics.bytesWritten >> 20),
      "sh_write_ms" -> m.shuffleWriteMetrics.writeTime / 1000000L,
      "spill_mb" -> ((m.memoryBytesSpilled + m.diskBytesSpilled) >> 20)))
  }

  /** The one stage listener: files every job and stage under its job
    * description. `span` runs a labelled action, then a one-task fence job:
    * the bus delivers events in order, so once the fence's start arrives
    * every event of the action has been delivered. */
  private final class StageLog(spark: SparkSession) extends SparkListener {
    private val stageJob = new ConcurrentHashMap[Int, String]()
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val jobs = new ConcurrentHashMap[Int, (String, Long, Long)]() // id -> (desc, start, end)
    private val fences = new ConcurrentHashMap[String, CountDownLatch]()
    private def desc(p: java.util.Properties) = Option(p).map(_.getProperty("spark.job.description", "")).getOrElse("")
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(fences.get(desc(e.properties))).foreach(_.countDown())
      jobs.put(e.jobId, (desc(e.properties), e.time, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(_3 = e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageJob.put(e.stageInfo.stageId, desc(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(stage(e.stageInfo, stageJob.getOrDefault(e.stageInfo.stageId, "")))

    def span[T](label: String)(action: => T): T = {
      val sc = spark.sparkContext
      sc.setJobDescription(label)
      val (out, sec) = try timed(action) finally sc.setJobDescription(null)
      val seen = new CountDownLatch(1)
      fences.put(s"$label/fence", seen)
      sc.setJobDescription(s"$label/fence")
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      if (!seen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(s"stage listener: events of '$label' not delivered within 60 s")
      val mine = stages.asScala.filter(_.job == label).toSeq.sortBy(_.id)
      mine.foreach(s => emit((Seq("stage" -> s.id, "job" -> label) ++ s.metrics :+ ("name" -> s.name)): _*))
      val jobSpans = jobs.values.asScala.filter(_._1 == label).map(j => (j._2, j._3)).toSeq.sortBy(_._1)
      val busyMs = jobSpans.foldLeft((0L, Long.MinValue)) { case ((busy, reach), (s, e)) =>
        (busy + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1
      val sums = ListMap(mine.flatMap(_.metrics.keys).distinct.map(k => k -> mine.map(_.metrics(k)).sum): _*)
      val wallMs = (sec * 1000).toLong
      emit((Seq("span" -> label, "wall_ms" -> wallMs, "jobs" -> jobSpans.size, "stages" -> mine.size,
        "driver_idle_ms" -> (wallMs - busyMs), "seam_ms" -> (wallMs - sums.getOrElse("wall_ms", 0L))) ++
        sums.map { case (k, v) => s"${k}_total" -> v }): _*)
      out
    }
  }

  private def withLog[T](spark: SparkSession)(body: StageLog => T): T = {
    val log = new StageLog(spark)
    try body(log) finally spark.sparkContext.removeSparkListener(log)
  }

  /** A workload: its `Bench` call (session, rows, cpus), the rows `scaling`
    * runs it at for a requested size n, and whether it reads a size-keyed
    * stored table — its warm-up then runs at full size, materializing the
    * table outside every timed sample. */
  private final case class Mode(run: (SparkSession, Long, Int) => (Long, Double, Long),
      size: Long => Long = identity, stored: Boolean = false)
  private def m(f: (SparkSession, Long) => (Long, Double, Long), size: Long => Long = identity,
      stored: Boolean = false) = Mode((s, n, _) => f(s, n), size, stored)

  // one line per workload family
  private val modes: Map[String, Mode] = ListMap(
    "metadata" -> Mode((s, n, c) => Bench.scaleThroughput(s, n, c)),
    "rowchecks" -> Mode((s, n, c) => Bench.scaleThroughput(s, n, c, withUniqueness = false)),
    "salted" -> Mode((s, n, c) => Bench.scaleThroughput(s, n, c, uniquenessSalts = 16)),
    "embedding" -> m(Bench.embeddingThroughput(_, _), _ / 10), "knnjoin" -> m(Bench.knnJoinThroughput(_, _), _ / 10),
    "text" -> m(Bench.textThroughput(_, _), _ / 40),
    // `scaling` decodes 200k images, so the timed region is tens of seconds at
    // the low level: at 50k images fixed job overhead eats the ratio
    "image" -> m(Bench.imageThroughput, _ => 200000L, stored = true),
    "imagecanonical" -> m(Bench.imageCanonicalThroughput(_, _)),
    "cc" -> m(Bench.ccThroughput(_, _)), "ccstars" -> m(Bench.ccStarsThroughput(_, _)),
    "contamination" -> m(Bench.contaminationThroughput(_, _), _ / 10),
    "contamsparse" -> m(Bench.contaminationThroughput(_, _, sparseBench = true)),
    "contamsparsebloom" -> m(Bench.contaminationThroughput(_, _, bloom = true, sparseBench = true)),
    "streaming" -> m(Bench.streamingThroughput(_, _), _ / 10, stored = true),
    "linededup" -> m(Bench.lineDedupThroughput(_, _), _ / 10 * 2),
    "spandedup" -> m(Bench.spanDedupThroughput(_, _), _ / 10 / 2),
    "packing" -> m(Bench.packingThroughput(_, _)), "packingnaive" -> m(Bench.packingThroughput(_, _, naive = true)),
    "packedseq" -> m(Bench.packedSeqThroughput(_, _)), "splitdocs" -> m(Bench.splitDocsThroughput(_, _)),
    "hammingknn" -> m(Bench.hammingKnnThroughput(_, _), _ / 2),
    "semdedup" -> m(Bench.semDedupThroughput(_, _), _ / 4), "kmeans" -> m(Bench.kmeansThroughput(_, _), _ / 2),
    "ksexact" -> m(Bench.ksExactThroughput(_, _)),
    "incremental" -> m(Bench.incrementalThroughput(_, _)), "exactincr" -> m(Bench.exactIncrementalThroughput(_, _)),
    "bpe" -> m(Bench.bpeThroughput(_, _)), "bpenaive" -> m(Bench.bpeThroughput(_, _, naive = true)),
    "bpeapply" -> m(Bench.bpeApplyThroughput(_, _), _ / 2), "tokenids" -> m(Bench.tokenIdsThroughput(_, _)),
    "pq" -> m(Bench.pqThroughput(_, _), stored = true), "pqbrute" -> m(Bench.pqThroughput(_, _, brute = true)),
    "pqrecall" -> m(Bench.pqRecallThroughput(_, _)),
    "dsir" -> m(Bench.dsirThroughput(_, _), _ / 10), "urldedup" -> m(Bench.urlDedupThroughput(_, _)),
    "htmltext" -> m(Bench.htmlTextThroughput(_, _)), "editdist" -> m(Bench.editDistThroughput(_, _), _ * 2),
    "quantiles" -> m(Bench.quantilesThroughput(_, _), _ * 20), "zipf" -> m(Bench.zipfThroughput(_, _)),
    "entropysample" -> m(Bench.entropySampleThroughput(_, _)), "alignment" -> m(Bench.alignmentThroughput(_, _)),
    "asof" -> m(Bench.asOfThroughput(_, _)), "rangejoin" -> m(Bench.rangeJoinThroughput(_, _)),
    "sessionize" -> m(Bench.sessionizeThroughput(_, _)), "rolling" -> m(Bench.rollingThroughput(_, _)),
    "funnel" -> m(Bench.funnelThroughput(_, _)),
    "zorder" -> m(Bench.zorderProbeThroughput(_, _)),
    "zorderbrute" -> m(Bench.zorderProbeThroughput(_, _, brute = true)),
    "setsim" -> m(Bench.setSimThroughput(_, _), _ / 2), "setsimdense" -> m(Bench.setSimThroughput(_, _, dense = true)),
    "outliers" -> m(Bench.outlierThroughput(_, _)))

  private def mode(name: String): Mode = modes.getOrElse(name,
    throw new IllegalArgumentException(s"unknown mode '$name'; known modes: ${modes.keys.mkString(", ")}"))

  /** Codegen/JIT warm-up outside the timed samples: one run at up to 2M
    * rows (full size for stored modes). */
  private def warm(spark: SparkSession, md: Mode, rows: Long, cpus: Int): Unit =
    md.run(spark, if (md.stored) rows else math.min(rows, 2000000L), cpus)

  /** One session per run; each subcommand keeps its own Spark settings. */
  private def session(cpus: Int, shufflePartitions: Int, advisory: String, conf: (String, String)*): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master(s"local[$cpus]").config(Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString, "spark.sql.ansi.enabled" -> "false",
      // AQE's default 64MB coalesce target strangles reduce-side parallelism at local data sizes
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory, "spark.ui.enabled" -> "false") ++ conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def queries(spark: SparkSession, sfDir: String, samples: Int, tag: String, prefixes: Seq[String]): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    // stored tables are one-time setup, not workload
    graft.images.SyntheticImages.materialized(spark, SparkEntry.imageCount(sfDir))
    Seq(SparkEntry.lshStore _, SparkEntry.ivfStore _, SparkEntry.knnStore _, SparkEntry.knnIvfStore _)
      .foreach(_(spark, sfDir))
    val planDir = new java.io.File("plans/r06")
    planDir.mkdirs()
    val actions = Seq[(String, DataFrame => Unit)](
      "noop" -> (_.write.format("noop").mode("overwrite").save()), "count" -> (_.count(): Unit))
    withLog(spark) { log =>
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
           if prefixes.isEmpty || prefixes.exists(name.startsWith)) {
        val plan = try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
          catch { case NonFatal(e) => s"explain failed: $e" }
        val out = new java.io.PrintWriter(new java.io.File(planDir, s"${name}_$tag.txt"))
        try out.write(plan) finally out.close()
        // a failing query must never masquerade as a fast one
        for ((label, action) <- actions) try {
          val xs = (1 to samples).map(i => log.span(s"$name/$label/$i")(timed(action(fn(spark, sfDir)))._2))
          println(f"[extra] $name $label min=${xs.min}%.3f samples=${xs.map(x => f"$x%.3f").mkString(",")}")
        } catch { case NonFatal(e) => println(s"[extra] $name $label FAILED: $e") }
      }
    }
  }

  /** One workload at `rows`; returns (and prints) the `scale_point` line.
    * Rates are against the work unit the workload reports (rows, edges,
    * batch docs), not the requested size. */
  def point(spark: SparkSession, name: String, rows: Long, samples: Int, cpus: Int): String = {
    val md = mode(name)
    withLog(spark) { log =>
      warm(spark, md, rows, cpus)
      val xs = (1 to samples).map(i => log.span(s"$name/point/$i")(md.run(spark, rows, cpus)))
      val (work, best) = (xs.head._1, xs.map(_._2).min)
      emit("metric" -> "scale_point", "mode" -> name, "rows" -> rows, "work" -> work, "cpus" -> cpus,
        "sec" -> best, "rows_per_sec" -> (work / best).toLong, "samples" -> Raw(xs.map(_._2).mkString("[", ",", "]")),
        "result" -> xs.head._3)
    }
  }

  /** Scaling efficiency (tpHigh / tpLow / (high / low)) of each mode, run at
    * both levels in every round so host-load drift hits both equally; min
    * of rounds per level. Each level pins the WHOLE process (task threads,
    * GC, shuffle IO) to cores 0..level-1, so "N cores" means N cores: left
    * unpinned, local[2] measured 2.7 cores of process CPU on shuffle-heavy
    * modes. `session` builds a session at a level. */
  def scaling(session: Int => SparkSession, low: Int, high: Int, rounds: Int, rows: Long,
      names: Seq[String]): String = {
    val cores = Runtime.getRuntime.availableProcessors()
    require(1 <= low && low <= high && high <= cores,
      s"scaling levels must satisfy 1 <= low <= high <= $cores available cores: got $low, $high")
    val selected = names.map(n => n -> mode(n))
    def pinned(cpus: Int): SparkSession = {
      val p = new ProcessBuilder("taskset", "-a", "-p", "-c", s"0-${cpus - 1}",
        ProcessHandle.current().pid().toString).redirectErrorStream(true).start()
      require(p.waitFor() == 0, s"taskset could not pin the process to cores 0-${cpus - 1}")
      session(cpus)
    }
    val warmup = pinned(low)
    try selected.foreach { case (_, md) => warm(warmup, md, md.size(rows), low) } finally warmup.stop()
    val runs = for (round <- 1 to rounds; cpus <- Seq(low, high); (name, md) <- selected) yield {
      val s = pinned(cpus)
      try {
        val (work, sec, _) = withLog(s)(_.span(s"$name/local$cpus/$round")(md.run(s, md.size(rows), cpus)))
        (name, cpus, work, sec)
      } finally s.stop()
    }
    val parts = selected.map { case (name, _) =>
      def secs(cpus: Int) = runs.collect { case (`name`, `cpus`, _, sec) => sec }.sorted
      val (work, tLow, tHigh) = (runs.find(_._1 == name).get._3, secs(low).head, secs(high).head)
      name -> Raw(obj(Seq("work" -> work, "sec_low" -> tLow, "sec_high" -> tHigh,
        "rows_per_sec_low" -> (work / tLow).toLong, "rows_per_sec_high" -> (work / tHigh).toLong,
        "efficiency" -> Raw("%.3f".format((tLow / tHigh) / (high.toDouble / low))),
        "runs_low" -> Raw(secs(low).mkString("[", ",", "]")), "runs_high" -> Raw(secs(high).mkString("[", ",", "]")))))
    }
    emit(Seq("metric" -> "scaling_efficiency", "low_cpus" -> low, "high_cpus" -> high, "rows" -> rows) ++ parts: _*)
  }

  /** Residual recall loss of `Dedup.minHashPairs`' hot-bucket path against
    * brute-force ground truth, on a corpus where the hot path is live:
    * `family` docs share 50 base tokens with ONE doc-unique token each
    * (pairwise Jaccard ≈ 0.78–0.88, all above 0.7, all DISTINCT shingle
    * sets, so every band's modal bucket holds ~77% of the family), plus
    * `fillers` unique docs. Reports pair recall, cluster-membership recall
    * (docs that keep at least one true pair), uncapped-banding recall (to
    * separate banding loss from hot-path loss) and the capped run's
    * `graft.minhash.hot` / `graft.minhash.hotrecall` beacons. */
  def hotprobe(spark: SparkSession, family: Int, fillers: Long): String = {
    val threshold = 0.7
    val textU = udf { (id: Long) =>
      def tok(seed: Long): String = {
        var z = seed + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        "w" + java.lang.Long.toUnsignedString((z ^ (z >>> 31)) % 50000)
      }
      if (id < family) {
        val toks = Array.tabulate(50)(i => tok(1000000L + i))
        toks((1 + id % 48).toInt) = s"zz$id"
        toks.mkString(" ")
      } else Array.tabulate(50)(i => tok(id * 131L + i)).mkString(" ")
    }
    val corpus = spark.range(0, family + fillers, 1, 64).select(col("id"), textU(col("id")).as("text"))
      .localCheckpoint(true)
    // ground truth over the family block, the only block with pairs
    val jac = udf(graft.dedup.Dedup.jaccardLong _)
    val sh = corpus.filter(col("id") < family)
      .select(col("id"), graft.text.TextOps.wordShingleHashes(col("text")).as("sh")).localCheckpoint(true)
    val brute = sh.select(col("id").as("id_a"), col("sh").as("_sa"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("_sb")), col("id_a") < col("id_b"))
      .filter(jac(col("_sa"), col("_sb")) >= threshold)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    def truePairs(df: DataFrame) = df.join(brute, Seq("id_a", "id_b"), "left_semi")
    def nodes(df: DataFrame) = df.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct().count()
    def ratio(a: Long, b: Long) = Raw("%.4f".format(a.toDouble / b))
    withLog(spark) { log =>
      // the beacons are read from the counted query's OWN execution, so no
      // other query's observation can stand in for them
      def runPairs(label: String, maxBucket: Int) = {
        val ((raw, counted, n), sec) = log.span(s"hotprobe/$label/1")(timed {
          val raw = graft.dedup.Dedup
            .minHashPairs(corpus, col("text"), col("id"), threshold = threshold, maxBucket = maxBucket)
            .filter(col("id_a") < family && col("id_b") < family)
          val counted = raw.groupBy().count()
          (raw, counted, counted.collect().head.getLong(0))
        })
        val beacons = counted.queryExecution.observedMetrics
        def beacon(name: String) = beacons.get(name).filterNot(_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
        (raw.localCheckpoint(true), n, Raw("%.1f".format(sec)),
          beacon("graft.minhash.hot"), beacon("graft.minhash.hotrecall"))
      }
      val (capped, cappedPairs, secCapped, hotRows, hotRecovered) = runPairs("capped", 1000)
      val (uncapped, uncappedPairs, secUncapped, _, _) = runPairs("uncapped", Int.MaxValue)
      val (brutePairs, nodesBrute, nodesCapped) = (brute.count(), nodes(brute), nodes(truePairs(capped)))
      val (cappedTrue, uncappedTrue) = (truePairs(capped).count(), truePairs(uncapped).count())
      emit("metric" -> "minhash_hot_probe", "family" -> family, "fillers" -> fillers, "threshold" -> threshold,
        "maxBucket" -> 1000, "brute_pairs" -> brutePairs, "capped_pairs" -> cappedPairs, "capped_true" -> cappedTrue,
        "pair_recall" -> ratio(cappedTrue, brutePairs), "uncapped_pairs" -> uncappedPairs,
        "uncapped_true" -> uncappedTrue, "banding_recall" -> ratio(uncappedTrue, brutePairs),
        "nodes_brute" -> nodesBrute, "nodes_capped" -> nodesCapped,
        "membership_recall" -> ratio(nodesCapped, nodesBrute), "hot_rows" -> hotRows, "hot_recovered" -> hotRecovered,
        "sec_capped" -> secCapped, "sec_uncapped" -> secUncapped)
    }
  }

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: String): String = if (args.length > i) args(i) else default
    def run(spark: SparkSession)(body: SparkSession => Unit): Unit = try body(spark) finally spark.stop()
    args.headOption match {
      case Some("queries") =>
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          throw new IllegalArgumentException("queries reads the dataset named by SPARK_GRAFT_SF_DIR"))
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
        // Bench's settings: many-block scans of the small test parquet
        run(session(cpus, cpus, "4m", "spark.sql.files.maxPartitionBytes" -> (2 << 20).toString,
          "spark.sql.session.timeZone" -> "UTC")) {
          queries(_, sfDir, arg(1, "3").toInt, arg(2, "explain"), args.drop(3).toSeq)
        }
      case Some("point") =>
        run(session(arg(2, "32").toInt, arg(5, "64").toInt, "16m")) {
          point(_, arg(4, "metadata"), arg(1, "200000000").toLong, arg(3, "2").toInt, arg(2, "32").toInt)
        }
      case Some("scaling") =>
        // fixed partition count across levels: identical plan, only thread count varies
        scaling(session(_, 64, "4m"), arg(1, "8").toInt, arg(2, "32").toInt, arg(3, "3").toInt,
          arg(4, "20000000").toLong, arg(5, "rowchecks,metadata,salted,embedding,knnjoin,text,image").split(',').toSeq)
      case Some("hotprobe") =>
        run(session(arg(3, "32").toInt, 64, "16m"))(hotprobe(_, arg(1, "4000").toInt, arg(2, "100000").toLong))
      case _ =>
        throw new IllegalArgumentException("usage: graft.Profile queries|point|scaling|hotprobe [args] (see scaladoc)")
    }
  }
}
