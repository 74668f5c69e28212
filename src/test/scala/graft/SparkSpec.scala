package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (getOrCreate reuses one JVM-wide). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Collects `target` and returns its rows plus the observed metrics a
    * QueryExecutionListener receives for THAT execution (None when its
    * event does not arrive within 15 s). Events of any other query — a
    * late one from an earlier action, or another suite's on the shared
    * session — are ignored. */
  def collectObserved(target: DataFrame): (Array[Row], Option[Map[String, Row]]) = {
    val got = new LinkedBlockingQueue[Map[String, Row]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq target.queryExecution) got.put(qe.observedMetrics)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rows = target.collect()
      (rows, Option(got.poll(15, TimeUnit.SECONDS)))
    } finally spark.listenerManager.unregister(listener)
  }

  /** The number of Spark jobs `body` launches, counted under a fresh job
    * group once the listener bus has delivered every event. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try body
    finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** The rows of a driver-parsed source frame as the bare local relation
    * `TableSource.localFrame` builds above its one-partition bound: a
    * parallel scan, on which uniqueness keeps its hash prefilter. */
  def parallelScan(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
