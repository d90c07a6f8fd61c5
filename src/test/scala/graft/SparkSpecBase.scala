package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite; UTC + small shuffle partitions. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs that `body` starts on this thread. A marker job in its own
    * group runs afterwards: listener events arrive in order, so once the
    * marker's start is seen every job of `body` has been counted.
    */
  def jobsStartedBy(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val counted = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.add(e)
          case `marker` => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      counted.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** The number of [[jobsStartedBy]] `body`. */
  def jobsRunBy(body: => Unit): Int = jobsStartedBy(body).size
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Spec-internal oracle/baseline frames legitimately use GLOBAL
    // windows on tiny grouped results (e.g. FloatGateSpec's KM at-risk
    // suffix sum, the zipf rank frame); every DECLARED query's window is
    // partition-pinned by PlanSpec. The "No Partition Defined" WARN is
    // pure noise here — and cannot be silenced at the plan (SPARK-42525:
    // EliminateWindowPartitions folds literal partition keys back to the
    // empty spec), so raise the one logger instead.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
