package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Suites share one session, so the
  * count is taken through a listener filtered on a job group set for the
  * block alone. A marker job in a second group runs afterwards: the
  * listener bus delivers events in order, so once the marker's start
  * arrives every job of the block has been counted.
  */
object JobCount {

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "jobcount-" + UUID.randomUUID()
    val marker = group + "-marker"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
