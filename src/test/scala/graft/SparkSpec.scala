package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs: one local session per suite,
  * harness-shaped config (UTC, small shuffle partitions, UI off), with
  * GraftExtensions loaded as GraftSession loads it.
  */
trait SparkSpec extends AnyFunSuite {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.plans.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** `body`'s result and the Spark jobs it ran, counted by a SparkListener. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
