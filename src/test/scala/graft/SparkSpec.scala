package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — ScalaTest
  * suites run sequentially in the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sqlTs(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Spark jobs started while `body` ran, as (job id, description). */
  def jobsOf(body: => Unit): Seq[(Int, String)] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Int, String)]()
    val ended = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add((js.jobId, Option(js.properties)
          .map(_.getProperty("spark.job.description")).orNull))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      // settle the async listener bus: every started job has ended
      val deadline = System.currentTimeMillis() + 20000
      while (ended.get() < jobs.size && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(300)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.sortBy(_._1)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // fresh warehouse per test JVM — saveAsTable locations from a previous
    // run would otherwise collide (in-memory catalog, persistent files)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
