package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. One session per test JVM
  * (`Test / fork := true`), built with the same configuration as
  * Bench/Verify ([[Tables.sessionBuilder]]) so test behavior matches the
  * driver's runs (UTC, NTZ parquet timestamps, nanosAsLong, AQE, a
  * throwaway warehouse for the managed-table tests).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  /** Smallest driver-generated scale factor — fast enough for unit tests. */
  val Sf = "/root/testdata/sf0.001"

  /** Absolute path of a test fixture under src/test/resources. */
  def fixture(path: String): String = {
    val url = getClass.getResource(path)
    require(url != null, s"missing test fixture $path")
    url.getPath
  }

  /** Jobs submitted under a job group while `body` runs. The marker job
    * runs after `body`; the listener queue delivers in order, so once the
    * marker's start has arrived every earlier job start has too. */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val (group, markerGroup) = ("spec-construct", "spec-marker")
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`markerGroup`) => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construct")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(markerGroup, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(30, TimeUnit.SECONDS), "marker job never delivered")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh temp dir `graft_<name>…`, deleted with everything in it when
    * the suite ends. */
  def tempDir(name: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name")
    tempDirs.add(dir.toString)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(graft.sources.WarmDirs.deleteRecursively)
    finally super.afterAll()
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = Tables.sessionBuilder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
