package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Tables.parquetSchema]] reads a table's schema from its parquet footer
  * on the driver. It must give exactly the schema Spark's own inference
  * gives, and a table read must not cost a Spark job.
  */
class FooterSchemaSpec extends SparkSpecBase {

  private val TestTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  test("Tables.table has the inferred schema for every test table") {
    TestTables.foreach { t =>
      assert(Tables.table(spark, Sf, t).schema ==
        spark.read.parquet(s"$Sf/$t.parquet").schema, t)
    }
  }

  test("a staged stream landing peeks the inferred schema") {
    val dir = Files.createTempDirectory("graft_footer_landing")
    try {
      SparkEntry.stageEventSlices(spark, Sf, dir, 3)
      val inferred = spark.read.parquet(dir.toString).schema
      assert(Tables.parquetSchema(spark, dir.toString) == inferred)
      assert(spark.read.schema(Tables.parquetSchema(spark, dir.toString))
        .parquet(dir.toString).schema == inferred)
    } finally {
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally st.close()
    }
  }

  test("a missing table fails at construction, naming its path") {
    val e = intercept[Exception](Tables.table(spark, Sf, "no_such_table"))
    assert(e.getMessage.contains(s"$Sf/no_such_table.parquet"), e.getMessage)
  }

  /** Jobs submitted under a job group while `body` runs. The marker job
    * runs after `body`; the listener queue delivers in order, so once the
    * marker's start has arrived every earlier job start has too. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, markerGroup) = ("footer-spec-construct", "footer-spec-marker")
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

  test("the job counter sees a construction-time job") {
    assert(jobsDuring(spark.read.parquet(s"$Sf/region.parquet")) >= 1)
  }

  test("constructing each olap benchmark face runs no Spark job") {
    Seq("q_word_count", "q_json_extract_agg", "q19_disjunctive",
        "q15_top_supplier", "q_large_orders", "q20_dominant_supplier")
      .foreach { face =>
        assert(jobsDuring(SparkEntry.queries(face)(spark, Sf)) == 0, face)
      }
  }
}
