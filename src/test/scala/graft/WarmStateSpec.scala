package graft

import graft.operators.Similarity
import scala.jdk.CollectionConverters._

/** Pins the two claims [[WarmState.resetForColdRerun]] rests on (r14 verdict
  * task 5): a reset actually FORGETS staged state (so a rerun re-stages
  * inside its own timed window), and every reset memo is re-derivable —
  * re-training after a reset produces the bit-identical model, so cold-reset
  * changes cost accounting, never results.
  */
class WarmStateSpec extends SparkSpecBase {
  import spark.implicits._

  test("StagedDirs.reset deletes the staged dir and forces a re-stage") {
    var builds = 0
    val d1 = WarmState.stagedDir(("warmstate_spec", spark, Sf)) { dir =>
      builds += 1
      java.nio.file.Files.writeString(dir.resolve("probe.txt"), "x")
      ()
    }
    // memoized: a second call must NOT rebuild
    val d1b = WarmState.stagedDir(("warmstate_spec", spark, Sf))(_ => builds += 1)
    assert(d1b === d1 && builds === 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d1, "probe.txt")))
    WarmState.resetForColdRerun()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d1)),
      "reset must delete the staged dir, not just forget it")
    val d2 = WarmState.stagedDir(("warmstate_spec", spark, Sf))(_ => builds += 1)
    assert(builds === 2 && d2 != d1, "post-reset call must re-stage fresh")
    WarmState.resetForColdRerun() // leave no spec litter behind
  }

  test("reset model memos: re-training is bit-identical (results never change)") {
    val c1 = Similarity.trainedCentroids(spark, Sf)
    // memo: same call returns the SAME instance
    assert(Similarity.trainedCentroids(spark, Sf) eq c1)
    WarmState.resetForColdRerun()
    val c2 = Similarity.trainedCentroids(spark, Sf)
    assert(!(c2 eq c1), "reset must actually drop the memo (cost re-paid)")
    // order-deterministic training: every double identical — the property
    // that makes cold-reset safe for oracle-parity faces
    assert(c1.length === c2.length)
    c1.indices.foreach { i =>
      assert(java.util.Arrays.equals(c1(i), c2(i)),
        s"centroid $i differs after re-training — cold-reset would change results")
    }
  }

  test("WarmDirs refuses paths without the graft_ temp prefix") {
    val dir = java.nio.file.Files.createTempDirectory("keepme_spec")
    try {
      graft.sources.WarmDirs.deleteRecursively(dir.toString)
      assert(java.nio.file.Files.exists(dir),
        "guard must refuse non-graft_ paths outright")
    } finally java.nio.file.Files.deleteIfExists(dir)
  }

  // One row per kind of registered state: a reset forgets it, and the next
  // call builds it again. The release rows that need a stopped context or a
  // finished JVM read a child JVM ([[WarmStateChild]]).

  test("bucketed catalog tables are dropped by a reset and re-staged") {
    def bucketed = spark.catalog.listTables().collect().map(_.name)
      .filter(_.matches("graft_(li|ord)_bkt_\\d+")).toSet
    operators.Layouts.bucketedJoinRevenue(spark, Sf)
    val first = bucketed
    assert(first.size >= 2)
    WarmState.resetForColdRerun()
    assert(bucketed.isEmpty, "reset must drop the bucketed tables")
    operators.Layouts.bucketedJoinRevenue(spark, Sf)
    val second = bucketed
    assert(second.size === 2 && (second & first).isEmpty,
      "the next call must stage fresh tables")
    WarmState.resetForColdRerun()
  }

  test("a staged Derby db is dropped by a reset and re-staged") {
    def connects(url: String): Boolean =
      try { java.sql.DriverManager.getConnection(url.takeWhile(_ != ';')).close(); true }
      catch { case _: java.sql.SQLException => false }
    val url = sources.Federation.ordersDimUrl(spark, Sf)
    assert(connects(url))
    WarmState.resetForColdRerun()
    assert(!connects(url), "reset must drop the Derby db, not just forget its url")
    val again = sources.Federation.ordersDimUrl(spark, Sf)
    assert(again != url && connects(again))
    WarmState.resetForColdRerun()
  }

  test("wedge-stat and PageRank-scale memos are re-derived with equal values") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val key = "warmstate-spec-" + System.nanoTime()
    def wedgeStats = WarmState.peek[(Long, Long)](("wedge_stats", key))
    def measure() = operators.Graphs.triangleCountAutoEdges(k4.toDF("u", "v"),
      operators.Graphs.BroadcastRowCap, maxExact = 1000L, statsKey = Some(key)).head()
    measure()
    assert(wedgeStats === Some((6L, 4L)))
    val scale = operators.Graphs.rankScaleFor(spark, Sf)
    assert(WarmState.peek[Long](("rank_scale", Sf)) === Some(scale))
    WarmState.resetForColdRerun()
    assert(wedgeStats.isEmpty && WarmState.peek[Long](("rank_scale", Sf)).isEmpty,
      "reset must forget both memos")
    measure()
    assert(wedgeStats === Some((6L, 4L)))
    assert(operators.Graphs.rankScaleFor(spark, Sf) === scale)
    WarmState.resetForColdRerun()
  }

  /** One child run serves the three rows below: about a Spark start-up each. */
  private lazy val child: Map[String, String] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx512m", "-cp", System.getProperty("java.class.path"), "graft.WarmStateChild")
    val proc = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() === 0, out.mkString("\n"))
    out.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap
  }

  test("an entry keyed on a stopped newSession() is released by the next once") {
    assert(child("staged") === "true")
    assert(child("stopped_kept") === "false",
      "the stopped session's dir must be deleted by the next registration")
  }

  test("staged dirs are deleted at JVM exit, nested content included") {
    val dir = java.nio.file.Paths.get(child("exit_dir"))
    assert(dir.getFileName.toString.startsWith("graft_warmstate_child_exit"))
    assert(!java.nio.file.Files.exists(dir), s"$dir outlived its JVM")
  }

  test("each session's warehouse dir is deleted at JVM exit") {
    val dirs = Seq("warehouse_first", "warehouse_live").map(k => java.nio.file.Paths.get(child(k)))
    assert(dirs.distinct.size === 2, "each session build makes its own warehouse")
    dirs.foreach { d =>
      assert(d.getFileName.toString.startsWith("graft_warehouse"))
      assert(!java.nio.file.Files.exists(d), s"$d outlived its JVM")
    }
  }
}
