package graft.tools

import graft.Tables
import graft.operators.Layouts
import org.apache.spark.sql.functions._

/** Dev-only: measure the z-order file-skipping ratio at an arbitrary scale
  * dir (the LayoutsSpec assertions run at sf0.001 with the 64-file floor;
  * this prints the production-shaped numbers on a replica).
  *
  * Usage: runMain graft.tools.ProbeZOrder <sfDir>
  */
object ProbeZOrder {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = Tables.sessionBuilder("local[32]", "32").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val base = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
      .withColumn("zx", pmod(col("l_partkey"), lit(256L)))
      .withColumn("zy", pmod(floor(col("l_extendedprice")), lit(256L)))
    val total = base.count()
    val nf = Layouts.zFilesFor(total)
    val rowsPerFile = math.max(1L, (total + nf - 1) / nf)
    val dir = graft.WarmState.deleteAtExit(
      java.nio.file.Files.createTempDirectory("graft_zprobe"))
    graft.sources.Sinks.writeCompacted(
      base.withColumn("zv", Layouts.zValue(col("zx"), col("zy"))),
      dir.toString, "zv", rowsPerFile, total)
    val (box, boxRead, boxTotal) =
      Layouts.zSkippingScan(s, dir.toString, 32, 47, 96, 111)
    val boxRows = box.count()
    val (band, bandRead, _) =
      Layouts.zSkippingScan(s, dir.toString, 0, 255, 96, 111)
    val bandRows = band.count()
    println(s"[zprobe] rows=$total files=$boxTotal " +
      s"box: read $boxRead/$boxTotal files -> $boxRows rows; " +
      s"y-band: read $bandRead/$boxTotal files -> $bandRows rows")
    s.stop()
  }
}
