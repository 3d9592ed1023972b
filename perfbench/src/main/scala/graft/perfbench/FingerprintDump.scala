package graft.perfbench

import graft.{Bench, Tables}

/** Fingerprints of the result tables `graft.Verify` writes, computed with
  * the same [[Fingerprint]] a benchmark run attaches to each face, so the
  * stored expectations can be cross-checked against the DuckDB oracle that
  * `tools/check.py` runs over the same tables. Prints one JSON object.
  *
  * Usage: graft.perfbench.FingerprintDump <verify-out-dir> <face,face,...>
  */
object FingerprintDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, faces) = args
    val spark = Tables.sessionBuilder("local[2]", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fps = faces.split(",").toSeq.filter(f => new java.io.File(s"$dir/$f").isDirectory)
      .map { f =>
        val df = spark.read.parquet(s"$dir/$f")
        val cols = Fingerprint.metrics(df)
        val r = df.agg(cols.head, cols.tail: _*).head()
        Bench.jsonString(f) + ":" + Bench.jsonString(Fingerprint.render(r.getLong(0), r.get(1)))
      }
    println(fps.mkString("{", ",", "}"))
    spark.stop()
  }
}
