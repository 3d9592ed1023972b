package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Child-JVM half of [[WarmStateSpec]]'s release rows: what happens to
  * registered state when a session stops and when the JVM exits can only be
  * seen from outside a JVM whose one SparkContext is free to stop.
  *
  * Stages a nested dir keyed on a `newSession()`, stops the context, stages
  * a second nested dir keyed on a fresh session and reports whether the
  * first survived that call. Then it exits with the fresh session still
  * running, leaving both the session and the second dir to the shutdown
  * hooks, and with the two sessions' warehouse dirs still on disk. Prints
  * `key=value` lines for the parent test to read.
  */
object WarmStateChild {
  private def nested(dir: Path): Unit = {
    Files.createDirectories(dir.resolve("a/b"))
    Files.writeString(dir.resolve("a/b/part.txt"), "x")
    ()
  }

  private def warehouse(s: SparkSession): String =
    new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")).toUri.getPath

  def main(args: Array[String]): Unit = {
    val first = Tables.sessionBuilder("local[1]", "1").getOrCreate()
    val stopped = WarmState.stagedDir(("warmstate_child_stopped", first.newSession()))(nested)
    println(s"staged=${Files.exists(java.nio.file.Paths.get(stopped, "a/b/part.txt"))}")
    println(s"warehouse_first=${warehouse(first)}")
    first.stop()
    val live = Tables.sessionBuilder("local[1]", "1").getOrCreate()
    val atExit = WarmState.stagedDir(("warmstate_child_exit", live))(nested)
    println(s"stopped_kept=${Files.exists(java.nio.file.Paths.get(stopped))}")
    println(s"exit_dir=$atExit")
    println(s"warehouse_live=${warehouse(live)}")
  }
}
