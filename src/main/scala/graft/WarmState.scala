package graft

import org.apache.spark.sql.SparkSession

/** The one registry of in-JVM warm state: every stage-once dataset memo and
  * every fitted-model memo lives here, under a key its call site chooses.
  *
  * What may be registered: state a face derives from its dataset and may
  * reuse while the session lives — staged landings and fixture layouts
  * (temp dirs, stream checkpoints and settled targets inside them),
  * bucketed catalog tables, embedded-Derby federation dbs, trained IVF/PQ
  * models, corpus counts and per-dataset sizing constants. Only
  * RE-DERIVABLE state qualifies: the memo amortizes a cost and never
  * changes an answer, so a rebuild after a release yields the same result
  * (training is order-deterministic, so a re-trained model is
  * bit-identical) and only the cost is paid again. Constants derived from
  * nothing but code (`Similarity.planeMatrix`) stay outside: they have no
  * cost worth re-paying.
  *
  * Keys are tuples whose first element names the state. A key that holds a
  * [[SparkSession]] scopes the entry to that session's context; one that
  * does not (the stream landings) is shared by every session over the
  * dataset. The registry stamps no bench phase: each build closure stamps
  * its own (`staging`, `model_train`, `p_layout_build`).
  *
  * An entry is released — its `release` run, then forgotten — in three
  * ways:
  *  - [[resetForColdRerun]] releases every entry, so a rerun re-stages,
  *    replays and re-trains inside its own timed window (Bench before each
  *    retry, perfbench before each pass). Verify never calls it: its
  *    per-query runs legitimately share staging.
  *  - the next [[once]] releases every entry keyed on a session whose
  *    context has stopped (a Derby db is a full in-heap copy of its slice,
  *    and a dead session can never hit its key again);
  *  - JVM exit releases what is left, after Spark's own shutdown hook has
  *    stopped the session, so no staged dir outlives the process.
  *
  * A dir that must live as long as the JVM, whatever the resets (a
  * session's warehouse), is handed to [[deleteAtExit]] instead.
  */
object WarmState {

  private final class Entry(val value: Any, val release: () => Unit)

  private val entries = scala.collection.concurrent.TrieMap.empty[Product, Entry]

  /** Runs after Spark's shutdown hook (Hadoop priority 40) and before
    * Hadoop closes its cached filesystems (10). */
  private val ExitPriority = 20
  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
    resetForColdRerun()
    exitDirs.forEach(graft.sources.WarmDirs.deleteRecursively)
  }, ExitPriority)

  /** `dir`, deleted with everything in it at JVM exit and not before: no
    * reset releases it. Must carry the `graft_` temp prefix. */
  def deleteAtExit(dir: java.nio.file.Path): java.nio.file.Path = {
    exitDirs.add(dir.toString)
    dir
  }

  /** The value registered under `key`, built by `build` on the key's first
    * call; `release` frees it when the entry is released. Two threads racing
    * a first call may both build; the first registration wins and the
    * loser's value is released at once.
    */
  def once[T](key: Product)(build: => T)(release: T => Unit): T = {
    releaseStopped()
    entries.get(key) match {
      case Some(e) => e.value.asInstanceOf[T]
      case None =>
        val v = build
        entries.putIfAbsent(key, new Entry(v, () => release(v))) match {
          case Some(won) => release(v); won.value.asInstanceOf[T]
          case None => v
        }
    }
  }

  /** The value registered under `key`, if any, without building it. */
  def peek[T](key: Product): Option[T] = entries.get(key).map(_.value.asInstanceOf[T])

  /** A temp dir `graft_<key._1>…`, created and filled by `build` on the
    * key's first call and deleted with everything in it on release. A
    * failed build deletes its dir before rethrowing.
    */
  def stagedDir(key: Product)(build: java.nio.file.Path => Unit): String =
    once(key) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_${key.productElement(0)}")
      try build(dir)
      catch { case t: Throwable => graft.sources.WarmDirs.deleteRecursively(dir.toString); throw t }
      dir.toString
    }(graft.sources.WarmDirs.deleteRecursively)

  /** Release every entry. */
  def resetForColdRerun(): Unit =
    entries.keys.foreach(k => entries.remove(k).foreach(_.release()))

  private def releaseStopped(): Unit =
    entries.keys.foreach { k =>
      if (k.productIterator.exists {
        case s: SparkSession => s.sparkContext.isStopped
        case _ => false
      }) entries.remove(k).foreach(_.release())
    }
}
