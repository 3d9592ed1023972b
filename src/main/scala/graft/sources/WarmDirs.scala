package graft.sources

/** Recursive temp-dir delete: the release of every staged dir in
  * [[graft.WarmState]]. Refuses paths whose basename lacks the `graft_`
  * temp prefix — every staged dir is created via
  * `createTempDirectory("graft_…")`, so the guard turns a bookkeeping bug
  * into a no-op instead of an arbitrary-path delete.
  */
private[graft] object WarmDirs {
  def deleteRecursively(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (!p.getFileName.toString.startsWith("graft_")) return
    if (!java.nio.file.Files.exists(p)) return
    val st = java.nio.file.Files.walk(p)
    // best-effort: a vanished file mid-walk surfaces as IOException from
    // deleteIfExists OR UncheckedIOException from the walk iterator itself
    try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    catch {
      case _: java.io.IOException => ()
      case _: java.io.UncheckedIOException => ()
    }
    finally st.close()
  }
}
