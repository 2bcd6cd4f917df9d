package graft

/** Process-private registry of the temp directories queries create per
  * plan build: lake roots, staged stream sources and drain sinks, index
  * dirs, PDF gate copies, CSV/ORC/JSONL round trips, compaction, zorder
  * and store lifecycle dirs. Every `Files.createTempDirectory` in the
  * engine goes through [[create]]; the exceptions are
  * `Curation.gateLakeRoot` (a session memo, deleted by a shutdown hook)
  * and the REPL's work dir. Every timed bench lane sweeps between
  * passes — 5 runs per query would otherwise leave 5 copies each — but
  * a prefix+mtime scan over the SHARED java.io.tmpdir deletes other
  * graft JVMs' live dirs too (an sbt test run's lake roots, a
  * concurrent Verify's gate copies). Registering each created path here
  * scopes the sweep to exactly what THIS process created.
  */
object TmpDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** `Files.createTempDirectory(prefix)` + register for [[sweepCreated]]. */
  def create(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    created.add(p)
    p
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Delete every dir this JVM registered via [[create]] and forget it.
    * Only the bench lanes call it: outside them nothing drains the
    * queue, which costs one Path reference per plan build, and the dirs
    * stay until the caller removes them.
    */
  def sweepCreated(): Unit = {
    var p = created.poll()
    while (p != null) {
      deleteRecursively(p.toFile)
      p = created.poll()
    }
  }
}
