package graft

/** Owner of every temp directory the engine creates: lake roots, staged
  * stream sources and drain sinks, index dirs, PDF gate copies,
  * CSV/ORC/JSONL round trips, compaction, zorder and store lifecycle
  * dirs, and the release gate's session-held lake root. Every
  * `Files.createTempDirectory` in the engine goes through [[create]];
  * the one exception is the REPL's work dir, which outlives the JVM on
  * purpose.
  *
  * Two lifetimes:
  *  - plan-build dirs ([[create]]): every timed bench lane calls
  *    [[sweepCreated]] between passes — 5 runs per query would
  *    otherwise leave 5 copies each;
  *  - session-held dirs (`create(prefix, held = true)`): read by a
  *    [[SessionMemo]] for the session's lifetime, so no sweep reclaims
  *    them.
  * One JVM shutdown hook deletes every dir of either kind that is still
  * registered, so a `graft.Verify` run or a test run leaves none behind.
  * Registration scopes both the sweep and the hook to exactly what THIS
  * process created: a prefix+mtime scan over the SHARED java.io.tmpdir
  * would delete other graft JVMs' live dirs too (an sbt test run's lake
  * roots, a concurrent Verify's gate copies).
  */
object TmpDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val held = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    sweepCreated()
    held.forEach(p => deleteRecursively(p.toFile))
  }))

  /** `Files.createTempDirectory(prefix)`, registered for [[sweepCreated]]
    * (or, when `held`, only for the exit hook).
    */
  def create(prefix: String, held: Boolean = false): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    (if (held) this.held else created).add(p)
    p
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Delete every plan-build dir this JVM registered and forget it. The
    * bench lanes call it between passes; the exit hook calls it last.
    */
  def sweepCreated(): Unit = {
    var p = created.poll()
    while (p != null) {
      deleteRecursively(p.toFile)
      p = created.poll()
    }
  }
}
