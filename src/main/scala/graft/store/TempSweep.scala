package graft.store

/** JVM-wide sweeper for harness-scoped temp state (ledgers, sinks,
  * write-once tables that default to a throwaway location). ONE
  * shutdown hook per JVM, however many temp dirs the session creates
  * — the per-call `sys.addShutdownHook` pattern this replaces
  * accumulated a hook (a live Thread each) per invocation, which on a
  * long-lived driver running thousands of calls is a slow leak in the
  * shutdown registry itself.
  *
  * Durable state deliberately does NOT go through here: callers that
  * pass an explicit `statePath`/`tablePath` own that location's
  * lifecycle (the production "index refresh cycle" overwrites it; the
  * harness default is a registered temp dir).
  */
private[graft] object TempSweep {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  // lazy val: the hook registers on first use, exactly once; the
  // queue is drained at JVM exit however many dirs joined after.
  private lazy val hookInstalled: Boolean = {
    sys.addShutdownHook {
      var f = dirs.poll()
      while (f != null) { rm(f); f = dirs.poll() }
    }
    true
  }

  /** Delete a file, or a directory and everything under it. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Create a temp directory swept at JVM exit. */
  def tempDir(prefix: String): java.io.File =
    register(java.nio.file.Files.createTempDirectory(prefix).toFile)

  /** Register an existing directory for the exit sweep. */
  def register(dir: java.io.File): java.io.File = {
    require(hookInstalled)
    dirs.add(dir)
    dir
  }
}
