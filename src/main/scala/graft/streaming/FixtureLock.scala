package graft.streaming

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

/** Build-at-most-once guard for materialized fixtures/stores, safe across
  * THREADS and PROCESSES: the `_DONE`-marker check alone is a TOCTOU —
  * two JVMs (e.g. a bench and a verify run sharing the fixture cache)
  * can both observe "not built" and stream into the SAME store/checkpoint
  * concurrently, leaving doubled rows behind a valid marker (observed
  * once on the sf0.001 hourly-stream fixture under exactly that race).
  *
  * Protocol: per-path JVM monitor (threads) → `_LOCK` file OS lock
  * (processes) → re-check `_DONE` under the lock → build → write
  * `_DONE`. A crashed builder releases the OS lock automatically and
  * leaves no marker, so the next caller rebuilds.
  */
object FixtureLock {

  private val jvmLocks = new ConcurrentHashMap[String, Object]()

  /** Where a materialized fixture lives: `<lake>/<sf key>/<name>`, the
    * lake being `$SPARK_GRAFT_LAKE_DIR` (default
    * `<java.io.tmpdir>/graft_fixture_lake`) and the sf key `sfDir` with
    * every byte outside `[A-Za-z0-9.]` replaced by `_` — one cache subtree
    * per scale-factor directory.
    * Version the `name` (`…_v2`) when a fixture's layout changes, so a
    * stale cache is never read as the new layout.
    */
  def root(sfDir: String, name: String): Path =
    rootUnder(sys.env.get("SPARK_GRAFT_LAKE_DIR"), sfDir, name)

  private[streaming] def rootUnder(lakeDir: Option[String], sfDir: String,
      name: String): Path = {
    val base = lakeDir.getOrElse(
      System.getProperty("java.io.tmpdir") + "/graft_fixture_lake")
    Paths.get(s"$base/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/$name")
  }

  /** One monitor per FILESYSTEM location, not per path spelling: two
    * callers naming the same fixture relatively vs absolutely must take
    * the same monitor, or both reach `FileChannel.lock` on one file in
    * one JVM and the second throws OverlappingFileLockException instead
    * of waiting.
    */
  private def monitor(root: Path): Object =
    jvmLocks.computeIfAbsent(root.toAbsolutePath.normalize.toString,
      _ => new Object)

  /** Run `work` exclusively (threads + processes) for `root`, with no
    * marker management — for builders that stage their own markers or
    * run post-build cleanup that must also be serialized.
    */
  def exclusively(root: Path)(work: => Unit): Unit = {
    monitor(root).synchronized {
      Files.createDirectories(root)
      val ch = FileChannel.open(root.resolve("_LOCK"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try work finally fl.release()
      } finally ch.close()
    }
  }

  /** Run `build` unless `root/_DONE` exists; on success write the marker.
    * Exclusive across threads and processes for a given `root`.
    */
  def once(root: Path)(build: => Unit): Unit = {
    monitor(root).synchronized {
      val done = root.resolve("_DONE")
      if (!Files.exists(done)) {
        Files.createDirectories(root)
        val ch = FileChannel.open(root.resolve("_LOCK"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val fl = ch.lock() // blocks until a concurrent builder finishes
          try {
            if (!Files.exists(done)) {
              build
              Files.createFile(done)
            }
          } finally fl.release()
        } finally ch.close()
      }
    }
  }
}
