package graft.streaming

import java.nio.file.{Files, Path}

/** Temp-dir staging for the local streaming harnesses.
  *
  * `File.deleteOnExit()` silently skips non-empty directories, and every
  * staging/state dir here is FULL of parquet by the time the JVM exits —
  * so the old per-site `createTempDirectory(...).toFile.deleteOnExit()`
  * leaked each run's state on disk. One shared shutdown hook walks each
  * registered tree depth-first instead. Deletion happens at JVM exit (not
  * in a finally) because the frames these functions RETURN are lazy reads
  * over the staged parquet — the caller materializes them after the
  * function returns.
  *
  * Cluster note: these dirs only exist in the local harness (a real
  * deployment streams a landing directory / Kafka and keeps state in a
  * real table); nothing here is on a 100 TB code path.
  */
object TempDirs {

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach(p => deleteRecursively(p))
    }, "graft-tempdir-cleanup"))

  /** Delete `p` and everything under it; a missing path is a no-op. */
  private[streaming] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      // reverse-sorted walk = children before parents
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try it.forEach(f => { val _ = f.toFile.delete() })
      finally it.close()
    }

  /** Create a temp directory that is recursively deleted at JVM exit. */
  def create(prefix: String): Path = {
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p
  }
}
