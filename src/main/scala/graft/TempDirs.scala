package graft

import java.io.{File, IOException, UncheckedIOException}
import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** Scratch directories that live until the JVM exits, then are deleted with
  * everything in them. `File.deleteOnExit` cannot do this: it skips a
  * non-empty directory. Frames built over these directories read them
  * lazily, so nothing is deleted earlier. As with Spark's own temp dirs, one
  * shutdown hook deletes them, ordered after Spark's hooks have stopped the
  * session and before Hadoop closes its file systems.
  */
object TempDirs {
  private val dirs = ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit = ShutdownHookManager.get().addShutdownHook(
    () => dirs.forEach(d => deleteRecursively(d)),
    FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  /** A new directory under `java.io.tmpdir`, deleted at JVM exit. */
  def create(prefix: String): File = {
    hook
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toFile
  }

  private def deleteRecursively(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch { case _: IOException | _: UncheckedIOException => () }
}
