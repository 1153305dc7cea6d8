package graft.io

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Process-scoped state: scratch directories, every one registered for
  * recursive deletion in a JVM shutdown hook so runs leave no
  * `/tmp/graft-*` residue, call-scoped ones ([[scoped]]) deleted as soon
  * as their call returns, and [[once]], the engine's one result memo,
  * for stagings that several entry points read (first call builds,
  * later calls reuse, exit deletes).
  */
object TempDirs {

  private[io] val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  // Per-dir try/catch: one undeletable dir (e.g. a file Spark still holds
  // open at exit) must not kill the hook thread and leak the rest.
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    registered.iterator().asScala.foreach { p =>
      try deleteRecursively(p)
      catch { case e: Exception => System.err.println(s"[TempDirs] leak $p: $e") }
    }))

  /** Create and register a scratch directory (deleted on JVM exit). */
  def scratch(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p
  }

  /** Run `body` over a fresh scratch directory and delete it when the
    * body returns or throws, so a call leaves no directory and no
    * registration behind. A directory that cannot be deleted then stays
    * registered for the exit hook. The body must not return anything
    * that still reads the directory (a lazy frame over it). */
  def scoped[T](prefix: String)(body: Path => T): T = {
    val p = scratch(prefix)
    try body(p)
    finally
      try { deleteRecursively(p); registered.remove(p) }
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.iterator().asScala.foreach(deleteRecursively)
      finally children.close()
    }
    Files.deleteIfExists(p)
  }

  /** A per-key cell: `state` is 0 while unbuilt, 1 once `value` is set,
    * 2 after a failed build removed it from [[cells]]. */
  private final class Cell { var state = 0; var value: Any = _ }
  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** Run `build` once per `key` per JVM and return its result to every
    * caller. The map only hands out the key's cell; the build runs under
    * the cell's own lock, outside the map's bin lock, so a build may call
    * `once` on another key, and concurrent callers of the same key wait
    * for the one build. A build that throws is not cached: its cell is
    * dropped and the next call (including a caller that was waiting on
    * it) builds afresh. Keys must be unique per result type. */
  @annotation.tailrec
  def once[T](key: String)(build: => T): T = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    val built = cell.synchronized {
      if (cell.state == 0)
        try { cell.value = build; cell.state = 1 }
        catch { case e: Throwable =>
          cell.state = 2
          cells.remove(key, cell)
          throw e
        }
      cell.state == 1
    }
    if (built) cell.value.asInstanceOf[T] else once(key)(build)
  }
}
