package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a suite makes, deleted with all they hold once the suite has
  * run.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A new empty temp dir whose name starts with `prefix`. */
  protected def tempDir(prefix: String): Path = track(Files.createTempDirectory(prefix))

  /** Delete `dir` once the suite has run. */
  protected def track(dir: Path): Path = { dirs.add(dir); dir }

  override def afterAll(): Unit =
    try dirs.forEach(d => graft.pipeline.TableIO.deleteRecursively(d))
    finally super.afterAll()
}
