package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch dirs for a suite: each [[tempDir]] is made under
  * java.io.tmpdir and deleted, with all it holds, after the suite's
  * last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try dirs.forEach(d => scala.reflect.io.Directory(d.toFile).deleteRecursively())
    finally super.afterAll()
}
