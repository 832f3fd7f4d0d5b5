package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories under `target/` that live as long as the suite:
  * every one `tmpDir` makes is deleted, recursively, after the suite's
  * last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  protected def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(
      Paths.get("target").toAbsolutePath, prefix)
    made.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try made.forEach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.delete(p))
        finally walk.close()
      }
    }
    finally super.afterAll()
}
