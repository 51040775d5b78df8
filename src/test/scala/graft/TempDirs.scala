package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Spec fixture: temporary directories that the suite deletes in
  * `afterAll`, so a test run leaves nothing under the temp root.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = ArrayBuffer.empty[Path]

  /** A fresh directory under the temp root, deleted after the suite. */
  protected def tempDirectory(prefix: String): Path = made.synchronized {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir
  }

  override protected def afterAll(): Unit =
    try made.synchronized(made.foreach(d => FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
}
