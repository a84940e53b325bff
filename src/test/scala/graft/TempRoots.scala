package graft

import graft.spark.StoreFs
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Local store roots a suite makes and deletes: `tempRoot` roots live
  * until the suite ends, `withRoot` roots until the body returns. */
trait TempRoots extends BeforeAndAfterAll { this: Suite =>
  private val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  protected def tempRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    roots.add(root)
    root
  }

  protected def withRoot[A](prefix: String)(body: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(root) finally StoreFs.deleteTree(root)
  }

  override protected def afterAll(): Unit =
    try roots.forEach(r => StoreFs.deleteTree(r)) finally super.afterAll()
}
