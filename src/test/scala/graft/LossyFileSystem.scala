package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path

/** Local-disk FileSystem under the `lossy://` scheme that silently
  * loses output: while [[LossyFileSystem.dropOnePartOf]] names a
  * directory, the first `part-` file a commit renames into that
  * directory is deleted instead and the rename still reports success —
  * the shape of a sink that acknowledges a write it did not keep.
  * Statuses are materialized as in [[FakeS3FileSystem]]. Instantiated
  * by Hadoop via reflection from the `fs.lossy.impl` conf key. */
class LossyFileSystem extends FakeS3FileSystem {
  override def getUri: URI = URI.create("lossy:///")
  override def getScheme: String = "lossy"

  override def rename(src: Path, dst: Path): Boolean = {
    val victim = LossyFileSystem.victim.get
    if (victim != null && dst.getName.startsWith("part-") &&
        dst.getParent.getName == victim && getFileStatus(src).isFile &&
        LossyFileSystem.victim.compareAndSet(victim, null)) {
      delete(src, false)
    } else super.rename(src, dst)
  }
}

object LossyFileSystem {
  private val victim = new AtomicReference[String](null)

  /** Arms the loss of one part file committed into a directory named
    * `dirName` (e.g. `fact_claims.parquet`); it fires once. */
  def dropOnePartOf(dirName: String): Unit = victim.set(dirName)

  /** True once the armed loss has happened (or none was armed). */
  def dropped: Boolean = victim.get == null

  def disarm(): Unit = victim.set(null)
}
