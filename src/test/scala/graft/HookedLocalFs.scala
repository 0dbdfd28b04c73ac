package graft

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local filesystem under the `hooked:` scheme, with a one-shot
  * hook on directory listings: specs use it to run a step (a commit,
  * say) between two listings a read makes, which no other seam
  * reaches. Register it with
  * `hadoopConfiguration.set("fs.hooked.impl", classOf[HookedLocalFs].getName)`
  * and address the store as `hooked://<absolute path>`. */
class HookedLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hooked:///")
  override def getScheme: String = "hooked"

  override def listStatus(p: Path): Array[FileStatus] = {
    HookedLocalFs.before(p)
    super.listStatus(p)
  }
}

object HookedLocalFs {
  @volatile private var hook: Option[(String, Int, () => Unit)] = None
  private val seen = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs `step` once, just before the `nth` listing (from 1) of a
    * directory named `dirName`, counted from now. */
  def arm(dirName: String, nth: Int)(step: => Unit): Unit = {
    seen.set(0)
    hook = Some((dirName, nth, () => step))
  }

  /** Whether the armed step has run (or nothing was armed). */
  def fired: Boolean = hook.isEmpty

  def disarm(): Unit = hook = None

  private def before(p: Path): Unit = hook.foreach { case (name, nth, step) =>
    if (p.getName == name && seen.incrementAndGet() == nth) {
      hook = None
      step()
    }
  }
}
