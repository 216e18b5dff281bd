package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Local filesystem that counts listings of `_manifests` directories (the
  * manifest table's version lookup) and can run a one-shot hook just
  * before a chosen one — registered under the `listhook:` scheme via
  * `fs.listhook.impl = classOf[ListHookFs].getName`. Used to commit to a
  * store between two version lookups of one read, and to count the
  * lookups a read makes.
  */
class ListHookFs extends RawLocalFileSystem {
  override def getScheme: String = "listhook"
  override def getUri: URI = URI.create("listhook:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_manifests")
      ListHookFs.fire(ListHookFs.manifestListings.incrementAndGet())
    super.listStatus(f)
  }
}

object ListHookFs {
  val manifestListings = new AtomicInteger(0)
  private var hook: Option[(Int, () => Unit)] = None

  /** Run `body` once, just before the `n`th `_manifests` listing from now. */
  def before(n: Int)(body: => Unit): Unit = synchronized {
    hook = Some((manifestListings.get + n, () => body))
  }

  /** Run the hook now if it has not run yet. */
  def runPending(): Unit = take(_ => true).foreach(_())

  private def fire(n: Int): Unit = take(_ == n).foreach(_())

  private def take(due: Int => Boolean): Option[() => Unit] = synchronized {
    val h = hook.filter(h => due(h._1)).map(_._2)
    if (h.nonEmpty) hook = None
    h
  }
}
