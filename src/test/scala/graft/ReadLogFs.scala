package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.TaskContext

/** Local filesystem that records every `open()` with the Spark job
  * description of the task that made it (null on the driver) —
  * registered under the `readlog:` scheme via
  * `fs.readlog.impl = classOf[ReadLogFs].getName`. Used to assert which
  * store files a labelled phase's tasks actually read.
  */
class ReadLogFs extends RawLocalFileSystem {
  override def getScheme: String = "readlog"
  override def getUri: URI = URI.create("readlog:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val desc = Option(TaskContext.get())
      .map(_.getLocalProperty("spark.job.description")).orNull
    ReadLogFs.opens.add(desc -> f.toString)
    super.open(f, bufferSize)
  }
}

object ReadLogFs {
  /** (job description, opened path) per `open()`. */
  val opens = new ConcurrentLinkedQueue[(String, String)]()
}
