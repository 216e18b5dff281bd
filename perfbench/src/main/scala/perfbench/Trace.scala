package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The local filesystem with per-call counters. A traced run installs it as
  * `fs.file.impl`, so every Hadoop call the program, Spark's writers and
  * the executors make through `file:` paths is counted in-process.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val reads, writes, lists = new AtomicLong()

  /** (read ops, write ops, list ops, bytes written), process-wide. */
  def snapshot(): Array[Long] = {
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesWritten).sum
    Array(reads.get, writes.get, lists.get, written)
  }
}

/** Spark counters of one span: jobs, stages, tasks, task time and bytes. */
final class SparkCounts {
  var jobs, stages, tasks, taskMs, shuffleWrite, input, spill = 0L
  def +=(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; input += o.input; spill += o.spill
  }
}

/** Attributes every job, stage and task to the span that was innermost
  * when its job was submitted, through a job-local property the tracer
  * sets on the driver thread.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val counts = new ConcurrentHashMap[Int, SparkCounts]()
  private def of(span: Int): SparkCounts = counts.computeIfAbsent(span, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).synchronized { of(span).jobs += 1 }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    c.synchronized { c.stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      if (m != null) {
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.input += m.inputMetrics.bytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** One traced interval. `self` counters exclude those of child spans. */
final class Span(val id: Int, val name: String, val parent: Int) {
  var startNs, endNs = 0L
  var childNs = 0L
  var failed = false
  var fsOpen: Array[Long] = Array.empty
  var fsIncl: Array[Long] = Array.fill(4)(0L)
  var fsChildren: Array[Long] = Array.fill(4)(0L)
  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
  def fsSelf: Array[Long] = fsIncl.zip(fsChildren).map { case (a, b) => a - b }
}

/** In-memory span recorder. Disabled, it only runs the body. Enabled, each
  * span records its interval, parent and filesystem counters, and tags the
  * Spark jobs it submits; everything is written out once, at the end.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val listener = new SpanListener
  /** Driver-thread time spent in the tracer's own bookkeeping. */
  var overheadNs = 0L
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1))
      spans += s
      stack.push(s)
      s.fsOpen = CountingLocalFs.snapshot()
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      s.startNs = System.nanoTime()
      overheadNs += s.startNs - t0
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        s.endNs = System.nanoTime()
        s.failed = !ok
        s.fsIncl = CountingLocalFs.snapshot().zip(s.fsOpen).map { case (a, b) => a - b }
        stack.pop()
        parent.foreach { p =>
          p.childNs += s.endNs - s.startNs
          p.fsChildren = p.fsChildren.zip(s.fsIncl).map { case (a, b) => a + b }
        }
        sc.setLocalProperty(Tracer.SpanKey, parent.map(_.id.toString).orNull)
        overheadNs += System.nanoTime() - s.endNs
      }
    }

  /** Self Spark counters of a span (jobs submitted while it was innermost). */
  def spark(id: Int): SparkCounts =
    Option(listener.counts.get(id)).getOrElse(new SparkCounts)

  /** Waits until every Spark event of the run has reached the listener. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
