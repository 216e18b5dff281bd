package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a closed loop: timed when it succeeded, named when not. */
final case class Op(kind: String, label: String, wallS: Double, error: Option[String])

/** An output check and its verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Raised to stop a cycle after an operation failed; the loop's state is
  * then unknown, so nothing after it is timed.
  */
final class OpFailed(val op: Op) extends RuntimeException(op.error.getOrElse(""))

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    cycles: Int,
    cycleS: Double,
    cycleCpuS: Double,
    named: Seq[(String, Double, String)],
    bytesPerRow: Double,
    checks: Seq[Check],
    layers: Seq[(String, Double, String)])

final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val inputs: String, val work: String) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var setupDoneNs, setupDoneMs, setupDoneCpuNs = 0L

  /** Marks the end of set-up: the next operation is the first timed one. */
  def setupDone(): Long = {
    setupDoneMs = System.currentTimeMillis()
    setupDoneCpuNs = Harness.processCpuNs()
    setupDoneNs = System.nanoTime()
    setupDoneNs
  }

  /** CPU seconds of the whole process (every thread) since set-up ended. */
  def cpuSinceSetupS(): Double = (Harness.processCpuNs() - setupDoneCpuNs) / 1e9

  /** Runs and times one loop operation inside its own span. A failure is
    * recorded with its error and rethrown as [[OpFailed]]; it never enters
    * the timing samples.
    */
  def op[A](kind: String, label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind)(body)
      ops += Op(kind, label, (System.nanoTime() - t0) / 1e9, None)
      r
    } catch {
      case NonFatal(e) =>
        val o = Op(kind, label, Double.NaN,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        ops += o
        throw new OpFailed(o)
    }
  }

  def timed(kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && o.error.isEmpty).map(_.wallS).toSeq
}

object Harness {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the JVM process, all threads, user and system. */
  def processCpuNs(): Long = os.getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Multiset equality of two small frames, compared on the driver: the
    * same rows, each as often, in any order (`exceptAll` both ways without
    * the shuffles).
    */
  def sameRows(name: String, got: DataFrame, want: DataFrame): Check = {
    val cols = want.columns.toSeq
    def counts(df: DataFrame): Map[Row, Int] =
      df.select(cols.map(df.col): _*).collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
    val (g, w) = (counts(got), counts(want))
    val missing = w.map { case (r, n) => math.max(0, n - g.getOrElse(r, 0)) }.sum
    val extra = g.map { case (r, n) => math.max(0, n - w.getOrElse(r, 0)) }.sum
    Check(name, missing == 0 && extra == 0,
      s"${w.values.sum} expected rows, $missing missing, $extra extra")
  }

  /** Runs a check, turning an exception into a failed verdict. */
  def check(name: String)(body: => Check): Check =
    try body
    catch { case NonFatal(e) => Check(name, ok = false, s"check raised $e") }

  /** Total bytes of the given files. */
  def bytesOf(spark: SparkSession, paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).getFileStatus(path).getLen
    }.sum
  }

  /** Bytes of every file under a directory tree. */
  def treeBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty).map(c => treeBytes(c.getPath)).sum
  }
}
