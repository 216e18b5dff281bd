package perfbench

/** Per-layer metrics of a traced run, computed from its spans. Timed
  * operations are the children of `cycle` spans; set-up and check spans
  * never enter these numbers, except the `query.*` ones, which run in the
  * check phase.
  */
object Layers {
  type Metric = (String, Double, String)

  private def children(tr: Tracer): Map[Int, Seq[Span]] =
    tr.spans.toSeq.groupBy(_.parent)

  private def subtree(tr: Tracer, root: Span): Seq[Span] = {
    val kids = children(tr)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Seq.empty).flatMap(go)
    go(root)
  }

  private def sparkOf(tr: Tracer, root: Span): SparkCounts = {
    val c = new SparkCounts
    subtree(tr, root).foreach(s => c += tr.spark(s.id))
    c
  }

  def timedOps(tr: Tracer): Seq[Span] = {
    val cycles = tr.spans.filter(_.name == "cycle").map(_.id).toSet
    tr.spans.filter(s => cycles.contains(s.parent)).toSeq
  }

  /** Spans with this name inside timed operations. */
  private def inOps(tr: Tracer, name: String): Seq[Span] =
    timedOps(tr).flatMap(subtree(tr, _)).filter(_.name == name)

  /** Spark engine, filesystem and tracing numbers, per timed operation. */
  def common(tr: Tracer): Seq[Metric] = {
    val ops = timedOps(tr)
    val n = ops.size.toDouble
    val wall = ops.map(_.wallS).sum
    val sc = new SparkCounts
    ops.foreach(o => sc += sparkOf(tr, o))
    val fs = ops.map(_.fsIncl).transpose.map(_.sum)
    Seq(
      ("spark.jobs", sc.jobs / n, "count"),
      ("spark.stages", sc.stages / n, "count"),
      ("spark.tasks", sc.tasks / n, "count"),
      ("spark.task_s_over_wall", sc.taskMs / 1000.0 / wall, "ratio"),
      ("spark.shuffle_write_bytes", sc.shuffleWrite / n, "B"),
      ("spark.input_bytes", sc.input / n, "B"),
      ("spark.spill_bytes", sc.spill / n, "B"),
      ("fs.read_ops", fs(0) / n, "count"),
      ("fs.write_ops", fs(1) / n, "count"),
      ("fs.list_ops", fs(2) / n, "count"),
      ("fs.bytes_written", fs(3) / n, "B"),
      ("trace.untraced_share", ops.map(_.selfS).sum / wall, "ratio"),
      ("trace.overhead_s", tr.overheadNs / 1e9, "s"))
  }

  /** Each layer span's share of the timed operations' wall time. */
  def shares(tr: Tracer, prefix: String, names: Seq[String]): Seq[Metric] = {
    val wall = timedOps(tr).map(_.wallS).sum
    names.map(n => (s"$prefix${n}_share", inOps(tr, prefix + n).map(_.wallS).sum / wall, "ratio"))
  }

  /** Spark jobs per call of each layer span (0 when it never ran). */
  def jobsPerCall(tr: Tracer, prefix: String, names: Seq[String]): Seq[Metric] =
    names.map { n =>
      val calls = inOps(tr, prefix + n)
      val jobs = calls.map(sparkOf(tr, _).jobs).sum
      (s"$prefix$n.jobs", if (calls.isEmpty) 0.0 else jobs.toDouble / calls.size, "count")
    }

  /** Share of check-phase query time, jobs and shuffle bytes per query. */
  def queries(tr: Tracer, names: Seq[String]): Seq[Metric] = {
    val spans = names.map(q => q -> tr.spans.find(_.name == s"query.$q")).toMap
    val total = spans.values.flatten.map(_.wallS).sum
    names.flatMap { q =>
      val s = spans(q)
      val c = s.map(sparkOf(tr, _)).getOrElse(new SparkCounts)
      Seq((s"query.${q}_share", s.map(_.wallS / total).getOrElse(0.0), "ratio"),
        (s"query.$q.jobs", c.jobs.toDouble, "count"),
        (s"query.$q.shuffle_bytes", c.shuffleWrite.toDouble, "B"))
    }
  }
}
