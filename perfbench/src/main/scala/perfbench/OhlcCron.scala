package perfbench

import java.sql.Timestamp
import java.time.DayOfWeek

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{Incremental, ManifestTable, Orchestrator}

/** `ohlc_cron`: the paper's loop. A scheduler drives
  * [[Orchestrator.Pipeline]] one hourly tick at a time (closed loop: the
  * next tick starts when the previous one returns) over a generated trade
  * stream in which some trades arrive late. Each tick sees the trades that
  * have arrived by then, through a feed that also drops the bars of one
  * seeded [[Orchestrator.Outage]] until it heals.
  *
  * An untraced tick is the program's own `runTick`. A traced tick calls the
  * flows one by one in `runTick`'s serve order, each inside its own span;
  * the check phase then replays the schedule through `runTick` and fails
  * the run if it fired other flows.
  *
  * A cycle is the full tick schedule on a fresh sink root; it ends past
  * the end of the data, where every sink must equal the batch recompute.
  * Cycles repeat while the run has time left.
  */
object OhlcCron {
  val Flows = Seq("sync1m", "repair1m", "option_ohlc", "daily", "weekly", "monthly")
  private val Oracles = Seq(
    "bars_1m" -> "q_minute_ohlc", "option_ohlc" -> "q_hourly_ohlc",
    "daily_sessions" -> "q_daily_sessions", "weekly_sessions" -> "q_weekly_sessions",
    "monthly_sessions" -> "q_monthly_sessions")

  /** The generated trades with their arrival times, persisted. */
  def load(spark: SparkSession, inputs: String): DataFrame = {
    val arrivals = spark.read.parquet(s"$inputs/arrivals.parquet")
      .withColumnRenamed("event_id", "trade_id")
    val t = Tables.trades(spark, inputs).join(arrivals, "trade_id").persist()
    t.count()
    t
  }

  def run(ctx: Ctx, trades: DataFrame, ticks: Seq[Timestamp], outage: Orchestrator.Outage,
          seconds: Double): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    var rowsWritten, rowsUpdated = 0L
    var lastRoot = ""
    var fired = Seq.empty[Seq[String]]

    def pipeline(root: String, at: Timestamp) = tr.span("feed") {
      val visible = trades.filter(col("arrival_ts") <= lit(at)).drop("arrival_ts")
      new Orchestrator.Pipeline(spark,
        new Orchestrator.SimulatedFeed(visible, Some(outage)), root)
    }

    /** The due flows of one tick, each in its own span, in `runTick`'s
      * serve order; [[flowOrderCheck]] holds this copy to `runTick`.
      */
    def tracedTick(pipe: Orchestrator.Pipeline, at: Timestamp): Seq[Orchestrator.FlowRun] = {
      val local = at.toLocalDateTime
      val daily = local.getHour == 11
      val weekly = daily && local.getDayOfWeek == DayOfWeek.FRIDAY
      val monthly = weekly && Orchestrator.isLastFriday(local.toLocalDate)
      Seq(
        Some(tr.span("orch.sync1m")(pipe.sync1m(at))),
        tr.span("orch.repair1m")(pipe.repair1m(at)),
        Some(tr.span("orch.option_ohlc")(pipe.optionOhlc(at))),
        if (daily) tr.span("orch.daily")(pipe.dailyAgg(at)) else None,
        if (weekly) tr.span("orch.weekly")(pipe.weeklyAgg(at)) else None,
        if (monthly) tr.span("orch.monthly")(pipe.monthlyAgg(at)) else None).flatten
    }

    def tick(root: String, at: Timestamp): Seq[Orchestrator.FlowRun] = {
      val pipe = pipeline(root, at)
      val runs = if (tr.enabled) tracedTick(pipe, at) else pipe.runTick(at)
      runs.foreach { r =>
        rowsWritten += r.stats.written; rowsUpdated += r.stats.updated
      }
      runs
    }

    /** Replays the schedule through `runTick` on a fresh root: it must fire
      * the same flows, tick by tick, as the traced per-flow calls did.
      */
    def flowOrderCheck(): Check = {
      val root = s"${ctx.work}/replay"
      val want = ticks.map(t => pipeline(root, t).runTick(t).map(_.flow))
      Check("flow_order", fired == want,
        s"traced ${fired.map(_.mkString("+")).mkString(", ")}; " +
          s"runTick ${want.map(_.mkString("+")).mkString(", ")}")
    }

    // no warm-up: the first tick syncs the history into empty sinks, cold,
    // as it does for a newly deployed loop

    val setupDone = ctx.setupDone()
    var cycle = 0
    while (cycle == 0 || (System.nanoTime() - setupDone) / 1e9 < seconds) {
      val root = s"${ctx.work}/cycle$cycle"
      fired = tr.span("cycle") {
        ticks.map(t => ctx.op("tick", t.toString)(tick(root, t)).map(_.flow))
      }
      lastRoot = root
      cycle += 1
    }
    val measuredS = (System.nanoTime() - setupDone) / 1e9
    val measuredCpuS = ctx.cpuSinceSetupS()

    val pipe = new Orchestrator.Pipeline(spark,
      new Orchestrator.SimulatedFeed(trades, None), lastRoot)
    val sinkPaths = Map("bars_1m" -> pipe.bars1mPath, "option_ohlc" -> pipe.hourlyPath,
      "daily_sessions" -> pipe.dailyPath, "weekly_sessions" -> pipe.weeklyPath,
      "monthly_sessions" -> pipe.monthlyPath)
    var liveRows = 0L
    val checks = tr.span("check") {
      (if (tr.enabled) Seq(Harness.check("flow_order")(flowOrderCheck())) else Seq.empty) ++
      Oracles.map { case (sink, query) =>
        Harness.check(sink) {
          val want = tr.span(s"query.$query") {
            val df = SparkEntry.queries(query)(spark, ctx.inputs)
            df.persist()
            df.count()
            df
          }
          val path = sinkPaths(sink)
          val c =
            if (ManifestTable.currentVersion(spark, path).isEmpty)
              Check(sink, want.isEmpty, s"no sink; batch recompute has ${want.count()} rows")
            else {
              val got = Incremental.readSink(spark, path)
              liveRows += got.count()
              Harness.sameRows(sink, got, want)
            }
          want.unpersist()
          c
        }
      }
    }
    val sinkBytes = sinkPaths.values.toSeq.map { p =>
      if (ManifestTable.currentVersion(spark, p).isEmpty) 0L
      else Harness.bytesOf(spark,
        ManifestTable.liveFiles(spark, p).map(f => s"${ManifestTable.dataDir(p)}/$f"))
    }.sum
    trades.unpersist()

    val tickS = ctx.timed("tick")
    val named = Seq(
      ("ohlc_tick_p50_s", Harness.median(tickS), "s"),
      ("ohlc_tick_p95_s", Harness.quantile(tickS, 0.95), "s"),
      ("ohlc_ticks_per_min", tickS.size * 60.0 / measuredS, "1/min"))
    val overlap = if (rowsWritten == 0) 0.0 else rowsUpdated.toDouble / rowsWritten
    val layers =
      if (!tr.enabled) Seq.empty
      else Layers.common(tr) ++ Layers.shares(tr, "orch.", Flows) ++
        Layers.jobsPerCall(tr, "orch.", Flows) ++
        Layers.queries(tr, Oracles.map(_._2)) ++ Seq(
          ("orch.rows_written", rowsWritten.toDouble, "count"),
          ("orch.overlap_rewrite_ratio", overlap, "ratio"))
    Outcome(cycle, measuredS / cycle, measuredCpuS / cycle, named,
      if (liveRows == 0) Double.NaN else sinkBytes.toDouble / liveRows, checks, layers)
  }
}
