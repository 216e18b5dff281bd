package graft.operators

import java.sql.Timestamp
import java.time.{DayOfWeek, LocalDate}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic orchestration driver mirroring the reference's nine Prefect
  * deployments and their dependency order
  * (`/root/reference/src/pipeline/flows/main.py:48-154`):
  *
  *  | flow                | reference cron          | here                     |
  *  |---------------------|-------------------------|--------------------------|
  *  | 1m bar sync         | every 5 s                  | every tick               |
  *  | 1m gap repair       | `30 * * * *`               | every tick, after sync   |
  *  | hourly OHLC sync    | every 5 min + hourly :05   | every tick (option flow) |
  *  | daily sessions      | `0 11 * * *`               | ticks with hour == 11    |
  *  | weekly sessions     | `0 11 * * 5`               | Friday-11 ticks          |
  *  | monthly sessions    | `0 11 * * 5` + check       | [[isLastFriday]] inside  |
  *
  * The simulator compresses cadence (a test drives hours or days per tick)
  * but keeps the reference's ORDERING invariants: collection before
  * aggregation within a tick, daily before weekly before monthly at 11:00
  * (the `serve(...)` order, `main.py:144-154`), and the "cron can't say
  * last Friday — run every Friday and check inside" workaround
  * (`main.py:108-115`) reproduced verbatim as [[isLastFriday]].
  *
  * Every flow is one of the library's existing operators pointed at a
  * [[ManifestTable]] sink — [[Incremental.syncTick]] (watermark + overlap +
  * LWW upsert), [[Incremental.backfill]] (gap repair and session
  * recompute-upserts), [[Maintenance.gapDetect]] → range refetch. The loop
  * CONVERGES: once ticks pass the end of the data, every sink equals the
  * all-at-once batch recompute (asserted by `OrchestratorSpec`), which is
  * the property that makes a 1000-executor deployment of this loop safe to
  * re-run, crash, and resume at any point.
  */
object Orchestrator {

  /** A feed outage: bars with open-time in `[startMs, endMs)` are missing
    * from every response until `healedAt` (the exchange backfills late) —
    * the failure mode the reference's gap-repair deployment exists for
    * (`collectors/binance_1m.py:404-507`). The sync's watermark advances
    * PAST the hole while it lasts, so only gap repair can fill it.
    */
  final case class Outage(start: Timestamp, end: Timestamp, healedAt: Timestamp)

  /** The simulated exchange: serves COMPLETE bars derived from the trade
    * stream as visible at `asOf` (the API aggregates server-side; partial
    * edge bars get re-served complete on the next fetch and replaced by
    * LWW), minus any active [[Outage]] hole.
    */
  final class SimulatedFeed(trades: DataFrame, outage: Option[Outage] = None) {
    private def visible(asOf: Timestamp): DataFrame =
      trades.filter(col("timestamp") <= lit(asOf))

    def bars1m(asOf: Timestamp): DataFrame = {
      val bars = Ohlc.minuteOhlc(visible(asOf))
      outage match {
        case Some(o) if asOf.before(o.healedAt) =>
          bars.filter(!(col("minute_ts") >= lit(o.start) && col("minute_ts") < lit(o.end)))
        case _ => bars
      }
    }

    def hourlyBars(asOf: Timestamp): DataFrame = Ohlc.hourlyOhlc(visible(asOf))
  }

  /** Per-flow outcome, named after the reference deployment. */
  final case class FlowRun(flow: String, at: Timestamp, stats: Incremental.SyncStats)

  /** "Cron doesn't support 'last Friday', so we run every Friday and check
    * inside" (`main.py:108-115`): the check.
    */
  def isLastFriday(d: LocalDate): Boolean =
    d.getDayOfWeek == DayOfWeek.FRIDAY && d.plusDays(7).getMonthValue != d.getMonthValue

  final class Pipeline(spark: SparkSession, feed: SimulatedFeed, root: String,
                       gapThresholdMin: Int = 120,
                       repairHorizonDays: Int = 7) {
    val bars1mPath = s"$root/bars_1m"
    val hourlyPath = s"$root/option_ohlc"
    val dailyPath = s"$root/daily_sessions"
    val weeklyPath = s"$root/weekly_sessions"
    val monthlyPath = s"$root/monthly_sessions"

    private val barKey = Seq("instrument_name", "minute_ts")

    /** Collection: fetch complete 1m bars past the sink watermark (2-minute
      * overlap re-covers the partial edge bar) and LWW-upsert.
      */
    def sync1m(tick: Timestamp): FlowRun =
      FlowRun("binance-1m-every-5sec", tick,
        Incremental.syncTick(
          feed.bars1m(tick).withColumn("fetched_at", lit(tick)),
          bars1mPath, barKey, Seq("fetched_at"), "minute_ts", "2 MINUTES"))

    /** Maintenance: detect > `gapThresholdMin` holes in the 1m sink
      * ([[Maintenance.gapDetect]] — the sink series is trade-derived and
      * sparse, so a LAG threshold, not the dense minute grid, separates
      * outages from natural quiet stretches), then refetch the gap ranges
      * and [[Incremental.backfill]] them (NOT syncTick: repaired rows are
      * behind the watermark by construction). Re-detected natural gaps
      * refetch empty, and an empty refetch is a one-job no-op: the backfill
      * finds no dates to touch and neither stages nor commits. Returns None
      * when the sink is absent or gapless.
      */
    def repair1m(tick: Timestamp): Option[FlowRun] =
      if (ManifestTable.currentVersion(spark, bars1mPath).isEmpty) None
      else {
        // detection reads only the trailing repair horizon, planned off the
        // manifest's per-file ts stats — NOT the whole sink (at 100 TB the
        // full-history scan would dwarf every other flow in the loop).
        // Outages older than the horizon are out of repair scope, the same
        // bounded-lookback contract the reference's repair deployment has.
        val horizonStartUs = Incremental.sinkWatermark(spark, bars1mPath, "minute_ts")
          .map(w => (w.getTime - repairHorizonDays * 86400000L) * 1000L)
          .getOrElse(Long.MinValue)
        val sink = ManifestTable.readWhere(spark, bars1mPath, "minute_ts",
          horizonStartUs, Long.MaxValue)
        // one row per detected outage — operator metadata, bounded
        val gaps = Maintenance.gapDetect(
          sink.select(col("instrument_name").as("event_type"),
            col("minute_ts").as("ts")),
          gapThresholdMin).collect()
        if (gaps.isEmpty) None
        else {
          val ranges = gaps.map(r =>
            (r.getAs[Timestamp]("gap_start"), r.getAs[Timestamp]("gap_end"))).distinct
          val inAnyRange = ranges.map { case (s, e) =>
            col("minute_ts") > lit(s) && col("minute_ts") < lit(e)
          }.reduce(_ || _)
          val refetched = feed.bars1m(tick).filter(inAnyRange)
            .withColumn("fetched_at", lit(tick))
          Some(FlowRun("binance-1m-gap-repair-hourly", tick,
            Incremental.backfill(refetched, bars1mPath, barKey,
              Seq("fetched_at"), "minute_ts")))
        }
      }

    /** Aggregation: hourly OHLC (the option_ohlc flow — aggregate-and-upsert
      * S11) with a 2-hour overlap so edge bars finalize on the next run.
      */
    def optionOhlc(tick: Timestamp): FlowRun =
      FlowRun("option-ohlc-hourly", tick,
        Incremental.syncTick(
          feed.hourlyBars(tick).withColumn("fetched_at", lit(tick)),
          hourlyPath, Seq("instrument_name", "hour_ts"), Seq("fetched_at"),
          "hour_ts", "2 HOURS"))

    private def hourlySinkAsBars(): Option[DataFrame] =
      if (ManifestTable.currentVersion(spark, hourlyPath).isEmpty) None
      else Some(Incremental.readSink(spark, hourlyPath).select(
        col("hour_ts").as("t"), col("instrument_name").as("instrument"),
        col("open_price").as("open"), col("high_price").as("high"),
        col("low_price").as("low"), col("close_price").as("close")))

    /** Session layers recompute from the current sink state and upsert with
      * the tick as the LWW sequence: a session re-derived with more data
      * replaces its previous version; completed sessions are idempotent
      * (same inputs → bit-identical row → overwrite is a no-op in value).
      */
    private def sessionUpsert(flow: String, tick: Timestamp, sessions: DataFrame,
                              path: String): FlowRun =
      FlowRun(flow, tick,
        Incremental.backfill(sessions.withColumn("computed_at", lit(tick)),
          path, Seq("instrument", "datetime"), Seq("computed_at"), "datetime"))

    def dailyAgg(tick: Timestamp): Option[FlowRun] =
      hourlySinkAsBars().map(bars =>
        sessionUpsert("daily-11-utc", tick, Ohlc.dailySessions(bars), dailyPath))

    private def dailySink(): Option[DataFrame] =
      if (ManifestTable.currentVersion(spark, dailyPath).isEmpty) None
      else Some(Incremental.readSink(spark, dailyPath))

    def weeklyAgg(tick: Timestamp): Option[FlowRun] =
      dailySink().map(d =>
        sessionUpsert("weekly-friday-11-utc", tick, Ohlc.weeklySessions(d), weeklyPath))

    def monthlyAgg(tick: Timestamp): Option[FlowRun] =
      dailySink().map(d =>
        sessionUpsert("monthly-last-friday-11-utc", tick, Ohlc.monthlySessions(d), monthlyPath))

    /** One scheduler tick: fire every due deployment in the reference's
      * serve order (`main.py:144-154` — collection, repair, option OHLC,
      * then daily → weekly → monthly at 11:00).
      */
    def runTick(tick: Timestamp): Seq[FlowRun] = {
      val local = tick.toLocalDateTime
      val runs = Seq.newBuilder[FlowRun]
      runs += sync1m(tick)
      repair1m(tick).foreach(runs += _)
      runs += optionOhlc(tick)
      if (local.getHour == 11) {
        dailyAgg(tick).foreach(runs += _)
        if (local.getDayOfWeek == DayOfWeek.FRIDAY) {
          weeklyAgg(tick).foreach(runs += _)
          if (isLastFriday(local.toLocalDate))
            monthlyAgg(tick).foreach(runs += _)
        }
      }
      runs.result()
    }

    def runTicks(ticks: Seq[Timestamp]): Seq[FlowRun] = ticks.flatMap(runTick)
  }
}
