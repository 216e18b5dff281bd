package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Incremental

/** Structured Streaming re-expression of the reference's micro-batch
  * incremental layer (SURVEY.md §2.9): the reference simulates streaming with
  * 5-second/5-minute cron ticks + trailing-overlap re-reads + upserts
  * (`flows/main.py:48-122`, `collectors/binance.py:152-153`); here the same
  * semantics are native:
  *
  *  - trailing-overlap re-read + last-write-wins upsert ⟶ event-time
  *    watermark + update-mode windowed aggregation (late rows within the
  *    watermark update their hour bucket in place);
  *  - `MAX(ts)` resume point ⟶ checkpointed source offsets;
  *  - idempotent ON CONFLICT writes ⟶ [[foreachBatchUpsert]] (each
  *    micro-batch one last-write-wins upsert into a manifest sink).
  *
  * Works on any streaming DataFrame with (timestamp, instrument_name, price,
  * amount, trade_id) — file source, Kafka, or MemoryStream in tests.
  */
object StreamingOhlc {

  /** Streaming trades → hourly OHLC with a 2-hour watermark (the reference's
    * 2h/3h trailing overlap, `collectors/binance.py:152-153`,
    * `aggregators/option_ohlc.py:37-39`). min_by/max_by are commutative and
    * so valid partial aggregates in update mode.
    */
  def hourlyOhlc(trades: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val key = struct(col("timestamp"), col("trade_id"))
    trades
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), "1 hour").as("w"), col("instrument_name"))
      .agg(
        min_by(col("price"), key).as("open_price"),
        max(col("price")).as("high_price"),
        min(col("price")).as("low_price"),
        max_by(col("price"), key).as("close_price"),
        sum(col("amount")).as("volume"),
        count(lit(1)).as("trade_count"))
      .select(col("w.start").as("hour_ts"), col("instrument_name"),
        col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("volume"), col("trade_count"))
  }

  case class TradeEvent(timestamp: java.sql.Timestamp, instrument_name: String,
                        price: Double, amount: Double, trade_id: Long)

  /** Running per-instrument OHLC state. first/last event-time keys ride in
    * the state so LATE events (arriving in a later micro-batch) can't
    * clobber open/close — open/close are by EVENT time, not arrival order.
    */
  case class RunningOhlc(instrument_name: String, open: Double, high: Double,
                         low: Double, close: Double, volume: Double, n: Long,
                         first_key: (Long, Long) = (Long.MaxValue, Long.MaxValue),
                         last_key: (Long, Long) = (Long.MinValue, Long.MinValue))

  /** Custom per-instrument running state via mapGroupsWithState — the typed
    * stateful path for semantics windowed aggs can't express (running
    * all-time OHLC per instrument, emitted on every update).
    */
  def runningOhlcState(trades: Dataset[TradeEvent]): Dataset[RunningOhlc] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades.groupByKey(_.instrument_name)
      .mapGroupsWithState[RunningOhlc, RunningOhlc](GroupStateTimeout.NoTimeout) {
        (inst, events, state: GroupState[RunningOhlc]) =>
          val init = state.getOption.getOrElse(
            RunningOhlc(inst, 0.0, Double.MinValue, Double.MaxValue, 0.0, 0.0, 0L))
          val out = events.foldLeft(init) { (s, e) =>
            val k = (e.timestamp.getTime, e.trade_id)
            import scala.math.Ordering.Implicits._
            s.copy(
              open = if (k < s.first_key) e.price else s.open,
              close = if (k > s.last_key) e.price else s.close,
              high = math.max(s.high, e.price),
              low = math.min(s.low, e.price),
              volume = s.volume + e.amount,
              n = s.n + 1,
              first_key = if (k < s.first_key) k else s.first_key,
              last_key = if (k > s.last_key) k else s.last_key)
          }
          state.update(out)
          out
      }
  }

  /** Micro-batch upsert sink: each batch is one [[Incremental.backfill]]
    * into the [[graft.operators.ManifestTable]] sink at `path` (read it
    * with [[Incremental.readSink]]) — the ON CONFLICT DO UPDATE analog for
    * object storage (`collectors/binance.py:76-125`), on the same
    * last-write-wins path as the batch ticks, partitioned by the date of
    * `timestamp`. The batch id (stored as `__batch_id`) leads `seqCols`,
    * so a later batch wins a same-key tie and a retried batch
    * (foreachBatch is at-least-once) replays idempotently. Use from
    * `stream.writeStream.foreachBatch(foreachBatchUpsert(path, Seq("k")))`.
    */
  def foreachBatchUpsert(path: String, keyCols: Seq[String],
                         seqCols: Seq[String] = Seq("timestamp", "trade_id"))
                        (batch: DataFrame, batchId: Long): Unit =
    Incremental.backfill(batch.withColumn("__batch_id", lit(batchId)), path,
      keyCols, "__batch_id" +: seqCols, "timestamp")

  /** Stream-stream interval join: each trade with the quotes of the
    * preceding `lookback` on the same instrument. Watermarks on BOTH sides
    * bound the join state (Spark drops buffered rows older than watermark +
    * interval); the time-range condition keeps it a state-store lookup, not
    * a cross product.
    */
  def tradesWithRecentQuotes(trades: DataFrame, quotes: DataFrame,
                             watermark: String = "1 hour",
                             lookback: String = "10 minutes"): DataFrame = {
    val t = trades.withWatermark("timestamp", watermark)
    val q = quotes.withWatermark("q_ts", watermark)
    t.join(q, expr(
      s"""instrument_name = q_instrument
         |AND q_ts >= timestamp - INTERVAL $lookback
         |AND q_ts <= timestamp""".stripMargin))
  }

  /** Streaming dedup (the ON CONFLICT DO NOTHING analog, D2): first
    * occurrence of each trade_id wins; state is dropped once the watermark
    * passes (bounded, unlike plain dropDuplicates).
    */
  def dedupTrades(trades: DataFrame, watermark: String = "1 hour"): DataFrame =
    trades.withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("trade_id")

  /** Streaming gap sessionization — the streaming twin of the batch
    * [[graft.operators.Relational.userSessions]]: the SAME `session_window`
    * primitive, so batch and stream agree by construction. The watermark
    * bounds open-session state (an idle session's state is dropped once the
    * watermark passes its gap-extended end); append mode emits each session
    * exactly once, when it can no longer merge with future events.
    */
  def userSessions(events: DataFrame, gapMinutes: Int = 480,
                   watermark: String = "8 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))

  /** Last event-time position per instrument, carried across micro-batches. */
  case class LastSeen(ts: Long, trade_id: Long)

  /** A detected feed gap: consecutive trades (event-time order) further
    * apart than the alert threshold.
    */
  case class GapAlert(instrument_name: String, prev_ts: java.sql.Timestamp,
                      ts: java.sql.Timestamp, gap_seconds: Long)

  /** Streaming gap ALERTS via flatMapGroupsWithState — the streaming twin of
    * the batch LAG detector ([[graft.operators.Maintenance.gapDetect]]) and
    * the trigger feeding the reference's gap-repair deployment
    * (`binance_1m.py:404-507`; batch repair stays
    * [[graft.operators.GapRepair]]). flatMap (not map) because a group
    * legitimately emits ZERO alerts on a healthy batch and SEVERAL after an
    * outage — the one stateful shape `mapGroupsWithState`'s 1-output
    * contract can't express.
    *
    * Within a batch events are sorted by event-time key; the gap check runs
    * against the carried [[LastSeen]] state, so a gap spanning micro-batch
    * boundaries (the common case — the feed went quiet BETWEEN ticks) is
    * caught exactly once. Out-of-order stragglers older than the state's
    * position never advance it (no retro-alerts; same late-data stance as
    * the batch detector's per-instrument event-time sort). State is one
    * (long, long) per instrument — O(instruments), not O(events).
    */
  def gapAlerts(trades: Dataset[TradeEvent],
                minGapSeconds: Long = 3600): Dataset[GapAlert] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades.groupByKey(_.instrument_name)
      .flatMapGroupsWithState[LastSeen, GapAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (inst, events, state: GroupState[LastSeen]) =>
          import scala.math.Ordering.Implicits._
          val sorted = events.toSeq.sortBy(e => (e.timestamp.getTime, e.trade_id))
          var last = state.getOption
          val alerts = Seq.newBuilder[GapAlert]
          sorted.foreach { e =>
            val k = (e.timestamp.getTime, e.trade_id)
            last.foreach { l =>
              val gap = (e.timestamp.getTime - l.ts) / 1000L
              if (k > ((l.ts, l.trade_id)) && gap >= minGapSeconds)
                alerts += GapAlert(inst, new java.sql.Timestamp(l.ts),
                  e.timestamp, gap)
            }
            if (last.forall(l => k > ((l.ts, l.trade_id))))
              last = Some(LastSeen(e.timestamp.getTime, e.trade_id))
          }
          last.foreach(state.update)
          alerts.result().iterator
      }
  }

  /** Output-mode helper: hourly OHLC is meant for update mode (late data
    * within the watermark overwrites its bucket, mirroring upserts).
    */
  val updateMode: OutputMode = OutputMode.Update()
}
