package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Incremental
import graft.streaming.StreamingOhlc
import graft.streaming.StreamingOhlc.TradeEvent

/** Structured Streaming semantics: watermarked hourly OHLC in update mode
  * matches the batch aggregation; late data inside the watermark revises its
  * bucket; mapGroupsWithState keeps running per-instrument OHLC.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def trade(ts: String, price: Double, id: Long,
                    inst: String = "BTC", amount: Double = 1.0) =
    TradeEvent(sqlTs(ts), inst, price, amount, id)

  test("streaming hourly OHLC (update mode) matches batch semantics incl. late data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TradeEvent]
    val q = StreamingOhlc.hourlyOhlc(mem.toDF())
      .writeStream.format("memory").queryName("ohlc_test")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        trade("2024-01-01 10:00:10", 100.0, 1),
        trade("2024-01-01 10:30:00", 110.0, 2),
        trade("2024-01-01 11:00:00", 105.0, 3))
      q.processAllAvailable()
      // late row for hour 10 — inside the 2h watermark → bucket revised
      mem.addData(trade("2024-01-01 10:45:00", 90.0, 4))
      q.processAllAvailable()
      val rows = spark.table("ohlc_test")
        .groupBy("hour_ts", "instrument_name")
        .agg(org.apache.spark.sql.functions.expr("max_by(struct(open_price, high_price, low_price, close_price, volume, trade_count), trade_count) AS s"))
        .select("hour_ts", "s.*").collect()
        .map(r => r.getAs[java.sql.Timestamp]("hour_ts").toString -> r).toMap
      val h10 = rows("2024-01-01 10:00:00.0")
      assert(h10.getAs[Double]("open_price") == 100.0)
      assert(h10.getAs[Double]("high_price") == 110.0)
      assert(h10.getAs[Double]("low_price") == 90.0)
      assert(h10.getAs[Double]("close_price") == 90.0) // late row is latest by ts
      assert(h10.getAs[Long]("trade_count") == 3L)
    } finally q.stop()
  }

  test("file source → AvailableNow → foreachBatch LWW sink, end to end") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_stream_src").toString
    val sinkDir = Files.createTempDirectory("graft_stream_sink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString

    // batch 1 lands as a file; includes a key that batch 2 revises
    Seq(trade("2024-01-01 10:00:00", 100.0, 1), trade("2024-01-01 10:05:00", 101.0, 2))
      .toDS().write.mode("overwrite").parquet(srcDir)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(
        Seq.empty[TradeEvent].toDS().schema).parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch(StreamingOhlc.foreachBatchUpsert(sinkDir,
          Seq("instrument_name", "trade_id")) _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(Incremental.readSink(spark, sinkDir).count() == 2)

    // a second file arrives; checkpoint resumes past the first
    Seq(trade("2024-01-01 10:05:00", 999.0, 2), trade("2024-01-01 10:10:00", 102.0, 3))
      .toDS().write.mode("append").parquet(srcDir)
    runOnce()
    val rows = Incremental.readSink(spark, sinkDir)
    // the sink upserts: trade 2 appears once, the latest batch's version
    val t2 = rows.filter(org.apache.spark.sql.functions.col("trade_id") === 2L)
      .collect()
    assert(t2.length == 1 && t2.head.getAs[Double]("price") == 999.0)
    assert(rows.select("trade_id").distinct().count() == 3)
  }

  test("stream-stream interval join matches trades to preceding quotes only") {
    implicit val sqlCtx = spark.sqlContext
    val trades = MemoryStream[TradeEvent]
    case class Quote(q_ts: java.sql.Timestamp, q_instrument: String, bid: Double)
    val quotes = MemoryStream[(java.sql.Timestamp, String, Double)]
    val joined = StreamingOhlc.tradesWithRecentQuotes(
      trades.toDF(), quotes.toDF().toDF("q_ts", "q_instrument", "bid"))
    val q = joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      quotes.addData(
        (sqlTs("2024-01-01 10:00:00"), "BTC", 99.0), // 5 min before → match
        (sqlTs("2024-01-01 09:30:00"), "BTC", 98.0), // 35 min before → no
        (sqlTs("2024-01-01 10:06:00"), "BTC", 97.0), // after trade → no
        (sqlTs("2024-01-01 10:01:00"), "ETH", 1.0)) // other instrument → no
      trades.addData(trade("2024-01-01 10:05:00", 100.0, 1))
      q.processAllAvailable()
      // advance watermarks far enough that append-mode emits the join result
      trades.addData(trade("2024-01-01 13:00:00", 100.0, 2))
      quotes.addData((sqlTs("2024-01-01 13:00:00"), "BTC", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ss_join_test")
        .filter(org.apache.spark.sql.functions.col("trade_id") === 1L).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Double]("bid") == 99.0)
    } finally q.stop()
  }

  test("streaming dedup keeps the first occurrence within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TradeEvent]
    val q = StreamingOhlc.dedupTrades(mem.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(trade("2024-01-01 10:00:00", 100.0, 1), trade("2024-01-01 10:01:00", 101.0, 1))
      q.processAllAvailable()
      mem.addData(trade("2024-01-01 10:02:00", 102.0, 1), trade("2024-01-01 10:03:00", 103.0, 2))
      q.processAllAvailable()
      val prices = spark.table("dedup_test").collect()
        .map(r => r.getAs[Long]("trade_id") -> r.getAs[Double]("price")).toMap
      assert(prices == Map(1L -> 100.0, 2L -> 103.0))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running OHLC per instrument across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TradeEvent]
    val q = StreamingOhlc.runningOhlcState(mem.toDS())
      .writeStream.format("memory").queryName("state_test")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(trade("2024-01-01 10:00:00", 100.0, 1), trade("2024-01-01 10:01:00", 120.0, 2))
      q.processAllAvailable()
      mem.addData(trade("2024-01-01 10:02:00", 80.0, 3))
      q.processAllAvailable()
      val last = spark.table("state_test")
        .orderBy(org.apache.spark.sql.functions.col("n").desc).collect().head
      assert(last.getAs[Double]("open") == 100.0)
      assert(last.getAs[Double]("high") == 120.0)
      assert(last.getAs[Double]("low") == 80.0)
      assert(last.getAs[Double]("close") == 80.0)
      assert(last.getAs[Long]("n") == 3L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState gap alerts: cross-batch gaps fire once, stragglers never retro-alert") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TradeEvent]
    val q = StreamingOhlc.gapAlerts(mem.toDS(), minGapSeconds = 3600)
      .writeStream.format("memory").queryName("gap_alerts")
      .outputMode(OutputMode.Append()).start()
    try {
      // healthy batch: 1-minute spacing → zero alerts (the flatMap case)
      mem.addData(trade("2024-01-01 10:00:00", 100.0, 1),
        trade("2024-01-01 10:01:00", 101.0, 2))
      q.processAllAvailable()
      assert(spark.table("gap_alerts").count() == 0L)
      // the feed goes quiet BETWEEN micro-batches: next event 3h later →
      // exactly one alert, against the carried state
      mem.addData(trade("2024-01-01 13:01:00", 102.0, 3))
      q.processAllAvailable()
      val a = spark.table("gap_alerts").collect()
      assert(a.length == 1)
      assert(a(0).getAs[String]("instrument_name") == "BTC")
      assert(a(0).getAs[Long]("gap_seconds") == 3L * 3600)
      // a straggler OLDER than the state's position: no alert, no state
      // regression (the next in-order event measures from 13:01, not 09:00)
      mem.addData(trade("2024-01-01 09:00:00", 99.0, 0))
      q.processAllAvailable()
      assert(spark.table("gap_alerts").count() == 1L)
      mem.addData(trade("2024-01-01 15:01:00", 103.0, 4))
      q.processAllAvailable()
      val b = spark.table("gap_alerts")
        .orderBy(org.apache.spark.sql.functions.col("ts")).collect()
      assert(b.length == 2)
      assert(b(1).getAs[Long]("gap_seconds") == 2L * 3600)
      // per-instrument isolation: a different instrument starts fresh
      mem.addData(trade("2024-01-01 23:00:00", 1.0, 5, inst = "ETH"))
      q.processAllAvailable()
      assert(spark.table("gap_alerts").count() == 2L)
    } finally q.stop()
  }

  test("payload decode runs unchanged on a stream: raw kline JSON -> typed bars") {
    // the ingest shape end to end: a paged fetch lands raw payload strings,
    // decode is a pure projection, so the SAME operator serves readStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = graft.sources.PayloadDecode.decodeKlines(mem.toDF().toDF("payload"))
      .writeStream.format("memory").queryName("decode_test")
      .outputMode("append").start()
    try {
      mem.addData(
        """[1712000000000,"342.07","349.07","337.07","342.44","7.3"]""",
        "[1712000", // malformed: dropped in-stream, not failed
        """[1712000060000,"100.00","107.00","95.00","100.37","0.0"]""")
      q.processAllAvailable()
      val rows = spark.table("decode_test").orderBy("open_time").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Double]("open") == 342.07)
      assert(rows(1).getAs[Double]("close") == 100.37)
    } finally q.stop()
  }

  test("streaming session_window emits closed sessions matching batch gap rule") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val ev = mem.toDF().toDF("ts", "user_id", "value")
    val q = StreamingOhlc.userSessions(ev, gapMinutes = 30, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (sqlTs("2024-01-01 10:00:00"), 1L, 1.0),
        (sqlTs("2024-01-01 10:10:00"), 1L, 1.0), // same session (gap 10m < 30m)
        (sqlTs("2024-01-01 11:30:00"), 1L, 1.0)) // new session (gap 80m)
      q.processAllAvailable()
      // push the watermark past both sessions' gap-extended ends so append
      // mode finalizes them; a second tick lets the new watermark apply
      mem.addData((sqlTs("2024-01-02 00:00:00"), 99L, 1.0))
      q.processAllAvailable()
      mem.addData((sqlTs("2024-01-02 06:00:00"), 99L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_test").filter($"user_id" === 1L)
        .orderBy("session_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n_events") == 2L)
      assert(rows(0).getAs[java.sql.Timestamp]("session_start") == sqlTs("2024-01-01 10:00:00"))
      assert(rows(0).getAs[java.sql.Timestamp]("session_end") == sqlTs("2024-01-01 10:10:00"))
      assert(rows(1).getAs[Long]("n_events") == 1L)
      assert(rows(1).getAs[java.sql.Timestamp]("session_start") == sqlTs("2024-01-01 11:30:00"))
    } finally q.stop()
  }
}
