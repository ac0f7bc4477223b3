package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.engine.BacktestEngine
import graft.model.{Bar, SignalBar}
import graft.strategy.MACross
import graft.streaming.StreamingBacktest

/** The streaming signal operators must be row-for-row equal to the
  * batch strategies on in-order bars — including across micro-batch
  * splits that land mid-window, which is what the rule state kept in
  * `GroupState` has to carry — and the composed streaming
  * backtest (bars → maCrossSignals → foldStream) must reproduce the
  * batch engine's trade table. This is the end-to-end streaming demo
  * the README documents.
  */
class StreamingSignalsSpec extends SparkTestBase {
  import spark.implicits._

  private def bar(t: String, day: Int, close: Double): Bar =
    Bar(t, Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"), None, None,
      None, Some(close), None)

  // a price path with several genuine 2/4 crossovers per ticker
  private def path(t: String, seed: Int): Seq[Bar] = {
    val rnd = new scala.util.Random(seed)
    var p = 100.0
    (1 to 28).map { d =>
      p = p * (1.0 + (rnd.nextDouble() - 0.48) * 0.1)
      bar(t, d, p)
    }
  }

  private val bars = path("A", 1) ++ path("B", 2) ++ path("C", 3)

  test("maCrossSignals equals batch MACross.signals across micro-batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Bar]
    val query = StreamingBacktest.maCrossSignals(input.toDF(), 2, 4)
      .writeStream.format("memory").queryName("sig_out")
      .outputMode("append").start()
    // split mid-window: every ticker's history straddles the batch cut
    val (b1, b2) = bars.partition(_.date.getTime <
      Timestamp.valueOf("2024-01-11 00:00:00").getTime)
    input.addData(b1: _*)
    query.processAllAvailable()
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("sig_out").as[graft.model.SignalBar]
      .orderBy("ticker", "date").collect()
    val batch = MACross(2, 4).signals(bars.toDF())
      .orderBy("ticker", "date").collect()
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.exists(_.isBuy), "path must produce buys")
    assert(batch.exists(_.isSell), "path must produce sells")
  }

  test("first-bar sell suppression and min_periods null window carry over") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Bar]
    val query = StreamingBacktest.maCrossSignals(input.toDF(), 2, 4)
      .writeStream.format("memory").queryName("sig_edge_out")
      .outputMode("append").start()
    // one bar per micro-batch: every window slot crosses a batch boundary
    val downUp = Seq(10.0, 9.0, 8.0, 7.0, 6.0, 9.0, 12.0, 6.0, 5.0)
      .zipWithIndex.map { case (c, i) => bar("Z", i + 1, c) }
    downUp.foreach { b => input.addData(b); query.processAllAvailable() }
    query.stop()

    val streamed = spark.table("sig_edge_out").as[graft.model.SignalBar]
      .orderBy("date").collect()
    val batch = MACross(2, 4).signals(downUp.toDF())
      .orderBy("date").collect()
    assert(streamed.toSeq === batch.toSeq)
    // the falling prefix must NOT emit a sell before any buy exists
    assert(streamed.head.isBuy, "first emitted signal must be the buy")
  }

  test("tenPercentSignals equals batch TenPercent.signals across micro-batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Bar]
    val query = StreamingBacktest.tenPercentSignals(input.toDF())
      .writeStream.format("memory").queryName("tp_out")
      .outputMode("append").start()
    // one bar per batch: the anchor state machine crosses every boundary
    bars.sortBy(b => (b.ticker, b.date.getTime)).foreach { b =>
      input.addData(b); query.processAllAvailable()
    }
    query.stop()

    val streamed = spark.table("tp_out").as[graft.model.SignalBar]
      .orderBy("ticker", "date").collect()
    val batch = graft.strategy.TenPercent().signals(bars.toDF())
      .orderBy("ticker", "date").collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.count(_.isSell) >= 1, "path must trigger the sell leg")
  }

  test("composed streaming backtest reproduces the batch trade table") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Bar]
    // bars -> streaming signals -> streaming fold, ONE query end-to-end
    val query = StreamingBacktest.foldStream(
        StreamingBacktest.maCrossSignals(input.toDF(), 2, 4), 1000.0)
      .writeStream.format("memory").queryName("bt_stream_out")
      .outputMode("append").start()
    val (b1, rest) = bars.partition(_.date.getTime <
      Timestamp.valueOf("2024-01-10 00:00:00").getTime)
    val (b2, b3) = rest.partition(_.date.getTime <
      Timestamp.valueOf("2024-01-20 00:00:00").getTime)
    Seq(b1, b2, b3).foreach { b =>
      input.addData(b: _*); query.processAllAvailable()
    }
    query.stop()

    // each (ticker, date) must resolve to ONE final triple in this
    // scenario (no retroactive mutations); assert that loudly rather
    // than silently picking an emission
    val streamed = spark.table("bt_stream_out").dropDuplicates()
    val dupes = streamed.groupBy("ticker", "date").count()
      .filter(col("count") > 1).count()
    assert(dupes === 0L,
      "conflicting trade-day emissions — the scenario was meant to be final-only")

    val batchTrades = BacktestEngine.foldSignals(
        MACross(2, 4).signals(bars.toDF()), 1000.0)
      .collect().flatMap(_.trades)
      .sortBy(t => (t.ticker, t.date.getTime))
    val streamTrades = streamed
      .select("ticker", "date", "buy_shares", "sell_shares", "shares_owned")
      .orderBy("ticker", "date").collect()
    assert(streamTrades.length === batchTrades.length)
    streamTrades.zip(batchTrades).foreach { case (s, b) =>
      assert(s.getString(0) === b.ticker)
      assert(s.getTimestamp(1) === b.date)
      assert(Option(s.get(2)).map(_.asInstanceOf[Double]) === b.buy_shares)
      assert(Option(s.get(3)).map(_.asInstanceOf[Double]) === b.sell_shares)
      assert(Option(s.get(4)).map(_.asInstanceOf[Double]) === b.shares_owned)
    }
  }

  test("a checkpoint holding the old per-rule state classes fails on restore") {
    implicit val sc = spark.sqlContext
    // checkpoints/rule-state-v1: one micro-batch of ticker A (six bars)
    // through maCrossSignals(2, 4) and tenPercentSignals(), written when
    // each rule had a streaming state class of its own
    val signals = Seq[(String, DataFrame => Dataset[SignalBar])](
      "macross" -> (df => StreamingBacktest.maCrossSignals(df, 2, 4)),
      "tenpercent" -> (df => StreamingBacktest.tenPercentSignals(df)))
    signals.foreach { case (name, run) =>
      val src = java.nio.file.Paths.get(
        getClass.getResource(s"/checkpoints/rule-state-v1/$name").toURI)
      val ckpt = java.nio.file.Files.createTempDirectory("old_ckpt")
      java.nio.file.Files.walk(src).forEach { p =>
        val to = ckpt.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(to)
        else java.nio.file.Files.copy(p, to)
      }
      val input = MemoryStream[Bar]
      input.addData(bar("A", 1, 10.0)) // offset 0: the committed batch
      input.addData(bar("A", 7, 11.0)) // offset 1: needs A's old state
      // the memory sink cannot restart from a checkpoint; count instead
      val emitted = new java.util.concurrent.atomic.AtomicLong
      val query = run(input.toDF()).writeStream
        .foreachBatch { (b: Dataset[SignalBar], _: Long) =>
          emitted.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      val e = intercept[StreamingQueryException](query.processAllAvailable())
      query.stop()
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.isInstanceOf[ClassNotFoundException]),
        s"$name: ${e.getMessage}")
      assert(emitted.get === 0L, s"$name restored and emitted rows")
    }
  }
}
