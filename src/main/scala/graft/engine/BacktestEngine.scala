package graft.engine

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{FoldOut, OrderRow, SignalBar, TradeDay}
import graft.strategy.Strategy
import graft.ts.TimeSeriesOps

/** Result of a backtest run: the daily frame carries the reference's fixed
  * 9-column projection plus `ticker` (reference strats.py:530-543), and
  * `orders` is the completed+open order table (strats.py:226-245).
  * `foldCache` is the persisted fold output both views share; call
  * `unpersist()` when done with the result to release its blocks.
  */
final case class BacktestResult(daily: DataFrame, orders: Dataset[OrderRow],
    foldCache: Option[Dataset[FoldOut]] = None) {
  /** `daily`, persisted (idempotent) — for consumers that make several
    * passes over the daily frame (custom analytics, repeated slicing).
    * The built-in metrics block makes a single pass and does NOT need
    * this; at large scale only opt in when the re-read genuinely repeats,
    * since `daily` is O(#bars).
    */
  lazy val dailyShared: DataFrame = {
    daily.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    daily
  }
  def unpersist(): Unit = {
    foldCache.foreach(_.unpersist())
    daily.unpersist()
  }
}

/** The distributed backtest engine (SURVEY.md §3.1 lifecycle).
  *
  * Spark-first decomposition of the reference's eager pandas flow:
  *
  *  1. `strategy.signals` — the *sparse* set of trade-decision rows. A
  *     built-in strategy (graft.strategy.StepStrategy) steps its one
  *     per-ticker rule over each ticker's bars after a single
  *     `groupByKey(ticker)` shuffle; the in-task optimizer and the
  *     streaming path step the same rule. A user strategy may be any
  *     DataFrame logic.
  *  2. the order fold — `groupByKey(ticker).flatMapGroups` over signal rows
  *     only (O(#trades) state per ticker, not O(#bars)), running the
  *     path-dependent book of graft.engine.TradingSession. Tickers
  *     parallelize across executors; one hash shuffle on ticker.
  *  3. re-join trade days onto the daily frame (broadcast-sized right side
  *     per ticker) and compute net worth with running windows (reference
  *     strats.py:557-579) — again pure Catalyst.
  *
  * At 100 TB / thousands of tickers this plan shuffles each of bars and
  * signals exactly once on `ticker`, and every window partitions by ticker,
  * so no stage ever concentrates data on one node.
  */
object BacktestEngine {

  /** Run a backtest over a long bar frame (`ticker, date, open, high, low,
    * close, volume` — extra columns pass through the daily frame).
    */
  def run(bars: DataFrame, strategy: Strategy, initialAmount: Double): BacktestResult = {
    val spark = bars.sparkSession
    import spark.implicits._

    val signals = strategy.signals(bars)
    // persist (lazily) — the fold output feeds BOTH the orders view and the
    // daily/net-worth view; without it any consumer touching both re-runs
    // the whole signal+shuffle+fold pipeline. The fold output is sparse
    // (O(#trades) per ticker, not O(#bars)), so the cached footprint stays
    // tiny even at 100 TB of bars; MEMORY_AND_DISK spills rather than
    // recomputes if a huge trade log ever exceeds executor memory.
    val folded = foldSignals(signals, initialAmount)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val orders = folded.flatMap(_.orders)
    val trades = folded.flatMap(_.trades).toDF()

    val daily = withNetWorth(normalize(bars), trades, initialAmount)
    BacktestResult(daily, orders, Some(folded))
  }

  /** Lowercase columns and reindex to the fixed backtest schema, creating
    * absent columns as nulls (reference strats.py:527-543, P1/P2).
    */
  def normalize(bars: DataFrame): DataFrame = {
    val lowered = bars.toDF(bars.columns.toIndexedSeq.map(_.toLowerCase): _*)
    val want = Seq("open", "high", "low", "close", "volume")
    val cols = col("ticker") +: col("date") +: want.map { c =>
      if (lowered.columns.contains(c)) col(c) else lit(null).cast("double").as(c)
    }
    lowered.select(cols: _*)
  }

  /** The sequential order-fill fold, per ticker. Signals are sparse so the
    * in-memory sort is O(#trades log #trades) per ticker.
    */
  def foldSignals(signals: Dataset[SignalBar], initialAmount: Double): Dataset[FoldOut] = {
    val spark = signals.sparkSession
    import spark.implicits._
    signals.groupByKey(_.ticker).mapGroups { (ticker, it) =>
      val rows = it.toArray
      // full-precision comparator (graft.model.Time): getTime alone is
      // millisecond-truncated and would tie sub-ms signals
      scala.util.Sorting.stableSort(rows, (a: SignalBar, b: SignalBar) =>
        graft.model.Time.epochNanos(a.date) < graft.model.Time.epochNanos(b.date))
      runSession(ticker, rows, initialAmount)
    }
  }

  /** Drive a TradingSession over ordered signal bars — shared by the
    * batch fold above and the in-task evaluator of the optimizer
    * (graft.opt.LocalBacktest); the streaming fold
    * (graft.streaming.StreamingBacktest) makes the same calls per row.
    */
  def runSession(ticker: String, rows: Array[SignalBar],
      initialAmount: Double): FoldOut = {
    val session = new TradingSession(initialAmount)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isBuy) session.buy(r.date, r.close)
      else if (r.isSell) session.sell(r.date, r.close)
      session.observeBar(r.date, r.close)
      i += 1
    }
    collectFold(ticker, session)
  }

  /** Extract orders + per-date trade rows from a finished session. Share
    * counts are read *now* so post-fill mutations show through, matching
    * the reference's object columns (SURVEY.md §1.2).
    */
  def collectFold(ticker: String, session: TradingSession): FoldOut = {
    val om = session.orders
    val all = om.completedOrders.iterator ++ om.openOrders.iterator
    val orderRows = all.zipWithIndex.map { case (o, idx) =>
      OrderRow(ticker, idx, o.numShares, o.startTime, o.startAmount, o.filled,
        Option(o.endTime),
        if (o.filled) Some(o.endAmount) else None,
        if (o.filled) Some(o.profit) else None)
    }.toVector

    val buy = session.buyOrders.map { case (d, o) => d -> o.numShares }
    val sellShares = session.sellOrders.map { case (d, e) =>
      d -> e.fold(_.numShares, identity)
    }
    val owned = om.sharesOwned
    val dates = (buy.keySet ++ sellShares.keySet ++ owned.keySet).toVector
      .sortBy(graft.model.Time.epochNanos)
    val trades = dates.map { d =>
      TradeDay(ticker, d, buy.get(d), sellShares.get(d), owned.get(d))
    }
    FoldOut(orderRows, trades)
  }

  /** Join trade days back onto the daily frame and compute net worth with
    * running windows (reference strats.py:557-579):
    * `shares_owned·close − cumsum(buy·close) + cumsum(sell·close) + initial`
    * with buy/sell null-filled to 0 and shares_owned forward-filled
    * (W6/W10). Float association mirrors the pandas expression order so
    * results are bit-comparable.
    *
    * NON-FINITE semantics (reached through a zero-priced bar, which
    * gives the reference an inf-share order — see OrderBook.buy): the
    * pandas expression recovers from NaN where a plain running sum
    * would not. `cumsum(skipna=True)` SKIPS NaN contributions in the
    * accumulator and emits NaN only at the NaN row itself, and
    * `fillna(method="ffill")` treats a NaN shares_owned snapshot (e.g.
    * inf − inf after selling an inf-share order) as MISSING — replaced
    * by the previous value. Both are replicated here; finite series
    * are unaffected (verified: golden aapl floats bit-identical).
    * graft.opt.LocalBacktest walks the same rule over one ticker's
    * arrays for the optimizer.
    */
  def withNetWorth(daily: DataFrame, trades: DataFrame,
      initialAmount: Double): DataFrame = {
    val w = TimeSeriesOps.keyed()
    val joined = daily.join(
      trades.select(col("ticker"), col("date"), col("buy_shares"),
        col("sell_shares"), col("shares_owned").as("__so_sparse")),
      Seq("ticker", "date"), "left")

    def nanToNull(c: Column): Column =
      when(isnan(c), lit(null).cast("double")).otherwise(c)
    def cumSumSkipNaN(c: Column): Column =
      when(isnan(c), lit(Double.NaN))
        .otherwise(TimeSeriesOps.cumSum(nanToNull(c), w))
    joined
      .withColumn("shares_owned",
        TimeSeriesOps.ffillZero(nanToNull(col("__so_sparse")), w))
      .withColumn("buy", coalesce(col("buy_shares"), lit(0.0)))
      .withColumn("sell", coalesce(col("sell_shares"), lit(0.0)))
      .withColumn("net_worth",
        col("shares_owned") * col("close")
          - cumSumSkipNaN(col("buy") * col("close"))
          + cumSumSkipNaN(col("sell") * col("close"))
          + lit(initialAmount))
      .drop("__so_sparse", "buy_shares", "sell_shares")
  }

  /** Final net worth per ticker — the scalar the reference's golden tests
    * assert on (`run().net_worth[-1]`, tests/test_strat.py:27).
    */
  def finalNetWorth(result: BacktestResult): DataFrame = {
    val w = Window.partitionBy("ticker").orderBy(col("date").desc)
    result.daily
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("ticker"), col("net_worth"))
  }

  /** Append the market-index series as an `SP500` column (reference
    * strats.py:592-601, J2/J8): the index is sliced to dates ≤ the
    * backtest end and tail(len) per ticker, then date-equi-joined. With a
    * shared calendar this is exactly the reference's concat-by-index; the
    * index frame is broadcast (it is one small series).
    */
  def joinIndex(daily: DataFrame, index: DataFrame,
      indexValueCol: String = "SP500"): DataFrame = {
    val idx = broadcast(index.select(col("date"),
      col(indexValueCol).cast("double").as(indexValueCol)))
    daily.join(idx, Seq("date"), "left")
  }
}
