package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, concat, lit}

import graft.analytics.Metrics
import graft.engine.{BacktestEngine, BacktestResult}
import graft.opt.{GridSearch, SimulatedAnnealing}
import graft.strategy.{StepStrategy, Strategy}
import graft.text.TextPipeline

/** Ergonomic facade mirroring the reference's public API
  * (`Backtest(initial_amount, ticker, strat, input_data=...).run()` /
  * `.metrics()` / `.optimize(...)`, reference strats.py:489-655) so a
  * user of the reference can switch with the same call shapes — while
  * everything underneath is the distributed engine. `bars` is the long
  * multi-ticker frame; single-ticker use is just a one-ticker frame.
  */
final class Backtest(
    initialAmount: Double,
    strategy: Strategy,
    bars: DataFrame,
    riskFreeRate: Double = 0.0,
    index: Option[DataFrame] = None) {

  private var result: Option[BacktestResult] = None

  /** Run the backtest; returns the daily frame (reference run(),
    * strats.py:581-601), with the index column appended when configured.
    */
  def run(): DataFrame = {
    val res = BacktestEngine.run(bars, strategy, initialAmount)
    val daily = index match {
      case Some(idx) => res.daily.transform(BacktestEngine.joinIndex(_, idx))
      case None => res.daily
    }
    // carry the engine's foldCache through: dropping it here would
    // orphan the persisted fold blocks — result.unpersist() could
    // never release them
    result = Some(BacktestResult(daily, res.orders, res.foldCache))
    daily
  }

  /** Release the persisted fold/daily blocks of the last [[run]] — call
    * when iterating over many strategies in one session.
    */
  def unpersist(): Unit = result.foreach(_.unpersist())

  /** Final net worth per ticker — the reference's `run().net_worth[-1]`. */
  def finalNetWorth(): DataFrame = {
    ensureRun()
    BacktestEngine.finalNetWorth(result.get)
  }

  /** Orders table (reference Order_Manager.to_df, strats.py:226-245). */
  def orders(): DataFrame = { ensureRun(); result.get.orders.toDF() }

  /** Write the net-worth curve as an SVG chart — the reference's plot
    * sink (plot_data, strats.py:422-486: line/area, LIGHT/DARK, ticker
    * watermark, ["Strategy", "S&P500"] legend), Spark-first: each
    * series is decimated in Spark before the bounded driver collect
    * (graft.viz.ChartSink). With a configured index frame the joined
    * index column plots as a second series per ticker.
    */
  def plotNetWorth(path: String, title: String = "Stocks",
      dark: Boolean = false, area: Boolean = false): Unit = {
    ensureRun()
    val daily = result.get.daily
    val strat = daily.select(col("ticker").as("series"), col("date"),
      col("net_worth").cast("double").as("value"))
    val series = if (daily.columns.contains("SP500"))
      strat.unionByName(daily.filter(col("SP500").isNotNull)
        .select(concat(col("ticker"), lit(" S&P500")).as("series"),
          col("date"), col("SP500").cast("double").as("value")))
    else strat
    // the reference watermarks its (single) ticker; only meaningful here
    // when the frame carries exactly one
    val tickers = daily.select("ticker").distinct().limit(2).collect()
    val watermark = if (tickers.length == 1) Some(tickers(0).getString(0))
      else None
    graft.viz.ChartSink.save(series, "date", "value", "series", path,
      title = title, xLabel = "Date", yLabel = "Return",
      watermark = watermark, dark = dark, area = area)
  }

  /** The 19-metric stats table (reference metrics(), strats.py:657-789).
    * Requires an index frame for beta/alpha/R² — without one those
    * columns are null.
    */
  def metrics(): DataFrame = {
    ensureRun()
    val daily = if (index.isDefined) result.get.daily
      else result.get.daily.withColumn("SP500",
        org.apache.spark.sql.functions.lit(null).cast("double"))
    Metrics.compute(daily, result.get.orders, initialAmount, riskFreeRate)
  }

  /** Parameter optimization (reference optimize(opt_type=..., **ranges),
    * strats.py:603-655 / optimize.py:138-229): returns (ticker,
    * best_state, best_net_worth). `optType` mirrors the reference's
    * dispatch — "grid_search" (default) exhaustively evaluates the range
    * grid; "sim_anneal" runs one annealing chain per ticker (init state,
    * temperature T and iteration count as in optimize.py:138-207; seeded
    * here for determinism).
    */
  def optimize(mkStrategy: Seq[Double] => StepStrategy,
      ranges: Seq[(Double, Double, Double)],
      optType: String = "grid_search",
      initState: Array[Double] = Array(1.0, 1.0),
      temperature: Double = 100.0,
      iterations: Int = 100,
      seed: Long = 42L,
      gridChunks: Int = 1): DataFrame = optType match {
    case "grid_search" =>
      // gridChunks > 1 re-shards the grid across tasks — set it (e.g. to
      // defaultParallelism) for the reference's single-ticker/large-grid
      // shape; leave 1 when tickers already fill the cluster
      GridSearch.best(
        GridSearch.evaluate(bars, mkStrategy, initialAmount, ranges,
          gridChunks))
    case "sim_anneal" =>
      SimulatedAnnealing.evaluate(bars, mkStrategy, initialAmount, ranges,
        initState, temperature, iterations, seed)
    case other =>
      throw new IllegalArgumentException(
        s"unknown opt_type '$other' (expected grid_search or sim_anneal)")
  }

  /** The reference's common-stock composition (`optimize(common_stock=
    * True)` → `Optimize._find_common_stocks`, optimize.py:67-99): find the
    * k most-mentioned tickers across the post sources, then optimize the
    * strategy on those tickers only. The mention mining and the
    * optimization both stay distributed; the tiny top-k ticker list is the
    * broadcast side of a semi-join on the bar frame.
    */
  def optimizeCommonStocks(sources: Seq[DataFrame], textCols: Seq[String],
      tickers: DataFrame, tickerCol: String, blacklist: Seq[String], k: Int,
      mkStrategy: Seq[Double] => StepStrategy,
      ranges: Seq[(Double, Double, Double)],
      optType: String = "grid_search",
      initState: Array[Double] = Array(1.0, 1.0),
      temperature: Double = 100.0,
      iterations: Int = 100,
      seed: Long = 42L,
      gridChunks: Int = 1): DataFrame = {
    val top = TextPipeline.mostCommonTickers(sources, textCols, tickers,
      tickerCol, blacklist, k)
    val commonBars = bars.join(
      broadcast(top.select(col("token").as("ticker"))), Seq("ticker"),
      "left_semi")
    new Backtest(initialAmount, strategy, commonBars, riskFreeRate, index)
      .optimize(mkStrategy, ranges, optType, initState, temperature,
        iterations, seed, gridChunks)
  }

  private def ensureRun(): Unit = if (result.isEmpty) run()
}
