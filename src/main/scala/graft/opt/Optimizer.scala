package graft.opt

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.BacktestEngine
import graft.model.Time
import graft.strategy.{StepStrategy, TickerSeries}

/** In-task backtest: a built-in rule, the engine's session fold and the
  * engine's net-worth rule over one ticker's arrays, so a full backtest
  * runs inside a Spark task with no nested job.
  */
object LocalBacktest {

  /** Final net worth of one ticker's date-sorted bars (null closes as
    * NaN). The signals and the fill are the engine's own
    * (StepStrategy.signals, BacktestEngine.runSession); the net worth
    * walks the bar indices with the NaN-skipping rule of
    * `BacktestEngine.withNetWorth`: a NaN buy/sell worth is left out of
    * the running sums, a NaN share snapshot does not replace the
    * forward-filled count, and the terms add in date order, so the value
    * equals the engine's last `net_worth` (a null there is NaN here).
    */
  def finalNetWorth(ticker: String, dates: Array[Timestamp],
      closes: Array[Double], strategy: StepStrategy,
      initialAmount: Double): Double = {
    if (dates.isEmpty) return Double.NaN
    val trades = BacktestEngine.runSession(ticker,
      strategy.signals(ticker, dates, closes), initialAmount).trades
    val tradeNanos = trades.map(t => Time.epochNanos(t.date)).toArray
    var t = 0
    var owned = 0.0
    var cumBuy, cumSell, buyWorth, sellWorth = 0.0
    var i = 0
    while (i < dates.length) {
      val ns = Time.epochNanos(dates(i))
      while (t < tradeNanos.length && tradeNanos(t) < ns) t += 1
      var buy, sell = 0.0
      // equal dates all join the same trade day, as the engine's join does
      if (t < tradeNanos.length && tradeNanos(t) == ns) {
        val d = trades(t)
        d.shares_owned.filterNot(_.isNaN).foreach(owned = _)
        buy = d.buy_shares.getOrElse(0.0)
        sell = d.sell_shares.getOrElse(0.0)
      }
      buyWorth = buy * closes(i)
      sellWorth = sell * closes(i)
      if (!buyWorth.isNaN) cumBuy += buyWorth
      if (!sellWorth.isNaN) cumSell += sellWorth
      i += 1
    }
    // a NaN term on the last row itself makes its running sum NaN
    owned * closes.last - (if (buyWorth.isNaN) Double.NaN else cumBuy) +
      (if (sellWorth.isNaN) Double.NaN else cumSell) + initialAmount
  }
}

/** Parameter-search optimization (reference optimize.py, SURVEY.md §3.2).
  *
  * The reference forks a process pool per grid point but serializes on
  * `.get()` (optimize.py:221-225); here the grid is the Spark parallel
  * axis: bars broadcast once (a ticker's history is small — the classic
  * broadcast-dimension pattern), grid points evaluated as a Dataset map,
  * best state via `max_by` — a genuine scale-out of the reference's one
  * embarrassingly-parallel surface.
  */
object GridSearch {

  /** numpy.arange float semantics (reference optimize.py:38): count =
    * ceil((stop−start)/step), value_i = start + i·step.
    */
  def arange(start: Double, stop: Double, step: Double): Array[Double] = {
    val n = math.ceil((stop - start) / step)
    if (n <= 0 || n.isNaN) Array.empty
    else Array.tabulate(n.toInt)(i => start + i * step)
  }

  /** Cartesian product of the ranges (reference optimize.py:218-219). */
  def grid(ranges: Seq[(Double, Double, Double)]): Array[Array[Double]] =
    ranges.map { case (a, b, s) => arange(a, b, s) }
      .foldLeft(Array(Array.empty[Double])) { (acc, r) =>
        acc.flatMap(prefix => r.map(v => prefix :+ v))
      }

  /** Evaluate every grid point for every ticker in `bars`; returns
    * (ticker, state, net_worth) rows. Bars never leave the executors: one
    * shuffle groups a ticker's history into a task, and the (tiny) grid —
    * broadcast once — is evaluated inside that task against the in-memory
    * arrays. The parallel axis is tickers, which is the axis that grows
    * at scale; a ticker's own history is bounded (daily bars: thousands
    * of rows), so the per-group materialization is safe by construction.
    * No driver-side collect anywhere in the path.
    *
    * `gridChunks` re-shards the grid axis for the few-tickers/large-grid
    * case (the reference's single-ticker shape): the per-ticker series is
    * materialized once, duplicated across `gridChunks` shuffle keys, and
    * each task evaluates its slice of the grid — restoring parallelism
    * when tickers alone cannot fill the cluster. Leave at 1 (default)
    * when tickers are the abundant axis: no duplication, no extra
    * shuffle.
    */
  def evaluate(bars: DataFrame, mkStrategy: Seq[Double] => StepStrategy,
      initialAmount: Double,
      ranges: Seq[(Double, Double, Double)],
      gridChunks: Int = 1): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val states = grid(ranges)
    val bcStates = spark.sparkContext.broadcast(states)
    val nChunks = math.max(1, math.min(gridChunks, states.length))
    val series = TickerSeries.of(bars)
    val sharded =
      if (nChunks == 1) series.map(s => (s, 0))
      else series.flatMap(s => (0 until nChunks).iterator.map(c => (s, c)))
        .repartition(spark.sparkContext.defaultParallelism)
    sharded.flatMap { case (s, chunk) =>
      val all = bcStates.value
      val dates = s.dates
      (chunk until all.length by nChunks).iterator.map { i =>
        val state = all(i)
        val nw = LocalBacktest.finalNetWorth(s.ticker, dates, s.closes,
          mkStrategy(state.toSeq), initialAmount)
        (s.ticker, state, nw)
      }
    }.toDF("ticker", "state", "net_worth")
  }

  /** Best state per ticker — `max_by` argmax (reference optimize.py:227). */
  def best(evaluated: DataFrame): DataFrame =
    evaluated.groupBy("ticker")
      .agg(expr("max_by(state, net_worth)").as("best_state"),
        max("net_worth").as("best_net_worth"))

  /** The reference's `_find_common_stocks` composition
    * (optimize.py:67-99): find the most-talked-about tickers in a
    * documents frame, load their bars, and optimize the strategy for
    * each. Its constituent pieces (TextPipeline.mostCommonTickers, the
    * grid evaluator) have been in place since round 1; the orchestrating
    * wrapper was absent because the reference binds it to two external
    * connectors (praw for the documents, yfinance for the bars).
    * `loadBars` is that connector seam: it receives the top-k ticker
    * symbols and returns long-format bars (ticker, date, close) — a
    * file/cache-backed loader here, a market-data connector in a real
    * deployment.
    *
    * Scale shape: the top-k mention list (k rows) is the ONLY driver
    * materialization; the per-ticker optimization is ONE distributed
    * [[evaluate]] job with tickers as the parallel axis — not the
    * reference's per-ticker process-pool loop. Returns
    * (ticker, mentions, best_state, best_net_worth).
    */
  def findCommonStocks(docs: DataFrame, textCol: String,
      tickers: DataFrame, tickerCol: String, blacklist: Seq[String], k: Int,
      loadBars: Seq[String] => DataFrame,
      mkStrategy: Seq[Double] => StepStrategy, initialAmount: Double,
      ranges: Seq[(Double, Double, Double)],
      gridChunks: Int = 1, memoTag: Option[String] = None): DataFrame = {
    // the k-row mention leaderboard is consumed twice per call (the
    // symbols collect AND the final broadcast join, whose lazy side
    // would otherwise re-run the corpus regex scan at execution) — with
    // a memoTag it is session-memoized like the grid fold below
    val top0 = graft.text.TextPipeline.mostCommonTickers(Seq(docs),
      Seq(textCol), tickers, tickerCol, blacklist, k)
    val top = memoTag match {
      case Some(tag) => graft.ops.BuildMemo.frameKeyed(docs.sparkSession,
        s"commonstockstop|$tag") { top0 }
      case None => top0
    }
    val symbols = top.select(col("token")).collect().map(_.getString(0)).toSeq
    // a mention-less corpus short-circuits to an empty result BEFORE the
    // connector is invoked — a loader handed an empty symbol list could
    // throw or issue a nonsense request
    if (symbols.isEmpty) {
      val spark = docs.sparkSession
      return spark.createDataFrame(spark.sparkContext.emptyRDD[
          org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ticker",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("mentions",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("best_state",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false)),
          org.apache.spark.sql.types.StructField("best_net_worth",
            org.apache.spark.sql.types.DoubleType))))
    }
    val bars = loadBars(symbols).filter(col("ticker").isin(symbols: _*))
    // the grid evaluation is the expensive fold (|tickers|·|grid|
    // backtests) and is a pure function of the bars + strategy grid —
    // with a caller-supplied memoTag it is session-memoized under the
    // [[graft.ops.BuildMemo]] discipline (the bt tier's shared-fold
    // pattern). The tag must pin EVERYTHING both memos depend on: the
    // mention corpus (docs), the ticker table, blacklist and k (the
    // leaderboard memo above) as well as the bars source and every
    // grid parameter — a caller pinning only the bars would be served
    // a stale leaderboard for a different corpus. None (the default)
    // keeps the plain per-call build — live connectors whose loadBars
    // output mutates must not pass one.
    val evaluated = memoTag match {
      case Some(tag) => graft.ops.BuildMemo.frameKeyed(docs.sparkSession,
        s"commonstocksgrid|$tag") {
          evaluate(bars, mkStrategy, initialAmount, ranges, gridChunks)
        }
      case None => evaluate(bars, mkStrategy, initialAmount, ranges,
        gridChunks)
    }
    best(evaluated)
      .join(broadcast(top.select(col("token").as("ticker"),
        col("cnt").as("mentions"))), Seq("ticker"), "left")
      .select(col("ticker"), col("mentions"), col("best_state"),
        col("best_net_worth"))
  }
}

/** Simulated annealing (reference optimize.py:138-207): a sequential
  * driver loop — each step depends on the last — calling the same local
  * evaluator; T·0.8 cooling, exp(Δ/T) acceptance, integer-step
  * neighborhood kicks clamped to the ranges. Seeded for determinism
  * (the reference uses unseeded numpy RNG; stochastic path, same
  * distribution family).
  */
object SimulatedAnnealing {

  /** Distributed annealing: one independent annealing chain per ticker,
    * run inside its task after a single groupByKey(ticker) shuffle — the
    * same bars-stay-on-executors shape as GridSearch.evaluate. Returns
    * (ticker, best_state, best_net_worth).
    */
  def evaluate(bars: DataFrame, mkStrategy: Seq[Double] => StepStrategy,
      initialAmount: Double, ranges: Seq[(Double, Double, Double)],
      initState: Array[Double], temperature: Double = 100.0,
      iterations: Int = 100, seed: Long = 42L): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    TickerSeries.of(bars).map { s =>
      val (best, worth) = optimize(s.ticker, s.dates, s.closes, mkStrategy,
        initialAmount, ranges, initState, temperature, iterations, seed)
      (s.ticker, best, worth)
    }.toDF("ticker", "best_state", "best_net_worth")
  }

  def optimize(ticker: String, dates: Array[Timestamp], closes: Array[Double],
      mkStrategy: Seq[Double] => StepStrategy, initialAmount: Double,
      ranges: Seq[(Double, Double, Double)], initState: Array[Double],
      temperature: Double = 100.0, iterations: Int = 100,
      seed: Long = 42L): (Array[Double], Double) = {
    val rng = new java.util.Random(seed)
    def eval(st: Array[Double]): Double =
      LocalBacktest.finalNetWorth(ticker, dates, closes,
        mkStrategy(st.toSeq), initialAmount)
    def neighborhood(state: Array[Double], amplitude: Int): Array[Double] = {
      var next: Array[Double] = null
      var guard = 0
      while (next == null && guard < 10000) {
        guard += 1
        val cand = state.zipWithIndex.map { case (v, i) =>
          v + (rng.nextInt(3) - 1) * (rng.nextInt(2 * amplitude + 1) - amplitude) * ranges(i)._3
        }
        if (cand.forall(_ > 0) && !cand.sameElements(state)) next = cand
      }
      if (next == null) state.clone()
      else next.zipWithIndex.map { case (v, i) =>
        math.min(math.max(v, ranges(i)._1), ranges(i)._2)
      }
    }
    var state = initState
    var bestState = initState
    var temp = temperature
    var curCost = eval(state)
    var bestCost = curCost
    (0 until iterations).foreach { _ =>
      val nextState = neighborhood(state, 10)
      val newCost = eval(nextState)
      val delta = newCost - curCost
      if (delta > 0) {
        state = nextState
        curCost = newCost
        if (newCost > bestCost) { bestState = nextState; bestCost = newCost }
      } else if (math.exp(delta / temp) > rng.nextDouble()) {
        state = nextState
        curCost = newCost
      }
      temp *= 0.8
    }
    (bestState, eval(bestState))
  }
}
