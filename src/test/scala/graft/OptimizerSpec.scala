package graft

import graft.opt.{GridSearch, SimulatedAnnealing}
import graft.sources.Sources
import graft.strategy.{MACross, TenPercent}
import graft.ts.TimeSeriesOps

/** Grid-search golden from the reference optimizer run offline
  * (src/test/resources/ref_optimizer_golden.json): grid fast=[30,40,2] ×
  * lagging=[40,50,5] on aapl last 10Y → best (36,40) → 1283666.449897766.
  */
class OptimizerSpec extends SparkTestBase {

  private lazy val aapl10y = TimeSeriesOps.lastYears(
    Sources.readOhlcvCsv(spark, "/root/reference/strat_backtest/data/aapl.csv"),
    10).cache()

  test("numpy arange semantics") {
    assert(GridSearch.arange(30, 40, 2).toSeq === Seq(30.0, 32.0, 34.0, 36.0, 38.0))
    assert(GridSearch.arange(40, 50, 5).toSeq === Seq(40.0, 45.0))
    assert(GridSearch.arange(0.0, 1.0, 0.3).length === 4) // ceil(1/0.3)=4
    assert(GridSearch.arange(5, 5, 1).isEmpty)
  }

  test("distributed grid search reproduces reference best state") {
    val evaluated = GridSearch.evaluate(aapl10y,
      st => MACross(st(0).toInt, st(1).toInt), 5000.0,
      Seq((30, 40, 2), (40, 50, 5)))
    assert(evaluated.count() === 10) // 5 x 2 grid
    val bestRow = GridSearch.best(evaluated).collect()(0)
    assert(bestRow.getAs[Seq[Double]]("best_state") === Seq(36.0, 40.0))
    assert(bestRow.getAs[Double]("best_net_worth") === 1283666.449897766)
  }

  test("grid sharding (gridChunks) evaluates the identical grid") {
    val evaluated = GridSearch.evaluate(aapl10y,
      st => MACross(st(0).toInt, st(1).toInt), 5000.0,
      Seq((30, 40, 2), (40, 50, 5)), gridChunks = 4)
    assert(evaluated.count() === 10)
    val bestRow = GridSearch.best(evaluated).collect()(0)
    assert(bestRow.getAs[Seq[Double]]("best_state") === Seq(36.0, 40.0))
    assert(bestRow.getAs[Double]("best_net_worth") === 1283666.449897766)
  }

  test("findCommonStocks: mentions -> pluggable bars -> optimize each") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the reference composition (_find_common_stocks): top mentioned
    // tickers, bars loaded through the connector seam, best grid state
    // per ticker in ONE distributed job
    val docs = Seq(
      "AAPL up big, AAPL rally, buy TSLA",
      "TSLA and AAPL, avoid FOMO",
      "GME squeeze FOMO FOMO").toDF("text")
    val tickers = Seq("aapl", "tsla", "gme", "fomo").toDF("symbol")
    // file-backed seam: both "tickers" share aapl's bar history renamed
    val loadBars = (symbols: Seq[String]) =>
      symbols.map(s => aapl10y.withColumn("ticker", lit(s)))
        .reduce(_ unionByName _)
    val out = GridSearch.findCommonStocks(docs, "text", tickers, "symbol",
      blacklist = Seq("fomo"), k = 2, loadBars,
      st => MACross(st(0).toInt, st(1).toInt), 5000.0,
      Seq((30, 40, 2), (40, 50, 5))).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Seq[Double]]("best_state"),
        r.getAs[Double]("best_net_worth"))).sortBy(_._1)
    assert(out.map(o => (o._1, o._2)).toSeq === Seq(("AAPL", 3L), ("TSLA", 2L)))
    // same bars -> each ticker reproduces the reference's golden optimum
    out.foreach { o =>
      assert(o._3 === Seq(36.0, 40.0))
      assert(o._4 === 1283666.449897766)
    }
  }

  test("local evaluator agrees with distributed engine (ten percent)") {
    val evaluated = GridSearch.evaluate(aapl10y,
      _ => TenPercent(), 5000.0, Seq((1, 2, 1)))
    val nw = evaluated.collect()(0).getDouble(2)
    assert(nw === 5640.54146194458) // reference golden (ref_metrics_golden)
  }

  test("simulated annealing finds a good state deterministically") {
    import org.apache.spark.sql.functions._
    val rows = aapl10y.select(col("date").cast("timestamp"), col("close"))
      .orderBy("date").collect()
    val dates = rows.map(_.getTimestamp(0))
    val closes = rows.map(_.getDouble(1))
    val (state, cost) = SimulatedAnnealing.optimize("AAPL", dates, closes,
      st => MACross(math.max(1, st(0).toInt), math.max(1, st(1).toInt)),
      5000.0, Seq((30, 40, 2), (40, 50, 5)), Array(30.0, 45.0),
      iterations = 30, seed = 7L)
    assert(cost >= 5000.0) // found something profitable, deterministic seed
    assert(state.length === 2)
  }
}
