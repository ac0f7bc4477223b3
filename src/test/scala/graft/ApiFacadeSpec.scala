package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.Backtest
import graft.sources.Sources
import graft.strategy.MACross
import graft.text.TextPipeline
import graft.ts.TimeSeriesOps

/** The reference-shaped facade must reproduce the same goldens as the
  * lower-level engine calls, and the full most-common pipeline must
  * compose U2/A5/A6/J4/J5/A4 end to end.
  */
class ApiFacadeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val aapl10y = TimeSeriesOps.lastYears(
    Sources.readOhlcvCsv(spark, "/root/reference/strat_backtest/data/aapl.csv"),
    10).cache()

  test("facade run/finalNetWorth reproduces the golden") {
    val bt = new Backtest(5000.0, MACross(36, 40), aapl10y)
    val daily = bt.run()
    assert(daily.columns.contains("net_worth"))
    val nw = bt.finalNetWorth().collect()(0).getDouble(1)
    assert(nw === 1283666.449897766)
    assert(bt.orders().count() > 0)
  }

  test("facade metrics without an index yields null beta, real drawdown") {
    val bt = new Backtest(5000.0, MACross(36, 40), aapl10y)
    val m = bt.metrics().collect()(0)
    assert(m.getAs[Any]("beta") === null)
    assert(m.getAs[Double]("max_drawdown_pct") < 0)
    assert(m.getAs[Double]("end_amount") === 1283666.449897766)
  }

  test("facade optimize finds the reference grid optimum") {
    val bt = new Backtest(5000.0, MACross(36, 40), aapl10y)
    val best = bt.optimize(st => MACross(st(0).toInt, st(1).toInt),
      Seq((30, 40, 2), (40, 50, 5))).collect()(0)
    assert(best.getAs[Seq[Double]]("best_state") === Seq(36.0, 40.0))
    assert(best.getAs[Double]("best_net_worth") === 1283666.449897766)
  }

  test("facade optimize dispatches sim_anneal, matching the local chain") {
    val bt = new Backtest(5000.0, MACross(36, 40), aapl10y)
    val row = bt.optimize(
      st => MACross(math.max(1, st(0).toInt), math.max(1, st(1).toInt)),
      Seq((30, 40, 2), (40, 50, 5)), optType = "sim_anneal",
      initState = Array(30.0, 45.0), iterations = 30, seed = 7L).collect()(0)
    // distributed per-ticker chain must equal the driver-local chain
    val rows = aapl10y.select(col("date").cast("timestamp"), col("close"))
      .orderBy("date").collect()
    val (state, cost) = graft.opt.SimulatedAnnealing.optimize("aapl",
      rows.map(_.getTimestamp(0)), rows.map(_.getDouble(1)),
      st => MACross(math.max(1, st(0).toInt), math.max(1, st(1).toInt)),
      5000.0, Seq((30, 40, 2), (40, 50, 5)), Array(30.0, 45.0),
      iterations = 30, seed = 7L)
    assert(row.getAs[Seq[Double]]("best_state") === state.toSeq)
    assert(row.getAs[Double]("best_net_worth") === cost)
    intercept[IllegalArgumentException] {
      bt.optimize(st => MACross(1, 2), Seq((1, 2, 1)), optType = "nope")
    }
  }

  test("facade optimizeCommonStocks mines mentions then optimizes them") {
    val posts = Seq(
      ("AAPL to the moon", "buy AAPL"),
      ("AAPL earnings", "GME time"))
      .toDF("title", "selftext")
    val dims = Seq("aapl", "gme").toDF("symbol")
    val bars = aapl10y.withColumn("ticker", lit("AAPL"))
      .unionByName(aapl10y.withColumn("ticker", lit("GME")))
    val bt = new Backtest(5000.0, MACross(36, 40), bars)
    val best = bt.optimizeCommonStocks(Seq(posts), Seq("title", "selftext"),
      dims, "symbol", blacklist = Nil, k = 1,
      st => MACross(st(0).toInt, st(1).toInt),
      Seq((30, 40, 2), (40, 50, 5))).collect()
    // only the top-1 mentioned ticker survives the semi-join
    assert(best.map(_.getString(0)).toList === List("AAPL"))
    assert(best(0).getAs[Seq[Double]]("best_state") === Seq(36.0, 40.0))
    assert(best(0).getAs[Double]("best_net_worth") === 1283666.449897766)
  }

  test("mostCommonTickers composes union + combine + joins + topk") {
    // title/selftext raw text, comments nested list-of-token-lists —
    // exactly the reference's frame shape (FIXTURES.md A6)
    val sub1 = Seq(
      ("AAPL to the moon", "buy AAPL and TSLA",
        Seq(Seq("AAPL"), Seq("FOMO"))),
      ("GME time", "", Seq.empty[Seq[String]]))
      .toDF("title", "selftext", "comments")
    val sub2 = Seq(
      ("TSLA dip", "TSLA TSLA", Seq(Seq("AAPL"))))
      .toDF("title", "selftext", "comments")
    val dims = Seq("aapl", "tsla", "gme", "fomo").toDF("symbol")
    val top = TextPipeline.mostCommonTickers(Seq(sub1, sub2),
      textCols = Seq("title", "selftext", "comments"),
      tickers = dims, tickerCol = "symbol",
      blacklist = Seq("fomo"), k = 3).collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toList ===
      List(("AAPL", 4L), ("TSLA", 4L), ("GME", 1L)))
  }
}
