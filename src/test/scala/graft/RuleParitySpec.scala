package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.api.Backtest
import graft.engine.BacktestEngine
import graft.model.{Bar, SignalBar}
import graft.opt.{GridSearch, LocalBacktest}
import graft.strategy.{MACross, StepStrategy, TenPercent}
import graft.streaming.StreamingBacktest

/** Missing closes give the same answer on every path that runs a built-in
  * rule: the batch engine, the in-task evaluator of the optimizer and the
  * streaming signals + fold.
  */
class RuleParitySpec extends SparkTestBase {
  import spark.implicits._

  private def bars(tk: String, closes: Seq[Option[Double]]): Seq[Bar] =
    closes.zipWithIndex.map { case (c, i) =>
      Bar(tk, Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"), None, None,
        None, c, None)
    }

  private def nanClosed(b: Seq[Bar]): (Array[Timestamp], Array[Double]) =
    (b.map(_.date).toArray, b.map(_.close.getOrElse(Double.NaN)).toArray)

  /** Streamed signals and trade days of `strategy` over `input`, fed in
    * two micro-batches split before bar `cut`.
    */
  private def streamed(input: Seq[Bar], strategy: MACross, cut: Int,
      name: String): (Seq[SignalBar], Seq[String]) = {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Bar]
    val sigQ = StreamingBacktest.maCrossSignals(src.toDF(), strategy.fast,
        strategy.lagging)
      .writeStream.format("memory").queryName(s"${name}_sig")
      .outputMode("append").start()
    val foldQ = StreamingBacktest.foldStream(
        StreamingBacktest.maCrossSignals(src.toDF(), strategy.fast,
        strategy.lagging), 1000.0)
      .writeStream.format("memory").queryName(s"${name}_fold")
      .outputMode("append").start()
    Seq(input.take(cut), input.drop(cut)).foreach { b =>
      src.addData(b: _*)
      sigQ.processAllAvailable()
      foldQ.processAllAvailable()
    }
    sigQ.stop()
    foldQ.stop()
    val sigs = spark.table(s"${name}_sig").as[SignalBar].orderBy("date")
      .collect().toSeq
    val trades = spark.table(s"${name}_fold").dropDuplicates().orderBy("date")
      .as[graft.model.TradeDay].collect().map(_.toString).toSeq
    (sigs, trades)
  }

  test("mid-series null close: engine, in-task and streaming agree (MACross(1, 3))") {
    val input = bars("N", Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0),
      Some(5.0), None, Some(6.0), Some(7.0)))
    val strategy = MACross(1, 3)
    val (dates, closes) = nanClosed(input)

    // the null bar drops the fast mean, so it is the sell edge, at NaN
    val local = strategy.signals("N", dates, closes)
    assert(local.map(s => (s.date, s.isBuy)).toSeq ===
      Seq((dates(2), true), (dates(5), false)))
    assert(local(1).close.isNaN)

    val res = BacktestEngine.run(input.toDF(), strategy, 1000.0)
    val batchSignals = strategy.signals(input.toDF()).collect().toSeq
    val engineOrders = res.orders.collect().sortBy(_.seq).map(_.toString).toSeq
    val engineTrades = res.foldCache.get.collect().flatMap(_.trades)
      .map(_.toString).toSeq
    val engineNw = BacktestEngine.finalNetWorth(res).collect()(0).getDouble(1)
    res.unpersist()

    assert(batchSignals.map(_.toString) === local.map(_.toString).toSeq)
    assert(BacktestEngine.runSession("N", local, 1000.0).orders
      .map(_.toString) === engineOrders)
    val localNw = LocalBacktest.finalNetWorth("N", dates, closes, strategy,
      1000.0)
    assert(!engineNw.isNaN)
    assert(localNw === engineNw)

    val (streamSignals, streamTrades) = streamed(input, strategy, 6, "midnull")
    assert(streamSignals.map(_.toString) === local.map(_.toString).toSeq)
    assert(streamTrades === engineTrades)
    val streamNw = BacktestEngine.withNetWorth(
        BacktestEngine.normalize(input.toDF()),
        spark.table("midnull_fold").dropDuplicates(), 1000.0)
      .orderBy(col("date").desc).first().getAs[Double]("net_worth")
    assert(streamNw === engineNw)
  }

  test("null-led ticker: in-task net worth equals the engine's, grid best is not NaN") {
    val input = bars("L", Seq(None, None, Some(10.0), Some(11.0), Some(9.5),
      Some(12.0), Some(10.5), Some(13.0)))
    val (dates, closes) = nanClosed(input)
    Seq[StepStrategy](TenPercent(), MACross(1, 2)).foreach { strategy =>
      val bt = new Backtest(1000.0, strategy, input.toDF())
      val engineNw = bt.finalNetWorth().collect()(0).getDouble(1)
      bt.unpersist()
      val localNw = LocalBacktest.finalNetWorth("L", dates, closes, strategy,
        1000.0)
      assert(!localNw.isNaN, s"$strategy")
      assert(localNw === engineNw, s"$strategy")
    }
    // TenPercent buys the NaN first bar, so its net worth stays the
    // initial amount; a NaN grid point would win max_by (Spark orders NaN
    // above every number)
    val best = GridSearch.best(GridSearch.evaluate(input.toDF(),
        st => TenPercent(st(0), 0.99), 1000.0, Seq((1.01, 1.1, 0.04))))
      .collect()
    assert(best.map(_.getAs[Double]("best_net_worth")).toSeq === Seq(1000.0))
  }
}
