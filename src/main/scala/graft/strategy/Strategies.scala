package graft.strategy

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{SignalBar, Time}

/** A strategy turns a long bar frame (ticker, date, close, …) into signal
  * rows. The reference's "UDF" surface is Python subclassing with an
  * imperative buy/sell loop (reference strats.py:285-291,
  * custom_strats.py:41-62); here a strategy only emits signals and the
  * sequential order-fill lives once in the engine (graft.engine), not per
  * strategy. A user strategy may be any DataFrame logic; the built-in
  * ones are [[StepStrategy]] rules.
  */
trait Strategy extends Serializable {

  /** Emit the (sparse) signal rows: one row per date the trading loop must
    * act on, flagged isBuy/isSell, ordered per ticker by the engine.
    */
  def signals(bars: DataFrame): Dataset[SignalBar]
}

/** One ticker's running rule state: fed that ticker's bars one at a time
  * in date order, a missing close as NaN, it returns the signal the bar
  * triggers. Serializable so streaming can keep it as `GroupState`.
  */
trait StepState extends Serializable {
  def step(date: Timestamp, close: Double): Option[SignalBar]
}

/** A strategy written once as a per-ticker [[StepState]]. Every path runs
  * that one rule:
  *
  *  - batch: `signals(bars)` steps it over each ticker's series from
  *    [[TickerSeries.of]] (one shuffle);
  *  - in task: the optimizer (graft.opt) steps it over one ticker's
  *    arrays with `signals(ticker, dates, closes)`;
  *  - streaming: graft.streaming.StreamingBacktest keeps the state in
  *    `GroupState` between micro-batches.
  */
trait StepStrategy extends Strategy {

  /** A fresh rule state for one ticker. */
  def start(ticker: String): StepState

  /** The rule over one ticker's date-sorted bars. */
  def signals(ticker: String, dates: Array[Timestamp],
      closes: Array[Double]): Array[SignalBar] = {
    val st = start(ticker)
    val out = Array.newBuilder[SignalBar]
    var i = 0
    while (i < dates.length) {
      st.step(dates(i), closes(i)) match {
        case Some(s) => out += s
        case None =>
      }
      i += 1
    }
    out.result()
  }

  final def signals(bars: DataFrame): Dataset[SignalBar] = {
    import bars.sparkSession.implicits._
    TickerSeries.of(bars).flatMap(s => signals(s.ticker, s.dates, s.closes))
  }
}

/** One ticker's bars as date-ordered arrays: dates as epoch nanos (exact
  * through the encoder, where a timestamp array would keep micros) and
  * closes with null as NaN.
  */
final case class TickerSeries(ticker: String, nanos: Array[Long],
    closes: Array[Double]) {
  def dates: Array[Timestamp] = nanos.map(Time.fromEpochNanos)
}

object TickerSeries {

  /** Group a long bar frame into one series per ticker: one
    * `groupByKey(ticker)` shuffle, then an in-task sort on the
    * full-precision key (`getTime` alone is millisecond-truncated and
    * would tie sub-ms bars). A ticker's history is bounded (daily bars:
    * thousands of rows), so holding it in one task is safe; tickers are
    * the parallel axis.
    */
  def of(bars: DataFrame): Dataset[TickerSeries] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars.select(col("ticker"), col("date").cast("timestamp"),
        col("close").cast("double"))
      .as[(String, Timestamp, java.lang.Double)]
      .groupByKey(_._1)
      .mapGroups { (ticker, it) =>
        val rows = it.toArray.sortBy(r => Time.epochNanos(r._2))
        TickerSeries(ticker, rows.map(r => Time.epochNanos(r._2)),
          rows.map(r => if (r._3 == null) Double.NaN else r._3.doubleValue))
      }
  }
}

/** Moving-average crossover (reference custom_strats.py:7-62): buy when
  * the fast SMA edge-crosses above the lagging SMA, sell on the downward
  * edge; sells are honored only strictly after the first buy (by date),
  * so a ticker that never buys never trades.
  *
  * Pandas parity: `rolling(n).mean()` is missing until n closes fill the
  * window and whenever one of them is missing; `NaN > NaN` is False, so a
  * missing mean means "no cross"; `cross != cross.shift(1)` is True on
  * the first row (`False != NaN`), so the first bar is always an edge.
  * The mean sums the window oldest first from 0.0 and divides once, the
  * order in which Spark's sliding window frame aggregates, so the values
  * equal a `rowsBetween(-(n-1), 0)` window average bit for bit.
  */
final case class MACross(fast: Int, lagging: Int) extends StepStrategy {
  require(fast >= 1 && lagging >= 1,
    s"window widths must be >= 1, got fast=$fast lagging=$lagging")

  def start(ticker: String): StepState = new MACross.State(ticker, fast, lagging)
}

object MACross {

  @SerialVersionUID(1L)
  final class State(ticker: String, fast: Int, lagging: Int) extends StepState {
    private val keep = math.max(fast, lagging)
    // each close is written at slot and slot + keep, so the last n closes
    // are always one contiguous run ending at slot + keep
    private val ring = new Array[Double](2 * keep)
    private var bars = 0L
    private var prevCross = false
    private var firstBuyNanos = Long.MaxValue

    private def mean(n: Int, newest: Int): Double =
      if (bars < n) Double.NaN
      else {
        var s = 0.0
        var j = newest - n + 1
        while (j <= newest) { s += ring(j); j += 1 }
        s / n
      }

    def step(date: Timestamp, close: Double): Option[SignalBar] = {
      val slot = (bars % keep).toInt
      ring(slot) = close
      ring(slot + keep) = close
      bars += 1
      // a NaN close makes every mean over it NaN, and NaN > x is false
      val cross = mean(fast, slot + keep) > mean(lagging, slot + keep)
      val edge = bars == 1 || cross != prevCross
      prevCross = cross
      if (!edge) None
      else {
        val ns = Time.epochNanos(date)
        if (cross) {
          firstBuyNanos = math.min(firstBuyNanos, ns)
          Some(SignalBar(ticker, date, close, isBuy = true, isSell = false))
        } else if (ns > firstBuyNanos)
          Some(SignalBar(ticker, date, close, isBuy = false, isSell = true))
        else None
      }
    }
  }
}

/** Threshold strategy (reference custom_strats.py:65-101): buy the first
  * bar; then sell when close ≥ anchor × sellMult and buy back when close ≤
  * anchor × buyMult, alternating, where the anchor is the close of the
  * last trade row (SURVEY.md §7.4 quirk 10). A NaN anchor (a null-led
  * ticker) silences every later comparison, as in pandas.
  */
final case class TenPercent(sellMult: Double = 1.05, buyMult: Double = 0.99)
    extends StepStrategy {
  def start(ticker: String): StepState =
    new TenPercent.State(ticker, sellMult, buyMult)
}

object TenPercent {

  @SerialVersionUID(1L)
  final class State(ticker: String, sellMult: Double, buyMult: Double)
      extends StepState {
    private var started = false
    private var anchor = Double.NaN
    private var lastMoveSell = false

    def step(date: Timestamp, close: Double): Option[SignalBar] = {
      val sell = started && !lastMoveSell && close >= anchor * sellMult
      val buy = !started || (lastMoveSell && close <= anchor * buyMult)
      if (!buy && !sell) None
      else {
        started = true
        anchor = close
        lastMoveSell = sell
        Some(SignalBar(ticker, date, close, isBuy = buy, isSell = sell))
      }
    }
  }
}
