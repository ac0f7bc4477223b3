package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.engine.TradingSession
import graft.model.{SignalBar, Time, TradeDay}
import graft.strategy.{MACross, StepState, StepStrategy, TenPercent}

/** Structured-Streaming mode (SURVEY.md §2.10): the batch engine's two
  * per-ticker stages held as `GroupState` in `flatMapGroupsWithState` —
  * the built-in strategies' rule state ([[maCrossSignals]],
  * [[tenPercentSignals]]) and the TradingSession fold ([[foldStream]]).
  * Neither has a streaming copy of its own: both step the same code the
  * batch and in-task paths run.
  * The reference's trading loop is an event-time-ordered single pass
  * with evolving state — exactly this shape.
  *
  * Ordering contract: bars must arrive in event-time order per ticker
  * *across* batches (daily bars, no late data — the reference's world,
  * custom_strats.py:56-62). Within a batch rows are sorted here. Late
  * rows older than the ticker's last processed bar are dropped, not
  * applied retroactively.
  */
object StreamingBacktest {

  /** Mutable per-ticker streaming state: the live session plus the last
    * processed event time and emitted-trade watermarks for incremental
    * output. Java-serialized (see the encoder note below) — which is also
    * what makes the @SerialVersionUID fail-fast on old checkpoints work.
    */
  // serialVersionUID bumped when the key semantics changed from
  // epoch-millis to epoch-nanos: a checkpoint written with the old keys
  // must fail fast on restore (InvalidClassException) instead of
  // silently re-emitting the whole trade history with ns/ms-confused
  // keys
  @SerialVersionUID(2L)
  final class SessionState(val session: TradingSession) extends Serializable {
    var lastTime: Long = Long.MinValue
    var emittedTrades: Map[Long, (Double, Double, Double)] = Map.empty
  }

  // Java serialization, not Kryo: Kryo's field serializers corrupt Scala
  // mutable collections (ArrayDeque/PriorityQueue) on state-store
  // round-trips; the per-ticker state is tiny (open orders + trade log),
  // so the encoder cost is irrelevant.
  implicit private val sessionStateEnc: Encoder[SessionState] =
    Encoders.javaSerialization[SessionState]

  /** Fold a stream of signal bars into incremental TradeDay updates.
    * Emits a row per trade date whose (buy, sell, shares) triple changed
    * in this batch — retroactive mutations (stop-loss exits at past
    * dates) re-emit the affected date, so a downstream upsert sink stays
    * correct.
    */
  def foldStream(signals: Dataset[SignalBar],
      initialAmount: Double): Dataset[TradeDay] = {
    val spark = signals.sparkSession
    import spark.implicits._
    signals.groupByKey(_.ticker).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (ticker: String, rows: Iterator[SignalBar], state: GroupState[SessionState]) =>
        val st = state.getOption.getOrElse(
          new SessionState(new TradingSession(initialAmount)))
        // epoch-nanos keys throughout (graft.model.Time): getTime is
        // millisecond-truncated — ms-keyed state would collide distinct
        // sub-ms trade dates and re-emit them truncated
        val batch = rows.toArray.sortBy(r => Time.epochNanos(r.date))
        batch.foreach { r =>
          if (Time.epochNanos(r.date) >= st.lastTime) {
            if (r.isBuy) st.session.buy(r.date, r.close)
            else if (r.isSell) st.session.sell(r.date, r.close)
            st.session.observeBar(r.date, r.close)
            st.lastTime = Time.epochNanos(r.date)
          }
        }
        // snapshot current trade-day triples; emit changed/new dates
        val buy = st.session.buyOrders.map { case (d, o) =>
          Time.epochNanos(d) -> o.numShares }
        val sell = st.session.sellOrders.map { case (d, e) =>
          Time.epochNanos(d) -> e.fold(_.numShares, identity)
        }
        val owned = st.session.orders.sharesOwned.map { case (d, v) =>
          Time.epochNanos(d) -> v }
        val dates = (buy.keySet ++ sell.keySet ++ owned.keySet).toVector.sorted
        val out = dates.flatMap { ns =>
          val triple = (buy.getOrElse(ns, 0.0), sell.getOrElse(ns, 0.0),
            owned.getOrElse(ns, Double.NaN))
          if (st.emittedTrades.get(ns).contains(triple)) None
          else {
            st.emittedTrades += ns -> triple
            Some(TradeDay(ticker, Time.fromEpochNanos(ns),
              buy.get(ns), sell.get(ns), owned.get(ns)))
          }
        }
        state.update(st)
        out.iterator
    }
  }

  /** Per-ticker streaming state for [[ruleSignals]]: the strategy's own
    * rule state plus the last processed event time. Old checkpoints hold
    * the per-rule state classes this one replaced; those classes are
    * gone, so restoring such a checkpoint fails on deserialization
    * (ClassNotFoundException) instead of restoring a wrong state.
    */
  @SerialVersionUID(1L)
  final class RuleSlot(val rule: StepState) extends Serializable {
    var lastTime: Long = Long.MinValue
  }

  implicit private val ruleSlotEnc: Encoder[RuleSlot] =
    Encoders.javaSerialization[RuleSlot]

  /** A built-in strategy's signals over a bar stream: the same per-ticker
    * rule the batch and in-task paths run, with its state kept in
    * `GroupState` between micro-batches, so a stream yields the batch
    * signals row for row however it is split. Each batch is sorted per
    * ticker; rows older than the ticker's last processed bar are dropped
    * (the [[foldStream]] ordering contract). Null closes step as NaN.
    */
  private def ruleSignals(bars: DataFrame,
      strategy: StepStrategy): Dataset[SignalBar] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val slim = bars.select(col("ticker"),
        col("date").cast("timestamp").as("date"),
        col("close").cast("double").as("close"))
      .as[(String, Timestamp, Option[Double])]
    slim.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (ticker: String, rows: Iterator[(String, Timestamp, Option[Double])],
          state: GroupState[RuleSlot]) =>
        val st = state.getOption.getOrElse(new RuleSlot(strategy.start(ticker)))
        val batch = rows.toArray
        scala.util.Sorting.stableSort(batch,
          (a: (String, Timestamp, Option[Double]),
              b: (String, Timestamp, Option[Double])) =>
            Time.epochNanos(a._2) < Time.epochNanos(b._2))
        val out = batch.iterator.flatMap { case (_, date, close) =>
          if (Time.epochNanos(date) < st.lastTime) None
          else {
            st.lastTime = Time.epochNanos(date)
            st.rule.step(date, close.getOrElse(Double.NaN))
          }
        }.toVector
        state.update(st)
        out.iterator
    }
  }

  /** [[graft.strategy.MACross]] over a bar stream. */
  def maCrossSignals(bars: DataFrame, fast: Int,
      lagging: Int): Dataset[SignalBar] =
    ruleSignals(bars, MACross(fast, lagging))

  /** [[graft.strategy.TenPercent]] over a bar stream. */
  def tenPercentSignals(bars: DataFrame, sellMult: Double = 1.05,
      buyMult: Double = 0.99): Dataset[SignalBar] =
    ruleSignals(bars, TenPercent(sellMult, buyMult))

  /** Watermarked sliding-window aggregation over an event stream — the
    * streaming analogue of the rolling-indicator family (SURVEY.md §2.6):
    * per-window count/sum/min/max of `value`.
    */
  def windowedIndicator(events: Dataset[_], window_ : String, slide: String,
      watermark: String): Dataset[_] = {
    events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
  }
}
