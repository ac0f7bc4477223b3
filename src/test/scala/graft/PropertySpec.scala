package graft

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.BacktestEngine
import graft.opt.LocalBacktest
import graft.strategy.{MACross, TenPercent}

/** Property tests (SURVEY.md §5 implication 2): on arbitrary price paths
  * the distributed-signal semantics must agree with the task-local
  * evaluator. Raw ScalaCheck generators with fixed seeds (the
  * scalatest-scalacheck bridge is not in the offline dependency set).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val priceSeries: Gen[List[Double]] = for {
    n <- Gen.choose(30, 120)
    start <- Gen.choose(10.0, 200.0)
    steps <- Gen.listOfN(n, Gen.choose(-0.05, 0.05))
  } yield steps.scanLeft(start) { (p, s) =>
    math.max(0.01, math.rint(p * (1 + s) * 100) / 100)
  }

  private def samples(count: Int): Seq[List[Double]] =
    (1 to count).flatMap(i =>
      priceSeries.apply(Gen.Parameters.default, Seed(42L + i)))

  private def toBars(closes: List[Double]): Seq[(String, Timestamp, Double)] =
    closes.zipWithIndex.map { case (c, i) =>
      ("t", new Timestamp(1700000000000L + i * 86400000L), c)
    }

  test("engine == local evaluator on random price paths (MACross)") {
    samples(15).foreach { closes =>
      val bars = toBars(closes).toDF("ticker", "date", "close")
      val engineNw = BacktestEngine.finalNetWorth(
        BacktestEngine.run(bars, MACross(5, 15), 1000.0))
        .collect()(0).getDouble(1)
      val arr = toBars(closes)
      val localNw = LocalBacktest.finalNetWorth("t",
        arr.map(_._2).toArray, arr.map(_._3).toArray,
        MACross(5, 15), 1000.0)
      assert(engineNw === localNw, s"series head ${closes.take(5)}")
    }
  }

  /** The pandas `rolling(n).mean()` crossover as Spark window
    * expressions: an oracle for the MACross rule written independently
    * of it (null-free paths, where the two formulations must agree).
    */
  private def windowMACross(bars: org.apache.spark.sql.DataFrame, fast: Int,
      lagging: Int): Seq[(Timestamp, Double, Boolean)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = graft.ts.TimeSeriesOps.keyed()
    val cross = coalesce(
      graft.ts.TimeSeriesOps.rollingMean(col("close"), fast, w) >
        graft.ts.TimeSeriesOps.rollingMean(col("close"), lagging, w),
      lit(false))
    val edge = !(col("cross") <=> lag(col("cross"), 1).over(w))
    bars.withColumn("cross", cross)
      .withColumn("isBuy", col("cross") && edge)
      .withColumn("isSell", !col("cross") && edge)
      .withColumn("firstBuy", min(when(col("isBuy"), col("date")))
        .over(Window.partitionBy("ticker")))
      .filter(col("isBuy") ||
        (col("isSell") && col("date") > col("firstBuy")))
      .orderBy("date").collect()
      .map(r => (r.getAs[Timestamp]("date"), r.getAs[Double]("close"),
        r.getAs[Boolean]("isBuy"))).toSeq
  }

  test("MACross rule equals the rolling-window formulation on random paths") {
    samples(8).zip(Seq((5, 15), (2, 4), (3, 3), (15, 5), (1, 2), (7, 20),
        (4, 9), (2, 30))).foreach { case (closes, (fast, lagging)) =>
      val arr = toBars(closes)
      val rule = MACross(fast, lagging).signals("t", arr.map(_._2).toArray,
        arr.map(_._3).toArray).map(s => (s.date, s.close, s.isBuy)).toSeq
      assert(rule === windowMACross(arr.toDF("ticker", "date", "close"),
        fast, lagging), s"MACross($fast, $lagging) on ${closes.take(5)}")
    }
  }

  test("pyFloorDiv equals CPython float floor-division (exact-rational check)") {
    val session = new graft.engine.TradingSession(1.0)
    // quotients stay below 2^53: above it CPython's fmod-based floordiv
    // legitimately differs from the exact-rational floor (the quotient
    // double can no longer represent every integer), so the exact-floor
    // comparison is only a valid oracle in the integer-exact range
    val gen = for {
      a <- Gen.chooseNum(1e-3, 1e12)
      b <- Gen.chooseNum(1e-3, 1e4)
    } yield (a, b)
    val cases = Gen.listOfN(500, gen)
      .apply(Gen.Parameters.default, Seed(7L)).get
    // true floor via EXACT binary values (new BigDecimal(d), not the
    // shortest-decimal valueOf) and exact integral division
    def trueFloor(a: Double, b: Double): Double =
      new java.math.BigDecimal(a)
        .divideToIntegralValue(new java.math.BigDecimal(b))
        .doubleValue()
    cases.foreach { case (a, b) =>
      assert(session.pyFloorDiv(a, b) === trueFloor(a, b), s"a=$a b=$b")
    }
    // boundary families floor(a/b) gets wrong: quotient rounds up across
    // an integer (1.0/0.001 rounds to 1000.0, true floor is 999)
    assert(session.pyFloorDiv(1.0, 0.001) === 999.0)
    assert(session.pyFloorDiv(1e16 + 2, 6.98) === trueFloor(1e16 + 2, 6.98))
  }

  test("Time.epochNanos roundtrip preserves full precision") {
    val gen = Gen.chooseNum(0L, 4102444800L * 1000000000L) // to 2100
    Gen.listOfN(200, gen).apply(Gen.Parameters.default, Seed(11L)).get
      .foreach { ns =>
        val t = graft.model.Time.fromEpochNanos(ns)
        assert(graft.model.Time.epochNanos(t) === ns)
      }
  }

  test("gram_stats equals a naive Scala fold on random token arrays") {
    import org.apache.spark.sql.functions._
    val tokGen: Gen[List[String]] = for {
      n <- Gen.choose(0, 60)
      // small alphabet forces heavy repetition — the interesting regime
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "ab", "xyz", "q1"))
    } yield toks
    val docs = (0 until 60).map(i =>
      (i.toLong, tokGen.apply(Gen.Parameters.default, Seed(100L + i))
        .getOrElse(Nil)))
    val got = docs.toDF("doc_id", "toks")
      .select(col("doc_id"),
        graft.functions.TextFunctions.gramStats(col("toks")).as("g"))
      .orderBy("doc_id")
      .select("doc_id", "g.*").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    docs.zip(got).foreach { case ((id, toks), row) =>
      val uni = toks.groupBy(identity).view.mapValues(_.size)
      val bigs = toks.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toList
      val big = bigs.groupBy(identity).view.mapValues(_.size)
      val want = (id, toks.size.toLong, uni.size.toLong,
        (uni.values ++ Seq(0)).max.toLong, bigs.size.toLong,
        big.size.toLong, (big.values ++ Seq(0)).max.toLong)
      assert(row === want, s"doc $id toks=$toks")
    }
  }

  test("PII redaction is idempotent and leaves no matchable residue") {
    import org.apache.spark.sql.functions._
    import graft.textstats.TextStats
    val texts = Seq(
      "a@b.co c@d.org twice", "1.2.3.4 then 10.20.30.40",
      "555-0100 555-0199", "mixed x@y.io at 8.8.8.8 call 555-1234",
      "plain text, no secrets", "")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val once = texts.toDF("id", "t")
      .select(col("id"), TextStats.redactPii(col("t")).as("r1"))
      .withColumn("r2", TextStats.redactPii(col("r1")))
      .withColumn("left_emails", TextStats.piiCount(col("r1"), TextStats.emailRe))
      .withColumn("left_ips", TextStats.piiCount(col("r1"), TextStats.ipv4Re))
      .withColumn("left_phones", TextStats.piiCount(col("r1"), TextStats.phoneRe))
      .collect()
    once.foreach { r =>
      assert(r.getString(1) === r.getString(2), "redaction not idempotent")
      assert(r.getLong(3) === 0L && r.getLong(4) === 0L && r.getLong(5) === 0L,
        s"residual PII in '${r.getString(1)}'")
    }
  }

  test("engine == local evaluator on random price paths (TenPercent)") {
    samples(10).foreach { closes =>
      val bars = toBars(closes).toDF("ticker", "date", "close")
      val engineNw = BacktestEngine.finalNetWorth(
        BacktestEngine.run(bars, TenPercent(), 500.0))
        .collect()(0).getDouble(1)
      val arr = toBars(closes)
      val localNw = LocalBacktest.finalNetWorth("t",
        arr.map(_._2).toArray, arr.map(_._3).toArray,
        TenPercent(), 500.0)
      assert(engineNw === localNw, s"series head ${closes.take(5)}")
    }
  }
}
