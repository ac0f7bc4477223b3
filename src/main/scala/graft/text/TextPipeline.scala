package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analytics pipeline (reference common_stock.py, SURVEY.md §2.9/A4-A6,
  * J4/J5): regex extraction → dimension-table filters → semi/anti joins →
  * top-k frequency. Everything is built from codegen'd `functions._`
  * primitives; the dimension tables are broadcast-join sides.
  */
object TextPipeline {

  /** Emoji + URL strip (reference common_stock.py:114-126). */
  val emojiUrlPattern: String =
    "[\\x{1F600}-\\x{1F64F}\\x{1F300}-\\x{1F5FF}\\x{1F680}-\\x{1F6FF}" +
      "\\x{1F1E0}-\\x{1F1FF}]+|" +
      "(https?:\\/\\/)?([\\da-z\\.-]+)\\.([a-z\\.]{2,7})([\\/\\w#?=%+&;.-]*)"

  def stripEmojiUrls(c: Column): Column = regexp_replace(c, emojiUrlPattern, "")

  /** Ticker-token extraction (reference common_stock.py:125-127): matches
    * of `([A-Z]{2,5})|\$([A-z]+)`; python joins the two groups, which for
    * the `$word` branch drops the `$` — equivalent to taking the whole
    * match and trimming a leading `$`.
    */
  def extractTickerTokens(c: Column): Column =
    transform(
      regexp_extract_all(stripEmojiUrls(c), lit("([A-Z]{2,5})|\\$([A-z]+)"), lit(0)),
      m => ltrim(m, "$"))

  /** The symbol-dimension cleanup (reference common_stock.py:93-103):
    * left-join listed⋈traded on (symbol, security name), drop symbols with
    * `.`/`$` or length ≤ 1, anti-join ≤4-char stop words.
    */
  def buildTickerDimension(listed: DataFrame, traded: DataFrame,
      stopWords: DataFrame): DataFrame = {
    val joined = listed.join(broadcast(traded),
      Seq("symbol", "security name"), "left")
    val filtered = joined
      .filter(!coalesce(col("symbol").rlike("[.$]"), lit(true))
        && length(col("symbol")) > 1)
    val shortStops = stopWords.filter(length(col("word")) <= 4)
    filtered.join(broadcast(shortStops),
      filtered("symbol") === shortStops("word"), "left_anti")
  }

  /** Generic whitespace tokenization with lowercase normalization. */
  def tokenize(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** Row-wise combination of token-list columns — the reference's
    * `tickers_df.sum(axis=1)` over title/selftext/comments lists
    * (common_stock.py:186, A6): plain array columns concat, nested
    * (array-of-array) columns flatten first.
    */
  def combineTokenColumns(df: DataFrame, cols: Seq[String],
      out: String = "tokens"): DataFrame = {
    val parts = cols.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(_, _), _) => flatten(col(c))
        case _ => col(c)
      }
    }
    df.withColumn(out, concat(parts: _*))
  }

  /** The full most-common-tickers pipeline (reference
    * Reddit_Stocks.most_common, common_stock.py:163-195, SURVEY §3.3):
    * per-source frames of raw text columns → extract ticker tokens →
    * union across sources (U2) → row-wise combine (A5/A6) → explode →
    * keep tokens whose lowercase is a known ticker (J5) and not
    * blacklisted (J4) → deterministic top-k count (A4/O1).
    */
  def mostCommonTickers(sources: Seq[DataFrame], textCols: Seq[String],
      tickers: DataFrame, tickerCol: String, blacklist: Seq[String],
      k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val tokenized = sources.map { df =>
      // column shapes as in the reference frame (FIXTURES.md A6): raw
      // STRING → extract; ARRAY<STRING> → pre-tokenized; nested
      // ARRAY<ARRAY<STRING>> (per-comment lists) → flatten
      val parts = textCols.map { c =>
        df.schema(c).dataType match {
          case StringType => extractTickerTokens(col(c))
          case ArrayType(ArrayType(_, _), _) => flatten(col(c))
          case _ => col(c)
        }
      }
      df.select(concat(parts: _*).as("tokens"))
    }
    val all = tokenized.reduce(_ unionByName _)
    val tokens = all.select(explode(col("tokens")).as("token"))
      .withColumn("token_lc", lower(col("token")))
      .filter(!col("token_lc").isin(blacklist: _*))
    val dim = tickers.select(lower(col(tickerCol)).as("token_lc")).distinct()
    tokens.join(broadcast(dim), Seq("token_lc"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
  }
}
