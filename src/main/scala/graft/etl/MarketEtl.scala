package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** The reference ETL (jobs/etl/glue_spark_trades_etl.py) re-expressed
  * Spark-first: one declarative plan from schema'd CSV scan to
  * partitioned parquet, so Catalyst fuses normalization + DQ into the
  * scan (single pass, codegen'd, no driver-side loops).
  */
object MarketEtl {

  /** Binance trades CSV schema (glue_spark_trades_etl.py:20-32). */
  val tradesCsvSchema: StructType = StructType(Seq(
    StructField("trade_id", LongType),
    StructField("price", DoubleType),
    StructField("quantity", DoubleType),
    StructField("quote_qty", DoubleType),
    StructField("time", LongType),
    StructField("is_buyer_maker", StringType),
    StructField("is_best_match", StringType)))

  /** The symbol partition directory. Binance symbols may carry digits
    * (`1INCHUSDT`, `1000SATSUSDT`). */
  private val SymbolDir = "symbol=([A-Z0-9]+)/"

  /** Distributed, schema'd CSV read over a Hive-partitioned lake layout
    * (`.../symbol=X/year=Y/month=M/` csv files), recovering partition
    * metadata from file paths with codegen'd regexps — the reference's
    * input contract (glue_spark_trades_etl.py:63-82). */
  def readTradesCsv(spark: SparkSession, inputPath: String): DataFrame = {
    val df = spark.read
      .option("recursiveFileLookup", "true")
      .schema(tradesCsvSchema)
      .csv(inputPath)
      .withColumn("_input_file", input_file_name())
    df.withColumn("symbol", regexp_extract(col("_input_file"), SymbolDir, 1))
      .withColumn("year", regexp_extract(col("_input_file"), "year=(\\d+)/", 1).cast(IntegerType))
      .withColumn("month", regexp_extract(col("_input_file"), "month=(\\d+)/", 1).cast(IntegerType))
  }

  /** Normalization (glue_spark_trades_etl.py:84-117): epoch-ms →
    * timestamp, day extraction, string → boolean flags, load date. */
  def normalize(df: DataFrame): DataFrame =
    df.withColumn("trade_time",
        timestamp_micros(expr("time * 1000")).cast(TimestampNTZType))
      .withColumn("day", dayofmonth(col("trade_time")))
      .withColumn("is_buyer_maker_b", col("is_buyer_maker") === "True")
      .withColumn("is_best_match_b", col("is_best_match") === "True")
      .withColumn("load_dt", to_date(col("trade_time")))
      .select(
        col("trade_id"), col("trade_time"), col("symbol"), col("price"),
        col("quantity"), col("quote_qty"),
        col("is_buyer_maker_b").as("is_buyer_maker"),
        col("is_best_match_b").as("is_best_match"),
        col("load_dt"), col("year"), col("month"), col("day"))

  /** The reference DQ gate (glue_spark_trades_etl.py:125-172) as a
    * single fused filter: non-null timestamp/price/quantity, positive
    * price/quantity, calendar-valid partition values (leap-year aware).
    */
  def dqFilter(df: DataFrame): DataFrame =
    df.filter(
      col("trade_time").isNotNull &&
      col("price").isNotNull && col("quantity").isNotNull &&
      (col("price") > 0) && (col("quantity") > 0) &&
      validCalendar(col("year"), col("month"), col("day")))

  /** Partition distribution audit (glue_spark_trades_etl.py:185-188). */
  def partitionAudit(df: DataFrame): DataFrame =
    df.groupBy("year", "month", "day", "symbol").count()
      .orderBy("year", "month", "day", "symbol")

  /** Partitioned-parquet lake sink (glue_spark_trades_etl.py:194-197):
    * Hive layout year/month/day/symbol = partition pruning for every
    * downstream query. The pre-write repartition on the partition
    * columns routes each output partition to one task → one compact
    * file per partition dir instead of one-per-input-task small-file
    * sprawl. (For a hot partition at 100 TB, add a bounded salt to the
    * repartition keys to split it across N files.) */
  def writePartitioned(df: DataFrame, outputPath: String): Unit =
    df.repartition(col("year"), col("month"), col("day"), col("symbol"))
      .write.mode("overwrite")
      .partitionBy("year", "month", "day", "symbol")
      .parquet(outputPath)

  /** Full pipeline: CSV lake → clean partitioned parquet. */
  def run(spark: SparkSession, inputPath: String, outputPath: String): Unit =
    writePartitioned(dqFilter(normalize(readTradesCsv(spark, inputPath))), outputPath)

  // -------------------------------------------------------------------
  // klines (OHLCV bar) data type. The reference downloader
  // parameterizes data_type through one URL/path template
  // (glue_binance_downloader.py:59-76: trades | aggTrades | klines
  // share the lake layout, differing only in filename and row schema)
  // — so the engine ingests bars through the SAME partitioned-lake
  // machinery: identical path-metadata extraction, partition audit and
  // sink; only the schema, normalization and DQ predicate are
  // bar-specific.
  // -------------------------------------------------------------------

  /** Binance monthly klines CSV schema (12 columns; the trailing
    * `ignore` field is carried as string and dropped at normalize). */
  val klinesCsvSchema: StructType = StructType(Seq(
    StructField("open_time", LongType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", DoubleType),
    StructField("close_time", LongType),
    StructField("quote_volume", DoubleType),
    StructField("count", LongType),
    StructField("taker_buy_volume", DoubleType),
    StructField("taker_buy_quote_volume", DoubleType),
    StructField("ignore", StringType)))

  /** Schema'd klines CSV read over the same Hive-partitioned layout as
    * [[readTradesCsv]] — the lake contract is data_type-independent. */
  def readKlinesCsv(spark: SparkSession, inputPath: String): DataFrame = {
    val df = spark.read
      .option("recursiveFileLookup", "true")
      .schema(klinesCsvSchema)
      .csv(inputPath)
      .withColumn("_input_file", input_file_name())
    df.withColumn("symbol", regexp_extract(col("_input_file"), SymbolDir, 1))
      .withColumn("year", regexp_extract(col("_input_file"), "year=(\\d+)/", 1).cast(IntegerType))
      .withColumn("month", regexp_extract(col("_input_file"), "month=(\\d+)/", 1).cast(IntegerType))
  }

  /** Klines normalization: epoch-ms bar open/close → timestamps, day
    * extraction, load date, Binance's `count` → `n_trades`, `ignore`
    * dropped. Mirrors [[normalize]]'s shape so the two data types land
    * in the lake with the same partition-column contract. */
  def normalizeKlines(df: DataFrame): DataFrame =
    df.withColumn("bar_time",
        timestamp_micros(expr("open_time * 1000")).cast(TimestampNTZType))
      .withColumn("bar_close_time",
        timestamp_micros(expr("close_time * 1000")).cast(TimestampNTZType))
      .withColumn("day", dayofmonth(col("bar_time")))
      .withColumn("load_dt", to_date(col("bar_time")))
      .select(
        col("symbol"), col("bar_time"), col("bar_close_time"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("quote_volume"),
        col("count").as("n_trades"),
        col("taker_buy_volume"), col("taker_buy_quote_volume"),
        col("load_dt"), col("year"), col("month"), col("day"))

  /** Klines DQ gate: bar-internal OHLC coherence (high dominates,
    * low is dominated), non-negative volumes/counts, calendar-valid
    * partition values — the bar-shaped analogue of [[dqFilter]]. */
  def dqFilterKlines(df: DataFrame): DataFrame =
    df.filter(
      col("bar_time").isNotNull &&
      col("open").isNotNull && col("close").isNotNull &&
      (col("high") >= col("open")) && (col("high") >= col("close")) &&
      (col("high") >= col("low")) &&
      (col("low") <= col("open")) && (col("low") <= col("close")) &&
      (col("volume") >= 0) && (col("quote_volume") >= 0) &&
      (col("n_trades") >= 0) &&
      validCalendar(col("year"), col("month"), col("day")))

  /** Full klines pipeline: CSV lake → clean partitioned parquet
    * through the shared [[writePartitioned]] sink. */
  def runKlines(spark: SparkSession, inputPath: String, outputPath: String): Unit =
    writePartitioned(dqFilterKlines(normalizeKlines(readKlinesCsv(spark, inputPath))),
      outputPath)

  // -------------------------------------------------------------------
  // aggTrades data type — the downloader's third and last data_type
  // (glue_binance_downloader.py:59-76: trades | aggTrades | klines all
  // flow through the one URL/path template). Binance's published
  // monthly aggTrades CSV: consecutive same-price same-side fills
  // compacted to one row carrying the [first, last] trade-id range.
  // Same lake contract as the other two: only schema, normalization
  // and the DQ predicate are aggTrades-specific.
  // -------------------------------------------------------------------

  /** Binance monthly aggTrades CSV schema (8 columns, no header). */
  val aggTradesCsvSchema: StructType = StructType(Seq(
    StructField("agg_trade_id", LongType),
    StructField("price", DoubleType),
    StructField("quantity", DoubleType),
    StructField("first_trade_id", LongType),
    StructField("last_trade_id", LongType),
    StructField("transact_time", LongType),
    StructField("is_buyer_maker", BooleanType),
    StructField("is_best_match", BooleanType)))

  /** Schema'd aggTrades CSV read over the shared Hive-partitioned
    * layout — path metadata extraction identical to [[readTradesCsv]]/
    * [[readKlinesCsv]]. */
  def readAggTradesCsv(spark: SparkSession, inputPath: String): DataFrame = {
    val df = spark.read
      .option("recursiveFileLookup", "true")
      .schema(aggTradesCsvSchema)
      .csv(inputPath)
      .withColumn("_input_file", input_file_name())
    df.withColumn("symbol", regexp_extract(col("_input_file"), SymbolDir, 1))
      .withColumn("year", regexp_extract(col("_input_file"), "year=(\\d+)/", 1).cast(IntegerType))
      .withColumn("month", regexp_extract(col("_input_file"), "month=(\\d+)/", 1).cast(IntegerType))
  }

  /** aggTrades normalization: epoch-ms transact_time → NTZ timestamp,
    * derived notional (quote_qty = price·quantity, the same derivation
    * [[normalize]] applies to trades), day extraction, load date —
    * landing bars, trades and agg-trades in the lake with one
    * partition-column contract. */
  def normalizeAggTrades(df: DataFrame): DataFrame =
    df.withColumn("trade_time",
        timestamp_micros(expr("transact_time * 1000")).cast(TimestampNTZType))
      .withColumn("day", dayofmonth(col("trade_time")))
      .withColumn("load_dt", to_date(col("trade_time")))
      .select(
        col("agg_trade_id"), col("symbol"), col("trade_time"),
        col("price"), col("quantity"),
        (col("price") * col("quantity")).as("quote_qty"),
        col("first_trade_id"), col("last_trade_id"),
        col("is_buyer_maker"), col("is_best_match"),
        col("load_dt"), col("year"), col("month"), col("day"))

  /** aggTrades DQ gate: positive price/quantity, a coherent trade-id
    * range (first ≤ last — the aggregation invariant), calendar-valid
    * partition values. */
  def dqFilterAggTrades(df: DataFrame): DataFrame =
    df.filter(
      col("trade_time").isNotNull &&
      col("price").isNotNull && (col("price") > 0) &&
      col("quantity").isNotNull && (col("quantity") > 0) &&
      col("first_trade_id").isNotNull && col("last_trade_id").isNotNull &&
      (col("first_trade_id") <= col("last_trade_id")) &&
      validCalendar(col("year"), col("month"), col("day")))

  /** Full aggTrades pipeline: CSV lake → clean partitioned parquet
    * through the shared [[writePartitioned]] sink. */
  def runAggTrades(spark: SparkSession, inputPath: String, outputPath: String): Unit =
    writePartitioned(
      dqFilterAggTrades(normalizeAggTrades(readAggTradesCsv(spark, inputPath))),
      outputPath)

  // -------------------------------------------------------------------
  // The same pipeline semantics over the driver's synthetic `events`
  // table (events ≈ trades: event_type≈symbol, value≈price, props.k≈
  // quantity). Used by every market-analytics query + its oracle.
  // -------------------------------------------------------------------

  /** Normalized + DQ-filtered trades view of `events`. */
  def eventsAsTrades(events: DataFrame): DataFrame = {
    val kStr = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
    val qty  = when(length(kStr) > 0, kStr.cast(DoubleType))
    events.select(
        col("event_id").as("trade_id"),
        col("ts").as("trade_time"),
        col("event_type").as("symbol"),
        col("value").as("price"),
        qty.as("quantity"),
        (col("value") * qty).as("quote_qty"),
        ((col("event_id") % 2) === 0).as("is_buyer_maker"),
        year(col("ts")).as("year"),
        month(col("ts")).as("month"),
        dayofmonth(col("ts")).as("day"))
      .filter(col("trade_time").isNotNull && (col("price") > 0) && (col("quantity") > 0))
  }

  /** Oracle-side twin of [[eventsAsTrades]] as a DuckDB CTE. */
  val tradesCte: String =
    """WITH trades AS (
      |  SELECT event_id AS trade_id, ts AS trade_time, event_type AS symbol,
      |         value AS price,
      |         TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE) AS quantity,
      |         value * TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE) AS quote_qty,
      |         (event_id % 2 = 0) AS is_buyer_maker,
      |         CAST(year(ts) AS INTEGER) AS year,
      |         CAST(month(ts) AS INTEGER) AS month,
      |         CAST(day(ts) AS INTEGER) AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND value > 0
      |    AND TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE) > 0
      |)""".stripMargin
}
