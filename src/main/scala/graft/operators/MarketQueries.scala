package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Op, Tables}
import graft.etl.MarketEtl
import graft.functions._

/** The reference's 9 Athena analytics patterns
  * (sql/athena_sample_queries.sql) re-expressed as declarative Spark
  * plans over the `events`-as-trades view, plus the ETL pipeline
  * surface itself as verifiable queries.
  *
  * Scale notes: every query is a single scan → (optional window/join)
  * → partial+final aggregation; no collect, no re-scan subqueries. The
  * whale query (reference uses APPROX_PERCENTILE + self-join = two
  * scans) is a window over one shuffle instead.
  */
object MarketQueries {

  private def trades(s: SparkSession, dir: String): DataFrame =
    MarketEtl.eventsAsTrades(Tables.events(s, dir))

  private val cte = MarketEtl.tradesCte

  // --- ETL surface -----------------------------------------------------

  /** Full normalize+DQ pipeline output (reference ETL on events). */
  private def etlNormalize(s: SparkSession, dir: String): DataFrame =
    trades(s, dir)
      .withColumn("load_dt", to_date(col("trade_time")))
      .filter(validCalendar(col("year"), col("month"), col("day")))
      .orderBy("trade_id")

  private val etlNormalizeSql =
    s"""$cte
       |SELECT trade_id, trade_time, symbol, price, quantity, quote_qty,
       |       is_buyer_maker, year, month, day,
       |       CAST(trade_time AS DATE) AS load_dt
       |FROM trades
       |WHERE ${validCalendarSql("year", "month", "day")}
       |ORDER BY trade_id""".stripMargin

  // --- etl_normalize_klines: the downloader's second data_type --------
  // The reference parameterizes data_type through one URL/path
  // template (glue_binance_downloader.py:59-76) — bars ride the same
  // lake machinery as trades. Here the driver corpus is trades-shaped,
  // so the registry entry BUILDS the klines input (deterministic
  // minute bars: open/close by (time, id) row_number, exact-decimal
  // volume sums) and then runs the REAL ingestion tier on it —
  // MarketEtl.normalizeKlines (epoch-ms → timestamp, day/load_dt) +
  // dqFilterKlines (OHLC coherence gate) — the code path a production
  // klines feed enters through readKlinesCsv (EtlSpec-pinned).

  private def etlNormalizeKlines(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
      .withColumn("bar_ts", date_trunc("minute", col("trade_time")).cast(TimestampNTZType))
    val wa = Window.partitionBy("symbol", "bar_ts")
      .orderBy(col("trade_time"), col("trade_id"))
    val wz = Window.partitionBy("symbol", "bar_ts")
      .orderBy(col("trade_time").desc, col("trade_id").desc)
    val raw = t
      .withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_z", row_number().over(wz))
      .groupBy(col("symbol"), col("bar_ts"))
      .agg(
        max(when(col("rn_a") === 1, col("price"))).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max(when(col("rn_z") === 1, col("price"))).as("close"),
        dsum(col("quantity")).as("volume"),
        dsum(col("quote_qty")).as("quote_volume"),
        count(lit(1)).as("count"),
        dsum(when(!col("is_buyer_maker"), col("quantity")).otherwise(lit(0.0)))
          .as("taker_buy_volume"),
        dsum(when(!col("is_buyer_maker"), col("quote_qty")).otherwise(lit(0.0)))
          .as("taker_buy_quote_volume"))
      .withColumn("open_time", unix_millis(col("bar_ts").cast(TimestampType)))
      .withColumn("close_time", col("open_time") + 59999)
      .withColumn("year", year(col("bar_ts")))
      .withColumn("month", month(col("bar_ts")))
      .drop("bar_ts")
    MarketEtl.dqFilterKlines(MarketEtl.normalizeKlines(raw))
      .orderBy("symbol", "bar_time")
  }

  private val etlNormalizeKlinesSql =
    s"""$cte,
       |seq AS (
       |  SELECT symbol, date_trunc('minute', trade_time) AS bar_ts,
       |         price, quantity, quote_qty, is_buyer_maker,
       |         row_number() OVER (PARTITION BY symbol, date_trunc('minute', trade_time)
       |           ORDER BY trade_time, trade_id) AS rn_a,
       |         row_number() OVER (PARTITION BY symbol, date_trunc('minute', trade_time)
       |           ORDER BY trade_time DESC, trade_id DESC) AS rn_z
       |  FROM trades),
       |bars AS (
       |  SELECT symbol, bar_ts,
       |         MAX(CASE WHEN rn_a = 1 THEN price END) AS open,
       |         MAX(price) AS high, MIN(price) AS low,
       |         MAX(CASE WHEN rn_z = 1 THEN price END) AS close,
       |         ${dsumSql("quantity")} AS volume,
       |         ${dsumSql("quote_qty")} AS quote_volume,
       |         COUNT(*) AS n_trades,
       |         ${dsumSql("CASE WHEN NOT is_buyer_maker THEN quantity ELSE 0 END")} AS taker_buy_volume,
       |         ${dsumSql("CASE WHEN NOT is_buyer_maker THEN quote_qty ELSE 0 END")} AS taker_buy_quote_volume
       |  FROM seq GROUP BY 1, 2)
       |SELECT symbol, bar_ts AS bar_time,
       |       bar_ts + to_milliseconds(59999) AS bar_close_time,
       |       open, high, low, close, volume, quote_volume, n_trades,
       |       taker_buy_volume, taker_buy_quote_volume,
       |       CAST(bar_ts AS DATE) AS load_dt,
       |       CAST(year(bar_ts) AS INTEGER) AS year,
       |       CAST(month(bar_ts) AS INTEGER) AS month,
       |       CAST(day(bar_ts) AS INTEGER) AS day
       |FROM bars
       |WHERE bar_ts IS NOT NULL AND open IS NOT NULL AND close IS NOT NULL
       |  AND high >= open AND high >= close AND high >= low
       |  AND low <= open AND low <= close
       |  AND volume >= 0 AND quote_volume >= 0 AND n_trades >= 0
       |  AND ${validCalendarSql("CAST(year(bar_ts) AS INTEGER)",
             "CAST(month(bar_ts) AS INTEGER)", "CAST(day(bar_ts) AS INTEGER)")}
       |ORDER BY symbol, bar_time""".stripMargin

  // --- etl_normalize_aggtrades: the downloader's third data_type ------
  // Binance aggTrades compact consecutive same-price same-side fills
  // into one row carrying the [first, last] trade-id range
  // (glue_binance_downloader.py:59-76 parameterizes the same template
  // with data_type=aggTrades). The driver corpus is trades-shaped, so
  // the entry BUILDS the aggTrades feed with the aggregation's own
  // definition — a gaps-and-islands pass over the per-symbol
  // (trade_time, trade_id) order, grouping maximal same-(price, side)
  // runs — then runs the REAL ingestion tier on it:
  // MarketEtl.normalizeAggTrades (epoch-ms → timestamp, notional
  // derivation, day/load_dt) + dqFilterAggTrades (id-range coherence
  // gate), the code path a production feed enters through
  // readAggTradesCsv (EtlSpec-pinned). Quantities are whole numbers in
  // this corpus (props.k), so SUM(quantity) is exact in double and
  // engine-portable without the decimal machinery; quote_qty is a
  // per-row IEEE product, identical in both engines.

  private def etlNormalizeAggTrades(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
    val wAll = Window.partitionBy("symbol")
      .orderBy(col("trade_time"), col("trade_id"))
    val wRun = Window.partitionBy("symbol", "price", "is_buyer_maker")
      .orderBy(col("trade_time"), col("trade_id"))
    val raw = t
      .withColumn("island", row_number().over(wAll) - row_number().over(wRun))
      .groupBy(col("symbol"), col("price"), col("is_buyer_maker"), col("island"))
      .agg(
        min("trade_id").as("agg_trade_id"),
        sum("quantity").as("quantity"),
        min("trade_id").as("first_trade_id"),
        max("trade_id").as("last_trade_id"),
        max("trade_time").as("t_last"))
      .withColumn("transact_time", unix_millis(col("t_last").cast(TimestampType)))
      .withColumn("is_best_match", lit(true))
      .withColumn("year", year(col("t_last")))
      .withColumn("month", month(col("t_last")))
      .select("agg_trade_id", "symbol", "price", "quantity",
        "first_trade_id", "last_trade_id", "transact_time",
        "is_buyer_maker", "is_best_match", "year", "month")
    MarketEtl.dqFilterAggTrades(MarketEtl.normalizeAggTrades(raw))
      .orderBy("symbol", "agg_trade_id")
  }

  private val etlNormalizeAggTradesSql =
    s"""$cte,
       |seq AS (
       |  SELECT symbol, price, quantity, is_buyer_maker, trade_time, trade_id,
       |         row_number() OVER (PARTITION BY symbol
       |             ORDER BY trade_time, trade_id)
       |       - row_number() OVER (PARTITION BY symbol, price, is_buyer_maker
       |             ORDER BY trade_time, trade_id) AS island
       |  FROM trades),
       |runs AS (
       |  SELECT symbol, price, is_buyer_maker, island,
       |         MIN(trade_id) AS agg_trade_id,
       |         SUM(quantity) AS quantity,
       |         MIN(trade_id) AS first_trade_id,
       |         MAX(trade_id) AS last_trade_id,
       |         MAX(trade_time) AS t_last
       |  FROM seq GROUP BY 1,2,3,4)
       |SELECT agg_trade_id, symbol,
       |       date_trunc('milliseconds', t_last) AS trade_time,
       |       price, quantity, price * quantity AS quote_qty,
       |       first_trade_id, last_trade_id, is_buyer_maker,
       |       TRUE AS is_best_match,
       |       CAST(date_trunc('milliseconds', t_last) AS DATE) AS load_dt,
       |       CAST(year(t_last) AS INTEGER) AS year,
       |       CAST(month(t_last) AS INTEGER) AS month,
       |       CAST(day(t_last) AS INTEGER) AS day
       |FROM runs
       |WHERE price > 0 AND quantity > 0 AND first_trade_id <= last_trade_id
       |  AND ${validCalendarSql("CAST(year(t_last) AS INTEGER)",
             "CAST(month(t_last) AS INTEGER)", "CAST(day(t_last) AS INTEGER)")}
       |ORDER BY symbol, agg_trade_id""".stripMargin

  private def etlPartitionAudit(s: SparkSession, dir: String): DataFrame =
    trades(s, dir).groupBy("year", "month", "day", "symbol")
      .agg(count(lit(1)).as("n"))
      .orderBy("year", "month", "day", "symbol")

  private val etlPartitionAuditSql =
    s"""$cte
       |SELECT year, month, day, symbol, COUNT(*) AS n
       |FROM trades GROUP BY 1,2,3,4 ORDER BY 1,2,3,4""".stripMargin

  // --- etl_incremental: idempotent load planning -----------------------
  // The reference downloader keeps a manifest and skips files already
  // in the lake (glue_binance_downloader.py:60-140, skip-if-exists
  // against the S3 listing). Re-expressed Spark-first: a load ledger of
  // already-ingested partition keys, anti-joined against the incoming
  // feed, yields exactly the partitions still to load — re-running
  // ingestion can never duplicate one. Here the ledger is simulated as
  // "everything before Jan 21 is loaded"; the lake-side runtime twin
  // (ledger parquet + left_anti + dynamic partition overwrite) lives in
  // graft.etl.IncrementalIngest and is EtlSpec-pinned.

  private def etlIncremental(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
    val ledger = t
      .filter(col("trade_time") < lit("2024-01-21 00:00:00").cast(TimestampNTZType))
      .select("symbol", "year", "month", "day").distinct()
    t.groupBy("symbol", "year", "month", "day")
      .agg(count(lit(1)).as("n_rows"), dsum(col("quote_qty")).as("value_loaded"))
      .join(ledger, Seq("symbol", "year", "month", "day"), "left_anti")
      .orderBy("symbol", "year", "month", "day")
  }

  private val etlIncrementalSql =
    s"""$cte, ledger AS (
       |  SELECT DISTINCT symbol, year, month, day FROM trades
       |  WHERE trade_time < TIMESTAMP '2024-01-21 00:00:00'),
       |incoming AS (
       |  SELECT symbol, year, month, day, COUNT(*) AS n_rows,
       |         ${dsumSql("quote_qty")} AS value_loaded
       |  FROM trades GROUP BY 1,2,3,4)
       |SELECT symbol, year, month, day, n_rows, value_loaded
       |FROM incoming i
       |WHERE NOT EXISTS (SELECT 1 FROM ledger l
       |                  WHERE l.symbol = i.symbol AND l.year = i.year
       |                    AND l.month = i.month AND l.day = i.day)
       |ORDER BY symbol, year, month, day""".stripMargin

  // --- etl_skipping_scan: file-level data-skipping ----------------------
  // The reference's selectivity story is Athena partition pruning
  // (athena_sample_queries.sql:189-193); partitioning only prunes its
  // own columns. etl.DataSkipping adds the lakehouse stats-sidecar
  // complement — per-file min/max + bloom — and this entry proves the
  // whole cycle is semantically transparent: build a range-clustered
  // lake, ANALYZE it, prune files against the sidecar, scan only the
  // survivors, and the oracle (plain SQL over the full table, no
  // skipping anywhere) must hash-match. The lake+sidecar build is a
  // memoized maintenance step (the index build/serve split, same as
  // the ANN index caches); the query path pays only sidecar-prune +
  // pruned scan. Bounds derive from the memoized max-id statistic via
  // the shared TableStats ledger, integer arithmetic on both engines.

  private[graft] def skippingLake(s: SparkSession, dir: String): String =
    graft.etl.TableStats.scalar(s, dir, "skipping_lake") {
      val root = s"target/tmp/skiplake-${Integer.toHexString(dir.hashCode)}"
      trades(s, dir)
        .repartitionByRange(8, col("trade_id"))
        .sortWithinPartitions("trade_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(root)
      graft.etl.DataSkipping.analyze(s, root, Seq("trade_id", "symbol"))
      root
    }

  private def etlSkippingScan(s: SparkSession, dir: String): DataFrame = {
    val root = skippingLake(s, dir)
    val mx = graft.etl.TableStats.rowCount(s, s"$dir#max_trade_id")(
      trades(s, dir).agg(max("trade_id")).head().getLong(0))
    val lo = mx * 25 / 100
    val hi = mx * 35 / 100
    val files = graft.etl.DataSkipping.pruneRange(
      s, root, "trade_id", lo.toString, hi.toString)
    graft.etl.DataSkipping.readPruned(s, root, files)
      // file skipping is a superset filter — the exact predicate stays
      .filter(col("trade_id").between(lo, hi))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"), dsum(col("quote_qty")).as("value_scanned"))
      .orderBy("symbol")
  }

  private val etlSkippingScanSql =
    s"""$cte, mx AS (SELECT MAX(trade_id) AS m FROM trades)
       |SELECT symbol, COUNT(*) AS n, ${dsumSql("quote_qty")} AS value_scanned
       |FROM trades, mx
       |WHERE trade_id BETWEEN (m * 25) // 100 AND (m * 35) // 100
       |GROUP BY symbol ORDER BY symbol""".stripMargin

  // --- Q1: partition-pruned counts + volume (athena_sample_queries.sql:9-21)

  private def q1(s: SparkSession, dir: String): DataFrame =
    trades(s, dir).groupBy("year", "month", "symbol")
      .agg(
        count(lit(1)).as("trade_count"),
        dsum(col("quote_qty")).as("total_volume"),
        min("price").as("low_price"),
        max("price").as("high_price"))
      .orderBy("year", "month", "symbol")

  private val q1Sql =
    s"""$cte
       |SELECT year, month, symbol, COUNT(*) AS trade_count,
       |       ${dsumSql("quote_qty")} AS total_volume,
       |       MIN(price) AS low_price, MAX(price) AS high_price
       |FROM trades GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin

  // --- Q2: minute VWAP bars (athena_sample_queries.sql:32-45)

  private def q2(s: SparkSession, dir: String): DataFrame =
    trades(s, dir).filter(col("symbol") === "purchase")
      .groupBy(date_trunc("minute", col("trade_time")).as("minute"))
      .agg(
        count(lit(1)).as("num_trades"),
        dsum(col("quantity")).as("total_volume"),
        dsum(col("quote_qty")).as("pv"),
        min("price").as("low"),
        max("price").as("high"))
      .withColumn("vwap", ratio(col("pv"), col("total_volume")))
      .drop("pv")
      .orderBy("minute")

  private val q2Sql =
    s"""$cte
       |SELECT minute, num_trades, total_volume,
       |       ${ratioSql("pv", "total_volume")} AS vwap, low, high
       |FROM (
       |  SELECT date_trunc('minute', trade_time) AS minute,
       |         COUNT(*) AS num_trades,
       |         ${dsumSql("quantity")} AS total_volume,
       |         ${dsumSql("quote_qty")} AS pv,
       |         MIN(price) AS low, MAX(price) AS high
       |  FROM trades WHERE symbol = 'purchase' GROUP BY 1)
       |ORDER BY minute""".stripMargin

  // --- Q3: order-flow maker/taker breakdown (athena_sample_queries.sql:56-70)

  private def q3(s: SparkSession, dir: String): DataFrame =
    trades(s, dir)
      .withColumn("order_type",
        when(col("is_buyer_maker"), "Sell (Market Sell)")
          .otherwise("Buy (Market Buy)"))
      .groupBy("symbol", "order_type")
      .agg(
        count(lit(1)).as("trade_count"),
        dsum(col("quantity")).as("total_quantity"),
        dsum(col("quote_qty")).as("total_value"),
        count(lit(1)).cast(DoubleType).as("cnt_d"))
      .withColumn("avg_trade_size", ratio(col("total_quantity"), col("cnt_d")))
      .drop("cnt_d")
      .orderBy("symbol", "order_type")

  private val q3Sql =
    s"""$cte
       |SELECT symbol, order_type, trade_count, total_quantity, total_value,
       |       ${ratioSql("total_quantity", "cnt_d")} AS avg_trade_size
       |FROM (
       |  SELECT symbol,
       |         CASE WHEN is_buyer_maker THEN 'Sell (Market Sell)'
       |              ELSE 'Buy (Market Buy)' END AS order_type,
       |         COUNT(*) AS trade_count,
       |         ${dsumSql("quantity")} AS total_quantity,
       |         ${dsumSql("quote_qty")} AS total_value,
       |         CAST(COUNT(*) AS DOUBLE) AS cnt_d
       |  FROM trades GROUP BY 1,2)
       |ORDER BY symbol, order_type""".stripMargin

  // --- Q4: hourly volume heatmap (athena_sample_queries.sql:80-90)

  private def q4(s: SparkSession, dir: String): DataFrame =
    trades(s, dir)
      .groupBy(col("symbol"), hour(col("trade_time")).as("hour_utc"))
      .agg(
        count(lit(1)).as("trade_count"),
        dsum(col("quote_qty")).as("volume"),
        dsum(col("price")).as("psum"),
        count(lit(1)).cast(DoubleType).as("cnt_d"))
      .withColumn("avg_price", ratio(col("psum"), col("cnt_d")))
      .drop("psum", "cnt_d")
      .orderBy("symbol", "hour_utc")

  private val q4Sql =
    s"""$cte
       |SELECT symbol, hour_utc, trade_count, volume,
       |       ${ratioSql("psum", "cnt_d")} AS avg_price
       |FROM (
       |  SELECT symbol, CAST(hour(trade_time) AS INTEGER) AS hour_utc,
       |         COUNT(*) AS trade_count,
       |         ${dsumSql("quote_qty")} AS volume,
       |         ${dsumSql("price")} AS psum,
       |         CAST(COUNT(*) AS DOUBLE) AS cnt_d
       |  FROM trades GROUP BY 1,2)
       |ORDER BY symbol, hour_utc""".stripMargin

  // --- Q5: whale detection (athena_sample_queries.sql:100-121).
  // Reference: APPROX_PERCENTILE CTE + re-join. A naive percent_rank
  // window sorts ALL rows into one reducer per symbol — at 100 TB
  // that's a handful of reducers sorting everything. Instead:
  //  1. one aggregate pass: per-symbol row count + a conservative
  //     approximate threshold (accuracy-bounded sketch at p≈0.985) +
  //     the exact count below that threshold;
  //  2. exact rank window over only the ~1.5% candidate tail;
  //  3. global percent_rank reconstructed as (n_below + rank_in_tail)
  //     — identical to ranking the full table (no tie can straddle the
  //     threshold: candidates are exactly the rows ≥ threshold).

  private def q5(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
    val stats = t.groupBy("symbol").agg(
      count(lit(1)).as("n_sym"),
      percentile_approx(col("quote_qty"), lit(0.985), lit(10000)).as("t0"))
    // two scans total: the sketch pass and the tail pass — the exact
    // below-threshold count is n_sym minus the tail size, so no third
    // scan is needed.
    val tail = t.join(broadcast(stats), "symbol")
      .filter(col("quote_qty") >= col("t0"))
    val wsym = Window.partitionBy("symbol")
    val w = wsym.orderBy("quote_qty")
    tail
      .withColumn("n_below", col("n_sym") - count(lit(1)).over(wsym))
      .withColumn("pr",
        when(col("n_sym") > 1,
          (col("n_below") + rank().over(w) - 1).cast(DoubleType) /
            (col("n_sym") - 1).cast(DoubleType))
          .otherwise(lit(0.0)))
      .filter(col("pr") >= 0.99)
      .select("symbol", "trade_id", "trade_time", "price", "quantity",
        "quote_qty", "is_buyer_maker")
      .orderBy(col("quote_qty").desc, col("trade_id"))
      .limit(100)
  }

  private val q5Sql =
    s"""$cte
       |SELECT symbol, trade_id, trade_time, price, quantity, quote_qty,
       |       is_buyer_maker
       |FROM (
       |  SELECT *, percent_rank() OVER (PARTITION BY symbol ORDER BY quote_qty) AS pr
       |  FROM trades)
       |WHERE pr >= 0.99
       |ORDER BY quote_qty DESC, trade_id LIMIT 100""".stripMargin

  // --- Q6: multi-symbol minute-VWAP correlation prep
  // (athena_sample_queries.sql:131-152): CTE + chained FULL OUTER JOINs.

  private def minuteVwap(t: DataFrame, sym: String, alias: String): DataFrame =
    t.filter(col("symbol") === sym)
      .groupBy(date_trunc("minute", col("trade_time")).as("minute"))
      .agg(dsum(col("quote_qty")).as("pv"), dsum(col("quantity")).as("q"))
      .select(col("minute"), ratio(col("pv"), col("q")).as(s"${alias}_vwap"))

  private def q6(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
    minuteVwap(t, "click", "click")
      .join(minuteVwap(t, "purchase", "purchase"), Seq("minute"), "full_outer")
      .join(minuteVwap(t, "view", "view"), Seq("minute"), "full_outer")
      .orderBy("minute")
  }

  private val q6Sql = {
    def mv(sym: String, alias: String) =
      s"""SELECT minute, ${ratioSql("pv", "q")} AS ${alias}_vwap FROM (
         |  SELECT date_trunc('minute', trade_time) AS minute,
         |         ${dsumSql("quote_qty")} AS pv, ${dsumSql("quantity")} AS q
         |  FROM trades WHERE symbol = '$sym' GROUP BY 1)""".stripMargin
    s"""$cte
       |SELECT minute, click_vwap, purchase_vwap, view_vwap
       |FROM (${mv("click", "click")}) c
       |FULL OUTER JOIN (${mv("purchase", "purchase")}) p USING (minute)
       |FULL OUTER JOIN (${mv("view", "view")}) v USING (minute)
       |ORDER BY minute""".stripMargin
  }

  // --- Q7: data-quality audit (athena_sample_queries.sql:162-178) —
  // runs on the *unfiltered* normalized feed so the invalid counts can
  // be non-zero.

  private def q7(s: SparkSession, dir: String): DataFrame = {
    val kStr = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
    val qty  = when(length(kStr) > 0, kStr.cast(DoubleType))
    Tables.events(s, dir)
      .select(
        col("event_id").as("trade_id"), col("event_type").as("symbol"),
        col("value").as("price"), qty.as("quantity"),
        year(col("ts")).as("year"), month(col("ts")).as("month"),
        dayofmonth(col("ts")).as("day"))
      .groupBy("year", "month", "day", "symbol")
      .agg(
        count(lit(1)).as("row_count"),
        countDistinct(col("trade_id")).as("unique_trades"),
        (count(lit(1)) - countDistinct(col("trade_id"))).as("duplicate_count"),
        min("price").as("min_price"),
        max("price").as("max_price"),
        sum(when(col("price") <= 0, 1L).otherwise(0L)).as("invalid_price_count"),
        sum(when(col("quantity") <= 0, 1L).otherwise(0L)).as("invalid_qty_count"))
      .orderBy("year", "month", "day", "symbol")
  }

  private val q7Sql =
    """SELECT CAST(year(ts) AS INTEGER) AS year,
      |       CAST(month(ts) AS INTEGER) AS month,
      |       CAST(day(ts) AS INTEGER) AS day,
      |       event_type AS symbol,
      |       COUNT(*) AS row_count,
      |       COUNT(DISTINCT event_id) AS unique_trades,
      |       COUNT(*) - COUNT(DISTINCT event_id) AS duplicate_count,
      |       MIN(value) AS min_price,
      |       MAX(value) AS max_price,
      |       CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_price_count,
      |       CAST(SUM(CASE WHEN TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_qty_count
      |FROM events
      |GROUP BY 1,2,3,4 ORDER BY 1,2,3,4""".stripMargin

  // --- Q8: partition-pruning probe (athena_sample_queries.sql:189-193).
  // year=2024 ∧ month=1 is expressed as a raw-timestamp range so the
  // predicate reaches the parquet scan (PushedFilters) — the whole
  // point of the reference query; a filter on the *derived* year/month
  // columns would scan everything. Equivalent output, pruned scan.

  private def q8(s: SparkSession, dir: String): DataFrame =
    MarketEtl.eventsAsTrades(
        Tables.eventsRange(s, dir, "2024-01-01T00:00:00", "2024-02-01T00:00:00"))
      .filter(col("symbol") === "click")
      .agg(count(lit(1)).as("trade_count"))

  private val q8Sql =
    s"""$cte
       |SELECT COUNT(*) AS trade_count FROM trades
       |WHERE year = 2024 AND month = 1 AND symbol = 'click'""".stripMargin

  // --- Q9: daily summary + sell-pressure pct (athena_sample_queries.sql:209-223, 330-342)

  private def q9(s: SparkSession, dir: String): DataFrame =
    trades(s, dir)
      .groupBy("year", "month", "day", "symbol")
      .agg(
        count(lit(1)).as("trades"),
        dsum(col("quote_qty")).as("volume"),
        min("price").as("low"),
        max("price").as("high"),
        dsum(col("quote_qty")).as("pv"),
        dsum(col("quantity")).as("q"),
        dsum(when(col("is_buyer_maker"), col("quote_qty")).otherwise(0.0)).as("sell_pv"))
      .withColumn("vwap", ratio(col("pv"), col("q")))
      .withColumn("pct_sell_pressure",
        round6(col("sell_pv") / when(col("volume") =!= 0.0, col("volume")) * 100))
      .drop("pv", "q", "sell_pv")
      .orderBy("year", "month", "day", "symbol")

  private val q9Sql =
    s"""$cte
       |SELECT year, month, day, symbol, trades, volume, low, high,
       |       ${ratioSql("pv", "q")} AS vwap,
       |       ${round6Sql("sell_pv / NULLIF(volume, 0) * 100")} AS pct_sell_pressure
       |FROM (
       |  SELECT year, month, day, symbol, COUNT(*) AS trades,
       |         ${dsumSql("quote_qty")} AS volume,
       |         MIN(price) AS low, MAX(price) AS high,
       |         ${dsumSql("quote_qty")} AS pv, ${dsumSql("quantity")} AS q,
       |         ${dsumSql("CASE WHEN is_buyer_maker THEN quote_qty ELSE 0 END")} AS sell_pv
       |  FROM trades GROUP BY 1,2,3,4)
       |ORDER BY year, month, day, symbol""".stripMargin

  // --- etl_json_props: semi-structured payload extraction --------------
  // from_json with an explicit schema (codegen'd, no string re-parsing
  // downstream); bucketed distribution of the extracted field.

  private def etlJsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("value"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      // integer division on both sides: `/` would be float division and
      // double→int casts round in DuckDB but truncate in Spark
      .groupBy(expr("k div 10").cast(IntegerType).as("k_bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("k_bucket")

  private val etlJsonPropsSql =
    s"""SELECT CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT) // 10 AS INTEGER) AS k_bucket,
       |       COUNT(*) AS n, ${dsumSql("value")} AS total_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Q10: moving average over minute VWAP bars (rolling window frame)
  // Classic market smoothing: 5-bar trailing mean over each symbol's
  // minute series. Window frame over pre-aggregated bars — tiny state,
  // scales with bar count not trade count.

  private def q10(s: SparkSession, dir: String): DataFrame = {
    val bars = trades(s, dir)
      .groupBy(col("symbol"), date_trunc("minute", col("trade_time")).as("minute"))
      .agg(dsum(col("quote_qty")).as("pv"), dsum(col("quantity")).as("q"))
      .select(col("symbol"), col("minute"), ratio(col("pv"), col("q")).as("vwap"))
    val w = Window.partitionBy("symbol").orderBy("minute").rowsBetween(-4, 0)
    // decimal window sum, not AVG: DuckDB evaluates sliding frames with
    // a segment tree whose association order differs from Spark's —
    // double AVG would drift; exact decimal is order-free.
    bars
      .withColumn("ma5", round6(
        sum(col("vwap").cast(DecimalType(38, 8))).over(w).cast(DoubleType)
          / count(lit(1)).over(w).cast(DoubleType)))
      .withColumn("n_bars", count(lit(1)).over(w))
      .orderBy("symbol", "minute")
  }

  private val q10Sql =
    s"""$cte, bars AS (
       |  SELECT symbol, minute, ${ratioSql("pv", "q")} AS vwap FROM (
       |    SELECT symbol, date_trunc('minute', trade_time) AS minute,
       |           ${dsumSql("quote_qty")} AS pv, ${dsumSql("quantity")} AS q
       |    FROM trades GROUP BY 1,2))
       |SELECT symbol, minute, vwap,
       |       ${round6Sql("CAST(SUM(CAST(vwap AS DECIMAL(38,8))) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE)")} AS ma5,
       |       COUNT(*) OVER w AS n_bars
       |FROM bars
       |WINDOW w AS (PARTITION BY symbol ORDER BY minute
       |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
       |ORDER BY symbol, minute""".stripMargin

  // --- etl_upsert_latest: SCD-1 latest-wins merge ----------------------
  // The lake-maintenance shape of a CDC upsert: the event stream is the
  // change feed, one row per key survives (greatest ts, event_id
  // tiebreak). One shuffle on the key; at 100 TB this is the
  // MERGE-into-state-table pattern without a transactional format.

  private def etlUpsertLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event"),
        col("ts").as("last_ts"), col("event_type").as("last_type"),
        col("value").as("last_value"))
      .orderBy("user_id")
  }

  private val etlUpsertLatestSql =
    """SELECT user_id, event_id AS last_event, ts AS last_ts,
      |       event_type AS last_type, value AS last_value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |  ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id""".stripMargin

  // --- etl_scd2_history: slowly-changing-dimension type 2 --------------
  // Every change becomes a versioned validity interval: valid_from =
  // the event time, valid_to = the next change (null while current).

  private def etlScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"), col("ts").as("valid_from"),
        col("event_id"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .drop("event_id")
      .orderBy("user_id", "version")
  }

  private val etlScd2Sql =
    """SELECT user_id, event_type, value, ts AS valid_from,
      |       lead(ts, 1) OVER w AS valid_to,
      |       CAST(row_number() OVER w AS INTEGER) AS version
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  // --- Q11: per-symbol price volatility --------------------------------
  // stddev via exact decimal sums (Σx, Σx², n) — built-in stddev_samp
  // accumulates in floating point with engine-specific algorithms
  // (Welford vs naive) and would never hash-match; the moment form on
  // identical exact sums is deterministic. Single scan, one aggregate.

  private def q11(s: SparkSession, dir: String): DataFrame =
    trades(s, dir)
      .groupBy("symbol")
      .agg(
        count(lit(1)).as("n"),
        dsum(col("price")).as("sx"),
        dsum(col("price") * col("price"), 6).as("sxx"),
        count(lit(1)).cast(DoubleType).as("n_d"))
      .withColumn("mean_price", ratio(col("sx"), col("n_d")))
      .withColumn("stddev_price",
        // same clamp as q21/q22: rounded moments must degrade to 0, not NaN
        round6(sqrt(greatest(lit(0.0),
          (col("sxx") - col("sx") * col("sx") / col("n_d")) / (col("n_d") - 1.0)))))
      .drop("sx", "sxx", "n_d")
      .orderBy("symbol")

  private val q11Sql =
    s"""$cte
       |SELECT symbol, n,
       |       ${ratioSql("sx", "n_d")} AS mean_price,
       |       ${round6Sql("sqrt(GREATEST(CAST(0.0 AS DOUBLE), (sxx - sx * sx / n_d) / (n_d - 1.0)))")} AS stddev_price
       |FROM (
       |  SELECT symbol, COUNT(*) AS n,
       |         ${dsumSql("price")} AS sx,
       |         ${dsumSql("price * price", 6)} AS sxx,
       |         CAST(COUNT(*) AS DOUBLE) AS n_d
       |  FROM trades GROUP BY 1)
       |ORDER BY symbol""".stripMargin

  // --- Q12: running high-water mark + drawdown per symbol --------------
  // Running max over the trade sequence (exact double comparisons —
  // no accumulation, so engine-portable as-is) and the relative
  // drawdown from it.

  private def q12(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("trade_time", "trade_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    trades(s, dir)
      .select(col("symbol"), col("trade_id"), col("trade_time"), col("price"))
      .withColumn("high_water", max(col("price")).over(w))
      .withColumn("drawdown", round6(col("price") / col("high_water") - 1.0))
      .orderBy("symbol", "trade_time", "trade_id")
  }

  private val q12Sql =
    s"""$cte
       |SELECT symbol, trade_id, trade_time, price,
       |       MAX(price) OVER w AS high_water,
       |       ${round6Sql("price / (MAX(price) OVER w) - 1.0")} AS drawdown
       |FROM trades
       |WINDOW w AS (PARTITION BY symbol ORDER BY trade_time, trade_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY symbol, trade_time, trade_id""".stripMargin

  // --- Q13: gap-filled hourly bars (time-series densification) ---------
  // Downstream candle consumers need a row for EVERY bucket, traded or
  // not: generate the full per-symbol hour spine (sequence + explode —
  // a generator, not a driver loop) and left-join the observed bars.

  private def q13(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
    val bars = t
      .groupBy(col("symbol"), date_trunc("hour", col("trade_time")).as("hour"))
      .agg(count(lit(1)).as("n_trades"), dsum(col("quote_qty")).as("volume"))
    val spine = t.groupBy("symbol")
      .agg(min(date_trunc("hour", col("trade_time"))).as("h0"),
        max(date_trunc("hour", col("trade_time"))).as("h1"))
      .select(col("symbol"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    spine.join(bars, Seq("symbol", "hour"), "left")
      .select(col("symbol"), col("hour"),
        coalesce(col("n_trades"), lit(0L)).as("n_trades"),
        coalesce(col("volume"), lit(0.0)).as("volume"))
      .orderBy("symbol", "hour")
  }

  private val q13Sql =
    s"""$cte, bars AS (
       |  SELECT symbol, date_trunc('hour', trade_time) AS hour,
       |         COUNT(*) AS n_trades, ${dsumSql("quote_qty")} AS volume
       |  FROM trades GROUP BY 1,2),
       |spine AS (
       |  SELECT symbol, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
       |  FROM (SELECT symbol, MIN(date_trunc('hour', trade_time)) AS h0,
       |               MAX(date_trunc('hour', trade_time)) AS h1
       |        FROM trades GROUP BY 1))
       |SELECT s.symbol, s.hour,
       |       COALESCE(b.n_trades, 0) AS n_trades,
       |       COALESCE(b.volume, 0.0) AS volume
       |FROM spine s LEFT JOIN bars b ON s.symbol = b.symbol AND s.hour = b.hour
       |ORDER BY s.symbol, s.hour""".stripMargin

  // --- Q14: in-engine correlation matrix -------------------------------
  // The reference's Q6 prepares minute series "to export to Python/R
  // for correlation" (athena_sample_queries.sql:154) — here the Pearson
  // matrix is computed in-engine. Determinism: minute VWAPs truncated
  // to 4dp with pure IEEE ops, moment sums over the then-exact 8dp
  // products in DECIMAL, correlation assembled from identical doubles.
  // (Built-in corr() accumulates co-moments in floating point and
  // could never hash-match.)

  private def q14(s: SparkSession, dir: String): DataFrame = {
    val bars = trades(s, dir)
      .groupBy(col("symbol"), date_trunc("minute", col("trade_time")).as("minute"))
      .agg(dsum(col("quote_qty")).as("pv"), dsum(col("quantity")).as("q"))
      // 4dp series value; floor form is engine-portable at ties
      .select(col("symbol"), col("minute"),
        (floor(col("pv") / when(col("q") =!= 0.0, col("q")) * 1e4 + 0.5) / 1e4).as("v"))
    val pairs = bars.as("a").join(bars.as("b"),
        col("a.minute") === col("b.minute") && col("a.symbol") < col("b.symbol"))
      .select(col("a.symbol").as("sym_a"), col("b.symbol").as("sym_b"),
        col("a.v").as("x"), col("b.v").as("y"))
    pairs.groupBy("sym_a", "sym_b")
      .agg(
        count(lit(1)).cast(DoubleType).as("n"),
        round(sum(col("x").cast(DecimalType(38, 10))), 4).cast(DoubleType).as("sx"),
        round(sum(col("y").cast(DecimalType(38, 10))), 4).cast(DoubleType).as("sy"),
        round(sum((col("x") * col("y")).cast(DecimalType(38, 10))), 3).cast(DoubleType).as("sxy"),
        round(sum((col("x") * col("x")).cast(DecimalType(38, 10))), 3).cast(DoubleType).as("sxx"),
        round(sum((col("y") * col("y")).cast(DecimalType(38, 10))), 3).cast(DoubleType).as("syy"))
      // degenerate pairs (n=1, or a constant series) make the variance
      // term ≤ 0 after the rounding steps: Spark would yield NaN where
      // DuckDB errors on sqrt(<0) — both sides emit NULL instead
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("corr", when(col("vx") > 0 && col("vy") > 0, round6(
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("vx")) * sqrt(col("vy"))))))
      .select(col("sym_a"), col("sym_b"), col("n").cast(LongType).as("n_minutes"), col("corr"))
      .orderBy("sym_a", "sym_b")
  }

  private val q14Sql =
    s"""$cte, bars AS (
       |  SELECT symbol, minute, floor(pv / NULLIF(q, 0) * 1e4 + 0.5) / 1e4 AS v
       |  FROM (
       |    SELECT symbol, date_trunc('minute', trade_time) AS minute,
       |           ${dsumSql("quote_qty")} AS pv, ${dsumSql("quantity")} AS q
       |    FROM trades GROUP BY 1,2)),
       |moments AS (
       |  SELECT a.symbol AS sym_a, b.symbol AS sym_b,
       |         CAST(COUNT(*) AS DOUBLE) AS n,
       |         CAST(ROUND(SUM(CAST(a.v AS DECIMAL(38,10))), 4) AS DOUBLE) AS sx,
       |         CAST(ROUND(SUM(CAST(b.v AS DECIMAL(38,10))), 4) AS DOUBLE) AS sy,
       |         CAST(ROUND(SUM(CAST(a.v * b.v AS DECIMAL(38,10))), 3) AS DOUBLE) AS sxy,
       |         CAST(ROUND(SUM(CAST(a.v * a.v AS DECIMAL(38,10))), 3) AS DOUBLE) AS sxx,
       |         CAST(ROUND(SUM(CAST(b.v * b.v AS DECIMAL(38,10))), 3) AS DOUBLE) AS syy
       |  FROM bars a JOIN bars b
       |    ON a.minute = b.minute AND a.symbol < b.symbol
       |  GROUP BY 1,2)
       |SELECT sym_a, sym_b, CAST(n AS BIGINT) AS n_minutes,
       |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       |            THEN ${round6Sql("""(n * sxy - sx * sy) /
       |              (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))""")}
       |       END AS corr
       |FROM moments ORDER BY sym_a, sym_b""".stripMargin

  // --- Q15: exact per-symbol price quantiles ---------------------------
  // The reference approximates (APPROX_PERCENTILE in Q5); this is the
  // exact complement via rank arithmetic — position ceil(p·n) in the
  // (price, trade_id)-sorted order, the only quantile definition both
  // engines compute bit-identically (interpolating percentile
  // functions differ across engines). Cost is one per-symbol sort,
  // parallel across symbols — the honest price of exactness; the
  // sketch-based path for approximate needs is q5's.

  /** Quantile rank ceil((pct/100)·n) in pure INTEGER arithmetic —
    * (pct·n + 99) div 100 — because neither engine's double path is
    * portable: Spark's ceil(lit(0.90)·n) rounds 0.90 to binary
    * (0.9·10 = 9.000000000000002, ceil = 10) while DuckDB's decimal
    * literal gives exact 9.0 (ceil = 9), so group sizes on the wrong
    * grid (n ≡ 0 mod 10 for p90) pick DIFFERENT rank elements. The
    * double division by 100 here is safe: the true quotient sits on
    * the k/100 grid, ≥ 0.01 from any other integer, far beyond one
    * ulp, so floor never crosses a boundary. */
  private def rankCeil(pct: Int, n: Column): Column =
    floor((n * pct + lit(99)) / lit(100))

  /** SQL twin of [[rankCeil]] — DuckDB `//` is exact BIGINT division. */
  private def rankCeilSql(pct: Int, n: String): String =
    s"(($pct * $n + 99) // 100)"

  private def q15(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("price"), col("trade_id"))
    val wc = Window.partitionBy("symbol")
    def at(pct: Int) =
      min(when(col("rn") === rankCeil(pct, col("n")), col("price")))
    trades(s, dir)
      .select(col("symbol"), col("price"), col("trade_id"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy("symbol")
      .agg(max("n").as("n_trades"),
        at(50).as("p50"), at(90).as("p90"), at(99).as("p99"))
      .orderBy("symbol")
  }

  private val q15Sql =
    s"""$cte, ranked AS (
       |  SELECT symbol, price,
       |         row_number() OVER (PARTITION BY symbol ORDER BY price, trade_id) AS rn,
       |         count(*) OVER (PARTITION BY symbol) AS n
       |  FROM trades)
       |SELECT symbol, CAST(max(n) AS BIGINT) AS n_trades,
       |       min(CASE WHEN rn = ${rankCeilSql(50, "n")} THEN price END) AS p50,
       |       min(CASE WHEN rn = ${rankCeilSql(90, "n")} THEN price END) AS p90,
       |       min(CASE WHEN rn = ${rankCeilSql(99, "n")} THEN price END) AS p99
       |FROM ranked GROUP BY symbol ORDER BY symbol""".stripMargin

  // --- etl_dq_rejects: the DQ gate as an auditable rejects report ------
  // Every query applies the DQ gate inline (eventsAsTrades); this is
  // the gate's complement — the rows it drops, each tagged with the
  // first failing rule — so the filter embedded in every plan is also
  // a standalone, verifiable operator (and the report a real pipeline
  // ships to its data-quality dashboard).

  private def etlDqRejects(s: SparkSession, dir: String): DataFrame = {
    val kStr = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
    val qty = when(length(kStr) > 0, kStr.cast(DoubleType))
    Tables.events(s, dir)
      .select(col("event_id").as("trade_id"), col("ts"),
        col("value").as("price"), qty.as("quantity"))
      .filter(col("ts").isNull || col("price").isNull || col("price") <= 0 ||
        col("quantity").isNull || col("quantity") <= 0)
      .select(col("trade_id"),
        when(col("ts").isNull, "null_time")
          .when(col("price").isNull || col("price") <= 0, "bad_price")
          .otherwise("bad_qty").as("reject_reason"),
        col("price"), col("quantity"))
      .orderBy("trade_id")
  }

  private val etlDqRejectsSql =
    """WITH raw AS (
      |  SELECT event_id AS trade_id, ts, value AS price,
      |         TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE) AS quantity
      |  FROM events)
      |SELECT trade_id,
      |       CASE WHEN ts IS NULL THEN 'null_time'
      |            WHEN price IS NULL OR price <= 0 THEN 'bad_price'
      |            ELSE 'bad_qty' END AS reject_reason,
      |       price, quantity
      |FROM raw
      |WHERE ts IS NULL OR price IS NULL OR price <= 0
      |   OR quantity IS NULL OR quantity <= 0
      |ORDER BY trade_id""".stripMargin

  // --- Q16/Q25 hybrid quantile router (exact below capacity) -----------
  // The q23 pattern applied to quantiles: a declared per-group row
  // capacity routes each symbol either through q15's exact
  // rank-arithmetic (groups the engine can afford to sort — fully
  // deterministic, hash-checkable) or through a mergeable sketch
  // (groups above the cap, where a per-group sort at 100 TB is the
  // thing the sketch exists to avoid). Routing needs only the
  // symbol-bounded count table (broadcastable by the q21 argument);
  // each branch scans only its own pruned groups. The capacity and the
  // chosen regime are part of the output contract, so the oracle — the
  // exact branch replayed in DuckDB — is valid at any scale where
  // every group is below the cap (the driver's sf qualifies), while
  // QueriesSpec forces the sketch regime with an aggressive cap and
  // bounds its rank error. Default cap: 2²⁰ rows — a per-group sort
  // that's always cheap, far above every driver sf group.

  private[graft] val QuantileRowCap = 1L << 20

  private def hybridQuantiles(t: DataFrame, cap: Long)(
      sketchOf: DataFrame => DataFrame): DataFrame = {
    val counts = t.groupBy("symbol").agg(count(lit(1)).as("n_trades"))
    val flagged = t.select(col("symbol"), col("price"), col("trade_id"))
      .join(broadcast(counts), Seq("symbol"))
    val w = Window.partitionBy("symbol").orderBy(col("price"), col("trade_id"))
    def at(pct: Int) =
      min(when(col("rn") === rankCeil(pct, col("n_trades")), col("price")))
    val exact = flagged.filter(col("n_trades") <= cap)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .groupBy("symbol")
      .agg(max("n_trades").as("n_trades"),
        at(50).as("p50"), at(90).as("p90"), at(99).as("p99"))
      .withColumn("regime", lit("exact"))
    val sketch = sketchOf(flagged.filter(col("n_trades") > cap))
      .withColumn("regime", lit("sketch"))
    exact.unionByName(sketch)
      .select(col("symbol"), col("n_trades"), lit(cap).as("capacity"),
        col("regime"), col("p50"), col("p90"), col("p99"))
      .orderBy("symbol")
  }

  /** Shared oracle for the hybrid quantile queries: the exact branch
    * (q15's rank arithmetic) plus the declared capacity/regime columns.
    * Valid whenever every group is below the cap — the sketch regime is
    * pinned by QueriesSpec's rank-error bounds instead. */
  private def hybridQuantilesSql(cap: Long) =
    s"""$cte, ranked AS (
       |  SELECT symbol, price,
       |         row_number() OVER (PARTITION BY symbol ORDER BY price, trade_id) AS rn,
       |         count(*) OVER (PARTITION BY symbol) AS n
       |  FROM trades)
       |SELECT symbol, CAST(max(n) AS BIGINT) AS n_trades,
       |       CAST($cap AS BIGINT) AS capacity, 'exact' AS regime,
       |       min(CASE WHEN rn = ${rankCeilSql(50, "n")} THEN price END) AS p50,
       |       min(CASE WHEN rn = ${rankCeilSql(90, "n")} THEN price END) AS p90,
       |       min(CASE WHEN rn = ${rankCeilSql(99, "n")} THEN price END) AS p99
       |FROM ranked GROUP BY symbol ORDER BY symbol""".stripMargin

  // --- Q16: capacity-routed quantiles, percentile_approx above cap -----
  // Above the cap: percentile_approx's mergeable histogram sketch
  // (bounded memory per partial, map-side combinable, no per-group
  // sort) — the 100 TB path q5 relies on, rank error ≤ n/5000.

  private[graft] def q16At(cap: Long)(s: SparkSession, dir: String): DataFrame =
    hybridQuantiles(trades(s, dir), cap) { big =>
      big.groupBy("symbol").agg(
        max("n_trades").as("n_trades"),
        percentile_approx(col("price"), lit(0.50), lit(5000)).as("p50"),
        percentile_approx(col("price"), lit(0.90), lit(5000)).as("p90"),
        percentile_approx(col("price"), lit(0.99), lit(5000)).as("p99"))
    }

  private def q16(s: SparkSession, dir: String): DataFrame =
    q16At(QuantileRowCap)(s, dir)

  private val q16Sql = hybridQuantilesSql(QuantileRowCap)

  // --- Q25: capacity-routed quantiles, t-digest above cap --------------
  // Above the cap: the custom TypedImperativeAggregate
  // (plans.TDigestSketch), completing the sketch trio — SpaceSaving
  // (heavy hitters), KMV (distincts), t-digest (quantiles) — with the
  // k1 scale function's tail resolution (centroid capacity shrinks
  // toward q→0/1, where p99 market queries live). Compression order is
  // partition-order-dependent (inherent to every t-digest), which is
  // exactly why the sketch regime sits above the declared cap: the
  // driver hash-checks the exact regime, QueriesSpec/DeterminismSpec
  // bound the sketch regime under adversarial partitionings.

  private[graft] def q25At(cap: Long)(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.TDigestSketch.tdigest_quantiles
    hybridQuantiles(trades(s, dir), cap) { big =>
      big.groupBy("symbol").agg(
        max("n_trades").as("n_trades"),
        tdigest_quantiles(col("price").cast(DoubleType), 100,
          Seq(0.50, 0.90, 0.99)).as("qs"))
        .select(col("symbol"), col("n_trades"),
          col("qs").getItem(0).as("p50"),
          col("qs").getItem(1).as("p90"),
          col("qs").getItem(2).as("p99"))
    }
  }

  private def q25(s: SparkSession, dir: String): DataFrame =
    q25At(QuantileRowCap)(s, dir)

  private val q25Sql = hybridQuantilesSql(QuantileRowCap)

  // --- Q17: capacity-routed distinct counts (KMV exact / HLL++ above) --
  // q7's audit pays an exact countDistinct (a shuffle of every
  // distinct key); this is its 100 TB sibling, now hash-checkable via
  // the q23 pattern: a KMV sketch at the declared capacity holds the
  // FULL distinct set of portable md5-prefix hashes while the group's
  // hash-NDV is below the cap (bounded memory, map-side mergeable, no
  // distinct shuffle — and any hash collision replays identically in
  // the oracle), and approx_count_distinct's HLL++ registers ride
  // along in fixed bytes to serve groups above it. The oracle replays
  // the exact regime (COUNT(DISTINCT h) per symbol); QueriesSpec
  // forces the HLL regime with an aggressive cap and bounds its
  // relative error.
  //
  // Output contract: ndv_trades in the exact regime is the NDV of the
  // 60-bit hash h60(trade_id) — the widest md5 prefix a signed BIGINT
  // carries in both engines. Expected collision undercount is
  // ~n²/2⁶¹ < 2⁻²⁹ keys at the 2¹⁶ cap, i.e. zero in practice (the
  // former 32-bit family would lose a visible ~n²/2³³). Declared
  // boundary: at hash-NDV exactly equal to the cap the sketch is in
  // fact still the complete distinct set, but the regime flips to
  // 'hll' — "exact" is claimed only STRICTLY below capacity, where
  // completeness is provable from size(sketch) alone, and the oracle
  // (valid only in the exact regime) follows the same rule.

  private[graft] val NdvCap = 65536

  private[graft] def q17At(cap: Int)(s: SparkSession, dir: String): DataFrame = {
    trades(s, dir)
      .withColumn("h", h60(col("trade_id").cast(StringType)))
      .groupBy("symbol")
      .agg(count(lit(1)).as("row_count"),
        graft.plans.KmvSketch.kmv_sketch(col("h"), cap).as("sketch"),
        approx_count_distinct(col("trade_id"), 0.02).as("hll"))
      .select(col("symbol"), col("row_count"),
        lit(cap.toLong).as("capacity"),
        when(size(col("sketch")) < cap, lit("exact")).otherwise(lit("hll")).as("regime"),
        when(size(col("sketch")) < cap, size(col("sketch")).cast(LongType))
          .otherwise(col("hll")).as("ndv_trades"))
      .orderBy("symbol")
  }

  private def q17(s: SparkSession, dir: String): DataFrame =
    q17At(NdvCap)(s, dir)

  private val q17Sql =
    s"""$cte, h AS (
       |  SELECT symbol, COUNT(*) AS row_count,
       |         COUNT(DISTINCT ${h60Sql("CAST(trade_id AS VARCHAR)")}) AS ndv_h
       |  FROM trades GROUP BY 1)
       |SELECT symbol, row_count, CAST($NdvCap AS BIGINT) AS capacity,
       |       'exact' AS regime, ndv_h AS ndv_trades
       |FROM h ORDER BY symbol""".stripMargin

  // --- Q18: pattern scan — momentum streak detection -------------------
  // The MATCH_RECOGNIZE-style shape as composable windows: three
  // consecutive rising minute-VWAP closes per symbol, reported with
  // the total rise over the streak. A lag-chain over the per-symbol
  // bar window (the q10/q12 partitioning — bounded per symbol, never
  // global); everything downstream of the one bar aggregate is narrow.

  private def q18(s: SparkSession, dir: String): DataFrame = {
    val bars = trades(s, dir)
      .groupBy(col("symbol"), date_trunc("minute", col("trade_time")).as("minute"))
      .agg(dsum(col("quote_qty")).as("pv"), dsum(col("quantity")).as("q"))
      .select(col("symbol"), col("minute"), ratio(col("pv"), col("q")).as("vwap"))
    val w = Window.partitionBy("symbol").orderBy("minute")
    bars
      .withColumn("v1", lag("vwap", 1).over(w))
      .withColumn("v2", lag("vwap", 2).over(w))
      .withColumn("v3", lag("vwap", 3).over(w))
      .filter(col("vwap") > col("v1") && col("v1") > col("v2") && col("v2") > col("v3"))
      .select(col("symbol"), col("minute"), col("vwap"),
        round6(col("vwap") - col("v3")).as("rise"))
      .orderBy("symbol", "minute")
  }

  private val q18Sql =
    s"""$cte,
       |bars AS (
       |  SELECT symbol, date_trunc('minute', trade_time) AS minute,
       |         ${dsumSql("quote_qty")} AS pv, ${dsumSql("quantity")} AS q
       |  FROM trades GROUP BY 1, 2),
       |v AS (SELECT symbol, minute, ${ratioSql("pv", "q")} AS vwap FROM bars),
       |lagged AS (
       |  SELECT symbol, minute, vwap,
       |         lag(vwap, 1) OVER w AS v1, lag(vwap, 2) OVER w AS v2, lag(vwap, 3) OVER w AS v3
       |  FROM v WINDOW w AS (PARTITION BY symbol ORDER BY minute))
       |SELECT symbol, minute, vwap, ${round6Sql("vwap - v3")} AS rise
       |FROM lagged
       |WHERE vwap > v1 AND v1 > v2 AND v2 > v3
       |ORDER BY symbol, minute""".stripMargin

  // --- Q21: z-score anomaly detection ------------------------------------
  // Flag trades whose price sits > 3σ from the symbol mean — the
  // surveillance query a market-data platform runs continuously. The
  // moments come from q11's exact-decimal machinery (Σx, Σx² reduced in
  // DECIMAL; built-in stddev accumulators are engine- and
  // partition-order-specific), so mean/σ are deterministic doubles and
  // the z comparison is pure IEEE arithmetic on identical operands in
  // both engines. Per-symbol stats are symbol-bounded → broadcast back
  // to the scan; one aggregate + one narrow re-scan, no self-join.

  /** Per-symbol (mean, σ) reference table from exact decimal moments —
    * symbol-bounded, broadcastable; shared by q21 and the streaming
    * anomaly gate (which applies it to a live feed per micro-batch). */
  private[graft] def anomalyStats(t: DataFrame): DataFrame =
    t.groupBy("symbol")
      .agg(
        count(lit(1)).cast(DoubleType).as("n_d"),
        dsum(col("price")).as("sx"),
        dsum(col("price") * col("price"), 6).as("sxx"))
      .select(col("symbol"),
        ratio(col("sx"), col("n_d")).as("mean_price"),
        // clamp, don't NaN (q22 rule): 2dp-rounded moments can make the
        // numerator slightly negative for a constant-price symbol —
        // Spark's sqrt(<0) = NaN silently drops rows, DuckDB errors out
        round6(sqrt(greatest(lit(0.0),
            (col("sxx") - col("sx") * col("sx") / col("n_d")) / (col("n_d") - 1.0))))
          .as("std_price"))

  /** Stateless z-score flagging of `t` against a precomputed stats
    * table (stream-static-capable — the row side never shuffles). */
  private[graft] def anomalyFlag(t: DataFrame, stats: DataFrame): DataFrame =
    t.join(broadcast(stats), "symbol")
      .withColumn("z_raw", (col("price") - col("mean_price")) / col("std_price"))
      .filter(abs(col("z_raw")) > 3.0)
      .select(col("trade_id"), col("symbol"), col("price"),
        col("mean_price"), round6(col("z_raw")).as("zscore"))

  private def q21(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
    anomalyFlag(t, anomalyStats(t)).orderBy("trade_id")
  }

  private val q21Sql =
    s"""$cte,
       |stats AS (
       |  SELECT symbol, CAST(COUNT(*) AS DOUBLE) AS n_d,
       |         ${dsumSql("price")} AS sx,
       |         ${dsumSql("price * price", 6)} AS sxx
       |  FROM trades GROUP BY 1),
       |m AS (
       |  SELECT symbol, ${ratioSql("sx", "n_d")} AS mean_price,
       |         ${round6Sql("sqrt(GREATEST(CAST(0.0 AS DOUBLE), (sxx - sx * sx / n_d) / (n_d - 1.0)))")} AS std_price
       |  FROM stats)
       |SELECT trade_id, symbol, price, mean_price,
       |       ${round6Sql("(price - mean_price) / std_price")} AS zscore
       |FROM trades JOIN m USING (symbol)
       |WHERE abs((price - mean_price) / std_price) > 3.0
       |ORDER BY trade_id""".stripMargin

  // --- Q22: Bollinger bands (rolling mean ± 2σ) --------------------------
  // The classic volatility envelope over the q10 bar series: 5-bar
  // trailing mean and stddev per symbol, bands at ±2σ. Rolling moments
  // come from exact DECIMAL window sums (Σv, Σv² — sliding-frame
  // double aggregation associates differently per engine, decimal is
  // order-free; cast scales strictly exceed the 6dp/12dp value
  // precision per §4), then the mean/σ/band arithmetic is pure IEEE on
  // identical operands. Window state is per-symbol bars, not trades.

  private def q22(s: SparkSession, dir: String): DataFrame = {
    val bars = trades(s, dir)
      .groupBy(col("symbol"), date_trunc("minute", col("trade_time")).as("minute"))
      .agg(dsum(col("quote_qty")).as("pv"), dsum(col("quantity")).as("q"))
      .select(col("symbol"), col("minute"), ratio(col("pv"), col("q")).as("vwap"))
    val w = Window.partitionBy("symbol").orderBy("minute").rowsBetween(-4, 0)
    val n = count(lit(1)).over(w).cast(DoubleType)
    val sx = sum(col("vwap").cast(DecimalType(38, 8))).over(w).cast(DoubleType)
    val sxx = sum((col("vwap") * col("vwap")).cast(DecimalType(38, 16))).over(w)
      .cast(DoubleType)
    bars
      .withColumn("m", sx / n)
      // tiny negative variance = double rounding at σ≈0; clamp, don't NaN
      .withColumn("sd", when(n > 1.0,
        sqrt(greatest(lit(0.0), (sxx - sx * sx / n) / (n - 1.0)))))
      .select(col("symbol"), col("minute"), col("vwap"),
        round6(col("m")).as("ma5"),
        round6(col("sd")).as("sd5"),
        round6(col("m") + lit(2.0) * col("sd")).as("upper_band"),
        round6(col("m") - lit(2.0) * col("sd")).as("lower_band"))
      .orderBy("symbol", "minute")
  }

  private val q22Sql =
    s"""$cte,
       |bars AS (
       |  SELECT symbol, date_trunc('minute', trade_time) AS minute,
       |         ${dsumSql("quote_qty")} AS pv, ${dsumSql("quantity")} AS q
       |  FROM trades GROUP BY 1, 2),
       |v AS (SELECT symbol, minute, ${ratioSql("pv", "q")} AS vwap FROM bars),
       |roll AS (
       |  SELECT symbol, minute, vwap,
       |         CAST(count(*) OVER w AS DOUBLE) AS n,
       |         CAST(sum(CAST(vwap AS DECIMAL(38,8))) OVER w AS DOUBLE) AS sx,
       |         CAST(sum(CAST(vwap * vwap AS DECIMAL(38,16))) OVER w AS DOUBLE) AS sxx
       |  FROM v
       |  WINDOW w AS (PARTITION BY symbol ORDER BY minute
       |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
       |calc AS (
       |  SELECT symbol, minute, vwap, sx / n AS m,
       |         CASE WHEN n > 1.0 THEN
       |           sqrt(GREATEST(CAST(0.0 AS DOUBLE), (sxx - sx * sx / n) / (n - 1.0)))
       |         END AS sd
       |  FROM roll)
       |SELECT symbol, minute, vwap,
       |       ${round6Sql("m")} AS ma5, ${round6Sql("sd")} AS sd5,
       |       ${round6Sql("m + 2.0 * sd")} AS upper_band,
       |       ${round6Sql("m - 2.0 * sd")} AS lower_band
       |FROM calc ORDER BY symbol, minute""".stripMargin

  // --- Q23: KMV distinct sketch (the hash-checkable q17) -----------------
  // Per-symbol distinct-trade estimation via the custom KMV
  // TypedImperativeAggregate (plans.KmvSketch): the k=256 smallest
  // distinct md5-prefix hashes per symbol — bounded memory, map-side
  // mergeable, no distinct shuffle — with the (k−1)·2³²/h₍k₎ estimator.
  // Unlike q17's HLL (engine-internal registers ⇒ rows-only oracle),
  // the KMV sketch over the portable hash family is deterministic end
  // to end: DuckDB replays the k minima with a rank window and the
  // estimate matches bit-for-bit. Below k distinct hashes the sketch
  // IS the exact set (sf0.001 exercises that regime; larger sfs the
  // estimating one). Exact countDistinct rides along as the audit.

  private val KmvK = 256

  private def q23(s: SparkSession, dir: String): DataFrame = {
    val t = trades(s, dir)
      .withColumn("h", h32(col("trade_id").cast(StringType)))
    t.groupBy("symbol")
      .agg(
        graft.plans.KmvSketch.kmv_sketch(col("h"), KmvK).as("sketch"),
        countDistinct(col("trade_id")).as("ndv_exact"))
      .select(col("symbol"), col("ndv_exact"),
        size(col("sketch")).as("sketch_size"),
        when(size(col("sketch")) === KmvK, element_at(col("sketch"), KmvK)).as("kth_min"),
        when(size(col("sketch")) < KmvK, size(col("sketch")).cast(DoubleType))
          .otherwise(round6(lit((KmvK - 1) * 4294967296.0) / element_at(col("sketch"), KmvK)))
          .as("ndv_est"))
      .orderBy("symbol")
  }

  private val q23Sql = {
    val h32sql = "CAST(('0x' || substr(md5(CAST(trade_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    s"""$cte,
       |h AS (SELECT DISTINCT symbol, $h32sql AS h FROM trades),
       |r AS (SELECT symbol, h,
       |        row_number() OVER (PARTITION BY symbol ORDER BY h) AS rn FROM h),
       |sk AS (
       |  SELECT symbol,
       |         CAST(count(*) FILTER (WHERE rn <= $KmvK) AS INTEGER) AS sketch_size,
       |         MAX(CASE WHEN rn = $KmvK THEN h END) AS kth
       |  FROM r GROUP BY 1),
       |ex AS (SELECT symbol, count(DISTINCT trade_id) AS ndv_exact FROM trades GROUP BY 1)
       |SELECT sk.symbol, ex.ndv_exact, sk.sketch_size,
       |       CASE WHEN sk.sketch_size = $KmvK THEN sk.kth END AS kth_min,
       |       CASE WHEN sk.sketch_size < $KmvK THEN CAST(sk.sketch_size AS DOUBLE)
       |            ELSE ${round6Sql(s"CAST(${(KmvK - 1) * 4294967296.0} AS DOUBLE) / sk.kth")}
       |       END AS ndv_est
       |FROM sk JOIN ex ON sk.symbol = ex.symbol
       |ORDER BY sk.symbol""".stripMargin
  }

  // --- Q24: TWAP (time-weighted average price) ---------------------------
  // The execution-quality benchmark VWAP can't provide: each price is
  // weighted by how long it REIGNED (until the next trade), per symbol
  // per day — Σ(pᵢ·Δtᵢ)/ΣΔtᵢ with Δt from a lead window over the
  // symbol-day partition (bounded; the day's last trade carries no
  // weight, the standard convention). Price×µs products are exact at
  // 2dp ⇒ DECIMAL(38,4) per §4; the Δt sums are pure integers. One
  // window + one aggregate per symbol-day, never a global sort.

  private def q24(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("symbol"), to_date(col("trade_time")))
      .orderBy(col("trade_time"), col("trade_id"))
    trades(s, dir)
      // NTZ → TIMESTAMP is value-preserving under the session's UTC
      .withColumn("dt_us",
        unix_micros(lead("trade_time", 1).over(w).cast(TimestampType))
          - unix_micros(col("trade_time").cast(TimestampType)))
      .filter(col("dt_us").isNotNull)
      .groupBy(col("symbol"), to_date(col("trade_time")).as("day"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("span_us"),
        sum((col("price") * col("dt_us")).cast(DecimalType(38, 4))).as("pwsum"))
      .select(col("symbol"), col("day"), col("n_intervals"), col("span_us"),
        round6(col("pwsum").cast(DoubleType) / col("span_us").cast(DoubleType)).as("twap"))
      .orderBy("symbol", "day")
  }

  private val q24Sql =
    s"""$cte,
       |dt AS (
       |  SELECT symbol, CAST(trade_time AS DATE) AS day, price,
       |         epoch_us(lead(trade_time) OVER (
       |           PARTITION BY symbol, CAST(trade_time AS DATE)
       |           ORDER BY trade_time, trade_id)) - epoch_us(trade_time) AS dt_us
       |  FROM trades)
       |SELECT symbol, day, COUNT(*) AS n_intervals,
       |       CAST(SUM(dt_us) AS BIGINT) AS span_us,
       |       ${round6Sql(
             "CAST(SUM(CAST(price * dt_us AS DECIMAL(38,4))) AS DOUBLE) / CAST(SUM(dt_us) AS DOUBLE)")} AS twap
       |FROM dt WHERE dt_us IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- Q19: conversion funnel ------------------------------------------
  // Staged user-journey funnel (view → click within 24 h → purchase
  // within 24 h of the click): the canonical product-analytics shape.
  // Spark-first: each stage is a per-user conditional MIN — three
  // aggregates that all shuffle on user_id (one exchange shape, reused),
  // with the candidate set shrinking stage over stage; never a
  // sort-the-whole-journey-per-user window. The only unpartitioned
  // window runs over the 3 stage-count rows.

  private def q19(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t"))
    def nextStage(prev: DataFrame, et: String): DataFrame =
      ev.filter(col("event_type") === et)
        .join(prev, "user_id")
        .filter(col("ts") > col("t") &&
          col("ts") <= col("t") + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min("ts").as("t_next"))
        .withColumnRenamed("t_next", "t")
    val t2 = nextStage(t1, "click")
    val t3 = nextStage(t2, "purchase")
    def stageCount(df: DataFrame, ord: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("users"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"), col("users"))
    val counts = stageCount(t1, 1, "view")
      .unionByName(stageCount(t2, 2, "click_within_24h"))
      .unionByName(stageCount(t3, 3, "purchase_within_24h"))
    val w = Window.orderBy("stage_ord")
    counts
      .withColumn("conversion", round6(
        col("users").cast(DoubleType) / lag("users", 1).over(w).cast(DoubleType)))
      .orderBy("stage_ord")
  }

  private val q19Sql =
    """WITH t1 AS (
      |  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t1.t
      |    AND e.ts <= t1.t + INTERVAL 24 HOUR GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t
      |    AND e.ts <= t2.t + INTERVAL 24 HOUR GROUP BY 1),
      |counts AS (
      |  SELECT 1 AS stage_ord, 'view' AS stage, COUNT(*) AS users FROM t1
      |  UNION ALL SELECT 2, 'click_within_24h', COUNT(*) FROM t2
      |  UNION ALL SELECT 3, 'purchase_within_24h', COUNT(*) FROM t3)
      |SELECT CAST(stage_ord AS INTEGER) AS stage_ord, stage, users,
      |       floor((CAST(users AS DOUBLE) / CAST(lag(users) OVER (ORDER BY stage_ord) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS conversion
      |FROM counts ORDER BY stage_ord""".stripMargin

  // --- Q20: cohort retention matrix --------------------------------------
  // First-activity-day cohorts × days-since-cohort distinct actives —
  // the other canonical product-analytics shape. Cohort assignment and
  // daily activity share the user_id shuffle; the retention grid is
  // bounded by days² (tiny at any corpus size), and the cohort-size
  // join key (cohort_day) is bounded by the calendar, so AQE broadcasts
  // it on its own — no hint needed.

  private def q20(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("act_day"))
    val cohort = ev.groupBy("user_id").agg(min("act_day").as("cohort_day"))
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("cohort_users"))
    ev.distinct()
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("act_day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("active_users"))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("active_users"), col("cohort_users"),
        round6(col("active_users").cast(DoubleType) / col("cohort_users").cast(DoubleType))
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  private val q20Sql =
    """WITH cohort AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1),
      |activity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS act_day FROM events),
      |sizes AS (
      |  SELECT cohort_day, COUNT(*) AS cohort_users FROM cohort GROUP BY 1),
      |ret AS (
      |  SELECT c.cohort_day, date_diff('day', c.cohort_day, a.act_day) AS day_offset,
      |         COUNT(DISTINCT a.user_id) AS active_users
      |  FROM activity a JOIN cohort c ON a.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT r.cohort_day, CAST(r.day_offset AS INTEGER) AS day_offset,
      |       r.active_users, s.cohort_users,
      |       floor((CAST(r.active_users AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS retention
      |FROM ret r JOIN sizes s ON r.cohort_day = s.cohort_day
      |ORDER BY r.cohort_day, r.day_offset""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("etl_normalize", etlNormalize, Some(etlNormalizeSql)),
    Op("etl_normalize_klines", etlNormalizeKlines, Some(etlNormalizeKlinesSql)),
    Op("etl_normalize_aggtrades", etlNormalizeAggTrades, Some(etlNormalizeAggTradesSql)),
    Op("etl_partition_audit", etlPartitionAudit, Some(etlPartitionAuditSql)),
    Op("etl_incremental", etlIncremental, Some(etlIncrementalSql)),
    Op("etl_skipping_scan", etlSkippingScan, Some(etlSkippingScanSql), buildState = true),
    Op("etl_json_props", etlJsonProps, Some(etlJsonPropsSql)),
    Op("etl_upsert_latest", etlUpsertLatest, Some(etlUpsertLatestSql)),
    Op("etl_scd2_history", etlScd2, Some(etlScd2Sql)),
    Op("etl_dq_rejects", etlDqRejects, Some(etlDqRejectsSql)),
    Op("q1_partition_counts", q1, Some(q1Sql)),
    Op("q2_vwap_minute", q2, Some(q2Sql)),
    Op("q3_order_flow", q3, Some(q3Sql)),
    Op("q4_hourly_heatmap", q4, Some(q4Sql)),
    Op("q5_whale", q5, Some(q5Sql)),
    Op("q6_correlation", q6, Some(q6Sql)),
    Op("q7_dq_audit", q7, Some(q7Sql)),
    Op("q8_pruned_count", q8, Some(q8Sql)),
    Op("q9_daily_summary", q9, Some(q9Sql)),
    Op("q10_moving_avg", q10, Some(q10Sql)),
    Op("q11_volatility", q11, Some(q11Sql)),
    Op("q12_drawdown", q12, Some(q12Sql)),
    Op("q13_gapfill", q13, Some(q13Sql)),
    Op("q14_correlation_matrix", q14, Some(q14Sql)),
    Op("q15_quantiles", q15, Some(q15Sql)),
    Op("q16_quantiles_sketch", q16, Some(q16Sql)),
    Op("q17_distinct_sketch", q17, Some(q17Sql)),
    Op("q18_pattern_scan", q18, Some(q18Sql)),
    Op("q19_funnel", q19, Some(q19Sql)),
    Op("q20_retention", q20, Some(q20Sql)),
    Op("q21_anomaly", q21, Some(q21Sql)),
    Op("q22_bollinger", q22, Some(q22Sql)),
    Op("q23_kmv_distinct", q23, Some(q23Sql)),
    Op("q24_twap", q24, Some(q24Sql)),
    Op("q25_tdigest_quantiles", q25, Some(q25Sql)))


}
