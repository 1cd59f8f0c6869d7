package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Idempotent, incremental lake ingestion.
  *
  * The reference downloader keeps a per-file manifest and skips
  * anything already in the lake (glue_binance_downloader.py:60-140:
  * list-existing, skip-if-present, per-file status accounting).
  * Re-expressed Spark-first: a *load ledger* parquet table records
  * every (symbol, year, month, day) partition already ingested; each
  * run anti-joins the incoming feed's partition keys against the
  * ledger and processes only the remainder. Re-running after a partial
  * failure is safe twice over — the data write uses dynamic partition
  * overwrite (a retried partition is replaced, not duplicated) and the
  * ledger is only appended after the data lands.
  *
  * The ledger key deliberately matches the WRITE granularity (day —
  * the dynamic-overwrite unit), not the feed's delivery granularity
  * (month files): a feed that delivers partial months is re-read on
  * the next run and only the genuinely new days are ingested, instead
  * of a month-level ledger silently skipping late-arriving days
  * forever.
  *
  * At 100 TB the ledger stays tiny (one row per ingested partition,
  * not per row) and the anti-join broadcasts it; the heavy feed scan
  * reads only files whose partitions survive — with a partition-
  * pruned source layout the skipped partitions are never read at all.
  */
object IncrementalIngest {

  val partCols = Seq("symbol", "year", "month", "day")

  def ledgerPath(lakeRoot: String): String = s"$lakeRoot/_load_ledger"

  private val ledgerSchema = StructType(Seq(
    StructField("symbol", StringType),
    StructField("year", IntegerType),
    StructField("month", IntegerType),
    StructField("day", IntegerType),
    StructField("n_rows", LongType)))

  def readLedger(spark: SparkSession, lakeRoot: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(ledgerPath(lakeRoot))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) spark.read.schema(ledgerSchema).parquet(path.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ledgerSchema)
  }

  /** One incremental run: ingest only partitions absent from the
    * ledger. Returns the number of rows ingested (0 on a no-op
    * re-run). `dataPath` is the partitioned-parquet lake,
    * `lakeRoot` holds the ledger next to it. */
  def runIncremental(spark: SparkSession, inputPath: String,
      dataPath: String, lakeRoot: String): Long = {
    // normalize first: `day` comes from the row timestamps (the write
    // granularity), not the month-level feed file paths
    val normalized = MarketEtl.normalize(MarketEtl.readTradesCsv(spark, inputPath))
    val ledger = readLedger(spark, lakeRoot).select(partCols.map(col): _*)
    val todo = normalized.select(partCols.map(col): _*).distinct()
      .join(ledger, partCols, "left_anti")
      .cache()
    try {
      val fresh = MarketEtl.dqFilter(
        normalized.join(broadcast(todo), partCols, "left_semi"))
      val nRows = fresh.count()
      if (nRows > 0) {
        // dynamic mode replaces exactly the partitions present in the
        // written frame — a crashed-and-retried partition is rewritten
        // cleanly instead of appended twice
        fresh.repartition(col("year"), col("month"), col("day"), col("symbol"))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("year", "month", "day", "symbol")
          .parquet(dataPath)
        // ledger append happens only after the data is durable
        fresh.groupBy(partCols.map(col): _*)
          .agg(count(lit(1)).as("n_rows"))
          .write.mode(SaveMode.Append).parquet(ledgerPath(lakeRoot))
      }
      nRows
    } finally todo.unpersist()
  }
}
