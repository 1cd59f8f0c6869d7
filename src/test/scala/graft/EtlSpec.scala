package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.MarketEtl

/** Exercises the reference-shaped ETL end-to-end on a synthetic
  * Hive-partitioned CSV lake written under target/. */
class EtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val base = "target/tmp/etl-lake"

  def writeCsvLake(at: String = base): Unit = {
    // two symbols × one month, Binance trades CSV layout (no header):
    // trade_id,price,quantity,quote_qty,time(epoch ms),is_buyer_maker,is_best_match
    val rows = Map(
      "BTCUSDT" -> Seq(
        "1,50000.0,0.5,25000.0,1721995200000,True,True",
        "2,50010.0,1.0,50010.0,1721995260000,False,True",
        "3,-1.0,1.0,-1.0,1721995320000,True,True",      // DQ: negative price
        "4,50020.0,0.0,0.0,1721995380000,True,True"),   // DQ: zero qty
      "ETHUSDT" -> Seq(
        "10,3000.0,2.0,6000.0,1721995200000,False,False",
        "11,3001.5,4.0,12006.0,1721995500000,True,False"))
    rows.foreach { case (sym, lines) =>
      val dir = Paths.get(s"$at/symbol=$sym/year=2024/month=07")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"$sym-trades-2024-07.csv"),
        lines.mkString("\n"))
    }
  }

  private def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("csv lake → normalize → DQ → partitioned parquet round-trip") {
    writeCsvLake()
    val out = "target/tmp/etl-out"
    MarketEtl.run(spark, base, out)

    val back = spark.read.parquet(out)
    // 6 input rows, 2 dropped by DQ
    assert(back.count() == 4)
    // partition metadata recovered from paths and survives the lake layout
    val parts = back.select("year", "month", "day", "symbol").distinct().collect()
    assert(parts.forall(_.getInt(0) == 2024))
    assert(back.filter(col("symbol") === "BTCUSDT").count() == 2)
    // boolean normalization
    assert(back.schema("is_buyer_maker").dataType.typeName == "boolean")
    // timestamp conversion: epoch ms 1721995200000 = 2024-07-26T12:00:00
    val t = back.filter(col("trade_id") === 1).select(date_format(col("trade_time"), "yyyy-MM-dd HH:mm:ss")).head.getString(0)
    assert(t == "2024-07-26 12:00:00")
  }

  test("klines lake → normalizeKlines → DQ → partitioned parquet (second data_type)") {
    // Binance monthly klines layout (12 cols, no header):
    // open_time,open,high,low,close,volume,close_time,quote_volume,
    // count,taker_buy_volume,taker_buy_quote_volume,ignore
    val in = "target/tmp/etl-klines-lake"
    rmrf(in)
    val rows = Map(
      "BTCUSDT" -> Seq(
        "1721995200000,50000.0,50100.0,49900.0,50050.0,12.5,1721995259999,625625.0,42,5.5,275275.0,0",
        "1721995260000,50050.0,50060.0,50040.0,50055.0,3.0,1721995319999,150150.0,7,1.0,50055.0,0",
        // DQ: high below close — incoherent bar
        "1721995320000,50055.0,50000.0,49990.0,50060.0,2.0,1721995379999,100100.0,5,1.0,50055.0,0",
        // DQ: negative volume
        "1721995380000,50060.0,50070.0,50050.0,50065.0,-1.0,1721995439999,100.0,3,0.5,25000.0,0",
        // malformed numerics → null bar_time, dies at the gate
        "garbage,a,b,c,d,e,f,g,h,i,j,k"),
      "ETHUSDT" -> Seq(
        "1721995200000,3000.0,3010.0,2995.0,3005.0,100.0,1721995259999,300250.0,60,40.0,120100.0,0"))
    rows.foreach { case (sym, lines) =>
      val dir = Paths.get(s"$in/symbol=$sym/year=2024/month=07")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"$sym-klines-2024-07.csv"), lines.mkString("\n"))
    }
    val out = "target/tmp/etl-klines-out"
    rmrf(out)
    MarketEtl.runKlines(spark, in, out)

    val back = spark.read.parquet(out)
    // 6 input rows: 2 DQ-violating bars + 1 malformed row dropped
    assert(back.count() == 3)
    assert(back.filter(col("symbol") === "BTCUSDT").count() == 2)
    // same lake partition contract as trades
    val parts = back.select("year", "month", "day", "symbol").distinct().collect()
    assert(parts.forall(r => r.getInt(0) == 2024 && r.getInt(1) == 7))
    // Binance `count` renamed, epoch-ms round-trip, close_time convention
    assert(back.schema.fieldNames.contains("n_trades"))
    val r0 = back.filter(col("symbol") === "ETHUSDT")
      .select(date_format(col("bar_time"), "yyyy-MM-dd HH:mm:ss"),
        date_format(col("bar_close_time"), "HH:mm:ss.SSS"), col("n_trades"))
      .head
    assert(r0.getString(0) == "2024-07-26 12:00:00")
    assert(r0.getString(1) == "12:00:59.999")
    assert(r0.getLong(2) == 60L)
  }

  test("aggTrades lake → normalizeAggTrades → DQ → partitioned parquet (third data_type)") {
    // Binance monthly aggTrades layout (8 cols, no header):
    // agg_trade_id,price,quantity,first_trade_id,last_trade_id,
    // transact_time,is_buyer_maker,is_best_match
    val in = "target/tmp/etl-aggtrades-lake"
    rmrf(in)
    val rows = Map(
      "BTCUSDT" -> Seq(
        "100,50000.0,2.5,7000,7003,1721995200123,true,true",
        "101,50001.0,1.0,7004,7004,1721995200456,false,true",
        // DQ: incoherent id range (first > last)
        "102,50002.0,1.0,7010,7005,1721995201000,true,true",
        // DQ: non-positive price
        "103,0.0,1.0,7011,7011,1721995201500,true,true",
        // malformed numerics → null trade_time, dies at the gate
        "garbage,a,b,c,d,e,f,g"),
      "ETHUSDT" -> Seq(
        "200,3000.0,10.0,9000,9009,1721995200789,false,true"))
    rows.foreach { case (sym, lines) =>
      val dir = Paths.get(s"$in/symbol=$sym/year=2024/month=07")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"$sym-aggTrades-2024-07.csv"), lines.mkString("\n"))
    }
    val out = "target/tmp/etl-aggtrades-out"
    rmrf(out)
    MarketEtl.runAggTrades(spark, in, out)

    val back = spark.read.parquet(out)
    // 6 input rows: 2 DQ-violating rows + 1 malformed row dropped
    assert(back.count() == 3)
    assert(back.filter(col("symbol") === "BTCUSDT").count() == 2)
    // same lake partition contract as trades/klines
    val parts = back.select("year", "month", "day", "symbol").distinct().collect()
    assert(parts.forall(r => r.getInt(0) == 2024 && r.getInt(1) == 7))
    // notional derivation + epoch-ms round trip + id-range carry
    val r0 = back.filter(col("symbol") === "ETHUSDT")
      .select(date_format(col("trade_time"), "yyyy-MM-dd HH:mm:ss.SSS"),
        col("quote_qty"), col("first_trade_id"), col("last_trade_id"))
      .head
    assert(r0.getString(0) == "2024-07-26 12:00:00.789")
    assert(r0.getDouble(1) == 30000.0)
    assert(r0.getLong(2) == 9000L && r0.getLong(3) == 9009L)
  }

  test("catalog: external table + partition discovery + pruned SQL scan") {
    // depends on the lake written by the round-trip test
    writeCsvLake()
    val out = "target/tmp/etl-out-catalog"
    graft.etl.MarketEtl.run(spark, base, out)
    val parts = graft.etl.Catalog.register(
      spark, "trades_lake", new java.io.File(out).getAbsolutePath)
    assert(parts.count() == 2) // one (y,m,d,symbol) partition per symbol
    val viaSql = spark.sql(
      "SELECT count(*) FROM trades_lake WHERE symbol = 'BTCUSDT' AND year = 2024")
    // the partition predicate must prune at planning time, not filter rows
    val plan = viaSql.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("symbol") && plan.contains("PartitionFilters"), plan.take(1200))
    assert(viaSql.head.getLong(0) == 2)
  }

  test("DQ calendar predicate rejects impossible dates incl. leap-year") {
    import graft.functions.validCalendar
    val df = spark.range(1).select(
      validCalendar(lit(2023), lit(2), lit(29)).as("feb29_2023"),
      validCalendar(lit(2024), lit(2), lit(29)).as("feb29_2024"),
      validCalendar(lit(1900), lit(2), lit(29)).as("feb29_1900"),
      validCalendar(lit(2000), lit(2), lit(29)).as("feb29_2000"),
      validCalendar(lit(2024), lit(9), lit(31)).as("sep31"),
      validCalendar(lit(2024), lit(12), lit(31)).as("dec31"),
      validCalendar(lit(2024), lit(1), lit(0)).as("day0"))
    val r = df.head
    assert(!r.getBoolean(0)); assert(r.getBoolean(1))
    assert(!r.getBoolean(2)); assert(r.getBoolean(3))
    assert(!r.getBoolean(4)); assert(r.getBoolean(5))
    assert(!r.getBoolean(6))
  }

  test("malformed CSV rows survive the read as nulls and die at the DQ gate") {
    val dir = Paths.get(s"$base-corrupt/symbol=XXXUSDT/year=2024/month=07")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("XXXUSDT-trades-2024-07.csv"),
      Seq(
        "1,100.0,1.0,100.0,1721995200000,True,True",
        "garbage,not,a,number,row,True,True",        // malformed numerics
        "totally broken line",                        // wrong arity
        "2,101.0,2.0,202.0,1721995260000,False,True").mkString("\n"))
    val raw = graft.etl.MarketEtl.readTradesCsv(spark, s"$base-corrupt")
    assert(raw.count() == 4) // permissive read keeps all rows
    val clean = graft.etl.MarketEtl.dqFilter(graft.etl.MarketEtl.normalize(raw))
    assert(clean.count() == 2) // DQ drops both malformed rows
    assert(clean.select("trade_id").collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
  }

  test("distributed zip ingest extracts and parses archived CSVs") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val zipDir = Paths.get("target/tmp/zip-lake")
    Files.createDirectories(zipDir)
    for (sym <- Seq("AAAUSDT", "BBBUSDT")) {
      val zos = new ZipOutputStream(Files.newOutputStream(zipDir.resolve(s"$sym-trades.zip")))
      zos.putNextEntry(new ZipEntry(s"$sym-trades-2024-07.csv"))
      val rows = (1 to 100).map(i =>
        s"$i,${100.0 + i},1.5,${(100.0 + i) * 1.5},${1721995200000L + i * 1000},True,False")
      zos.write(rows.mkString("\n").getBytes("UTF-8"))
      zos.closeEntry(); zos.close()
    }
    val df = graft.etl.ZipIngest.readZippedCsv(
      spark, "target/tmp/zip-lake", graft.etl.MarketEtl.tradesCsvSchema)
    assert(df.count() == 200)
    assert(df.select("archive").distinct().count() == 2)
    val r = df.filter(col("trade_id") === 7 && col("archive").contains("AAAUSDT")).head
    assert(r.getAs[Double]("price") == 107.0)
    assert(r.getAs[String]("is_buyer_maker") == "True")
  }

  test("incremental ingestion is idempotent and loads only unseen partitions") {
    import graft.etl.IncrementalIngest
    val in = "target/tmp/etl-incr-in"
    val lakeRoot = "target/tmp/etl-incr"
    val dataPath = s"$lakeRoot/data"
    rmrf(in); rmrf(lakeRoot)
    writeCsvLake(in)

    val n1 = IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    assert(n1 == 4) // 6 raw rows, 2 die at the DQ gate
    // re-run with nothing new: the ledger anti-join makes it a no-op
    val n2 = IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    assert(n2 == 0)
    assert(spark.read.parquet(dataPath).count() == 4) // no duplicates

    // a new partition lands in the feed → only it is ingested
    val dir = Paths.get(s"$in/symbol=SOLUSDT/year=2024/month=07")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("SOLUSDT-trades-2024-07.csv"),
      "21,150.0,2.0,300.0,1721995200000,True,True")
    val n3 = IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    assert(n3 == 1)
    val back = spark.read.parquet(dataPath)
    assert(back.count() == 5)
    assert(back.select("trade_id").distinct().count() == 5)
    assert(IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot) == 0)

    // late-arriving NEW DAY inside an already-ingested month: the
    // ledger is keyed at day granularity (the dynamic-overwrite unit),
    // so a feed that delivers partial months doesn't lose the rest of
    // the month — a month-level ledger would skip this row forever
    Files.writeString(
      Paths.get(s"$in/symbol=BTCUSDT/year=2024/month=07")
        .resolve("BTCUSDT-trades-2024-07-day27.csv"),
      "30,50100.0,0.25,12525.0,1722081600000,False,True") // 2024-07-27
    val n4 = IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    assert(n4 == 1, s"late-arriving day must be ingested, got $n4")
    val withLate = spark.read.parquet(dataPath)
    assert(withLate.count() == 6)
    assert(withLate.filter(col("trade_id") === 30).head.getAs[Int]("day") == 27)
    // and the run is still idempotent
    assert(IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot) == 0)
  }

  test("compaction merges small files; retention drops expired partitions") {
    import graft.etl.LakeMaintenance
    val lake = "target/tmp/maint-lake"
    rmrf(lake)
    val df = spark.range(1000).select(
      col("id"),
      (col("id") * 37 % 1000).as("value"),
      lit(2024).as("year"), lit(1).as("month"),
      (col("id") % 10 + 1).cast("int").as("day"),
      concat(lit("SYM"), (col("id") % 2).cast("string")).as("symbol"))
    // deliberate small-file sprawl: 8 tasks × every partition
    df.repartition(8)
      .write.partitionBy("year", "month", "day", "symbol").parquet(lake)

    val before = LakeMaintenance.partitionCensus(spark, lake)
    assert(before.exists(_._2 > 1), s"fixture not fragmented: $before")
    val wantCount = spark.read.parquet(lake).count()
    val wantSum = spark.read.parquet(lake).agg(sum("value")).head.getLong(0)
    val preCompactVersion = graft.etl.Snapshots.commit(spark, lake)

    val compacted = LakeMaintenance.compact(spark, lake)
    assert(compacted == before.count(_._2 > 1))
    val after = LakeMaintenance.partitionCensus(spark, lake)
    assert(after.forall(_._2 == 1), s"still fragmented: ${after.filter(_._2 > 1)}")
    // compaction is layout-only: same rows, same values
    assert(spark.read.parquet(lake).count() == wantCount)
    assert(spark.read.parquet(lake).agg(sum("value")).head.getLong(0) == wantSum)
    // the rewrite expired the pre-compaction snapshot and recorded the
    // new layout as a fresh one (VACUUM semantics)
    val vs = graft.etl.Snapshots.versions(spark, lake)
    assert(!vs.contains(preCompactVersion) && vs.nonEmpty, vs.mkString(","))
    assert(graft.etl.Snapshots.readVersion(spark, lake, vs.last).count() == wantCount)

    // multi-pass compaction: re-fragment and compact 4 partitions per
    // pass — each pass is durable, results identical to one big pass
    spark.read.parquet(lake).repartition(8)
      .write.mode("overwrite").partitionBy("year", "month", "day", "symbol").parquet(lake + "2")
    val frag2 = LakeMaintenance.partitionCensus(spark, lake + "2").count(_._2 > 1)
    assert(frag2 > 4, s"fixture not fragmented enough for multi-pass: $frag2")
    assert(LakeMaintenance.compact(spark, lake + "2", partitionsPerPass = 4) == frag2)
    assert(LakeMaintenance.partitionCensus(spark, lake + "2").forall(_._2 == 1))
    assert(spark.read.parquet(lake + "2").count() == wantCount)

    // retention: drop partitions before Jan 6 → days 1-5 gone, 6-10 kept
    val dropped = LakeMaintenance.retention(spark, lake, java.time.LocalDate.of(2024, 1, 6))
    assert(dropped == 5)
    val days = spark.read.parquet(lake).select("day").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(days.sameElements(6 to 10), days.mkString(","))
  }

  test("z-order clustering shrinks per-file ranges on both dimensions") {
    import graft.etl.LakeMaintenance
    val lake = "target/tmp/zorder-lake"
    rmrf(lake)
    val df = spark.range(4096).select(
      col("id"),
      (col("id") * 2654435761L % 1024).as("x"),
      (col("id") * 40503 % 1024).as("y"))
    df.repartition(8).write.parquet(lake)

    // mean fraction of each dimension's full range a file spans: ~1.0
    // for random files (every file sees the whole domain), compact
    // rectangles after clustering
    def avgCoverage(): Double = spark.read.parquet(lake)
      .groupBy(input_file_name().as("f"))
      .agg((((max("x") - min("x")) / 1023d) + ((max("y") - min("y")) / 1023d)).as("w"))
      .agg(avg("w")).head.getDouble(0) / 2
    val before = avgCoverage()
    val want = spark.read.parquet(lake).agg(sum("x"), sum("y"), count(lit(1))).head

    LakeMaintenance.zorderCluster(spark, lake, Seq("x", "y"), outFiles = 8, bits = 10)

    val after = avgCoverage()
    assert(spark.read.parquet(lake).agg(sum("x"), sum("y"), count(lit(1))).head == want,
      "clustering must be layout-only")
    // 8 z-range files over a 2-dim 10-bit key: expected ~0.38 mean
    // coverage vs ~1.0 unclustered — both dims prune, not just one
    assert(after < before * 0.7, s"z-order didn't tighten file ranges: $before -> $after")
  }

  test("compaction is sidecar-aware: stats-only targets + delta-refreshed pruning") {
    import graft.etl.{DataSkipping, LakeMaintenance}
    val lake = "target/tmp/compact-skip-lake"
    rmrf(lake)
    def slice(lo: Long, hi: Long, day: Int) =
      spark.range(lo, hi).selectExpr("id", "id * 37 % 1000 AS value",
        "2024 AS year", "1 AS month", s"$day AS day")
    def land(lo: Long, hi: Long, day: Int): Unit =
      slice(lo, hi, day).coalesce(1).write
        .partitionBy("year", "month", "day").mode("append").parquet(lake)
    def filesIn(day: Int): Int =
      new java.io.File(s"$lake/year=2024/month=1/day=$day").listFiles()
        .count(_.getName.endsWith(".parquet"))
    // day=1: two tracked files (genuinely fragmented); day=2: one
    land(0, 100, 1); land(100, 200, 1); land(200, 300, 2)
    DataSkipping.analyze(spark, lake, Seq("id"))
    // two UNTRACKED files land in day=2 AFTER the ANALYZE: a listing
    // would call day=2 fragmented (3 files) — the sidecar knows 1
    land(300, 400, 2); land(400, 500, 2)
    assert(filesIn(2) == 3)

    // target selection from stats only: exactly day=1 is compacted,
    // the untracked fragmentation in day=2 is not selected
    assert(LakeMaintenance.compact(spark, lake) == 1)
    assert(filesIn(1) == 1, "selected partition must be compacted")
    assert(filesIn(2) == 3, "untracked fragmentation must not be selected from stats")

    // the sidecar SURVIVED the rewrite (no invalidate + full
    // re-ANALYZE) and was folded forward delta-wise: one row per
    // tracked live file (day=1's new compacted file + day=2's original)
    assert(DataSkipping.hasStats(spark, lake), "sidecar lost by compaction")
    assert(spark.read.parquet(s"$lake/_skipping/stats.parquet").count() == 2)

    // post-compaction pruning is green immediately: range probe finds
    // the compacted file and the pruned scan equals the plain scan
    val probe = DataSkipping.pruneRange(spark, lake, "id", "50", "150")
    assert(probe.nonEmpty)
    val pruned = DataSkipping.readPruned(spark, lake, probe)
      .filter(col("id").between(50, 150))
    val full = spark.read.parquet(lake).filter(col("id").between(50, 150))
    assert(pruned.collect().toSet == full.collect().toSet)
    // layout-only: every row still present
    assert(spark.read.parquet(lake).count() == 500)
    // idempotent: no tracked fragmentation remains
    assert(LakeMaintenance.compact(spark, lake) == 0)
  }

  test("data skipping: sidecar prunes files, scans stay exact, rewrites invalidate") {
    import graft.etl.{DataSkipping, LakeMaintenance}
    val lake = "target/tmp/skip-lake"
    rmrf(lake)
    // 800 rows, EVEN ids only (the odd gaps give the bloom something
    // min/max can't prune), clustered into 8 disjoint id-range files;
    // sym tracks the id range so each value lives in few files
    spark.range(1, 401).select(
        (col("id") * 2).as("id"),
        concat(lit("s"), expr("(id * 2) div 100")).as("sym"),
        (col("id") % 97).as("v"))
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
      .write.parquet(lake)
    val nFiles = DataSkipping.analyze(spark, lake, Seq("id", "sym"))
    assert(nFiles == 8)
    assert(DataSkipping.hasStats(spark, lake))

    // range prune: [150, 250] spans ~1/8 of the id space → most of the
    // 8 files provably contain no row and are dropped before planning
    val ranged = DataSkipping.pruneRange(spark, lake, "id", "150", "250")
    assert(ranged.nonEmpty && ranged.size <= 3, s"expected <=3 files, got $ranged")
    val pruned = DataSkipping.readPruned(spark, lake, ranged)
      .filter(col("id").between(150, 250))
    val full = spark.read.parquet(lake).filter(col("id").between(150, 250))
    assert(pruned.collect().toSet == full.collect().toSet)
    assert(pruned.count() == 51) // 150,152,...,250

    // point lookup, present: min/max + bloom agree on a small file set
    val hit = DataSkipping.pruneEq(spark, lake, "id", DataSkipping.sqlLong(200))
    assert(hit.nonEmpty && hit.size <= 2, s"point lookup should isolate: $hit")
    assert(DataSkipping.readPruned(spark, lake, hit)
      .filter(col("id") === 200).count() == 1)

    // absent EVEN-range value but ODD id: inside every min/max band it
    // overlaps, so only the bloom can prove absence — and it must
    val miss = DataSkipping.pruneEq(spark, lake, "id", DataSkipping.sqlLong(201))
    assert(miss.isEmpty, s"bloom failed to prove absence of 201: $miss")
    assert(DataSkipping.readPruned(spark, lake, miss).count() == 0)

    // string column: each sym value occupies a contiguous slice of files
    val s3 = DataSkipping.pruneEq(spark, lake, "sym", DataSkipping.sqlString("s3"))
    assert(s3.nonEmpty && s3.size <= 2, s"sym prune too wide: $s3")
    assert(DataSkipping.readPruned(spark, lake, s3).filter(col("sym") === "s3")
      .count() == spark.read.parquet(lake).filter(col("sym") === "s3").count())
    assert(DataSkipping.pruneEq(spark, lake, "sym",
      DataSkipping.sqlString("zz")).isEmpty)

    // layout rewrites invalidate the sidecar (its rows name dead files)
    LakeMaintenance.zorderCluster(spark, lake, Seq("id", "v"), outFiles = 4, bits = 8)
    assert(!DataSkipping.hasStats(spark, lake),
      "rewrite must drop the stale skipping sidecar")
    // re-ANALYZE over the new layout works and stays exact
    DataSkipping.analyze(spark, lake, Seq("id"))
    val again = DataSkipping.pruneRange(spark, lake, "id", "150", "250")
    assert(DataSkipping.readPruned(spark, lake, again)
      .filter(col("id").between(150, 250)).count() == 51)
  }

  test("CDC merge: latest-wins upserts, deletes, idempotent replay, emptied partitions") {
    import graft.etl.CdcMerge
    val in = "target/tmp/etl-cdc-in"
    val lake = "target/tmp/etl-cdc-lake"
    rmrf(in); rmrf(lake)
    writeCsvLake(in)
    MarketEtl.run(spark, in, lake)
    val base = spark.read.parquet(lake)
    assert(base.count() == 4) // trades 1,2 (BTC) + 10,11 (ETH)

    def tagged(id: Long, op: String, seq: Long) =
      base.filter(col("trade_id") === id)
        .withColumn("op", lit(op)).withColumn("seq", lit(seq))
    val changes = tagged(1, "U", 2).withColumn("price", lit(99999.0))
      .unionByName(tagged(1, "U", 1).withColumn("price", lit(1.0))) // stale, must lose
      .unionByName(tagged(10, "D", 1))
      .unionByName(tagged(2, "I", 1).withColumn("trade_id", lit(999L)))
      .localCheckpoint() // changes derive from the lake being rewritten

    val (nU, nD) = CdcMerge(spark, lake, changes, Seq("trade_id"))
    assert((nU, nD) == (2L, 1L))
    val after = spark.read.parquet(lake)
    assert(after.count() == 4) // -1 delete, +1 insert
    assert(after.filter(col("trade_id") === 1).head.getAs[Double]("price") == 99999.0)
    assert(after.filter(col("trade_id") === 10).isEmpty)
    assert(after.filter(col("trade_id") === 999).count() == 1)

    // replaying the same batch converges to the same state
    CdcMerge(spark, lake, changes, Seq("trade_id"))
    val replay = spark.read.parquet(lake)
    assert(replay.count() == 4)
    assert(replay.filter(col("trade_id") === 1).head.getAs[Double]("price") == 99999.0)

    // deleting a partition's last row drops the partition directory,
    // and an upsert in the same batch rewrites its own partition
    // (fresh read: `base`'s file listing is stale after the rewrites)
    val btcDir = new java.io.File(s"$lake/year=2024/month=7/day=26/symbol=BTCUSDT")
    val btcBefore = btcDir.list().toSet
    val delLast = spark.read.parquet(lake).filter(col("trade_id").isin(2L, 11L))
      .withColumn("price", lit(5.0))
      .withColumn("op", when(col("trade_id") === 2L, "U").otherwise("D"))
      .withColumn("seq", lit(3L))
      .localCheckpoint()
    assert(CdcMerge(spark, lake, delLast, Seq("trade_id")) == ((1L, 1L)))
    val end = spark.read.parquet(lake)
    assert(end.filter(col("symbol") === "ETHUSDT").isEmpty)
    assert(!Files.exists(Paths.get(s"$lake").resolve("year=2024/month=7/day=26/symbol=ETHUSDT")),
      "the emptied partition's directory must be gone")
    assert(btcDir.list().toSet.intersect(btcBefore).isEmpty,
      "the upserted partition must be rewritten")
    assert(end.select("trade_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 999L))
    assert(end.filter(col("trade_id") === 2L).head.getAs[Double]("price") == 5.0)
  }

  test("symbols with digits keep their symbol through MarketEtl.run") {
    val in = "target/tmp/etl-digit-symbols"
    val out = "target/tmp/etl-digit-symbols-out"
    rmrf(in); rmrf(out)
    Seq("1INCHUSDT" -> "20,0.4,10.0,4.0,1721995200000,True,True",
        "BTCUSDT" -> "21,50000.0,0.5,25000.0,1721995200000,False,True")
      .foreach { case (sym, line) =>
        val dir = Paths.get(s"$in/symbol=$sym/year=2024/month=07")
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(s"$sym-trades-2024-07.csv"), line)
      }
    MarketEtl.run(spark, in, out)
    val syms = spark.read.parquet(out).select("symbol").collect().map(_.getString(0))
    assert(syms.length == 2 && syms.toSet == Set("1INCHUSDT", "BTCUSDT"), syms.mkString(","))
  }

  test("a CDC merge that throws releases its cached change frame") {
    import graft.etl.CdcMerge
    val in = "target/tmp/etl-cdc-throw-in"
    val lake = "target/tmp/etl-cdc-throw-lake"
    rmrf(in); rmrf(lake)
    writeCsvLake(in)
    MarketEtl.run(spark, in, lake)
    val changes = spark.read.parquet(lake)
      .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      .localCheckpoint()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the change frame is cached and collected before the merge reads
    // the (missing) lake, so the merge throws with it cached
    intercept[Exception](
      CdcMerge(spark, "target/tmp/etl-cdc-throw-missing", changes, Seq("trade_id")))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"cached RDDs left behind: $added")
  }

  test("partition and file-surgical CDC merges leave no persistent RDDs behind") {
    import graft.etl.{CdcMerge, DataSkipping}
    val in = "target/tmp/etl-cdc-release-in"
    val lake = "target/tmp/etl-cdc-release-lake"
    rmrf(in); rmrf(lake)
    writeCsvLake(in)
    MarketEtl.run(spark, in, lake)
    def update(id: Long, seq: Long) = spark.read.parquet(lake)
      .filter(col("trade_id") === id).withColumn("price", lit(7.0))
      .withColumn("op", lit("U")).withColumn("seq", lit(seq)).localCheckpoint()
    def persistentAfter(merge: => (Long, Long)): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(merge == ((1L, 0L)))
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    val partitionMerge = update(1, 1)
    assert(persistentAfter(CdcMerge(spark, lake, partitionMerge, Seq("trade_id"))).isEmpty)
    DataSkipping.analyze(spark, lake, Seq("trade_id"))
    val fileMerge = update(10, 2)
    assert(persistentAfter(CdcMerge(spark, lake, fileMerge, Seq("trade_id"))).isEmpty)
    assert(DataSkipping.hasStats(spark, lake), "the second merge must be file-surgical")
    assert(spark.read.parquet(lake).filter(col("price") === 7.0).count() == 2)
  }

  test("a narrow CDC merge runs no stage at the un-coalesced shuffle width") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    import graft.etl.CdcMerge
    val in = "target/tmp/etl-cdc-fanout-in"
    val lake = "target/tmp/etl-cdc-fanout-lake"
    rmrf(in); rmrf(lake)
    writeCsvLake(in)
    MarketEtl.run(spark, in, lake)
    val changes = spark.read.parquet(lake).filter(col("trade_id").isin(1L, 11L))
      .withColumn("op", when(col("trade_id") === 1L, "U").otherwise("D"))
      .withColumn("seq", lit(1L)).localCheckpoint()
    val initialWidth =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    def group(p: java.util.Properties) = Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (group(e.properties) == "cdc-fanout") stageTasks.add(e.stageInfo.numTasks)
      // the bus delivers in order: once the marker job starts, every
      // stage of the merge before it has been seen
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (group(e.properties) == "cdc-fanout-end") drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("cdc-fanout", "narrow CDC merge")
      val (nU, nD) = try CdcMerge(spark, lake, changes, Seq("trade_id"))
        finally sc.clearJobGroup()
      assert((nU, nD) == (1L, 1L))
      sc.setJobGroup("cdc-fanout-end", "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val widths = stageTasks.toArray.toSeq
    assert(widths.nonEmpty)
    assert(!widths.contains(initialWidth),
      s"a stage ran $initialWidth tasks (stage widths: ${widths.mkString(",")})")
  }

  test("a CDC delete in a partition that does not exist creates no directory") {
    import graft.etl.CdcMerge
    val in = "target/tmp/etl-cdc-ghost-in"
    val lake = "target/tmp/etl-cdc-ghost-lake"
    rmrf(in); rmrf(lake)
    writeCsvLake(in)
    MarketEtl.run(spark, in, lake)
    val ghost = spark.read.parquet(lake).filter(col("trade_id") === 1L)
      .withColumn("trade_id", lit(777L)).withColumn("symbol", lit("SOLUSDT"))
      .withColumn("op", lit("D")).withColumn("seq", lit(1L)).localCheckpoint()
    assert(CdcMerge(spark, lake, ghost, Seq("trade_id")) == ((0L, 1L)))
    assert(!new java.io.File(s"$lake/year=2024/month=7/day=26/symbol=SOLUSDT").exists())
    assert(spark.read.parquet(lake).count() == 4)
  }

  test("CDC merge is file-surgical when the sidecar tracks the key") {
    import graft.etl.{CdcMerge, DataSkipping}
    val lake = "target/tmp/etl-cdc-skip"
    rmrf(lake)
    // one partition, two files with disjoint trade_id ranges — the
    // shape zorderCluster produces; the batch below touches only the
    // high range, so the low file must survive byte-for-byte
    def slice(lo: Long, hi: Long) =
      spark.range(lo, hi).selectExpr("id AS trade_id",
        "CAST(id AS DOUBLE) AS price", "CAST(id AS DOUBLE) AS qty",
        "2024 AS year", "7 AS month", "26 AS day", "'BTCUSDT' AS symbol")
    slice(0, 100).coalesce(1).write
      .partitionBy("year", "month", "day", "symbol").mode("append").parquet(lake)
    slice(1000, 1100).coalesce(1).write
      .partitionBy("year", "month", "day", "symbol").mode("append").parquet(lake)
    DataSkipping.analyze(spark, lake, Seq("trade_id"))

    val partDir = s"$lake/year=2024/month=7/day=26/symbol=BTCUSDT"
    def listing = new java.io.File(partDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = listing
    assert(before.size == 2)
    val lowFiles = DataSkipping.pruneEq(spark, lake, "trade_id", DataSkipping.sqlLong(5L))
    assert(lowFiles.size == 1)
    val lowName = new org.apache.hadoop.fs.Path(lowFiles.head).getName

    val changes = slice(1050, 1051).withColumn("price", lit(42.0))
      .withColumn("op", lit("U")).withColumn("seq", lit(1L)).localCheckpoint()
    val (nU, nD) = CdcMerge(spark, lake, changes, Seq("trade_id"))
    assert((nU, nD) == (1L, 0L))

    val after = listing
    // the low-range file was neither rewritten nor deleted — same
    // name, length, and mtime (a partition-level merge rewrites it)
    assert(after.filter(_._1 == lowName) == before.filter(_._1 == lowName)
      && after.exists(_._1 == lowName))
    // the high-range file WAS replaced
    val highName = (before.map(_._1) - lowName).head
    assert(!after.map(_._1).contains(highName))
    // and the merge result is exactly the partition-level result
    val rows = spark.read.parquet(lake)
    assert(rows.count() == 200)
    assert(rows.filter(col("trade_id") === 1050).head.getAs[Double]("price") == 42.0)
    assert(rows.filter(col("trade_id") === 1049).head.getAs[Double]("price") == 1049.0)
    // the sidecar was delta-refreshed: one row per live file, and a
    // post-merge point probe prunes to the new file only
    assert(spark.read.parquet(s"$lake/_skipping/stats.parquet").count() ==
      after.size.toLong)
    val probe = DataSkipping.pruneEq(spark, lake, "trade_id", DataSkipping.sqlLong(1050L))
    assert(!probe.contains(lowFiles.head))
    assert(DataSkipping.readPruned(spark, lake, probe)
      .filter(col("trade_id") === 1050).head.getAs[Double]("price") == 42.0)

    // a file appended AFTER the last ANALYZE is invisible to the
    // probes; a merge touching its keys must still read it (else its
    // rows escape the anti-join and duplicate). Land an untracked
    // slice, update a key inside it, and pin exactly-one-row.
    slice(5000, 5010).coalesce(1).write
      .partitionBy("year", "month", "day", "symbol").mode("append").parquet(lake)
    val changes2 = slice(5005, 5006).withColumn("price", lit(7.0))
      .withColumn("op", lit("U")).withColumn("seq", lit(2L)).localCheckpoint()
    CdcMerge(spark, lake, changes2, Seq("trade_id"))
    val afterUntracked = spark.read.parquet(lake)
    assert(afterUntracked.count() == 210)
    assert(afterUntracked.filter(col("trade_id") === 5005).count() == 1)
    assert(afterUntracked.filter(col("trade_id") === 5005).head.getAs[Double]("price") == 7.0)

    // a batch spanning EVERY tracked file empties the sidecar when its
    // rows drop (step 1); the pre-surgery parameter snapshot must
    // re-create it for the new layout (step 2), not leave the lake
    // permanently unindexed
    val spanning = spark.read.parquet(lake)
      .filter(col("trade_id").isin(5L, 1049L, 5005L))
      .withColumn("price", lit(1.5))
      .withColumn("op", lit("U")).withColumn("seq", lit(3L)).localCheckpoint()
    CdcMerge(spark, lake, spanning, Seq("trade_id"))
    assert(DataSkipping.hasStats(spark, lake), "sidecar lost after a spanning merge")
    val live = new java.io.File(partDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(spark.read.parquet(s"$lake/_skipping/stats.parquet").count() == live.toLong)
    assert(spark.read.parquet(lake).count() == 210)
    assert(spark.read.parquet(lake)
      .filter(col("trade_id") === 5L).head.getAs[Double]("price") == 1.5)

    // an empty change batch is a complete no-op: no rewrite, and the
    // sidecar survives (it used to be invalidated unconditionally)
    val none = spark.read.parquet(lake).filter(lit(false))
      .withColumn("op", lit("U")).withColumn("seq", lit(4L)).localCheckpoint()
    assert(CdcMerge(spark, lake, none, Seq("trade_id")) == ((0L, 0L)))
    assert(DataSkipping.hasStats(spark, lake), "empty batch dropped the sidecar")

    // a batch that deletes EVERY remaining row rewrites every indexed
    // file away: the partition dir must drop AND the sidecar must be
    // invalidated (an empty sidecar would poison later probes), with
    // the delete count intact
    val wipe = spark.read.parquet(lake)
      .withColumn("op", lit("D")).withColumn("seq", lit(9L)).localCheckpoint()
    val (wU, wD) = CdcMerge(spark, lake, wipe, Seq("trade_id"))
    assert((wU, wD) == (0L, 210L))
    assert(!new java.io.File(partDir).exists())
    assert(!DataSkipping.hasStats(spark, lake))
  }

  test("schema evolution: later partitions add columns, mergeSchema unifies") {
    val lake = "target/tmp/etl-evolve"
    rmrf(lake)
    // v1 era: no venue column
    spark.range(10).selectExpr("id AS trade_id", "50000.0 + id AS price",
        "2024 AS year", "7 AS month")
      .write.partitionBy("year", "month").parquet(lake)
    // v2 era: a new month arrives with an extra column
    spark.range(10, 15).selectExpr("id AS trade_id", "51000.0 + id AS price",
        "'binance' AS venue", "2024 AS year", "8 AS month")
      .write.mode("append").partitionBy("year", "month").parquet(lake)

    val unified = spark.read.option("mergeSchema", "true").parquet(lake)
    assert(unified.columns.contains("venue"))
    assert(unified.count() == 15)
    // old-era rows surface the new column as null; new-era rows keep it
    assert(unified.filter(col("month") === 7 && col("venue").isNull).count() == 10)
    assert(unified.filter(col("month") === 8 && col("venue") === "binance").count() == 5)
  }

  test("corrupt data files are skippable without losing the healthy partitions") {
    val lake = "target/tmp/etl-corrupt"
    rmrf(lake)
    spark.range(100).selectExpr("id", "id * 2 AS v", "CAST(id % 4 AS INT) AS part")
      .repartition(col("part")) // one data file per partition dir
      .write.partitionBy("part").parquet(lake)
    // clobber the partition's single data file with garbage
    val dir = new java.io.File(s"$lake/part=3")
    val victims = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(victims.length == 1, s"fixture expects one file, got ${victims.length}")
    java.nio.file.Files.write(victims.head.toPath, "not a parquet file".getBytes)

    // default: the corrupt file fails the scan loudly (no silent loss)
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(lake).count()
    }
    // opted in, the healthy 75 rows survive — the 100 TB posture:
    // one bad object must not take down the whole corpus scan
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val healthy = spark.read.parquet(lake)
      assert(healthy.count() == 75)
      assert(healthy.select("part").distinct().count() == 3)
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
  }

  test("CDC merge expires invalidated snapshots and commits the new layout") {
    import graft.etl.{CdcMerge, Snapshots}
    val in = "target/tmp/etl-cdcsnap-in"
    val lake = "target/tmp/etl-cdcsnap-lake"
    rmrf(in); rmrf(lake)
    writeCsvLake(in)
    MarketEtl.run(spark, in, lake)
    val preMerge = Snapshots.commit(spark, lake)

    val changes = spark.read.parquet(lake).filter(col("trade_id") === 1)
      .withColumn("price", lit(12345.0))
      .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      .localCheckpoint()
    CdcMerge(spark, lake, changes, Seq("trade_id"))

    // the merge rewrote the BTC partition: the pre-merge snapshot is
    // invalid and must be expired, with the new layout committed —
    // otherwise it dangles until readVersion fails loudly
    val vs = Snapshots.versions(spark, lake)
    assert(!vs.contains(preMerge), s"pre-merge snapshot should be expired: $vs")
    assert(vs.nonEmpty, "merge must commit the new layout as a snapshot")
    val snap = Snapshots.readVersion(spark, lake, vs.last)
    assert(snap.count() == 4)
    assert(snap.filter(col("trade_id") === 1).head.getAs[Double]("price") == 12345.0)
  }

  test("snapshots: commit, time-travel read, rollback over append evolution") {
    import graft.etl.{IncrementalIngest, Snapshots}
    val in = "target/tmp/etl-snap-in"
    val lakeRoot = "target/tmp/etl-snap"
    val dataPath = s"$lakeRoot/data"
    rmrf(in); rmrf(lakeRoot)
    writeCsvLake(in)
    IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    assert(Snapshots.commit(spark, dataPath) == 1)

    // append-style evolution: a new partition lands via the ledger path
    val dir = Paths.get(s"$in/symbol=SOLUSDT/year=2024/month=07")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("SOLUSDT-trades-2024-07.csv"),
      "21,150.0,2.0,300.0,1721995200000,True,True")
    IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    assert(Snapshots.commit(spark, dataPath) == 2)
    assert(Snapshots.versions(spark, dataPath) == Seq(1, 2))

    assert(spark.read.parquet(dataPath).count() == 5)
    // time travel: v1 sees the lake as of the first load
    val v1 = Snapshots.readVersion(spark, dataPath, 1)
    assert(v1.count() == 4)
    assert(v1.select("symbol").distinct().count() == 2) // partition cols survive
    assert(Snapshots.readVersion(spark, dataPath, 2).count() == 5)

    // manifest diff = the incremental read set: exactly the new
    // partition's rows, nothing rescanned
    val added = Snapshots.readAdded(spark, dataPath, 1, 2)
    assert(added.count() == 1)
    assert(added.select("symbol").head.getString(0) == "SOLUSDT")

    val removed = Snapshots.rollback(spark, dataPath, 1)
    assert(removed >= 1)
    val back = spark.read.parquet(dataPath)
    assert(back.count() == 4)
    assert(back.filter(col("symbol") === "SOLUSDT").isEmpty)
  }

  test("incremental aggregate: refresh from snapshot diffs equals full recompute") {
    import graft.etl.{IncrementalAgg, IncrementalIngest, Snapshots}
    import graft.etl.IncrementalAgg.AggSpec
    val in = "target/tmp/etl-iagg-in"
    val lakeRoot = "target/tmp/etl-iagg"
    val dataPath = s"$lakeRoot/data"
    val aggPath = s"$lakeRoot/agg"
    rmrf(in); rmrf(lakeRoot)
    writeCsvLake(in)
    IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    val spec = AggSpec(Seq("symbol", "year", "month"), Seq("qty" -> "quantity", "pv" -> "quote_qty"))

    val v1 = IncrementalAgg.fullBuild(spark, dataPath, aggPath, spec)
    assert(IncrementalAgg.syncedVersion(spark, aggPath).contains(v1))
    def materialized = spark.read.parquet(aggPath)
      .orderBy("symbol", "year", "month").collect().toSeq
    val base = materialized
    assert(base.nonEmpty)

    // refresh with no lake movement is a no-op
    assert(IncrementalAgg.refresh(spark, dataPath, aggPath, spec) == v1)
    assert(materialized == base)

    // two appends land (one brand-new group, one into an existing group)
    val d1 = Paths.get(s"$in/symbol=SOLUSDT/year=2024/month=07")
    Files.createDirectories(d1)
    Files.writeString(d1.resolve("SOLUSDT-trades-2024-07.csv"),
      "21,150.0,2.0,300.0,1721995200000,True,True")
    val d2 = Paths.get(s"$in/symbol=BTCUSDT/year=2024/month=08")
    Files.createDirectories(d2)
    Files.writeString(d2.resolve("BTCUSDT-trades-2024-08.csv"),
      "22,51000.0,0.25,12750.0,1724673600000,False,True")
    IncrementalIngest.runIncremental(spark, in, dataPath, lakeRoot)
    val v2 = Snapshots.commit(spark, dataPath)

    assert(IncrementalAgg.refresh(spark, dataPath, aggPath, spec) == v2)
    // the merged state must equal an aggregate computed from scratch
    val fromScratch = spark.read.parquet(dataPath)
      .groupBy("symbol", "year", "month")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("quantity").cast("decimal(38,6)")).as("sum_qty"),
        sum(col("quote_qty").cast("decimal(38,6)")).as("sum_pv"))
      .orderBy("symbol", "year", "month").collect().toSeq
    assert(materialized == fromScratch,
      s"incremental=${materialized.mkString("; ")} scratch=${fromScratch.mkString("; ")}")
    assert(materialized.size == base.size + 2) // one new symbol-month per append
  }

  test("snapshot commit contract survives a no-atomic-rename object store") {
    // The reference lake is S3-native; S3 has atomic single-object PUT
    // but NO atomic rename. This pins the three properties that make
    // the snapshot layer correct under exactly that model:
    //   1. the commit ATOM is the manifest object (one PUT) — readers
    //      resolve a version's explicit file list, never a directory
    //      listing, so data-file visibility flips atomically with it;
    //   2. in-flight writer state is invisible: Spark's committer keeps
    //      task files under _-prefixed paths, which both readVersion
    //      and commit() exclude — a writer crash before its manifest
    //      commit leaves NO torn state for readers or later commits;
    //   3. committed data files are immutable — never renamed or
    //      rewritten in place; evolution is append + new-manifest
    //      (compaction writes NEW files and expires old manifests).
    import spark.implicits._
    import graft.etl.Snapshots
    val lake = "target/tmp/etl-objstore"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(lake))
    Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "sym", "v")
      .write.partitionBy("sym").parquet(lake)
    val v1 = Snapshots.commit(spark, lake)
    val n1 = Snapshots.readVersion(spark, lake, v1).count()
    // (2) a writer dies mid-job: its in-flight bytes sit under a
    // _-prefixed scratch path (FileOutputCommitter's `_temporary`; a
    // disjoint _-dir here so the test's own later append job's LIVE
    // committer doesn't adopt the fake task dir as committed output —
    // which it otherwise would, the committer protocol in action)
    val tmp = Paths.get(s"$lake/_inflight-upload/attempt-7")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(Snapshots.readVersion(spark, lake, v1).count() == n1,
      "crashed writer leaked into a committed snapshot read")
    val v2 = Snapshots.commit(spark, lake)
    assert(Snapshots.manifest(spark, lake, v2) == Snapshots.manifest(spark, lake, v1),
      "crashed writer's scratch files swept into the next commit")
    // (1) append new data; visibility flips only with the new manifest
    Seq((3L, "x", 30.0)).toDF("id", "sym", "v")
      .write.mode("append").partitionBy("sym").parquet(lake)
    assert(Snapshots.readVersion(spark, lake, v2).count() == n1,
      "a committed version must never see files committed after it")
    val v3 = Snapshots.commit(spark, lake)
    assert(Snapshots.readVersion(spark, lake, v3).count() == n1 + 1)
    // (3) immutability: every file v1 referenced still exists with the
    // same length after later commits — nothing was renamed or mutated
    val fsys = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.manifest(spark, lake, v1).foreach { case (rel, len) =>
      val p = new org.apache.hadoop.fs.Path(s"$lake/$rel")
      assert(fsys.exists(p), s"$rel vanished from under snapshot v1")
      assert(fsys.getFileStatus(p).getLen == len, s"$rel mutated in place")
    }
  }

  test("download ledger: 404-no-retry, exponential backoff, replay to ok") {
    import spark.implicits._
    import graft.etl.DownloadLedger
    val root = "target/tmp/etl-dlledger"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // attempt streams mirroring the reference's per-file outcomes
    val batch1 = Seq(
      ("a/ok-first", ts(100), 200, 1000L),                 // clean success
      ("b/flaky", ts(100), 503, 0L),                       // 1 failure → retry
      ("c/gone", ts(100), 404, 0L),                        // 404 → terminal, NO retry
      ("d/dead", ts(100), 500, 0L), ("d/dead", ts(101), 500, 0L),
      ("d/dead", ts(103), 500, 0L)                         // 3 failures → exhausted
    ).toDF("file_key", "attempt_ts", "status_code", "bytes")
    DownloadLedger.append(spark, root, batch1)
    val rep1 = DownloadLedger.statusReport(DownloadLedger.read(spark, root))
      .collect().map(r => r.getAs[String]("file_key") -> r).toMap
    assert(rep1("a/ok-first").getAs[String]("status") == "ok")
    assert(rep1("b/flaky").getAs[String]("status") == "retry_pending")
    assert(rep1("c/gone").getAs[String]("status") == "not_found")
    assert(rep1("d/dead").getAs[String]("status") == "exhausted")
    // backoff arithmetic: after 1 failure the reference waits 2^0 = 1s
    assert(rep1("b/flaky").getAs[java.sql.Timestamp]("due_at") == ts(101))
    // the queue respects the backoff clock and NEVER contains a 404
    val qEarly = DownloadLedger.retryQueue(
      DownloadLedger.statusReport(DownloadLedger.read(spark, root)),
      lit(ts(100)).cast("timestamp")).collect()
    assert(qEarly.isEmpty, "backoff not yet elapsed")
    val qDue = DownloadLedger.retryQueue(
      DownloadLedger.statusReport(DownloadLedger.read(spark, root)),
      lit(ts(200)).cast("timestamp")).collect().map(_.getString(0))
    assert(qDue.toSeq == Seq("b/flaky"), s"queue was ${qDue.toSeq}")
    // the re-run appends its attempts; a success absorbs the history
    DownloadLedger.append(spark, root,
      Seq(("b/flaky", ts(200), 200, 777L)).toDF("file_key", "attempt_ts", "status_code", "bytes"))
    val rep2 = DownloadLedger.statusReport(DownloadLedger.read(spark, root))
    val flaky = rep2.filter(col("file_key") === "b/flaky").head
    assert(flaky.getAs[String]("status") == "ok")
    assert(flaky.getAs[Long]("ok_bytes") == 777L)
    assert(flaky.getAs[Long]("n_attempts") == 2L)
    // the end-of-run stats dict
    val s = DownloadLedger.summary(rep2).head
    assert(s.getAs[Long]("files_ok") == 2 && s.getAs[Long]("files_not_found") == 1
      && s.getAs[Long]("files_exhausted") == 1 && s.getAs[Long]("files_retry_pending") == 0)
    assert(s.getAs[Long]("total_bytes") == 1777L)
  }

  test("download ledger backoff preserves sub-second attempt timestamps") {
    import spark.implicits._
    import graft.etl.DownloadLedger
    // a failure at 100.5s with base 1s must come due at 101.5s, not
    // 101.0s (unix_timestamp() truncation would shave the 500ms)
    val attempts = Seq(("x/subsec", new java.sql.Timestamp(100500L), 503, 0L))
      .toDF("file_key", "attempt_ts", "status_code", "bytes")
    val rep = DownloadLedger.statusReport(attempts).head
    assert(rep.getAs[String]("status") == "retry_pending")
    assert(rep.getAs[java.sql.Timestamp]("due_at") == new java.sql.Timestamp(101500L))
  }

  test("partition audit groups by lake partition columns") {
    val audit = MarketEtl.partitionAudit(
      MarketEtl.dqFilter(MarketEtl.normalize(MarketEtl.readTradesCsv(spark, base))))
    val rows = audit.collect()
    assert(rows.length == 2) // one (y,m,d,symbol) group per symbol here
    assert(rows.map(_.getAs[Long]("count")).sum == 4)
  }
}
