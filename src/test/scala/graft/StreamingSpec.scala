package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BatchEquivalents, StreamingJobs}

/** Drives the Structured Streaming jobs synchronously (memory source →
  * memory sink) and checks them against their oracled batch twins. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** readStream over a staged events directory, adaptive to the lake's
    * on-disk ts encoding (nanos-as-long vs µs timestamp) exactly like
    * Tables.events, emitting ts as TIMESTAMP (instant) so watermarks
    * work. `schema` must be the schema of the staged files. */
  private def eventsFileStream(srcDir: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream.schema(schema).parquet(srcDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  test("streaming candles match the batch window aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()

    val source = MemoryStream[StreamingJobs.Event]
    source.addData(rows.toSeq)
    // watermarks require TIMESTAMP (not NTZ): stream in instant time,
    // compare in UTC wall time below.
    val out = StreamingJobs.candles(source.toDF())
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("candles_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("candles_out")
      .withColumn("minute", col("minute").cast("timestamp_ntz"))
      .select("symbol", "minute", "n_events", "open", "close", "low", "high", "volume")
      .collect().map(_.toSeq).toSet
    val batch = Registry.queries("s1_window_candles")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streaming != batch: only-stream=${streamed.diff(batch).take(3)} only-batch=${batch.diff(streamed).take(3)}")
  }

  test("file-stream source: candles from a parquet lake directory") {
    // stage the events file into a directory (file sources stream dirs)
    val srcDir = java.nio.file.Paths.get("target/tmp/stream-lake")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stream = eventsFileStream(srcDir.toString,
      spark.read.parquet(s"$sf/events.parquet").schema)
    val q = graft.streaming.StreamingJobs.candles(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("file_candles_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_candles_out").count()
    val batch = Registry.queries("s1_window_candles")(spark, sf).count()
    assert(streamed == batch, s"$streamed != $batch")
  }

  test("stream-stream range join matches the batch range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
    val tSrc = MemoryStream[StreamingJobs.Event]
    val qSrc = MemoryStream[StreamingJobs.Event]
    tSrc.addData(ev.filter(_.event_type == "purchase").toSeq)
    qSrc.addData(ev.filter(_.event_type == "view").toSeq)
    val q = StreamingJobs.streamRangeJoin(tSrc.toDF(), qSrc.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("rjoin_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("rjoin_out")
      .groupBy("trade_event").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Registry.queries("r14_range_join")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"only-stream=${(streamed.toSet -- batch.toSet).take(3)} only-batch=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming dedup keeps one event per key like the batch distinct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
    val source = MemoryStream[StreamingJobs.Event]
    source.addData(rows.toSeq)
    val q = StreamingJobs.dedupStream(source.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamedKeys = spark.table("dedup_out").count()
    val batchKeys = Registry.queries("s3_stream_dedup")(spark, sf).count()
    assert(streamedKeys == batchKeys)
  }

  test("streaming heavy hitters: SpaceSaving aggregate inside a windowed stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
    val source = MemoryStream[StreamingJobs.Event]
    source.addData(rows.toSeq)
    val q = StreamingJobs.heavyHittersStream(source.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hh_out").start()
    try q.processAllAvailable() finally q.stop()
    // capacity (64) > distinct event types (5) → sketch counts are
    // exact; every window must match the batch groupBy exactly
    val streamed = spark.table("hh_out").collect().flatMap { r =>
      val w = r.getTimestamp(0).getTime
      r.getMap[String, Long](1).map { case (t, n) => (w, t, n) }
    }.toSet
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts").cast("timestamp"), "10 minutes"), col("event_type"))
      .count().collect()
      .map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed == batch,
      s"only-stream=${streamed.diff(batch).take(3)} only-batch=${batch.diff(streamed).take(3)}")
  }

  test("streaming t-digest quantiles: exact min/max, bounded interior ranks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
    val source = MemoryStream[StreamingJobs.Event]
    // three chunks → the engine merges digest partials across
    // micro-batches, the path that must stay bound-correct
    rows.grouped(math.max(1, rows.length / 3)).foreach(c => source.addData(c.toSeq))
    val q = StreamingJobs.quantileStream(source.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("td_out").start()
    try q.processAllAvailable() finally q.stop()
    val exact: Map[(Long, String), Array[Double]] = rows
      .groupBy(r => ((r.ts.getTime / 600000) * 600000, r.event_type))
      .map { case (k, rs) => k -> rs.map(_.value).sorted }
    val streamed = spark.table("td_out").collect()
    assert(streamed.nonEmpty)
    streamed.foreach { r =>
      val key = (r.getTimestamp(0).getTime, r.getString(1))
      val vals = exact(key); val n = vals.length
      assert(r.getDouble(2) == vals.head, s"$key vmin")
      assert(r.getDouble(5) == vals.last, s"$key vmax")
      for ((p, i) <- Seq((0.5, 3), (0.99, 4))) {
        val v = r.getDouble(i)
        val rank = vals.count(_ <= v)
        val target = math.ceil(p * n).toLong
        assert(math.abs(rank - target) <= math.max(2L, n / 25),
          s"$key p$p: $v rank $rank vs $target (n=$n)")
      }
    }
  }

  test("streaming as-of join matches batch r6 across an ordered multi-batch feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
      .sortBy(e => ((e.ts.getTime / 1000) * 1000000L + e.ts.getNanos / 1000,
        if (e.event_type == "view") 0 else 1, e.event_id))
    // two batches split on the global event-time order: quotes from
    // batch 1 must carry over in state to enrich batch-2 trades
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val source = MemoryStream[StreamingJobs.Event]
    val q = StreamingJobs.asofJoin(source.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("asof_out")
      .select("trade_event", "quote_event", "quote_value")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val batch = Registry.queries("r6_asof_join")(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(4)), Option(r.get(5)))).toSet
    assert(streamed == batch,
      s"only-stream=${streamed.diff(batch).take(3)} only-batch=${batch.diff(streamed).take(3)}")
  }

  test("streaming funnel stage counts match batch q19 across a multi-batch feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
      .sortBy(e => ((e.ts.getTime / 1000) * 1000000L + e.ts.getNanos / 1000, e.event_id))
    // three batches on the global event-time order: stage state (a view
    // in batch 1, its click in batch 2) must carry across batches
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val source = MemoryStream[StreamingJobs.Event]
    val q = StreamingJobs.funnelStream(source.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
      source.addData(b3.toSeq); q.processAllAvailable()
    } finally q.stop()
    // a user reaches each stage at most once
    val perUser = spark.table("funnel_out").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(perUser.distinct.length == perUser.length)
    val streamedCounts = perUser.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val batchCounts = Registry.queries("q19_funnel")(spark, sf).collect()
      .map(r => r.getAs[Int]("stage_ord") -> r.getAs[Long]("users")).toMap
    assert(streamedCounts == batchCounts,
      s"streamed=$streamedCounts batch=$batchCounts")
  }

  test("stream-static anomaly gate flags exactly the batch q21 rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tradesView = graft.etl.MarketEtl.eventsAsTrades(Tables.events(spark, sf))
    val rows = tradesView.select($"trade_id", $"symbol", $"price")
      .as[(Long, String, Double)].collect()
    // the lake-derived reference table, computed once by batch analytics
    val stats = graft.operators.MarketQueries.anomalyStats(tradesView).localCheckpoint()
    val src = MemoryStream[(Long, String, Double)]
    val q = StreamingJobs.anomalyStream(
        src.toDS().toDF("trade_id", "symbol", "price"), stats)
      .writeStream.outputMode("append").format("memory").queryName("anom_out").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      src.addData(b1.toSeq); q.processAllAvailable()
      src.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anom_out").select("trade_id", "zscore").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = Registry.queries("q21_anomaly")(spark, sf).select("trade_id", "zscore").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == batch,
      s"only-stream=${streamed.diff(batch).take(3)} only-batch=${batch.diff(streamed).take(3)}")
  }

  test("streaming incremental rollup equals a full recompute after every batch") {
    import spark.implicits._
    import graft.etl.IncrementalAgg
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/stream-iagg"
    val lake = s"$root/lake"; val agg = s"$root/agg"; val ckpt = s"$root/ckpt"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val spec = IncrementalAgg.AggSpec(Seq("event_type"), Seq("v" -> "value"))
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val src = MemoryStream[StreamingJobs.Event]
    val q = StreamingJobs.incrementalAggStream(src.toDF(), lake, agg, spec, ckpt)
    def materialized = spark.read.parquet(agg)
      .select("event_type", "n_rows", "sum_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    def fromScratch = spark.read.parquet(lake)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(38,6)")).as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    try {
      for (b <- Seq(b1, b2, b3)) {
        src.addData(b.toSeq); q.processAllAvailable()
        assert(materialized == fromScratch)
      }
    } finally q.stop()
    assert(materialized.map(_._2).sum == rows.length.toLong)

    // crash-replay idempotence: re-landing an already-committed batchId
    // (what foreachBatch does after a restart) must not change the lake
    // or the rollup
    val before = materialized
    import org.apache.spark.sql.functions.{col => c}
    StreamingJobs.landBatch(
      b3.toSeq.toDS().toDF().select(
        c("event_id"), c("ts"), c("user_id"), c("event_type"), c("value")),
      lake, agg, spec, 2L)
    assert(materialized == before, "replayed batch changed the rollup")
    assert(materialized == fromScratch)
  }

  test("file-sink candles survive a restart from checkpoint without duplicates") {
    import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
    val root = "target/tmp/stream-restart"
    val srcDir = s"$root/src"; val sinkDir = s"$root/sink"; val ckDir = s"$root/ck"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    JFiles.createDirectories(JPaths.get(srcDir))

    // split the events file into two arrival batches by the raw ts
    // column in whatever type it loaded as (long nanos or µs NTZ) —
    // the median is taken by sort, which is type-agnostic
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val nEv = raw.count()
    val mid = lit(raw.select("ts").orderBy("ts")
      .limit(((nEv / 2) max 1).toInt).collect().last.get(0))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      JFiles.copy(part.toPath, JPaths.get(srcDir, s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stage(raw.filter(col("ts") < mid), "a")

    def runOnce(): Unit = {
      // staged files are re-written from `raw`, so they carry raw's schema
      val stream = eventsFileStream(srcDir, raw.schema)
      val q = StreamingJobs.candles(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .format("parquet").option("path", sinkDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val afterFirst = spark.read.parquet(sinkDir).count()
    // restart from the same checkpoint with the second half arrived
    stage(raw.filter(col("ts") >= mid), "b")
    runOnce()

    val sunk = spark.read.parquet(sinkDir)
      .withColumn("minute", col("minute").cast("timestamp_ntz"))
    val n = sunk.count()
    assert(n > afterFirst, s"restart made no progress ($afterFirst -> $n)")
    // exactly-once across the restart: one row per (symbol, minute)…
    assert(sunk.select("symbol", "minute").distinct().count() == n)
    // …and every emitted window matches the batch result cell-for-cell
    val batch = Registry.queries("s1_window_candles")(spark, sf)
    val joined = sunk.join(batch,
      Seq("symbol", "minute", "n_events", "open", "close", "low", "high", "volume"))
    assert(joined.count() == n, "an emitted window diverges from batch")
  }

  test("streaming klines land in the partitioned lake and equal batch bars across a restart") {
    import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
    val root = "target/tmp/stream-klines"
    val srcDir = s"$root/src"; val sinkDir = s"$root/lake"; val ckDir = s"$root/ck"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    JFiles.createDirectories(JPaths.get(srcDir))

    // the SAME derived trades the batch twin aggregates, fed in
    // instant time for the watermark (UTC session: wall == instant)
    val trades = graft.etl.MarketEtl.eventsAsTrades(Tables.events(spark, sf))
      .select(col("trade_id"), col("trade_time").cast("timestamp").as("trade_time"),
        col("symbol"), col("price"), col("quantity"), col("quote_qty"),
        col("is_buyer_maker"))
    val (minT, maxT) = {
      val r = trades.selectExpr("min(trade_time)", "max(trade_time)").head
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    val mid = new java.sql.Timestamp((minT.getTime + maxT.getTime) / 2)
    // a far-future sentinel advances the watermark past every real bar
    // so append mode closes them all; its own bar stays open in state
    // and never lands — the lake holds exactly the real-trade bars
    val sentinel = spark.range(1).select(
      lit(-1L).as("trade_id"),
      lit(new java.sql.Timestamp(maxT.getTime + 3600L * 1000)).as("trade_time"),
      lit("ZZZSENTINEL").as("symbol"), lit(1.0).as("price"),
      lit(1.0).as("quantity"), lit(1.0).as("quote_qty"),
      lit(false).as("is_buyer_maker"))

    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      JFiles.copy(part.toPath, JPaths.get(srcDir, s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stage(trades.filter(col("trade_time") < mid), "a")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("trade_id LONG, trade_time TIMESTAMP, symbol STRING, " +
          "price DOUBLE, quantity DOUBLE, quote_qty DOUBLE, is_buyer_maker BOOLEAN")
        .parquet(srcDir)
      val q = StreamingJobs.klinesLakeSink(stream, sinkDir, ckDir)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val afterFirst = spark.read.parquet(sinkDir).count()
    // restart from the checkpoint with the second half (+ sentinel) arrived;
    // bars straddling the split close from restored state
    stage(trades.filter(col("trade_time") >= mid).unionByName(sentinel), "b")
    runOnce()

    val lake = spark.read.parquet(sinkDir)
    assert(lake.count() > afterFirst,
      s"restart made no progress ($afterFirst -> ${lake.count()})")
    // exactly-once across the restart: one landed row per bar
    assert(lake.select("symbol", "bar_time").distinct().count() == lake.count())
    // every landed bar equals its batch twin cell-for-cell, and no bar
    // is missing: the sentinel pushed the watermark past all real bars
    val batch = Registry.queries("etl_normalize_klines")(spark, sf)
    val streamed = lake.select(batch.columns.map(col).toSeq: _*)
      .collect().map(_.toSeq).toSet
    val batchSet = batch.collect().map(_.toSeq).toSet
    assert(streamed == batchSet,
      s"stream != batch: only-stream=${streamed.diff(batchSet).take(2)} " +
        s"only-batch=${batchSet.diff(streamed).take(2)}")
  }

  test("streaming CDC apply merges each micro-batch into the lake") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = "target/tmp/stream-cdc-lake"
    val ckpt = "target/tmp/stream-cdc-ckpt"
    Seq(lake, ckpt).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    Seq(
      (1L, 100.0, 2024, 7, 26, "BTCUSDT"),
      (2L, 200.0, 2024, 7, 26, "BTCUSDT"),
      (10L, 300.0, 2024, 7, 26, "ETHUSDT"))
      .toDF("trade_id", "price", "year", "month", "day", "symbol")
      .write.partitionBy("year", "month", "day", "symbol").parquet(lake)

    val source = MemoryStream[StreamingJobs.CdcChange]
    val q = StreamingJobs.cdcApply(source.toDF(), lake, Seq("trade_id"), ckpt)
    try {
      // batch 1: update trade 1, insert trade 3
      source.addData(
        StreamingJobs.CdcChange(1L, 111.0, 2024, 7, 26, "BTCUSDT", "U", 1L),
        StreamingJobs.CdcChange(3L, 333.0, 2024, 7, 26, "BTCUSDT", "I", 1L))
      q.processAllAvailable()
      val mid = spark.read.parquet(lake)
      assert(mid.count() == 4)
      assert(mid.filter(col("trade_id") === 1).head.getAs[Double]("price") == 111.0)

      // batch 2: a newer update for trade 1 wins; ETH's last row deleted
      source.addData(
        StreamingJobs.CdcChange(1L, 999.0, 2024, 7, 26, "BTCUSDT", "U", 2L),
        StreamingJobs.CdcChange(10L, 300.0, 2024, 7, 26, "ETHUSDT", "D", 2L))
      q.processAllAvailable()
      val end = spark.read.parquet(lake)
      assert(end.count() == 3)
      assert(end.filter(col("trade_id") === 1).head.getAs[Double]("price") == 999.0)
      assert(end.filter(col("symbol") === "ETHUSDT").isEmpty)
      assert(end.filter(col("trade_id") === 3).head.getAs[Double]("price") == 333.0)
    } finally q.stop()
  }

  test("streaming IVF append: stream-maintained index == batch assignment over the union") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/ivfappend"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // bootstrap: quantizer trained on the base corpus (vec_id % 5 <> 4);
    // the held-out slice arrives as a live feed in two micro-batches
    StreamingJobs.ivfIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = incoming.splitAt(incoming.length / 2)

    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.ivfAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    // every incoming vector is in exactly one posting list, base rows
    // untouched
    val postings = spark.read.parquet(s"$idx/postings")
    assert(postings.filter(col("ingest_batch") >= 0).count() == incoming.length.toLong)
    assert(postings.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)

    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    val queries = Similarity.withNorm2(Tables.embeddings(spark, sf))
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
    val streamServed = canon(StreamingJobs.ivfIndexSearch(spark, idx, queries))
    // batch twin: the SAME fixed quantizer, one-shot assignment of the
    // union corpus — the stream's sequential fold must land on exactly
    // this index
    val cents = spark.read.parquet(s"$idx/centroids")
    val union = Similarity.withNorm2(Tables.embeddings(spark, sf)).localCheckpoint()
    val batchIndex = union.join(
      Similarity.assignVectors(union, cents.drop("cn2")), "vec_id")
    val batchServed = canon(Similarity.ivfServe(cents, batchIndex, queries))
    assert(streamServed == batchServed,
      s"stream != batch union serve: ${streamServed.diff(batchServed).take(3)} vs ${batchServed.diff(streamServed).take(3)}")
    assert(streamServed.nonEmpty)
  }

  test("IVF maintenance: compaction preserves search, drift report segments the lake") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/ivfmaint"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.ivfIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.ivfAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    // drift report BEFORE compaction: segments cover the whole lake,
    // every appended member is counted, cosines are in range
    val drift = StreamingJobs.ivfDriftReport(spark, idx).collect()
    assert(drift.map(_.getAs[Long]("n_appended")).sum == incoming.length.toLong)
    val nPost = spark.read.parquet(s"$idx/postings").count()
    assert(drift.map(r => r.getAs[Long]("n_base") + r.getAs[Long]("n_appended")).sum == nPost)
    drift.foreach { r =>
      Seq("mean_cos_base", "mean_cos_appended").foreach { c =>
        if (!r.isNullAt(r.fieldIndex(c))) {
          val v = r.getAs[Double](c)
          assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"$c=$v out of range")
        }
      }
    }

    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    val queries = Similarity.withNorm2(Tables.embeddings(spark, sf))
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
    val before = canon(StreamingJobs.ivfIndexSearch(spark, idx, queries))

    // compaction folds the appended partitions into the bootstrap one
    // and changes NOTHING the serve path can observe
    val folded = StreamingJobs.ivfCompactPostings(spark, idx)
    assert(folded == 2, s"expected 2 appended partitions folded, got $folded")
    val batches = spark.read.parquet(s"$idx/postings")
      .select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L), s"post-compaction partitions: $batches")
    assert(spark.read.parquet(s"$idx/postings").count() == nPost)
    val after = canon(StreamingJobs.ivfIndexSearch(spark, idx, queries))
    assert(after == before, "search changed across compaction")
    // idempotent when there is nothing to fold
    assert(StreamingJobs.ivfCompactPostings(spark, idx) == 0)
  }

  test("object-store model: index commits are manifest swaps, reads never list data dirs") {
    import graft.operators.Similarity
    import graft.etl.Snapshots
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/ivfmanifest"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val postings = s"$idx/postings"
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    StreamingJobs.ivfIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    // enable the object-store model: the bootstrap state is snapshot v1;
    // from here on every commit to the table is ONE manifest object PUT
    assert(Snapshots.commit(spark, postings) == 1)

    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.ivfAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // each micro-batch append committed its own manifest version
    assert(Snapshots.versions(spark, postings) == Seq(1, 2, 3))

    val queries = Similarity.withNorm2(Tables.embeddings(spark, sf))
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    val before = canon(StreamingJobs.ivfIndexSearch(spark, idx, queries))
    val nPost = StreamingJobs.indexRead(spark, postings).count()

    // a crashed append's orphan (files on disk, no manifest PUT) is
    // INVISIBLE to the manifest read — the read path resolves the
    // manifest, it never lists data directories — while a directory
    // listing would double-count it
    StreamingJobs.indexRead(spark, postings).limit(5).localCheckpoint()
      .withColumn("ingest_batch", lit(99L))
      .write.mode("append").partitionBy("ingest_batch").parquet(postings)
    assert(StreamingJobs.indexRead(spark, postings).count() == nPost,
      "uncommitted orphan leaked into the manifest read")
    assert(spark.read.parquet(postings).count() == nPost + 5)
    assert(canon(StreamingJobs.ivfIndexSearch(spark, idx, queries)) == before)

    // compaction: staged gen write, ONE manifest PUT (the commit),
    // trailing vacuum. Serve output is unchanged, all rows fold to the
    // bootstrap partition, the live manifest references only the
    // staged generation, and vacuum removed the superseded files AND
    // the never-committed orphan
    val folded = StreamingJobs.ivfCompactPostings(spark, idx)
    assert(folded == 2, s"expected 2 appended partitions folded, got $folded")
    assert(canon(StreamingJobs.ivfIndexSearch(spark, idx, queries)) == before)
    val postCompact = StreamingJobs.indexRead(spark, postings)
    assert(postCompact.count() == nPost)
    assert(postCompact.select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L))
    val live = Snapshots.versions(spark, postings)
    assert(live.size == 1, s"stale manifests not expired: $live")
    val entries = Snapshots.manifest(spark, postings, live.max)
    assert(entries.nonEmpty && entries.forall(_._1.startsWith("gen")),
      s"manifest references non-staged files: ${entries.take(3)}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(postings, "ingest_batch=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(postings, "ingest_batch=99")))

    // crash window of the NEXT compaction: a staged generation with no
    // manifest PUT changes nothing a reader can observe
    StreamingJobs.indexRead(spark, postings).limit(3).localCheckpoint()
      .write.mode("overwrite").parquet(s"$postings/gen999/ingest_batch=-1")
    assert(StreamingJobs.indexRead(spark, postings).count() == nPost,
      "staged-but-uncommitted generation leaked into the manifest read")
    assert(canon(StreamingJobs.ivfIndexSearch(spark, idx, queries)) == before)

    // drift report reads via the manifest too: post-compaction the
    // whole lake is base segment
    val drift = StreamingJobs.ivfDriftReport(spark, idx).collect()
    assert(drift.map(_.getAs[Long]("n_appended")).sum == 0L)
    assert(drift.map(_.getAs[Long]("n_base")).sum == nPost)

    // append AFTER compact: the next stream generation writes
    // root-level ingest_batch=N partitions while the live manifest
    // references gen{v}/ files — the manifest now mixes the two
    // directory depths and readVersion's basePath partition parsing
    // must resolve both. The appended vector is an exact copy of query
    // 0's embedding, so "search sees the new partition" is observable
    // as a cosine-1.0 hit
    val q0emb = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val source2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingJobs.ivfAppendStream(
      source2.toDF().toDF("vec_id", "embedding"), idx, s"$root/ckpt2")
    try {
      source2.addData(Seq((100000L, q0emb))); q2.processAllAvailable()
    } finally q2.stop()
    val mixed = Snapshots.manifest(spark, postings,
      Snapshots.versions(spark, postings).max).map(_._1)
    assert(mixed.exists(_.startsWith("gen")) &&
      mixed.exists(_.startsWith("ingest_batch=")),
      s"manifest should mix gen and root-level paths: ${mixed.take(3)}")
    assert(StreamingJobs.indexRead(spark, postings).count() == nPost + 1)
    val served = canon(StreamingJobs.ivfIndexSearch(spark, idx, queries))
    assert(served.exists(t => t._1 == 0L && t._2 == 100000L && t._4 == 1.0),
      "appended exact-copy vector not served for query 0")

    // crashed-vacuum retry: replicate a compaction that died between
    // its commitEntries PUT and its vacuum — the folded generation is
    // committed but superseded ingest_batch files persist and older
    // manifests stay live. The next invocation folds nothing
    // (appended.isEmpty on the live manifest) but must COMPLETE the
    // vacuum rather than return early, restoring one-live-version
    val gen = s"gen${Snapshots.nextVersion(spark, postings)}"
    Snapshots.readVersion(spark, postings,
        Snapshots.versions(spark, postings).max)
      .drop("ingest_batch").withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite")
      .parquet(s"$postings/$gen")
    Snapshots.commitEntries(spark, postings,
      Snapshots.filesUnder(spark, postings, gen))
    // CRASH HERE (no rollback/expireInvalid): stale state on disk
    assert(Snapshots.versions(spark, postings).size > 1)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(postings))
      .exists(_.getPath.getName.startsWith("ingest_batch=")),
      "superseded partition should persist across the simulated crash")
    assert(StreamingJobs.ivfCompactPostings(spark, idx) == 0)
    assert(Snapshots.versions(spark, postings).size == 1,
      "retry should expire the stale manifests")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(postings))
      .exists(_.getPath.getName.startsWith("ingest_batch=")),
      "retry should vacuum the superseded partition files")
    assert(StreamingJobs.indexRead(spark, postings).count() == nPost + 1)
    assert(canon(StreamingJobs.ivfIndexSearch(spark, idx, queries)) == served)

    // the OTHER crash window: a rewrite that died BEFORE its manifest
    // PUT leaves a staged orphan generation — one live manifest, so
    // the stale-manifest detector doesn't fire, but the orphan is a
    // full staged table copy that must not leak forever. The idle
    // invocation detects the unreferenced gen dir (only exclusive
    // rewrites write gen dirs — never an in-flight append) and
    // completes the vacuum; reads never saw the orphan either way
    StreamingJobs.indexRead(spark, postings).limit(3).localCheckpoint()
      .write.mode("overwrite").parquet(s"$postings/gen777/ingest_batch=-1")
    assert(StreamingJobs.ivfCompactPostings(spark, idx) == 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(postings, "gen777")),
      "idle invocation should vacuum the pre-PUT orphan generation")
    assert(Snapshots.versions(spark, postings).size == 1)
    assert(StreamingJobs.indexRead(spark, postings).count() == nPost + 1)
    assert(canon(StreamingJobs.ivfIndexSearch(spark, idx, queries)) == served)
  }

  test("streaming paragraph gate: self-admitting fold equals the batch rewrite over the union") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/paragate"
    val idx = s"$root/index"; val clean = s"$root/clean"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    def blk(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
    val B = blk("w")
    val boot = Seq((1L, B + " " + blk("u"))).toDF("doc_id", "text")
    StreamingJobs.paragraphIndexInit(boot, idx)
    val b1 = Seq(
      (10L, B + " " + blk("a")),        // B dropped (bootstrap owns it), a-block kept
      (11L, blk("c") + " " + blk("d")), // both kept
      (12L, B))                         // everything dropped -> absent from clean
    val b2 = Seq(
      (20L, blk("a") + " " + blk("e"))) // a-block caught by batch-1's ADMISSION
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.paragraphGateStream(
      source.toDF().toDF("doc_id", "text"), idx, clean, ckpt)
    try {
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(clean).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[String]("text_clean")))).toMap
    assert(out.keySet == Set(10L, 11L, 20L), s"docs: ${out.keySet}")
    assert(out(10L) == ((1L, blk("a"))))
    assert(out(11L) == ((2L, blk("c") + " " + blk("d"))))
    // only a SELF-admitting gate drops batch 2's a-block — a static
    // seen-set would wave it through
    assert(out(20L) == ((1L, blk("e"))))
    // stream == the batch rewrite op over the union corpus: arrival
    // order matches doc_id order, so the global first-occurrence keys
    // agree and the fold is definitionally the batch semantics
    val exp = operators.Dedup.dedupParagraphRewriteOver(
        boot.union((b1 ++ b2).toDF("doc_id", "text")))
      .filter(col("doc_id") >= 10L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == exp, s"stream=$out vs batch=$exp")
    // the lake holds bootstrap + each batch's kept hashes, exactly-once
    val idxBatches = spark.read.parquet(idx)
      .select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(idxBatches == Set(-1L, 0L, 1L), s"index partitions: $idxBatches")
    // maintenance: compaction folds the appended partitions without
    // changing verdicts — a new stream generation still drops the
    // e-block batch 2 admitted, and admits fresh content
    assert(StreamingJobs.paragraphIndexCompact(spark, idx) == 2)
    val folded = spark.read.parquet(idx).select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(folded == Set(-1L), s"post-compaction partitions: $folded")
    val source2 = MemoryStream[(Long, String)]
    val q2 = StreamingJobs.paragraphGateStream(
      source2.toDF().toDF("doc_id", "text"), idx, clean, s"$root/ckpt2")
    try {
      source2.addData(Seq((30L, blk("e") + " " + blk("f"))))
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(clean).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean")).toMap
    assert(out2(30L) == blk("f"), s"doc 30 post-compaction: ${out2.get(30L)}")
  }

  test("streaming substring gate: self-admitting fold of the batch rewrite core") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/subgate"
    val idx = s"$root/index"; val clean = s"$root/clean"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    def blk(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
    val P = blk("p"); val A = blk("a"); val E = blk("e")
    val boot = Seq((1L, P + " " + blk("u"))).toDF("doc_id", "text")
    StreamingJobs.substringIndexInit(boot, idx)
    val b1 = Seq(
      (10L, P + " " + A),                 // P excised (bootstrap owns its grams), A kept
      (11L, blk("c") + " " + blk("d")),   // no seen/repeated gram -> intact
      (12L, P))                           // all-cut -> n_tokens_kept=0 audit row
    val b2 = Seq(
      (20L, A + " " + E))                 // A caught by batch-1's ADMISSION
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.substringGateStream(
      source.toDF().toDF("doc_id", "text"), idx, clean, ckpt)
    try {
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(clean).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_tokens_kept"),
          r.getAs[Int]("n_spans_cut"), r.getAs[String]("text_rewritten")))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 20L), s"docs: ${out.keySet}")
    assert(out(10L) == ((40, 20, 1, A)))
    assert(out(11L) == ((40, 40, 0, blk("c") + " " + blk("d"))))
    assert(out(12L) == ((20, 0, 1, "")))
    // only a SELF-admitting gate cuts batch 2's A-block — a static
    // seen-set would wave it through
    assert(out(20L) == ((40, 20, 1, E)))
    // stream == the sequential fold of the shared batch core with the
    // seen set accumulating batch grams (ALL grams, kept or cut)
    val seen0 = operators.Dedup.spanGramsOf(boot).select("gh")
    val b1df = b1.toDF("doc_id", "text"); val b2df = b2.toDF("doc_id", "text")
    val seen1 = seen0.union(operators.Dedup.spanGramsOf(b1df).select("gh"))
    val exp = operators.Dedup.substringRewriteWithSeen(spark, b1df, Some(seen0))
      .unionByName(operators.Dedup.substringRewriteWithSeen(spark, b2df, Some(seen1)))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_tokens_kept"),
          r.getAs[Int]("n_spans_cut"), r.getAs[String]("text_rewritten")))).toMap
    assert(out == exp, s"stream=$out vs fold=$exp")
    // the lake holds bootstrap + each batch's distinct grams, exactly-once
    val idxBatches = spark.read.parquet(idx)
      .select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(idxBatches == Set(-1L, 0L, 1L), s"index partitions: $idxBatches")
    // maintenance: compaction folds the appended partitions without
    // changing verdicts — a new stream generation still cuts content
    // batch 1 admitted, and admits fresh content
    assert(StreamingJobs.substringIndexCompact(spark, idx) == 2)
    val folded = spark.read.parquet(idx).select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(folded == Set(-1L), s"post-compaction partitions: $folded")
    val source2 = MemoryStream[(Long, String)]
    val q2 = StreamingJobs.substringGateStream(
      source2.toDF().toDF("doc_id", "text"), idx, clean, s"$root/ckpt2")
    try {
      source2.addData(Seq((30L, E + " " + blk("f"))))
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(clean).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_rewritten")).toMap
    assert(out2(30L) == blk("f"), s"doc 30 post-compaction: ${out2.get(30L)}")
  }

  test("streaming near-dup gate is self-admitting: sequential fold of the batch verdict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/neardup"
    val idx = s"$root/index"; val novel = s"$root/novel"
    val quar = s"$root/quar"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docs = Tables.documents(spark, sf)
    // bootstrap index = the admitted docs (dedup_gate's split); batch 1
    // = the incoming slice, plus one EXACT copy of a corpus doc (must
    // quarantine — identical signature always collides) and one novel
    // gibberish doc (must pass and be ADMITTED into the index); batch 2
    // = an exact copy of the gibberish doc — only a self-admitting
    // gate quarantines it, a static-index gate waves it through
    // through the memoized-signature overload: the bootstrap is a
    // filter over the one shared corpus signature build
    StreamingJobs.nearDupIndexInit(spark, sf, col("doc_id") % 5 =!= 4, idx)
    val corpusDoc = docs.filter(col("doc_id") % 5 =!= 4)
      .orderBy("doc_id").select("doc_id", "text").head()
    val gibberish = "zxqv wkjh pqrt mnbv asdf ghjk"
    val slice = docs.filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val b1 = slice ++ Seq(
      (1000000L + corpusDoc.getLong(0), corpusDoc.getString(1)),
      (2000000L, gibberish))
    val b2 = Seq((3000000L, gibberish))

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.nearDupGateStream(
      source.toDF().toDF("doc_id", "text"), idx, novel, quar, ckpt)
    try {
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val novelIds = spark.read.parquet(novel).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val quarRows = spark.read.parquet(quar)
      .select("doc_id", "n_hit_bands", "first_match")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val quarIds = quarRows.map(_._1)

    // the two sinks partition the feed
    assert((novelIds & quarIds).isEmpty)
    assert(novelIds ++ quarIds == (b1 ++ b2).map(_._1).toSet)
    // verdicts equal the SEQUENTIAL fold of the batch core: batch 1
    // against the bootstrap index, batch 2 against bootstrap + batch
    // 1's admitted docs — same machinery, same admission order
    val index0 = graft.operators.Dedup.bandRows(
      docs.filter(col("doc_id") % 5 =!= 4)).localCheckpoint()
    val v1 = graft.operators.Dedup.nearDupVerdict(b1.toDF("doc_id", "text"), index0)
    val admitted1 = b1.toDF("doc_id", "text")
      .join(v1.filter(!col("is_near_dup")).select("doc_id"), Seq("doc_id"))
    val index1 = index0.union(graft.operators.Dedup.bandRows(admitted1))
    val v2 = graft.operators.Dedup.nearDupVerdict(b2.toDF("doc_id", "text"), index1)
    val expFlagged = v1.union(v2).filter(col("is_near_dup"))
      .select("doc_id", "n_hit_bands", "first_match")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(quarRows == expFlagged,
      s"stream != sequential batch fold: ${quarRows.diff(expFlagged).take(3)} vs ${expFlagged.diff(quarRows).take(3)}")
    // the exact corpus copy collides on every band with its source;
    // the gibberish doc passes in batch 1…
    assert(quarRows.contains(
      (1000000L + corpusDoc.getLong(0), 8L, corpusDoc.getLong(0))))
    assert(novelIds.contains(2000000L))
    // …and its batch-2 twin is caught BY the batch-1 admission — the
    // self-admitting property, impossible with a static index
    assert(quarRows.contains((3000000L, 8L, 2000000L)))
    // the index holds bootstrap + batch 0's admissions; batch 1
    // admitted nothing, so it contributed no partition
    val idxBatches = spark.read.parquet(idx)
      .select(col("ingest_batch").cast("long")) // dir-name partition col infers INT
      .distinct().collect().map(_.getLong(0)).toSet
    assert(idxBatches == Set(-1L, 0L), s"index partitions: $idxBatches")
  }

  test("near-dup index maintenance: compaction preserves gate verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/neardupmaint"
    val idx = s"$root/index"; val novel = s"$root/novel"
    val quar = s"$root/quar"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docs = Tables.documents(spark, sf)
    // bootstrap on half the corpus; stream the other half in two
    // admitting batches so two appended partitions exist to fold
    StreamingJobs.nearDupIndexInit(spark, sf, col("doc_id") % 2 === 0, idx)
    val slice = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val (b1, b2) = slice.splitAt(slice.length / 2)
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.nearDupGateStream(
      source.toDF().toDF("doc_id", "text"), idx, novel, quar, ckpt)
    try {
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()

    def indexRows = spark.read.parquet(idx)
      .select("doc_id", "band_idx", "band_hash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // probe: an exact corpus copy (must collide) and a novel doc
    val corpusDoc = docs.orderBy("doc_id").select("doc_id", "text").head()
    val probe = Seq(
      (5000000L + corpusDoc.getLong(0), corpusDoc.getString(1)),
      (6000000L, "zxqv wkjh pqrt mnbv asdf ghjk")).toDF("doc_id", "text")
    def verdict = graft.operators.Dedup
      .nearDupVerdict(probe, spark.read.parquet(idx))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val rowsBefore = indexRows; val verdictBefore = verdict
    val nAppended = spark.read.parquet(idx)
      .filter(col("ingest_batch").cast("long") =!= -1L).count()
    assert(nAppended > 0, "stream admitted nothing — test setup broken")

    // fold: partition set collapses, every band row survives, the gate
    // verdict is unchanged, and a second run is a no-op
    val folded = StreamingJobs.nearDupIndexCompact(spark, idx)
    assert(folded == 2, s"expected 2 appended partitions folded, got $folded")
    val batches = spark.read.parquet(idx)
      .select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L), s"post-compaction partitions: $batches")
    assert(indexRows == rowsBefore, "band rows changed across compaction")
    assert(verdict == verdictBefore, "gate verdict changed across compaction")
    assert(StreamingJobs.nearDupIndexCompact(spark, idx) == 0)
  }

  test("graph index maintenance: insert-by-search keeps appends reachable") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/graphmaint"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.graphIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.graphAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    // exactly-once maintenance: every corpus vector is a node exactly
    // once, batches landed in their own partitions
    val nodes = spark.read.parquet(s"$idx/nodes")
    assert(nodes.count() == Tables.embeddings(spark, sf).count())
    assert(nodes.select("vec_id").distinct().count() == nodes.count())
    val nodeBatches = nodes.select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(nodeBatches == Set(-1L, 0L, 1L), s"node partitions: $nodeBatches")
    // the edge set stays closed under reversal (HNSW's symmetric
    // insert), and every appended vector is linked
    val edges = spark.read.parquet(s"$idx/edges")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.map(_.swap) == edges, "edge set not symmetric")
    val linked = edges.map(_._1)
    incoming.foreach { case (id, _) =>
      assert(linked.contains(id), s"appended vector $id has no edges") }

    // reachability: searching each appended vector's own embedding
    // (fresh query ids, so the member-exclusion rule doesn't fire)
    // returns that vector at rank 1 with cosine 1 — insert-by-search
    // wired it into the walkable graph, across batches
    val queries = incoming.toSeq.toDF("vec_id", "embedding")
      .select((col("vec_id") + 10000000L).as("query_id"), col("embedding"))
    val got = StreamingJobs.graphIndexSearch(spark, idx, queries)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) - 10000000L -> (r.getLong(1), r.getDouble(3))).toMap
    incoming.foreach { case (id, _) =>
      val (top1, cos) = got(id)
      assert(top1 == id && cos == 1.0,
        s"appended vector $id not its own top-1: got $top1 (cos $cos)")
    }

    // drift report: one verdict row, every edge counted into a
    // segment, means are valid cosines (appended links come from the
    // same walk that serves, so they shouldn't crater vs bootstrap)
    val drift = StreamingJobs.graphDriftReport(spark, idx).collect()
    assert(drift.length == 1)
    val dr = drift(0)
    assert(dr.getAs[Long]("n_base") + dr.getAs[Long]("n_appended") ==
      spark.read.parquet(s"$idx/edges").count())
    assert(dr.getAs[Long]("n_appended") > 0)
    Seq("mean_cos_base", "mean_cos_appended").foreach { c =>
      val cv = dr.getAs[Double](c)
      assert(cv >= -1.0 - 1e-9 && cv <= 1.0 + 1e-9, s"$c=$cv out of range")
    }

    // compaction: both tables fold, search is unchanged, no-op after
    def search() = StreamingJobs.graphIndexSearch(spark, idx, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    val before = search()
    val folded = StreamingJobs.graphIndexCompact(spark, idx)
    assert(folded == 4, s"expected 2 node + 2 edge partitions folded, got $folded")
    assert(search() == before, "search changed across compaction")
    assert(StreamingJobs.graphIndexCompact(spark, idx) == 0)
  }

  test("uncapped graph bootstrap: the spec-scale fixture serves the same maintained-walk contract") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/graphcapped"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // bootstrap from the PLAIN multiprobe edge set — the batch op's
    // oracle-exact fixture (the capped hotprobe build is the default,
    // exercised by the maintenance test above); walk, append and
    // compaction legs are edge-set-agnostic across the two
    StreamingJobs.graphIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx,
      capped = false)
    val edges = spark.read.parquet(s"$idx/edges")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.map(_.swap) == edges, "fixture edge set not symmetric")
    val corpusIds = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 =!= 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(edges.forall { case (s0, d0) =>
      corpusIds.contains(s0) && corpusIds.contains(d0) },
      "fixture edges reference non-bootstrap vectors")
    // every linked member is reachable as its own top-1 through the
    // SAME maintained walk (fresh query ids dodge member exclusion)
    val linked = edges.map(_._1)
    val queries = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(linked.toSeq.take(20): _*))
      .select((col("vec_id") + 10000000L).as("query_id"), col("embedding"))
    val got = StreamingJobs.graphIndexSearch(spark, idx, queries)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) - 10000000L -> (r.getLong(1), r.getDouble(3))).toMap
    got.foreach { case (id, (top1, cos)) =>
      assert(top1 == id && cos == 1.0,
        s"linked member $id not its own top-1 over fixture graph: $top1 ($cos)")
    }
    // insert-by-search composes with the fixture bootstrap unchanged
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.graphAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try { source.addData(incoming.toSeq); q.processAllAvailable() } finally q.stop()
    val appendedQs = incoming.toSeq.toDF("vec_id", "embedding")
      .select((col("vec_id") + 20000000L).as("query_id"), col("embedding"))
    val got2 = StreamingJobs.graphIndexSearch(spark, idx, appendedQs)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) - 20000000L -> (r.getLong(1), r.getDouble(3))).toMap
    incoming.foreach { case (id, _) =>
      val (top1, cos) = got2(id)
      assert(top1 == id && cos == 1.0,
        s"appended vector $id not its own top-1 over fixture graph: $top1 ($cos)")
    }
  }

  test("IVF re-train: re-derived quantizer over the grown lake serves the batch build exactly") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/ivfretrain"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // bootstrap on 4/5, stream in the rest against the FROZEN quantizer
    StreamingJobs.ivfIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.ivfAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try { source.addData(incoming.toSeq); q.processAllAvailable() } finally q.stop()
    assert(StreamingJobs.ivfDriftReport(spark, idx).collect()
      .map(_.getAs[Long]("n_appended")).sum == incoming.length.toLong)

    // RE-TRAIN: k re-derives from the lake's own (grown) count — the
    // full corpus, so it must equal the registry op's derived k
    val k = StreamingJobs.ivfRetrain(spark, idx)
    assert(k == Similarity.derivedIvfK(spark, sf), s"re-derived k $k")
    val postings = spark.read.parquet(s"$idx/postings")
    val batches = postings.select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L), s"post-retrain partitions: $batches")
    assert(postings.count() == Tables.embeddings(spark, sf).count())
    assert(postings.select("vec_id").distinct().count() == postings.count())
    // the retrained lake IS the batch build over the union corpus —
    // the quantizer derivation is deterministic end to end, so the
    // lake serve must reproduce the registry op row for row
    val queries = Similarity.withNorm2(Tables.embeddings(spark, sf))
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    assert(canon(StreamingJobs.ivfIndexSearch(spark, idx, queries)) ==
      canon(Registry.queries("ann_ivf_topk")(spark, sf)))
    // the drift clock resets: no appended segment remains
    val after = StreamingJobs.ivfDriftReport(spark, idx).collect()
    assert(after.map(_.getAs[Long]("n_appended")).sum == 0L)
    assert(after.forall(!_.getAs[Boolean]("drifted")))
  }

  test("graph re-build: the capped bootstrap refreshes the grown lake, every vector reachable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/graphrebuild"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // capped default bootstrap on 4/5, insert-by-search the rest
    StreamingJobs.graphIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.graphAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try { source.addData(incoming.toSeq); q.processAllAvailable() } finally q.stop()

    StreamingJobs.graphIndexRebuild(spark, idx)
    // both tables folded to the bootstrap partition, nodes conserved
    for (t <- Seq("nodes", "edges")) {
      val batches = spark.read.parquet(s"$idx/$t")
        .select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(batches == Set(-1L), s"$t post-rebuild partitions: $batches")
    }
    val nodes = spark.read.parquet(s"$idx/nodes")
    assert(nodes.count() == Tables.embeddings(spark, sf).count())
    assert(nodes.select("vec_id").distinct().count() == nodes.count())
    // the rebuilt edge set is a fresh capped bootstrap over the union:
    // symmetric by construction, and formerly-appended vectors are now
    // first-class graph members — reachable as their own top-1 through
    // the SAME maintained walk (fresh query ids dodge member exclusion)
    val edges = spark.read.parquet(s"$idx/edges")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.map(_.swap) == edges, "rebuilt edge set not symmetric")
    val queries = incoming.toSeq.toDF("vec_id", "embedding")
      .select((col("vec_id") + 30000000L).as("query_id"), col("embedding"))
    val got = StreamingJobs.graphIndexSearch(spark, idx, queries)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) - 30000000L -> (r.getLong(1), r.getDouble(3))).toMap
    incoming.foreach { case (id, _) =>
      val (top1, cos) = got(id)
      assert(top1 == id && cos == 1.0,
        s"vector $id not its own top-1 after rebuild: $top1 ($cos)")
    }
    // drift clock resets
    val dr = StreamingJobs.graphDriftReport(spark, idx).collect()(0)
    assert(dr.getAs[Long]("n_appended") == 0L, s"drift after rebuild: $dr")
  }

  test("lake-mode recall report equals the batch report on an append-free lake") {
    val root = "target/tmp/recalllake"
    val gidx = s"$root/graph"; val vidx = s"$root/ivf"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // bootstrap both lakes over the FULL corpus from the batch ops' own
    // build cores (fixture edges for the graph, the trained quantizer
    // for IVF): an append-free lake serves exactly what the batch ops
    // serve, so the audit rows must match row for row — which proves
    // the lake report measures the serve path, not a re-derivation.
    // On a capped or appended lake the rows then show the REAL served
    // recall, which is what the QA loop is for.
    StreamingJobs.graphIndexInit(spark, sf, lit(true), gidx, capped = false)
    StreamingJobs.ivfIndexInit(spark, sf, lit(true), vidx)
    StreamingJobs.bqIndexInit(spark, sf, lit(true), s"$root/bq")
    def rows5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    val lakeAll = rows5(
      StreamingJobs.annRecallReportLake(spark, sf, gidx, vidx, s"$root/bq"))
    val (lakeFiltered, lake) = lakeAll.partition(_._1 == "ivf_lake_filtered")
    val batch = rows5(Registry.queries("ann_recall_report")(spark, sf))
      .filter(t => t._1 == "graph" || t._1 == "ivf" || t._1 == "binary").toSet
    assert(lake.length == batch.size, s"row counts: ${lake.length} vs ${batch.size}")
    lake.foreach { case (m, k, q, h, p) =>
      val bm = if (m == "bq_lake") "binary" else m.stripSuffix("_lake")
      assert(batch((bm, k, q, h, p)),
        s"lake row diverges from batch: ($m, $k, $q, $h, $p)")
    }
    // the filtered serve's audit rows: one per panel query, and equal
    // to the batch op's recall rows (ann_filtered_search serves the
    // memoized batch build of the SAME full corpus this lake
    // bootstrapped — one filteredServe definition over one index)
    import graft.operators.Similarity
    val wantFiltered = rows5(Similarity.recallReportOver(spark, sf, Seq(
      ("ivf_lake_filtered", Registry.queries("ann_filtered_search")(spark, sf),
        Similarity.RecallK))))
    assert(lakeFiltered.sorted.toSeq == wantFiltered.sorted.toSeq,
      s"filtered lake rows diverge: ${lakeFiltered.diff(wantFiltered).take(3)}")
  }

  test("lake filtered serve reads appended postings: stream-maintained == frozen-quantizer batch over the union") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/filteredlakeappend"
    val vidx = s"$root/ivf"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // bootstrap on the base corpus; the held-out slice arrives as a
    // 2-batch stream, then the filtered serve must rank over bootstrap
    // + appended posting partitions
    StreamingJobs.ivfIndexInit(spark, sf, col("vec_id") % 5 =!= 4, vidx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.ivfAppendStream(
      source.toDF().toDF("vec_id", "embedding"), vidx, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val meta = Tables.documents(spark, sf)
      .select(col("doc_id").as("vec_id"), col("source"))
    val queries = Similarity.withNorm2(
        Similarity.annPanelQueries(spark, sf).withColumnRenamed("query_id", "vec_id"))
      .join(meta, "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"), col("source").as("q_source"))
      .localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted.toSeq
    val lakeServed = canon(
      StreamingJobs.ivfIndexFilteredSearch(spark, vidx, meta, queries))
    // batch twin: same FROZEN quantizer, one-shot assignment of the
    // union corpus, same shared filteredServe — the stream's
    // sequential fold must serve exactly this
    val cents = spark.read.parquet(s"$vidx/centroids")
    val union = Similarity.withNorm2(Tables.embeddings(spark, sf)).localCheckpoint()
    val batchIndex = union
      .join(Similarity.assignVectors(union, cents.drop("cn2")), "vec_id")
      .join(meta, "vec_id").localCheckpoint()
    val batchServed = canon(
      Similarity.filteredServe(cents, batchIndex, queries))
    // appended vectors actually matter: some served neighbor is from
    // the streamed slice (vec_id % 5 == 4)
    assert(lakeServed.exists(_._2 % 5 == 4), "no appended neighbor served")
    assert(lakeServed.nonEmpty && lakeServed == batchServed,
      s"appended lake filtered != batch: ${lakeServed.diff(batchServed).take(3)} " +
      s"vs ${batchServed.diff(lakeServed).take(3)}")
  }

  test("lake filtered serve == batch filtered op on an append-free full-corpus lake") {
    import graft.operators.Similarity
    val root = "target/tmp/filteredlake"
    val vidx = s"$root/ivf"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.ivfIndexInit(spark, sf, lit(true), vidx)
    val meta = Tables.documents(spark, sf)
      .select(col("doc_id").as("vec_id"), col("source"))
    val queries = Similarity.withNorm2(
        Similarity.annPanelQueries(spark, sf).withColumnRenamed("query_id", "vec_id"))
      .join(meta, "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"), col("source").as("q_source"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted.toSeq
    val lakeServed = canon(
      StreamingJobs.ivfIndexFilteredSearch(spark, vidx, meta, queries))
    val batchServed = canon(Registry.queries("ann_filtered_search")(spark, sf))
    assert(lakeServed.nonEmpty)
    assert(lakeServed == batchServed,
      s"lake filtered != batch filtered: ${lakeServed.diff(batchServed).take(3)} " +
      s"vs ${batchServed.diff(lakeServed).take(3)}")
  }

  test("streaming token packing equals batch token_pack over the ordered feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/packstream"
    val pack = s"$root/pack"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // the stream contract: corpus slices arrive in doc_id order
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val batches = docs.grouped((docs.length + 2) / 3).toSeq
    assert(batches.length == 3)
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.packStream(
      source.toDF().toDF("doc_id", "text"), pack, ckpt)
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    // carried-base offsets make the unioned stream output CELL-equal
    // to the batch op over the whole corpus
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "token_offset", "start_block", "end_block")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val got = canon(spark.read.parquet(s"$pack/packed"))
    val want = canon(Registry.queries("token_pack")(spark, sf))
    assert(got == want,
      s"stream pack != batch pack: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    // the totals ledger carries one metadata row per batch and
    // conserves the corpus token count
    val totals = spark.read.parquet(s"$pack/totals")
    assert(totals.count() == batches.length.toLong)
    val corpusTokens = want.toSeq.map(_._2.toLong).sum
    assert(totals.agg(sum("total_tokens")).head.getLong(0) == corpusTokens)
  }

  test("streaming KMV distinct counts equal batch bit-for-bit in both regimes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()
    val batchDf = rows.toSeq.toDS().toDF()
    // cap 65536 → every sketch stays under capacity (exact regime);
    // cap 2 → saturated sketches (estimating regime; sf0.001's sparse
    // 10-minute windows hold only a handful of distinct users each).
    // A KMV sketch is a set of minima, so streamed == batch in both.
    for (cap <- Seq(65536, 2)) {
      val source = MemoryStream[StreamingJobs.Event]
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val q = StreamingJobs.distinctStream(source.toDF(), cap)
        .writeStream.outputMode("complete").format("memory")
        .queryName(s"kmv_out_$cap").start()
      try {
        source.addData(b1.toSeq); q.processAllAvailable()
        source.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(s"kmv_out_$cap")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
      val batch = StreamingJobs.distinctStream(batchDf, cap)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        s"cap=$cap: only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
      if (cap == 65536) {
        // under capacity the estimate IS the exact distinct count
        val exact = batchDf
          .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
          .agg(countDistinct("user_id").cast("double").as("ndv"))
          .select(col("window.start"), col("event_type"), col("ndv"))
          .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSet
        assert(streamed.map(t => (t._1, t._2, t._4)) == exact)
      } else {
        // saturated: capacity bounds the state per (window, type)
        assert(streamed.forall(_._3 <= cap))
        assert(streamed.exists(_._3 == cap), "estimating regime never engaged")
      }
    }
  }

  test("streaming decontamination gate partitions the feed like the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/decontam"
    val clean = s"$root/clean"; val quar = s"$root/quar"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docs = Tables.documents(spark, sf)
    // the registry op's split: every 50th doc plays the eval suite,
    // the rest are the live feed
    val evalSet = StreamingJobs.contaminationIndex(
      docs.filter(pmod(col("doc_id"), lit(50)) === 0).select("doc_id", "text"))
    val feed = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.contaminationGateStream(
      source.toDF().toDF("doc_id", "text"), evalSet, clean, quar, ckpt)
    // a doc too short to shingle (< 3 tokens) yields no verdict row in
    // the batch op, but an admission gate must still route it: no
    // 3-gram ⇒ cannot be contaminated ⇒ clean with zero shingles
    val shortDoc = (9000000L, "two words")
    try {
      val (b1, b2) = feed.splitAt(feed.length / 2)
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq :+ shortDoc); q.processAllAvailable()
    } finally q.stop()

    def sunk(path: String) = spark.read.parquet(path)
      .select("doc_id", "n_shingles", "n_contaminated", "contaminated_frac", "flag_contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val cleanRows = sunk(clean); val quarRows = sunk(quar)
    assert(cleanRows.forall(!_._5) && quarRows.forall(_._5))
    assert((cleanRows.map(_._1) & quarRows.map(_._1)).isEmpty)
    // the shingle-less doc routed clean with zero shingles…
    assert(cleanRows.contains((9000000L, 0L, 0L, 0.0, false)),
      s"short doc missing from clean sink: ${cleanRows.filter(_._1 == 9000000L)}")
    // …and everything that CAN shingle matches the batch op exactly
    val batch = Registry.queries("text_contamination")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val shingled = (cleanRows ++ quarRows).filterNot(_._1 == 9000000L)
    assert(shingled == batch,
      s"stream != batch: ${(shingled -- batch).take(3)} vs ${(batch -- shingled).take(3)}")
    // the sinks partition the whole feed, short doc included
    assert((cleanRows ++ quarRows).map(_._1) == feed.map(_._1).toSet + 9000000L)
  }

  test("streaming decontamination scrub equals the batch rewrite over the union feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/deconscrub"
    val clean = s"$root/clean"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docs = Tables.documents(spark, sf)
    // the registry op's split: every 50th doc plays the eval suite,
    // the rest are the live feed
    val bench = StreamingJobs.decontaminationScrubIndex(
      docs.filter(pmod(col("doc_id"), lit(50)) === 0).select("doc_id", "text"))
    val feed = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.decontaminateScrubStream(
      source.toDF().toDF("doc_id", "text"), bench, clean, ckpt)
    try {
      val (b1, b2) = feed.splitAt(feed.length / 2)
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "n_tokens_kept", "n_spans_cut",
        "text_rewritten")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4))).toSet
    val streamed = rows(spark.read.parquet(clean))
    // stateless + per-doc semantics ⇒ union of micro-batch scrubs ==
    // the registry op over the whole lake, cell for cell
    val batch = rows(Registry.queries("text_decontaminate_rewrite")(spark, sf))
    assert(streamed == batch,
      s"stream != batch: ${(streamed -- batch).take(3)} vs ${(batch -- streamed).take(3)}")
    // total coverage: every feed row has exactly one scrub verdict
    assert(streamed.map(_._1) == feed.map(_._1).toSet)
    // the scrub salvaged something the quarantining gate would drop:
    // at least one doc was cut AND kept non-empty content
    assert(streamed.exists(r => r._4 > 0 && r._3 > 0),
      "no partially-scrubbed doc in the feed — fixture lost its teeth")
  }

  test("streaming perplexity gate quarantines gibberish, admits the fluent feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/pplgate"
    val clean = s"$root/clean"; val quar = s"$root/quar"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docs = Tables.documents(spark, sf)
    val ref = docs.filter(col("lang") === "en").select("doc_id", "text")
    val feed = docs.select("doc_id", "text").as[(Long, String)].collect()
    // poison doc: pure gibberish — every transition unseen (oov 1.0,
    // fluency at the smoothing floor). Order-sensitivity of the SHARED
    // scoring core (pplFp/pplOov) is pinned by QueriesSpec on a
    // structured corpus; this corpus is a word-bag, so reversal is
    // in-distribution by construction and can't be a poison here.
    // One bigram-less doc exercises the no-evidence route.
    val gib = (9100000L, "zq wv xk jq vx qz kx jw vq zx")
    val short = (9200000L, "lone")
    // self-calibrating floor: half the least-fluent real doc, so the
    // assertion tracks the model rather than a magic constant
    val batch = Registry.queries("text_perplexity")(spark, sf)
      .select("doc_id", "n_bigrams", "lm_score", "mean_fluency", "oov_frac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    val floor = batch.filter(_._2 > 0).map(_._4).min * 0.5

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.perplexityGateStream(
      source.toDF().toDF("doc_id", "text"), ref, clean, quar, ckpt,
      minFluency = floor, maxOov = 0.5)
    try {
      val (b1, b2) = feed.splitAt(feed.length / 2)
      source.addData(b1.toSeq: _*); q.processAllAvailable()
      source.addData((b2.toSeq :+ gib :+ short): _*); q.processAllAvailable()
    } finally q.stop()

    def sunk(p: String) = spark.read.parquet(p)
      .select("doc_id", "n_bigrams", "lm_score", "mean_fluency", "oov_frac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    val cleanRows = sunk(clean); val quarRows = sunk(quar)
    // exactly the poison doc quarantines; the whole real feed admits
    assert(quarRows.map(_._1).toSet == Set(gib._1),
      s"quarantine: ${quarRows.map(_._1).toSet}")
    assert(cleanRows.map(_._1).toSet ==
      feed.map(_._1).toSet + short._1)
    // the bigram-less doc routed clean with zero evidence
    val shortRow = cleanRows.find(_._1 == short._1).get
    assert(shortRow._2 == 0L && shortRow._3 == 0L &&
      shortRow._4.isNaN && shortRow._5.isNaN)
    // and the streamed verdicts equal the batch op cell-for-cell on
    // the real feed (union across micro-batches == one batch pass)
    val streamed = cleanRows.filter(_._1 < 9000000L)
      .map(t => (t._1, t._2, t._3, t._4, t._5)).toSet
    assert(streamed == batch.toSet,
      s"stream != batch: ${(streamed -- batch.toSet).take(3)} vs ${(batch.toSet -- streamed).take(3)}")
  }

  test("streaming quality gate scores micro-batches like the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.qualityGateStream(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qgate").outputMode("append").start()
    try {
      source.addData(b1.toSeq: _*); q.processAllAvailable()
      source.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("qgate")
        .select("doc_id", "n_words", "mean_word_len", "quality_pass")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSet
      val want = Registry.queries("text_quality_gopher")(spark, sf)
        .select("doc_id", "n_words", "mean_word_len", "quality_pass")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSet
      assert(got == want,
        s"stream-only=${(got -- want).take(3)} batch-only=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming redaction matches the batch scrub cell-for-cell") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.redactStream(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("redact").outputMode("append").start()
    try {
      source.addData(b1.toSeq: _*); q.processAllAvailable()
      source.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("redact")
        .select("doc_id", "n_email", "n_phone", "n_term", "redacted_hash")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
      val want = Registry.queries("text_pii_redact")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
      assert(got == want,
        s"stream-only=${(got -- want).take(3)} batch-only=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("stream-static rarity scoring matches the batch scores cell-for-cell") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = Tables.documents(spark, sf).select("doc_id", "text")
    val ranks = graft.operators.Curation.wordRanks(docsDf).cache()
    val docs = docsDf.as[(Long, String)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)

    val got = scala.collection.mutable.Set[(Long, Int, Double, Int)]()
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.rarityStream(source.toDF().toDF("doc_id", "text"), ranks) { scores =>
      got.synchronized {
        got ++= scores.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
      }
    }
    try {
      source.addData(b1.toSeq: _*); q.processAllAvailable()
      source.addData(b2.toSeq: _*); q.processAllAvailable()
      val want = Registry.queries("text_rarity_score")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got.toSet == want,
        s"stream-only=${(got.toSet -- want).take(3)} batch-only=${(want -- got.toSet).take(3)}")
    } finally q.stop()
  }

  test("stateful sessionization matches the batch window sessionize") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamingJobs.Event].collect()

    val source = MemoryStream[StreamingJobs.Event]
    source.addData(rows.toSeq)
    val q = StreamingJobs.sessionize(source.toDS(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try q.processAllAvailable() finally q.stop()

    // Append mode emits only *closed* sessions; the final open session
    // per user is still in state. Compare closed ones against batch.
    val streamed = spark.table("sessions_out")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    val batch = Registry.queries("s2_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime]("session_start"), r.getLong(4)))
    // batch sessions minus each user's last session = closed sessions
    val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val closedBatch = batch.filter { case (u, st, _) => st != lastPerUser(u) }
      .map { case (u, st, n) =>
        (u, st.toInstant(java.time.ZoneOffset.UTC).toEpochMilli, n) }.toSet
    assert(streamed == closedBatch,
      s"diff: only-stream=${streamed.diff(closedBatch).take(3)} only-batch=${closedBatch.diff(streamed).take(3)}")
  }

  test("streaming BPE segmentation equals the batch apply under frozen rules") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/bpestream"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docsDf = Tables.documents(spark, sf).select("doc_id", "text")
    // rules trained once on the whole corpus = the frozen build state
    val rules = operators.TextAnalysis.bpeRules(spark, sf)
    assert(rules.nonEmpty, "corpus should yield at least one merge")
    val feed = docsDf.as[(Long, String)].collect()

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.bpeSegmentStream(
      source.toDF().toDF("doc_id", "text"), rules, s"$root/seg", s"$root/ckpt")
    try {
      val (b1, b2) = feed.splitAt(feed.length / 2)
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens_ws", "n_bpe_tokens", "syms_per_word")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = canon(spark.read.parquet(s"$root/seg"))
    val batch = canon(operators.TextAnalysis.bpeApplyWith(docsDf, rules))
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming unigram segmentation equals the batch apply under the frozen piece table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/unistream"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docsDf = Tables.documents(spark, sf).select("doc_id", "text")
    // the trained piece table = the frozen build state (driver values,
    // bounded at chars + 48 rows)
    val pieces = operators.TextAnalysis.unigramPieces(spark, sf)
    assert(pieces.nonEmpty && pieces.size <= 200)
    val feed = docsDf.as[(Long, String)].collect()

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.unigramSegmentStream(
      source.toDF().toDF("doc_id", "text"), pieces, s"$root/seg", s"$root/ckpt")
    try {
      val (b1, b2) = feed.splitAt(feed.length / 2)
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens_ws", "n_uni_pieces", "pieces_per_word")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = canon(spark.read.parquet(s"$root/seg"))
    // per-doc rollups are independent across docs, so the two-batch
    // stream must equal the registry op's whole-lake pass cell-for-cell
    val batch = canon(Registry.queries("tokenizer_unigram_apply")(spark, sf))
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming wordpiece segmentation equals the batch apply under the frozen vocab") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/wpstream"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docsDf = Tables.documents(spark, sf).select("doc_id", "text")
    // frozen build state: the two greedy-match vocab tables
    val (_, ivoc, cvoc, _) = operators.TextAnalysis.wpBuild(spark, sf)
    assert(ivoc.nonEmpty && cvoc.nonEmpty)
    val feed = docsDf.as[(Long, String)].collect()

    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.wordpieceSegmentStream(
      source.toDF().toDF("doc_id", "text"), ivoc, cvoc, s"$root/seg", s"$root/ckpt")
    try {
      val (b1, b2) = feed.splitAt(feed.length / 2)
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens_ws", "n_wp_pieces", "n_unk_words", "pieces_per_word")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val streamed = canon(spark.read.parquet(s"$root/seg"))
    // per-doc rollups are independent across docs, so the two-batch
    // stream must equal the registry op's whole-lake pass cell-for-cell
    val batch = canon(Registry.queries("tokenizer_wordpiece_apply")(spark, sf))
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming datacard ledger serves the exact batch card below sketch capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/datacard"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val docsDf = Tables.documents(spark, sf).select("source", "lang", "text")
    val docs = docsDf.as[(String, String, String)].collect()

    val source = MemoryStream[(String, String, String)]
    val q = StreamingJobs.datacardLedgerStream(
      source.toDF().toDF("source", "lang", "text"),
      s"$root/ledger", s"$root/ckpt")
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
      source.addData(b3.toSeq); q.processAllAvailable()
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSet
    // below capacity the KMV merge is exact, so the three-batch ledger
    // folds into the SAME card the batch op computes on the union —
    // dup rate included, cell for cell
    val served = canon(StreamingJobs.datacardServe(spark, s"$root/ledger"))
    val batch = canon(operators.Curation.datacardOf(docsDf))
    assert(served == batch,
      s"only-served=${(served -- batch).take(3)} only-batch=${(batch -- served).take(3)}")

    // aggressively saturated re-serve (the same ledger re-cut at k=4:
    // the 4 smallest of the union is a valid KMV state): the card must
    // stay shape-sane — conservation holds on the mergeable columns,
    // the estimated dup rate stays a per-mil
    val sat = StreamingJobs.datacardServe(spark, s"$root/ledger", capacity = 4)
      .collect()
    assert(sat.map(_.getAs[Long]("n_docs")).sum == docs.length)
    sat.foreach { r =>
      val d = r.getAs[Long]("dup_permil")
      assert(d >= 0 && d <= 1000, s"dup_permil $d out of range")
    }
  }

  test("maintained mixture-stats lake: serve == batch doremi over the union, compaction preserves it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/mixlake"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.mixStatsInit(spark, sf, root)
    // appended ingest: a brand-new source plus growth of an existing one
    val extra = Seq(
      ("srcX", "alpha beta gamma delta epsilon"),
      ("src1", "zeta eta theta iota kappa"),
      ("srcX", "lambda mu nu xi omicron"))
    val source = MemoryStream[(String, String)]
    val q = StreamingJobs.mixStatsAppendStream(
      source.toDF().toDF("source", "text"), root, s"$root/ckpt")
    try {
      source.addData(extra.take(1)); q.processAllAvailable()
      source.addData(extra.drop(1)); q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // counts are additive, the EG arithmetic is shared — the streamed
    // serve must equal the batch op on the union corpus, bit for bit
    // (a new source changes K, the uniform mix, and every round)
    val union = Tables.documents(spark, sf).select("source", "text")
      .union(extra.toDF("source", "text"))
    val batch = canon(operators.Curation.doremiMixOf(union))
    assert(batch.map(_._2).distinct.contains("srcX"))
    assert(canon(StreamingJobs.mixWeightsServe(spark, root)) == batch)
    // compaction folds both appended partitions; serve unchanged and
    // the merged journal is row-minimal (groupBy-sum, not concat)
    assert(StreamingJobs.mixStatsCompact(spark, root) == 2)
    assert(canon(StreamingJobs.mixWeightsServe(spark, root)) == batch)
    val stats = spark.read.parquet(s"$root/stats")
    assert(stats.groupBy("source", "b").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("maintained tokenizer-stats lake: retrains from the journal equal the trainers over the union") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/vocablake"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.vocabStatsInit(spark, sf, root)
    // appended ingest: growth of existing vocabulary plus brand-new words
    val extra = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "the five boxing wizards jump quickly")
    val source = MemoryStream[String]
    val q = StreamingJobs.vocabStatsAppendStream(
      source.toDF().toDF("text"), root, s"$root/ckpt")
    try {
      source.addData(extra.take(1)); q.processAllAvailable()
      source.addData(extra.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val union = Tables.documents(spark, sf).select("text")
      .union(extra.toDF("text"))
    // the summed journal IS the union corpus's word-count table
    def wcCanon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val unionWc = wcCanon(operators.TextAnalysis.wordCountsOf(union))
    assert(wcCanon(StreamingJobs.vocabStatsServe(spark, root)) == unionWc)
    // all THREE retrain legs == the docs-path trainers over the union
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingJobs.unigramRetrainFromLake(spark, root)) ==
      rows(operators.TextAnalysis.unigramTrainOf(union)))
    assert(rows(StreamingJobs.bpeRetrainFromLake(spark, root)) ==
      rows(operators.TextAnalysis.bpeTrainOf(union)))
    val (wr, wi, wcv) = StreamingJobs.wordpieceRetrainFromLake(spark, root)
    val (br, bi, bcv) = operators.TextAnalysis.wpTrainOf(union)
    assert(wr == br && wi == bi && wcv == bcv)
    // compaction folds both appended partitions; serve unchanged and
    // the merged journal is row-minimal
    assert(StreamingJobs.vocabStatsCompact(spark, root) == 2)
    assert(wcCanon(StreamingJobs.vocabStatsServe(spark, root)) == unionWc)
    val journal = spark.read.parquet(s"$root/wordcounts")
    assert(journal.groupBy("w").count().filter(col("count") > 1).count() == 0)
  }

  test("tokenizer-stats drift leg: in-distribution ingest sits flat, shifted ingest trips retrain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/vocabdrift"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.vocabStatsInit(spark, sf, root)
    val pieces = operators.TextAnalysis.unigramPieces(spark, sf)
    val (_, wIvoc, wCvoc, _) = operators.TextAnalysis.wpBuild(spark, sf)
    def drift() =
      StreamingJobs.vocabDriftServe(spark, root, pieces, wIvoc, wCvoc)
    // degenerate shape: fresh bootstrap, nothing appended yet - the
    // verdict row survives with null new-side statistics and the
    // flag down (the corpusIndexDriftReport convention)
    val fresh = StreamingJobs.vocabDriftServe(spark, root, pieces, wIvoc, wCvoc).collect()
    assert(fresh.length == 1 && fresh(0).isNullAt(1) &&
      fresh(0).isNullAt(4) && !fresh(0).getAs[Boolean]("retrain"),
      fresh.mkString(","))
    // batch 1: a replay of lake documents — same distribution, so the
    // appended fertility equals the base fertility (same word table
    // shape) and the flag stays down
    val replay = Tables.documents(spark, sf).select("text")
      .as[String].take(20).toSeq
    // batch 2: vocabulary-shifted ingest — words built from characters
    // the frozen vocab never saw price as char-per-piece fallback,
    // blowing fertility past the 10% trigger
    // mass matters: the drift statistic is occurrence-weighted, so the
    // shifted batch must carry comparable word mass to the replay for
    // the mixture fertility to move past the trigger
    val shifted = Seq.fill(300)("ZQXJVW KKWWZZ QQXXJJ VVWWKK").mkString(" ")
    val source = MemoryStream[String]
    val q = StreamingJobs.vocabStatsAppendStream(
      source.toDF().toDF("text"), root, s"$root/ckpt")
    try {
      source.addData(replay); q.processAllAvailable()
      val flat = drift().collect()(0)
      assert(!flat.getAs[Boolean]("retrain"),
        s"in-distribution replay tripped retrain: $flat")
      source.addData(Seq(shifted)); q.processAllAvailable()
    } finally q.stop()
    val verdict = drift().collect()(0)
    assert(verdict.getAs[Long]("drift_ppm") > 0,
      s"shifted ingest did not raise fertility: $verdict")
    assert(verdict.getAs[Boolean]("retrain"),
      s"shifted ingest did not trip retrain: $verdict")
    // compaction folds everything into the bootstrap: the appended
    // side empties and the drift verdict RESETS (one row, flag down)
    // instead of dropping the report
    StreamingJobs.vocabStatsCompact(spark, root)
    val reset = drift().collect()
    assert(reset.length == 1 && reset(0).isNullAt(1) &&
      !reset(0).getAs[Boolean]("retrain"), reset.mkString(","))
  }

  test("tokenizer-stats drift leg: a WP UNK-rate blow-up trips retrain even with flat unigram fertility") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/vocabdrift-unk"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.vocabStatsInit(spark, sf, root)
    val pieces = operators.TextAnalysis.unigramPieces(spark, sf)
    val (_, wIvoc, wCvoc, _) = operators.TextAnalysis.wpBuild(spark, sf)
    def drift() =
      StreamingJobs.vocabDriftServe(spark, root, pieces, wIvoc, wCvoc)
    // construct an ingest whose unigram fertility barely moves but
    // whose words WordPiece rejects outright (the new-script shape):
    // unseen-charset words of length ≈ the base fertility price as
    // char-per-piece ≈ the corpus mean under the unigram fallback,
    // while the greedy chase UNKs every one of them whole-word
    val fb = drift().collect()(0).getAs[Long]("base_fertility_ppm")
    val L = math.max(1, math.min(8, math.round(fb / 1e6).toInt))
    val replay = Tables.documents(spark, sf).select("text")
      .as[String].take(20).toSeq
    val oov = Seq.fill(80)("Z" * L).mkString(" ")
    val source = MemoryStream[String]
    val q = StreamingJobs.vocabStatsAppendStream(
      source.toDF().toDF("text"), root, s"$root/ckpt")
    try {
      source.addData(replay :+ oov); q.processAllAvailable()
    } finally q.stop()
    val v = drift().collect()(0)
    // the fertility trigger must NOT be what fires (that's the old
    // leg): relative fertility drift stays under tauPpm = 10%
    assert(math.abs(v.getAs[Long]("drift_ppm")) * 1000000L <=
      100000L * v.getAs[Long]("base_fertility_ppm"),
      s"fertility moved past the trigger, test corpus mis-sized: $v")
    // the UNK leg fires alone: whole-word rejections jumped > 1%
    assert(v.getAs[Long]("unk_drift_ppm") > 10000L,
      s"UNK rate did not jump: $v")
    assert(v.getAs[Boolean]("retrain"),
      s"UNK blow-up did not trip retrain: $v")
  }

  test("streaming wordpiece marks unseen-vocabulary words [UNK], matching the batch serve") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/wpunk"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val (_, ivoc, cvoc, _) = operators.TextAnalysis.wpBuild(spark, sf)
    // doc 1 = real lake words (fully segmentable: the vocab's char
    // floor covers every corpus character); doc 2 swaps in a word with
    // a character the frozen vocab never saw → one [UNK] token
    val lakeWords = Tables.documents(spark, sf).select("text")
      .as[String].head.split(" ").filter(_.nonEmpty).take(3)
    val feed = Seq((1L, lakeWords.mkString(" ")),
      (2L, (lakeWords.take(2) :+ "ZZZ").mkString(" ")))
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.wordpieceSegmentStream(
      source.toDF().toDF("doc_id", "text"), ivoc, cvoc, s"$root/seg", s"$root/ckpt")
    try { source.addData(feed); q.processAllAvailable() } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens_ws", "n_wp_pieces", "n_unk_words")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = canon(spark.read.parquet(s"$root/seg"))
    val batch = canon(operators.TextAnalysis.wpApplyWith(
      feed.toDF("doc_id", "text"), ivoc, cvoc))
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the UNK path actually fired, and only on the shifted doc
    val byDoc = streamed.map(t => t._1 -> t._4).toMap
    assert(byDoc(1L) == 0L && byDoc(2L) == 1L, byDoc.toString)
  }

  test("learned quality gate: stream verdicts equal the batch classifier's") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the model is BUILD state: trained once batch-side on the labeled
    // lake slice, then broadcast into every micro-batch
    val labeled = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), (col("lang") === "en").as("label"))
    val (w, tau) = operators.Curation.qualityClassifierModelOf(labeled)
    val batch = Registry.queries("corpus_quality_classifier")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    val slice = Tables.documents(spark, sf).filter(col("doc_id") % 7 === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Boolean)]
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.classifierGateStream(
      source.toDF().toDF("doc_id", "text"), w, tau) { df =>
      out ++= df.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    }
    try { source.addData(slice); q.processAllAvailable() } finally q.stop()
    assert(out.size == slice.size)
    // features are per-document (ℓ1-normalized within the doc), so the
    // gate's scores are exactly the batch op's — verdict for verdict
    out.foreach { case (id, sc, pass) =>
      assert(batch(id) == ((sc, pass)),
        s"doc $id stream ($sc, $pass) != batch ${batch(id)}")
    }
  }

  test("inverted-index lake: stream-appended BM25/RRF equal the batch ops over the union corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/corpusindex"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // bootstrap = 4/5 of the corpus; the rest arrives as two micro-batches
    StreamingJobs.corpusIndexInit(spark, sf, col("doc_id") % 5 =!= 4, idx)
    val slice = Tables.documents(spark, sf).filter(col("doc_id") % 5 === 4)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (b1, b2) = slice.splitAt(slice.length / 2)
    val source = MemoryStream[(Long, String)]
    val q = StreamingJobs.corpusIndexAppendStream(
      source.toDF().toDF("doc_id", "text"), idx, ckpt)
    try {
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // lake serve == the registry batch ops over the FULL corpus: the
    // lake's union of bootstrap + appended partitions carries the same
    // integer tf/df/dl/n_docs (df/stats partials sum over disjoint doc
    // sets) and both surfaces score through ONE definition
    // (bm25Over / retrievalRrfOver), so results are bit-identical
    val batchBm25 = rows(Registry.queries("text_bm25_topk")(spark, sf))
    val batchRrf = rows(Registry.queries("retrieval_rrf")(spark, sf))
    assert(rows(StreamingJobs.bm25IndexSearch(spark, idx)) == batchBm25)
    assert(rows(StreamingJobs.rrfIndexSearch(spark, sf, idx)) == batchRrf)

    // word-bucket layout (SURVEY §5): a literal-term read prunes FILES
    // across bootstrap AND both appended (not-yet-compacted)
    // partitions — the postings scan touches exactly the query terms'
    // bucket dirs, nothing else
    locally {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val buckets = graft.operators.TextAnalysis.Bm25Terms
        .map(graft.operators.CorpusIndex.wordBucketOf).distinct.toSet
      val fsys = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(dir: String): Seq[String] = {
        val it = fsys.listFiles(new org.apache.hadoop.fs.Path(dir), true)
        val b = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next().getPath.toString
          if (f.endsWith(".parquet")) b += f
        }
        b.toSeq
      }
      val all = files(s"$idx/postings")
      val expected = all.filter(f =>
        buckets.exists(b => f.contains(s"word_bucket=$b/")))
      assert(expected.nonEmpty && expected.size < all.size,
        s"bucket layout degenerate: ${expected.size}/${all.size}")
      // all three live partitions are represented in the pruned set
      assert(Set(-1L, 0L, 1L).forall(b =>
        expected.exists(_.contains(s"ingest_batch=$b/"))))
      val served = StreamingJobs.bm25IndexSearch(spark, idx)
      served.collect()
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        // AQE wraps materialized stages; their `children` is empty
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case s: FileSourceScanExec => Seq(s)
        case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
      }
      val postingScans = scans(served.queryExecution.executedPlan)
        .filter(_.metadata("Location").contains("postings"))
      assert(postingScans.nonEmpty, "no postings scan found in the plan")
      assert(postingScans.map(_.metrics("numFiles").value).sum == expected.size,
        s"postings term read not pruned to the term buckets: " +
        s"read ${postingScans.map(_.metrics("numFiles").value).sum} " +
        s"vs expected ${expected.size} of ${all.size}")
      // rrf's JOIN-DERIVED term set can't prune statically — it rides
      // the broadcast LEFT-SEMI on the partition column instead (the
      // r31 runtime-filter shape; the exact inner join still decides)
      val rplan = StreamingJobs.rrfIndexSearch(spark, sf, idx)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(rplan.contains("LeftSemi"), "rrf sparse side lost the semi prefilter")
      assert(rplan.contains("word_bucket"), "rrf semi prefilter not on the partition column")
    }

    // drift report before compaction: 3 live partitions (bootstrap +
    // two appends); doc counts, avgdl and OOV share recomputed from
    // the RAW corpus (independent of the lake's partials)
    locally {
      val docs = Tables.documents(spark, sf)
        .withColumn("seg", when(col("doc_id") % 5 === 4, "a").otherwise("b"))
        .withColumn("dl", size(split(col("text"), " ")).cast("long"))
      def expect(s: String): (Long, Double) = {
        val r = docs.filter(col("seg") === s)
          .agg(count(lit(1)), sum("dl")).collect()(0)
        (r.getLong(0), r.getLong(1).toDouble / r.getLong(0))
      }
      val (nb, ab) = expect("b"); val (na, aa) = expect("a")
      val words = docs.select(col("seg"),
          explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(max(col("seg") === "b").as("inB"),
          max(col("seg") === "a").as("inA"))
        .filter(col("inA"))
      val vocabA = words.count()
      val oov = words.filter(!col("inB")).count()
      val rep = StreamingJobs.corpusIndexDriftReport(spark, idx).collect()(0)
      assert(rep.getLong(0) == 3L, s"frag: $rep")
      assert(rep.getLong(1) == nb && rep.getLong(2) == na, s"n_docs: $rep")
      assert(rep.getDouble(3) == math.floor(ab * 1e6 + 0.5) / 1e6, s"avgdl_base: $rep")
      assert(rep.getDouble(4) == math.floor(aa * 1e6 + 0.5) / 1e6, s"avgdl_app: $rep")
      assert(rep.getLong(5) == vocabA, s"vocab_appended: $rep")
      assert(rep.getDouble(6) == math.floor(oov.toDouble / vocabA * 1e6 + 0.5) / 1e6,
        s"oov_share: $rep")
      assert(rep.getBoolean(7) == (oov.toDouble / vocabA > 0.25), s"drifted: $rep")
      assert(!rep.getBoolean(8), s"compact_due at 3 partitions: $rep")
    }

    // compaction folds all four tables and merges the df/stats
    // partials; serve output is unchanged and a re-compact is a no-op
    assert(StreamingJobs.corpusIndexCompact(spark, idx) == 2)
    for (t <- Seq("postings", "doclens", "docfreq", "stats")) {
      val batches = spark.read.parquet(s"$idx/$t")
        .select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(batches == Set(-1L), s"$t post-compaction partitions: $batches")
    }
    val dfreq = spark.read.parquet(s"$idx/docfreq")
    assert(dfreq.groupBy("word").count().filter(col("count") > 1).count() == 0,
      "docfreq partials not merged to one row per word")
    assert(spark.read.parquet(s"$idx/stats").count() == 1,
      "stats partials not merged to one row")
    assert(rows(StreamingJobs.bm25IndexSearch(spark, idx)) == batchBm25)
    assert(rows(StreamingJobs.rrfIndexSearch(spark, sf, idx)) == batchRrf)
    assert(StreamingJobs.corpusIndexCompact(spark, idx) == 0)

    // drift report after compaction: everything folded into the
    // bootstrap partition — the staleness clock resets (frag 1, no
    // appended segment, null appended stats, both flags clear)
    val rep2 = StreamingJobs.corpusIndexDriftReport(spark, idx).collect()(0)
    assert(rep2.getLong(0) == 1L, s"post-compact frag: $rep2")
    assert(rep2.getLong(2) == 0L && rep2.isNullAt(4), s"appended: $rep2")
    assert(rep2.getLong(5) == 0L && rep2.isNullAt(6), s"vocab: $rep2")
    assert(!rep2.getBoolean(7) && !rep2.getBoolean(8), s"flags: $rep2")
  }

  test("embedding-outlier gate: frozen thresholds reject the planted vector, replay-exact") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/outliergate"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"; val out = s"$root/verdicts"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.ivfIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    StreamingJobs.outlierMomentsInit(spark, idx)
    // held-out in-distribution slice + one planted far vector
    val indist = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val planted = (900000L, Seq.fill(64)(50f))
    val (b1, b2) = indist.splitAt(indist.length / 2)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.outlierGateStream(
      source.toDF().toDF("vec_id", "embedding"), idx, out, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData((b2 :+ planted).toSeq); q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Boolean]("admitted"), r.getAs[Double]("dist"),
          r.getAs[Double]("threshold"), r.getAs[Int]("list_id"))).toMap
    // exactly-once: one verdict per incoming vector
    assert(verdicts.size == indist.length + 1)
    // geometry screening: the far vector is rejected with dist far past
    // its cluster's frozen threshold
    val (adm, d, thr, _) = verdicts(planted._1)
    assert(!adm && d > thr, s"planted vector not rejected: dist $d thr $thr")
    // in-distribution vectors are overwhelmingly admitted (frozen
    // μ + 2σ covers the same-distribution draw; ~2-5 % tail expected)
    val admitted = indist.count { case (id, _) => verdicts(id)._1 }
    assert(admitted.toDouble / indist.length >= 0.8,
      s"only $admitted/${indist.length} in-distribution vectors admitted")
    // thresholds ARE the frozen bootstrap moments: recompute one
    // cluster's μ + 2σ independently from the lake's own base postings
    val cents = spark.read.parquet(s"$idx/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val base = spark.read.parquet(s"$idx/postings")
      .filter(col("ingest_batch") === -1L)
      .select("embedding", "list_id").collect()
      .map(r => (r.getSeq[Float](0).map(_.toDouble), r.getInt(1)))
    val someCluster = verdicts(indist.head._1)._4
    val dists = base.filter(_._2 == someCluster).map { case (e, _) =>
      val c = cents(someCluster)
      math.sqrt(math.max(0.0,
        e.map(x => x * x).sum + c.map(x => x * x).sum -
          2.0 * e.zip(c).map { case (x, y) => x * y }.sum))
    }
    val mu = dists.sum / dists.length
    val sg = math.sqrt(math.max(0.0,
      dists.map(x => x * x).sum / dists.length - mu * mu))
    val gateThr = verdicts.collectFirst {
      case (_, (_, _, t, cl)) if cl == someCluster => t }.get
    assert(math.abs(gateThr - (mu + 2 * sg)) <= 1e-6 * math.max(1.0, gateThr),
      s"frozen threshold $gateThr != recomputed ${mu + 2 * sg}")
    // retrain re-keys the cluster ids, so it must RE-FREEZE the gate's
    // moments from the retrained index — stale moments would threshold
    // against the wrong clusters
    StreamingJobs.ivfRetrain(spark, idx)
    val newCents = spark.read.parquet(s"$idx/centroids")
      .select(col("cid").as("list_id"), col("cent"), col("cn2"))
    val want = Similarity.clusterMoments(Similarity.centroidDists(
        spark.read.parquet(s"$idx/postings").join(newCents, "list_id")))
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    val got = spark.read.parquet(s"$idx/moments")
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == want, s"moments not re-frozen after retrain")
    // moments cover exactly the occupied clusters of the NEW quantizer
    assert(got.keySet.subsetOf(newCents.collect().map(_.getInt(0)).toSet))
  }

  test("embedding-outlier gate: moments-less cluster admits with has_moments=false, NULL threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/outliergate_nomoments"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"; val out = s"$root/verdicts"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // hand-built lake: two frozen centroids, moments frozen only for
    // cluster 0 — cluster 1's bootstrap list was empty (the exact case
    // outlierMomentsInit produces for an unoccupied centroid)
    Seq((0, Seq(1f, 0f, 0f, 0f), 1.0), (1, Seq(0f, 0f, 0f, 1f), 1.0))
      .toDF("cid", "cent", "cn2").write.parquet(s"$idx/centroids")
    Seq((0, 0.1, 5L, 0.01))
      .toDF("list_id", "mu", "cluster_n", "sigma").write.parquet(s"$idx/moments")
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.outlierGateStream(
      source.toDF().toDF("vec_id", "embedding"), idx, out, ckpt)
    try {
      source.addData(Seq(
        (1L, Seq(1.0f, 0f, 0f, 0f)),   // cluster 0, at the centroid: admit
        (2L, Seq(5.0f, 1f, 0f, 0f)),   // cluster 0, far: reject (dist ≫ μ+2σ)
        (3L, Seq(0f, 0f, 0f, 1.2f)))) // cluster 1: NO moments row
      q.processAllAvailable()
    } finally q.stop()
    val v = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Int]("list_id"),
        if (r.isNullAt(r.fieldIndex("threshold"))) None
        else Some(r.getAs[Double]("threshold")),
        r.getAs[Boolean]("has_moments"), r.getAs[Boolean]("admitted")))).toMap
    assert(v.size == 3)
    // thresholded admissions record the applied threshold
    assert(v(1L) == ((0, Some(0.1 + 2 * 0.01), true, true)), s"v1: ${v(1L)}")
    assert(v(2L) == ((0, Some(0.1 + 2 * 0.01), true, false)), s"v2: ${v(2L)}")
    // the moments-less cluster: admitted by ABSENCE of evidence, and
    // the verdict row says so — has_moments=false, threshold NULL —
    // instead of relying on three-valued logic being unreadable later
    assert(v(3L) == ((1, None, false, true)), s"v3: ${v(3L)}")
  }

  test("binary-signature lake: frozen-quantizer append, search, compact, drift, repack") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/bqlake"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.bqIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.bqAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def sigMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select("vec_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // exactly-once: every incoming vector packed once, base untouched
    val lake = spark.read.parquet(s"$idx/signatures")
    assert(lake.filter(col("ingest_batch") >= 0).count() == incoming.length.toLong)
    assert(lake.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)
    // stream-packed rows == one-shot batch pack of the union against
    // the SAME frozen quantizer (the fixed-means append contract)
    val frozen = spark.read.parquet(s"$idx/means")
    val union = Similarity.withNorm2(Tables.embeddings(spark, sf)).localCheckpoint()
    assert(sigMap(lake) == sigMap(Similarity.bqPackWith(union, frozen)))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    val queries = union.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
    val before = canon(StreamingJobs.bqIndexSearch(spark, idx, queries))
    assert(before.nonEmpty)
    // compaction folds every appended partition and preserves search
    assert(StreamingJobs.bqCompactSignatures(spark, idx) == 2)
    assert(canon(StreamingJobs.bqIndexSearch(spark, idx, queries)) == before)
    assert(StreamingJobs.bqCompactSignatures(spark, idx) == 0)
    // drift clock: one row per dim covering the whole lake; flip counts
    // bounded and consistent with the permil column
    val n = union.count()
    val drift = StreamingJobs.bqDriftReport(spark, idx).collect()
    assert(drift.length == 64)
    drift.foreach { r =>
      assert(r.getLong(3) == n)
      val flips = r.getLong(4)
      assert(flips >= 0 && flips <= n)
      assert(math.abs(r.getDouble(5) - flips * 1000.0 / n) < 1e-9)
    }
    // repack: re-derived means == current means ⇒ the drift clock
    // resets to zero flips, and the lake packs bit-identically to the
    // batch build over the union corpus
    assert(StreamingJobs.bqRepack(spark, idx) == n)
    val drift2 = StreamingJobs.bqDriftReport(spark, idx).collect()
    assert(drift2.forall(r => r.getLong(4) == 0L
      && r.getDouble(1) == r.getDouble(2)))
    assert(sigMap(spark.read.parquet(s"$idx/signatures"))
      == sigMap(Similarity.bqPackWith(union, Similarity.bqMeans(union))))
    assert(canon(StreamingJobs.bqIndexSearch(spark, idx, queries)).nonEmpty)
  }

  private def ivfpqCanon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted

  private def ivfpqPanel(): org.apache.spark.sql.DataFrame = {
    import graft.operators.Similarity
    Similarity.withNorm2(Tables.embeddings(spark, sf))
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
  }

  test("IVFPQ lake: compressed append == frozen-quantizer batch encode over the union") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/ivfpqappend"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // bootstrap: coarse quantizer AND residual codebooks trained on the
    // base corpus; the held-out slice arrives as a 2-batch stream and
    // is encoded against BOTH frozen artifacts (FAISS `add`)
    StreamingJobs.ivfpqIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.ivfpqAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      source.addData(b1.toSeq); q.processAllAvailable()
      source.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    // memory-honesty: the posting table carries codes, never vectors
    val postings = spark.read.parquet(s"$idx/postings")
    assert(!postings.columns.contains("embedding"),
      s"compressed postings carry an embedding column: ${postings.columns.toSeq}")
    assert(postings.columns.toSet ==
      Set("vec_id", "list_id", "codes", "n2", "qerr", "ingest_batch"))
    assert(postings.filter(col("ingest_batch") >= 0).count() == incoming.length.toLong)
    assert(postings.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)

    val queries = ivfpqPanel()
    val lakeServed = ivfpqCanon(StreamingJobs.ivfpqIndexSearch(spark, idx, queries))
    // batch twin: SAME frozen quantizer + codebooks, one-shot
    // assignment + encode of the union corpus through the shared cores
    // — the stream's sequential fold must serve exactly this
    val cents = spark.read.parquet(s"$idx/centroids")
    val rcents = spark.read.parquet(s"$idx/rcodebooks")
    val union = Similarity.withNorm2(Tables.embeddings(spark, sf)).localCheckpoint()
    val assigned = union
      .join(Similarity.assignVectors(union, cents.drop("cn2")), "vec_id")
      .join(broadcast(cents.select(col("cid").as("list_id"), col("cent"))), "list_id")
    val batchServed = ivfpqCanon(Similarity.ivfpqAdcServe(cents, rcents,
      Similarity.ivfpqEncode(assigned, rcents), queries))
    assert(lakeServed.nonEmpty && lakeServed == batchServed,
      s"lake != batch union serve: ${lakeServed.diff(batchServed).take(3)} vs ${batchServed.diff(lakeServed).take(3)}")
    // the appended slice is actually servable: some neighbor row comes
    // from the streamed 1/5 of the corpus
    assert(lakeServed.exists(_._2 % 5 == 4), "no appended neighbor served")
  }

  test("IVFPQ maintenance: compaction preserves search; drift reads encode-time qerr; retrain re-encodes from the corpus lake") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = "target/tmp/ivfpqmaint"
    val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.ivfpqIndexInit(spark, sf, col("vec_id") % 5 =!= 4, idx)
    val incoming = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingJobs.ivfpqAppendStream(
      source.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try { source.addData(incoming.toSeq); q.processAllAvailable() } finally q.stop()

    // drift report reads the encode-time qerr: every appended member
    // accounted, means present for both segments of non-empty lists
    val drift = StreamingJobs.ivfpqDriftReport(spark, idx).collect()
    assert(drift.map(_.getAs[Long]("n_appended")).sum == incoming.length.toLong)
    drift.filter(r => r.getAs[Long]("n_base") > 0).foreach { r =>
      assert(r.getAs[Double]("mean_qerr_base") >= 0.0) }

    val queries = ivfpqPanel()
    val before = ivfpqCanon(StreamingJobs.ivfpqIndexSearch(spark, idx, queries))
    val folded = StreamingJobs.ivfpqCompactPostings(spark, idx)
    assert(folded >= 1, s"compaction folded $folded partitions")
    assert(ivfpqCanon(StreamingJobs.ivfpqIndexSearch(spark, idx, queries)) == before)
    assert(StreamingJobs.ivfpqCompactPostings(spark, idx) == 0)

    // RE-TRAIN + RE-ENCODE: the compressed lake cannot retrain from
    // codes, so the corpus comes from the source-of-truth vector lake;
    // k re-derives from the grown corpus, and the retrained lake
    // serves a fresh deterministic build over the same corpus exactly
    val k = StreamingJobs.ivfpqRetrain(spark, idx,
      Tables.embeddings(spark, sf).select("vec_id", "embedding"))
    assert(k == Similarity.derivedIvfK(spark, sf), s"re-derived k $k")
    val postings = spark.read.parquet(s"$idx/postings")
    assert(postings.select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L))
    assert(postings.count() == Tables.embeddings(spark, sf).count())
    assert(postings.select("vec_id").distinct().count() == postings.count())
    val (fc, fr, fp) = Similarity.buildIvfPqIndexOver(
      Similarity.withNorm2(Tables.embeddings(spark, sf)))
    assert(ivfpqCanon(StreamingJobs.ivfpqIndexSearch(spark, idx, queries)) ==
      ivfpqCanon(Similarity.ivfpqAdcServe(fc, fr, fp, queries)))
    // drift clock resets
    assert(StreamingJobs.ivfpqDriftReport(spark, idx).collect()
      .map(_.getAs[Long]("n_appended")).sum == 0L)
  }

  test("lake-mode recall report prices the compressed ivfpq_lake serve tier") {
    import graft.operators.Similarity
    val root = "target/tmp/recallivfpq"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    StreamingJobs.graphIndexInit(spark, sf, lit(true), s"$root/graph", capped = false)
    StreamingJobs.ivfIndexInit(spark, sf, lit(true), s"$root/ivf")
    StreamingJobs.ivfpqIndexInit(spark, sf, lit(true), s"$root/ivfpq")
    val report = StreamingJobs.annRecallReportLake(spark, sf,
      s"$root/graph", s"$root/ivf", null, s"$root/ivfpq").collect()
    val pq = report.filter(_.getString(0) == "ivfpq_lake")
    // one audit row per panel query, k explicit, recall in [0, 1000],
    // and the ADC serve is not degenerate (it finds true neighbors)
    assert(pq.length == 10, s"ivfpq_lake rows: ${pq.length}")
    pq.foreach { r =>
      assert(r.getInt(1) == 5)
      val permil = r.getLong(4)
      assert(permil >= 0 && permil <= 1000, s"recall_permil $permil")
    }
    assert(pq.map(_.getLong(4)).sum > 0L, "ADC serve found zero true neighbors")
  }
}
