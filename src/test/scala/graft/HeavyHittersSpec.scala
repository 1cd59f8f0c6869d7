package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.HeavyHitters
import graft.plans.HeavyHitters.heavy_hitters

class HeavyHittersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("exact when distinct keys fit the capacity (vs groupBy count)") {
    // event_type has 5 distinct values; capacity 16 → exact counts
    val sketch = Tables.events(spark, sf)
      .agg(heavy_hitters(col("event_type"), 16).as("hh"))
      .head.getMap[String, Long](0)
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.toMap == exact)
  }

  test("top word survives aggressive capacity under SpaceSaving guarantee") {
    val words = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
    val exact = words.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1).head
    val (topWord, topN) = (exact.getString(0), exact.getLong(1))
    val n = words.count()
    val capacity = 32
    // guarantee applies when true frequency > n/capacity
    assume(topN > n / capacity)
    val sketch = words.agg(heavy_hitters(col("word"), capacity).as("hh"))
      .head.getMap[String, Long](0)
    assert(sketch.contains(topWord), s"top word '$topWord' missing from sketch")
    // SpaceSaving never undercounts
    assert(sketch(topWord) >= topN)
  }

  test("heavy_hitters works per group and in SQL") {
    Tables.events(spark, sf).createOrReplaceTempView("hh_events")
    val rows = spark.sql(
      """SELECT user_id, heavy_hitters(event_type, 8) AS hh
        |FROM hh_events GROUP BY user_id ORDER BY user_id LIMIT 5""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getMap[String, Long](1).nonEmpty))
  }
}
