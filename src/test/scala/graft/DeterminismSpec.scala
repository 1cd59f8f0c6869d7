package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.dsum

/** Property tests for the oracle-determinism core (SURVEY.md §4):
  * dsum must be partition-order independent and equal the exact
  * BigDecimal computation a correct oracle engine would produce.
  * (Raw ScalaCheck generators with a fixed seed — the scalatestplus
  * bridge isn't in the offline dependency cache.) */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // money-like doubles: 2dp values in [-10^6, 10^6]
  private val moneyGen: Gen[List[Double]] =
    Gen.listOfN(200, Gen.chooseNum(-100000000L, 100000000L).map(_ / 100.0))

  private def samples(n: Int): Seq[List[Double]] =
    (0 until n).flatMap(i => moneyGen.apply(Gen.Parameters.default, Seed(42L + i)))

  private def exactDsum(xs: Seq[Double], castScale: Int, outScale: Int): Double =
    xs.map(new JBigDecimal(_).setScale(castScale, RoundingMode.HALF_UP))
      .foldLeft(JBigDecimal.ZERO)(_.add(_))
      .setScale(outScale, RoundingMode.HALF_UP)
      .doubleValue()

  test("dsum equals the exact BigDecimal sum regardless of partitioning") {
    samples(8).zipWithIndex.foreach { case (xs, i) =>
      val parts = 1 + (i % 7)
      val got = xs.toDF("x").repartition(parts)
        .agg(dsum(col("x")).as("s")).head.getDouble(0)
      val want = exactDsum(xs, 4, 2)
      assert(got == want, s"dsum=$got exact=$want parts=$parts sample=$i")
    }
  }

  test("dsum is invariant under input permutation") {
    val rnd = new scala.util.Random(7)
    samples(5).foreach { xs =>
      val a = xs.toDF("x").repartition(3).agg(dsum(col("x"))).head.getDouble(0)
      val b = rnd.shuffle(xs).toDF("x").repartition(5)
        .agg(dsum(col("x"))).head.getDouble(0)
      assert(a == b)
    }
  }

  test("fsum12 equals the exact floor-quantized integer sum regardless of partitioning") {
    // the corpus-scale fixed-point reduction (§5, round 13): each term
    // floor-quantizes to 1e-12 and the long hi/lo sums reconstruct the
    // exact integer total — independently recomputed here with BigInt
    // from the same IEEE floor the engine applies
    def exactFsum12(xs: Seq[Double]): Double = {
      val total = xs.map(x => BigInt(math.floor(x * 1e12).toLong))
        .foldLeft(BigInt(0))(_ + _)
      // replicate the engine's algebra exactly: integer total → one
      // long→double rounding → IEEE division (NOT an unlimited-
      // precision rational divided at the end)
      total.toDouble / 1e12
    }
    // unit-scale doubles with full mantissas (embedding-product-like)
    val rnd = new scala.util.Random(13)
    (0 until 6).foreach { i =>
      val xs = List.fill(500)((rnd.nextDouble() - 0.5) * 4.0)
      val parts = 1 + (i % 7)
      val got = xs.toDF("x").repartition(parts)
        .agg(graft.functions.fsum12(col("x")).as("s")).head.getDouble(0)
      val want = exactFsum12(xs)
      assert(got == want, s"fsum12=$got exact=$want parts=$parts sample=$i")
      val shuffled = rnd.shuffle(xs).toDF("x").repartition(5)
        .agg(graft.functions.fsum12(col("x"))).head.getDouble(0)
      assert(shuffled == got, "fsum12 not permutation-invariant")
    }
  }

  test("KMV sketch content is partitioning-invariant (merge = union+trim)") {
    import graft.plans.KmvSketch
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(3000)(rnd.nextLong().abs % 100000)
    val sketches = (1 to 6).map { p =>
      xs.toDF("x").repartition(p)
        .agg(KmvSketch.kmv_sketch(col("x"), 64).as("s"))
        .head.getSeq[Long](0).toList
    }
    assert(sketches.distinct.size == 1, "sketch content varied with partitioning")
    assert(sketches.head.size == 64)
    assert(sketches.head == sketches.head.sorted)
  }

  test("rolling decimal moments (q22) are stable across shuffle-partition settings") {
    // the sliding-frame sums must not depend on how the pre-window
    // exchange partitioned the bars
    val dir = "/root/testdata/sf0.001"
    def run(parts: String) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try Registry.queries("q22_bollinger")(spark, dir).collect().toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(run("2") == run("13"))
  }

  test("pagerank's decimal contribution sums are partitioning-invariant") {
    val dir = "/root/testdata/sf0.001"
    def run(parts: String) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try Registry.queries("graph_pagerank")(spark, dir).collect().toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(run("2") == run("11"))
  }

  test("t-digest error bound holds under adversarial partitionings") {
    // the t-digest ESTIMATE is partition-order-dependent (inherent to
    // the sketch — why q25 is rows-only); the pinned contract is that
    // the rank-error BOUND holds under ANY partitioning, and that
    // total weight is exact. Feed a skewed distribution (heavy ties +
    // a long tail) through 1, 3 and 32 partitions.
    import graft.plans.TDigestSketch.tdigest_quantiles
    val xs = samples(1).head.map(math.abs) // 200 money-like values
    val sorted = xs.sorted
    val n = xs.length
    for (parts <- Seq(1, 3, 32)) {
      val qs = xs.toDF("x").repartition(parts)
        .agg(tdigest_quantiles(col("x"), 100, Seq(0.0, 0.5, 0.99, 1.0)).as("q"))
        .head.getSeq[Double](0)
      assert(qs(0) == sorted.head, s"min not exact under parts=$parts")
      assert(qs(3) == sorted.last, s"max not exact under parts=$parts")
      for ((p, i) <- Seq((0.5, 1), (0.99, 2))) {
        val rank = sorted.count(_ <= qs(i))
        val target = math.ceil(p * n).toLong
        assert(math.abs(rank - target) <= math.max(2L, n / 25),
          s"p$p: ${qs(i)} rank $rank vs $target under parts=$parts")
      }
    }
  }

  test("plain double sum is NOT order-stable (why dsum exists)") {
    // documents that the naive approach can differ across
    // partitionings on adversarial data; dsum never may (above).
    val xs = Seq.fill(1000)(0.1) ++ Seq(1e15, -1e15)
    val sums = (1 to 6).map { p =>
      xs.toDF("x").repartition(p).agg(sum(col("x"))).head.getDouble(0)
    }
    val dsums = (1 to 6).map { p =>
      xs.toDF("x").repartition(p).agg(dsum(col("x"), 4, 1)).head.getDouble(0)
    }
    assert(dsums.distinct.size == 1, s"dsum unstable: $dsums")
    info(s"plain sums across partitionings: ${sums.distinct.size} distinct value(s)")
  }
}
