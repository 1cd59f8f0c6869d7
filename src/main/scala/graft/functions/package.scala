package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared column builders.
  *
  * Determinism strategy (see SURVEY.md §4): double measures are cast
  * *per row* into DECIMAL, summed exactly (associative →
  * partition-order independent), rounded in the decimal domain, and
  * surfaced as double. Three rules make this bit-identical between
  * Spark and the DuckDB oracle:
  *  - `castScale` must STRICTLY EXCEED the data's true decimal
  *    precision (e.g. 6 for 2dp×2dp products): the per-row cast then
  *    recovers the exact decimal value in both engines — Spark uses
  *    exact BigDecimal rounding while DuckDB multiplies by 10^s in
  *    floating point, and the two disagree on values that sit at a
  *    rounding boundary, which a too-small scale guarantees.
  *  - the final ROUND happens on the *identical* exact decimal sum, so
  *    even ties break the same way (both engines round half away from
  *    zero on decimals).
  *  - the rounded scale-2 result stays below 2^53/100, so the
  *    decimal→double conversion is a single correct rounding in both.
  */
package object functions {

  /** Exact, order-independent sum of a double measure with `castScale`
    * > data precision, reported at cents precision. */
  def dsum(c: Column, castScale: Int = 4, outScale: Int = 2): Column =
    round(sum(c.cast(DecimalType(38, castScale))), outScale).cast(DoubleType)

  /** SQL-side twin of [[dsum]] for DuckDB oracles. */
  def dsumSql(expr: String, castScale: Int = 4, outScale: Int = 2): String =
    s"CAST(ROUND(SUM(CAST($expr AS DECIMAL(38,$castScale))), $outScale) AS DOUBLE)"

  /** Round a double to 6 places with pure IEEE arithmetic —
    * floor(x·1e6 + 0.5)/1e6 — so both engines compute bit-identical
    * results even at exact decimal ties. `ROUND(double, 6)` is NOT
    * engine-portable: Spark rounds the exact binary expansion
    * (BigDecimal HALF_UP) while DuckDB rounds x·1e6 in floating point,
    * and quotients with power-of-two denominators (pv/32 trades) land
    * exactly on …5 at the 7th digit where the two disagree. */
  def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  def round6Sql(e: String): String = s"floor(($e) * 1e6 + 0.5) / 1e6"

  /** num/den on already-deterministic doubles; null when den = 0. */
  def ratio(num: Column, den: Column): Column =
    round6(num / when(den =!= 0.0, den))

  def ratioSql(num: String, den: String): String =
    round6Sql(s"$num / NULLIF($den, 0)")

  /** Portable 32-bit integer hash of a string column: the integer
    * value of the first 8 md5 hex chars. THE engine-portable hash
    * family (sampling, bucketing, mixing, fingerprints): DuckDB
    * oracles mirror it as `CAST(('0x' || substr(md5(x),1,8)) AS
    * BIGINT)`; chars 9-16 give an independent second half when 64 bits
    * are needed without BIGINT bit-63 sign wrap. */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** Portable 60-bit hash (first 15 md5 hex chars): the wide member of
    * the family for NDV-style uses where 32-bit birthday collisions
    * (~n²/2³³) would visibly undercount — 60 bits keeps the expected
    * collision mass below 2⁻²⁹ even at 2¹⁶ distinct keys while still
    * fitting a signed BIGINT in both engines (no bit-63 sign wrap). */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** DuckDB twin of [[h60]]. */
  def h60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** Exact, order-independent sum of a double measure in FIXED-POINT
    * long arithmetic — the corpus-scale alternative to a
    * DECIMAL(38,12) sum, which costs ~30× a double sum (measured on
    * embedding_pca's 8.2M-term moment pass: every term pays a
    * BigDecimal allocation). Each term quantizes by floor to 1e-12
    * and splits into hi = ⌊c·1e6⌋ and lo = ⌊c·1e12⌋ − hi·1e6 ∈
    * [0, 1e6); both long sums are order-free exact and codegen'd,
    * reconstructed once per GROUP. floor on doubles is
    * IEEE-deterministic and engine-portable ([[fsum12Sql]] replays the
    * identical algebra; DuckDB's CAST(double AS BIGINT) rounds, so the
    * SQL twin wraps every cast in floor). Domain: |term| < ~9e3 (so
    * ⌊c·1e12⌋ stays under 2^53 and is exactly long-representable) and
    * per-group term count × max|term| × 1e6 ≪ 2^63 (~10^12 unit-scale
    * terms per group) — both far above anything in this repo.
    * Semantics note: the quantization is floor at 1e-12 where the
    * decimal form rounds HALF_UP at 1e-12 — equally defensible, not
    * interchangeable; an op switching forms must switch its oracle. */
  def fsum12(c: Column): Column =
    (sum(floor(c * lit(1e6))) * lit(1000000L)
      + sum(floor(c * lit(1e12)) - floor(c * lit(1e6)) * lit(1000000L)))
      .cast(DoubleType) / lit(1e12)

  /** DuckDB twin of [[fsum12]]. */
  def fsum12Sql(e: String): String =
    s"(CAST(sum(CAST(floor(($e) * 1e6) AS BIGINT)) * 1000000" +
      s" + sum(CAST(floor(($e) * 1e12) AS BIGINT)" +
      s" - CAST(floor(($e) * 1e6) AS BIGINT) * 1000000) AS DOUBLE) / 1e12)"

  /** `spark.graft.explainFull=true` (set by PlanDump only —
    * never a production path): [[memoize]] skips its checkpoint and the
    * build-state store ([[graft.etl.TableStats.build]]) neither serves
    * nor stores frames, so `.explain` shows the full operator tree
    * instead of a checkpoint scan, and PlanDump never eagerly executes
    * a heavy derivation just to print a plan. The one reader of that
    * conf. */
  private[graft] def explainFull(s: org.apache.spark.sql.SparkSession): Boolean =
    s.conf.getOption("spark.graft.explainFull").contains("true")

  /** Materializes a frame with `localCheckpoint`, or returns it as it
    * is under [[explainFull]]. Two uses:
    *  - in-op memoization of a multi-consumer derived stream (SURVEY
    *    §5: AQE does not collapse identical derivation branches, so a
    *    frame feeding N consumers re-runs its derivation N times
    *    without materialization);
    *  - checkpoint-before-sort (round-12 convention): a final global
    *    `.orderBy`'s range partitioner SAMPLES its child, re-executing
    *    the whole upstream subtree (measured exactly 2× on
    *    dedup_editdist) — when the pre-sort set is small (filter
    *    survivors, threshold hits), materialize it first. */
  def memoize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (explainFull(df.sparkSession)) df
    else df.localCheckpoint()

  /** Frees the blocks behind a `localCheckpoint()`ed frame, or behind
    * every checkpoint a frame's plan reads (a projection of one, say).
    * A checkpoint is a `LogicalRDD` leaf of `queryExecution.logical`;
    * `Dataset.unpersist` only clears cache-manager entries and never
    * reaches that RDD, so without this its blocks live as long as the
    * SparkContext. A frame that reads no checkpoint is left as it is. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Logical-plan re-root over an already-persisted frame: wraps the
    * frame's RDD in a fresh `LogicalRDD` leaf so downstream plans
    * embed ONE node instead of the full upstream tree. `persist()`
    * alone does NOT truncate the logical plan — an unrolled DP whose
    * round j joins rounds j-1..j-4 (uniViterbi) grows analyzed plan
    * trees tetranacci-fast even though the DATA is cached, and the
    * driver dies in analysis before touching data (the r15 streaming
    * unigram OOM). The re-rooted frame still reads the cache: its RDD
    * executes the persisted frame's physical plan, which the cache
    * manager serves as an InMemoryTableScan. Callers keep the ORIGINAL
    * frame for deterministic per-batch `unpersist` bookkeeping.
    * Re-rooted at the InternalRow layer (LogicalRDD over
    * `queryExecution.toRdd`, the localCheckpoint plan shape): the
    * earlier `createDataFrame(p.rdd, p.schema)` form deserialized
    * every cached InternalRow to an external Row and re-encoded it on
    * each downstream execution — per-micro-batch serde on every
    * memoized frame of the three streaming segmenters. */
  def reroot(p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftInternalRows.reroot(p)

  /** Construct independent DataFrame subtrees CONCURRENTLY (r17,
    * guide §2.6 "overlap independent jobs"): an op composed of
    * several independent serve/apply paths pays each path's eager
    * work (build-cache population, localCheckpoint materializations)
    * strictly sequentially when constructed inline, while most cores
    * idle in each path's job tails. Results are unchanged — each
    * thunk builds the same plan it would inline; only wall-clock
    * overlaps. Exceptions propagate to the caller. */
  def inParallel[T](thunks: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 6))
    try {
      val fs = thunks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = t()
      }))
      // unwrap ExecutionException so callers see the thunk's own
      // exception type, exactly as the former sequential code threw it
      fs.map(f => try f.get() catch {
        case ee: java.util.concurrent.ExecutionException =>
          fs.foreach(_.cancel(true))
          throw ee.getCause
      })
    } finally pool.shutdown()
  }

  /** Calendar validity incl. leap years — the reference's DQ predicate
    * (glue_spark_trades_etl.py:135-171) as one codegen'd boolean. */
  def validCalendar(y: Column, m: Column, d: Column): Column = {
    val leap = ((y % 4 === 0) && (y % 100 =!= 0)) || (y % 400 === 0)
    (d >= 1) && (
      (m.isin(1, 3, 5, 7, 8, 10, 12) && d <= 31) ||
      (m.isin(4, 6, 9, 11) && d <= 30) ||
      ((m === 2) && when(leap, d <= 29).otherwise(d <= 28)))
  }

  /** SQL twin of [[validCalendar]]. */
  def validCalendarSql(y: String, m: String, d: String): String =
    s"""($d >= 1 AND (
       |  ($m IN (1,3,5,7,8,10,12) AND $d <= 31) OR
       |  ($m IN (4,6,9,11) AND $d <= 30) OR
       |  ($m = 2 AND CASE WHEN (($y % 4 = 0 AND $y % 100 <> 0) OR $y % 400 = 0)
       |              THEN $d <= 29 ELSE $d <= 28 END)))""".stripMargin
}
