package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.releaseCheckpoint

/** File-level data-skipping index (the lakehouse "stats sidecar").
  *
  * The reference leans on Athena's partition pruning for selectivity
  * (athena_sample_queries.sql:189-193 probes exactly that); a Hive
  * layout only prunes its own partition columns. This module adds the
  * Delta/Iceberg-style complement: one stats row per DATA FILE — row
  * count, per-column min/max, and a small bit-packed bloom filter —
  * so point lookups and range scans on NON-partition columns skip
  * whole files before Spark ever plans a split for them. Z-order
  * clustering ([[LakeMaintenance.zorderCluster]]) is what makes these
  * per-file ranges tight; this index is what turns the tight ranges
  * into skipped I/O at planning time.
  *
  * Scale notes (100 TB):
  *  - ANALYZE is ONE distributed pass over the lake: group by
  *    `_metadata.file_path`, aggregate min/max and the bloom words as
  *    codegen'd `bit_or`s — no collect, no per-file driver loop. The
  *    sidecar is one row per file (~1 M rows for a 100 TB lake of
  *    100 MB files; with the default 1024-bit blooms that is ~130 B
  *    of bloom per tracked column per row — megabytes, not data-scale).
  *  - Pruning evaluates the predicate AGAINST THE SIDECAR (a tiny
  *    parquet table) and collects only the surviving file paths — the
  *    same driver-side footprint split planning already pays for the
  *    file listing, and strictly less of it.
  *  - Skipping is always a superset filter: a surviving file may still
  *    contain no matching rows (bloom false positive, range overlap),
  *    so callers keep the exact predicate on the pruned scan. Dropped
  *    files provably contain no match — min/max are exact bounds and a
  *    bloom has no false negatives — which is what makes the rewrite
  *    semantically transparent (the etl_skipping_scan oracle checks
  *    exactly this: pruned scan == plain SQL over the full table).
  *  - The sidecar describes a specific file layout: any rewrite
  *    (compaction, clustering, retention) invalidates it.
  *    [[LakeMaintenance]] deletes it on every rewrite; re-ANALYZE is
  *    part of the maintenance job, exactly like re-snapshotting.
  */
object DataSkipping {

  val SidecarDir = "_skipping"

  private def sidecarPath(lakeRoot: String) = s"$lakeRoot/$SidecarDir/stats.parquet"

  /** Bloom word columns for `c`: `bits/64` longs per row, each the OR
    * of this row's k hash positions that land in that word. Aggregated
    * with `bit_or` they become the file's packed bloom filter. All
    * codegen'd arithmetic (xxhash64 / pmod / shiftleft); NULL values
    * hash to NULL positions and contribute no bits (a file of NULLs
    * has an empty bloom, and min/max are NULL — any non-NULL probe
    * correctly drops it). */
  private def bloomWordSql(c: String, w: Int, bits: Int, k: Int): String =
    (0 until k).map { j =>
      val p = s"pmod(xxhash64(`$c`, $j), $bits)"
      s"IF($p div 64 = $w, shiftleft(CAST(1 AS BIGINT), CAST($p % 64 AS INT)), CAST(0 AS BIGINT))"
    }.mkString("(", " | ", ")")

  /** One bit-test per hash: does the packed bloom in `bf_c` claim
    * `valueSql` (a SQL literal rendered to the COLUMN'S exact type —
    * xxhash64 is type-sensitive, so an INT literal probing a BIGINT
    * column would hash differently and always miss)? Combined with the
    * min/max band this is the full equality-prune condition. */
  private def eqCondSql(c: String, valueSql: String, bits: Int, k: Int): String = {
    val bloom = (0 until k).map { j =>
      val p = s"pmod(xxhash64($valueSql, $j), $bits)"
      s"(element_at(`bf_$c`, CAST($p div 64 AS INT) + 1) & " +
        s"shiftleft(CAST(1 AS BIGINT), CAST($p % 64 AS INT))) <> 0"
    }.mkString(" AND ")
    s"$bloom AND `mn_$c` <= $valueSql AND `mx_$c` >= $valueSql"
  }

  /** The per-file stats aggregation over an arbitrary slice of the
    * lake — shared by the full [[analyze]] and the incremental
    * [[refresh]] so both produce bit-identical sidecar rows. */
  private def statsFor(slice: DataFrame, cols: Seq[String],
      bits: Int, k: Int): DataFrame = {
    val words = bits / 64
    var df = slice.select(col("*"), col("_metadata.file_path").as("__file"))
    for (c <- cols; w <- 0 until words)
      df = df.withColumn(s"__w_${c}_$w", expr(bloomWordSql(c, w, bits, k)))
    val aggs =
      cols.flatMap { c =>
        Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
          array((0 until words).map(w => expr(s"bit_or(`__w_${c}_$w`)")): _*).as(s"bf_$c"))
      } :+ count(lit(1L)).as("n_rows")
    df.groupBy(col("__file").as("file_path"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bloom_bits", lit(bits))
      .withColumn("bloom_hashes", lit(k))
  }

  /** Builds (overwrites) the stats sidecar for `lakeRoot`, tracking
    * `cols`. One distributed aggregation; returns the file count. */
  def analyze(spark: SparkSession, lakeRoot: String, cols: Seq[String],
      bits: Int = 1024, k: Int = 3): Long = {
    require(bits % 64 == 0 && bits > 0, s"bits must be a positive multiple of 64: $bits")
    val stats = statsFor(spark.read.parquet(lakeRoot), cols, bits, k)
      // the sidecar must not appear inside its own lake listing: write
      // it under an underscore-prefixed dir (Spark/Hadoop ignore those)
      .localCheckpoint()
    try {
      val n = stats.count()
      stats.coalesce(1).write.mode(SaveMode.Overwrite).parquet(sidecarPath(lakeRoot))
      n
    } finally releaseCheckpoint(stats)
  }

  /** True iff the sidecar exists and tracks column `c`. */
  def tracks(spark: SparkSession, lakeRoot: String, c: String): Boolean =
    hasStats(spark, lakeRoot) && stats(spark, lakeRoot).columns.contains(s"mn_$c")

  /** (tracked columns, bloom bits, bloom hashes) of the live sidecar —
    * None when absent or empty. Callers doing file surgery snapshot
    * this BEFORE mutating, so [[describe]] can re-create the sidecar
    * even if the surgery's removals emptied (and so dropped) it. */
  def sidecarParams(spark: SparkSession, lakeRoot: String): Option[(Seq[String], Int, Int)] = {
    if (!hasStats(spark, lakeRoot)) return None
    val cur = stats(spark, lakeRoot)
    val params = cur.select("bloom_bits", "bloom_hashes").head(1)
    if (params.isEmpty) None
    else Some((cur.columns.filter(_.startsWith("mn_")).map(_.stripPrefix("mn_")).toSeq,
      params(0).getInt(0), params(0).getInt(1)))
  }

  /** Appends stats rows for `added` files, CREATING the sidecar if it
    * no longer exists — the second half of a file surgery whose
    * removals covered every previously-tracked file (refresh drops an
    * emptied sidecar; without this the new layout would stay
    * undescribed until a full re-ANALYZE). Params come from the
    * caller's pre-surgery [[sidecarParams]] snapshot. */
  def describe(spark: SparkSession, lakeRoot: String, added: Seq[String],
      cols: Seq[String], bits: Int, k: Int): Unit = {
    if (added.isEmpty) return
    val newStats = statsFor(
      spark.read.option("basePath", lakeRoot).parquet(added: _*), cols, bits, k)
    val combined =
      if (hasStats(spark, lakeRoot)) stats(spark, lakeRoot).unionByName(newStats)
      else newStats
    val materialized = combined.localCheckpoint()
    try materialized.coalesce(1).write.mode(SaveMode.Overwrite).parquet(sidecarPath(lakeRoot))
    finally releaseCheckpoint(materialized)
  }

  /** Folds a file-level rewrite into the sidecar WITHOUT re-scanning
    * the lake: stats rows for `removed` files are dropped and freshly
    * computed rows for `added` files are appended — the delta ANALYZE
    * a per-batch merge needs (a full re-ANALYZE per CDC batch would
    * read 100 TB to describe a few new files). No-op when no sidecar
    * exists. Paths in `removed` must be in the sidecar's own
    * `file_path` rendering (i.e. came out of a prune call). */
  def refresh(spark: SparkSession, lakeRoot: String,
      removed: Seq[String], added: Seq[String]): Unit = {
    if (!hasStats(spark, lakeRoot)) return
    val cur = stats(spark, lakeRoot)
    val params = cur.select("bloom_bits", "bloom_hashes").head(1)
    if (params.isEmpty) { invalidate(spark, lakeRoot); return } // legacy empty sidecar
    val (bits, k) = (params(0).getInt(0), params(0).getInt(1))
    val cols = cur.columns.filter(_.startsWith("mn_")).map(_.stripPrefix("mn_")).toSeq
    val kept =
      if (removed.isEmpty) cur
      else {
        // left_anti against a DataFrame of removed paths, not an
        // isin literal list — a surgery touching thousands of files
        // would otherwise embed one literal per file in the plan and
        // can hit codegen/expression-tree limits
        import spark.implicits._
        cur.join(removed.toDF("file_path"), Seq("file_path"), "left_anti")
      }
    val next =
      if (added.isEmpty) kept
      else kept.unionByName(statsFor(
        spark.read.option("basePath", lakeRoot).parquet(added: _*), cols, bits, k))
    val materialized = next.localCheckpoint() // outlive the overwrite below
    try {
      if (materialized.isEmpty)
        // a rewrite that removed every indexed file leaves nothing to
        // describe — an empty sidecar is indistinguishable from a
        // corrupt one to probes, so drop it (re-ANALYZE is maintenance)
        invalidate(spark, lakeRoot)
      else
        materialized.coalesce(1).write.mode(SaveMode.Overwrite).parquet(sidecarPath(lakeRoot))
    } finally releaseCheckpoint(materialized)
  }

  /** Fragmentation targets selected from the sidecar ALONE: (partition
    * dir, its tracked files' sidecar paths) for every directory whose
    * TRACKED file count exceeds `maxFiles`. One small-parquet read —
    * no lake listing, no data-file I/O (at 100 TB an object-store LIST
    * over every partition is itself a big job, and the sidecar already
    * describes the layout). Files landed after the last ANALYZE are
    * invisible here, so selection is a lower bound — a partition is
    * only ever picked because tracked files genuinely fragment it, and
    * the next ANALYZE surfaces the rest. Paths are the sidecar's own
    * `file_path` rendering, directly consumable by
    * [[refresh]](removed = ...). */
  def fragmentedDirs(spark: SparkSession, lakeRoot: String,
      maxFiles: Int): Seq[(String, Seq[String])] =
    if (!hasStats(spark, lakeRoot)) Seq.empty
    else stats(spark, lakeRoot).select("file_path").collect()
      .map(_.getString(0))
      .groupBy(p => p.substring(0, p.lastIndexOf('/')))
      .collect { case (d, files) if files.length > maxFiles => (d, files.toSeq) }
      .toSeq.sortBy(_._1)

  def hasStats(spark: SparkSession, lakeRoot: String): Boolean = {
    val p = new Path(sidecarPath(lakeRoot))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Deletes the sidecar (called by every layout rewrite — the stats
    * reference files that no longer exist after one). */
  def invalidate(spark: SparkSession, lakeRoot: String): Unit = {
    val p = new Path(s"$lakeRoot/$SidecarDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def stats(spark: SparkSession, lakeRoot: String): DataFrame =
    spark.read.parquet(sidecarPath(lakeRoot))

  /** URI paths (scheme-independent `/a/b/c` form) of every file the
    * sidecar describes. Pruning guarantees hold ONLY for these files —
    * a file written after the last ANALYZE is invisible to the probes,
    * and a caller relying on no-false-negatives must treat any
    * untracked file as a survivor (see CdcMerge.mergeFiles). */
  def trackedPaths(spark: SparkSession, lakeRoot: String): Set[String] =
    stats(spark, lakeRoot).select("file_path").collect()
      .map(r => new Path(r.getString(0)).toUri.getPath).toSet

  private def survivors(spark: SparkSession, lakeRoot: String, cond: String): Seq[String] =
    stats(spark, lakeRoot).filter(expr(cond))
      .select("file_path").collect().map(_.getString(0)).toSeq.sorted

  /** Files that may contain rows with `c` in [lo, hi] (min/max band
    * overlap). Everything dropped provably has no row in the range. */
  def pruneRange(spark: SparkSession, lakeRoot: String, c: String,
      loSql: String, hiSql: String): Seq[String] =
    survivors(spark, lakeRoot, s"NOT (`mx_$c` < $loSql OR `mn_$c` > $hiSql)")

  /** Files whose bloom + min/max admit `c = valueSql` (point lookup).
    * `valueSql` must render to the column's exact type — see
    * [[eqCondSql]]; use [[sqlLong]] / [[sqlString]]. */
  def pruneEq(spark: SparkSession, lakeRoot: String, c: String,
      valueSql: String): Seq[String] = {
    val params = stats(spark, lakeRoot).select("bloom_bits", "bloom_hashes").head(1)
    if (params.isEmpty) Seq.empty // no files described ⇒ nothing survives
    else survivors(spark, lakeRoot,
      eqCondSql(c, valueSql, params(0).getInt(0), params(0).getInt(1)))
  }

  /** Renders a point-lookup literal for a BIGINT column. */
  def sqlLong(v: Long): String = s"CAST($v AS BIGINT)"

  /** Renders a point-lookup literal for a STRING column. */
  def sqlString(v: String): String = "'" + v.replace("'", "''") + "'"

  /** The pruned scan: only the surviving files, with the lake's
    * partition columns preserved via basePath. Callers re-apply the
    * exact predicate — file skipping is a superset filter. */
  def readPruned(spark: SparkSession, lakeRoot: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.read.parquet(lakeRoot).limit(0)
    else
      spark.read.option("basePath", lakeRoot).parquet(files: _*)
}
