package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.releaseCheckpoint

/** MERGE-style CDC apply over the partitioned lake.
  *
  * A change batch (rows tagged insert/update/delete with a sequence
  * number) is merged into the lake with latest-wins semantics per key:
  * the newest change for a key replaces the stored row ('I'/'U') or
  * removes it ('D'). The reference lake has no in-place merge (Athena
  * over immutable S3 parquet — updates mean rewriting objects); this
  * is that rewrite done surgically.
  *
  * Scale design: only partitions named by the change batch are read or
  * rewritten — the partition filter is pushed into the scan (partition
  * pruning, no full-lake read), the merge itself is one anti-join plus
  * a union, and the write uses dynamic partition overwrite so
  * untouched partitions keep their files byte-for-byte. The
  * deduplicated change frame is `localCheckpoint`ed, so it keeps the
  * width AQE coalesced its shuffle to (one partition for a small
  * batch, ~64 MB each at scale); a cached frame would keep the
  * un-coalesced `initialPartitionNum` width and every later scan of a
  * 30-row batch would run that many tasks. One summary job over it
  * returns the affected partitions and the (upserted, deleted)
  * totals; no count jobs follow the write. Partitions the merge
  * empties are found by listing their directories, not by a job.
  * Change batches are small relative to the lake, so the changed keys
  * broadcast. Re-applying the same batch is a no-op by construction
  * (latest-wins is idempotent).
  *
  * Contract: a key's partition columns are stable across changes (true
  * for trades — trade_id never moves symbol/day); a partition-moving
  * update must be modeled as D + I.
  */
object CdcMerge {

  private val partCols = Seq("year", "month", "day", "symbol")

  /** Latest change per key — the state a key converges to no matter
    * how many times the batch replays. The max_by order key is the
    * full value struct led by seq: two changes with equal seq resolve
    * by comparing the remaining fields, so replay is deterministic
    * even on malformed batches that reuse a sequence number (a bare
    * seq key would let ties resolve by partition order and break the
    * idempotent-replay guarantee). */
  private def latestChanges(changes: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame = {
    val valueCols = changes.columns.filterNot(c => keyCols.contains(c))
    val orderCols = col(seqCol) +: valueCols.filterNot(_ == seqCol).toIndexedSeq.map(col)
    changes.groupBy(keyCols.toIndexedSeq.map(col): _*)
      .agg(max_by(struct(valueCols.toIndexedSeq.map(col): _*), struct(orderCols: _*)).as("v"))
      .select(keyCols.map(col) ++ valueCols.map(c => col(s"v.$c")): _*)
  }

  /** On-disk partition directory for one affected-partition row, with
    * values escaped EXACTLY as Spark's writers escape them (space,
    * ':', '%', … become %XX) — raw string rendering would miss the
    * escaped dirs and the file-surgical path would neither read nor
    * delete the stored rows (silent duplicates). */
  private def partDirOf(r: Row): String =
    partCols.zipWithIndex.map { case (c, i) =>
      s"$c=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(String.valueOf(r.get(i)))
    }.mkString("/")

  /** Planning-time partition predicate for the affected partitions —
    * this reaches the scan as a PartitionFilters entry, so unaffected
    * partitions are never read. */
  private def partitionPredicate(parts: Array[Row]): Column =
    parts.map { r =>
      partCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Applies `changes` to the lake at `lakePath`. `changes` must carry
    * the lake's columns plus `op` ('I'|'U'|'D') and a monotone `seq`.
    * Returns (upserted, deleted) row counts.
    *
    * When the data-skipping sidecar tracks the (single) key column,
    * the merge is FILE-surgical instead of partition-surgical: only
    * the files whose key range may contain a changed key are read and
    * rewritten ([[DataSkipping.pruneRange]] — no false negatives, so
    * every stored row for a changed key is guaranteed to be in the
    * read set), and the other files of the affected partitions stay
    * byte-for-byte. On a z-ordered lake that turns a partition rewrite
    * into a few-file rewrite — the difference between re-writing a
    * 100 GB partition and the 100 MB of files a point-update batch
    * actually touches. The sidecar is then delta-refreshed
    * ([[DataSkipping.refresh]]) so the next batch prunes against the
    * post-merge layout. */
  def apply(spark: SparkSession, lakePath: String, changes: DataFrame,
      keyCols: Seq[String], seqCol: String = "seq"): (Long, Long) = {
    val latest = latestChanges(changes, keyCols, seqCol).localCheckpoint()
    // release on every exit, a merge that throws included
    val counts = try {
      // one job: the affected partitions and each one's
      // (upserted, deleted) count; a null op counts as neither
      val summary = latest.groupBy(partCols.map(col): _*)
        .agg(count(when(col("op") =!= "D", 1)), count(when(col("op") === "D", 1)))
        .collect()
      // empty poll window: no rewrite, no side effects
      if (summary.isEmpty) return (0L, 0L)
      val affected = summary.map(r => Row.fromSeq(r.toSeq.take(partCols.size)))
      val keyRange =
        if (keyCols.sizeIs == 1 && DataSkipping.tracks(spark, lakePath, keyCols.head))
          keyRangeSql(latest, keyCols.head)
        else None
      keyRange match {
        case Some(range) =>
          mergeFiles(spark, lakePath, latest, keyCols, seqCol, affected, range)
        case None =>
          mergePartitions(spark, lakePath, latest, keyCols, seqCol, affected)
      }
      (summary.map(_.getLong(partCols.size)).sum, summary.map(_.getLong(partCols.size + 1)).sum)
    } finally releaseCheckpoint(latest)
    // the merge rewrote files: expire the snapshots it invalidated and
    // commit the new layout, exactly as compaction/retention do
    Snapshots.reSnapshot(spark, lakePath)
    counts
  }

  /** `current` minus every changed key, plus the upserts, laid out by
    * partition and materialized: the rewrite reads the same files it
    * replaces, so the merged rows must leave the source lineage first
    * (this also lifts Spark's read-write-conflict ban). The caller
    * releases the checkpoint. */
  private def mergedRows(current: DataFrame, latest: DataFrame,
      keyCols: Seq[String], seqCol: String): DataFrame = {
    val upserts = latest.filter(col("op") =!= "D").drop("op", seqCol)
    current
      .join(broadcast(latest.select(keyCols.map(col): _*)), keyCols, "left_anti")
      .unionByName(upserts.select(current.columns.toIndexedSeq.map(col): _*))
      .repartition(partCols.map(col): _*)
      .localCheckpoint()
  }

  /** The partition-level rewrite: every affected partition is read
    * whole and dynamically overwritten. */
  private def mergePartitions(spark: SparkSession, lakePath: String,
      latest: DataFrame, keyCols: Seq[String], seqCol: String,
      affected: Array[Row]): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(lakePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(dir: Path): Set[String] = fs.listStatus(dir).map(_.getPath.getName).toSet
    val current = spark.read.parquet(lakePath)
      .filter(partitionPredicate(affected))
    // every existing affected directory's entries, before the write
    val before = affected.map(r => new Path(root, partDirOf(r))).filter(fs.exists(_))
      .map(d => d -> names(d))
    val merged = mergedRows(current, latest, keyCols, seqCol)
    try merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(lakePath)
    finally releaseCheckpoint(merged)
    // dynamic overwrite replaces exactly the partitions present in the
    // output, so a directory that is empty or still holds one of its
    // old entries got no rows: every row of it was deleted
    before.foreach { case (d, old) =>
      if (fs.exists(d) && { val now = names(d); now.isEmpty || now.exists(old) })
        fs.delete(d, true)
    }
    // a partition rewrite orphans any file-level stats describing it
    DataSkipping.invalidate(spark, lakePath)
  }

  /** SQL literals for the batch's key range, for the types the sidecar
    * range probe can render exactly. None → fall back to the partition
    * merge. */
  private def keyRangeSql(latest: DataFrame, key: String): Option[(String, String)] = {
    val r = latest.agg(min(col(key)), max(col(key))).head()
    (r.get(0), r.get(1)) match {
      case (lo: Long, hi: Long)     => Some((DataSkipping.sqlLong(lo), DataSkipping.sqlLong(hi)))
      case (lo: Int, hi: Int)       => Some((s"CAST($lo AS INT)", s"CAST($hi AS INT)"))
      case (lo: String, hi: String) => Some((DataSkipping.sqlString(lo), DataSkipping.sqlString(hi)))
      case _                        => None
    }
  }

  /** The file-level rewrite: read only the key-range survivors inside
    * the affected partitions, rewrite them plus the upserts, leave
    * every other file untouched. The commit is write-temp → delete
    * rewritten → move in. The sidecar is updated in two steps
    * bracketing the file surgery: the touched files' rows are dropped
    * BEFORE any file is deleted (a crash leaves the sidecar honest —
    * the still-on-disk touched files simply read as untracked, i.e.
    * conservatively, on replay), and the new files' rows are added
    * after the move. The delete→move window itself is the
    * no-atomic-rename gap every object-store committer has; the
    * snapshot layer ([[Snapshots.reSnapshot]] at the end of [[apply]])
    * is the recovery line for a crash inside it, exactly as for
    * compaction. */
  private def mergeFiles(spark: SparkSession, lakePath: String,
      latest: DataFrame, keyCols: Seq[String], seqCol: String,
      affected: Array[Row],
      keyRange: (String, String)): Unit = {
    import org.apache.hadoop.fs.Path
    val key = keyCols.head
    val (loSql, hiSql) = keyRange
    val partDirs = affected.map(partDirOf).toSeq
    val root = new Path(lakePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Spark's default hidden-file filter skips both '_' and '.'
    // prefixes; mirror it so checksum/staging files surfaced by the
    // filesystem are never classified as untracked data files
    def dataFiles(p: Path): Seq[Path] =
      fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }.toSeq.flatMap { s =>
        if (s.isDirectory) dataFiles(s.getPath) else Seq(s.getPath)
      }
    // snapshot the sidecar's parameters and tracked set BEFORE any
    // mutation below — the stale-row refresh or step 1 may empty (and
    // so drop) the sidecar, and step 2 must still be able to describe
    // the new layout
    val sidecarParams = DataSkipping.sidecarParams(spark, lakePath)
    val tracked = DataSkipping.trackedPaths(spark, lakePath)
    // a sidecar row naming a file that no longer exists (a crashed
    // earlier surgery's delete→refresh window, pre-hardening) must not
    // reach readPruned — drop it here AND from the sidecar
    val (pruned, stale) = DataSkipping.pruneRange(spark, lakePath, key, loSql, hiSql)
      .filter(f => partDirs.exists(d => f.contains(s"/$d/")))
      .partition(f => fs.exists(new Path(f)))
    if (stale.nonEmpty)
      DataSkipping.refresh(spark, lakePath, removed = stale, added = Seq.empty)
    // the prune's no-false-negatives guarantee covers only files the
    // sidecar DESCRIBES: anything landed in an affected partition
    // after the last ANALYZE (plain appends, streaming sinks) is
    // invisible to the probe and must be read conservatively, or its
    // rows for changed keys would escape the anti-join and duplicate
    val untracked = partDirs
      .map(d => new Path(root, d)).filter(fs.exists(_))
      .flatMap(dataFiles)
      .filterNot(f => tracked(fs.makeQualified(f).toUri.getPath))
      .map(f => fs.makeQualified(f).toString)
    val touched = pruned ++ untracked
    val merged = mergedRows(DataSkipping.readPruned(spark, lakePath, touched),
      latest, keyCols, seqCol)
    val tmp = new Path(root, s"_merge_tmp_${java.util.UUID.randomUUID}")
    try merged.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(tmp.toString)
    finally releaseCheckpoint(merged)
    // step 1: the sidecar stops claiming the files about to die —
    // BEFORE they die, so a crash anywhere below leaves every prune
    // consumer correct (the surviving touched files read as untracked)
    DataSkipping.refresh(spark, lakePath, removed = touched, added = Seq.empty)
    touched.foreach(f => require(fs.delete(new Path(f), false),
      s"CdcMerge: delete $f failed; rewritten rows would duplicate"))
    // move the new data files into their partition dirs
    val tmpQualified = fs.makeQualified(tmp).toString
    val added = dataFiles(tmp).map { f =>
      val rel = fs.makeQualified(f).toString.stripPrefix(tmpQualified + "/")
      val dest = new Path(root, rel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(f, dest),
        s"CdcMerge: rename $f -> $dest failed; merged rows would be lost")
      fs.makeQualified(dest).toString
    }
    fs.delete(tmp, true)
    // an affected partition whose files were all rewritten away and
    // whose merged output is empty is gone — drop its empty dir
    partDirs.foreach { d =>
      val p = new Path(root, d)
      if (fs.exists(p) && dataFiles(p).isEmpty) fs.delete(p, true)
    }
    // step 2: describe the new layout — next batch prunes against it
    // without re-scanning the lake. describe (not refresh) because a
    // touched set covering every tracked file leaves step 1's refresh
    // having DROPPED the emptied sidecar; the pre-surgery parameter
    // snapshot lets this re-create it for the new files
    sidecarParams.foreach { case (cols, bits, k) =>
      DataSkipping.describe(spark, lakePath, added, cols, bits, k)
    }
  }
}
