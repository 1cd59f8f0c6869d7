package graft.etl

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import org.apache.spark.sql.{DataFrame, Dataset, GraftInternalRows, Row, SparkSession}

/** The one build-state store: the shared ANALYZE ledger and every
  * memoized build artifact live here, and nowhere else.
  *
  * Statistics: every corpus-derived capacity in the engine (IVF/SemDeDup
  * k, LSH plane count, pHash chunk width, bloom bucket count — see
  * r32_catalog_stats for the full per-column collection pass) reads its
  * driving cardinality through [[rowCount]], so a statistic is computed
  * ONCE per lake per application and every consumer derives from the
  * same snapshot. At 100 TB this is the catalog's statistics store fed
  * by the nightly ANALYZE job; locally it is a memoized count.
  *
  * Build artifacts: the shingle and MinHash signature tables, the
  * similarity edges and cluster labels, the ANN indexes, the tokenizer
  * builds, the corpus inverted index and the skipping lake — at scale
  * tables written once per corpus snapshot and served to every query.
  *
  * Keying: (applicationId, lake, artifact, params). The application id
  * is stable for the life of a SparkContext and never aliases across
  * restarts (unlike an identity hash, which can be reused after GC).
  * The snapshot semantics are deliberate: an entry reflects the lake at
  * FIRST use within the application — exactly when the index/plan
  * capacity derived from it was fixed — so a capacity and the stat it
  * came from can never silently diverge. Regenerating a lake in-place
  * within one application requires [[invalidate]] (the REFRESH TABLE
  * of this layer).
  */
object TableStats {

  private type Key = (String, String, String, Any)

  /** Each entry is a task run once OUTSIDE the map: builds nest
    * (cluster labels → edges → shingles → row count) and run from
    * `inParallel` threads, and a nested update of one
    * ConcurrentHashMap inside its own `computeIfAbsent` is illegal.
    * A caller that finds the task running waits for its result. */
  private val store = new ConcurrentHashMap[Key, FutureTask[Any]]()

  private def memo(s: SparkSession, lake: String, artifact: String, params: Any)(
      build: => Any): Any = {
    val key = (s.sparkContext.applicationId, lake, artifact, params)
    val slot = store.computeIfAbsent(key, _ => new FutureTask[Any](() => build))
    slot.run()
    try slot.get()
    catch {
      case e: ExecutionException =>
        // a build that throws stores nothing; the next call retries
        store.remove(key, slot)
        throw e.getCause
    }
  }

  /** Memoized value that holds no frame (a statistic, a learned rule
    * table, a lake path): computed at most once per (application,
    * lake, artifact, params) under every conf, PlanDump included. */
  def scalar[V](s: SparkSession, lake: String, artifact: String)(compute: => V): V =
    memo(s, lake, artifact, ())(compute).asInstanceOf[V]

  /** Memoized scalar statistic (row count, key count) for `key` — a
    * string that starts with its lake directory; later calls return
    * the first snapshot. */
  def rowCount(s: SparkSession, key: String)(compute: => Long): Long =
    scalar(s, key, "rowCount")(compute)

  /** Memoized build artifact holding frames: a DataFrame, or a tuple of
    * up to four members of which some are DataFrames. Each frame comes
    * back bound to the caller `s`, so the caller's confs and rules plan
    * every query over it while the materialized blocks are shared.
    * Under `spark.graft.explainFull` the store is bypassed in BOTH
    * directions: a full-tree rebuild is returned without being stored
    * (a PlanDump pass never poisons the store with un-checkpointed
    * trees), and a stored checkpointed entry is never served (plans
    * show real roots instead of `Scan ExistingRDD`). */
  def build[V](s: SparkSession, lake: String, artifact: String, params: Any = ())(
      make: => V): V =
    if (graft.functions.explainFull(s)) make
    else mapFrames(memo(s, lake, artifact, params)(make),
      GraftInternalRows.bindTo(s, _)).asInstanceOf[V]

  /** Drops every entry whose lake starts with `lakePrefix` (typically a
    * lake directory) and releases the checkpointed blocks of the
    * frames they held — the explicit re-ANALYZE for lakes regenerated
    * within one application. Frames a caller still holds from a dropped
    * entry cannot be read again. */
  def invalidate(lakePrefix: String): Unit =
    store.forEach { (key, slot) =>
      if (key._2.startsWith(lakePrefix) && store.remove(key, slot) && slot.isDone)
        scala.util.Try(slot.get()).foreach(mapFrames(_, { df =>
          graft.functions.releaseCheckpoint(df)
          df
        }))
    }

  private def mapFrames(v: Any, f: DataFrame => DataFrame): Any = v match {
    case df: Dataset[Row @unchecked] => f(df)
    case (a, b) => (mapFrames(a, f), mapFrames(b, f))
    case (a, b, c) => (mapFrames(a, f), mapFrames(b, f), mapFrames(c, f))
    case (a, b, c, d) => (mapFrames(a, f), mapFrames(b, f), mapFrames(c, f), mapFrames(d, f))
    case other => other
  }
}
