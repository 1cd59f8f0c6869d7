package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator from SURVEY.md §2: a Spark-first implementation plus
  * (when SQL-expressible) its DuckDB oracle for the driver's
  * correctness gate.
  *
  * `buildState` marks ops whose serve path reads memoized build state
  * (signature/shingle tables, cluster labels, ANN index artifacts, the
  * inverted index, BPE rules, the skipping lake): their FIRST run per
  * (application, lake) pays a one-time maintenance build. Declared
  * here, at the op definition, so a measurement (perfbench's `build.*`
  * metrics) derives its build-state set from the registry instead of a
  * hand-list. */
final case class Op(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    buildState: Boolean = false)

object Registry {
  def ops: Seq[Op] =
    graft.operators.MarketQueries.ops ++
    graft.operators.RelationalQueries.ops ++
    graft.operators.Dedup.ops ++
    graft.operators.Similarity.ops ++
    graft.operators.TextAnalysis.ops ++
    graft.operators.Curation.ops ++
    graft.operators.Multimodal.ops ++
    graft.streaming.BatchEquivalents.ops

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(o => o.name -> o.fn).toMap

  def oracleSql: Map[String, String] =
    ops.flatMap(o => o.oracle.map(o.name -> _)).toMap

  /** Ops whose serve path reads memoized build state — running such an
    * op once fills its build caches, so a measurement pass that wants
    * warm serve times runs each of THESE once per scale first. */
  def buildStateOps: Set[String] =
    ops.filter(_.buildState).map(_.name).toSet
}
