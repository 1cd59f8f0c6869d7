package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, spec and benchmark opens its
  * session here. Tuned for the local[N] test harness while keeping
  * cluster-honest defaults: AQE on (runtime re-plan / skew handling),
  * shuffle partitions sized to cores (not the 200 default), UTC.
  *
  * It is also the one place a session gets graft's native functions
  * (injected from [[graft.plans.GraftExtensions.functions]], so they
  * resolve from the first query and survive `newSession()`) and the
  * marker-scoped TopK rewrite ([[graft.plans.TopKPerGroup.install]]).
  * A session built elsewhere needs
  * `spark.sql.extensions=graft.plans.GraftExtensions` instead.
  */
object GraftSession {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      // the function table only: injecting the TopK rule through
      // extensions would move it into the operator-optimization batch,
      // ahead of InferWindowGroupLimit, and change the ANN plans
      .withExtensions(e => graft.plans.GraftExtensions.functions.foreach(e.injectFunction))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // shuffles start wide and AQE coalesces to the advisory size:
      // at small SF this lands on ~`cores` partitions anyway, while at
      // 16× data it prevents the per-partition spill a fixed low
      // partition count causes (the cluster-honest setting — partition
      // count tracks data volume, not a constant)
      // width is env-tunable: AQE can only coalesce DOWN from the
      // initial count, so the initial width is the ceiling on how far
      // a big shuffle can spread — on a cluster it should track data
      // volume (the ScaleProbe @build sensitivity run measures this)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", (cores.toInt * 8).toString))
      .config("spark.sql.session.timeZone", "UTC")
      // the test lake's events.ts is parquet TIMESTAMP(NANOS); read it
      // as raw longs session-wide (Tables.events converts to µs NTZ).
      // Set here once — Tables re-sets it defensively for sessions not
      // built by this factory (e.g. the driver's).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the registry holds 90+ distinct plans; the default 100-entry
      // codegen cache evicts every compiled unit between reruns, so
      // repeated queries pay Janino again (measured: dedup_minhash's
      // 64-agg unit ~4 s per recompile, 1.7 s steady state). Executors
      // on a real cluster are long-lived compile-once processes — a
      // roomy cache is the cluster-honest setting. (Static conf: must
      // be set before the SparkContext exists.)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.TopKPerGroup.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
