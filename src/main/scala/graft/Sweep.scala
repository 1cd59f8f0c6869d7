package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The per-op layer table over the registry: for each op, the seconds,
  * Spark jobs, stages, tasks, executor run time and shuffle bytes of its
  * three layers — construct (the `fn(spark, lake)` call: eager
  * checkpoints, counts, driver loops), plan (`queryExecution.executedPlan`)
  * and execute (the `noop` write, which materializes every output
  * column). Usage:
  *   sbt "runMain graft.Sweep <lake> [op1,op2,...]"
  * `<lake>` is a testdata dir, or `x16` for the ×16 replica of sf0.1
  * (built into target/tmp/scale16 on first use).
  *
  * One untimed pass over the selected ops fills the build state and the
  * `TableStats` ledger, so the measured pass times the serve path, not
  * the once-per-lake maintenance. Each measured phase runs under the job
  * group `sweep|<op>|<phase>`, perfbench's `<pass>|<op>|<phase>`
  * convention. Output: one environment line, then one JSON row per op;
  * an op that throws gets a row with its error and no timings. */
object Sweep {
  val Phases = Seq("construct", "plan", "execute")

  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes)
  }

  /** Folds jobs, stages, tasks, executor run time and shuffle read/write
    * bytes per job group. Events arrive on the listener bus, behind the
    * action that caused them: read [[counters]] only after [[drain]]. */
  final class GroupListener extends SparkListener {
    private val byGroup = new ConcurrentHashMap[String, Counters]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val drained = new CountDownLatch(1)
    private val DrainGroup = "sweep|drain"

    private def groupOf(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    private def add(group: String, c: Counters): Unit =
      if (group != DrainGroup) byGroup.merge(group, c, _ + _)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      if (g == DrainGroup) drained.countDown()
      add(g, Counters(jobs = 1))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = groupOf(e.properties)
      stageGroup.put(e.stageInfo.stageId, g)
      add(g, Counters(stages = 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add(stageGroup.getOrDefault(e.stageId, ""),
        if (m == null) Counters(tasks = 1)
        else Counters(tasks = 1, taskMs = m.executorRunTime,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten))
    }

    /** Blocks until every event posted before this call is delivered
      * (once per listener): the bus delivers in order, so once a marker
      * job's start arrives, every earlier job, stage and task event has
      * been folded. */
    def drain(sc: SparkContext): Unit = {
      sc.setJobGroup(DrainGroup, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    }

    /** Counters of `group`; the empty group holds untagged jobs. */
    def counters(group: String): Counters = byGroup.getOrDefault(group, Counters())
    def groups: Set[String] = { import scala.jdk.CollectionConverters._; byGroup.keySet.asScala.toSet }
  }

  /** One op's measured pass: the seconds of each of [[Phases]] and the
    * wall time around all three, or the error the op threw. */
  final case class OpRun(op: String, phaseS: Seq[Double], wallS: Double,
      error: Option[String])

  /** Runs `fn` once through its three phases, each under its own job group. */
  def measure(spark: SparkSession, lake: String, op: String,
      fn: (SparkSession, String) => DataFrame): OpRun = {
    val sc = spark.sparkContext
    def phase[T](p: String)(body: => T): (T, Double) = {
      sc.setJobGroup(s"sweep|$op|$p", s"$op $p")
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9) finally sc.clearJobGroup()
    }
    val t0 = System.nanoTime()
    try {
      val (df, construct) = phase("construct")(fn(spark, lake))
      val (_, plan) = phase("plan")(df.queryExecution.executedPlan)
      val (_, execute) = phase("execute")(df.write.mode("overwrite").format("noop").save())
      OpRun(op, Seq(construct, plan, execute), (System.nanoTime() - t0) / 1e9, None)
    } catch {
      // a StackOverflowError is one op's plan, not the JVM: row it like any throw
      case e @ (NonFatal(_) | _: StackOverflowError) =>
        OpRun(op, Nil, Double.NaN, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** One op's JSON row: per phase, its seconds and the listener's counters. */
  def render(run: OpRun, listener: GroupListener): String = run.error match {
    case Some(e) => s"""{"op":"${run.op}","error":${Verify.jsonString(e)}}"""
    case None =>
      val phases = Phases.zip(run.phaseS).map { case (p, s) =>
        val c = listener.counters(s"sweep|${run.op}|$p")
        s""""$p":{"s":${r3(s)},"jobs":${c.jobs},"stages":${c.stages},""" +
          s""""tasks":${c.tasks},"task_s":${r3(c.taskMs / 1e3)},""" +
          s""""shuffle_read_mb":${r3(c.shuffleReadBytes / 1e6)},""" +
          s""""shuffle_write_mb":${r3(c.shuffleWriteBytes / 1e6)}}"""
      }
      s"""{"op":"${run.op}","wall_s":${r3(run.wallS)},${phases.mkString(",")}}"""
  }

  /** Each op once through [[measure]], in order, under one drained
    * [[GroupListener]]. */
  def measuredPass(spark: SparkSession, lake: String,
      ops: Seq[(String, (SparkSession, String) => DataFrame)]): (Seq[OpRun], GroupListener) = {
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    try {
      val runs = ops.map { case (n, fn) => measure(spark, lake, n, fn) }
      listener.drain(sc)
      (runs, listener)
    } finally sc.removeSparkListener(listener)
  }

  /** The untimed warm pass, then the measured pass: one rendered row per
    * op, in `ops` order. */
  def sweep(spark: SparkSession, lake: String,
      ops: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    ops.foreach { case (n, fn) => measure(spark, lake, n, fn) }
    val (runs, listener) = measuredPass(spark, lake, ops)
    runs.map(render(_, listener))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Sweep <lake dir | x16> [op1,op2,...]")
    val ops = args.lift(1).fold(Registry.ops.map(o => o.name -> o.fn)) { list =>
      val queries = Registry.queries
      list.split(",").toSeq.map(n => n -> queries.getOrElse(n, sys.error(s"unknown op: $n")))
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val lake = if (args(0) == "x16") ensureReplica(spark, "/root/testdata/sf0.1") else args(0)
    val rows = sweep(spark, lake, ops)
    val conf = spark.conf
    val env = s"""{"env":{"cores":${spark.sparkContext.defaultParallelism},""" +
      s""""shuffle_partitions":${conf.get("spark.sql.shuffle.partitions")},""" +
      s""""aqe_initial_partitions":${
        conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")},""" +
      s""""spark":"${spark.version}","lake":${Verify.jsonString(lake)},"ops":${ops.size}}}"""
    // print after stop: once the context is down no log line can split a row
    spark.stop()
    (env +: rows).foreach(println)
  }

  /** Replicate the sf0.1 tables ×16 into target/tmp (no-op if already
    * built) and return the replica dir. */
  def ensureReplica(spark: SparkSession, src: String): String = {
    val factor = 16
    val dst = s"target/tmp/scale$factor"
    if (!new java.io.File(s"$dst/lineitem.parquet").exists()) {
      val reps = spark.range(factor).withColumnRenamed("id", "rep")
      // Replica tables are written WIDE (32 files): crossJoin preserves
      // the sf0.1 scan's partitioning, and sf0.1's small tables are ONE
      // scan partition — so an un-repartitioned replica is one file =
      // one scan partition, and every narrow chain off it (the IVF
      // build's sample → crossJoin × k centroids, signature
      // derivations) serializes onto a single core. That measures a
      // file-layout artifact, not the plan: a real lake at this volume
      // has files ≫ cores.
      def wwrite(df: DataFrame, path: String): Unit =
        df.repartition(32).write.mode("overwrite").parquet(path)
      // facts: replicate with offset keys so join/group cardinality scales
      wwrite(Tables.events(spark, src).crossJoin(reps)
        .withColumn("event_id", col("event_id") + col("rep") * 100000000L)
        .withColumn("user_id", col("user_id") + col("rep") * 1000000L)
        .drop("rep")
        // ts back to long nanos so the replica reads like the original
        .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000),
        s"$dst/events.parquet")
      wwrite(Tables.lineitem(spark, src).crossJoin(reps)
        .withColumn("l_orderkey", col("l_orderkey") + col("rep") * 100000000L)
        .drop("rep"), s"$dst/lineitem.parquet")
      wwrite(Tables.orders(spark, src).crossJoin(reps)
        .withColumn("o_orderkey", col("o_orderkey") + col("rep") * 100000000L)
        .withColumn("o_custkey", col("o_custkey") + col("rep") * 1000000L)
        .drop("rep"), s"$dst/orders.parquet")
      // dims: pass through unscaled
      for (t <- Seq("supplier", "part", "nation", "region"))
        Tables.table(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      // llm tables scale too, replica-DISTINCT so pair growth stays
      // linear (what real corpus growth looks like): every word gets a
      // replica prefix → no cross-replica shingle/signature collisions,
      // and blocking keys (source, label) are offset per replica.
      wwrite(Tables.table(spark, src, "documents").crossJoin(reps)
        .withColumn("doc_id", col("doc_id") + col("rep") * 1000000L)
        .withColumn("source", concat(col("source"), lit("_r"), col("rep")))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            w => concat(lit("r"), col("rep"), lit("x"), w)), " "))
        .drop("rep"), s"$dst/documents.parquet")
      // replica-DISTINCT like documents: each replica's vectors are
      // circularly rotated by rep positions — within-replica dot
      // products (and so every base-corpus near-dup pair) are exactly
      // preserved, while cross-replica cosines scatter like fresh data.
      // Verbatim replication made every vector a 16-fold exact
      // duplicate, so dedup ops correctly found 256× the pairs and the
      // measurement charged the op for the corpus's pathology.
      wwrite(Tables.table(spark, src, "embeddings").crossJoin(reps)
        .withColumn("vec_id", col("vec_id") + col("rep") * 1000000L)
        .withColumn("label", col("label") + col("rep") * 1000L)
        .withColumn("embedding", expr(
          """transform(sequence(0, size(embedding) - 1),
             |  i -> element_at(embedding,
             |         CAST((i + rep) % size(embedding) AS INT) + 1))""".stripMargin))
        .drop("rep"), s"$dst/embeddings.parquet")
      // customer must cover the scaled custkeys for join semantics
      wwrite(Tables.customer(spark, src).crossJoin(reps)
        .withColumn("c_custkey", col("c_custkey") + col("rep") * 1000000L)
        .drop("rep"), s"$dst/customer.parquet")
    }
    dst
  }
}
