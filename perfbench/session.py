"""The program under test, driven from outside over PySpark's JVM gateway.

`Graft` starts one JVM with the compiled classes on its class path,
opens the session through `graft.GraftSession.local`, and exposes the
public entry points the workloads call (`Registry.ops`, `MarketEtl.run`,
`CdcMerge.apply`). Every call is tagged with a Spark job group named
after its span, in traced and untraced runs alike; a traced run also
turns on Spark's event log, which `spark_spans` folds back into jobs,
stages, tasks and task metrics per span once the session has stopped.
"""
import glob
import json
import os
import resource
import time

from pyspark import SparkConf
from pyspark.java_gateway import launch_gateway


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names as /proc cuts them


def _ticks(stat):
    """utime + stime of a /proc stat line, in clock ticks."""
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def is_stack_overflow(err):
    """Whether a Py4J error carries a java.lang.StackOverflowError, as the
    error itself or as one of its causes."""
    t = getattr(err, "java_exception", None)
    while t is not None:
        if t.getClass().getName() == "java.lang.StackOverflowError":
            return True
        t = t.getCause()
    return False


class Graft:
    def __init__(self, classes, work, cores, trace):
        t0 = time.perf_counter()
        self.cores = cores
        self.eventlog = os.path.join(work, "eventlog")
        tmp = os.path.join(work, "jvm-tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = SparkConf(loadDefaults=False)
        conf.set("spark.driver.extraClassPath", classes)
        conf.set("spark.driver.memory", "3g")
        # A fixed set of JIT compiler threads, so that `cpu_seconds` can
        # tell their CPU time apart: with dynamic compiler threads, one
        # that exits takes its count out of the per-thread figures.
        conf.set("spark.driver.extraJavaOptions",
                 f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
        conf.set("spark.local.dir", os.path.join(work, "spark-local"))
        conf.set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        conf.set("spark.ui.showConsoleProgress", "false")
        if trace:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.set("spark.eventLog.enabled", "true")
            conf.set("spark.eventLog.compress", "false")
            conf.set("spark.eventLog.rolling.enabled", "false")
            conf.set("spark.eventLog.dir", "file://" + os.path.abspath(self.eventlog))
        for k in ("SPARK_GRAFT_INIT_PARTS", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS"):
            os.environ.pop(k, None)
        self.gateway = launch_gateway(conf)
        self.jvm = self.gateway.jvm
        self.gateway_s = time.perf_counter() - t0
        self.spark = None
        try:
            self.spark = self.jvm.graft.GraftSession.local(str(cores))
            self.sc = self.spark.sparkContext()
            self.start_s = time.perf_counter() - t0
            registry = self.jvm.graft.Registry
            self.fns = registry.queries()
            self.oracles = registry.oracleSql()
            self.build_state = set(
                self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(registry.buildStateOps()))
        except BaseException:
            self.stop()
            raise
        self.registry_s = time.perf_counter() - t0 - self.start_s

    # --- spans -------------------------------------------------------------

    def tagged(self, span, thunk):
        """Runs thunk() with the span as the job group; returns (value, s)."""
        self.sc.setJobGroup(span, span, False)
        t0 = time.perf_counter()
        try:
            return thunk(), time.perf_counter() - t0
        finally:
            self.sc.clearJobGroup()

    def run_op(self, name, data_dir, span, sink):
        """One registry op: construct (the `Op.fn` call), plan
        (`queryExecution.executedPlan`), execute (the sink). Returns the
        three phase times and the JVM CPU seconds the op used outside
        and inside the JIT compiler (see `cpu_seconds`)."""
        fn = self.fns.apply(name)
        cpu = self.cpu_seconds()
        df, c = self.tagged(f"{span}|construct", lambda: fn.apply(self.spark, data_dir))
        _, p = self.tagged(f"{span}|plan", lambda: df.queryExecution().executedPlan())
        _, x = self.tagged(f"{span}|execute", lambda: sink(df))
        return (c, p, x) + tuple(b - a for a, b in zip(cpu, self.cpu_seconds()))

    @staticmethod
    def parquet_to(path):
        return lambda df: df.write().mode("overwrite").parquet(path)

    # --- ETL entry points --------------------------------------------------

    def etl_run(self, csv_root, out):
        self.jvm.graft.etl.MarketEtl.run(self.spark, csv_root, out)

    def cdc_apply(self, lake, changes_path):
        changes = self.spark.read().format("parquet").load(changes_path)
        keys = self.jvm.scala.jdk.javaapi.CollectionConverters.asScala(["trade_id"]).toSeq()
        self.jvm.graft.etl.CdcMerge.apply(self.spark, lake, changes, keys, "seq")

    # --- JVM facts ---------------------------------------------------------

    def cpu_seconds(self):
        """(work, jit): CPU seconds the JVM has used outside its JIT
        compiler threads, and inside them, from /proc. Work counts the
        driver, Spark's tasks, GC and every thread that has exited. Unlike
        wall time it does not grow when the host steals CPU, and it leaves
        out compilation, whose share of a pass depends on how early in
        the JVM's life the pass runs and on how busy the host is."""
        task = f"/proc/{self.gateway.proc.pid}/task"
        jit = 0
        for t in os.listdir(task):
            try:
                with open(f"{task}/{t}/stat") as f:
                    stat = f.read()
            except OSError:  # the thread has exited
                continue
            if stat.split("(", 1)[1].startswith(JIT_THREADS):
                jit += _ticks(stat)
        with open(f"/proc/{self.gateway.proc.pid}/stat") as f:
            total = _ticks(f.read())
        hz = os.sysconf("SC_CLK_TCK")
        return (total - jit) / hz, jit / hz

    def setup_cpu_seconds(self):
        """CPU seconds used so far outside the JIT compiler threads by
        this process, the JVM, and the launcher that spark-submit runs
        before it: the cost of set-up, counted as `cpu_seconds` counts a
        pass's."""
        own = resource.getrusage(resource.RUSAGE_SELF)
        with open(f"/proc/{self.gateway.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        launcher = (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")
        return own.ru_utime + own.ru_stime + launcher + self.cpu_seconds()[0]

    def gc_seconds(self):
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def retained_heap_mb(self):
        rt = self.jvm.java.lang.Runtime.getRuntime()
        for _ in range(2):
            self.jvm.java.lang.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / 1e6

    def cached_mb(self):
        infos = self.sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def environment(self):
        conf = self.spark.conf()
        return {
            "cores": self.cores,
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
                conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"),
            "spark": self.spark.version(),
            "jdk": self.jvm.java.lang.System.getProperty("java.version"),
        }

    def stop(self):
        """Stops the session and the JVM, and waits until the JVM has exited."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.gateway.shutdown()
            proc = getattr(self.gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def spark_spans(eventlog_dir):
    """Folds the event log into {job group: counters}. Jobs count per
    group at job start; stages and tasks count where they ran (a stage
    carries the job group of the job that submitted it)."""
    spans = {}

    def span(group):
        return spans.setdefault(group or "untagged", {
            "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
            "input_b": 0, "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0})

    stage_group = {}
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    span(e.get("Properties", {}).get("spark.jobGroup.id"))["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    info = e["Stage Info"]
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                    span(g)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                    s = span(g)
                    m = e.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    w = m.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_b"] += w.get("Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_b"] += (r.get("Remote Bytes Read", 0)
                                            + r.get("Local Bytes Read", 0))
                    s["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return spans
