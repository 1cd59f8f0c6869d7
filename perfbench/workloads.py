"""The two workloads. Each runs one client in a closed loop over input
sets made from the seed: a seen set and FRESH_PASSES fresh ones.

- Set-up ends with an untimed warm-up pass over the seen set: the first
  queries of the JVM, which pay for class loading and most of the JIT
  compilation, and on `analytics` build the seen set's memoized artifacts.
- Timed warm passes over the seen set follow, as many as `--seconds` sets
  (see `warm_passes`).
- Then one timed pass over each fresh set, which the session has not
  seen: on `analytics` each builds the memoized artifacts anew. These
  come last so that the JIT compiler, which keeps working through the
  early passes, has settled by then.

Timings are kept in memory as records and turned into metrics when the
run ends."""
import os
import shutil
import time

import duckdb
from py4j.protocol import Py4JJavaError

from . import checks, datagen
from .session import is_stack_overflow
from .stats import median

SECONDS_PER_WARM_PASS = 10
MIN_WARM = 2
WARMUP = 0  # the pass id of the warm-up pass; timed passes follow from 1
FRESH_PASSES = 2
FRESH_SEED_OFFSET = 1 << 32  # fresh set k is made from seed + k * this


def warm_passes(seconds):
    """One warm pass for every SECONDS_PER_WARM_PASS of `--seconds`, at
    least MIN_WARM. The count depends on the argument alone, never on how
    fast the program runs: a pass's cost depends on its index, because
    the JIT compiler keeps working through the early passes, so metrics
    taken over different passes would not compare."""
    return max(MIN_WARM, int(seconds // SECONDS_PER_WARM_PASS))


# The analytics mix, in a fixed order. Read-side market ops over `events`
# (an ETL view and a rolling window); then corpus ops, with the builder of
# the memoized MinHash signatures (dedup_minhash) before the two ops that
# read them (dedup_gate, dedup_minhash_est). ann_bruteforce_topk is the
# exact ANN op checked against numpy. A seed-shuffled order of the market
# ops made a pass's figure depend on which of them came first.
MARKET_OPS = ["etl_normalize_klines", "q22_bollinger"]
CORPUS_OPS = ["ann_bruteforce_topk", "dedup_minhash", "dedup_gate", "dedup_minhash_est"]

NAMED_OPS = ["q22_bollinger", "etl_normalize_klines", "dedup_minhash_est"]


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, g, work, seed, seconds):
        self.g, self.work, self.seed = g, work, seed
        self.warm = list(range(WARMUP + 1, WARMUP + 1 + warm_passes(seconds)))
        self.fresh = list(range(self.warm[-1] + 1, self.warm[-1] + 1 + FRESH_PASSES))
        self.data = {kind: os.path.join(work, "data", kind) for kind in self.seeds()}
        for d in self.data.values():
            os.makedirs(d)
        self.records = []  # (pass, op, construct_s, plan_s, execute_s, cpu_s, jit_cpu_s)
        self.errors = []
        self.attempted = 0
        self.failed = 0
        self.timed_start = None
        self.gc_s = {}  # pass -> JVM GC seconds during it
        self.facts = {}
        self.con = duckdb.connect()

    def seeds(self):
        """{input set: seed}."""
        return dict([("seen", self.seed)] + [(f"fresh{k}", self.seed + k * FRESH_SEED_OFFSET)
                                             for k in range(1, FRESH_PASSES + 1)])

    def input_set(self, i):
        """The input set pass i runs over."""
        return f"fresh{self.fresh.index(i) + 1}" if i in self.fresh else "seen"

    def op(self, i, name, sink):
        self.attempted += 1
        data = self.data[self.input_set(i)]
        self.records.append((i, name) + self.g.run_op(name, data, f"{i}|{name}", sink))

    def call(self, i, name, thunk):
        """A non-registry call (ETL), timed whole as its execute phase;
        a call that raises is timed too."""
        self.attempted += 1
        t0, cpu = time.perf_counter(), self.g.cpu_seconds()
        try:
            return self.g.tagged(f"{i}|{name}|execute", thunk)[0]
        finally:
            self.records.append((i, name, 0.0, 0.0, time.perf_counter() - t0)
                                + tuple(b - a for a, b in zip(cpu, self.g.cpu_seconds())))

    def loop(self, run_pass):
        run_pass(WARMUP)
        self.setup_cpu_s = self.g.setup_cpu_seconds()
        self.timed_start = time.perf_counter()
        for i in self.warm + self.fresh:
            gc0 = self.g.gc_seconds()
            run_pass(i)
            self.gc_s[i] = self.g.gc_seconds() - gc0
        self.facts["heap_mb"] = self.g.retained_heap_mb()
        self.facts["cached_mb"] = self.g.cached_mb()

    def out(self, *parts):
        return os.path.join(self.work, "out", *parts)


def analytics(r):
    x = {}
    for kind, seed in r.seeds().items():
        data = r.data[kind]
        datagen.write_events(os.path.join(data, "events.parquet"), seed)
        datagen.write_documents(os.path.join(data, "documents.parquet"), seed)
        x[kind] = datagen.write_embeddings(os.path.join(data, "embeddings.parquet"), seed)

    def label(i):
        return "warmup" if i == WARMUP else "warm" if i in r.warm else r.input_set(i)

    def run_pass(i):
        for name in MARKET_OPS + CORPUS_OPS:
            r.op(i, name, r.g.parquet_to(r.out(label(i), name)))

    r.loop(run_pass)
    # every op against its oracle on every input set; the warm passes
    # against the warm-up pass; the exact ANN op against numpy
    for kind in r.seeds():
        first = "warmup" if kind == "seen" else kind
        for n in ("events", "documents", "embeddings"):
            p = os.path.join(r.data[kind], f"{n}.parquet")
            r.con.execute(f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM read_parquet('{p}')")
        for name in MARKET_OPS + CORPUS_OPS:
            r.errors += checks.oracle(r.con, f"{name} ({first} pass)",
                                      r.g.oracles.apply(name), r.out(first, name))
        r.errors += checks.ann_exact(r.con, f"ann_bruteforce_topk ({first} pass)",
                                     r.out(first, "ann_bruteforce_topk"), x[kind])
    for name in MARKET_OPS + CORPUS_OPS:
        r.errors += checks.same_output(r.con, f"{name} warm-up vs last warm pass",
                                       r.out("warmup", name), r.out("warm", name))


class EtlInputs:
    """A trades CSV lake, its narrow change batch and the answer keys."""

    def __init__(self, data, seed):
        self.csv_root = os.path.join(data, "csv")
        self.lake = datagen.write_trades_lake(self.csv_root, seed)
        self.narrow = datagen.narrow_batch(self.lake, seed)
        self.narrow_path = os.path.join(data, "narrow.parquet")
        datagen.write_changes(self.narrow_path, self.narrow)
        self.after_narrow = datagen.replay(self.lake.rows, self.narrow)
        self.touched = checks.batch_partitions(self.narrow)


def etl_ingest(r):
    inputs = {kind: EtlInputs(r.data[kind], seed) for kind, seed in r.seeds().items()}
    wide = datagen.wide_batch()
    wide_path = os.path.join(r.work, "data", "wide.parquet")
    datagen.write_changes(wide_path, wide)

    def run_pass(i):
        inp = inputs[r.input_set(i)]
        out = r.out(f"lake{i}")
        shutil.rmtree(r.out(f"lake{i - 1}"), ignore_errors=True)
        r.call(i, "etl_load", lambda: r.g.etl_run(inp.csv_root, out))
        r.errors += checks.etl_load(r.con, out, inp.lake)
        loaded = checks.data_files(out)
        r.facts["files_written"] = len(loaded)
        r.facts["lake_bytes"] = sum(b for b, _ in loaded.values())
        r.facts["stored_rows"] = len(inp.lake.rows)
        r.call(i, "cdc_narrow", lambda: r.g.cdc_apply(out, inp.narrow_path))
        merged = checks.data_files(out)
        r.errors += checks.etl_merge(r.con, out, inp.after_narrow, loaded, merged,
                                    inp.touched)
        new = {p: v for p, v in merged.items() if loaded.get(p) != v}
        r.facts["cdc_files_rewritten"] = len(new)
        r.facts["cdc_bytes_rewritten"] = sum(b for b, _ in new.values())
        r.facts["cdc_partitions_touched"] = len(
            {checks.partition_of(p) for p in set(new) | (set(loaded) - set(merged))})
        try:
            r.call(i, "cdc_wide", lambda: r.g.cdc_apply(out, wide_path))
        except Py4JJavaError as e:
            # the known overflow; any other failure is a fault of its own.
            # Either way the batch must leave the lake untouched.
            r.failed += 1
            if not is_stack_overflow(e):
                r.errors.append(f"wide merge: {str(e.java_exception)[:300]}")
            r.errors += checks.lake_unchanged("failed wide merge", merged,
                                              checks.data_files(out))
        else:
            r.errors += checks.etl_merge(r.con, out, datagen.replay(inp.after_narrow, wide),
                                         merged, checks.data_files(out),
                                         checks.batch_partitions(wide))

    r.loop(run_pass)
    r.facts["csv_rows"] = inputs["seen"].lake.csv_rows


WORKLOADS = {
    "etl_ingest": (etl_ingest, ["etl_load", "cdc_narrow"]),
    "analytics": (analytics, MARKET_OPS + CORPUS_OPS),
}


# --- metrics ----------------------------------------------------------------

def wall(rec):
    return rec[2] + rec[3] + rec[4]


def cpu(rec):
    return rec[5]


def pass_totals(r, timed_ops, of):
    """{pass: the sum of of(record) over the timed ops}."""
    totals = {}
    for rec in r.records:
        if rec[1] in timed_ops:
            totals[rec[0]] = totals.get(rec[0], 0.0) + of(rec)
    return totals


def end_to_end(r, timed_ops):
    cpus = pass_totals(r, timed_ops, cpu)
    return {
        "setup_s": (r.setup_cpu_s, "s"),
        "fresh_pass_cpu_s": (median([cpus[i] for i in r.fresh]), "s"),
        "warm_pass_cpu_s": (median([cpus[i] for i in r.warm]), "s"),
        "retained_heap_mb": (r.facts["heap_mb"], "MB"),
    }


def per_layer(r, timed_ops, spans, start_s, setup_wall_s):
    walls = pass_totals(r, timed_ops, wall)

    def per_pass(fn):
        """Median over the warm passes of fn(pass)."""
        return median([fn(i) for i in r.warm])

    def phase_sum(i, idx, ops=timed_ops):
        return sum(rec[idx] for rec in r.records if rec[0] == i and rec[1] in ops)

    def span_sum(i, key, phase=None, ops=timed_ops):
        total = 0
        for g, s in spans.items():
            parts = g.split("|")
            if (len(parts) == 3 and parts[0] == str(i) and parts[1] in ops
                    and (phase is None or parts[2] == phase)):
                total += s[key]
        return total

    build = set(timed_ops) & r.g.build_state
    m = {
        "setup.wall_s": (setup_wall_s, "s"),
        "session.start_s": (start_s, "s"),
        "pass.fresh_wall_s": (median([walls[i] for i in r.fresh]), "s"),
        "pass.warm_wall_s": (per_pass(lambda i: walls[i]), "s"),
        "construct.s": (per_pass(lambda i: phase_sum(i, 2)), "s"),
        "construct.jobs": (per_pass(lambda i: span_sum(i, "jobs", "construct")), "count"),
        "plan.s": (per_pass(lambda i: phase_sum(i, 3)), "s"),
        "execute.s": (per_pass(lambda i: phase_sum(i, 4)), "s"),
        "execute.jobs": (per_pass(lambda i: span_sum(i, "jobs", "execute")), "count"),
        "execute.stages": (per_pass(lambda i: span_sum(i, "stages", "execute")), "count"),
        "execute.tasks": (per_pass(lambda i: span_sum(i, "tasks", "execute")), "count"),
        "spark.task_s": (per_pass(lambda i: span_sum(i, "task_s")), "s"),
        "spark.cpu_s": (per_pass(lambda i: span_sum(i, "cpu_s")), "s"),
        "spark.busy_ratio": (per_pass(
            lambda i: span_sum(i, "task_s") / (r.g.cores * walls[i])), "ratio"),
        "spark.input_mb": (per_pass(lambda i: span_sum(i, "input_b") / 1e6), "MB"),
        "spark.shuffle_write_mb": (per_pass(lambda i: span_sum(i, "shuffle_write_b") / 1e6), "MB"),
        "spark.shuffle_read_mb": (per_pass(lambda i: span_sum(i, "shuffle_read_b") / 1e6), "MB"),
        "spark.spill_mb": (per_pass(lambda i: span_sum(i, "spill_b") / 1e6), "MB"),
        "build.fresh_construct_s": (median([phase_sum(i, 2, build) for i in r.fresh]), "s"),
        "build.warm_construct_s": (per_pass(lambda i: phase_sum(i, 2, build)), "s"),
        "build.fresh_jobs": (median([span_sum(i, "jobs", ops=build) for i in r.fresh]), "count"),
        "build.warm_jobs": (per_pass(lambda i: span_sum(i, "jobs", ops=build)), "count"),
        "build.cached_mb": (r.facts["cached_mb"], "MB"),
        "jvm.gc_s": (per_pass(lambda i: r.gc_s[i]), "s"),
        "jvm.jit_cpu_s": (per_pass(lambda i: phase_sum(i, 6)), "s"),
    }
    f = r.facts
    load_s = per_pass(lambda i: phase_sum(i, 4, {"etl_load"})) if "csv_rows" in f else 0.0
    m.update({
        "etl.write_s": (load_s, "s"),
        "etl.load_rows_per_s": (f["csv_rows"] / load_s if load_s else 0.0, "rows/s"),
        "etl.files_written": (f.get("files_written", 0), "count"),
        "etl.csv_mb_read": (per_pass(lambda i: span_sum(i, "input_b", ops={"etl_load"}) / 1e6),
                            "MB"),
        "etl.lake_bytes_per_row": (f["lake_bytes"] / f["stored_rows"] if load_s else 0.0,
                                   "B/row"),
        "cdc.merge_s": (per_pass(lambda i: phase_sum(i, 4, {"cdc_narrow"})), "s"),
        "cdc.partitions_touched": (f.get("cdc_partitions_touched", 0), "count"),
        "cdc.files_rewritten": (f.get("cdc_files_rewritten", 0), "count"),
        "cdc.mb_rewritten": (f.get("cdc_bytes_rewritten", 0) / 1e6, "MB"),
        "cdc.wide_attempt_s": (per_pass(lambda i: phase_sum(i, 4, {"cdc_wide"})), "s"),
    })
    for name in NAMED_OPS:
        m[f"op.{name}.construct_s"] = (per_pass(lambda i: phase_sum(i, 2, {name})), "s")
        m[f"op.{name}.jobs"] = (per_pass(lambda i: span_sum(i, "jobs", ops={name})), "count")
    return m
