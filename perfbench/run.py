#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <etl_ingest|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the program
with sbt; later runs reuse the build while the sources are unchanged.
The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}};
the line before it echoes the environment the numbers were taken on.
Untraced runs (--trace 0) report the end-to-end metrics, traced runs the
per-layer ones. Inputs are generated from the seed under .perfbench/work
and removed at the end; each run's full record is kept in
.perfbench/results.
"""
import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import build  # noqa: E402


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classes, build_s = build.ensure_built(".")
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    from perfbench import session, workloads
    if a.workload not in workloads.WORKLOADS:
        print(f"[perfbench] unknown workload {a.workload}", file=sys.stderr)
        return 2
    body, timed_ops = workloads.WORKLOADS[a.workload]
    work = os.path.abspath(os.path.join(".perfbench", "work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    g = None
    try:
        t_session = time.perf_counter()
        g = session.Graft(classes, work, cores, bool(a.trace))
        r = workloads.Run(g, work, a.seed, a.seconds)
        t_data = time.perf_counter()
        body(r)
        r.facts["setup"] = {"imports_s": t_session - T0 - build_s, "gateway_s": g.gateway_s,
                            "session_s": g.start_s - g.gateway_s, "registry_s": g.registry_s,
                            "datagen_and_warmup_s": r.timed_start - t_data}
        setup_wall_s = r.timed_start - T0 - build_s
        env = dict(g.environment(), commit=commit(), source_digest=build.source_digest(".")[:16],
                   workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace)
        e2e = workloads.end_to_end(r, timed_ops)
        g.stop()  # flushes the event log
        g = None
        layers = None
        if a.trace:
            spans = session.spark_spans(r.g.eventlog)
            layers = workloads.per_layer(r, timed_ops, spans, r.g.start_s, setup_wall_s)
    finally:
        if g is not None:
            g.stop()
        shutil.rmtree(work, ignore_errors=True)
    for err in r.errors:
        print(f"[perfbench] CHECK FAILED {err}", file=sys.stderr)
    chosen = layers if a.trace else e2e
    result = {"correct": not r.errors, "attempted": r.attempted, "failed": r.failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}
    os.makedirs(os.path.join(".perfbench", "results"), exist_ok=True)
    record = {"environment": env, "end_to_end": e2e, "per_layer": layers,
              "records": r.records, "facts": r.facts, "errors": r.errors, "result": result}
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(".perfbench", "results", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"environment": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
