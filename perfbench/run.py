"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 10 --trace 0

Run it from the root of a countrymaam_spark checkout. The first run writes
the base inputs under ``.bench_build/perfbench/data`` (a fixed seed; later
runs reuse them); ``--seed`` drives the queries, appended batches and
operation order. Spark runs on ``local[N]`` with N = the usable cores.

``--trace 0`` prints every end-to-end metric of ``BENCHMARK.json``.
``--trace 1`` runs with Spark's event log on and one job group per
operation and prints every per-layer metric of ``BENCHMARK.json``. It
writes every per-layer figure the run recorded, and the per-operation
record, to ``.bench_build/perfbench/trace/<workload>-seed<seed>.json``.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


class Context:
    """What a workload sees: the session, its inputs, the recorder, and the
    closed-loop clock (timed operation time, not wall time between them)."""

    def __init__(self, spark, root, paths, seed, seconds, trace, t0):
        from harness import Recorder, RssSampler

        self.spark, self.root, self.paths = spark, root, paths
        self.seed, self.seconds, self.trace, self.t0 = seed, seconds, trace, t0
        self.rec = Recorder(spark)
        self.rss = RssSampler(spark)
        self.setup_s = None
        self.extra: dict[str, float] = {}  # run-level per-layer figures

    def scratch(self, name: str) -> str:
        from harness import work_dir

        d = os.path.join(work_dir(self.root), "runs", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def mark_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t0

    def keep_going(self, ops: list, min_ops: int) -> bool:
        return len(ops) < min_ops or sum(op["wall_s"] for op in ops) < self.seconds

    def run_op(self, kind: str, body) -> dict:
        """One timed operation. ``body(op)`` makes the calls and returns a
        check to run after the timer stops (or None); an exception or a
        failed check marks the operation failed."""
        op = self.rec.begin(kind)
        check = None
        try:
            check = body(op)
        except Exception:
            op["ok"], op["error"] = False, traceback.format_exc(limit=4)
        self.rec.end()
        if check is not None:
            try:
                ok, msg = check()
            except Exception:
                ok, msg = False, traceback.format_exc(limit=4)
            if not ok:
                op["ok"], op["error"] = False, msg
        self.rss.sample()
        if not op["ok"]:
            print(f"FAILED {op['id']} {kind}: {op['error']}", file=sys.stderr)
        return op


# Operations that build state or warm up: timed into setup_s, not counted
# as attempted, and left out of the per-operation medians.
UNTIMED = ("setup", "warmup")


def per_layer(ctx, spec, session_s: float, folded: dict, cores: int) -> dict:
    """Per-layer metrics: each layer's time per operation, then the median
    over the operations that made that call; ``*_batches`` counts are summed
    over the run; ``spark.*`` come from the event log, one record per
    operation, then the median. Set-up calls count only in their own
    ``*_s`` figures (the set-up layers). Returns every figure the run
    recorded; BENCHMARK.json lists the ones the listed workloads produce."""
    from harness import median, task_skew

    vals = defaultdict(list)
    for op in ctx.rec.ops:
        if op["kind"] == "warmup":
            continue
        for layer, s in op["layers"].items():
            vals[layer + "_s"].append(s)
        for name, v in op["counts"].items():
            vals[name].append(v)
        r = folded.get(op["id"])
        if r is None or op["kind"] in UNTIMED:
            continue
        for key in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                    "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "exchanges"):
            vals["spark." + key].append(r[key])
        vals["spark.driver_serial_s"].append(op["wall_s"] - r["executor_run_s"] / cores)
        if op["kind"].startswith("knn_hot"):
            vals["spark.task_skew"].append(task_skew(r))
    vals["session.start_s"] = [session_s]
    for name, v in ctx.extra.items():
        vals[name] = [v]
    names = sorted(set(vals) | {m["name"] for m in spec["per_layer"]})
    return {n: float(sum(vals[n])) if n.endswith("_batches") else median(vals[n])
            for n in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "countrymaam_spark", "__init__.py")):
        print("error: run from the root of a countrymaam_spark checkout", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.seed < 0:
        print("error: --seed must be >= 0", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    from harness import ensure_data, event_log_path, fold_event_log, start_session, \
        stop_session, work_dir
    from workloads import MEANING, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    paths = ensure_data(root)
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(root, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    ctx = Context(spark, root, paths, args.seed, args.seconds, bool(args.trace), t0)
    try:
        e2e = WORKLOADS[args.workload](ctx)
        e2e["setup_s"] = ctx.setup_s
        e2e["peak_rss_mb"] = ctx.rss.peak_mb()
        log_path = event_log_path(spark)
    finally:
        stop_session(spark)

    ops = [op for op in ctx.rec.ops if op["kind"] not in UNTIMED]
    failed = sum(1 for op in ops if not op["ok"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"{args.workload} seed={args.seed} cores={cores} operations={len(ops)} "
          f"failed_op_frac={failed / len(ops):.4f}")
    print("  operations: " + ", ".join(f"{op['kind']} {op['wall_s']:.2f}s" for op in ops))
    if args.trace:
        with open(log_path) as f:
            folded = fold_event_log(f)
        layers = per_layer(ctx, spec, session_s, folded, cores)
        metrics = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
        trace_dir = os.path.join(work_dir(root), "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"end_to_end": e2e, "per_layer": layers,
                       "operations": [{**op, "spark": {k: v for k, v in folded.get(op["id"], {})
                                                       .items() if k != "task_run_ms"}}
                                      for op in ctx.rec.ops]}, f, indent=1, default=str)
        for name, v in e2e.items():  # traced end-to-end, for the overhead
            print(f"  traced {name:49s} {v:14.4f} {units[name]}")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    meaning = MEANING[args.workload]
    for name, v in metrics.items():
        label = f"{name} ({meaning[name]})" if name in meaning else name
        print(f"  {label:56s} {v:14.4f} {units[name]}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
