"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload pip_tiles --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed (in
a separate process, excluded from every metric) and cached under
`.perfbench_work/inputs/`. The run then starts a Spark session with
pinned settings, sets the program up (repeated; median reported),
warms up until op times settle, and issues ops in a closed loop with
one client for `--seconds`, checking each op's output.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). The line before it records the
session settings, the host probe, the load average, every op time and
the error rate.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# (name, unit) of the end-to-end metrics, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"),
    ("py_peak_rss_mb", "MB"),
]
PREFIX_REPEATS = 3


def parse_args(argv=None):
    from perfbench.gen import GENERATORS, SIZES

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full", choices=sorted(SIZES),
                    help="input size profile; 'toy' is for the self-test")
    return ap.parse_args(argv)


def ensure_inputs(workload: str, seed: int, size: str) -> str:
    """The seed's cached inputs, generated first if missing."""
    from perfbench.gen import input_dir

    out = input_dir(workload, size, seed)
    if not os.path.isdir(out):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--size", size, "--out", out],
            check=True, stdout=sys.stderr, timeout=900,
        )
    return out


class Loop:
    """Issues ops one at a time and books their outcome."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0

    def one(self) -> tuple[dict | None, float]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = self.w.op()
        except Exception:
            traceback.print_exc()
            res = None
        dt = time.perf_counter() - t0
        if res is None or not res["ok"]:
            self.failed += 1
        return res, dt

    def measure(self, seconds: float, before=None, after=None) -> tuple[list, list]:
        """Closed loop for `seconds`: (results, op seconds) of the ops
        that completed correctly. `before(i)` / `after(i, res, dt)` wrap
        the i-th op."""
        results, times = [], []
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end and self.w.has_next():
            if before:
                before(i)
            res, dt = self.one()
            if after:
                after(i, res, dt)
            if res is not None and res["ok"]:
                results.append(res)
                times.append(dt)
            i += 1
        return results, times


def run(args, inputs: str, scratch: str) -> tuple[dict, dict]:
    from perfbench import common
    from perfbench.workloads import WORKLOADS

    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer()
        tracer.install()
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "settings": common.settings(), "loadavg_1m": [common.loadavg_1m()]}
    t0 = time.perf_counter()
    spark = common.start_session(f"perfbench_{args.workload}")
    start_s = time.perf_counter() - t0
    try:
        probe = [common.host_probe(spark)]
        w = WORKLOADS[args.workload](spark, inputs, scratch)
        setup_times = []
        for _ in range(common.SETUP_REPEATS):
            t0 = time.perf_counter()
            w.setup()
            setup_times.append(time.perf_counter() - t0)
        loop = Loop(w)
        warm = common.warm_up(loop.one)
        if tracer is None:
            results, times = loop.measure(args.seconds)
        else:
            counters = trace.SparkCounters(spark)
            per_op: list[dict] = []

            def before(i):
                tracer.op_id = f"op{i}"
                counters.begin(tracer.op_id)

            def after(i, res, dt):
                c = counters.end()
                if res is not None and res["ok"]:
                    per_op.append({**c, "op": tracer.op_id, "wall_s": dt})
                tracer.op_id = None

            results, times = loop.measure(args.seconds, before, after)
            _, untraced = loop.measure(args.seconds)
            prefix_s = prefix_timings(w)
        if not times:
            raise RuntimeError("no op completed correctly")
        probe.append(common.host_probe(spark))
        metrics = {
            "setup_s": start_s + statistics.median(setup_times)
            + common.warm_up_excess(warm, statistics.median(times)),
            "rows_per_s": sum(r["rows"] for r in results) / sum(times),
            "op_p50_s": statistics.median(times),
        }
        info.update({
            "start_s": start_s, "setup_repeats_s": setup_times,
            "warmup_op_s": warm, "op_s": times,
            "host_probe_s": probe, "error_rate": loop.failed / loop.attempted,
        })
        if tracer is not None:
            info["end_to_end"] = metrics
            metrics = trace.layer_metrics(
                tracer, per_op, results, prefix_s,
                traced_p50=statistics.median(times),
                untraced_p50=statistics.median(untraced or times),
                probe_s=probe[-1],
                broadcast_index_bytes=len(pickle.dumps(w.joiner.index)) if prefix_s else 0,
            )
            os.makedirs(os.path.join(common.WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(
                common.WORK, "traces", f"{args.workload}_seed{args.seed}_{os.getpid()}.jsonl"))
        w.close()
    finally:
        if tracer is not None:
            tracer.uninstall()
        common.stop_session(spark)
    info["loadavg_1m"].append(common.loadavg_1m())
    return {"attempted": loop.attempted, "failed": loop.failed, "metrics": metrics}, info


def prefix_timings(w) -> dict:
    """Median seconds to materialize (noop sink) each prefix of the
    workload's op plan; empty for a workload without prefixes."""
    if not hasattr(w, "prefixes"):
        return {}
    samples: dict = {}
    for _ in range(PREFIX_REPEATS):
        for name, build in w.prefixes().items():
            t0 = time.perf_counter()
            build().write.mode("overwrite").format("noop").save()
            samples.setdefault(name, []).append(time.perf_counter() - t0)
    return {k: statistics.median(v) for k, v in samples.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gdal_vfr_spark")):
        print("perfbench: no gdal_vfr_spark/ package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    from perfbench import common

    common.pin_environment()
    inputs = ensure_inputs(args.workload, args.seed, args.size)
    scratch = os.path.join(common.WORK, "runs", f"{args.workload}_{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        with common.TreeRSSSampler() as rss:
            result, info = run(args, inputs, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if not args.trace:
        result["metrics"]["py_peak_rss_mb"] = rss.py_peak_bytes / 1e6
    info["tree_peak_rss_mb"] = rss.peak_bytes / 1e6
    if args.trace:
        from perfbench.trace import PER_LAYER as units
    else:
        units = END_TO_END
    units = dict(units)
    print(json.dumps({"perfbench": info}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
