"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Checks that:
- BENCHMARK.json names exactly the workloads and metrics the code emits;
- the numpy page generator reproduces `datagen.gen_webpages_sql`
  (coordinates, ground truth and tile prefixes) at the lowest and the
  highest seed-shifted id range;
- an untraced run prints every end-to-end metric with its unit, with
  every op correct;
- each workload's output check fails on a deliberately wrong expected
  value;
- a traced run prints every per-layer metric with its unit, and its
  exact counts repeat across two traced runs of the same seed;
- the command fails fast, printing no result, in a directory holding
  only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402

SEED = 7
# per-layer metrics that are counts of work, which must repeat exactly
EXACT = [
    "session.jobs_per_op", "session.tasks_per_op", "session.sql_execs_per_op",
    "scan.bytes_read", "scan.files_read", "geo.pip.broadcast_mb",
    "geo.pip.candidate_rows", "geo.pip.hit_ratio", "geo.tiles.shuffle_bytes",
]
# daily_update reads files that its own earlier merges wrote, in a row
# order Spark does not fix, so its byte counts vary by a little
INEXACT = {"daily_update": {"scan.bytes_read"}}


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def run_cmd(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "2", "--trace", str(trace), "--size", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def check_manifest() -> list[str]:
    from perfbench.trace import PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check([(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END,
          "BENCHMARK.json end_to_end matches the metrics run.py emits")
    check([(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER,
          "BENCHMARK.json per_layer matches the metrics trace.py emits")
    with open(os.path.join(HERE, "RATIONALE.md")) as f:
        rationale = f.read()
    check(all(f"`{n}`" in rationale for n, _ in PER_LAYER),
          "RATIONALE.md maps every per-layer metric")
    return [w["name"] for w in bench["workloads"]]


class _ShiftedRange:
    """Stand-in session whose `range(n)` starts at `start`."""

    def __init__(self, spark, start: int):
        self._spark = spark
        self._start = start

    def range(self, n: int):
        return self._spark.range(self._start, self._start + n)


def check_pages_match_datagen(spark, n: int = 20_000) -> None:
    import numpy as np
    from gdal_vfr_spark import datagen
    from gdal_vfr_spark.geo import tiles
    from perfbench import gen

    for seed in (0, gen.SEED_SPACE - 1):
        start = seed * gen.ID_STRIDE
        want = (
            datagen.gen_webpages_sql(_ShiftedRange(spark, start), n)
            .select(
                "lon", "lat", "truth_obec_kod", "truth_tile_key",
                tiles.tile_prefix_expr("truth_tile_key", gen.TILE_PREFIX_RES).alias("prefix"),
            )
            .toPandas()
        )
        got = gen.webpages(start, n)
        same = all(
            np.array_equal(want[c].to_numpy(float), got[c], equal_nan=True)
            for c in ("lon", "lat")
        ) and all(
            np.array_equal(want[c].to_numpy(), got[c])
            for c in ("truth_obec_kod", "truth_tile_key")
        ) and np.array_equal(want["prefix"].to_numpy(), gen._tile_prefix(got["truth_tile_key"]))
        check(same, f"numpy pages equal datagen.gen_webpages_sql from id {start}")


def check_wrong_expected_fails() -> None:
    """Each workload's check, fed a deliberately wrong expected value,
    must report the op as wrong."""
    from perfbench.run import ensure_inputs
    from perfbench.workloads import WORKLOADS

    common.pin_environment()
    inputs = {w: ensure_inputs(w, SEED, "toy") for w in WORKLOADS}
    scratch = os.path.join(common.WORK, "runs", f"selftest_{os.getpid()}")
    spark = common.start_session("perfbench_selftest")
    try:
        check_pages_match_datagen(spark)
        pip = WORKLOADS["pip_tiles"](spark, inputs["pip_tiles"], scratch)
        pip.setup()
        check(pip.op()["ok"], "pip_tiles op matches its expected table")
        obec, prefix, n = pip.expected[0]
        pip.expected[0] = (obec, prefix, n + 1)
        check(not pip.op()["ok"], "pip_tiles check fails on a wrong expected count")

        daily = WORKLOADS["daily_update"](spark, inputs["daily_update"], scratch)
        daily.setup()
        check(daily.op()["ok"], "daily_update op matches its expected tallies and sizes")
        daily.expected[1]["tallies"]["parcely"]["update"] += 1
        check(not daily.op()["ok"], "daily_update check fails on a wrong expected tally")
        daily.setup()
        daily.expected[0]["layer_counts"]["parcely"] += 1
        check(not daily.op()["ok"], "daily_update check fails on a wrong expected layer size")
        daily.close()
    finally:
        common.stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def check_runs(workloads: list[str]) -> None:
    from perfbench.trace import PER_LAYER

    for w in workloads:
        rc, out = run_cmd(w, 0)
        check(rc == 0, f"{w}: untraced run exits 0")
        res, info = json.loads(out[-1]), json.loads(out[-2])["perfbench"]
        check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
              f"{w}: every op correct")
        check(info["error_rate"] == 0.0, f"{w}: error_rate 0")
        check({k: v["unit"] for k, v in res["metrics"].items()} == dict(END_TO_END),
              f"{w}: every end-to-end metric printed with its unit")
        traced = []
        for _ in range(2):
            rc, out = run_cmd(w, 1)
            check(rc == 0, f"{w}: traced run exits 0")
            traced.append(json.loads(out[-1])["metrics"])
        check({k: v["unit"] for k, v in traced[0].items()} == dict(PER_LAYER),
              f"{w}: every per-layer metric printed with its unit")
        differ = [
            k for k in EXACT
            if k not in INEXACT.get(w, ()) and traced[0][k]["value"] != traced[1][k]["value"]
        ]
        check(not differ, f"{w}: exact counts repeat across two traced runs {differ}")


def check_bare_directory() -> None:
    bare = os.path.join(common.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = run_cmd("pip_tiles", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and not out, "fails without a result outside a full checkout")


def main() -> int:
    workloads = check_manifest()
    check_bare_directory()
    check_wrong_expected_fails()
    check_runs(workloads)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
