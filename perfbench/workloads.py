"""The benchmark's workloads. Each is a closed loop with one client: the
next op is issued only after the previous one returned, and every op's
output is checked against what the generator says it must be.

A workload exposes `setup()` (repeated by the harness; the last call's
state is the one the ops run against), `op()` returning
`{"rows": input rows, "ok": output matched}` plus workload-specific
counts for the tracer, and `close()`.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from gdal_vfr_spark import driver
from gdal_vfr_spark.geo import cells, tiles
from gdal_vfr_spark.geo.pip import PIPJoiner
from perfbench.gen import TILE_PREFIX_RES


def _load_json(path: str):
    with open(path) as f:
        return json.load(f)


class PipTiles:
    """Read the seeded pages, PIP-join them to the densified obce, add
    the Z-order tile key, count pages per (obec_kod, tile_prefix) and
    collect the small result (the north-star path)."""

    name = "pip_tiles"

    def __init__(self, spark, inputs: str, scratch: str):
        self.spark = spark
        self.pages_path = os.path.join(inputs, "pages")
        self.obce_path = os.path.join(inputs, "obce")
        exp = _load_json(os.path.join(inputs, "expected.json"))
        self.n_pages = exp["n_pages"]
        self.expected = [tuple(r) for r in exp["counts"]]
        self.joiner = None

    def setup(self) -> None:
        obce = self.spark.read.parquet(self.obce_path)
        self.joiner = PIPJoiner(
            obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod"
        )

    def has_next(self) -> bool:
        return True

    def _pages(self):
        return self.spark.read.parquet(self.pages_path)

    def op(self) -> dict:
        keyed = tiles.with_tile_key(self.joiner.apply(self._pages()), res=tiles.DEFAULT_TILE_RES)
        rows = (
            keyed.groupBy(
                "obec_kod",
                tiles.tile_prefix_expr("tile_key", TILE_PREFIX_RES).alias("tile_prefix"),
            )
            .agg(F.count("*").alias("n_pages"))
            .collect()
        )
        got = sorted((r["obec_kod"], r["tile_prefix"], r["n_pages"]) for r in rows)
        return {
            "rows": self.n_pages,
            "ok": got == self.expected,
            "hits": sum(r[2] for r in got),
        }

    def prefixes(self) -> dict:
        """The op's plan cut after its scan, after cell encoding and
        after the PIP join, each to be materialized on its own."""
        pages = self._pages()
        return {
            "scan": lambda: pages.select("lon", "lat"),
            "cells": lambda: cells.with_cell(
                pages.select("lon", "lat"), self.joiner.res, out_col="__cell"
            ),
            "pip": lambda: self.joiner.apply(pages.select("lon", "lat")),
        }

    def close(self) -> None:
        pass


class DailyUpdate:
    """Import a multi-layer warehouse through `driver.run_batches`
    (write mode, partitionBy fan-out), then apply the seed's fixed
    sequence of `*_ST_ZKSH` change batches one `run_batches` call per
    op."""

    name = "daily_update"

    def __init__(self, spark, inputs: str, scratch: str):
        self.spark = spark
        self.import_path = os.path.join(inputs, "import")
        self.batch_dir = os.path.join(inputs, "batches")
        exp = _load_json(os.path.join(inputs, "expected.json"))
        self.initial_counts = exp["initial_counts"]
        self.expected = exp["batches"]
        self.scratch = scratch
        self.warehouse = None
        self.next_batch = 0
        self._imports = 0

    def setup(self) -> None:
        """Import into a fresh warehouse; every run's ops start from this
        same imported state."""
        if self.warehouse is not None:
            shutil.rmtree(self.warehouse, ignore_errors=True)
        self._imports += 1
        self.warehouse = os.path.join(self.scratch, f"warehouse_{self._imports}")
        stats = driver.run_batches(
            self.spark, [("20240101_ST_UKSH", self.spark.read.parquet(self.import_path))],
            self.warehouse,
        )
        if stats.layer_counts != self.initial_counts:
            raise RuntimeError(
                f"import produced {stats.layer_counts}, expected {self.initial_counts}"
            )
        self.next_batch = 0

    def batch_path(self, b: int) -> str:
        return os.path.join(self.batch_dir, f"b{b:03d}.parquet")

    def has_next(self) -> bool:
        return self.next_batch < len(self.expected)

    def op(self) -> dict:
        b = self.next_batch
        self.next_batch += 1
        exp = self.expected[b]
        batch_id = exp["batch_id"]
        stats = driver.run_batches(
            self.spark, [(batch_id, self.spark.read.parquet(self.batch_path(b)))], self.warehouse
        )
        want = {(batch_id, layer): t for layer, t in exp["tallies"].items()}
        return {
            "rows": sum(n for t in exp["tallies"].values() for n in t.values()),
            "ok": stats.tallies == want and stats.layer_counts == exp["layer_counts"],
            "batch_seconds": sum(stats.batch_seconds.values()),
            "batch_bytes": os.path.getsize(self.batch_path(b)),
        }

    def close(self) -> None:
        if self.warehouse is not None:
            shutil.rmtree(self.warehouse, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PipTiles, DailyUpdate)}
