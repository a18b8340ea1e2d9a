"""Batch-run driver — the engine's vfr2ogr/vfr2pg lifecycle
(SURVEY.md §3.4): manifest -> per-batch loop -> mode dispatch ->
write/append/merge -> per-layer summary.

Each reference pass maps 1:1:
  parse_cmd            -> sources.batch_manifest
  download             -> no-op (batches are pre-landed tables)
  run() per-file loop  -> run_batches()
  _convert_vfr         -> ParquetTable.write/append/merge
  print_summary        -> summary() (A1/A6 counts + elapsed)
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from gdal_vfr_spark.operators import merge as M


@dataclass
class RunStats:
    """The reference's summary observables (vfrogr.py:361-383):
    per-layer counts + per-batch elapsed seconds."""

    layer_counts: dict = field(default_factory=dict)
    batch_seconds: dict = field(default_factory=dict)
    tallies: dict = field(default_factory=dict)

    def total_features(self) -> int:
        return sum(self.layer_counts.values())


def run_batches(
    spark,
    batches: list[tuple[str, DataFrame]],
    warehouse: str,
    layer_col: str = "layer",
    key: str = "gml_id",
    append: bool = False,
    overwrite: bool = False,
    layers: list[str] | None = None,
) -> RunStats:
    """Process batches in order (vfrogr.py:934-1025 run() loop): the
    first full batch writes, later ones append (auto-append,
    vfrogr.py:1020-1021); `*_Z*` batches merge. Layer filter = P1."""
    stats = RunStats()
    seen_write = False
    for batch_id, df in batches:
        t0 = time.time()
        mode = M.decide_mode(batch_id, append_flag=append or seen_write)
        if layers:
            df = df.where(F.col(layer_col).isin(layers))
        if mode == M.MODE_CHANGE:
            # merges are per-table transactions over the SMALL daily
            # delta, so a per-layer loop over its distinct layers is the
            # right granularity (the full state is never rescanned here)
            for layer_row in df.select(layer_col).distinct().collect():
                layer = layer_row[0]
                part = df.where(F.col(layer_col) == layer).drop(layer_col)
                table = M.ParquetTable(spark, os.path.join(warehouse, layer))
                stats.tallies[(batch_id, layer)] = table.merge(part, key=key)
        else:
            # write/append: ONE scan fans every layer out via
            # partitionBy, then each partition directory is adopted by
            # rename. Round 1 looped distinct().collect() + a full
            # re-scan per layer — 18 layers = 18x read amplification at
            # 100 TB. partitionBy also drops the layer column from the
            # data files, matching the old .drop(layer_col).
            staging = os.path.join(warehouse, f"__fanout_{uuid.uuid4().hex[:8]}")
            df.write.mode("overwrite").partitionBy(layer_col).parquet(staging)
            try:
                for part_dir in sorted(os.listdir(staging)):
                    if not part_dir.startswith(f"{layer_col}="):
                        continue
                    layer = part_dir.split("=", 1)[1]
                    src = os.path.join(staging, part_dir)
                    table = M.ParquetTable(spark, os.path.join(warehouse, layer))
                    if mode == M.MODE_APPEND:
                        table.append_dir(src)
                    else:
                        table.adopt_dir(src, overwrite=overwrite)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        if mode == M.MODE_WRITE:
            seen_write = True
        stats.batch_seconds[batch_id] = round(time.time() - t0, 3)
    # final per-layer counts (A1)
    for layer in sorted(os.listdir(warehouse)):
        p = os.path.join(warehouse, layer)
        if os.path.isdir(p) and not layer.startswith("_"):
            stats.layer_counts[layer] = spark.read.parquet(p).count()
    return stats


def summary(stats: RunStats) -> str:
    """print_summary analogue (vfrogr.py:361-383)."""
    lines = ["Summary:"]
    for layer, n in stats.layer_counts.items():
        lines.append(f"  {layer:30s} {n:10d} features")
    lines.append(f"  {'TOTAL':30s} {stats.total_features():10d}")
    total_s = sum(stats.batch_seconds.values())
    lines.append(f"Time elapsed: {int(total_s)} sec")
    return "\n".join(lines)
