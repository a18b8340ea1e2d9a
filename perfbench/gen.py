"""Seeded input generation, cached on disk per (workload, size, seed).

Generation is numpy and pyarrow only (no JVM) and runs in its own
process, so a run that has to generate its inputs starts its measured
session exactly as cold, and with the same Python heap, as a run that
finds them cached. The measured program reads only the files written
here.

    python3 perfbench/gen.py --workload pip_tiles --seed 3 --size full --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

SIZES = {
    # pip_tiles: pages per op. daily_update: rows per warehouse layer,
    # change rows per batch and per touched layer, batches per sequence.
    "full": {
        "pages": 4_000_000,
        "layers": {"parcely": 300_000, "stavebniobjekty": 50_000, "adresnimista": 50_000},
        "batch": {"parcely": 4_000},
        "n_batches": 40,
    },
    "toy": {
        "pages": 200_000,
        "layers": {"parcely": 20_000, "stavebniobjekty": 8_000, "adresnimista": 5_000},
        "batch": {"parcely": 300},
        "n_batches": 12,
    },
}
LAYER_CODES = {"parcely": "PA", "stavebniobjekty": "SO", "adresnimista": "AD"}
# seed -> first page id; not a multiple of the generator's 5000-row
# coordinate period, so every seed shifts ids against coordinates
ID_STRIDE = 1_000_003
# Any integer is a valid --seed; the inputs are built from its residue
# modulo SEED_SPACE. That keeps the first page id below 1e12, so the
# generator's `id * 104729` coordinate hash stays inside a long (Spark
# runs with ANSI overflow checks), and gives numpy a non-negative seed.
SEED_SPACE = 1_000_000
TILE_PREFIX_RES = 6
OBCE_DENSIFY = 64


def seed_key(seed: int) -> int:
    """The non-negative seed the inputs are generated from."""
    return seed % SEED_SPACE


def input_dir(workload: str, size: str, seed: int) -> str:
    return os.path.join(common.WORK, "inputs", workload, size, f"seed_{seed_key(seed)}")


def webpages(start: int, n: int) -> dict:
    """Pages `start .. start + n - 1` exactly as `datagen.gen_webpages_sql`
    builds them from `spark.range(start, start + n)`: the same integer
    hashes and the same floating-point expressions in the same order,
    evaluated in numpy so that generation needs no JVM (the self-test
    compares the two). Returns the id, lon/lat (NaN where the geotag is
    null) and the ground-truth obec kod and tile key (-1 where null)."""
    import numpy as np

    from gdal_vfr_spark import datagen
    from gdal_vfr_spark.geo import cells

    i = np.arange(start, start + n, dtype=np.int64)
    u1 = (2 * ((i * 7919) % 5000) + 1).astype(np.float64) / 10000.0
    u2 = (2 * ((i * 104729) % 5000) + 1).astype(np.float64) / 10000.0
    hot = i % 4 == 0
    h = float(datagen.GRID // 2)
    lon0, lat0 = datagen.LON0, datagen.LAT0
    lon = np.where(
        hot, lon0 + (h + 0.375 + u1 * 0.25) * datagen._dx(), lon0 + u1 * (datagen.LON1 - lon0)
    )
    lat = np.where(
        hot, lat0 + (h + 0.375 + u2 * 0.25) * datagen._dy(), lat0 + u2 * (datagen.LAT1 - lat0)
    )
    null = i % 20 == 7
    lon[null] = np.nan
    lat[null] = np.nan
    obec = np.where(null, -1, datagen.truth_obec(np.nan_to_num(lon), np.nan_to_num(lat)))
    return {
        "id": i,
        "lon": lon,
        "lat": lat,
        "truth_obec_kod": obec.astype(np.int64),
        "truth_tile_key": cells.cell_encode(lon, lat, datagen.TILE_RES),
    }


def _tile_prefix(tile_key):
    """numpy twin of `tiles.tile_prefix_expr(tile_key, TILE_PREFIX_RES)`."""
    import numpy as np

    from gdal_vfr_spark.geo import tiles

    shift = 2 * (tiles.DEFAULT_TILE_RES - TILE_PREFIX_RES)
    prefix = (((tile_key >> 5) >> shift) << 5) | TILE_PREFIX_RES
    return np.where(tile_key < 0, -1, prefix)


def gen_pip_tiles(out: str, seed: int, size: str) -> None:
    """Pages (url, lang, lon, lat; the op reads lon/lat) over a
    seed-shifted id range, the densified obce, and the expected
    (obec_kod, tile_prefix) -> pages table computed from the pages'
    ground truth."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from gdal_vfr_spark import datagen

    n = SIZES[size]["pages"]
    p = webpages(seed * ID_STRIDE, n)
    null = np.isnan(p["lon"])
    lang = pa.DictionaryArray.from_arrays(
        pa.array(p["id"] % 4, pa.int32()), pa.array(["cs", "cs", "en", "de"])
    )
    pages = pa.table({
        "url": pc.binary_join_element_wise(
            "https://example.cz/p/", pc.cast(pa.array(p["id"]), pa.string()), ""
        ),
        "lang": lang,
        "lon": pa.array(p["lon"], mask=null),
        "lat": pa.array(p["lat"], mask=null),
    })
    os.makedirs(os.path.join(out, "pages"))
    # two files of one row group each, like a two-task Spark write
    half = (n + 1) // 2
    for k in range(2):
        part = pages.slice(k * half, half)
        pq.write_table(part, os.path.join(out, "pages", f"part-{k:05d}.parquet"),
                       row_group_size=max(1, part.num_rows))

    ok = ~null
    obec = p["truth_obec_kod"][ok]
    prefix = _tile_prefix(p["truth_tile_key"][ok])
    keys, counts = np.unique(obec * (1 << 32) + prefix, return_counts=True)
    truth = sorted(
        [int(k >> 32), int(k & 0xFFFFFFFF), int(c)] for k, c in zip(keys, counts)
    )

    obce = datagen.gen_obce_pdf(seed, densify=OBCE_DENSIFY)
    for c in ("plati_od", "plati_do"):
        obce[c] = obce[c].dt.tz_localize("UTC")
    os.makedirs(os.path.join(out, "obce"))
    pq.write_table(
        pa.Table.from_pandas(obce, schema=_obce_schema(), preserve_index=False),
        os.path.join(out, "obce", "part-00000.parquet"),
    )
    _write_json(os.path.join(out, "expected.json"), {"n_pages": n, "counts": truth})


def _obce_schema():
    """Arrow twin of the obce's Spark schema, `datagen._admin_schema("okres_kod")`."""
    import pyarrow as pa

    ts = pa.timestamp("us", tz="UTC")
    return pa.schema([
        ("kod", pa.int64()), ("nazev", pa.string()), ("nespravny", pa.bool_()),
        ("okres_kod", pa.int64()), ("plati_od", ts), ("plati_do", ts),
        ("definicni_bod", pa.binary()), ("originalni_hranice", pa.binary()),
        ("generalizovane_hranice", pa.binary()),
    ])


def gen_daily_update(out: str, seed: int, size: str) -> None:
    """A multi-layer import batch plus a fixed sequence of `*_ST_ZKSH`
    change batches (updates, adds and repeated keys), with the tallies
    and layer sizes each batch must produce."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spec = SIZES[size]

    def layer_rows(layer, ids, version, rng, names):
        code = LAYER_CODES[layer]
        ids_s = pc.cast(pa.array(ids, pa.int64()), pa.string())
        return pa.table({
            "layer": pa.array([layer] * len(ids), pa.string()),
            "gml_id": pc.binary_join_element_wise(f"{code}.", ids_s, ""),
            "kod": pa.array(ids, pa.int64()),
            "nazev": pc.binary_join_element_wise(f"{code} ", ids_s, names, ""),
            "nespravny": pa.array(rng.random(len(ids)) < 0.02, pa.bool_()),
            "lon": pa.array(14.0 + rng.random(len(ids)), pa.float64()),
            "lat": pa.array(49.5 + rng.random(len(ids)), pa.float64()),
            "version": pa.array(np.full(len(ids), version, np.int32), pa.int32()),
        })

    os.makedirs(os.path.join(out, "import"))
    imp_rng = np.random.default_rng([seed, 1])
    for k, (layer, n) in enumerate(spec["layers"].items()):
        pq.write_table(
            layer_rows(layer, np.arange(n), 0, imp_rng, ""),
            os.path.join(out, "import", f"part-{k:05d}.parquet"),
        )

    rng = np.random.default_rng(seed)
    sizes = dict(spec["layers"])
    next_id = dict(spec["layers"])
    os.makedirs(os.path.join(out, "batches"))
    expected = []
    for b in range(spec["n_batches"]):
        batch_id = f"2024{b // 28 + 1:02d}{b % 28 + 1:02d}_ST_ZKSH"
        tables, tallies = [], {}
        for layer, k in spec["batch"].items():
            n_upd, n_add = k * 7 // 10, k * 2 // 10
            n_rep = k - n_upd - n_add
            upd = rng.choice(spec["layers"][layer], n_upd, replace=False)
            add = next_id[layer] + np.arange(n_add)
            next_id[layer] += n_add
            rep_upd = rng.choice(upd, n_rep // 2)
            rep_add = rng.choice(add, n_rep - n_rep // 2)
            ids = np.concatenate([upd, add, rep_upd, rep_add]).astype(np.int64)
            tables.append(layer_rows(layer, ids, b + 1, rng, f" v{b + 1}"))
            tallies[layer] = {"add": n_add + len(rep_add), "update": n_upd + len(rep_upd)}
            sizes[layer] += n_add
        pq.write_table(
            pa.concat_tables(tables), os.path.join(out, "batches", f"b{b:03d}.parquet")
        )
        expected.append({"batch_id": batch_id, "tallies": tallies, "layer_counts": dict(sizes)})
    _write_json(
        os.path.join(out, "expected.json"),
        {"initial_counts": spec["layers"], "batches": expected},
    )


GENERATORS = {"pip_tiles": gen_pip_tiles, "daily_update": gen_daily_update}


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def generate(workload: str, seed: int, size: str, out: str) -> None:
    """Write the inputs into `out.partial`, then rename to `out`, so an
    interrupted generation never leaves a half-written cache entry."""
    partial = out + ".partial"
    shutil.rmtree(partial, ignore_errors=True)
    os.makedirs(partial)
    common.pin_environment()
    GENERATORS[workload](partial, seed_key(seed), size)
    os.rename(partial, out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.size, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
