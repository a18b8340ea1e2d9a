"""Mutation / maintenance operators — the reference's core value
(SURVEY.md §2.8 M1-M7 and §2.3 J1-J3).

The reference applies daily VFR change files with delete-before-insert
cursor loops inside one transaction (vfrogr.py:543-613). Here the whole
change pass is ONE declarative merge: dedup current (window) -> classify
(left join) -> anti-join deletes -> upsert. On Iceberg this maps 1:1 to
`MERGE INTO current USING changes ON key WHEN MATCHED AND
action='delete' THEN DELETE WHEN MATCHED THEN UPDATE SET * WHEN NOT
MATCHED THEN INSERT *`; this sandbox has no Iceberg runtime, so
ParquetTable implements the same semantics read-merge-overwrite: every
commit is one atomic directory swap (same commit granularity the
reference gets from its per-layer transaction, vfrogr.py:543-544,
:611-613), and each merge rewrites the whole layer. A bucketed layout
that rewrites only the touched buckets does not pay off here: a daily
batch of ~1% of a layer touches every bucket, so nothing is pruned.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Window, functions as F

# vfrogr.py:38-43 Mode class
MODE_WRITE = "write"
MODE_APPEND = "append"
MODE_CHANGE = "change"

# Deletion-code -> layer routing map (vfrogr.py:846-865). 18 entries +
# legacy 'Kraje' code; keys are the TypPrvkuKod values carried by
# ZaniklePrvky tombstones.
LAYER_CODES = {
    "ST": "staty",
    "RS": "regionysoudrznosti",
    "KR": "kraje",
    "VC": "vusc",
    "OK": "okresy",
    "OP": "orp",
    "PU": "pou",
    "OB": "obce",
    "SP": "spravniobvody",
    "MP": "mop",
    "MC": "momc",
    "CO": "castiobci",
    "KU": "katastralniuzemi",
    "ZJ": "zsj",
    "UL": "ulice",
    "PA": "parcely",
    "SO": "stavebniobjekty",
    "AD": "adresnimista",
}


def decide_mode(batch_name: str, append_flag: bool = False) -> str:
    """M1 — mode dispatch (vfrogr.py:992-1003): last underscore-
    component of the batch/file name starting with 'Z' => change mode;
    --append => append; else full write."""
    stem = os.path.basename(batch_name).split(".")[0]
    last = stem.split("_")[-1]
    if last.upper().startswith("Z"):
        return MODE_CHANGE
    return MODE_APPEND if append_flag else MODE_WRITE


def decide_mode_expr(name_col, append_col=None):
    """M1 as a Catalyst expression — the distributed twin of
    decide_mode (vfrogr.py:992-1003) for manifest-sized DataFrames:
    strip directories and extensions, take the last `_` component of
    the stem, leading 'Z' (case-insensitive) => change; else append
    when the append flag column is true; else write. Pure string
    functions — no Python on the hot path."""
    stem = F.split(F.element_at(F.split(name_col, "/"), -1), r"\.").getItem(0)
    last = F.element_at(F.split(stem, "_"), -1)
    is_change = F.upper(F.substring(last, 1, 1)) == "Z"
    append = F.lit(False) if append_col is None else append_col
    return (
        F.when(is_change, F.lit(MODE_CHANGE))
        .when(append, F.lit(MODE_APPEND))
        .otherwise(F.lit(MODE_WRITE))
    )


def bulk_copy_toggle_expr(mode_col):
    """S6 — the PG bulk-load toggle as a column: the reference flips
    PG_USE_COPY per batch (change => 'NO' because merge needs inserts,
    append => 'YES' to force COPY, vfrogr.py:996-1003; write leaves the
    variable untouched => NULL). On Iceberg the same dial is fast
    append vs merge-on-read (SURVEY.md §2.1 S6)."""
    return (
        F.when(mode_col == MODE_CHANGE, F.lit("NO"))
        .when(mode_col == MODE_APPEND, F.lit("YES"))
        .otherwise(F.lit(None).cast("string"))
    )


# M2 — the 4 OB-only layers force-dropped on an ST overwrite
# (vfrogr.py:440-444): ST files never carry these layers, so a plain
# per-layer overwrite would leave stale OB-era data behind.
OB_ONLY_LAYERS = ("ulice", "parcely", "stavebniobjekty", "adresnimista")


def forced_drop_expr(layer_col, vfr_type_col, overwrite_col):
    """M2 — which (layer, batch-type, overwrite) combinations get a
    forced pre-drop (vfrogr.py:440-444, _delete_layer :665-678): only
    an overwrite of an ST batch force-drops, and only the four OB-only
    layers."""
    is_st = F.upper(F.substring(vfr_type_col, 1, 3)) == "ST_"
    return overwrite_col & is_st & F.lower(layer_col).isin(*OB_ONLY_LAYERS)


def classify_changes(
    changes: DataFrame, current: DataFrame, key: str = "gml_id"
) -> DataFrame:
    """J1 — upsert classification (vfrogr.py:793-836): left-outer join
    of incoming changes against current state; matched -> 'update',
    unmatched -> 'add'. The changes side is small (daily deltas), so the
    join broadcasts current's key projection when feasible — at 10^12
    rows current's keys do NOT broadcast, and this becomes a SMJ on the
    key; either way it is one join, not per-row probes."""
    cur_keys = current.select(F.col(key)).distinct()
    return changes.join(cur_keys.withColumn("__matched", F.lit(1)), on=key, how="left").withColumn(
        "action",
        F.when(F.col("__matched").isNull(), F.lit("add")).otherwise(F.lit("update")),
    ).drop("__matched")


def dedup_current(
    current: DataFrame, key: str = "gml_id", order_col: str | None = None
) -> DataFrame:
    """J3 — duplicate natural keys: keep one row per key, drop the rest
    (vfrogr.py:817-829). Must run BEFORE merge or a true MERGE raises
    on multiple matches (SURVEY.md §7.3).

    The survivor is the row with the lowest xxhash64 of its whole
    payload, so it depends on row content only, never on file or
    partition order. order_col="fid" gives the reference's keep-first-
    FID rule for tables that carry FIDs."""
    order = F.col(order_col) if order_col else F.xxhash64(*[F.col(c) for c in current.columns])
    w = Window.partitionBy(key).orderBy(order.asc())
    return (
        current.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def tombstone_keys(tombstones: DataFrame) -> DataFrame:
    """J2 prep — ZaniklePrvky (code, id) -> (layer, gml_id) with the
    reference's key synthesis '{lcode}.{PrvekId}' (vfrogr.py:885) and
    code routing (vfrogr.py:846-865). Unknown codes are kept with layer
    NULL so callers can log them (error path vfrogr.py:877-881)."""
    mapping = F.create_map(*[F.lit(x) for pair in LAYER_CODES.items() for x in pair])
    return tombstones.select(
        mapping[F.col("typ_prvku_kod")].alias("layer"),
        F.concat_ws(".", F.col("typ_prvku_kod"), F.col("prvek_id")).alias("gml_id"),
        F.col("id_transakce"),
    )


def apply_tombstones(
    current: DataFrame, tombstones: DataFrame, layer: str, key: str = "gml_id"
) -> DataFrame:
    """J2 — delete via tombstones: anti-join current against the
    tombstone keys routed to this layer (vfrogr.py:838-915)."""
    keys = tombstone_keys(tombstones).where(F.col("layer") == layer).select(key)
    return current.join(keys, on=key, how="left_anti")


def apply_changes(
    current: DataFrame,
    changes: DataFrame,
    key: str = "gml_id",
    delete_action: str = "delete",
) -> DataFrame:
    """M3 — the full change merge (vfrogr.py:546-580,617-627):
    * rows of current whose key appears in changes are removed
      (delete-before-insert, vfrogr.py:567-568)
    * change rows with action != delete are inserted (updates keep
      their key; adds bring new keys)
    Input `changes` must carry an `action` column (classify_changes) and
    current-compatible payload columns. Equivalent Iceberg statement in
    the module docstring."""
    payload_cols = [c for c in changes.columns if c in current.columns]
    survivors = current.join(changes.select(key).distinct(), on=key, how="left_anti")
    # a change batch may carry the same key more than once; the merged
    # state holds exactly one row per key (the reference applies them
    # sequentially so the last wins, vfrogr.py:556-580 — distributed
    # scans have no arrival order, so survivorship is deterministic on
    # a payload hash instead; documented deviation like FIDs §7.3)
    inserts = dedup_current(
        changes.where(F.col("action") != delete_action).select(*payload_cols), key=key
    )
    missing = [c for c in current.columns if c not in payload_cols]
    for c in missing:
        inserts = inserts.withColumn(c, F.lit(None).cast(current.schema[c].dataType))
    return survivors.unionByName(inserts.select(*current.columns))


def assign_fids(df: DataFrame, key: str = "gml_id", fid_col: str = "fid") -> DataFrame:
    """§2.5 — deterministic FID: row_number over the natural key. The
    reference assigns FIDs by arrival order (vfrogr.py:582,:601-603);
    arrival order doesn't exist in a distributed scan, so FIDs are
    derived from the key order instead (documented deviation,
    SURVEY.md §7.3: values differ, row content identical).

    NOTE: the no-partition window is a single-reducer global sort —
    fine for test determinism and small dimensions, wrong at 100 TB.
    Use assign_fids_distributed for the scale path (identical output
    for unique keys)."""
    w = Window.orderBy(F.col(key).asc())
    return df.withColumn(fid_col, F.row_number().over(w))


def assign_fids_distributed(
    df: DataFrame,
    key: str = "gml_id",
    fid_col: str = "fid",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe twin of assign_fids: dense 1-based FIDs in key order
    with NO global single-reducer sort. Range-partition by key + sort
    within partitions (the same shuffle a sorted write needs anyway),
    count rows per partition (one cheap aggregate), then a map-only
    Arrow pass adds cumulative offset + local position. Output is
    content-identical to assign_fids when keys are unique (equal-key tie
    order is arbitrary in both, like the reference's arrival order)."""
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    d = df.repartitionByRange(n, F.col(key).asc()).sortWithinPartitions(F.col(key).asc())
    counts = {
        r["__pid"]: r["n"]
        for r in d.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    bc = spark.sparkContext.broadcast(offsets)
    out_schema = StructType(list(d.schema.fields) + [StructField(fid_col, LongType(), False)])

    def _add(batches):
        pos = bc.value.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            k = len(pdf)
            pdf = pdf.copy()
            pdf[fid_col] = range(pos + 1, pos + k + 1)
            pos += k
            yield pdf

    return d.mapInPandas(_add, schema=out_schema)


class ParquetTable:
    """Minimal transactional table: parquet directory + atomic swap.

    Stands in for an Iceberg table in this sandbox. write/append/merge
    commit by writing to a staging dir and renaming — readers see the
    old or the new snapshot, never a torn one (the reference's
    per-layer transaction, vfrogr.py:543-544,:611-613).
    """

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _swap(self, src: str) -> None:
        """Commit directory src as the table: move the current snapshot
        aside, rename src in, delete the old snapshot."""
        old = f"{self.path}.__old_{uuid.uuid4().hex[:8]}"
        if self.exists():
            os.rename(self.path, old)
        os.rename(src, self.path)
        if os.path.exists(old):
            shutil.rmtree(old)

    def _commit(self, df: DataFrame) -> None:
        staging = f"{self.path}.__staging_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(staging)
        self._swap(staging)

    def _check_replace(self, overwrite: bool) -> None:
        """M2 — without overwrite, an existing table raises (the
        reference's 'already exists... use --overwrite or --append'
        skip, vfrogr.py:474-476)."""
        if self.exists() and not overwrite:
            raise FileExistsError(
                f"{self.path} already exists; use overwrite=True or append"
            )

    def write(self, df: DataFrame, overwrite: bool = False) -> None:
        """M2 — create-or-replace."""
        self._check_replace(overwrite)
        self._commit(df)

    def adopt_dir(self, src: str, overwrite: bool = False) -> None:
        """Commit an already-written parquet directory as the new
        snapshot by rename — zero re-read. This is the commit half of
        the driver's single-pass partitionBy fan-out (one scan writes
        every layer; each partition directory is adopted per-table)."""
        self._check_replace(overwrite)
        self._swap(src)

    def append_dir(self, src: str) -> None:
        """Directory-append: move the new data files into the table
        directory instead of re-writing the whole snapshot (the O(delta)
        append a real table format gives you; snapshot-union append()
        remains for callers that want uniform commit semantics). Data
        file names are task-unique already; a batch tag prefix makes
        repeated appends of the same staging layout collision-proof."""
        if not self.exists():
            self._swap(src)
            return
        tag = uuid.uuid4().hex[:8]
        for fn in os.listdir(src):
            if fn.startswith(("_", ".")):
                continue
            os.rename(os.path.join(src, fn), os.path.join(self.path, f"b{tag}-{fn}"))

    def append(self, df: DataFrame, allow_schema_evolution: bool = False) -> None:
        """SO2 — append mode: unionByName with current snapshot (the
        reference's Mode.append, vfrogr.py:42,:999-1000). Plain
        directory-append would also work; snapshot-union keeps commit
        semantics uniform. allow_schema_evolution=True models Iceberg
        add-column evolution: columns present on only one side are
        kept and NULL-filled on the other (unionByName
        allowMissingColumns); the default rejects schema drift."""
        if self.exists():
            df = self.read().unionByName(
                df, allowMissingColumns=allow_schema_evolution
            )
        self._commit(df)

    def compact(
        self, target_files: int | None = None, target_rows_per_file: int = 1_000_000
    ) -> int:
        """Small-file compaction — the OPTIMIZE analogue every
        append-heavy table needs (each append_dir/streaming merge batch
        leaves its own files; scan cost grows with file count, not
        data). Rewrites the snapshot into ceil(rows / target) files via
        repartition + the same atomic swap as every other commit; no
        logical change. Returns the file count written. On Iceberg this
        maps to rewrite_data_files; here it models the cost in the
        sandbox."""
        df = self.read()
        if target_files is None:
            n = df.count()
            target_files = max(1, -(-n // target_rows_per_file))
        self._commit(df.repartition(target_files))
        return target_files

    def merge(self, changes: DataFrame, key: str = "gml_id") -> dict:
        """M3 — full change pass: dedup -> classify -> apply -> commit.
        Returns the change tally {action: n} (A3) so callers can log it
        like the reference's summary (vfrogr.py:617-627). A missing
        table merges as an empty one, so every change is an add.
        O(table) per batch."""
        if self.exists():
            current = self.read()
        else:
            current = self.spark.createDataFrame([], changes.drop("action").schema)
        current = dedup_current(current, key=key)
        classified = classify_changes(changes, current, key=key)
        tally = {
            r["action"]: r["n"]
            for r in classified.groupBy("action").agg(F.count("*").alias("n")).collect()
        }
        self._commit(apply_changes(current, classified, key=key))
        return tally
