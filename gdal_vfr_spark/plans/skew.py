"""Skew handling: cell-frequency sampling + salted repartitioning
(SURVEY.md §4 item 2; north rule: "skew from megacity cells handled
explicitly with cell-frequency sampling, salted repartitioning, and
AQE-assisted shuffle splitting").

AQE skew-join splitting (enabled in session.py) covers sort-merge
joins automatically; these helpers cover the cases AQE can't see:
- hot-key detection BEFORE planning (sampling, cheap);
- salting a shuffle join where one side must be exploded;
- salting a high-cardinality aggregation (two-phase).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hot_keys(
    df: DataFrame,
    key_col: str,
    sample_frac: float = 0.01,
    threshold_frac: float = 0.05,
    seed: int = 42,
) -> list:
    """Sample-based hot-key detection: keys whose sampled share exceeds
    threshold_frac of sampled rows. One cheap job over a fraction of
    the data — at 100 TB this is the only affordable census."""
    s = df.sample(fraction=sample_frac, seed=seed).groupBy(key_col).count()
    total = s.agg(F.sum("count")).first()[0] or 0
    if not total:
        return []
    rows = s.where(F.col("count") >= threshold_frac * total).collect()
    return [r[key_col] for r in rows]


def salt_fact_side(df: DataFrame, n_salt: int, stable_col: str, out_col: str = "__salt") -> DataFrame:
    """Deterministic salt on the big (fact) side."""
    return df.withColumn(out_col, F.pmod(F.xxhash64(F.col(stable_col)), F.lit(n_salt)))


def explode_dim_side(df: DataFrame, n_salt: int, out_col: str = "__salt") -> DataFrame:
    """Replicate the small (dim) side across all salt values."""
    return df.withColumn(
        out_col, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn(out_col, F.col(out_col).cast("long"))


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salt: int,
    fact_stable_col: str,
    how: str = "inner",
    hot_only: list | None = None,
) -> DataFrame:
    """Shuffle equi-join with the hot keys' fact rows spread over
    n_salt reducers. With hot_only set, only hot keys are salted
    (the dim side replicates just those rows — the SURVEY.md §7.3
    requirement that salting 'replicates only the few polygons covering
    that cell, not the whole broadcast')."""
    if hot_only is not None:
        # coalesce: isin() is NULL for null join keys, which would drop
        # null-key fact rows from BOTH branches — wrong for how='left',
        # which must keep them (with null dim columns). Null keys never
        # match in an equi-join, so they belong on the cold branch.
        is_hot = F.coalesce(F.col(on).isin(hot_only), F.lit(False))
        f_hot = salt_fact_side(fact.where(is_hot), n_salt, fact_stable_col)
        d_hot = explode_dim_side(dim.where(is_hot), n_salt)
        hot_joined = f_hot.join(d_hot, on=[on, "__salt"], how=how).drop("__salt")
        cold_joined = fact.where(~is_hot).join(dim.where(~is_hot), on=on, how=how)
        return hot_joined.unionByName(cold_joined)
    f = salt_fact_side(fact, n_salt, fact_stable_col)
    d = explode_dim_side(dim, n_salt)
    return f.join(d, on=[on, "__salt"], how=how).drop("__salt")


def spread_small_input(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Round-robin-spread a DataFrame whose scan arrives in fewer
    partitions than the cluster has cores (round-6: the bench fixtures
    are single-row-group parquet files, so EVERY map-side pass over
    them — Arrow UDF batches included — otherwise runs on one core).

    Trigger: only when the current partition count is below
    defaultParallelism, so at production partition counts (thousands
    of splits) this is a no-op and costs nothing. Streaming inputs are
    left untouched (.rdd is undefined on a stream). Spreading is a
    plain repartition — deterministic results for every engine operator
    by the partitioning-invariance discipline (pinned across the test
    suite).
    """
    if df.isStreaming:
        return df
    if min_bytes is not None:
        # plan-stats gate (no job): when the relation is smaller than
        # min_bytes the per-task overhead of fanning out exceeds the
        # kernel work being spread — leave the scan partitioning alone
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            size = None
        if size is not None and size < min_bytes:
            return df
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < para:
        return df.repartition(para)
    return df
