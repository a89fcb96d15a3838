"""Explicit skew handling for dense tiles (north rule: "partitioning /
shuffle / skew handled explicitly").

Dense tiles (cities) concentrate orders of magnitude more images than the
median tile. Three tools, composable:

1. `measure_tile_skew` — the per-tile count profile that drives decisions
   (an aggregate you run once per batch and broadcast).
2. `with_salt` — deterministic salt column sized from the measured counts:
   heavy tiles get `ceil(count / target_rows_per_task)` salt buckets,
   light tiles get 1 (no extra shuffle width for the long tail). Use the
   salted key in groupBy/join, then roll up.
3. `salted_tile_agg` — the common per-tile aggregate expressed as
   partial-on-(tile, salt) -> final-on-tile, which bounds any single
   task's group size regardless of skew.

`batched_key_map` is the per-key Python map every tile producer shares
(raster painting, MVT encoding, path simplification): one hash exchange
on the key, many whole groups per Arrow batch.

AQE's skew-join splitting stays on (plans/session.py) and handles join
sides; salting here is for aggregation/rasterization groups where AQE
cannot split a single key.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TILE_KEY = ("zoom", "tile_x", "tile_y")


def measure_tile_skew(df: DataFrame, keys: tuple[str, ...] = TILE_KEY) -> DataFrame:
    """Per-key row counts + the stats used for salting decisions."""
    return df.groupBy(*keys).agg(F.count("*").alias("tile_rows"))


def skew_stats(counts: DataFrame) -> dict:
    row = counts.agg(
        F.count("*").alias("n_tiles"),
        F.max("tile_rows").alias("max_rows"),
        F.expr("percentile_approx(tile_rows, 0.5)").alias("p50"),
        F.expr("percentile_approx(tile_rows, 0.99)").alias("p99"),
        F.sum("tile_rows").alias("total"),
    ).collect()[0]
    return {k: row[k] for k in ("n_tiles", "max_rows", "p50", "p99", "total")}


def with_salt(
    df: DataFrame,
    counts: DataFrame,
    target_rows_per_task: int = 1_000_000,
    keys: tuple[str, ...] = TILE_KEY,
    id_col: str | None = None,
    out: str = "salt",
) -> DataFrame:
    """Add a deterministic salt in [0, n_buckets) where n_buckets =
    ceil(tile_rows / target). Salt derives from a stable row id when given
    (reproducible across runs/parallelism) else from all columns' hash."""
    buckets = counts.withColumn(
        "_n_buckets",
        F.ceil(F.col("tile_rows") / F.lit(target_rows_per_task)).cast("int"),
    ).select(*keys, "_n_buckets")
    j = df.join(F.broadcast(buckets), on=list(keys), how="left").withColumn(
        "_n_buckets", F.coalesce(F.col("_n_buckets"), F.lit(1))
    )
    basis = F.xxhash64(F.col(id_col)) if id_col else F.xxhash64(*[F.col(c) for c in df.columns])
    return j.withColumn(out, F.pmod(basis, F.col("_n_buckets")).cast("int")).drop("_n_buckets")


def pre_partitioned_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    keys: tuple[str, ...] = TILE_KEY,
    num_partitions: int | None = None,
) -> DataFrame:
    """Aggregate for HIGH-CARDINALITY keys: shuffle rows by key FIRST,
    then aggregate within the owned partition.

    The default partial->exchange->final plan builds a per-map-task hash
    table over every group the task happens to see; when groups ~ rows
    (e.g. per-tile stats at deep zooms), each map task touches most of
    the keyspace — measured 600k-entry maps per task at z10/40M rows,
    memory-latency-bound and ANTI-SCALING with concurrent tasks (6.0s ->
    3.7s at local[32] just from this reshape; worse under heap
    pressure). Pre-partitioning bounds each task's table to
    |groups| / num_partitions entries and the aggregate runs without a
    second exchange (the distribution requirement is already met).
    Same shuffle volume either way — partial aggregation wasn't
    reducing anything at this cardinality.

    Rule of thumb: groups-per-task > ~100k -> use this; heavily skewed
    SMALL keyspace -> salted_tile_agg; everything else -> plain groupBy.
    """
    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    rep = df.repartition(int(parts), *[F.col(k) for k in keys])
    return rep.groupBy(*keys).agg(*[v.alias(k) for k, v in aggs.items()])


def salted_tile_agg(
    df: DataFrame,
    aggs: dict[str, tuple[Column, Column]],
    counts: DataFrame | None = None,
    target_rows_per_task: int = 1_000_000,
    keys: tuple[str, ...] = TILE_KEY,
    id_col: str | None = None,
) -> DataFrame:
    """Two-stage aggregate: partial on (keys..., salt), final on keys.

    `aggs` maps output name -> (partial_expr, final_expr). The partial
    expression is computed per salt bucket over the input columns and
    aliased to the output name; the final expression re-aggregates those
    partials over the output name, e.g.::

        {"n":       (F.count("*"),   F.sum("n")),
         "min_pid": (F.min("pid"),   F.min("min_pid")),
         "max_pid": (F.max("pid"),   F.max("max_pid"))}

    Both halves are explicit because the combiner cannot be inferred from
    the partial: a non-decomposable aggregate (avg, stddev, ...) must be
    expressed as decomposable parts (sum + count) and finished by the
    caller. A bare Column raises rather than guessing a combiner.
    """
    for k, v in aggs.items():
        if not (isinstance(v, tuple) and len(v) == 2):
            raise TypeError(
                f"aggs[{k!r}] must be a (partial_expr, final_expr) pair; "
                "the final combiner is never inferred (count->sum vs "
                "max->max is not derivable from the partial expression)"
            )
    counts = counts if counts is not None else measure_tile_skew(df, keys)
    salted = with_salt(df, counts, target_rows_per_task, keys, id_col)
    partial = salted.groupBy(*keys, "salt").agg(
        *[p.alias(k) for k, (p, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[f.alias(k) for k, (_, f) in aggs.items()]
    )


def batched_key_map(
    df: DataFrame,
    keys: tuple[str, ...] | list[str],
    block: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
    order: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key Python map with MANY key groups per Arrow batch.

    One hash exchange (`repartition(*keys)`, the exchange any per-key
    sink needs), a partition sort on (keys..., order...), then
    mapInPandas calling `block(pdf)` on runs of WHOLE groups: `pdf`
    holds one or more complete groups, each contiguous and sorted by
    `order`. `block` returns the output rows (`schema`); an empty frame
    emits nothing.

    groupBy().applyInPandas pays tens of ms of dispatch and Arrow
    overhead per GROUP, which dominates when groups are small (measured:
    1500 single-row z10 tiles took ~8 s; 1.7-2.5x on the simplify
    bench). Rows of the LAST key in each Arrow batch are held back and
    prepended to the next batch, so a group split across a batch
    boundary is never mapped twice: keys are contiguous within a
    partition after the sort, and mapInPandas iterates one partition's
    batches in order.
    """
    keys = list(keys)

    def run(batches):
        carry = None
        for b in batches:
            if carry is not None and len(carry):
                b = pd.concat([carry, b], ignore_index=True)
            carry = None
            if len(b) == 0:
                continue
            tail = np.ones(len(b), dtype=bool)
            for k in keys:
                tail &= (b[k] == b[k].iloc[-1]).to_numpy()
            carry = b[tail]
            body = b[~tail]
            if len(body):
                out = block(body)
                if len(out):
                    yield out
        if carry is not None and len(carry):
            out = block(carry)
            if len(out):
                yield out

    parts = df.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(
        *keys, *order
    )
    return parts.mapInPandas(run, schema)
