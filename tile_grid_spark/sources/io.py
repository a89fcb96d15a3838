"""IO seam: one place that maps logical table names to physical storage.

Local/sandbox: parquet files under a scale-factor directory. Production:
the same logical schema as an Iceberg table — swap `read_table` to
``spark.read.format("iceberg").load(f"{catalog}.{db}.{name}")``; nothing
above this seam changes. (No Iceberg jar ships in the sandbox, so the
production path is documented, not imported.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("zoom",),
    sort_cols: tuple[str, ...] = ("tile_x", "tile_y"),
    mode: str = "overwrite",
) -> None:
    """Tile-layout write: partition dirs by zoom, files range-sorted by tile.

    At 100 TB this is what makes downstream reads prune: partition pruning
    on zoom + min/max file skipping on tile_x/tile_y. Iceberg equivalent:
    ``writeTo(...).partitionedBy(col("zoom")).createOrReplace()`` with a
    sort order on (tile_x, tile_y).
    """
    (
        df.repartitionByRange(*(list(partition_cols) + list(sort_cols)))
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    num_buckets: int,
    bucket_cols: tuple[str, ...] = ("tile_key",),
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) table write: pre-pays the shuffle
    ONCE at write time so every later join/aggregate on the bucket key
    between co-bucketed tables runs with ZERO exchanges (asserted in
    tests/test_plan_shapes.py). At 100 TB this turns per-query fact x
    fact shuffles into local merge joins. Iceberg equivalent: a
    ``bucket(N, tile_key)`` partition transform + sort order; parquet +
    session catalog here (bucket metadata needs saveAsTable).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Deterministic training-data shard export + manifest.

    Shard assignment is md5-hash based (shard = md5_60(id) % n_shards),
    so it is partition-invariant, append-stable and REPRODUCIBLE — the
    properties a training-data export needs (a re-run assigns every row
    to the same shard; adding data never moves old rows). One exchange
    total: repartition BY the shard column so each output shard is
    exactly one task's write, then optional sortWithinPartitions for
    stable intra-shard order.

    Writes parquet partitioned by `shard` plus a `_manifest.json` with
    per-shard row counts and order-insensitive content fingerprints —
    the consumer-side integrity check (and the resume/lineage hook: a
    re-export can diff fingerprints instead of re-reading data).

    Returns the manifest dict.
    """
    import json as _json

    from pyspark.sql import functions as F

    from ..operators.dedup import md5_hash60

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    sharded = df.withColumn(
        "shard",
        F.pmod(md5_hash60(F.col(id_col).cast("string"), prefix="shard"), F.lit(n_shards)).cast("int"),
    )
    out = sharded.repartition(n_shards, "shard")
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode(mode).partitionBy("shard").parquet(path)

    spark = df.sparkSession
    written = spark.read.parquet(path)
    per_shard = (
        written.groupBy("shard")
        .agg(
            F.count("*").alias("rows"),
            F.sum(
                F.xxhash64(F.col(id_col).cast("string")).cast("decimal(38,0)")
            ).alias("fp"),
        )
        .collect()
    )
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "total_rows": int(sum(r.rows for r in per_shard)),
        "shards": {
            int(r.shard): {"rows": int(r.rows), "fingerprint": str(r.fp)}
            for r in per_shard
        },
    }
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        _json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def upsert_latest(
    current: DataFrame,
    updates: DataFrame,
    key_cols: tuple[str, ...] | list[str],
    version_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Engine-side MERGE/upsert semantics (latest version per key wins)
    — the incremental-corpus maintenance shape of an Iceberg MERGE INTO,
    expressed as the Spark plan a table format executes underneath:
    union + one shuffle on the key + per-key top-1 window. No
    join: a join-based merge shuffles BOTH inputs AND re-reads the big
    side per batch; union+window is |current| + |updates| rows through
    one exchange, and the table format's file pruning (partition/bucket
    on the key) bounds the re-written span at 100 TB.

    Ties on (version) resolve to the UPDATES side, then by
    `tiebreak_col` descending when given — deterministic re-runs.
    Schemas must match (unionByName).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    keys = list(key_cols)
    u = updates.withColumn("_src", F.lit(1))
    c = current.withColumn("_src", F.lit(0))
    allr = c.unionByName(u)
    order = [F.col(version_col).desc(), F.col("_src").desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        allr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
