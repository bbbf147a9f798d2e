"""Bucketed result store — removes the last shuffle in the tag pipeline.

The CLI's result store is merged into via a full-outer join on the user
key every incremental run (``cli.py``). With a plain parquet directory
BOTH join sides shuffle, and the store side is the big, ever-growing one.
Persisting the store bucketed by the user key (``CLUSTERED BY … INTO N
BUCKETS``, hash-partitioned + sorted on disk) makes its scan feed the
SortMergeJoin directly — zero Exchange and zero Sort on the store side,
plan-asserted in ``tests/test_sources_scenarios.py``. The fresh profile
side still shuffles once, which is irreducible: it is new data and must
be partitioned somehow.

The reference has no equivalent (its store is MySQL,
``src/writers/mysql_writer.py``); this is the file-store scale path.

Bucket metadata normally lives in a persistent metastore. The engine
runs metastore-less (in-memory catalog), so the store is re-registered
each session as an EXTERNAL bucketed table over its directory: the DDL
is the caller's known schema (or the parquet footer's), and the bucketed
file layout on disk (bucket id embedded in each file name by the
bucketed write) is what actually carries across runs. ``num_buckets`` must stay constant
for the lifetime of a store directory — it is part of the on-disk
layout; size it so one bucket of the store fits an executor core's
working memory at target scale (e.g. 1 B users × ~100 B/profile row /
4096 buckets ≈ 25 MB/bucket).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def _table_name(path: str) -> str:
    """Deterministic catalog-safe identifier for a store directory."""
    base = re.sub(r"[^A-Za-z0-9_]+", "_", os.path.abspath(path)).strip("_")
    return f"store_{base[-80:]}"


def _schema_ddl(schema) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def _meta_path(path: str) -> str:
    return os.path.join(os.path.abspath(path), "_bucket_meta.json")


def _validate_layout(path: str, key: str, num_buckets: int) -> None:
    """The bucket spec is part of the ON-DISK layout: registering a
    4-bucket directory as INTO 256 BUCKETS makes Spark skip the Exchange
    and hash rows into the wrong SortMergeJoin partitions — the merge
    silently drops/duplicates matches. Refuse any mismatch with the
    sidecar written at store creation."""
    import json

    mp = _meta_path(path)
    if not os.path.exists(mp):  # pre-sidecar store: trust the caller
        return
    with open(mp) as fh:
        meta = json.load(fh)
    if meta != {"key": key, "num_buckets": num_buckets}:
        raise ValueError(
            f"bucketed store at {path} was written with {meta}, "
            f"got key={key!r} num_buckets={num_buckets} — the bucket "
            f"count/key cannot change for the life of a store directory")


def read_bucketed_store(
    spark: SparkSession, path: str, key: str, num_buckets: int,
    schema: str | None = None,
) -> DataFrame | None:
    """Store as a DataFrame whose scan carries bucket metadata (None when
    the store doesn't exist yet): (re)creates the external bucketed table
    entry over ``path``. A known ``schema`` (DDL) spares the job that
    reads it from a parquet footer."""
    if not os.path.isdir(path):
        return None
    _validate_layout(path, key, num_buckets)
    name = _table_name(path)
    loc = os.path.abspath(path)
    schema = schema or _schema_ddl(spark.read.parquet(loc).schema)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({schema}) USING PARQUET "
        f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) INTO {num_buckets} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return spark.table(name)


def write_bucketed_store(
    spark: SparkSession, df: DataFrame, path: str, key: str, num_buckets: int
) -> None:
    """Replace the store at ``path`` with ``df``, bucket-laid-out.

    Stage-and-swap through the shared crash envelope
    (:func:`~bigdata_tag_system_spark.sources.writers.staged_swap_write`):
    the bucketed write lands in a sibling stage directory — ``df`` may
    be reading the live store — then two atomic renames swap it in. The
    ``_bucket_meta.json`` sidecar is written INTO the stage before the
    swap, so there is no crash window in which a fully bucketed store
    exists without its layout record (a sidecar-less store falls into
    the trust-the-caller branch of :func:`_validate_layout`, which is
    exactly the silent mis-bucketed-merge hazard the sidecar prevents).
    """
    import json

    from bigdata_tag_system_spark.sources.writers import staged_swap_write

    target = os.path.abspath(path)
    if os.path.isdir(target):
        _validate_layout(target, key, num_buckets)

    def _write_stage(stage: str) -> None:
        stage_table = _table_name(stage)
        spark.sql(f"DROP TABLE IF EXISTS {stage_table}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, key)
            .sortBy(key)
            .option("path", stage)
            .saveAsTable(stage_table)
        )
        # catalog entry served its purpose (bucketed layout now on disk);
        # drop it so nothing references the stage dir we're about to rename
        spark.sql(f"DROP TABLE IF EXISTS {stage_table}")
        # layout record travels with the directory through the rename
        # (underscore-prefixed: parquet readers skip it)
        with open(_meta_path(stage), "w") as fh:
            json.dump({"key": key, "num_buckets": num_buckets}, fh)

    staged_swap_write(_write_stage, target)
    # stale entry for the (now-moved) location, if any, is refreshed on
    # the next read_bucketed_store; invalidate cached file listings
    spark.sql(f"DROP TABLE IF EXISTS {_table_name(target)}")
