"""The profile store's on-disk format: zstd parquet.

Every session ``get_spark`` builds writes parquet as zstd, so a CLI tag
job's store rewrite comes out zstd on a plain and on a bucketed store.
A store written as snappy (the earlier default) needs no migration: the
codec is recorded per column chunk, so the next job reads it, folds it
and rewrites it as zstd with the same values.
"""

from __future__ import annotations

import pytest

from bigdata_tag_system_spark.plans.scenarios import ScenarioRunner
from bigdata_tag_system_spark.sources.bucketed_store import write_bucketed_store

from .conftest import AS_OF, parquet_codecs
from .test_check_harness import _hash
from .test_store_fold import (  # noqa: F401  (env is a fixture)
    PROFILE_SCHEMA, STORE_ROWS, _norm, _write_store, env,
)

CODEC = "spark.sql.parquet.compression.codec"
TAG_IDS = "1,3,4"


def _value_hash(rows) -> str:
    """The correctness gate's value hash over store rows, each detail's
    wall-clock ``hit_time`` dropped."""
    norm = list(_norm(rows).values())
    cols = list(norm[0])
    return _hash([tuple(r[c] for c in cols) for r in norm], cols)


def _run_tags(env, buckets):
    from bigdata_tag_system_spark.cli import main

    argv = ["--mode", "tags", "--tag-ids", TAG_IDS, "--facts", env["facts"],
            "--rules", env["rules"], "--store", env["store"],
            "--as-of", AS_OF, "--computed-date", AS_OF]
    if buckets:
        argv += ["--store-buckets", str(buckets)]
    assert main(argv) == 0


def _write_snappy_store(spark, path, buckets):
    """The store as a snappy-default session wrote it."""
    df = spark.createDataFrame(STORE_ROWS, PROFILE_SCHEMA)
    if not buckets:
        df.write.option("compression", "snappy").parquet(path)
        return
    before = spark.conf.get(CODEC)
    try:
        spark.conf.set(CODEC, "snappy")
        write_bucketed_store(spark, df, path, "user_id", buckets)
    finally:
        spark.conf.set(CODEC, before)


@pytest.mark.parametrize("buckets", [0, 4])
class TestStoreCodec:
    def test_tag_job_writes_zstd_store(self, spark, env, buckets):
        _write_store(spark, STORE_ROWS, env["store"], buckets)
        _run_tags(env, buckets)
        assert parquet_codecs(env["store"]) == {"ZSTD"}

    def test_snappy_store_folds_into_zstd(self, spark, env, golden_rules, buckets):
        _write_snappy_store(spark, env["store"], buckets)
        assert parquet_codecs(env["store"]) == {"SNAPPY"}
        # expected: the same job folded into the store rows held in memory
        stored = spark.createDataFrame(STORE_ROWS, PROFILE_SCHEMA)
        runner = ScenarioRunner(golden_rules, as_of=AS_OF)
        batch = runner.batch(
            3, spark.read.parquet(env["facts"]), existing=stored,
            tag_ids=[int(t) for t in TAG_IDS.split(",")], computed_date=AS_OF)
        want = runner.fold(3, batch, stored)

        _run_tags(env, buckets)
        assert parquet_codecs(env["store"]) == {"ZSTD"}
        got = spark.read.parquet(env["store"])
        assert got.columns == want.columns
        assert _value_hash(got.collect()) == _value_hash(want.collect())
