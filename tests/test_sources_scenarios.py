"""Catalog routing, readers, sinks (incl. real DBAPI upsert), scenarios."""

from __future__ import annotations

import json
import os
import sqlite3
import tempfile

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from bigdata_tag_system_spark.plans.scenarios import ScenarioRunner
from bigdata_tag_system_spark.rules.model import load_rules
from bigdata_tag_system_spark.sources.catalog import TableCatalog
from bigdata_tag_system_spark.sources.readers import read_fact_table, read_rule_catalog
from bigdata_tag_system_spark.sources.writers import (
    jdbc_upsert,
    parquet_merge_upsert,
    write_parquet,
)

from .conftest import AS_OF, RULES, USER_SCHEMA, USERS

_DB_PATH = os.path.join(tempfile.gettempdir(), "tag_upsert_test.db")


def _sqlite_conn():
    # top-level so it pickles into executors
    return sqlite3.connect(_DB_PATH, timeout=30)


@pytest.fixture(scope="module")
def tmpdir_mod():
    with tempfile.TemporaryDirectory() as d:
        yield d


class TestCatalog:
    def test_cross_table_routing_and_join(self, spark, tmpdir_mod):
        basic = spark.createDataFrame(
            [("u1", 30, "VIP2"), ("u2", 50, "VIP1")], "user_id string, age int, user_level string"
        )
        asset = spark.createDataFrame(
            [("u1", 200000.0), ("u3", 5.0)], "user_id string, total_asset_value double"
        )
        write_parquet(basic, f"{tmpdir_mod}/basic")
        write_parquet(asset, f"{tmpdir_mod}/asset")
        cat = (
            TableCatalog(spark)
            .register("basic", f"{tmpdir_mod}/basic")
            .register("asset", f"{tmpdir_mod}/asset")
        )
        rules = load_rules([
            {"rule_id": 1, "tag_id": 1, "rule_conditions": json.dumps({"logic": "AND", "conditions": [
                {"field": "age", "operator": "<", "value": 40, "type": "number"},
                {"field": "total_asset_value", "operator": ">=", "value": 100000, "type": "number"},
            ]})}])
        facts = cat.facts_for_rules(rules)
        assert set(facts.columns) == {"user_id", "age", "total_asset_value", "user_level"} - {"user_level"}
        from bigdata_tag_system_spark.operators.tagging import TagEngine

        prof = TagEngine(rules).profiles(facts)
        assert [r["user_id"] for r in prof.collect()] == ["u1"]

    def test_unknown_field_raises(self, spark, tmpdir_mod):
        cat = TableCatalog(spark).register("basic", f"{tmpdir_mod}/basic")
        with pytest.raises(KeyError):
            cat.route_fields(["nope"])

    def test_each_table_read_once(self, spark, tmpdir_mod, monkeypatch):
        # the schema probe behind routing and the pruned scan share one
        # read per table (each read infers the schema: a Spark job)
        from pyspark.sql.readwriter import DataFrameReader

        basic = spark.createDataFrame([("u1", 30)], "user_id string, age int")
        level = spark.createDataFrame([("u1", "VIP2")], "user_id string, user_level string")
        write_parquet(basic, f"{tmpdir_mod}/once_basic")
        write_parquet(level, f"{tmpdir_mod}/once_level")
        loads = []
        orig = DataFrameReader.load

        def counting(self, path=None, *a, **kw):
            loads.append(path)
            return orig(self, path, *a, **kw)

        monkeypatch.setattr(DataFrameReader, "load", counting)
        cat = (TableCatalog(spark)
               .register("basic", f"{tmpdir_mod}/once_basic")
               .register("level", f"{tmpdir_mod}/once_level"))
        rules = load_rules([{"rule_id": 1, "tag_id": 1, "rule_conditions": {
            "logic": "AND", "conditions": [
                {"field": "age", "operator": "<", "value": 40, "type": "number"},
                {"field": "user_level", "operator": "=", "value": "VIP2"}]}}])
        facts = cat.facts_for_rules(rules)
        assert sorted(loads) == sorted([f"{tmpdir_mod}/once_basic", f"{tmpdir_mod}/once_level"])
        cat.facts_for_rules(rules)
        assert len(loads) == 2
        assert facts.collect()[0].asDict() == {"user_id": "u1", "age": 30, "user_level": "VIP2"}
        # registering a table again drops its memoized read
        cat.register("level", f"{tmpdir_mod}/once_level")
        cat.facts_for_rules(rules)
        assert len(loads) == 3


class TestReaders:
    def test_fact_reader_pushdown(self, spark, sf_dir):
        df = read_fact_table(
            spark, f"{sf_dir}/orders.parquet",
            columns=["o_orderkey", "o_orderdate"],
            date_col="o_orderdate", start_date="1997-01-01", end_date="1997-03-31",
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "IsNotNull(o_orderdate)" in plan
        assert df.columns == ["o_orderkey", "o_orderdate"]

    def test_rule_catalog_roundtrip(self, spark, tmpdir_mod):
        rules_rows = [(1, 10, json.dumps(RULES[0]["rule_conditions"]), True)]
        rules_df = spark.createDataFrame(
            rules_rows, "rule_id int, tag_id int, rule_conditions string, is_active boolean")
        defs_df = spark.createDataFrame(
            [(10, "ten", "cat")], "tag_id int, tag_name string, tag_category string")
        write_parquet(rules_df, f"{tmpdir_mod}/rules")
        write_parquet(defs_df, f"{tmpdir_mod}/defs")
        rules = read_rule_catalog(spark, f"{tmpdir_mod}/rules", f"{tmpdir_mod}/defs")
        assert rules[0].tag_name == "ten" and rules[0].tag_id == 10
        assert rules[0].conditions["conditions"][0]["field"] == "total_asset_value"

    def test_rule_catalog_missing_definition_and_null_rule_id(self, spark, tmpdir_mod):
        # the definitions left join gives tag 20 NULL name and category: a
        # NULL field is an absent one, not the string 'None', and a NULL
        # rule_id falls back to the tag id
        cond = json.dumps(RULES[0]["rule_conditions"])
        rules_df = spark.createDataFrame(
            [(1, 10, cond, True), (None, 20, cond, None)],
            "rule_id int, tag_id int, rule_conditions string, is_active boolean")
        defs_df = spark.createDataFrame(
            [(10, "ten", "cat")], "tag_id int, tag_name string, tag_category string")
        write_parquet(rules_df, f"{tmpdir_mod}/rules_nodef")
        write_parquet(defs_df, f"{tmpdir_mod}/defs_nodef")
        rules = sorted(read_rule_catalog(spark, f"{tmpdir_mod}/rules_nodef",
                                         f"{tmpdir_mod}/defs_nodef"),
                       key=lambda r: r.tag_id)
        assert [(r.rule_id, r.tag_id, r.tag_name, r.tag_category) for r in rules] == [
            (1, 10, "ten", "cat"), (20, 20, "", "")]


class TestSnapshotDiff:
    def test_all_change_types_and_null_safety(self, spark):
        from bigdata_tag_system_spark.sources.writers import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "d"), (5, None)],
            "k long, v string")
        new = spark.createDataFrame(
            [(1, "a"),        # unchanged
             (2, "B"),        # changed
             (3, None),       # unchanged (NULL == NULL under <=>)
             (5, "now"),      # changed (NULL -> value is a change)
             (6, "f")],       # added; 4 removed
            "k long, v string")
        got = {r["k"]: r["change_type"]
               for r in snapshot_diff(old, new, ["k"]).collect()}
        assert got == {1: "unchanged", 2: "changed", 3: "unchanged",
                       4: "removed", 5: "changed", 6: "added"}

    def test_compare_cols_subset(self, spark):
        from bigdata_tag_system_spark.sources.writers import snapshot_diff

        old = spark.createDataFrame([(1, "a", "x")], "k long, v string, w string")
        new = spark.createDataFrame([(1, "a", "y")], "k long, v string, w string")
        only_v = snapshot_diff(old, new, ["k"], compare_cols=["v"]).collect()
        assert only_v[0]["change_type"] == "unchanged"
        both = snapshot_diff(old, new, ["k"]).collect()
        assert both[0]["change_type"] == "changed"


class TestDerbyJdbcLive:
    """Real JDBC execution against the Derby engine bundled with
    pyspark/jars — the datasource code path a cluster points at
    MySQL/Postgres, with zero network."""

    _PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    @pytest.fixture(scope="class")
    def derby_url(self, spark, tmp_path_factory):
        spark._jvm.java.lang.System.setProperty(
            "derby.stream.error.file", "/tmp/derby_pytest.log")
        d = tmp_path_factory.mktemp("derby")
        return f"jdbc:derby:{d}/db;create=true"

    def test_write_read_roundtrip_with_pushdown_and_partitions(
            self, spark, derby_url):
        from bigdata_tag_system_spark.sources.readers import read_jdbc_table
        from bigdata_tag_system_spark.sources.writers import jdbc_write

        df = spark.createDataFrame(
            [(i, f"n{i}", i * 1.5) for i in range(10)],
            "id long, name string, v double")
        jdbc_write(df, derby_url, "rt", mode="overwrite",
                   properties=dict(self._PROPS,
                                   createTableColumnTypes="name VARCHAR(10)"),
                   num_partitions=3)
        back = read_jdbc_table(
            spark, derby_url,
            '(SELECT "id", "name", "v" FROM rt WHERE "id" >= 4) q',
            properties=dict(self._PROPS),
            partition_column='"id"', lower_bound=4, upper_bound=10,
            num_partitions=3)
        assert back.rdd.getNumPartitions() == 3
        got = sorted((r["id"], r["name"], r["v"]) for r in back.collect())
        assert got == [(i, f"n{i}", i * 1.5) for i in range(4, 10)]

    def test_merge_upsert_updates_inserts_and_leaves_alone(
            self, spark, derby_url):
        from bigdata_tag_system_spark.sources.writers import (
            jdbc_merge_upsert, jdbc_write,
        )

        props = dict(self._PROPS, createTableColumnTypes="k VARCHAR(10)")
        seed = spark.createDataFrame(
            [("a", 1), ("b", 2), ("z", 99)], "k string, v long")
        jdbc_write(seed, derby_url, "m_tgt", mode="overwrite",
                   properties=props, num_partitions=1)
        changes = spark.createDataFrame(
            [("a", 10), ("c", 30)], "k string, v long")
        n = jdbc_merge_upsert(spark, changes, derby_url, "m_tgt", ["k"],
                              staging_table="m_stg", properties=props)
        assert n == 2
        got = {r["k"]: r["v"] for r in spark.read.jdbc(
            derby_url, "m_tgt", properties=dict(self._PROPS)).collect()}
        assert got == {"a": 10, "b": 2, "z": 99, "c": 30}
        # idempotent: merging the same changeset again changes nothing
        jdbc_merge_upsert(spark, changes, derby_url, "m_tgt", ["k"],
                          staging_table="m_stg", properties=props)
        again = {r["k"]: r["v"] for r in spark.read.jdbc(
            derby_url, "m_tgt", properties=dict(self._PROPS)).collect()}
        assert again == got

    def test_merge_upsert_rejects_duplicate_changeset_keys(
            self, spark, derby_url):
        from bigdata_tag_system_spark.sources.writers import (
            DuplicateKeyError, jdbc_merge_upsert,
        )

        dup = spark.createDataFrame(
            [("a", 1), ("a", 2)], "k string, v long")
        with pytest.raises(DuplicateKeyError):
            jdbc_merge_upsert(spark, dup, derby_url, "m_tgt", ["k"],
                              staging_table="m_stg2",
                              properties=dict(self._PROPS))


class TestUpsertSinks:
    def test_sqlite_upsert_last_writer_wins(self, spark):
        if os.path.exists(_DB_PATH):
            os.remove(_DB_PATH)
        conn = _sqlite_conn()
        conn.execute("CREATE TABLE user_tags (user_id TEXT PRIMARY KEY, tag_ids TEXT, computed_date TEXT)")
        conn.execute("INSERT INTO user_tags VALUES ('u1', '[9]', '2024-01-01')")
        conn.commit(); conn.close()

        df = spark.createDataFrame(
            [("u1", "[1,2]", "2024-07-13"), ("u2", "[3]", "2024-07-13")],
            "user_id string, tag_ids string, computed_date string")
        jdbc_upsert(df, _sqlite_conn, "user_tags", ["user_id"], dialect="sqlite", batch_size=1)
        # idempotency: run twice, same result
        jdbc_upsert(df, _sqlite_conn, "user_tags", ["user_id"], dialect="sqlite")

        conn = _sqlite_conn()
        rows = dict((r[0], (r[1], r[2])) for r in conn.execute("SELECT * FROM user_tags"))
        conn.close()
        assert rows == {"u1": ("[1,2]", "2024-07-13"), "u2": ("[3]", "2024-07-13")}

    def test_mysql_sql_shape(self):
        from bigdata_tag_system_spark.sources.writers import _upsert_sql

        sql = _upsert_sql("mysql", "user_tags", ["user_id", "tag_ids"], ["user_id"])
        assert sql == ("INSERT INTO user_tags (user_id, tag_ids) VALUES (%s, %s) "
                       "ON DUPLICATE KEY UPDATE tag_ids = VALUES(tag_ids)")

    def test_parquet_merge_upsert(self, spark, tmpdir_mod):
        store = f"{tmpdir_mod}/profiles"
        old = spark.createDataFrame(
            [("u1", [1, 9], "2024-01-01"), ("u3", [7], "2024-01-01")],
            "user_id string, tag_ids array<int>, computed_date string")
        write_parquet(old, store)
        new = spark.createDataFrame(
            [("u1", [2, 1], "2024-07-13"), ("u2", [5], "2024-07-13")],
            "user_id string, tag_ids array<int>, computed_date string")
        merged = parquet_merge_upsert(spark, new, store, ["user_id"], array_union_cols=["tag_ids"])
        got = {r["user_id"]: (r["tag_ids"], r["computed_date"]) for r in merged.collect()}
        assert got == {
            "u1": ([1, 2, 9], "2024-07-13"),   # union + last-writer date
            "u2": ([5], "2024-07-13"),          # insert
            "u3": ([7], "2024-01-01"),          # untouched stored row
        }

    def test_parquet_merge_upsert_replay_idempotent(self, spark, tmpdir_mod):
        # foreachBatch delivers at-least-once: a retried batch re-applies
        # the SAME rows to a store that already absorbed them. The merge
        # algebra (array set-union + new-beats-stored coalesce) must make
        # the replay a no-op — this is the exactly-once-effect claim the
        # streaming sink docs make, pinned on the file-store route
        store = f"{tmpdir_mod}/replay_store"
        old = spark.createDataFrame(
            [("u1", [1, 9], "2024-01-01"), ("u3", [7], "2024-01-01")],
            "user_id string, tag_ids array<int>, computed_date string")
        write_parquet(old, store)
        batch = spark.createDataFrame(
            [("u1", [2, 1], "2024-07-13"), ("u2", [5], "2024-07-13")],
            "user_id string, tag_ids array<int>, computed_date string")

        first = parquet_merge_upsert(
            spark, batch, store, ["user_id"], array_union_cols=["tag_ids"])
        write_parquet(first, store)
        replay = parquet_merge_upsert(
            spark, batch, store, ["user_id"], array_union_cols=["tag_ids"])

        canon = lambda df: sorted(map(tuple, df.collect()))
        assert canon(replay) == canon(spark.read.parquet(store))

    def test_parquet_merge_upsert_no_store(self, spark, tmpdir_mod):
        new = spark.createDataFrame([("u1", [1])], "user_id string, tag_ids array<int>")
        merged = parquet_merge_upsert(spark, new, f"{tmpdir_mod}/missing", ["user_id"])
        assert merged.collect()[0]["tag_ids"] == [1]

    def test_duplicate_key_batch_raises_then_dedupes(self, spark, tmpdir_mod):
        from bigdata_tag_system_spark.sources.writers import (
            DuplicateKeyError,
            resolve_duplicate_keys,
        )

        dup = spark.createDataFrame(
            [("u1", "a"), ("u1", "b"), ("u2", "c")], "user_id string, val string")
        # the check is in the returned frame's plan: its action raises
        with pytest.raises(SparkRuntimeException, match="u1"):
            parquet_merge_upsert(
                spark, dup, f"{tmpdir_mod}/missing2", ["user_id"]).collect()
        # dedupe policy: deterministic winner (lexicographically greatest row)
        got = {r["user_id"]: r["val"] for r in
               resolve_duplicate_keys(dup, ["user_id"], "dedupe").collect()}
        assert got == {"u1": "b", "u2": "c"}
        # map-typed columns (profile tag_details) are unorderable — they must
        # ride along in the value struct without poisoning the ordering
        dup_map = spark.createDataFrame(
            [("u1", "a", {"t": "1"}), ("u1", "b", {"t": "2"}), ("u2", "c", {"t": "3"})],
            "user_id string, val string, tag_details map<string,string>")
        got_map = {r["user_id"]: (r["val"], dict(r["tag_details"])) for r in
                   resolve_duplicate_keys(dup_map, ["user_id"], "dedupe").collect()}
        assert got_map == {"u1": ("b", {"t": "2"}), "u2": ("c", {"t": "3"})}
        # the "error" guard caches nothing and runs no job until an action
        uniq = spark.createDataFrame([("u9", "z")], "user_id string, val string")
        sc = spark.sparkContext
        sc.setJobGroup("dup_guard_lazy", "resolve_duplicate_keys")
        try:
            guarded = resolve_duplicate_keys(uniq, ["user_id"], "error")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not guarded.is_cached
        assert list(sc.statusTracker().getJobIdsForGroup("dup_guard_lazy")) == []
        assert guarded.collect() == uniq.collect()
        # and the sqlite sink honors the same guard, before any commit
        if os.path.exists(_DB_PATH):
            os.remove(_DB_PATH)
        conn = _sqlite_conn()
        conn.execute("CREATE TABLE t2 (user_id TEXT PRIMARY KEY, val TEXT)")
        conn.commit(); conn.close()
        with pytest.raises(DuplicateKeyError, match="u1"):
            jdbc_upsert(dup, _sqlite_conn, "t2", ["user_id"], dialect="sqlite",
                        approx_rows=3, batch_size=1)
        conn = _sqlite_conn()
        assert conn.execute("SELECT count(*) FROM t2").fetchone() == (0,)
        conn.close()
        jdbc_upsert(dup, _sqlite_conn, "t2", ["user_id"], dialect="sqlite",
                    on_duplicates="dedupe")
        conn = _sqlite_conn()
        rows = dict(conn.execute("SELECT * FROM t2"))
        conn.close()
        assert rows == {"u1": "b", "u2": "c"}

    def test_dbapi_write_append_overwrite(self, spark):
        from bigdata_tag_system_spark.sources.writers import dbapi_write

        if os.path.exists(_DB_PATH):
            os.remove(_DB_PATH)
        conn = _sqlite_conn()
        conn.execute("CREATE TABLE plain (user_id TEXT, val TEXT)")
        conn.commit(); conn.close()
        df = spark.createDataFrame([("u1", "a"), ("u2", "b")],
                                   "user_id string, val string")
        dbapi_write(df, _sqlite_conn, "plain", mode="append", dialect="sqlite")
        dbapi_write(df, _sqlite_conn, "plain", mode="append", dialect="sqlite")
        conn = _sqlite_conn()
        assert conn.execute("SELECT count(*) FROM plain").fetchone()[0] == 4
        conn.close()
        dbapi_write(df, _sqlite_conn, "plain", mode="overwrite", dialect="sqlite")
        conn = _sqlite_conn()
        assert conn.execute("SELECT count(*) FROM plain").fetchone()[0] == 2
        conn.close()
        with pytest.raises(ValueError, match="mode"):
            dbapi_write(df, _sqlite_conn, "plain", mode="replace", dialect="sqlite")

    def test_dbapi_delete_by_date_and_keys(self, spark):
        from bigdata_tag_system_spark.sources.writers import (
            dbapi_delete_by_date,
            dbapi_delete_by_keys,
        )

        if os.path.exists(_DB_PATH):
            os.remove(_DB_PATH)
        conn = _sqlite_conn()
        conn.execute(
            "CREATE TABLE user_tags (user_id TEXT, computed_date TEXT)")
        conn.executemany(
            "INSERT INTO user_tags VALUES (?, ?)",
            [(f"u{i}", "2024-07-13" if i % 2 else "2024-07-12")
             for i in range(20)])
        conn.commit(); conn.close()

        # keyed date delete: only that date's rows go
        n = dbapi_delete_by_date(
            _sqlite_conn, "user_tags", "2024-07-12", dialect="sqlite")
        assert n == 10
        conn = _sqlite_conn()
        left = conn.execute(
            "SELECT DISTINCT computed_date FROM user_tags").fetchall()
        conn.close()
        assert left == [("2024-07-13",)]

        # chunked list delete (chunk smaller than the key set)
        n = dbapi_delete_by_keys(
            ["u1", "u3", "u5"], _sqlite_conn, "user_tags",
            chunk_size=2, dialect="sqlite")
        assert n == 3

        # distributed DataFrame delete
        keys_df = spark.createDataFrame(
            [("u7",), ("u9",), ("u999",)], "user_id string")
        dbapi_delete_by_keys(
            keys_df, _sqlite_conn, "user_tags", dialect="sqlite")
        conn = _sqlite_conn()
        remaining = {r[0] for r in
                     conn.execute("SELECT user_id FROM user_tags").fetchall()}
        conn.close()
        assert remaining == {"u11", "u13", "u15", "u17", "u19"}

        # identifier validation: value goes through binds, column must be
        # a plain identifier
        with pytest.raises(ValueError, match="identifier"):
            dbapi_delete_by_date(
                _sqlite_conn, "user_tags", "x",
                date_col="computed_date; DROP TABLE user_tags",
                dialect="sqlite")
        with pytest.raises(ValueError, match="identifier"):
            dbapi_delete_by_keys(
                ["u1"], _sqlite_conn, "user_tags",
                key_col="user_id OR 1=1", dialect="sqlite")
        # the TABLE is interpolated too and gets the same rule
        # (schema-qualified names stay legal); reviewed r5
        with pytest.raises(ValueError, match="table identifier"):
            dbapi_delete_by_date(
                _sqlite_conn, "user_tags; DROP TABLE x", "2024-07-12",
                dialect="sqlite")
        with pytest.raises(ValueError, match="table identifier"):
            dbapi_delete_by_keys(
                ["u1"], _sqlite_conn, "user_tags WHERE 1=1 --",
                dialect="sqlite")
        assert dbapi_delete_by_keys(
            [], _sqlite_conn, "user_tags", dialect="sqlite") == 0

    def test_validate_store_contains(self, spark, tmpdir_mod):
        from bigdata_tag_system_spark.sources.writers import validate_store_contains

        written = spark.createDataFrame([("u1",), ("u2",)], "user_id string")
        store_ok = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "user_id string")
        store_missing = spark.createDataFrame([("u1",)], "user_id string")
        assert validate_store_contains(written, store_ok, ["user_id"]) == 0
        assert validate_store_contains(written, store_missing, ["user_id"]) == 1


class TestScenarios:
    @pytest.fixture(scope="class")
    def runner(self, golden_rules):
        return ScenarioRunner(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")

    @pytest.fixture(scope="class")
    def existing(self, spark):
        return spark.createDataFrame(
            [("user_001", [50]), ("user_999", [60])], "user_id string, tag_ids array<int>")

    def test_scenario_1_full_overwrite(self, runner, users_df):
        out = {r["user_id"]: r["tag_ids"] for r in runner.run(1, users_df).collect()}
        assert out["user_001"] == [1, 2, 3, 6, 7]
        assert "user_999" not in out

    def test_scenario_2_new_users_only(self, runner, users_df, spark):
        existing = spark.createDataFrame(
            [("user_001", [50])], "user_id string, tag_ids array<int>")
        out = {r["user_id"]: r["tag_ids"] for r in
               runner.run(2, users_df, existing=existing).collect()}
        assert "user_001" not in out          # not a new user
        assert out["user_005"] == [1, 2, 3, 4, 6, 7]

    def test_scenario_3_specific_tags_merge(self, runner, users_df, existing):
        out = {r["user_id"]: r["tag_ids"] for r in
               runner.run(3, users_df, existing=existing, tag_ids=[1, 4]).collect()}
        assert out["user_001"] == [1, 50]     # tag 1 ∪ stored [50]
        assert out["user_003"] == [1, 4]

    def test_scenario_4_new_users_specific_tags(self, runner, users_df, existing):
        out = {r["user_id"]: r["tag_ids"] for r in
               runner.run(4, users_df, existing=existing, tag_ids=[1, 5]).collect()}
        assert "user_001" not in out          # already stored → not new
        assert out["user_002"] == [5]         # new user, tag subset only
        assert out["user_003"] == [1]

    def test_scenario_5_specific_users(self, runner, users_df):
        out = {r["user_id"]: r["tag_ids"] for r in
               runner.run(5, users_df, user_keys=["user_002"]).collect()}
        assert out == {"user_002": [5]}

    def test_scenario_6_specific_users_and_tags(self, runner, users_df, existing):
        out = {r["user_id"]: r["tag_ids"] for r in
               runner.run(6, users_df, existing=existing,
                          tag_ids=[2], user_keys=["user_001", "user_002"]).collect()}
        assert out == {"user_001": [2, 50]}   # user_002 doesn't hit tag 2

    def test_scenario_missing_params_raise(self, runner, users_df):
        with pytest.raises(ValueError):
            runner.run(5, users_df)
        with pytest.raises(ValueError):
            runner.run(3, users_df)


class TestCLI:
    @pytest.fixture()
    def env(self, spark, tmp_path):
        import json

        from .conftest import RULES, USERS, USER_SCHEMA

        facts = str(tmp_path / "facts")
        spark.createDataFrame(USERS, schema=USER_SCHEMA).write.parquet(facts)
        rules = str(tmp_path / "rules.json")
        with open(rules, "w") as fh:
            json.dump(RULES, fh)
        return {"facts": facts, "rules": rules,
                "store": str(tmp_path / "store")}

    def test_full_then_incremental_roundtrip(self, spark, env):
        from bigdata_tag_system_spark.cli import main

        from .conftest import AS_OF, EXPECTED

        rc = main(["--mode", "full", "--facts", env["facts"],
                   "--rules", env["rules"], "--store", env["store"],
                   "--as-of", AS_OF])
        assert rc == 0
        store = spark.read.parquet(env["store"])
        got = {r["user_id"]: set(r["tag_ids"]) for r in store.collect()}
        want = {}
        for tag, users in EXPECTED.items():
            for u in users:
                want.setdefault(u, set()).add(tag)
        assert got == want

        # incremental run: no new users → store unchanged (keys survive)
        rc = main(["--mode", "incremental-parallel", "--facts", env["facts"],
                   "--rules", env["rules"], "--store", env["store"],
                   "--as-of", AS_OF])
        assert rc == 0
        again = {r["user_id"]: set(r["tag_ids"])
                 for r in spark.read.parquet(env["store"]).collect()}
        assert again == want

    def test_full_then_incremental_roundtrip_bucketed(self, spark, env):
        # same round-trip as above, but through the bucketed store path:
        # results must be identical; the merge plan property is asserted
        # in TestBucketedStore
        from bigdata_tag_system_spark.cli import main

        from .conftest import AS_OF, EXPECTED

        common = ["--rules", env["rules"], "--store", env["store"],
                  "--as-of", AS_OF, "--store-buckets", "4"]
        rc = main(["--mode", "full", "--facts", env["facts"], *common])
        assert rc == 0
        want = {}
        for tag, users in EXPECTED.items():
            for u in users:
                want.setdefault(u, set()).add(tag)
        got = {r["user_id"]: set(r["tag_ids"])
               for r in spark.read.parquet(env["store"]).collect()}
        assert got == want

        rc = main(["--mode", "incremental", "--facts", env["facts"], *common])
        assert rc == 0
        again = {r["user_id"]: set(r["tag_ids"])
                 for r in spark.read.parquet(env["store"]).collect()}
        assert again == want

    def test_duplicate_fact_keys_raise_on_store_merge(self, spark, env, tmp_path):
        # profiles are one row per FACT row, so duplicate user keys in the
        # facts table would fan out through the store merge join and
        # silently duplicate store rows — the default --on-duplicates
        # error policy must refuse (and --on-duplicates dedupe must not)
        from bigdata_tag_system_spark.cli import main
        from bigdata_tag_system_spark.sources.writers import DuplicateKeyError

        from .conftest import AS_OF

        rc = main(["--mode", "full", "--facts", env["facts"],
                   "--rules", env["rules"], "--store", env["store"],
                   "--as-of", AS_OF])
        assert rc == 0

        # mode=tags recomputes the tag for EVERY fact row, so the
        # duplicated user reaches the store merge twice (incremental mode
        # would anti-join an already-stored user away before the merge)
        dup_facts = str(tmp_path / "dup_facts")
        f = spark.read.parquet(env["facts"])
        # duplicate a user that MATCHES tag 1, so both copies survive the
        # profile filter and reach the merge
        f.unionByName(f.where("user_id = 'user_001'")).write.parquet(dup_facts)
        with pytest.raises(DuplicateKeyError):
            main(["--mode", "tags", "--tag-ids", "1", "--facts", dup_facts,
                  "--rules", env["rules"], "--store", env["store"],
                  "--as-of", AS_OF])
        # dedupe policy resolves instead of raising, one row per key
        rc = main(["--mode", "tags", "--tag-ids", "1", "--facts", dup_facts,
                   "--rules", env["rules"], "--store", env["store"],
                   "--as-of", AS_OF, "--on-duplicates", "dedupe"])
        assert rc == 0
        store = spark.read.parquet(env["store"])
        assert store.count() == store.select("user_id").distinct().count()

    def test_user_tags_mode_and_health(self, spark, env, capsys):
        from bigdata_tag_system_spark.cli import main

        from .conftest import AS_OF

        rc = main(["--mode", "user-tags", "--facts", env["facts"],
                   "--rules", env["rules"], "--store", env["store"],
                   "--tag-ids", "1", "--user-ids", "user_001,user_003",
                   "--as-of", AS_OF])
        assert rc == 0
        store = spark.read.parquet(env["store"])
        got = {r["user_id"]: set(r["tag_ids"]) for r in store.collect()}
        assert got == {"user_001": {1}, "user_003": {1}}

        assert main(["--mode", "health", "--facts", env["facts"]]) == 0
        assert "health: OK" in capsys.readouterr().out


class TestBucketedStore:
    def test_merge_reads_store_exchange_free(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.bucketed_store import (
            read_bucketed_store,
            write_bucketed_store,
        )
        from bigdata_tag_system_spark.sources.writers import merge_upsert_frames

        store = str(tmp_path / "bstore")
        assert read_bucketed_store(spark, store, "user_id", 4) is None
        prof1 = spark.createDataFrame(
            [("u1", [1]), ("u2", [2])], "user_id string, tag_ids array<int>")
        write_bucketed_store(spark, prof1, store, "user_id", 4)
        existing = read_bucketed_store(spark, store, "user_id", 4)

        new = spark.createDataFrame(
            [("u2", [5]), ("u3", [3])], "user_id string, tag_ids array<int>")
        merged = merge_upsert_frames(new, existing, ["user_id"], ["tag_ids"])
        plan = merged._jdf.queryExecution().executedPlan().toString()
        # the store side scans pre-bucketed data straight into the join:
        # exactly ONE Exchange in the whole merge plan — the fresh side,
        # which is new data and must be partitioned once regardless
        assert plan.count("Exchange") == 1, plan
        got = {r["user_id"]: r["tag_ids"] for r in merged.collect()}
        assert got == {"u1": [1], "u2": [2, 5], "u3": [3]}

        # swap-in-place: rewrite the live store from a plan that reads it
        write_bucketed_store(spark, merged, store, "user_id", 4)
        back = read_bucketed_store(spark, store, "user_id", 4)
        assert {r["user_id"]: r["tag_ids"] for r in back.collect()} == got
        # the bucket spec is part of the on-disk layout: registering or
        # rewriting under a different N/key must refuse, not corrupt
        with pytest.raises(ValueError, match="bucket"):
            read_bucketed_store(spark, store, "user_id", 8)
        with pytest.raises(ValueError, match="bucket"):
            write_bucketed_store(spark, merged, store, "other_key", 4)


class TestDeltaAdapter:
    # Delta isn't installed in this container; the adapter's routing and
    # the parquet fallbacks are what these cover. The Delta branch is
    # format-gated (``_delta_log`` on disk + extension on the session),
    # same pattern as the JDBC-jar gate.
    def test_upsert_falls_back_without_delta(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.writers import (
            delta_available,
            upsert_into_store,
        )

        assert delta_available(spark) is False
        store = str(tmp_path / "ustore")
        spark.createDataFrame(
            [("u1", "old", [9]), ("u3", "keep", [7])],
            "user_id string, val string, tags array<int>").write.parquet(store)
        new = spark.createDataFrame(
            [("u1", "new", [1]), ("u2", "ins", [2])],
            "user_id string, val string, tags array<int>")
        merged = upsert_into_store(
            spark, new, store, ["user_id"], array_union_cols=["tags"],
            on_duplicates="allow")
        got = {r["user_id"]: (r["val"], r["tags"]) for r in merged.collect()}
        assert got == {"u1": ("new", [1, 9]), "u2": ("ins", [2]),
                       "u3": ("keep", [7])}

    def test_parquet_delete_where_semantics(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.writers import delete_from_store

        store = str(tmp_path / "dstore")
        spark.createDataFrame(
            [("u1", "x"), ("u2", "y"), ("u3", None)],
            "user_id string, val string").write.parquet(store)
        delete_from_store(spark, store, "val = 'x'")
        got = {r["user_id"] for r in spark.read.parquet(store).collect()}
        # DELETE kills only rows where the condition is TRUE: the
        # NULL-valued row survives, matching Delta's semantics
        assert got == {"u2", "u3"}


class TestStoreReadSafety:
    def test_failed_stage_write_leaves_store_and_no_stage(self, spark, tmp_path):
        # a write that fails part-way (files already in the stage) must
        # not leave the stage behind or touch the live store
        from bigdata_tag_system_spark.sources.writers import (
            DuplicateKeyError,
            resolve_duplicate_keys,
            staged_swap_write,
        )

        store = str(tmp_path / "swap_store")
        spark.createDataFrame([("u1", "x")], "user_id string, val string") \
            .write.parquet(store)
        before = {n: open(os.path.join(store, n), "rb").read()
                  for n in os.listdir(store)}

        def _half_written(stage):
            os.makedirs(stage)
            open(os.path.join(stage, "part-0.parquet"), "wb").close()
            raise OSError("disk full")

        with pytest.raises(OSError, match="disk full"):
            staged_swap_write(_half_written, store)
        assert not os.path.exists(store + ".__stage__")
        dup = resolve_duplicate_keys(spark.createDataFrame(
            [("u1", "a"), ("u1", "b")], "user_id string, val string"),
            ["user_id"], "error")
        with pytest.raises(DuplicateKeyError, match="u1"):
            staged_swap_write(lambda st: dup.write.parquet(st), store)
        assert not os.path.exists(store + ".__stage__")
        assert {n: open(os.path.join(store, n), "rb").read()
                for n in os.listdir(store)} == before

    def test_missing_store_returns_none(self, spark, tmpdir_mod):
        from bigdata_tag_system_spark.sources.writers import read_store_if_exists

        assert read_store_if_exists(spark, f"{tmpdir_mod}/nope") is None

    def test_corrupt_store_raises(self, spark, tmpdir_mod):
        import os

        from bigdata_tag_system_spark.sources.writers import read_store_if_exists

        bad = f"{tmpdir_mod}/corrupt_store"
        os.makedirs(bad, exist_ok=True)
        with open(f"{bad}/part-00000.parquet", "wb") as fh:
            fh.write(b"this is not parquet")
        # must propagate, never be treated as an empty store; structured so
        # a regression to "return None" fails the test rather than
        # satisfying a blanket pytest.raises
        raised = False
        df = "unset"
        try:
            df = read_store_if_exists(spark, bad)
            if df is not None:
                df.collect()
        except Exception:
            raised = True
        assert raised, f"corrupt store must raise, got {df!r}"


class TestCLIOutputs:
    def test_dry_run_writes_nothing(self, spark, tmp_path, capsys):
        import json as _json
        import os

        from bigdata_tag_system_spark.cli import main

        from .conftest import AS_OF, RULES, USERS, USER_SCHEMA

        facts = str(tmp_path / "facts")
        spark.createDataFrame(USERS, schema=USER_SCHEMA).write.parquet(facts)
        rules = str(tmp_path / "rules.json")
        with open(rules, "w") as fh:
            _json.dump(RULES, fh)
        store = str(tmp_path / "store")

        rc = main(["--mode", "full", "--facts", facts, "--rules", rules,
                   "--store", store, "--as-of", AS_OF, "--dry-run"])
        assert rc == 0
        assert not os.path.exists(store)
        out = capsys.readouterr().out
        assert "rows:" in out and "Physical Plan" in out

        # --output writes there, store untouched
        target = str(tmp_path / "elsewhere")
        rc = main(["--mode", "full", "--facts", facts, "--rules", rules,
                   "--output", target, "--as-of", AS_OF])
        assert rc == 0
        assert not os.path.exists(store)
        assert spark.read.parquet(target).count() > 0


class TestProfileColumns:
    def test_profile_stats_and_nested_tolerance(self, spark):
        from bigdata_tag_system_spark.sources.catalog import profile_columns

        df = spark.createDataFrame(
            [(1, "a", [1, 2], 0.5), (2, None, [], None), (2, "c", None, 1.5)],
            "k long, s string, arr array<int>, f double")
        out = {r["column"]: r.asDict() for r in profile_columns(df).collect()}
        assert out["k"]["n_rows"] == 3
        assert out["k"]["n_nulls"] == 0 and out["k"]["n_distinct"] == 2
        assert out["k"]["min_value"] == "1" and out["k"]["max_value"] == "2"
        assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
        # nested types profile without failing; distinct/minmax are NULL
        assert out["arr"]["n_nulls"] == 1 and out["arr"]["n_distinct"] is None
        assert out["arr"]["min_value"] is None
        # floats: nulls/distinct computed, min/max withheld (formatting
        # is engine-specific)
        assert out["f"]["n_nulls"] == 1 and out["f"]["n_distinct"] == 2
        assert out["f"]["min_value"] is None

    def test_profile_decimal_minmax_and_empty_frame(self, spark):
        from bigdata_tag_system_spark.sources.catalog import profile_columns

        dec = spark.createDataFrame([(1,), (2,)], "k long").select(
            F.col("k").cast("decimal(20,8)").alias("d"))
        row = profile_columns(dec).collect()[0]
        # decimal is exact → min/max ARE profiled
        assert row["min_value"] == "1.00000000" and row["max_value"] == "2.00000000"
        # empty frame: n_nulls must be 0, not NULL
        empty = spark.createDataFrame([], "k long")
        row = profile_columns(empty).collect()[0]
        assert row["n_rows"] == 0 and row["n_nulls"] == 0

    def test_profile_rejects_unknown_columns(self, spark):
        import pytest as _pytest

        from bigdata_tag_system_spark.sources.catalog import profile_columns

        df = spark.createDataFrame([(1,)], "k long")
        with _pytest.raises(KeyError):
            profile_columns(df, ["nope"])
