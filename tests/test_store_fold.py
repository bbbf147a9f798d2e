"""The store fold on the tag path: one full-outer join per job.

``ScenarioRunner.fold`` merges a scenario's batch into the whole store;
the CLI runs batch → duplicate-key guard → fold → staged write, the
guard a window inside the write's plan. These tests pin
the fold to the two-step merge it replaced (``merge_profiles`` against
the store, then ``merge_upsert_frames`` against it again), the
store-only rows to their stored values, and each merge rule to one
spelling.
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import os
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.arrays import merged_tag_array
from bigdata_tag_system_spark.operators.merge import MergeStrategy, merge_profiles
from bigdata_tag_system_spark.plans.scenarios import ScenarioRunner
from bigdata_tag_system_spark.sources.bucketed_store import (
    read_bucketed_store,
    write_bucketed_store,
)
from bigdata_tag_system_spark.sources.writers import (
    merge_upsert_frames,
    _upsert_column_sql,
)

from .conftest import AS_OF, RULES, USER_SCHEMA, USERS

DETAIL = ("struct<tag_name:string,tag_category:string,rule_id:int,"
          "rule_version:string,value:string,reason:string,hit_time:timestamp>")
PROFILE_SCHEMA = (f"user_id string, tag_ids array<int>, "
                  f"tag_details map<string,{DETAIL}>, computed_date date")
STORED_DAY = _dt.date(2024, 1, 1)
USER_SCHEMA_COLS = [c.split()[0] for c in USER_SCHEMA.split(", ")]


def _detail(tag_id: int):
    return (f"stored_{tag_id}", "old", tag_id, "0.9", "v", "r",
            _dt.datetime(2024, 1, 1))


# user_001 and user_003 are in the facts and the store; user_002, _004
# and _005 only in the facts; user_9xx only in the store: one unsorted
# array with a duplicate, one NULL array, NULL details, NULL date
STORE_ROWS = [
    ("user_001", [60, 1], {"60": _detail(60), "1": _detail(1)}, STORED_DAY),
    ("user_003", None, None, STORED_DAY),
    ("user_900", [3, 1, 3], None, STORED_DAY),
    ("user_901", None, None, None),
    ("user_902", [50], {"50": _detail(50)}, STORED_DAY),
]

# the parent's merge per scenario (scenario 2 was `union` then)
PARENT_MERGE = {2: "union", 3: "union", 4: "union", 5: "overwrite", 6: "union"}

FOLD_MODES = {
    "incremental": (2, []),
    "tags": (3, ["--tag-ids", "1,3,4"]),
    "incremental-tags": (4, ["--tag-ids", "1,3,4"]),
    "users": (5, ["--user-ids", "user_001,user_003,user_004,user_900"]),
    "user-tags": (6, ["--tag-ids", "1,3,4",
                      "--user-ids", "user_001,user_003,user_004,user_900"]),
}


def _norm(rows):
    """Store rows by user, with each detail's hit_time dropped (the CLI
    stamps details with the run's wall clock)."""
    out = {}
    for r in rows:
        d = r.asDict(recursive=True)
        if d["tag_details"] is not None:
            d["tag_details"] = {
                k: {f: v for f, v in det.items() if f != "hit_time"}
                for k, det in d["tag_details"].items()}
        out[d["user_id"]] = d
    return out


def _write_store(spark, rows, path, buckets):
    df = spark.createDataFrame(rows, PROFILE_SCHEMA)
    if buckets:
        write_bucketed_store(spark, df, path, "user_id", buckets)
    else:
        df.write.parquet(path)


def _read_store(spark, path, buckets):
    if buckets:
        return read_bucketed_store(spark, path, "user_id", buckets)
    return spark.read.parquet(path)


def _files(path):
    """Every file under a store directory, by relative path, with its
    bytes (empty when the directory is absent)."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def _dup_facts(spark, env, tmp_path):
    """The fixture's facts with user_001 twice."""
    f = spark.read.parquet(env["facts"])
    path = str(tmp_path / "dup_facts")
    f.unionByName(f.where("user_id = 'user_001'")).write.parquet(path)
    return path


def _plan_nodes(out: str, node: str) -> int:
    """How many ``node`` operators a formatted explain lists."""
    return len(re.findall(rf"^\(\d+\) {node}\b", out, flags=re.M))


@pytest.fixture()
def env(spark, tmp_path):
    facts = str(tmp_path / "facts")
    spark.createDataFrame(USERS, schema=USER_SCHEMA).write.parquet(facts)
    rules = str(tmp_path / "rules.json")
    with open(rules, "w") as fh:
        json.dump(RULES, fh)
    return {"facts": facts, "rules": rules, "store": str(tmp_path / "fold_store")}


class TestCliFoldParity:
    @pytest.mark.parametrize("buckets", [0, 4])
    @pytest.mark.parametrize("mode", sorted(FOLD_MODES))
    def test_store_equals_two_step_merge(self, spark, env, golden_rules, mode, buckets):
        from bigdata_tag_system_spark.cli import main

        scenario, extra = FOLD_MODES[mode]
        _write_store(spark, STORE_ROWS, env["store"], buckets)
        store = _read_store(spark, env["store"], buckets)
        tag_ids = user_keys = None
        if "--tag-ids" in extra:
            tag_ids = [int(x) for x in extra[extra.index("--tag-ids") + 1].split(",")]
        if "--user-ids" in extra:
            user_keys = extra[extra.index("--user-ids") + 1].split(",")
        runner = ScenarioRunner(golden_rules, as_of=AS_OF)
        batch = runner.batch(scenario, spark.read.parquet(env["facts"]),
                             existing=store, tag_ids=tag_ids,
                             user_keys=user_keys, computed_date=AS_OF)
        # the parent's two joins against the store, kept as the reference
        two_step = merge_upsert_frames(
            merge_profiles(batch, store, PARENT_MERGE[scenario]), store,
            key_cols=["user_id"])
        want = _norm(two_step.collect())
        want_cols = two_step.columns

        argv = ["--mode", mode, "--facts", env["facts"], "--rules", env["rules"],
                "--store", env["store"], "--as-of", AS_OF,
                "--computed-date", AS_OF, *extra]
        if buckets:
            argv += ["--store-buckets", str(buckets)]
        assert main(argv) == 0
        written = spark.read.parquet(env["store"])
        assert written.columns == want_cols
        got = _norm(written.collect())
        assert got == want
        # users outside the batch come back exactly as stored
        assert got["user_900"]["tag_ids"] == [3, 1, 3]
        assert got["user_900"]["tag_details"] is None
        assert got["user_901"]["tag_ids"] is None
        assert got["user_901"]["computed_date"] is None
        assert got["user_902"]["tag_ids"] == [50]

    def test_tags_dry_run_scans_store_once(self, spark, env):
        from bigdata_tag_system_spark.cli import main

        _write_store(spark, STORE_ROWS, env["store"], 0)
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = main(["--mode", "tags", "--tag-ids", "1,3", "--facts", env["facts"],
                       "--rules", env["rules"], "--store", env["store"],
                       "--as-of", AS_OF, "--dry-run"])
        assert rc == 0
        out = buf.getvalue()
        store_scans = [ln for ln in out.splitlines()
                       if ln.startswith("Location:") and "fold_store" in ln]
        assert len(store_scans) == 1, out

    def test_dedupe_keeps_the_max_batch_row_then_folds(self, spark, env, tmp_path):
        # user_001 twice: row A hits tag 3 only, row B tags 1 and 4. The
        # probe picks among BATCH rows by (tag_ids, computed_date): [3]
        # beats [1, 4], so A is kept and folded with the stored [1]. The
        # rows are chosen so the pick depends on when it runs: among
        # folded rows B ([1, 4]) would beat A ([1, 3]).
        from bigdata_tag_system_spark.cli import main

        base = dict(zip(USER_SCHEMA_COLS, USERS[0]))
        row_a = {**base, "total_asset_value": 50000.0, "trade_count_30d": 25,
                 "cash_balance": 1000.0}
        row_b = {**base, "total_asset_value": 150000.0, "trade_count_30d": 5,
                 "cash_balance": 200000.0}
        facts = str(tmp_path / "dup_facts")
        spark.createDataFrame(
            [tuple(r[c] for c in USER_SCHEMA_COLS) for r in (row_a, row_b)],
            schema=USER_SCHEMA).write.parquet(facts)
        _write_store(spark, [("user_001", [1], {"1": _detail(1)}, STORED_DAY)],
                     env["store"], 0)
        rc = main(["--mode", "tags", "--tag-ids", "1,3,4", "--facts", facts,
                   "--rules", env["rules"], "--store", env["store"],
                   "--as-of", AS_OF, "--computed-date", AS_OF,
                   "--on-duplicates", "dedupe"])
        assert rc == 0
        (row,) = spark.read.parquet(env["store"]).collect()
        assert row["tag_ids"] == [1, 3]
        details = row["tag_details"]
        assert sorted(details) == ["1", "3"]
        assert details["1"]["tag_name"] == "stored_1"   # stored, not re-hit
        assert details["3"]["tag_name"] == "active_trader"

    @pytest.mark.parametrize("mode, extra", [
        ("tags", ["--tag-ids", "1"]),
        ("full", []),
    ])
    def test_first_run_duplicate_keys_raise(self, spark, env, tmp_path, mode, extra):
        # no store yet: the probe still runs, so duplicate fact keys never
        # enter the store (a later fold sees only the batch, and each
        # stored copy would join it and survive)
        from bigdata_tag_system_spark.cli import main
        from bigdata_tag_system_spark.sources.writers import DuplicateKeyError

        dup_facts = _dup_facts(spark, env, tmp_path)
        with pytest.raises(DuplicateKeyError, match="user_001"):
            main(["--mode", mode, "--facts", dup_facts, "--rules", env["rules"],
                  "--store", env["store"], "--as-of", AS_OF, *extra])
        assert not os.path.exists(env["store"])
        assert not os.path.exists(env["store"] + ".__stage__")

    @pytest.mark.parametrize("buckets", [0, 4])
    @pytest.mark.parametrize("mode, extra", [
        ("tags", ["--tag-ids", "1"]),
        ("full", []),
    ])
    def test_duplicate_keys_over_a_store_raise(self, spark, env, tmp_path,
                                               mode, extra, buckets):
        # the guard fails the staged write: the stage goes, and the store
        # keeps every byte
        from bigdata_tag_system_spark.cli import main
        from bigdata_tag_system_spark.sources.writers import DuplicateKeyError

        dup_facts = _dup_facts(spark, env, tmp_path)
        _write_store(spark, STORE_ROWS, env["store"], buckets)
        before = _files(env["store"])
        with pytest.raises(DuplicateKeyError, match="user_001"):
            main(["--mode", mode, "--facts", dup_facts, "--rules", env["rules"],
                  "--store", env["store"], "--as-of", AS_OF,
                  "--store-buckets", str(buckets), *extra])
        assert _files(env["store"]) == before
        assert not os.path.exists(env["store"] + ".__stage__")

    def test_dry_run_executes_no_probe(self, spark, env, tmp_path):
        # the `error` guard is part of the plan the dry run counts: the
        # count raises, and no cached batch appears in the plan
        from bigdata_tag_system_spark.cli import main
        from bigdata_tag_system_spark.sources.writers import DuplicateKeyError

        dup_facts = _dup_facts(spark, env, tmp_path)
        _write_store(spark, STORE_ROWS, env["store"], 0)
        before = _files(env["store"])
        argv = ["--mode", "tags", "--tag-ids", "1", "--facts", dup_facts,
                "--rules", env["rules"], "--store", env["store"],
                "--as-of", AS_OF, "--dry-run"]
        buf = io.StringIO()
        with redirect_stdout(buf), pytest.raises(DuplicateKeyError, match="user_001"):
            main(argv)
        assert "InMemoryRelation" not in buf.getvalue(), buf.getvalue()
        assert _files(env["store"]) == before
        # unguarded, the dry run counts the fold, duplicates and all
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = main([*argv, "--on-duplicates", "allow"])
        assert rc == 0
        # 5 stored users, user_005 new, user_001 twice (one per fact row)
        assert "rows: 7" in buf.getvalue()

    @pytest.mark.parametrize("buckets, policy, exchanges", [
        (0, "error", 2), (0, "dedupe", 2), (4, "error", 1), (4, "dedupe", 1),
    ])
    def test_fold_plan_guard_adds_no_exchange(self, spark, env, buckets, policy,
                                              exchanges):
        # the guard rides the fold's shuffle: a plain store's join moves
        # both sides once, a bucketed store's only the batch
        from bigdata_tag_system_spark.cli import main

        _write_store(spark, STORE_ROWS, env["store"], buckets)
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = main(["--mode", "tags", "--tag-ids", "1,3", "--facts", env["facts"],
                       "--rules", env["rules"], "--store", env["store"],
                       "--as-of", AS_OF, "--dry-run", "--on-duplicates", policy,
                       "--store-buckets", str(buckets)])
        assert rc == 0
        out = buf.getvalue()
        assert _plan_nodes(out, "Exchange") == exchanges, out
        assert "InMemoryRelation" not in out, out
        if policy == "error":
            assert _plan_nodes(out, "Window") == 1, out


class TestFold:
    def test_bucketed_union_fold_one_exchange(self, spark, users_df, golden_rules, tmp_path):
        path = str(tmp_path / "bstore")
        _write_store(spark, STORE_ROWS, path, 4)
        store = read_bucketed_store(spark, path, "user_id", 4)
        runner = ScenarioRunner(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")
        batch = runner.batch(3, users_df, existing=store, tag_ids=[1, 4])
        folded = runner.fold(3, batch, store)
        plan = folded._jdf.queryExecution().executedPlan().toString()
        # the store scan feeds the join pre-bucketed: only the batch moves
        assert plan.count("Exchange") == 1, plan
        got = {r["user_id"]: r["tag_ids"] for r in folded.collect()}
        assert got["user_001"] == [1, 60]
        assert got["user_900"] == [3, 1, 3]
        assert "user_002" not in got        # no hit among tags 1 and 4

    def test_full_rebuild_fold_is_the_batch(self, spark, users_df, golden_rules):
        store = spark.createDataFrame(STORE_ROWS, PROFILE_SCHEMA)
        runner = ScenarioRunner(golden_rules, as_of=AS_OF)
        batch = runner.batch(1, users_df, existing=store)
        assert runner.fold(1, batch, store) is batch
        assert runner.fold(3, batch, None) is batch

    def test_scenario_2_overwrite_matches_union(self, spark, users_df, golden_rules):
        # scenario 2's batch is anti-joined against the store, so the
        # union merge it used to run could never match a stored row
        store = spark.createDataFrame(STORE_ROWS, PROFILE_SCHEMA)
        runner = ScenarioRunner(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")
        out = runner.run(2, users_df, existing=store, computed_date=AS_OF)
        batch = runner.batch(2, users_df, existing=store, computed_date=AS_OF)
        union = merge_profiles(batch, store, MergeStrategy.UNION)
        assert out.dtypes == union.dtypes   # nullability aside
        assert _norm(out.collect()) == _norm(union.collect())
        # the anti join is the only join left
        assert _plan(out).count("Join ") == 1
        assert _plan(union).count("Join ") == 2


class TestFullOuterUnionStoreOnly:
    def test_store_only_rows_untouched(self, spark):
        new = spark.createDataFrame(
            [("u1", [2, 1], None, STORED_DAY),
             ("u4", None, None, STORED_DAY)], PROFILE_SCHEMA)
        existing = spark.createDataFrame(
            [("u1", [5, 1, 5], {"5": _detail(5)}, STORED_DAY),
             ("u2", [3, 1, 3], None, STORED_DAY),
             ("u3", None, None, None)], PROFILE_SCHEMA)
        got = {r["user_id"]: r for r in merge_profiles(
            new, existing, MergeStrategy.FULL_OUTER_UNION).collect()}
        assert got["u1"]["tag_ids"] == [1, 2, 5]          # in both: sorted union
        assert got["u2"]["tag_ids"] == [3, 1, 3]          # store-only: as stored
        assert got["u2"]["tag_details"] is None
        assert got["u3"]["tag_ids"] is None
        assert got["u3"]["tag_details"] is None
        assert got["u3"]["computed_date"] is None
        assert got["u4"]["tag_ids"] == []                 # batch-only NULL → empty


def _merged_tag_array_columns(a, b):
    """The deleted Column-API build of ``merged_tag_array``."""
    empty = F.array().cast("array<int>")
    return F.array_sort(F.array_distinct(F.array_union(
        F.coalesce(a, empty), F.coalesce(b, empty))))


def _merge_upsert_columns(new, existing, key_cols, array_union_cols=()):
    """The deleted Column-API build of ``merge_upsert_frames``."""
    keys = list(key_cols)
    joined = new.alias("n").join(existing.alias("e"), on=keys, how="full_outer")
    out_cols = [F.col(k) for k in keys]
    for c in new.columns:
        if c in keys:
            continue
        nc = F.col(f"n.{c}")
        ec = F.col(f"e.{c}") if c in existing.columns else F.lit(None)
        if c in array_union_cols:
            merged = F.when(
                nc.isNotNull() & ec.isNotNull(),
                F.array_sort(F.array_distinct(F.array_union(nc, ec))),
            ).otherwise(F.coalesce(nc, ec))
        else:
            merged = F.coalesce(nc, ec)
        out_cols.append(merged.alias(c))
    return joined.select(*out_cols)


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", text)


class TestOneSpelling:
    def test_store_schema_is_the_profiles_schema(self, spark, users_df, golden_rules):
        # the CLI reads the store with profile_schema; the profiles the
        # engine writes must carry exactly those names and types
        from bigdata_tag_system_spark.operators.tagging import TagEngine, profile_schema

        got = TagEngine(golden_rules, as_of=AS_OF).profiles(users_df).schema
        known = spark.createDataFrame([], profile_schema("user_id", "string")).schema
        spelled = lambda schema: [(f.name, f.dataType.simpleString()) for f in schema]
        assert spelled(got) == spelled(known)
        assert spelled(known) == spelled(spark.createDataFrame([], PROFILE_SCHEMA).schema)

    def test_merged_tag_array_matches_column_build(self, spark):
        df = spark.createDataFrame(
            [(1, [3, 1, 3], [2, 2]), (2, None, [5, 4]), (3, [9, 7], None),
             (4, None, None), (5, [], [1, 1, 0]), (6, [4, None, 4], [None, 2])],
            "k int, a array<int>, b array<int>")
        new = df.select("k", merged_tag_array("a", "b").alias("m"))
        old = df.select("k", _merged_tag_array_columns(F.col("a"), F.col("b")).alias("m"))
        assert sorted(new.collect()) == sorted(old.collect())
        assert _plan(new) == _plan(old)
        got = {r["k"]: r["m"] for r in new.collect()}
        assert got[1] == [1, 2, 3] and got[4] == [] and got[6] == [2, 4, None]

    def test_upsert_rule_renders_the_delta_text(self):
        assert _upsert_column_sql("tags", "s", "t", array_union=True) == (
            "CASE WHEN s.`tags` IS NOT NULL AND t.`tags` IS NOT NULL "
            "THEN array_sort(array_distinct(array_union(s.`tags`, t.`tags`))) "
            "ELSE coalesce(s.`tags`, t.`tags`) END")
        assert _upsert_column_sql("val", "s", "t") == "coalesce(s.`val`, t.`val`)"
        assert _upsert_column_sql("val", "n", None) == "coalesce(n.`val`, NULL)"

    def test_merge_upsert_frames_matches_column_build(self, spark):
        new = spark.createDataFrame(
            [("u1", "new", [2, 1], 7), ("u2", None, None, 8), ("u4", "ins", [4], None)],
            "user_id string, val string, tags array<int>, only_new int")
        existing = spark.createDataFrame(
            [("u1", "old", [9, 1]), ("u2", "keep", [3, 1, 3]), ("u3", "s", None)],
            "user_id string, val string, tags array<int>")
        for cols in ((), ("tags",)):
            got = merge_upsert_frames(new, existing, ["user_id"], cols)
            ref = _merge_upsert_columns(new, existing, ["user_id"], cols)
            assert got.schema == ref.schema
            assert sorted(got.collect()) == sorted(ref.collect())
            assert _plan(got) == _plan(ref)
        rows = {r["user_id"]: r for r in got.collect()}
        assert rows["u1"]["tags"] == [1, 2, 9]
        assert rows["u2"]["tags"] == [3, 1, 3] and rows["u2"]["val"] == "keep"
        assert rows["u3"]["tags"] is None and rows["u3"]["only_new"] is None
