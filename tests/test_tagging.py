"""One-pass tag pipeline tests against the golden fixture (FIXTURES.md §4)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from bigdata_tag_system_spark.operators.merge import MergeStrategy, merge_profiles
from bigdata_tag_system_spark.operators.tagging import TagEngine

from .conftest import AS_OF, EXPECTED


def test_golden_profiles(spark, users_df, golden_rules):
    eng = TagEngine(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")
    prof = eng.profiles(users_df, computed_date=AS_OF)
    rows = {r["user_id"]: r for r in prof.collect()}

    # invert EXPECTED into per-user tag sets
    per_user: dict[str, set[int]] = {}
    for tag, users in EXPECTED.items():
        for u in users:
            per_user.setdefault(u, set()).add(tag)

    assert set(rows) == set(per_user)
    for u, tags in per_user.items():
        assert rows[u]["tag_ids"] == sorted(tags), u
        # details keyed by str(tag_id), carrying name/category
        assert set(rows[u]["tag_details"].keys()) == {str(t) for t in tags}
        assert str(rows[u]["computed_date"]) == AS_OF


def test_golden_assignments(spark, users_df, golden_rules):
    eng = TagEngine(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")
    asg = eng.assignments(users_df)
    got: dict[int, set[str]] = {}
    for r in asg.collect():
        got.setdefault(r["tag_id"], set()).add(r["user_id"])
        detail = json.loads(r["tag_detail"])
        assert {"tag_name", "tag_category", "rule_id", "hit_time"} <= set(detail)
    assert got == EXPECTED


def test_single_pass_plan(spark, users_df, golden_rules):
    """profiles() must be a single projection — no shuffle/exchange at all."""
    eng = TagEngine(golden_rules, as_of=AS_OF)
    plan = eng.profiles(users_df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_enriched_assignments_broadcast(spark, users_df, golden_rules):
    defs = spark.createDataFrame(
        [(t, f"name_{t}") for t in range(1, 8)], "tag_id int, def_name string"
    )
    eng = TagEngine(golden_rules, as_of=AS_OF)
    enriched = eng.enriched_assignments(users_df, defs)
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    row = enriched.where("user_id='user_002'").collect()
    assert [r["def_name"] for r in row] == ["name_5"]


def test_merge_union(spark, users_df, golden_rules):
    eng = TagEngine(golden_rules, as_of=AS_OF)
    new = eng.profiles(users_df, computed_date=AS_OF)
    existing = spark.createDataFrame(
        [("user_001", [99]), ("user_999", [1])], "user_id string, tag_ids array<int>"
    )
    merged = {r["user_id"]: r["tag_ids"] for r in
              merge_profiles(new, existing, MergeStrategy.UNION).collect()}
    assert merged["user_001"] == [1, 2, 3, 6, 7, 99]
    assert "user_999" not in merged  # UNION keeps only new-batch users

    full = {r["user_id"]: r["tag_ids"] for r in
            merge_profiles(new, existing, MergeStrategy.FULL_OUTER_UNION).collect()}
    assert full["user_999"] == [1]
    assert full["user_001"] == [1, 2, 3, 6, 7, 99]

    over = {r["user_id"]: r["tag_ids"] for r in
            merge_profiles(new, existing, MergeStrategy.OVERWRITE).collect()}
    assert over["user_001"] == [1, 2, 3, 6, 7]


def test_column_pruning_fields(golden_rules):
    eng = TagEngine(golden_rules)
    assert "login_count_30d" in eng.fields()  # nested group field found
    assert eng.fields() <= {
        "total_asset_value", "user_level", "kyc_status", "trade_count_30d",
        "cash_balance", "age", "last_login_date", "login_count_30d",
    }


class TestObservedMetrics:
    def test_observation_rides_the_write(self, spark, tmp_path, golden_rules):
        from .conftest import AS_OF, EXPECTED, USERS, USER_SCHEMA
        from bigdata_tag_system_spark.operators.tagging import TagEngine

        facts = spark.createDataFrame(USERS, schema=USER_SCHEMA)
        eng = TagEngine(golden_rules, as_of=AS_OF)
        prof, obs = eng.observed_profiles(facts, computed_date=AS_OF)
        prof.write.mode("overwrite").parquet(str(tmp_path / "out"))  # ONE action
        m = obs.get
        want_hits = sum(len(v) for v in EXPECTED.values())
        want_users = len({u for v in EXPECTED.values() for u in v})
        assert m["profiles"] == want_users
        assert m["tag_hits"] == want_hits
        for tag, users in EXPECTED.items():
            assert m[f"tag_{tag}_hits"] == len(users)


class TestDecimalRules:
    def test_decimal_20_8_exact_comparison(self, spark):
        from decimal import Decimal

        from pyspark.sql.types import DecimalType, StructField, StructType, StringType
        from bigdata_tag_system_spark.rules.compiler import compile_rule

        schema = StructType([
            StructField("user_id", StringType()),
            StructField("bal", DecimalType(20, 8)),
        ])
        rows = [
            ("u1", Decimal("100000.00000001")),
            ("u2", Decimal("100000.00000000")),
            ("u3", Decimal("99999.99999999")),
        ]
        df = spark.createDataFrame(rows, schema)
        cond = {"field": "bal", "operator": ">", "value": "100000.00000000",
                "type": "decimal"}
        got = {r["user_id"] for r in df.where(compile_rule(cond)).collect()}
        # exact at 8 fractional digits — a double literal would collapse
        # u1/u2 onto the same value
        assert got == {"u1"}


class TestDetailParity:
    """Reference detail-JSON parity: reason / value / rule_version
    (``src/engine/tag_computer.py:160-284``) built natively, no UDF."""

    def test_detail_fields_present(self, spark, users_df, golden_rules):
        eng = TagEngine(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")
        row = eng.profiles(users_df, computed_date=AS_OF) \
            .where("user_id='user_001'").collect()[0]
        d = row["tag_details"]["1"].asDict()
        assert d["rule_version"] == "1.0"
        # live value of the rule's FIRST condition field (total_asset_value)
        assert d["value"] == "150000.0"
        assert d["reason"] == "total_asset_value=150000.0 >= 100000"

    def test_reason_logic_joins(self, spark, users_df, golden_rules):
        eng = TagEngine(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")
        row = eng.profiles(users_df, computed_date=AS_OF) \
            .where("user_id='user_005'").collect()[0]
        # rule 7: AND of two leaves plus a nested OR group
        r7 = row["tag_details"]["7"].asDict()["reason"]
        assert r7 == ("(total_asset_value=500000.0 >= 100000"
                      " AND user_level=VIP3 in [VIP2,VIP3]"
                      " AND (trade_count_30d=30 >= 10"
                      " OR login_count_30d=25 >= 20))")
        # rule 2: in + = leaves
        r2 = row["tag_details"]["2"].asDict()["reason"]
        assert r2 == ("(user_level=VIP3 in [VIP2,VIP3]"
                      " AND kyc_status=verified = verified)")

    def test_assignment_detail_json_carries_parity_fields(
            self, spark, users_df, golden_rules):
        eng = TagEngine(golden_rules, as_of=AS_OF, run_ts="2024-07-13T00:00:00")
        for r in eng.assignments(users_df).collect():
            d = json.loads(r["tag_detail"])
            assert {"tag_name", "tag_category", "rule_id", "rule_version",
                    "value", "reason", "hit_time"} <= set(d)

    def test_rule_version_from_catalog_row(self):
        from bigdata_tag_system_spark.rules.model import Rule

        r = Rule.from_row({"tag_id": 9, "rule_conditions": {},
                           "rule_version": "2.3"})
        assert r.rule_version == "2.3"

    def test_single_pass_plan_still_no_exchange(self, spark, users_df, golden_rules):
        eng = TagEngine(golden_rules, as_of=AS_OF)
        plan = eng.profiles(users_df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestValidate:
    def test_validate_ok(self, spark, users_df, golden_rules):
        eng = TagEngine(golden_rules, as_of=AS_OF)
        rep = eng.validate(users_df)
        assert rep["ok"] and rep["user_col_present"]
        assert all(r["ok"] and r["missing_fields"] == [] for r in rep["rules"])

    def test_validate_reports_missing_fields(self, spark, users_df, golden_rules):
        eng = TagEngine(golden_rules, as_of=AS_OF)
        rep = eng.validate(users_df.drop("total_asset_value", "kyc_status"))
        assert not rep["ok"] and rep["user_col_present"]
        by_rule = {r["rule_id"]: r for r in rep["rules"]}
        assert by_rule[1]["missing_fields"] == ["total_asset_value"]
        assert by_rule[2]["missing_fields"] == ["kyc_status"]
        # nested-group field resolution: rule 7 needs the dropped asset col
        assert "total_asset_value" in by_rule[7]["missing_fields"]
        assert by_rule[3]["ok"]  # untouched rule stays ok

    def test_validate_missing_user_col(self, spark, users_df, golden_rules):
        eng = TagEngine(golden_rules, as_of=AS_OF)
        rep = eng.validate(users_df.drop("user_id"))
        assert not rep["ok"] and not rep["user_col_present"]
        assert all(r["ok"] for r in rep["rules"])  # fields all present

    def test_validate_runs_no_job(self, spark, users_df, golden_rules):
        # schema-only: must not trigger a Spark action
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        TagEngine(golden_rules, as_of=AS_OF).validate(users_df)
        assert tracker.getJobIdsForGroup(None) == before


# ---------------------------------------------------------------------------
# Full detail content over every compiler operator. The other tests check
# detail keys or a few reasons; these rules use all 29 operators (nested,
# NOT groups, a dotted struct field, hostile text) and pin every byte of
# tag_details and of the assignment JSON. The expected rows were produced
# by the former Column-API builder and are kept as literals.
# ---------------------------------------------------------------------------

OP_RUN_TS = "2024-07-13T09:30:00+00:00"

OP_USERS = [
    # user_id, n, amt, score, s, d, arr, tags, flag, st.x
    ("u1", 10, "100000.00000001", 1.5, "alpha", "2024-07-10", [1, 2], ["a", "b"], True, 1),
    ("u2", 20, "100000.00000000", 2.5, "beta's", "2024-07-01", [2, 3], ["c"], False, 5),
    ("u3", None, "99999.99999999", None, "gam%ma", None, [], [], None, None),
    ("u4", 40, None, 4.0, None, "2024-06-01", None, None, True, 9),
    ("u5", 30, "5.5", -1.0, "x\\y\nz", "2024-07-13", [9], ["b", "d"], False, 3),
]

OP_RULES = [
    {"rule_id": 1, "tag_id": 11, "tag_name": "cmp", "tag_category": "c",
     "rule_version": "2.1",
     "rule_conditions": {"logic": "OR", "conditions": [
         {"field": "n", "operator": "=", "value": 10, "type": "number"},
         {"field": "n", "operator": "==", "value": "30", "type": "number"},
         {"logic": "AND", "conditions": [
             {"field": "s", "operator": "!=", "value": "alpha", "type": "string"},
             {"field": "s", "operator": "<>", "value": "gam%ma"},
             {"field": "score", "operator": ">", "value": 2.0, "type": "double"}]}]}},
    {"rule_id": 2, "tag_id": 12, "tag_name": "decimal", "tag_category": "c",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "amt", "operator": ">=", "value": "100000.00000000", "type": "decimal"},
         {"field": "amt", "operator": "<", "value": 100001, "type": "decimal"},
         {"field": "score", "operator": "<=", "value": 2.5, "type": "number"}]}},
    {"rule_id": 3, "tag_id": 13, "tag_name": "ranges", "tag_category": "r",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "n", "operator": "in_range", "value": [10, 30], "type": "number"},
         {"field": "score", "operator": "not_in_range", "value": [2.0, 3.0], "type": "number"}]}},
    {"rule_id": 4, "tag_id": 14, "tag_name": "dates", "tag_category": "d",
     "rule_conditions": {"logic": "OR", "conditions": [
         {"field": "d", "operator": "recent_days", "value": 3, "type": "date"},
         {"field": "d", "operator": "days_ago", "value": 40, "type": "date"},
         {"field": "d", "operator": "days_ago_between", "value": [10, 12], "type": "date"},
         {"field": "d", "operator": "date_between", "value": ["2024-07-09", "2024-07-11"],
          "type": "date"}]}},
    {"rule_id": 5, "tag_id": 15, "tag_name": "nulls", "tag_category": "n",
     "rule_conditions": {"logic": "OR", "conditions": [
         {"field": "amt", "operator": "is_null"},
         {"logic": "AND", "conditions": [
             {"field": "flag", "operator": "is_not_null"},
             {"field": "flag", "operator": "=", "value": "false", "type": "boolean"}]}]}},
    {"rule_id": 6, "tag_id": 16, "tag_name": "sets", "tag_category": "s",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "s", "operator": "in", "value": ["alpha", "beta's", "x\\y\nz"],
          "type": "string"},
         {"field": "st.x", "operator": "not_in", "value": [5, 7], "type": "number"}]}},
    {"rule_id": 7, "tag_id": 17, "tag_name": "text", "tag_category": "t",
     "rule_conditions": {"logic": "OR", "conditions": [
         {"field": "s", "operator": "contains", "value": "%m", "type": "string"},
         {"field": "s", "operator": "starts_with", "value": "bet", "type": "string"},
         {"logic": "AND", "conditions": [
             {"field": "s", "operator": "ends_with", "value": "\nz", "type": "string"},
             {"field": "s", "operator": "not_contains", "value": "'", "type": "string"}]}]}},
    {"rule_id": 8, "tag_id": 18, "tag_name": "regex", "tag_category": "t",
     "rule_conditions": {"logic": "AND", "conditions": [
         {"field": "s", "operator": "matches", "value": "^[a-z]+[\\\\'%]", "type": "string"},
         {"field": "s", "operator": "not_matches", "value": "ph", "type": "string"}]}},
    {"rule_id": 9, "tag_id": 19, "tag_name": "arrays", "tag_category": "a",
     "rule_conditions": {"logic": "OR", "conditions": [
         {"field": "arr", "operator": "array_contains", "value": 9, "type": "number"},
         {"logic": "AND", "conditions": [
             {"field": "arr", "operator": "contains_any", "value": [1, 4]},
             {"field": "tags", "operator": "intersects", "value": ["a", "z"]},
             {"field": "tags", "operator": "contains_all", "value": ["a", "b"]}]},
         {"logic": "AND", "conditions": [
             {"field": "arr", "operator": "disjoint", "value": [1, 9]},
             {"field": "tags", "operator": "disjoint", "value": ["d"]}]}]}},
    {"rule_id": 10, "tag_id": 20, "tag_name": "negated", "tag_category": "g",
     "rule_conditions": {"logic": "NOT", "conditions": [
         {"field": "st.x", "operator": ">", "value": 4, "type": "number"},
         {"field": "flag", "operator": "=", "value": True, "type": "bool"}]}},
]


@pytest.fixture(scope="module")
def op_engine_inputs(spark):
    from decimal import Decimal

    from bigdata_tag_system_spark.rules.model import load_rules

    rows = [(u, n, Decimal(a) if a else None, sc, s, d, arr, tags, flag,
             None if x is None else (x,))
            for u, n, a, sc, s, d, arr, tags, flag, x in OP_USERS]
    facts = spark.createDataFrame(
        rows, "user_id string, n int, amt decimal(20,8), score double, s string, "
              "d string, arr array<int>, tags array<string>, flag boolean, "
              "st struct<x:int>").withColumn("d", F.to_date("d"))
    return facts, load_rules(OP_RULES)


# (user, tag) → (detail value, detail reason) for every hit
OP_EXPECTED = {
    ('u1', 11): ('10',
                  '(n=10 = 10 OR n=10 = 30 OR (s=alpha != alpha AND s=alpha != '
                  'gam%ma AND score=1.5 > 2.0))'),
    ('u1', 12): ('100000.00000001',
                  '(amt=100000.00000001 >= 100000.00000000 AND amt=100000.00000001 '
                  '< 100001 AND score=1.5 <= 2.5)'),
    ('u1', 13): ('10',
                  '(n=10 in_range [10,30] AND score=1.5 not_in_range [2.0,3.0])'),
    ('u1', 14): ('2024-07-10',
                  '(d=2024-07-10 recent_days 3 OR d=2024-07-10 days_ago 40 OR '
                  'd=2024-07-10 days_ago_between [10,12] OR d=2024-07-10 '
                  'date_between [2024-07-09,2024-07-11])'),
    ('u1', 16): ('alpha',
                  "(s=alpha in [alpha,beta's,x\\y\nz] AND st.x=1 not_in [5,7])"),
    ('u1', 19): ('[1, 2]',
                  '(arr=[1, 2] array_contains 9 OR (arr=[1, 2] contains_any [1,4] '
                  'AND tags=[a, b] intersects [a,z] AND tags=[a, b] contains_all '
                  '[a,b]) OR (arr=[1, 2] disjoint [1,9] AND tags=[a, b] disjoint '
                  '[d]))'),
    ('u1', 20): ('1',
                  'NOT(st.x=1 > 4 AND flag=true = True)'),
    ('u2', 11): ('20',
                  "(n=20 = 10 OR n=20 = 30 OR (s=beta's != alpha AND s=beta's != "
                  'gam%ma AND score=2.5 > 2.0))'),
    ('u2', 12): ('100000.00000000',
                  '(amt=100000.00000000 >= 100000.00000000 AND amt=100000.00000000 '
                  '< 100001 AND score=2.5 <= 2.5)'),
    ('u2', 14): ('2024-07-01',
                  '(d=2024-07-01 recent_days 3 OR d=2024-07-01 days_ago 40 OR '
                  'd=2024-07-01 days_ago_between [10,12] OR d=2024-07-01 '
                  'date_between [2024-07-09,2024-07-11])'),
    ('u2', 15): ('100000.00000000',
                  '(amt is null OR (flag is not null AND flag=false = false))'),
    ('u2', 17): ("beta's",
                  "(s=beta's contains %m OR s=beta's starts_with bet OR (s=beta's "
                  "ends_with \nz AND s=beta's not_contains '))"),
    ('u2', 18): ("beta's",
                  "(s=beta's matches ^[a-z]+[\\\\'%] AND s=beta's not_matches ph)"),
    ('u2', 19): ('[2, 3]',
                  '(arr=[2, 3] array_contains 9 OR (arr=[2, 3] contains_any [1,4] '
                  'AND tags=[c] intersects [a,z] AND tags=[c] contains_all [a,b]) '
                  'OR (arr=[2, 3] disjoint [1,9] AND tags=[c] disjoint [d]))'),
    ('u2', 20): ('5',
                  'NOT(st.x=5 > 4 AND flag=false = True)'),
    ('u3', 17): ('gam%ma',
                  '(s=gam%ma contains %m OR s=gam%ma starts_with bet OR (s=gam%ma '
                  "ends_with \nz AND s=gam%ma not_contains '))"),
    ('u3', 18): ('gam%ma',
                  "(s=gam%ma matches ^[a-z]+[\\\\'%] AND s=gam%ma not_matches ph)"),
    ('u3', 19): ('[]',
                  '(arr=[] array_contains 9 OR (arr=[] contains_any [1,4] AND '
                  'tags=[] intersects [a,z] AND tags=[] contains_all [a,b]) OR '
                  '(arr=[] disjoint [1,9] AND tags=[] disjoint [d]))'),
    ('u4', 14): ('2024-06-01',
                  '(d=2024-06-01 recent_days 3 OR d=2024-06-01 days_ago 40 OR '
                  'd=2024-06-01 days_ago_between [10,12] OR d=2024-06-01 '
                  'date_between [2024-07-09,2024-07-11])'),
    ('u4', 15): ('',
                  '(amt is null OR (flag is not null AND flag=true = false))'),
    ('u5', 11): ('30',
                  '(n=30 = 10 OR n=30 = 30 OR (s=x\\y\nz != alpha AND s=x\\y\nz != '
                  'gam%ma AND score=-1.0 > 2.0))'),
    ('u5', 13): ('30',
                  '(n=30 in_range [10,30] AND score=-1.0 not_in_range [2.0,3.0])'),
    ('u5', 14): ('2024-07-13',
                  '(d=2024-07-13 recent_days 3 OR d=2024-07-13 days_ago 40 OR '
                  'd=2024-07-13 days_ago_between [10,12] OR d=2024-07-13 '
                  'date_between [2024-07-09,2024-07-11])'),
    ('u5', 15): ('5.50000000',
                  '(amt is null OR (flag is not null AND flag=false = false))'),
    ('u5', 16): ('x\\y\nz',
                  "(s=x\\y\nz in [alpha,beta's,x\\y\nz] AND st.x=3 not_in [5,7])"),
    ('u5', 17): ('x\\y\nz',
                  '(s=x\\y\nz contains %m OR s=x\\y\nz starts_with bet OR (s=x\\y\nz '
                  "ends_with \nz AND s=x\\y\nz not_contains '))"),
    ('u5', 18): ('x\\y\nz',
                  "(s=x\\y\nz matches ^[a-z]+[\\\\'%] AND s=x\\y\nz not_matches ph)"),
    ('u5', 19): ('[9]',
                  '(arr=[9] array_contains 9 OR (arr=[9] contains_any [1,4] AND '
                  'tags=[b, d] intersects [a,z] AND tags=[b, d] contains_all [a,b]) '
                  'OR (arr=[9] disjoint [1,9] AND tags=[b, d] disjoint [d]))'),
    ('u5', 20): ('3',
                  'NOT(st.x=3 > 4 AND flag=false = True)'),
}


def _op_detail(user, tag):
    rule = next(r for r in OP_RULES if r["tag_id"] == tag)
    value, reason = OP_EXPECTED[(user, tag)]
    return {"tag_name": rule["tag_name"], "tag_category": rule["tag_category"],
            "rule_id": rule["rule_id"], "rule_version": rule.get("rule_version", "1.0"),
            "value": value, "reason": reason, "hit_time": "2024-07-13T09:30:00.000Z"}


class TestDetailGolden:
    def test_profile_details_every_operator(self, op_engine_inputs):
        facts, rules = op_engine_inputs
        eng = TagEngine(rules, as_of=AS_OF, run_ts=OP_RUN_TS)
        prof = eng.profiles(facts, computed_date=AS_OF, keep_empty=True)
        got = {r["user_id"]: (list(r["tag_ids"]), json.loads(r["d"])) for r in
               prof.selectExpr("user_id", "tag_ids", "to_json(tag_details) AS d").collect()}
        want_tags: dict[str, list[int]] = {}
        for user, tag in sorted(OP_EXPECTED):
            want_tags.setdefault(user, []).append(tag)
        assert {u: tags for u, (tags, _) in got.items()} == want_tags
        for user, (tags, details) in got.items():
            assert details == {str(t): _op_detail(user, t) for t in tags}, user

    def test_assignment_json_every_operator(self, op_engine_inputs):
        facts, rules = op_engine_inputs
        eng = TagEngine(rules, as_of=AS_OF, run_ts=OP_RUN_TS)
        got = {(r["user_id"], r["tag_id"]): json.loads(r["tag_detail"])
               for r in eng.assignments(facts).collect()}
        assert got == {k: _op_detail(*k) for k in OP_EXPECTED}


class TestPy4jTraffic:
    """The profile build sends a fixed number of py4j commands whatever
    the rule count; a per-expression-node Column build would grow with
    every rule (hundreds of commands per nested rule)."""

    @staticmethod
    def _count(fn) -> int:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        calls = 0

        def counting(self, command, *a, **kw):
            nonlocal calls
            # "m" commands release Python-side proxies of earlier objects
            # whenever the garbage collector runs; they are not build work
            if not command.startswith("m\n"):
                calls += 1
            return orig(self, command, *a, **kw)

        ClientServerConnection.send_command = counting
        try:
            fn()
        finally:
            ClientServerConnection.send_command = orig
        return calls

    def test_profile_build_is_flat_in_rule_count(self, op_engine_inputs):
        from bigdata_tag_system_spark.rules.model import Rule

        facts, rules = op_engine_inputs
        many = [Rule(rule_id=100 + i, tag_id=100 + i, conditions=r.conditions,
                     tag_name=f"t{i}")
                for i, r in enumerate(rules * 5)]
        assert len(many) == 50

        def build(rs):
            return self._count(lambda: TagEngine(rs, as_of=AS_OF, run_ts=OP_RUN_TS)
                               .profiles(facts, computed_date=AS_OF))

        build(rules[:5])  # warm the JVM-side lookups once
        few_calls, many_calls = build(rules[:5]), build(many)
        assert abs(many_calls - few_calls) <= 2, (few_calls, many_calls)
        assert few_calls < 50, few_calls
