"""Rule-compiler tests: operator coverage, nesting, strictness, null logic.

Mirrors the reference's test strategy (SURVEY §5: pure compiler goldens at
``tests/unit/test_rule_parser.py:20-290``) but asserts *semantics* on tiny
DataFrames instead of SQL-string golden text, since we compile to Columns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_tag_system_spark.rules.compiler import RuleCompileError, RuleCompiler, compile_rule


def _hits(df, cond, as_of=None, key="k"):
    return {r[0] for r in df.where(compile_rule(cond, as_of=as_of)).select(key).collect()}


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        ("a", 10, "alpha", "2024-07-10", [1, 2]),
        ("b", 20, "beta", "2024-07-01", [2, 3]),
        ("c", None, "gamma", None, []),
        ("d", 40, None, "2024-06-01", None),
    ]
    df = spark.createDataFrame(
        rows, "k string, n int, s string, d string, arr array<int>"
    ).withColumn("d", F.to_date("d"))
    df.cache().count()
    return df


def c(field, op, value=None, type=None):
    node = {"field": field, "operator": op}
    if value is not None:
        node["value"] = value
    if type:
        node["type"] = type
    return {"logic": "AND", "conditions": [node]}


class TestComparisons:
    def test_eq_number(self, tiny):
        assert _hits(tiny, c("n", "=", 10, "number")) == {"a"}

    def test_neq_string_three_valued(self, tiny):
        # NULL s (row d) must NOT hit !=
        assert _hits(tiny, c("s", "!=", "alpha", "string")) == {"b", "c"}

    def test_gt_gte_lt_lte(self, tiny):
        assert _hits(tiny, c("n", ">", 10)) == {"b", "d"}
        assert _hits(tiny, c("n", ">=", 20)) == {"b", "d"}
        assert _hits(tiny, c("n", "<", 20)) == {"a"}
        assert _hits(tiny, c("n", "<=", 10)) == {"a"}

    def test_numeric_string_value_coerced(self, tiny):
        assert _hits(tiny, c("n", ">=", "20", "number")) == {"b", "d"}


class TestRangesAndSets:
    def test_in_range(self, tiny):
        assert _hits(tiny, c("n", "in_range", [10, 20])) == {"a", "b"}

    def test_not_in_range_drops_null(self, tiny):
        assert _hits(tiny, c("n", "not_in_range", [10, 20])) == {"d"}

    def test_in_list_and_scalar(self, tiny):
        assert _hits(tiny, c("s", "in", ["alpha", "beta"])) == {"a", "b"}
        assert _hits(tiny, c("s", "in", "gamma")) == {"c"}

    def test_not_in(self, tiny):
        assert _hits(tiny, c("s", "not_in", ["alpha"])) == {"b", "c"}


class TestNullAndStrings:
    def test_is_null(self, tiny):
        assert _hits(tiny, c("n", "is_null")) == {"c"}
        assert _hits(tiny, c("n", "is_not_null")) == {"a", "b", "d"}

    def test_contains(self, tiny):
        assert _hits(tiny, c("s", "contains", "am")) == {"c"}
        assert _hits(tiny, c("s", "not_contains", "a")) == set()
        assert _hits(tiny, c("s", "not_contains", "lph")) == {"b", "c"}

    def test_starts_ends(self, tiny):
        assert _hits(tiny, c("s", "starts_with", "be")) == {"b"}
        assert _hits(tiny, c("s", "ends_with", "a")) == {"a", "b", "c"}

    def test_regex_matches(self, tiny):
        # unanchored search; NULL s (row d) fails BOTH polarities (3VL)
        assert _hits(tiny, c("s", "matches", "^(al|be)")) == {"a", "b"}
        assert _hits(tiny, c("s", "matches", "m+a$")) == {"c"}
        assert _hits(tiny, c("s", "not_matches", "a$")) == set()
        assert _hits(tiny, c("s", "not_matches", "^al")) == {"b", "c"}
        with pytest.raises(RuleCompileError):
            compile_rule(c("s", "matches", ""))


class TestDates:
    def test_recent_days_pinned(self, tiny):
        assert _hits(tiny, c("d", "recent_days", 7), as_of="2024-07-13") == {"a"}

    def test_days_ago(self, tiny):
        assert _hits(tiny, c("d", "days_ago", 12), as_of="2024-07-13") == {"b", "d"}

    def test_days_ago_between(self, tiny):
        assert _hits(tiny, c("d", "days_ago_between", [0, 12]), as_of="2024-07-13") == {"a", "b"}

    def test_date_between(self, tiny):
        assert _hits(tiny, c("d", "date_between", ["2024-06-01", "2024-07-05"])) == {"b", "d"}


class TestArrays:
    def test_array_contains(self, tiny):
        assert _hits(tiny, c("arr", "array_contains", 2, "number")) == {"a", "b"}

    def test_contains_any(self, tiny):
        assert _hits(tiny, c("arr", "contains_any", [1, 3])) == {"a", "b"}

    def test_contains_all(self, tiny):
        assert _hits(tiny, c("arr", "contains_all", [2, 3])) == {"b"}

    def test_disjoint(self, tiny):
        # empty array IS disjoint with anything; NULL array is not counted
        assert _hits(tiny, c("arr", "disjoint", [1, 3])) == {"c"}

    def test_empty_list_vacuous_truth_non_strict(self, tiny):
        # strict mode (default) still rejects the empty list outright
        with pytest.raises(RuleCompileError):
            compile_rule(c("arr", "contains_all", []))

        def hits(cond):
            return {r[0] for r in tiny.where(
                compile_rule(cond, strict=False)).select("k").collect()}

        # every element of ∅ is present, and ∅ is disjoint from anything
        # → vacuously TRUE for all rows; only an empty contains_any /
        # intersects is unsatisfiable
        assert hits(c("arr", "contains_all", [])) == {"a", "b", "c", "d"}
        assert hits(c("arr", "disjoint", [])) == {"a", "b", "c", "d"}
        assert hits(c("arr", "contains_any", [])) == set()
        assert hits(c("arr", "intersects", [])) == set()


class TestCombinators:
    def test_and_or(self, tiny):
        cond = {"logic": "OR", "conditions": [
            {"field": "n", "operator": "=", "value": 10},
            {"field": "s", "operator": "=", "value": "beta"},
        ]}
        assert _hits(tiny, cond) == {"a", "b"}

    def test_not_of_conjunction(self, tiny):
        # reference semantics: NOT(c1 AND c2) under SQL 3VL:
        # row c: NULL AND FALSE = FALSE -> NOT -> TRUE (hits)
        # row d: TRUE AND NULL = NULL -> NOT -> NULL (drops)
        cond = {"logic": "NOT", "conditions": [
            {"field": "n", "operator": ">=", "value": 10},
            {"field": "s", "operator": "starts_with", "value": "a"},
        ]}
        assert _hits(tiny, cond) == {"b", "c"}

    def test_nested_groups_recursive(self, tiny):
        cond = {"logic": "AND", "conditions": [
            {"field": "n", "operator": ">=", "value": 10},
            {"logic": "OR", "conditions": [
                {"field": "s", "operator": "=", "value": "alpha"},
                {"logic": "AND", "conditions": [
                    {"field": "n", "operator": ">", "value": 15},
                    {"field": "s", "operator": "ends_with", "value": "ta"},
                ]},
            ]},
        ]}
        assert _hits(tiny, cond) == {"a", "b"}

    def test_empty_rule_selects_all(self, tiny):
        assert _hits(tiny, {}) == {"a", "b", "c", "d"}
        assert _hits(tiny, {"logic": "AND", "conditions": []}) == {"a", "b", "c", "d"}


class TestStrictness:
    def test_unknown_operator_raises(self):
        with pytest.raises(RuleCompileError):
            compile_rule(c("n", "wibble", 1))

    def test_unknown_logic_raises(self):
        with pytest.raises(RuleCompileError):
            compile_rule({"logic": "XOR", "conditions": [
                {"field": "n", "operator": "=", "value": 1}]})

    def test_malformed_condition_raises(self):
        with pytest.raises(RuleCompileError):
            compile_rule({"logic": "AND", "conditions": [{"operator": "="}]})

    def test_non_numeric_value_raises(self):
        with pytest.raises(RuleCompileError):
            compile_rule(c("n", ">=", "abc", "number"))

    def test_lenient_mode_hits_nothing(self, tiny):
        comp = RuleCompiler(strict=False)
        col = comp.compile({"logic": "AND", "conditions": [
            {"field": "n", "operator": "wibble", "value": 1}]})
        assert tiny.where(col).count() == 0


class TestParserSafety:
    """Rendered rule text meets Spark's parser, which substitutes
    ``${...}`` before lexing and, under
    ``spark.sql.parser.escapedStringLiterals``, keeps backslash escapes."""

    def test_substitutable_field_name_raises(self):
        with pytest.raises(RuleCompileError):
            compile_rule(c("${x}", "=", "a", "string"))

    def test_variable_reference_in_value_is_data(self, spark):
        app = spark.conf.get("spark.app.name")
        df = spark.createDataFrame(
            [("lit", "${spark.app.name}"), ("app", app), ("empty", "")], "k string, s string")
        assert _hits(df, c("s", "=", "${spark.app.name}", "string")) == {"lit"}
        assert _hits(df, c("s", "in", ["${x}", "${env:HOME}"], "string")) == set()

    def test_escaped_string_literals_mode_raises(self, spark, tiny):
        from bigdata_tag_system_spark.operators.tagging import TagEngine
        from bigdata_tag_system_spark.rules.model import Rule

        plain = c("s", "=", "alpha", "string")
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
        try:
            with pytest.raises(RuleCompileError):
                compile_rule(c("s", "=", "a\\b", "string"))
            with pytest.raises(RuleCompileError):
                compile_rule(c("s", "=", "it's", "string"))
            # a backslash in the tag metadata reaches the detail literals
            engine = TagEngine([Rule(1, 1, plain, tag_name="a\\b")], user_col="k")
            with pytest.raises(RuleCompileError):
                engine.profiles(tiny)
            with pytest.raises(RuleCompileError):
                engine.assignments(tiny)
            with pytest.raises(RuleCompileError):
                engine.coverage(tiny)
            # text without an escape reads the same in both modes
            assert _hits(tiny, plain) == {"a"}
            ok = TagEngine([Rule(1, 1, plain, tag_name="t")], user_col="k")
            assert [r.k for r in ok.profiles(tiny).collect()] == ["a"]
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")


class TestModel:
    def test_required_fields_recursive(self):
        from bigdata_tag_system_spark.rules.model import required_fields

        cond = {"logic": "AND", "conditions": [
            {"field": "a", "operator": "=", "value": 1},
            {"logic": "OR", "conditions": [
                {"field": "b", "operator": "=", "value": 2},
                {"logic": "NOT", "conditions": [{"field": "c", "operator": "is_null"}]},
            ]},
        ]}
        assert required_fields(cond) == {"a", "b", "c"}

    def test_load_rules_from_json_strings(self):
        from bigdata_tag_system_spark.rules.model import load_rules

        rows = [
            {"rule_id": 1, "tag_id": 9, "rule_conditions":
                '{"logic":"AND","conditions":[{"field":"x","operator":"=","value":1}]}',
             "is_active": True},
            {"rule_id": 2, "tag_id": 10, "rule_conditions": "{}", "is_active": False},
        ]
        rules = load_rules(rows)
        assert len(rules) == 1 and rules[0].tag_id == 9
        assert load_rules(rows, only_active=False)[1].conditions == {}
