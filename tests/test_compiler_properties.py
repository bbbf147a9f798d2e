"""Property-based parity: compiled Catalyst predicates vs an independent
three-valued-logic evaluator.

Hypothesis generates random condition trees (every operator family,
nested AND/OR/NOT groups, null-heavy data); each batch of trees compiles
to boolean projection columns evaluated in ONE Spark action and compared
cell-by-cell (True/False/NULL) against a pure-Python SQL-3VL evaluator.
This pins the compiler's documented null semantics (compiler.py module
docstring) against an implementation-independent model.

The compiler renders SQL text, so the trees also carry hostile content:
string, regex and list values with quotes, backslashes, newlines, SQL
comment markers, LIKE metacharacters, ``${...}`` variable references
and non-ASCII text, over backticked and dotted field names. Agreement
with the model means every such value reached Spark as data. A second property round-trips ``sql_lit`` itself.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bigdata_tag_system_spark.functions.sqlrender import sql_lit
from bigdata_tag_system_spark.rules.compiler import compile_rule

# ---------------------------------------------------------------------------
# fixed row universe (null-heavy on purpose)
# ---------------------------------------------------------------------------

# text Spark's parser would variable-substitute if it met it unescaped
DOLLARS = ["${env:HOME}", "${spark.app.name}", "${x}"]
# text a spark.sql(text, **frames) template would read as a frame slot
BRACES = ["{", "}", "{events}"]
# text that breaks naive SQL quoting, LIKE patterns or comments
HOSTILE = [None, "", "it's", "a\\b", "x\ny", "--c", "/*d*/", "100%", "a_b",
           "ü€中", "'); DROP TABLE t; --", "\\'", "%_", "tab\there", *DOLLARS,
           *BRACES]

ROWS = [
    {"a": a, "s": s, "arr": arr}
    for a in (None, -2, 0, 3, 5)
    for s in (None, "", "ab", "ba", "b")
    for arr in (None, [], [1], [1, 2], [2, 3])
]
for _i, _row in enumerate(ROWS):
    _row["t"] = HOSTILE[_i % len(HOSTILE)]

# the hostile text column under three spellings of a field name: a column
# whose name holds a dot (backticked), a struct field (dotted path) and a
# column whose name holds a backtick (doubled inside backticks)
TEXT_FIELDS = {"`odd.name`": "odd.name", "st.t": "st", "`q``b`": "q`b"}

IN_VALUES = ["", "ab", "b", "zz"]
ARR_VALUES = [1, 2, 9]
# fragments of the hostile rows, so text operators hit as well as miss
FRAGMENTS = ["'", "\\", "\n", "--", "/*", "*/", "%", "_", "ü", "€中", "it's",
             "a\\b", "x\ny", "100%", "a_b", "DROP", "; --", "\t", "zz",
             *DOLLARS, "$", "{", "}"]


# ---------------------------------------------------------------------------
# tree strategy
# ---------------------------------------------------------------------------

def _regex(text: str) -> str:
    # literal pattern valid in both Java and Python regex: escape ASCII
    # punctuation and whitespace, keep letters, digits and non-ASCII
    return "".join(
        "\\" + ch if ord(ch) < 128 and not ch.isalnum() else ch for ch in text)


def _text_leaf() -> st.SearchStrategy:
    fields = st.sampled_from(list(TEXT_FIELDS))
    texts = st.one_of(
        st.sampled_from(FRAGMENTS),
        st.lists(st.sampled_from(FRAGMENTS), min_size=1, max_size=3).map("".join),
        st.sampled_from([h for h in HOSTILE if h is not None]))
    cmp = st.builds(
        lambda f, op, v: {"field": f, "operator": op, "value": v, "type": "string"},
        fields, st.sampled_from(["=", "!=", "contains", "not_contains",
                                 "starts_with", "ends_with"]), texts)
    in_list = st.builds(
        lambda f, vals, neg: {"field": f, "operator": "not_in" if neg else "in",
                              "value": vals, "type": "string"},
        fields, st.lists(texts, min_size=1, max_size=3), st.booleans())
    regex = st.builds(
        lambda f, v, anchor, neg: {
            "field": f, "operator": "not_matches" if neg else "matches",
            "value": ("^" if anchor else "") + _regex(v)},
        fields, texts.filter(bool), st.booleans(), st.booleans())
    nulls = st.builds(
        lambda f, op: {"field": f, "operator": op},
        fields, st.sampled_from(["is_null", "is_not_null"]))
    return st.one_of(cmp, in_list, regex, nulls)


def _leaf() -> st.SearchStrategy:
    ints = st.integers(min_value=-3, max_value=6)
    num_cmp = st.builds(
        lambda op, v: {"field": "a", "operator": op, "value": v, "type": "number"},
        st.sampled_from(["=", "!=", ">", "<", ">=", "<="]), ints)
    num_range = st.builds(
        lambda lo, hi, neg: {"field": "a", "operator": "not_in_range" if neg else "in_range",
                             "value": [min(lo, hi), max(lo, hi)], "type": "number"},
        ints, ints, st.booleans())
    str_in = st.builds(
        lambda vals, neg: {"field": "s", "operator": "not_in" if neg else "in",
                           "value": vals, "type": "string"},
        st.lists(st.sampled_from(IN_VALUES), min_size=1, max_size=3), st.booleans())
    str_match = st.builds(
        lambda op, v: {"field": "s", "operator": op, "value": v, "type": "string"},
        st.sampled_from(["contains", "not_contains", "starts_with", "ends_with"]),
        st.sampled_from(["a", "b", "ab", ""]))
    nulls = st.builds(
        lambda f, op: {"field": f, "operator": op},
        st.sampled_from(["a", "s", "arr"]), st.sampled_from(["is_null", "is_not_null"]))
    arr_ops = st.builds(
        lambda op, vals: {"field": "arr", "operator": op, "value": vals, "type": "number"},
        st.sampled_from(["contains_any", "contains_all", "disjoint", "intersects"]),
        st.lists(st.sampled_from(ARR_VALUES), min_size=1, max_size=2))
    arr_contains = st.builds(
        lambda v: {"field": "arr", "operator": "array_contains", "value": v, "type": "number"},
        st.sampled_from(ARR_VALUES))
    return st.one_of(num_cmp, num_range, str_in, str_match, nulls, arr_ops, arr_contains,
                     _text_leaf())


def _tree(max_depth: int = 3) -> st.SearchStrategy:
    return st.recursive(
        _leaf(),
        lambda children: st.builds(
            lambda logic, conds: {"logic": logic, "conditions": conds},
            st.sampled_from(["AND", "OR", "NOT"]),
            st.lists(children, min_size=1, max_size=3)),
        max_leaves=6)


# ---------------------------------------------------------------------------
# independent 3VL evaluator (True / False / None)
# ---------------------------------------------------------------------------

def _not3(x):
    return None if x is None else not x


def _and3(xs):
    if any(x is False for x in xs):
        return False
    if any(x is None for x in xs):
        return None
    return True


def _or3(xs):
    if any(x is True for x in xs):
        return True
    if any(x is None for x in xs):
        return None
    return False


def _eval_leaf(node, row):
    f, op, v = node["field"], node["operator"], node.get("value")
    x = row["t"] if f in TEXT_FIELDS else row[f]
    if op == "is_null":
        return x is None
    if op == "is_not_null":
        return x is not None
    if x is None:
        return None
    if op == "=":
        return x == v
    if op == "!=":
        return x != v
    if op == ">":
        return x > v
    if op == "<":
        return x < v
    if op == ">=":
        return x >= v
    if op == "<=":
        return x <= v
    if op == "in_range":
        return v[0] <= x <= v[1]
    if op == "not_in_range":
        return not v[0] <= x <= v[1]
    if op == "in":
        return x in v
    if op == "not_in":
        return x not in v
    if op == "contains":
        return str(v) in x
    if op == "not_contains":
        return str(v) not in x
    if op == "starts_with":
        return x.startswith(str(v))
    if op == "ends_with":
        return x.endswith(str(v))
    if op == "matches":
        return re.search(v, x) is not None
    if op == "not_matches":
        return re.search(v, x) is None
    if op == "array_contains":
        return v in x
    if op in ("contains_any", "intersects"):
        return bool(set(v) & set(x))
    if op == "contains_all":
        return set(v) <= set(x)
    if op == "disjoint":
        return not set(v) & set(x)
    raise AssertionError(op)


def _eval(node, row):
    if "logic" in node or "conditions" in node:
        logic = node.get("logic", "AND").upper()
        vals = [_eval(c, row) for c in node.get("conditions", [])]
        if not vals:
            return True
        if logic == "AND":
            return _and3(vals)
        if logic == "OR":
            return _or3(vals)
        return _not3(_and3(vals))
    return _eval_leaf(node, row)


# ---------------------------------------------------------------------------
# the property
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def universe(spark):
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("a", IntegerType()),
        StructField("s", StringType()),
        StructField("arr", ArrayType(IntegerType())),
        StructField("odd.name", StringType()),
        StructField("st", StructType([StructField("t", StringType())])),
        StructField("q`b", StringType()),
    ])
    data = [(r["a"], r["s"], r["arr"], r["t"], (r["t"],), r["t"]) for r in ROWS]
    return spark.createDataFrame(data, schema=schema).coalesce(1).cache()


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(trees=st.lists(_tree(), min_size=10, max_size=25))
# every substitution spelling through each kind of text operator
@example(trees=[
    leaf
    for f in TEXT_FIELDS
    for v in DOLLARS
    for leaf in ({"field": f, "operator": "=", "value": v, "type": "string"},
                 {"field": f, "operator": "starts_with", "value": v, "type": "string"},
                 {"field": f, "operator": "in", "value": [v, "zz"], "type": "string"},
                 {"field": f, "operator": "matches", "value": _regex(v)})
])
def test_compiled_predicates_match_3vl_model(universe, trees):
    import pyspark.sql.functions as F

    cols = [compile_rule(t).alias(f"t{i}") for i, t in enumerate(trees)]
    got = universe.select(*cols).collect()
    for ridx, row in enumerate(ROWS):
        for tidx, tree in enumerate(trees):
            want = _eval(tree, row)
            have = got[ridx][f"t{tidx}"]
            assert have == want, (
                f"tree {tree!r} on row {row!r}: spark={have!r} model={want!r}")


# ---------------------------------------------------------------------------
# sql_lit round trip: the rendered literal evaluates to the Python value
# ---------------------------------------------------------------------------

_LITERALS = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10 ** 37), max_value=10 ** 37),
    st.floats(allow_nan=True, allow_infinity=True),
    st.decimals(min_value=-(10 ** 20), max_value=10 ** 20, places=8,
                allow_nan=False, allow_infinity=False),
    st.text(),
    st.sampled_from([h for h in HOSTILE if h is not None]),
    st.dates(min_value=datetime.date(1000, 1, 1)),
    st.datetimes(min_value=datetime.datetime(1971, 1, 1),
                 max_value=datetime.datetime(2100, 1, 1)),
    st.lists(st.integers(min_value=-1000, max_value=1000), max_size=4),
)


def _same(have, want) -> bool:
    if isinstance(want, float) and math.isnan(want):
        return isinstance(have, float) and math.isnan(have)
    if isinstance(want, decimal.Decimal) or isinstance(have, decimal.Decimal):
        return decimal.Decimal(have) == decimal.Decimal(want)
    return type(have) is type(want) and have == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(values=st.lists(_LITERALS, min_size=1, max_size=20))
@example(values=[h for h in HOSTILE if h is not None] + [list(FRAGMENTS)])
def test_sql_lit_round_trips(spark, values):
    row = spark.range(1).selectExpr(
        *[f"{sql_lit(v)} AS c{i}" for i, v in enumerate(values)]).collect()[0]
    for i, v in enumerate(values):
        assert _same(row[i], v), (v, sql_lit(v), row[i])
