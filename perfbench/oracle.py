"""Independent correctness oracle for the benchmark.

Rule trees are rendered to DuckDB SQL by a renderer of this file's own
(never ``rules.compiler.rule_to_sql``), so a compiler bug cannot hide on
both sides. From the per-rule hits it derives the store each CLI job
should commit, and compares stores by the same canonical value hash as
``tools/check_correctness.py`` (name-sorted columns, rows sorted).
Catalog entries are checked against ``oracle_sql()`` the same way.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


# -- value hash (same canonical form as tools/check_correctness.py) ---------

def _canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# -- rule renderer ----------------------------------------------------------

def _q(s) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _lit(value, type_hint) -> str:
    if type_hint == "date":
        return f"DATE {_q(value)}"
    if type_hint == "decimal":
        return f"CAST({_q(value)} AS DECIMAL(20,8))"
    if type_hint == "boolean":
        return "TRUE" if value else "FALSE"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"CAST({value!r} AS DOUBLE)"
    return _q(value)


def _list(values, type_hint) -> str:
    return "[" + ", ".join(_lit(v, type_hint) for v in values) + "]"


def render(node: dict, as_of: dt.date) -> str:
    """DuckDB boolean expression for one condition tree (SQL 3VL)."""
    if "logic" in node or "conditions" in node:
        logic = node.get("logic", "AND").upper()
        parts = [render(c, as_of) for c in node.get("conditions") or []]
        if not parts:
            return "TRUE"
        if logic == "OR":
            return "(" + " OR ".join(parts) + ")"
        body = "(" + " AND ".join(parts) + ")"
        return f"(NOT {body})" if logic == "NOT" else body
    col, op = node["field"], node["operator"]
    v, th = node.get("value"), node.get("type")

    def days(n):
        return f"DATE '{(as_of - dt.timedelta(days=int(n))).isoformat()}'"

    if op == "is_null":
        return f"({col} IS NULL)"
    if op == "is_not_null":
        return f"({col} IS NOT NULL)"
    if op in ("=", "==", "!=", "<>", ">", "<", ">=", "<="):
        sym = {"==": "=", "!=": "<>"}.get(op, op)
        return f"({col} {sym} {_lit(v, th)})"
    if op in ("in", "not_in"):
        body = f"({col} IN ({', '.join(_lit(x, th) for x in v)}))"
        return body if op == "in" else f"(NOT {body})"
    if op in ("in_range", "not_in_range", "date_between"):
        th = "date" if op == "date_between" else th
        body = f"({col} BETWEEN {_lit(v[0], th)} AND {_lit(v[1], th)})"
        return f"(NOT {body})" if op == "not_in_range" else body
    if op == "recent_days":
        return f"({col} >= {days(v)})"
    if op == "days_ago":
        return f"({col} <= {days(v)})"
    if op == "days_ago_between":
        return f"({col} BETWEEN {days(v[1])} AND {days(v[0])})"
    if op in ("contains", "not_contains"):
        body = f"contains({col}, {_q(v)})"
        return body if op == "contains" else f"(NOT {body})"
    if op == "starts_with":
        return f"starts_with({col}, {_q(v)})"
    if op == "ends_with":
        return f"suffix({col}, {_q(v)})"
    if op in ("matches", "not_matches"):
        body = f"regexp_matches({col}, {_q(v)})"
        return body if op == "matches" else f"(NOT {body})"
    if op == "array_contains":
        return f"list_contains({col}, {_lit(v, th)})"
    if op in ("contains_any", "intersects"):
        return f"list_has_any({col}, {_list(v, th)})"
    if op == "contains_all":
        return f"list_has_all({col}, {_list(v, th)})"
    if op == "disjoint":
        return f"(NOT list_has_any({col}, {_list(v, th)}))"
    raise ValueError(f"oracle cannot render operator {op!r}")


def rule_hits(facts: dict[str, str], rules: list[dict], as_of: str) -> dict[int, frozenset]:
    """``user_id -> tag ids hit`` over every base user, evaluated in DuckDB
    on the left-joined fact tables (the base table is the first one)."""
    anchor = dt.date.fromisoformat(as_of)
    names = list(facts)
    con = duckdb.connect()
    try:
        sql = f"SELECT * FROM read_parquet({_q(facts[names[0]])}) t0"
        for i, n in enumerate(names[1:], 1):
            sql += f" LEFT JOIN read_parquet({_q(facts[n])}) t{i} USING (user_id)"
        con.execute(f"CREATE TEMP VIEW facts AS {sql}")
        cases = [
            f"CASE WHEN {render(json.loads(r['rule_conditions']), anchor)} "
            f"THEN {int(r['tag_id'])} END"
            for r in rules
        ]
        rows = con.execute(
            "SELECT user_id, list_filter([" + ", ".join(cases)
            + "], x -> x IS NOT NULL) FROM facts").fetchall()
    finally:
        con.close()
    return {int(u): frozenset(t) for u, t in rows}


# -- expected stores --------------------------------------------------------

Store = dict  # user_id -> (tuple(tag_ids), computed_date iso)


def stored_state(path: str) -> Store:
    """The store at ``path`` as ``user_id -> (tags, date)``."""
    rows, _ = read_store(path)
    return {u: (tuple(tags), day) for u, tags, _, day in rows}


def read_store(path: str):
    """Canonical rows ``(user_id, tag_ids, detail tag ids, computed_date)``."""
    table = pq.read_table(path, columns=["user_id", "tag_ids", "tag_details",
                                         "computed_date"])
    det = table["tag_details"].combine_chunks()
    keys = pa.ListArray.from_arrays(det.offsets, det.keys).to_pylist()
    rows = [
        (u, tags or [], sorted(int(k) for k in ks or []), day.isoformat() if day else None)
        for u, tags, ks, day in zip(table["user_id"].to_pylist(),
                                    table["tag_ids"].to_pylist(), keys,
                                    table["computed_date"].to_pylist())
    ]
    return rows, ["user_id", "tag_ids", "detail_keys", "computed_date"]


def store_hash(store: Store) -> str:
    rows = [(u, list(t), list(t), d) for u, (t, d) in store.items()]
    return value_hash(rows, ["user_id", "tag_ids", "detail_keys", "computed_date"])


def committed_hash(path: str) -> str:
    rows, cols = read_store(path)
    return value_hash(rows, cols)


def expect_full(hits, computed_date: str) -> Store:
    """Scenario 1: every user with a hit, overwritten."""
    return {u: (tuple(sorted(h)), computed_date) for u, h in hits.items() if h}


def expect_tags(store: Store, hits, tag_ids, computed_date: str) -> Store:
    """Scenario 3: sorted set-union of the selected tags into the store."""
    wanted = frozenset(tag_ids)
    out = dict(store)
    for u, h in hits.items():
        new = h & wanted
        if new:
            old = set(store[u][0]) if u in store else set()
            out[u] = (tuple(sorted(old | new)), computed_date)
    return out


def expect_users(store: Store, hits, user_ids, computed_date: str) -> Store:
    """Scenario 5: keyed users with a hit are overwritten; a keyed user
    with no hit keeps its stored row (the engine emits no profile row
    for it, and the upsert leaves store-only rows untouched)."""
    out = dict(store)
    for u in user_ids:
        h = hits.get(u)
        if h:
            out[u] = (tuple(sorted(h)), computed_date)
    return out


# -- catalog entries --------------------------------------------------------

def catalog_expected(sf_dir: str, oracle_sqls: dict[str, str], tables) -> dict:
    """``name -> [sorted columns, row count, value hash]`` from DuckDB."""
    con = duckdb.connect()
    try:
        for t in tables:
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({_q(p)})")
        out = {}
        for name, sql in oracle_sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = [sorted(cols), len(rows), value_hash(rows, cols)]
        return out
    finally:
        con.close()


def catalog_matches(expected, rows, cols) -> bool:
    return expected == [sorted(cols), len(rows), value_hash(rows, cols)]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) of a parquet directory."""
    files = [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))]
    return sum(os.path.getsize(f) for f in files), len(files)
