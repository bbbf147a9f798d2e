"""Seeded input generator for the tag-job workloads.

Everything the program receives is written here from ``--seed``: three
fact tables keyed by ``user_id`` (joined by ``TableCatalog``), a rule
catalog of nested AND/OR/NOT condition trees stored as parquet (so the
CLI reads it through ``read_rule_catalog``), a stored profile store for
the incremental scenarios, and the per-job tag-id and user-key lists.
The same seed gives byte-identical inputs.

Files are written with pyarrow, not Spark, so generation costs no py4j
traffic and does not disturb the per-layer counters of the program.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# pinned so relative-date operators and stamps are replayable
AS_OF = "2024-06-30"
COMPUTED_DATE = "2024-07-01"
STORE_DATE = dt.date(2024, 6, 1)
_AS_OF = dt.date.fromisoformat(AS_OF)
_EPOCH = dt.date(1970, 1, 1)

CITIES = ["Beijing", "Shanghai", "Shenzhen", "Hangzhou", "Chengdu",
          "Wuhan", "Xian", "Nanjing"]
CHANNELS = ["app", "web", "mini", "store", "partner"]
DEVICES = ["ios", "android", "pc", "pad"]
INTERESTS = ["fund", "stock", "bond", "gold", "insurance", "forex",
             "crypto", "loan", "deposit", "pension"]
PRODUCTS = list(range(1, 21))
DOMAINS = ["mail.com", "corp.cn", "bank.cn", "web.net"]

# fact column -> kind, in table order (profile, assets, activity); the
# rule generator draws conditions from these
COLUMNS = {
    "age": "int", "gender": "str", "city": "str", "email": "text",
    "signup_date": "date", "vip_level": "int", "interests": "arr_str",
    "total_asset_value": "dec", "monthly_income": "dec", "risk_score": "dbl",
    "last_trade_date": "date", "product_codes": "arr_int",
    "login_count_30d": "int", "last_login_date": "date", "channel": "str",
    "device": "str", "is_trader": "bool",
}
TABLES = ["profile", "assets", "activity"]  # profile is the user universe
STORED_SHARE = 0.95  # share of users the seeded store holds

_STR_VALUES = {"gender": ["M", "F"], "city": CITIES, "channel": CHANNELS,
               "device": DEVICES}
_INT_RANGE = {"age": (18, 80), "vip_level": (0, 5), "login_count_30d": (0, 60)}
_SPAN = {"signup_date": 3000, "last_trade_date": 400, "last_login_date": 120}  # days
_DEC_RANGE = {"total_asset_value": (0, 2_000_000), "monthly_income": (0, 80_000)}


@dataclass(frozen=True)
class TagSizes:
    """Input sizes of one tag workload."""

    users: int
    rules: int
    tag_ids_per_job: int = 5
    keys_per_job: int = 100


@dataclass
class TagInputs:
    """Paths and parameters of one generated tag-workload input set."""

    facts: dict[str, str]
    rules_path: str
    store_seed: str
    rules: list[dict]
    tag_ids: list[int]
    user_ids: np.ndarray
    stored_ids: np.ndarray


def _null_mask(rng: np.random.Generator, n: int, share: float = 0.03) -> np.ndarray:
    return rng.random(n) < share


def _dates(rng, n, lo_days, hi_days) -> np.ndarray:
    """date32 day numbers in [as_of - hi_days, as_of - lo_days]."""
    base = (_AS_OF - _EPOCH).days
    return base - rng.integers(lo_days, hi_days + 1, n)


def _write(table: pa.Table, path: str, parts: int = 4) -> None:
    # a few row groups so a local[N] scan splits across cores
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // parts)))


def _subsets(rng: np.random.Generator, n: int, pool, lo: int, hi: int,
             type_: pa.DataType, mask=None) -> pa.ListArray:
    """``n`` sorted random subsets of ``pool`` with sizes in [lo, hi]."""
    pool = np.array(sorted(pool))
    k = rng.integers(lo, hi + 1, n)
    rank = np.argsort(np.argsort(rng.random((n, len(pool))), axis=1), axis=1)
    chosen = rank < k[:, None]
    if mask is not None:
        chosen[mask] = False  # a null list holds no values
    offsets = np.concatenate([[0], np.cumsum(chosen.sum(axis=1))]).astype(np.int32)
    values = pa.array(np.broadcast_to(pool, chosen.shape)[chosen], type=type_)
    return pa.ListArray.from_arrays(
        pa.array(offsets), values,
        mask=None if mask is None else pa.array(mask))


def _decimals(rng, n, hi_cents: int) -> pa.Array:
    cents = rng.integers(0, hi_cents, n)
    text = pa.array([f"{c // 100}.{c % 100:02d}" for c in cents.tolist()])
    return text.cast(pa.decimal128(20, 8))


def _with_nulls(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    return pc.if_else(pa.array(mask), pa.nulls(len(arr), arr.type), arr)


def _date_col(rng, n, lo_days, hi_days) -> pa.Array:
    return pa.array(_dates(rng, n, lo_days, hi_days).astype(np.int32)).cast(pa.date32())


def _facts(rng: np.random.Generator, users: int, root: str) -> dict[str, str]:
    ids = rng.permutation(np.arange(1, users + 1, dtype=np.int64) * 7 + 1000)
    n = users
    letters = (rng.integers(0, 26, (n, 6), dtype=np.uint8) + ord("a")).view("S6").ravel()
    emails = [
        f"{p.decode()}{x}@{DOMAINS[d]}"
        for p, x, d in zip(letters, rng.integers(0, 1000, n).tolist(),
                           rng.integers(0, len(DOMAINS), n).tolist())
    ]
    profile = pa.table({
        "user_id": pa.array(ids),
        "age": pa.array(rng.integers(18, 81, n).astype(np.int32),
                        mask=_null_mask(rng, n)),
        "gender": pa.array(rng.choice(["M", "F"], n), mask=_null_mask(rng, n)),
        "city": pa.array(rng.choice(CITIES, n), mask=_null_mask(rng, n)),
        "email": pa.array(emails, mask=_null_mask(rng, n)),
        "signup_date": _with_nulls(_date_col(rng, n, 0, _SPAN["signup_date"]), _null_mask(rng, n)),
        "vip_level": pa.array(rng.integers(0, 6, n).astype(np.int32)),
        "interests": _subsets(rng, n, INTERESTS, 0, 4, pa.string(), _null_mask(rng, n)),
    })

    a_ids = ids[rng.random(n) < 0.9]
    m = len(a_ids)
    assets = pa.table({
        "user_id": pa.array(a_ids),
        "total_asset_value": _with_nulls(_decimals(rng, m, 200_000_000), _null_mask(rng, m)),
        "monthly_income": _with_nulls(_decimals(rng, m, 8_000_000), _null_mask(rng, m)),
        "risk_score": pa.array(rng.random(m), mask=_null_mask(rng, m)),
        "last_trade_date": _with_nulls(_date_col(rng, m, 0, _SPAN["last_trade_date"]), _null_mask(rng, m)),
        "product_codes": _subsets(rng, m, PRODUCTS, 0, 5, pa.int32(), _null_mask(rng, m)),
    })

    v_ids = ids[rng.random(n) < 0.85]
    k = len(v_ids)
    activity = pa.table({
        "user_id": pa.array(v_ids),
        "login_count_30d": pa.array(rng.integers(0, 61, k).astype(np.int32),
                                    mask=_null_mask(rng, k)),
        "last_login_date": _with_nulls(_date_col(rng, k, 0, _SPAN["last_login_date"]), _null_mask(rng, k)),
        "channel": pa.array(rng.choice(CHANNELS, k), mask=_null_mask(rng, k)),
        "device": pa.array(rng.choice(DEVICES, k), mask=_null_mask(rng, k)),
        "is_trader": pa.array(rng.random(k) < 0.3, mask=_null_mask(rng, k)),
    })
    paths = {}
    for name, table in zip(TABLES, (profile, assets, activity)):
        paths[name] = os.path.join(root, f"{name}.parquet")
        _write(table, paths[name])
    return paths


# -- rule catalog -----------------------------------------------------------

_BY_KIND: dict[str, list[str]] = {}
for _col, _kind in COLUMNS.items():
    _BY_KIND.setdefault(_kind, []).append(_col)


def _num(col: str, q: float):
    """(value, type) at quantile ``q`` of a numeric column's range."""
    if col in _INT_RANGE:
        lo, hi = _INT_RANGE[col]
        return int(round(lo + q * (hi - lo))), "number"
    if col in _DEC_RANGE:
        lo, hi = _DEC_RANGE[col]
        return f"{lo + q * (hi - lo):.2f}", "decimal"
    return round(q, 2), "number"  # risk_score is uniform on [0, 1)


def _moderate(r: random.Random) -> dict:
    """A condition true for roughly a third to two thirds of the rows."""
    q = r.uniform(0.35, 0.65)
    family = r.choice(["cmp", "range", "date", "set", "eq", "regex", "array"])
    if family == "cmp":
        col = r.choice(_BY_KIND["int"] + _BY_KIND["dec"] + _BY_KIND["dbl"])
        op = r.choice([">", "<", ">=", "<="])
        v, th = _num(col, q if op in (">", ">=") else 1 - q)
        return {"field": col, "operator": op, "type": th, "value": v}
    if family == "range":
        col = r.choice(_BY_KIND["int"] + _BY_KIND["dec"] + _BY_KIND["dbl"])
        a = r.uniform(0.0, 0.5)
        lo, th = _num(col, a)
        hi, _ = _num(col, a + 0.5)
        return {"field": col, "operator": r.choice(["in_range", "not_in_range"]),
                "type": th, "value": [lo, hi]}
    if family == "date":
        col = r.choice(_BY_KIND["date"])
        span = _SPAN[col]
        op = r.choice([">=", "<", "recent_days", "days_ago", "date_between",
                       "days_ago_between"])
        if op in ("recent_days", "days_ago"):
            return {"field": col, "operator": op, "value": int(q * span)}
        a = int(r.uniform(0.0, 0.5) * span)
        b = a + span // 2
        if op == "days_ago_between":
            return {"field": col, "operator": op, "value": [a, b]}
        day = (_AS_OF - dt.timedelta(days=int(q * span))).isoformat()
        if op == "date_between":
            lo, hi = ((_AS_OF - dt.timedelta(days=x)).isoformat() for x in (b, a))
            return {"field": col, "operator": op, "type": "date", "value": [lo, hi]}
        return {"field": col, "operator": op, "type": "date", "value": day}
    if family == "set":
        col = r.choice(["city", "channel", "device", "vip_level"])
        pool = _STR_VALUES.get(col) or list(range(6))
        th = "number" if col == "vip_level" else "string"
        return {"field": col, "operator": r.choice(["in", "not_in"]), "type": th,
                "value": sorted(r.sample(pool, len(pool) // 2))}
    if family == "eq":
        if r.random() < 0.5:
            return {"field": "gender", "operator": r.choice(["=", "!=", "<>", "=="]),
                    "type": "string", "value": r.choice(["M", "F"])}
        return {"field": "is_trader", "operator": "=", "type": "boolean",
                "value": r.choice([True, False])}
    if family == "regex":
        return {"field": "email", "operator": r.choice(["matches", "not_matches"]),
                "value": r.choice(["^[a-m]", "^[n-z]", "[0-4][0-9]*@", "[a-m][0-9]"])}
    op = r.choice(["contains_any", "intersects", "disjoint"])
    if r.random() < 0.5:
        return {"field": "interests", "operator": op, "type": "string",
                "value": sorted(r.sample(INTERESTS, 3))}
    return {"field": "product_codes", "operator": op, "type": "number",
            "value": sorted(r.sample(PRODUCTS, 5))}


def _rare(r: random.Random) -> dict:
    """A condition true for under about a quarter of the rows."""
    op = r.choice(["is_null", "starts_with", "ends_with", "contains", "=",
                   "contains_all", "array_contains"])
    if op == "is_null":
        return {"field": r.choice(list(COLUMNS)), "operator": op}
    if op == "starts_with":
        return {"field": "email", "operator": op, "value": r.choice("abcdefghijklm")}
    if op == "ends_with":
        return {"field": "email", "operator": op, "value": r.choice(DOMAINS)}
    if op == "contains":
        return {"field": "email", "operator": op, "value": r.choice(["ab", "e1", "x", "99"])}
    if op == "=":
        col = r.choice(["city", "channel", "device"])
        return {"field": col, "operator": op, "type": "string",
                "value": r.choice(_STR_VALUES[col])}
    if op == "contains_all":
        return {"field": "interests", "operator": op, "type": "string",
                "value": sorted(r.sample(INTERESTS, 2))}
    return {"field": "product_codes", "operator": op, "type": "number",
            "value": r.choice(PRODUCTS)}


def _common(r: random.Random) -> dict:
    """A condition true for most rows (NULLs aside)."""
    op = r.choice(["is_not_null", "not_contains", "!=", "not_in"])
    if op == "is_not_null":
        return {"field": r.choice(list(COLUMNS)), "operator": op}
    if op == "not_contains":
        return {"field": "email", "operator": op, "value": r.choice(["zz", "qq", "@x"])}
    col = r.choice(["city", "channel", "device"])
    v = r.choice(_STR_VALUES[col])
    return {"field": col, "operator": op, "type": "string",
            "value": [v] if op == "not_in" else v}


def _rule_tree(r: random.Random) -> dict:
    """One fixed shape, so every rule costs about the same to compile and
    to explain and hits a similar share of users:
    ``moderate AND (moderate OR rare) AND NOT(moderate) AND common``."""
    return {"logic": "AND", "conditions": [
        _moderate(r),
        {"logic": "OR", "conditions": [_moderate(r), _rare(r)]},
        {"logic": "NOT", "conditions": [_moderate(r)]},
        _common(r),
    ]}


def rule_catalog(seed: int, n: int) -> list[dict]:
    """``n`` active catalog rows; tag ids are ``100 + i``."""
    r = random.Random(f"rules-{seed}")
    rows = []
    for i in range(n):
        rows.append({
            "rule_id": i + 1,
            "tag_id": 100 + i,
            "tag_name": f"tag_{i}",
            "tag_category": ["demographic", "asset", "behavior"][i % 3],
            "rule_conditions": json.dumps(_rule_tree(r)),
            "is_active": True,
            "rule_version": "1.0",
        })
    return rows


def _write_rules(rows: list[dict], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "rule_id": pa.array([x["rule_id"] for x in rows], pa.int64()),
        "tag_id": pa.array([x["tag_id"] for x in rows], pa.int64()),
        "tag_name": [x["tag_name"] for x in rows],
        "tag_category": [x["tag_category"] for x in rows],
        "rule_conditions": [x["rule_conditions"] for x in rows],
        "is_active": [x["is_active"] for x in rows],
        "rule_version": [x["rule_version"] for x in rows],
    })
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# -- stored profiles --------------------------------------------------------

STORE_DETAIL = pa.struct([
    ("tag_name", pa.string()), ("tag_category", pa.string()),
    ("rule_id", pa.int32()), ("rule_version", pa.string()),
    ("value", pa.string()), ("reason", pa.string()),
    ("hit_time", pa.timestamp("us", tz="UTC")),
])
STORE_SCHEMA = pa.schema([
    ("user_id", pa.int64()),
    ("tag_ids", pa.list_(pa.int32())),
    ("tag_details", pa.map_(pa.string(), STORE_DETAIL)),
    ("computed_date", pa.date32()),
])


def _write_store(seed: int, stored_ids: np.ndarray, rules: list[dict], path: str) -> None:
    """A stale store: random tag sets per user, details keyed like the
    engine writes them with value and reason strings of the engine's
    length, dated before the jobs' ``--computed-date``."""
    rng = np.random.default_rng([seed, 7])
    n = len(stored_ids)
    tag_ids = _subsets(rng, n, [x["tag_id"] for x in rules], 1, min(6, len(rules)),
                       pa.int32())
    flat = tag_ids.values
    meta = {x["tag_id"]: x for x in rules}
    flat_py = flat.to_pylist()
    stamp = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    items = pa.StructArray.from_arrays([
        pa.array([meta[t]["tag_name"] for t in flat_py]),
        pa.array([meta[t]["tag_category"] for t in flat_py]),
        pa.array([meta[t]["rule_id"] for t in flat_py], pa.int32()),
        pa.array(["1.0"] * len(flat_py)),
        pa.array(rng.integers(0, 10**6, len(flat_py)).astype(str)),
        pa.array([
            f"(age={a} >= {t % 80} AND (city=c{t % 8} in [c1,c3] OR email=e{v} "
            f"starts_with a) AND NOT(risk_score={d:.9f} < 0.5) AND device=d{a % 4} "
            f"is not null)"
            for a, v, t, d in zip(rng.integers(18, 81, len(flat_py)).tolist(),
                                  rng.integers(0, 10**6, len(flat_py)).tolist(),
                                  rng.integers(0, 10**4, len(flat_py)).tolist(),
                                  rng.random(len(flat_py)).tolist())]),
        pa.array([stamp] * len(flat_py), pa.timestamp("us", tz="UTC")),
    ], fields=list(STORE_DETAIL))
    details = pa.MapArray.from_arrays(tag_ids.offsets, flat.cast(pa.string()), items)
    table = pa.Table.from_arrays([
        pa.array(stored_ids, pa.int64()), tag_ids, details,
        pa.array(np.full(n, (STORE_DATE - _EPOCH).days, np.int32)).cast(pa.date32()),
    ], schema=STORE_SCHEMA)
    os.makedirs(path, exist_ok=True)
    _write(table, os.path.join(path, "part-0.parquet"))


def tag_inputs(seed: int, sizes: TagSizes, root: str, with_store: bool) -> TagInputs:
    """Write facts, rule catalog and (optionally) a seeded store under ``root``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    facts = _facts(rng, sizes.users, root)
    rows = rule_catalog(seed, sizes.rules)
    rules_path = os.path.join(root, "rules")
    _write_rules(rows, rules_path)
    user_ids = pq.read_table(facts["profile"], columns=["user_id"])["user_id"].to_numpy()
    stored = np.sort(user_ids[rng.random(len(user_ids)) < STORED_SHARE])
    store_seed = os.path.join(root, "store_seed")
    if with_store:
        _write_store(seed, stored, rows, store_seed)
    return TagInputs(facts=facts, rules_path=rules_path,
                     store_seed=store_seed, rules=rows,
                     tag_ids=[x["tag_id"] for x in rows],
                     user_ids=np.sort(user_ids), stored_ids=stored)


def tag_strata(tag_ids: list[int], hit_counts: dict[int, int], k: int) -> list[list[int]]:
    """Tag ids cut into ``k`` groups by how many users each hits."""
    order = sorted(tag_ids, key=lambda t: (hit_counts.get(t, 0), t))
    size = -(-len(order) // k)
    return [order[i:i + size] for i in range(0, len(order), size)]


def job_tag_ids(seed: int, job: int, strata: list[list[int]]) -> list[int]:
    """One tag id from each stratum, so every job's selection hits about
    the same number of users whatever the seed."""
    r = random.Random(f"tags-{seed}-{job}")
    return sorted(r.choice(group) for group in strata)


def job_user_ids(seed: int, job: int, inputs: TagInputs, k: int) -> list[int]:
    r = random.Random(f"users-{seed}-{job}")
    pool = inputs.stored_ids.tolist()
    return sorted(r.sample(pool, min(k, len(pool))))
