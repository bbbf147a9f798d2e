"""Profile merge strategies: new tag profiles × previously-stored profiles.

Reference semantics (SURVEY §2.5 D4, §3 step 9):

- MEMORY_ONLY — new profiles overwrite (``advanced_tag_merger.py:153-160``).
- MEMORY_THEN_DATABASE — array-union new tags with the stored set per user
  (``src/merger/advanced_tag_merger.py:52-67``).
- Spec's batch merge — FULL OUTER join + key coalesce
  (`docs/标准需求文档.md` §4.3 ``merge_batch_user_tags``).

The reference's two merge paths disagree on ordering (UDF sorts,
``tag_merger.py:213``; native path doesn't, ``mysql_writer.py:178``). Here
there is one canonical form: ``array_sort(array_distinct(array_union(...)))``
— native expressions, no Python UDF, deterministic.

Scale note: this is the one unavoidable shuffle in the pipeline (join on
user_id). Both sides are pre-projected to (user_id, tag_ids[, details]) so
the shuffle moves only key + small arrays, and AQE handles skew.

The merge expressions are rendered as SQL text and parsed once per
projection (a Column-API build pays a py4j round trip per node).
"""

from __future__ import annotations

from enum import Enum
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.arrays import merged_tag_array_sql
from bigdata_tag_system_spark.functions.sqlrender import attr, ident


class MergeStrategy(str, Enum):
    OVERWRITE = "overwrite"          # MEMORY_ONLY: new wins wholesale
    UNION = "union"                  # MEMORY_THEN_DATABASE: set-union per user
    FULL_OUTER_UNION = "full_outer"  # spec §4.3: keep users present on either side


def merge_profiles(
    new: DataFrame,
    existing: DataFrame | None,
    strategy: MergeStrategy | str = MergeStrategy.UNION,
    user_col: str = "user_id",
) -> DataFrame:
    """Merge new profile rows with previously stored ones.

    ``new`` and ``existing`` both carry ``(user_col, tag_ids array<int>,
    [tag_details map], computed_date)``; ``existing`` may be None/empty.
    """
    strategy = MergeStrategy(strategy)
    if existing is None or strategy == MergeStrategy.OVERWRITE:
        return new

    has_details = "tag_details" in new.columns and "tag_details" in existing.columns
    user = attr(user_col)
    old_cols = [user, "tag_ids AS _old_tag_ids"]
    if has_details:
        old_cols.append("tag_details AS _old_tag_details")
    # non-tag attributes (computed_date, …) the store also carries: in the
    # full-outer branch a user present only in `existing` must keep them,
    # so project them in as _old_* for the coalesce below
    extra_cols = [
        c for c in new.columns
        if c not in (user_col, "tag_ids", "tag_details") and c in existing.columns
    ]
    if strategy == MergeStrategy.FULL_OUTER_UNION:
        old_cols.extend(f"{ident(c)} AS {ident('_old_' + c)}" for c in extra_cols)
    old = existing.selectExpr(*old_cols)

    tag_ids = merged_tag_array_sql("tag_ids", "_old_tag_ids")
    if strategy == MergeStrategy.UNION:
        # Users only in `existing` keep their stored row untouched (the
        # reference merges only users present in the new batch,
        # advanced_tag_merger.py:52-67) → left join from new.
        joined = new.join(old, on=user_col, how="left")
    else:  # FULL_OUTER_UNION
        # the same rule over the whole store: a user the batch never saw
        # comes back exactly as stored (tag_ids not re-sorted, NULL kept),
        # so the batch side carries a presence flag through the join
        joined = new.selectExpr("*", "true AS _in_batch").join(
            old, on=user_col, how="full_outer")
        tag_ids = f"CASE WHEN _in_batch THEN {tag_ids} ELSE _old_tag_ids END"

    out_cols = [user, f"{tag_ids} AS tag_ids"]
    for c in new.columns:
        if c in (user_col, "tag_ids"):
            continue
        if c == "tag_details" and has_details:
            # stored details survive for tags the new batch didn't re-hit,
            # new details win per key — keeps tag_details consistent with
            # the unioned tag_ids
            out_cols.append(
                "CASE WHEN _old_tag_details IS NULL THEN tag_details"
                " WHEN tag_details IS NULL THEN _old_tag_details"
                " ELSE map_concat(map_filter(_old_tag_details,"
                " (x, y) -> NOT map_contains_key(tag_details, x)), tag_details)"
                " END AS tag_details")
        elif strategy == MergeStrategy.FULL_OUTER_UNION and c in extra_cols:
            # new wins when present; stored-only users keep their stored value
            out_cols.append(f"coalesce({ident(c)}, {ident('_old_' + c)}) AS {ident(c)}")
        else:
            out_cols.append(ident(c))
    return joined.selectExpr(*out_cols)


def merge_additive_aggregates(
    store: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    count_col: str | None = None,
    max_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
) -> DataFrame:
    """Incremental aggregate-view maintenance: merge a DELTA of partial
    aggregates into a per-key aggregate STORE so the result equals the
    aggregate over (old facts ∪ new facts) WITHOUT rescanning old facts
    — the pattern that keeps a 100 TB rollup daily-updatable at the
    cost of the day's slice. Only works for DECOMPOSABLE aggregates,
    which is exactly what the column roles encode: counts and sums add,
    maxes take the greater, mins the lesser (averages ride as
    sum+count; distincts need the mergeable sketches in
    ``operators/sketches.py`` — this function is their exact-arithmetic
    complement).

    Contrast with :func:`~bigdata_tag_system_spark.sources.writers.merge_upsert_frames`:
    upsert REPLACES a matched key's value (last writer wins); this
    COMBINES both sides' values. One full-outer join on the key, all
    combination map-side.
    """
    keys = list(key_cols)
    roles: list[tuple[str, str]] = (
        [(c, "sum") for c in sum_cols]
        + ([(count_col, "sum")] if count_col else [])
        + [(c, "max") for c in max_cols]
        + [(c, "min") for c in min_cols])
    if not roles:
        raise ValueError("at least one aggregate column is required")
    seen = [c for c, _ in roles]
    if len(seen) != len(set(seen)):
        raise ValueError(f"aggregate column listed twice: {seen}")
    d = delta.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_d_{c}") for c, _ in roles])
    joined = store.join(d, keys, "full_outer")
    combine = {
        "sum": lambda c: (F.coalesce(F.col(c), F.lit(0))
                          + F.coalesce(F.col(f"_d_{c}"), F.lit(0))),
        "max": lambda c: F.greatest(F.col(c), F.col(f"_d_{c}")),
        "min": lambda c: F.least(F.col(c), F.col(f"_d_{c}")),
    }
    # greatest/least ignore NULLs (two-arg form returns the non-null
    # side), which is exactly the unmatched-side semantics needed.
    # Output columns follow the STORE's order, so the merged relation
    # is drop-in writable back over the store
    by_name = dict(roles)
    out_cols = []
    for c in store.columns:
        if c in keys:
            out_cols.append(F.col(c))
        elif c in by_name:
            out_cols.append(combine[by_name[c]](c).alias(c))
    return joined.select(*out_cols)
