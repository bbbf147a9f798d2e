"""Derived-feature operators over an event log (batch windowing).

The reference's fact columns (``trade_count_30d``, ``login_count_30d``,
``last_login_date`` …) presuppose an upstream aggregation pipeline that is
out of its frame (SURVEY §2.8). These operators ARE that pipeline:
event-log → per-user derived features, all with built-in window/agg
functions, pinned to an as-of timestamp for determinism.
"""

from __future__ import annotations

import datetime as _dt
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def recent_window_features(
    events: DataFrame,
    as_of: str | _dt.datetime,
    days: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user aggregates over the trailing N days before ``as_of``.

    Produces the reference-shaped derived columns: event_count_{N}d,
    value_sum_{N}d, last_event_ts, distinct_event_types. One shuffle
    (groupBy user) over a date-pruned scan.
    """
    as_of_lit = F.lit(str(as_of)).cast("timestamp")
    lo = F.date_sub(as_of_lit.cast("date"), days)
    filtered = events.where((F.col(ts_col) >= lo) & (F.col(ts_col) <= as_of_lit))
    return filtered.groupBy(user_col).agg(
        F.count(F.lit(1)).alias(f"event_count_{days}d"),
        F.sum(value_col).alias(f"value_sum_{days}d"),
        F.max(ts_col).alias("last_event_ts"),
        F.countDistinct(type_col).alias("distinct_event_types"),
    )


def latest_event_per_user(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Most recent event row per user.

    ``max_by(struct(all columns), (ts, id))`` — a hash aggregate with
    map-side partial combine, so the shuffle carries one row per user
    per map task. The classic row_number window formulation shuffles
    EVERY event row and sorts each user partition; at 100 TB of events
    that is strictly worse.
    """
    row = F.struct(*[F.col(c) for c in events.columns])
    order = F.struct(F.col(ts_col), F.col(id_col))
    agg = events.groupBy(user_col).agg(F.max_by(row, order).alias("_row"))
    return agg.select(*[F.col(f"_row.{c}").alias(c) for c in events.columns])


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Assign session ids: a new session starts after a gap > N minutes.

    Classic lag + cumulative-sum windowing; one shuffle on user.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # timestamp subtraction yields a day-time interval for both TIMESTAMP
    # and TIMESTAMP_NTZ (a cast("long") epoch diff rejects NTZ outright)
    prev = F.lag(F.col(ts_col)).over(w)
    # seconds granularity so fractional gap_minutes (0.5 = 30s) survive
    gap_exceeded = (F.col(ts_col) - prev) > F.expr(
        f"INTERVAL '{int(round(gap_minutes * 60))}' SECOND")
    new_session = F.when(prev.isNull() | gap_exceeded, 1).otherwise(0)
    return events.withColumn(
        "session_id", F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def daily_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Day × event_type rollup (count + sum), the batch analogue of the
    streaming tumbling-window aggregate."""
    return (
        events.groupBy(F.date_trunc("day", F.col(ts_col)).alias("day"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("event_count"), F.sum(value_col).alias("value_sum"))
    )


def time_rollup(
    events: DataFrame,
    grain: str = "1 hour",
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Arbitrary-grain tumbling rollup via ``F.window`` — the hypertable
    continuous-aggregate shape. Coarser grains re-aggregate FROM a
    materialized finer rollup instead of rescanning raw events (sum of
    sums / sum of counts are exact)."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), grain).alias("w"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("event_count"),
             F.sum(value_col).alias("value_sum"))
        .select(F.col("w.start").alias("bucket_start"), type_col,
                "event_count", "value_sum")
    )


def normalize_per_user(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user z-score of ``value_col`` — pure window functions.

    ``(value - avg) / stddev_samp`` over an unbounded per-user window:
    whole-stage-codegen'd, one shuffle on the user key, no Python on the
    hot path. Single-row / zero-variance groups (stddev NULL or 0)
    z-score to 0.0; a NULL value z-scores to NULL in EVERY group shape
    (degenerate included — without the leading null guard the 0.0 fill
    would swallow nulls only in degenerate groups, diverging from the
    grouped-map twins and from non-degenerate rows of the same plan).
    """
    w = Window.partitionBy(user_col)
    mean = F.avg(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    z = F.when(
        F.col(value_col).isNull(), F.lit(None).cast("double")
    ).when(
        std.isNull() | (std == 0), F.lit(0.0)
    ).otherwise((F.col(value_col) - mean) / std)
    return events.withColumn("value_z", z)


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_col: str | None = None,
    out_col: str = "q_uniform",
) -> DataFrame:
    """Rank-based quantile normalization to uniform(0,1): each row gets
    ``rank / (n + 1)`` within its group — the distribution-free rescale
    feature pipelines reach for when a column is heavy-tailed and
    z-scores mislead (the empirical-CDF transform; mapping through a
    target distribution's inverse CDF afterwards is a map-only step).

    The rank is ``row_number`` over ``(value, id)`` — a TOTAL order, so
    equal values get distinct, deterministic quantiles (re-run- and
    engine-stable; use a mid-rank average upstream if tie-sharing is
    wanted). The quantile is a ratio of exact integers, so the one
    float division is correctly rounded and identical in any IEEE
    engine. One shuffle on the group key (a single global window when
    ``group_col`` is None — acceptable only for dimension-sized inputs;
    at fact scale always pass a group).
    """
    keys = [group_col] if group_col else []
    w = (Window.partitionBy(*keys).orderBy(value_col, id_col)
         if keys else Window.orderBy(value_col, id_col))
    wn = Window.partitionBy(*keys) if keys else \
        Window.partitionBy(F.lit(1))
    r = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wn)
    return df.select(
        "*", r.alias(f"{out_col}_rank"),
        (r / (n + F.lit(1))).alias(out_col))


def cumulative_distinct_count(
    df: DataFrame,
    value_col: str,
    order_col: str,
    id_col: str,
    part_col: str | None = None,
    out_col: str = "cum_distinct",
) -> DataFrame:
    """``COUNT(DISTINCT value) OVER (PARTITION BY p ORDER BY o)`` —
    which Spark (like most engines) rejects outright — via the
    first-occurrence identity: a value contributes to the running
    distinct count exactly once, at its FIRST occurrence in partition
    order, so the windowed distinct count is the running SUM of
    first-occurrence flags. Two window passes — ``row_number`` per
    (partition, value) marks firsts, then a cumulative sum per
    partition over (order, id) accumulates them; that is two keyed
    exchanges, the honest distributed price of an operator no engine
    runs natively at scale (a naive per-row distinct set would hold
    O(values) state per row). The (order,
    id) composite is a total order, so the count at every row is a
    pure function of the inputs (ties cannot flip which row "sees"
    a new value first between runs or engines). NULL values do NOT
    count as a distinct value — SQL ``COUNT(DISTINCT ...)`` ignores
    NULLs, so the first-occurrence flag is zeroed when ``value_col``
    is NULL (without the guard a NULL forms its own row_number
    partition and silently inflates the running count by one).

    The curation use: "how many distinct event types/sources/shards
    has this key touched so far" as a point-in-time feature — the
    leakage-safe formulation (an unbounded ``approx_count_distinct``
    per key sees the future; this sees only the prefix).
    """
    keys = [part_col] if part_col else []
    w_first = Window.partitionBy(*keys, value_col).orderBy(
        order_col, id_col)
    w_cum = (
        (Window.partitionBy(*keys) if keys
         else Window.partitionBy(F.lit(1)))
        .orderBy(order_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    first = F.when(F.col(value_col).isNull(), F.lit(0)).otherwise(
        (F.row_number().over(w_first) == 1).cast("int"))
    return df.select(
        "*", F.sum(first).over(w_cum).cast("long").alias(out_col))


def normalize_per_user_pandas(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user z-score via grouped-map ``applyInPandas`` — the explicit
    escape hatch for group transforms that genuinely need Python (model
    scoring, scipy). Same result as :func:`normalize_per_user`, which is
    the default because window functions stay JVM-side (the grouped-map
    path was measured ~5× slower at sf0.1). Groups ship whole to one
    task: partition-by key must fit executor memory, same constraint as
    any grouped-map.
    """
    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in events.schema.fields
    ) + ", value_z double"

    def _norm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = pdf[value_col]
        std = v.std(ddof=1)
        z = (v - v.mean()) / std if std and std == std else v * 0.0
        return pdf.assign(value_z=z)

    return events.groupBy(user_col).applyInPandas(_norm, schema=out_schema)


def normalize_per_user_arrow(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user z-score via grouped-map ``applyInArrow`` — the
    zero-copy twin of :func:`normalize_per_user_pandas`: whole groups
    arrive as a ``pyarrow.Table`` (no pandas conversion, no index
    materialization, no object boxing), reduced with
    ``pyarrow.compute`` C kernels. Same semantics as
    :func:`normalize_per_user` (single-row / zero-variance groups
    z-score to 0.0); same grouped-map constraint (a group ships whole
    to one task). Completes the grouped-map half of the Arrow surface
    the way ``embeddings.arrow_batch_norms`` covers ``mapInArrow``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in events.schema.fields
    ) + ", value_z double"

    def _norm(tbl: "pa.Table") -> "pa.Table":
        v = tbl.column(value_col)
        n = len(v)
        mean = pc.mean(v).as_py()
        std = pc.stddev(v, ddof=1).as_py() if n > 1 else None
        if std is None or std != std or std == 0.0:
            # multiply-by-0 (not a literal 0.0 fill) so NULL value
            # slots stay NULL exactly like the pandas twin's `v * 0.0`
            # and the native window plan — pc.stddev skips nulls, so a
            # group can be degenerate while still holding null rows
            z = pc.multiply(pc.cast(v, pa.float64()), pa.scalar(0.0))
        else:
            z = pc.divide(
                pc.subtract(pc.cast(v, pa.float64()), mean), std)
        return tbl.append_column("value_z", z)

    return events.groupBy(user_col).applyInArrow(_norm, schema=out_schema)


def pack_by_token_budget(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_groups: int = 32,
) -> DataFrame:
    """Assign documents to training packs of ≤ ``budget`` total tokens.

    Sequence packing for LLM training: documents are first sharded into
    ``num_groups`` deterministic groups (key mod — each group packs
    independently, so the window sort is per-group, never a global
    single-partition sort), then packed first-fit-in-key-order within
    the group via a budget-aware running total: a document starts a new
    pack when adding it would exceed ``budget``. Documents longer than
    the budget get a pack of their own.

    Output: input columns + ``pack_group``, ``pack_id`` (unique within
    group). Pack quality (fill ratio) trades off against ``num_groups``:
    more groups = more parallelism, slightly more padding waste at the
    tail of each group. At 100 TB set ``num_groups`` so one group's rows
    fit an executor's memory (each group ships whole to one task).

    Greedy packing carries state across rows (a boundary depends on
    every earlier boundary), which window running-sums cannot express
    exactly — a closed-form floor(cumsum/budget) split can break packs
    where greedy wouldn't. So the scan is a grouped-map ``applyInPandas``
    (the engine's documented escape hatch for genuinely sequential
    per-group logic): one Arrow batch per group, one O(rows) pass.
    """
    # NULL token counts become NaN in the pandas scan, and NaN poisons
    # the running total permanently ("used + NaN > budget" is never True,
    # "used += NaN" sticks) — every later doc in the group would join the
    # current pack regardless of budget. Treat NULL as 0 tokens.
    t = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    # cap oversize docs at the budget so each claims exactly one pack
    capped = F.least(t, F.lit(budget))
    # integral ids shard by plain mod (portable, oracle-checkable);
    # string/UUID ids hash first — cast('long') would NULL them all into
    # ONE group and ship the whole dataset to a single task
    id_type = dict(df.dtypes).get(id_col)
    if id_type in ("tinyint", "smallint", "int", "bigint"):
        g = F.pmod(F.col(id_col).cast("long"), F.lit(num_groups))
    else:
        g = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_groups))

    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", pack_group int, pack_id int"

    budget_ = int(budget)

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort")
        packs, cur, used = [], 0, 0
        for tok in pdf["_capped"]:
            if used + tok > budget_ and used > 0:
                cur += 1
                used = 0
            used += tok
            packs.append(cur)
        return pdf.assign(pack_id=packs).drop(columns=["_capped"])

    staged = df.withColumn("pack_group", g.cast("int")).withColumn("_capped", capped)
    return staged.groupBy("pack_group").applyInPandas(_pack, schema=out_schema)


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order transition counts between consecutive event types per
    user: ``(from_type, to_type, n)`` — the Markov/journey matrix.

    One window (lag over the per-user time order, id tiebreak for equal
    timestamps) then a map-side-combined count; the shuffle carries the
    user-keyed window partitioning plus a (pair, partial-count) exchange
    of at most |types|² rows. Each user's FIRST event has no
    predecessor and contributes nothing.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.lag(type_col).over(w).alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n"))


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within: str | None = None,
) -> DataFrame:
    """Ordered funnel completion: one row per step with the number of
    users who reached it IN ORDER (each step strictly after the
    previous one for that user).

    Sequential semantics need the previous step's timestamp before the
    next can be resolved, so the plan is a chain of ``len(steps)``
    per-user min-aggregations, each a map-side-combined hash agg joined
    back on the user key — no window over raw per-user event lists and
    no per-user state. All joins share the user-key partitioning, so
    with AQE the chain reuses one shuffle layout. Scale note: cost is
    O(steps) aggregations over the (filtered) event types, not over the
    whole table — the type filter pushes into each scan.

    ``within`` (SQL interval string, e.g. ``"1 hour"``) adds a
    conversion window: each step must land within that interval of the
    PREVIOUS step's anchor. Semantics are **greedy first-occurrence**
    (the Amplitude-style convention): each step anchors on the earliest
    occurrence after the previous anchor, then the window is checked
    against that anchor. With 3+ steps this can report fewer conversions
    than exists-a-qualifying-chain semantics — e.g. view@0:00,
    clicks@0:05 and 0:50, purchase@1:30 with a 1 h window: greedy
    anchors click@0:05 so the purchase misses, though the chain via
    click@0:50 converts. For the exists-a-chain reading use
    :func:`funnel_exists_chain`. Without ``within`` the two semantics
    coincide (min-then-check is exact when only order matters).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    ev = events.select(F.col(user_col), F.col(ts_col), F.col(type_col))

    def _count_of(df, i: int, step: str):
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(f"step_{i}").alias("step"),
            F.lit(step).alias("event_type"),
            "users",
        )

    # step 1: first occurrence per user
    prev = (
        ev.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    out = _count_of(prev, 1, steps[0])
    for i, step in enumerate(steps[1:], start=2):
        reached = (
            ev.where(F.col(type_col) == step)
            .join(prev, on=user_col)
            .where(F.col(ts_col) > F.col(f"_t{i - 2}"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"_t{i - 1}"),
                 F.first(f"_t{i - 2}").alias("_prev"))
        )
        if within is not None:
            # strict-grammar interval (timeseries._parse_tolerance):
            # malformed strings raise a clear ValueError instead of a
            # plan-time AnalysisException / expression injection
            from bigdata_tag_system_spark.operators.timeseries import (
                _parse_tolerance,
            )

            reached = reached.where(
                F.col(f"_t{i - 1}")
                <= F.col("_prev") + _parse_tolerance(within))
        prev = reached.drop("_prev")
        out = out.unionByName(_count_of(prev, i, step))
    # one lazy plan, one action for the caller; shared step subtrees
    # dedupe at the physical level via exchange reuse
    return out


def funnel_exists_chain(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within: str | None = None,
) -> DataFrame:
    """Funnel under exists-a-qualifying-chain semantics.

    A user reaches step k iff timestamps ``t_1 < t_2 < … < t_k`` exist
    with each ``t_{i+1}`` within ``within`` of ``t_i`` — over ANY chain,
    not just the greedy earliest-anchor walk :func:`funnel` takes. The
    reachable-set recurrence: step-1 anchors are all step-1 events; a
    step-(i+1) event is reachable iff some reachable step-i anchor lies
    in ``[t - within, t)``. Counting needs the full anchor set per step
    (keeping only the min anchor is exactly the greedy undercount).

    Plan shape: one equi-join per step on the user key with the range
    predicate applied post-join, then distinct on (user, ts) to bound
    anchor growth at the user's own event count. All joins and
    distincts share the user-key partitioning; per-user anchor sets are
    event-bounded, so the chain scales like ``steps`` user-keyed joins,
    not like a range self-join of the whole table.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    tol = None
    if within is not None:
        from bigdata_tag_system_spark.operators.timeseries import (
            _parse_tolerance,
        )

        tol = _parse_tolerance(within)
    ev = events.select(F.col(user_col), F.col(ts_col), F.col(type_col))

    def _count_of(df, i: int, step: str):
        return df.agg(F.countDistinct(user_col).alias("users")).select(
            F.lit(f"step_{i}").alias("step"),
            F.lit(step).alias("event_type"),
            "users",
        )

    reach = (
        ev.where(F.col(type_col) == steps[0])
        .select(user_col, ts_col).distinct()
    )
    out = _count_of(reach, 1, steps[0])
    for i, step in enumerate(steps[1:], start=2):
        anchors = reach.select(
            F.col(user_col), F.col(ts_col).alias("_anchor"))
        pred = F.col(ts_col) > F.col("_anchor")
        if tol is not None:
            pred = pred & (F.col(ts_col) <= F.col("_anchor") + tol)
        reach = (
            ev.where(F.col(type_col) == step)
            .join(anchors, on=user_col)
            .where(pred)
            .select(user_col, ts_col)
            .distinct()
        )
        out = out.unionByName(_count_of(reach, i, step))
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by first-activity
    day, counted on each later activity day as a day offset.

    (cohort_day, day_offset, users): two map-side-combined aggregations
    and one join on the user key — first-activity table and distinct
    (user, day) activity table — no windows, no per-user collections.
    At 100 TB both inputs shrink drastically before the join (distinct
    per user/day), and the join key is the user — the same partitioning
    every other per-user operator uses.
    """
    day = F.date_trunc("day", F.col(ts_col))
    first = events.groupBy(user_col).agg(F.min(day).alias("cohort_day"))
    active = events.select(F.col(user_col), day.alias("_day")).distinct()
    return (
        active.join(first, on=user_col)
        .groupBy(
            "cohort_day",
            F.datediff(F.col("_day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct(user_col).alias("users"))
    )


def collapse_runs(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Collapse consecutive identical values per key into runs
    (gaps-and-islands): one row per maximal streak with its bounds.

    The island id is the classic difference of two row_numbers — global
    position minus position within the value's own sequence is constant
    across a streak and changes when the value changes. Both windows
    share the same ``key_col`` partitioning, so they evaluate in ONE
    shuffle + one sort per partition; the follow-up aggregate is keyed
    by (key, value, island) — a subset of the same partitioning, no
    second exchange of the fact rows. Per-key state never materializes
    anywhere (vs the applyInPandas formulation, which ships whole user
    histories into Python).

    Output: key, value, run_len, start/end of the run's order column.
    """
    ob = [F.col(c) for c in order_cols]
    w_all = Window.partitionBy(key_col).orderBy(*ob)
    w_val = Window.partitionBy(key_col, value_col).orderBy(*ob)
    first_order = order_cols[0]
    runs = df.select(
        F.col(key_col), F.col(value_col), *[F.col(c) for c in order_cols],
        (F.row_number().over(w_all) - F.row_number().over(w_val))
        .alias("_island"),
    )
    return (
        runs.groupBy(key_col, value_col, "_island")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min(first_order).alias("run_start"),
            F.max(first_order).alias("run_end"),
        )
        .drop("_island")
    )


def rolling_time_features(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_seconds: int = 7 * 86400,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-event trailing-window aggregates: count and sum of ``value``
    over the last ``window_seconds`` ending at each event (inclusive).

    RANGE frame over integer epoch seconds, partitioned by key — one
    shuffle, then each event's trailing window is a frame scan within
    the partition; Spark evaluates sliding RANGE frames incrementally
    (add/remove at the frame edges), not O(n²). RANGE (not ROWS)
    semantics make ties exact: all events sharing an epoch second are
    peers and always fall in together, so the result is plan- and
    engine-independent even under same-second bursts.
    """
    from pyspark.sql import Window

    # truncated-to-seconds epoch via unix_micros (the UTC-pinned session
    # makes the NTZ→timestamp cast the identity; ≡ DuckDB
    # floor(epoch(ts)) — see events_dwell_stats for the precedent)
    epoch = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / 1_000_000
    ).cast("long").alias("_epoch")
    base = df.select(
        F.col(key_col), F.col(ts_col), F.col(tiebreak_col),
        F.col(value_col), epoch)
    w = (
        Window.partitionBy(key_col)
        .orderBy("_epoch")
        .rangeBetween(-(window_seconds - 1), Window.currentRow)
    )
    return base.select(
        key_col, ts_col, tiebreak_col,
        F.count(F.lit(1)).over(w).alias("trailing_cnt"),
        F.sum(value_col).over(w).alias("trailing_sum"),
    )


def scd2_from_events(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Build a type-2 slowly-changing dimension from an attribute
    change log: one row per maximal period during which ``attr_col``
    held a value for ``key_col``, with ``valid_from`` / ``valid_to``
    (NULL = current) and ``is_current``.

    Two steps, both on the same key partitioning (one shuffle of the
    fact rows total): consecutive identical values collapse into runs
    (:func:`collapse_runs` island logic), then each run's ``valid_to``
    is the NEXT run's start via ``lead`` — so flapping values (A→B→A)
    produce three periods, not two, which is the SCD2 contract.
    """
    runs = collapse_runs(
        df, key_col=key_col, value_col=attr_col, order_cols=order_cols)
    w = Window.partitionBy(key_col).orderBy("run_start")
    nxt = F.lead("run_start").over(w)
    return runs.select(
        F.col(key_col), F.col(attr_col),
        F.col("run_start").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view"),
    window: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Last-touch revenue attribution: each conversion's value goes to
    the latest qualifying touch event at most ``window`` before it (or
    to ``(direct)`` when none exists).

    Composes :func:`~.timeseries.asof_join` — so the whole report is the
    as-of plan (ONE shuffle on the user key for the fill window) plus a
    tiny aggregate over |touch types| rows. No per-conversion subquery,
    no range join explosion: at 100 TB the cost is the same as any
    keyed window pass over events. Equal-timestamp touch ties are
    broken arbitrarily (sub-second event streams make them measure-zero;
    the per-type aggregate smooths the residue).

    Output: ``(touch_type, n_conv, revenue)`` per attributed touch type.
    """
    from bigdata_tag_system_spark.operators.timeseries import asof_join

    conv = events.where(F.col(type_col) == conversion_type).select(
        F.col(user_col), F.col(ts_col), F.col(value_col))
    touch = events.where(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col), F.col(ts_col),
        F.col(type_col).alias("_touch"))
    j = asof_join(
        conv, touch, on=user_col, ts=ts_col,
        value_cols=["_touch"], tolerance=window)
    return (
        j.groupBy(
            F.coalesce(F.col("_touch_asof"), F.lit("(direct)"))
            .alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_conv"),
            F.round(F.sum(value_col), 2).alias("revenue"),
        )
    )


def linear_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view"),
    window: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Linear multi-touch attribution: each conversion's value is split
    EQUALLY across every qualifying touch in the trailing ``window``
    (``[ts - window, ts]``, both ends inclusive); conversions with no
    in-window touch credit ``(direct)`` in full.

    One trailing RANGE frame over the interleaved (touch ∪ conversion)
    stream computes every per-type in-window count in a SINGLE shuffle
    on the user key — the per-conversion "count my touches" subquery the
    naive formulation needs never exists. The frame orders by
    ``unix_micros`` so the window bounds are exact integer arithmetic
    (a timestamp cast to long truncates to seconds; a double order key
    puts the boundary comparison on float equality).

    Output: ``(touch_type, conv_frac, revenue)`` — summed fractional
    conversion credit and attributed revenue per touch type.
    """
    from pyspark.sql import Window

    from bigdata_tag_system_spark.operators.timeseries import (
        tolerance_seconds,
    )

    win_us = int(round(tolerance_seconds(window) * 1_000_000))
    kinds = list(touch_types) + [conversion_type]
    base = events.where(F.col(type_col).isin(*kinds)).select(
        F.col(user_col),
        # ntz inputs: cast to ltz first (session TZ is pinned UTC in
        # get_spark, so the cast is offset-free) — unix_micros rejects ntz
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(type_col).alias("_kind"),
        F.col(value_col).alias("_value"),
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy("_us")
        .rangeBetween(-win_us, Window.currentRow)
    )
    counts = [
        F.sum(F.when(F.col("_kind") == t, 1).otherwise(0))
        .over(w).alias(f"_n_{i}")
        for i, t in enumerate(touch_types)
    ]
    conv = (
        base.select("*", *counts)
        .where(F.col("_kind") == conversion_type)
    )
    total = None
    for i in range(len(touch_types)):
        c = F.col(f"_n_{i}")
        total = c if total is None else total + c
    credit = F.when(
        total == 0,
        F.array(F.struct(
            F.lit("(direct)").alias("touch_type"),
            F.lit(1.0).alias("frac"))),
    ).otherwise(F.array(*[
        F.struct(
            F.lit(t).alias("touch_type"),
            (F.col(f"_n_{i}") / total).cast("double").alias("frac"))
        for i, t in enumerate(touch_types)
    ]))
    return (
        conv.select(F.col("_value"), F.explode(credit).alias("_c"))
        .groupBy(F.col("_c.touch_type").alias("touch_type"))
        .agg(
            F.round(F.sum("_c.frac"), 4).alias("conv_frac"),
            F.round(F.sum(F.col("_value") * F.col("_c.frac")), 2)
            .alias("revenue"),
        )
    )


def target_encode(
    df: DataFrame,
    category_col: str,
    label_col: str,
    fold_col: str,
    smoothing: float = 0.0,
) -> DataFrame:
    """Leakage-safe (out-of-fold) target encoding: each row's category
    is replaced by the mean label of OTHER folds' rows in that
    category — the standard high-cardinality categorical feature for
    gradient-boosted / linear models, computed so a row never sees its
    own label (or its fold-mates') in its feature.

    ``smoothing`` m blends toward the out-of-fold GLOBAL mean:
    ``enc = (cat_oof_sum + m·prior) / (cat_oof_cnt + m)`` — the classic
    shrinkage for rare categories (m=0 → raw out-of-fold mean; a
    category entirely inside one fold yields enc = prior rather than
    0/0).

    Scale shape: ONE map-side-combining groupBy over (category, fold)
    → a stats relation of |categories|×|folds| rows; totals derive
    from that tiny relation, and the encode joins back as a broadcast.
    The fact table is scanned once and shuffled once, regardless of
    cardinality. Adds columns ``enc_cnt``/``enc_sum`` (exact
    out-of-fold integer pieces when the label is integral — the
    engine-exact audit trail) and ``enc`` (the smoothed double).
    """
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    cf = df.groupBy(category_col, fold_col).agg(
        F.sum(label_col).alias("_s"),
        F.count(label_col).alias("_c"),
    # the (category, fold) stats feed FOUR consumers (category totals,
    # global totals, fold totals, the stats join) — lazy-checkpoint so
    # the fact-table aggregation runs once, not per consumer
    ).localCheckpoint(eager=False)
    cat_tot = cf.groupBy(category_col).agg(
        F.sum("_s").alias("_cs"), F.sum("_c").alias("_cc"))
    glob = cf.agg(F.sum("_s").alias("_gs"), F.sum("_c").alias("_gc"))
    fold_tot = cf.groupBy(fold_col).agg(
        F.sum("_s").alias("_fs"), F.sum("_c").alias("_fc"))
    stats = (
        cf.join(cat_tot, category_col)
        .join(F.broadcast(fold_tot), fold_col)
        .crossJoin(F.broadcast(glob))
        .select(
            category_col, fold_col,
            (F.col("_cs") - F.col("_s")).alias("enc_sum"),
            (F.col("_cc") - F.col("_c")).alias("enc_cnt"),
            # try_divide: a single-fold input has no out-of-fold prior
            # (0/0) — NULL, not an ANSI error
            F.try_divide(
                F.col("_gs") - F.col("_fs"),
                F.col("_gc") - F.col("_fc")).alias("_prior"),
        )
        .withColumn(
            "enc",
            F.try_divide(
                F.col("enc_sum") + F.lit(smoothing) * F.col("_prior"),
                F.col("enc_cnt") + F.lit(smoothing)))
        .drop("_prior")
    )
    return df.join(F.broadcast(stats), [category_col, fold_col], "left")


def hashed_features(
    df: DataFrame,
    cols: Sequence[str],
    dims: int = 1024,
    id_col: str = "user_id",
) -> DataFrame:
    """Hashing-trick featurizer: sparse (id, bucket, weight) rows.

    The fixed-vocabulary-free encoder (Weinberger et al. 2009) a
    100 TB feature pipeline needs: no fitted dictionary to broadcast
    or keep consistent across days — bucket = hash("col=value") mod
    ``dims``, sign = the next hash bit (the signed variant keeps
    collision noise zero-mean, so colliding categories cancel in
    expectation instead of piling up). Pure per-row projection + one
    aggregate: map-side combinable, no fitted state, no shuffle beyond
    the final (id, bucket) groupBy, deterministic across runs AND
    engines — the hash is the portable md5-60
    (``functions.text.portable_hash60``), so a SQL oracle reproduces
    every bucket and sign exactly.

    NULL values contribute nothing (standard hashing-trick treatment:
    absence is the zero vector, not a "NULL" category). Repeated
    (id, col, value) rows vote repeatedly — counts, not presence.
    """
    from functools import reduce

    from bigdata_tag_system_spark.functions.text import portable_hash60

    d = int(dims)
    parts = []
    for c in cols:
        key = F.concat(F.lit(c + "="), F.col(c).cast("string"))
        parts.append(
            df.where(F.col(c).isNotNull())
            .select(F.col(id_col).alias("id"),
                    portable_hash60(key).alias("_h"))
            .select(
                "id",
                F.pmod(F.col("_h"), F.lit(d)).alias("bucket"),
                F.when(F.expr(f"(_h DIV {d}) % 2 = 0"), F.lit(1))
                .otherwise(F.lit(-1)).alias("_w")))
    u = reduce(DataFrame.unionAll, parts)
    return (u.groupBy("id", "bucket")
            .agg(F.sum("_w").cast("long").alias("weight")))


def woe_encode(
    df: DataFrame,
    category_col: str,
    target_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence encoding per category + the information-value
    decomposition — the credit-scoring-standard supervised categorical
    encoder (sibling of :func:`target_encode`, which yields posterior
    means; WOE yields log-odds, the right feature for linear/logit
    models, and IV ranks the column's predictive power).

    ``woe(c) = ln(((pos_c + s) / pos_tot) / ((neg_c + s) / neg_tot))``
    with additive smoothing ``s`` in the numerators only (documented
    convention, replayed literally by the oracle); ``iv_term(c) =
    ((pos_c + s)/pos_tot − (neg_c + s)/neg_tot) · woe(c)`` so
    ``Σ iv_term`` is the column IV. One hash aggregate over the fact
    table + a broadcast 1-row totals join — no shuffle beyond the
    groupBy, no iteration.

    ``target_col`` must be 0/1-coercible (booleans welcome).
    """
    t = F.col(target_col).cast("int")
    per = df.groupBy(category_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).alias("n_pos"))
    per = per.withColumn("n_neg", F.col("n") - F.col("n_pos"))
    tot = per.agg(F.sum("n_pos").alias("_pt"),
                  F.sum("n_neg").alias("_nt"))
    s = F.lit(float(smoothing))
    pr = (F.col("n_pos") + s) / F.col("_pt")
    nr = (F.col("n_neg") + s) / F.col("_nt")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            category_col, "n", "n_pos", "n_neg",
            F.log(pr / nr).alias("woe"),
            ((pr - nr) * F.log(pr / nr)).alias("iv_term"))
    )


def active_user_board(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    wau_days: int = 7,
    mau_days: int = 28,
) -> DataFrame:
    """Exact DAU / WAU / MAU / stickiness board — the product-analytics
    staple (stickiness = DAU/MAU in basis points). The EXACT
    counterpart of the mergeable-sketch path (`sketch_hll_sliding`):
    right for backfills and truth-checks; switch to the sketches when
    the distinct sets outgrow a shuffle.

    Scale shape: facts collapse to distinct (user, day) FIRST (one
    hash agg — the only pass over raw events), then each active day
    explodes to the ≤``mau_days`` report days it supports (a bounded
    28× on the already-collapsed relation, NOT on events) and one
    count-distinct per (report_day, horizon) finishes it. No window
    over data rows, no per-day rescans. Report days cover only the
    observed span. Returns (day, dau, wau, mau, stickiness_bp).
    """
    ud = (
        events.where(F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("_u"),
                F.to_date(F.col(ts_col)).alias("_d"))
        .distinct()
    )
    span = ud.agg(F.min("_d").alias("_lo"), F.max("_d").alias("_hi"))
    covering = ud.crossJoin(F.broadcast(span)).select(
        "_u", "_d",
        F.explode(F.sequence(
            F.col("_d"),
            F.least(F.date_add(F.col("_d"), mau_days - 1), F.col("_hi"))
        )).alias("day"))
    per_day = covering.groupBy("day").agg(
        F.countDistinct(F.when(F.col("day") == F.col("_d"), F.col("_u")))
        .alias("dau"),
        F.countDistinct(F.when(
            F.datediff(F.col("day"), F.col("_d")) < wau_days,
            F.col("_u"))).alias("wau"),
        F.countDistinct("_u").alias("mau"))
    return per_day.select(
        F.col("day").cast("string").alias("day"),
        "dau", "wau", "mau",
        F.expr("(10000 * dau) DIV mau").alias("stickiness_bp"),
    ).orderBy("day")


def abc_xyz_classes(
    facts: DataFrame,
    key_col: str,
    revenue_cents: str,
    qty_col: str,
    period_col: str,
    abc_fences_bp: tuple[int, int] = (8000, 9500),
    xyz_fences_pct: tuple[int, int] = (50, 100),
) -> DataFrame:
    """ABC × XYZ inventory classification — the supply-chain standard:
    ABC ranks items by cumulative revenue share (A = the head that
    makes ``abc_fences_bp[0]`` basis points of revenue, C = the tail),
    XYZ scores demand PREDICTABILITY by the coefficient of variation
    of per-period quantities (X steady … Z erratic).

    Every classification is decided in EXACT arithmetic so no item can
    flip class on a float ulp at a fence: revenue enters as integer
    cents (caller maps money to a long — one deterministic per-row
    rounding), the cumulative-share test is ``cum·10000 ≤ tot·fence_bp``
    with both sides widened to decimal(38,0) (int64 wraps silently once
    total cents pass ~9.2e14), and the CV test squares it —
    ``cv < f/100  ⇔  100²·(n·Σq² − (Σq)²) < f²·(Σq)²``. CV is over
    OBSERVED periods only (documented; zero-filling punishes new
    items). The cumulative ranking is a global window over the
    per-item aggregate — the Pareto allowance class
    (customer_revenue_concentration), fence-based variant being the
    escape hatch at item-dimension scale. One row per (abc, xyz) cell:
    (abc, xyz, n_items, revenue_cents, revenue_share_bp).

    ``key_col`` is a column name; ``revenue_cents``, ``qty_col`` and
    ``period_col`` are SQL expression text over ``facts`` (a plain
    column name is one).
    """
    from bigdata_tag_system_spark.functions.sqlrender import ident

    a_bp, b_bp = abc_fences_bp
    x_pct, y_pct = xyz_fences_pct
    # The whole classification is rendered as TWO parsed statements
    # split at the lazy checkpoint (r14, guide §5): a Column-API build
    # paid ~1,300 py4j round-trips (~1 s driver-blocked).
    spark = facts.sparkSession
    kq = ident(key_col)
    per_item = spark.sql(
        f"""
        WITH pp AS (SELECT {kq} AS _k, {period_col} AS _p,
                           sum({revenue_cents}) AS _rev,
                           sum({qty_col}) AS _q
                    FROM {{facts}} GROUP BY 1, 2)
        SELECT _k, sum(_rev) AS rev, count(1) AS _n,
               sum(_q) AS _sq, sum(_q * _q) AS _sq2
        FROM pp GROUP BY _k
        """,
        facts=facts,
        # the per-item moments feed the revenue total AND the
        # ranked window — lazy-checkpoint so the two-level fact
        # aggregation runs once, not per consumer
    ).localCheckpoint(eager=False)
    tot = per_item.agg(F.sum("rev").alias("_tot"))
    return spark.sql(
        f"""
        WITH ranked AS (
          SELECT /*+ BROADCAST(t) */ _k, rev, _n, _sq, _sq2, _tot,
                 sum(rev) OVER (ORDER BY rev DESC, _k
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS _cum
          FROM {{per_item}} CROSS JOIN {{t}} t),
        classed AS (
          SELECT _k, rev, _tot,
            CASE WHEN CAST(_cum AS DECIMAL(38,0)) * 10000
                      <= CAST(_tot AS DECIMAL(38,0)) * {int(a_bp)}
                 THEN 'A'
                 WHEN CAST(_cum AS DECIMAL(38,0)) * 10000
                      <= CAST(_tot AS DECIMAL(38,0)) * {int(b_bp)}
                 THEN 'B' ELSE 'C' END AS abc,
            CASE WHEN _sq <= 0 THEN 'Z'
                 WHEN CAST(10000 AS DECIMAL(19,0))
                      * (CAST(_n AS DECIMAL(19,0))
                         * CAST(_sq2 AS DECIMAL(19,0))
                         - CAST(_sq AS DECIMAL(19,0))
                           * CAST(_sq AS DECIMAL(19,0)))
                      < CAST({int(x_pct * x_pct)} AS DECIMAL(19,0))
                        * (CAST(_sq AS DECIMAL(19,0))
                           * CAST(_sq AS DECIMAL(19,0)))
                 THEN 'X'
                 WHEN CAST(10000 AS DECIMAL(19,0))
                      * (CAST(_n AS DECIMAL(19,0))
                         * CAST(_sq2 AS DECIMAL(19,0))
                         - CAST(_sq AS DECIMAL(19,0))
                           * CAST(_sq AS DECIMAL(19,0)))
                      < CAST({int(y_pct * y_pct)} AS DECIMAL(19,0))
                        * (CAST(_sq AS DECIMAL(19,0))
                           * CAST(_sq AS DECIMAL(19,0)))
                 THEN 'Y' ELSE 'Z' END AS xyz
          FROM ranked)
        SELECT abc, xyz, count(1) AS n_items,
               sum(rev) AS revenue_cents,
               (10000 * CAST(sum(rev) AS DECIMAL(38,0)))
               DIV CAST(first(_tot) AS DECIMAL(38,0))
               AS revenue_share_bp
        FROM classed GROUP BY abc, xyz ORDER BY abc, xyz
        """,
        per_item=per_item, t=tot,
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lower_pct: float = 0.05,
    upper_pct: float = 0.95,
) -> DataFrame:
    """Winsorization report: exact per-group percentile fences and the
    clamp census — how many rows each tail clamps and what the
    winsorized mean looks like vs the raw mean (the robust-feature
    preprocessing decision in one relation, before committing a clamp
    at 100 TB).

    Two aggregates over the same grouping (exact ``percentile`` fences
    first, then one conditional pass with the fences broadcast back) —
    no window over data rows, no sort. Exact percentiles follow the
    SQL continuous-interpolation convention shared by Spark
    ``percentile`` and DuckDB ``quantile_cont``.
    """
    keys = [group_col] if group_col else []
    v = F.col(value_col).cast("double")
    fences = df.groupBy(*keys).agg(
        F.expr(f"percentile({value_col}, {lower_pct})").alias("_lo"),
        F.expr(f"percentile({value_col}, {upper_pct})").alias("_hi"))
    joined = (df.join(F.broadcast(fences), keys) if keys
              else df.crossJoin(F.broadcast(fences)))
    wv = F.greatest(F.least(v, F.col("_hi")), F.col("_lo"))
    out = joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("_lo"), 4).alias("fence_lo"),
        F.round(F.min("_hi"), 4).alias("fence_hi"),
        F.sum((v < F.col("_lo")).cast("int")).alias("n_clamped_low"),
        F.sum((v > F.col("_hi")).cast("int")).alias("n_clamped_high"),
        F.round(F.avg(v), 4).alias("raw_mean"),
        F.round(F.avg(wv), 4).alias("winsorized_mean"))
    return out.orderBy(*keys) if keys else out


def mutual_information(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col,
    label_name: str = "label",
) -> DataFrame:
    """Discrete mutual-information feature ranking: MI(X; Y) in nats
    between each candidate feature column and a label expression, plus
    both marginal entropies and the normalized MI — the model-free
    screen that orders candidate features before any encoder
    (WOE/target-encode, this module) is fitted.

    One fact scan regardless of feature count: the features are
    stacked into (feature, value) rows with ``explode`` and the joint
    histogram is ONE hash aggregate on (feature, value, label).
    Marginals are window sums over the joint relation — dimension-
    sized (|features| × |values| × |labels| rows), never fact rows —
    so adding features widens the explode factor but never adds a
    pass. NULL is kept as its own feature state (the reference's rule
    engine treats NULL as a matchable state, `rule_parser.py`'s
    null-operator family; same convention here).
    """
    lbl = label_col if not isinstance(label_col, str) else F.col(label_col)
    stacked = df.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("feature"),
                F.coalesce(F.col(c).cast("string"), F.lit("␀"))
                .alias("v"))
            for c in feature_cols
        ])).alias("fx"),
        F.coalesce(lbl.cast("string"), F.lit("␀")).alias("l"),
    ).select("fx.feature", "fx.v", "l")

    joint = stacked.groupBy("feature", "v", "l").agg(
        F.count(F.lit(1)).cast("double").alias("nxy"))

    w_all = Window.partitionBy("feature")
    w_x = Window.partitionBy("feature", "v")
    w_y = Window.partitionBy("feature", "l")
    terms = joint.select(
        "feature", "v", "l", "nxy",
        F.sum("nxy").over(w_all).alias("n"),
        F.sum("nxy").over(w_x).alias("nx"),
        F.sum("nxy").over(w_y).alias("ny"))

    p = F.col("nxy") / F.col("n")
    mi_term = p * F.log(F.col("nxy") * F.col("n")
                        / (F.col("nx") * F.col("ny")))
    # entropy terms are per-marginal: weight each joint cell by
    # nxy/nx (resp. nxy/ny) so every (feature, v) contributes its
    # -px*ln(px) exactly once
    hx_term = (F.col("nxy") / F.col("n")) * F.log(F.col("nx") / F.col("n"))
    hy_term = (F.col("nxy") / F.col("n")) * F.log(F.col("ny") / F.col("n"))
    out = terms.groupBy("feature").agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.sum(mi_term), 6).alias("mi_nats"),
        F.round(-F.sum(hx_term), 6).alias("h_feature"),
        F.round(-F.sum(hy_term), 6).alias("h_" + label_name),
        F.round(F.sum(mi_term)
                / F.nullif(F.least(-F.sum(hx_term), -F.sum(hy_term)),
                           F.lit(0.0)), 6).alias("nmi"))
    return out.orderBy("feature")


def cuped_adjustment(
    user_metrics: DataFrame,
    metric_col: str = "y",
    covariate_col: str = "x",
    arm_col: str = "arm",
) -> DataFrame:
    """CUPED variance reduction for an A/B readout: fit
    ``theta = cov(X, Y) / var(X)`` on the pre-experiment covariate,
    report the raw vs adjusted arm difference and the variance
    reduction the adjustment buys (Deng et al., WSDM'13). The
    experimentation twin of the reference's tag-profile readouts —
    same unit-level relation, one extra moment pass.

    ``user_metrics`` is the per-unit relation (one row per
    randomization unit). Two aggregates: a 1-row population-moment
    fit, broadcast back for the adjusted per-arm means — no window,
    no second fact scan; everything after the input relation is
    unit-dimension-sized.
    """
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    fit = user_metrics.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.covar_pop(x, y) / F.var_pop(x)).alias("_theta"),
        F.avg(x).alias("_mx"),
        F.var_pop(y).alias("_var_y"))
    adj = y - F.col("_theta") * (x - F.col("_mx"))
    t = F.col(arm_col) == 1
    return user_metrics.crossJoin(F.broadcast(fit)).agg(
        F.max("_n").cast("long").alias("n_units"),
        F.round(F.max("_theta"), 6).alias("theta"),
        F.round(F.max("_var_y"), 4).alias("var_raw"),
        F.round(F.var_pop(adj), 4).alias("var_adjusted"),
        F.round((F.lit(1.0) - F.var_pop(adj) / F.max("_var_y"))
                * 100, 4).alias("var_reduction_pct"),
        F.round(F.avg(F.when(t, y)) - F.avg(F.when(~t, y)), 6)
        .alias("diff_raw"),
        F.round(F.avg(F.when(t, adj)) - F.avg(F.when(~t, adj)), 6)
        .alias("diff_adjusted"))


def pareto_frontier(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Skyline (Pareto-frontier) operator: rows not weakly dominated
    by any other row — no other row is ≥ on both axes and > on at
    least one (Börzsönyi et al., ICDE'01). Equal (x, y) duplicates
    are mutually non-dominating and all kept.

    Never the O(N²) NOT-EXISTS self-join: the frontier is decided on
    the DISTINCT-x relation — per-x max(y), then one descending
    window pass where a row survives iff its max-y beats the running
    max over strictly-greater x — and joined back to the input on x.
    The window sorts |distinct x| rows, never the input; at 100 TB
    the distinct-x relation is the dimension, not the facts.
    """
    xg = df.groupBy(x_col).agg(F.max(F.col(y_col)).alias("_my"))
    w = (Window.orderBy(F.col(x_col).desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    front_x = xg.select(
        x_col, "_my", F.max("_my").over(w).alias("_prior"))
    front_x = front_x.where(
        F.col("_prior").isNull() | (F.col("_my") > F.col("_prior")))
    return (df.join(F.broadcast(front_x.select(x_col, "_my")), x_col)
            .where(F.col(y_col) == F.col("_my"))
            .drop("_my"))


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col: str,
    pcts: Sequence[int] = (25, 50, 90),
) -> DataFrame:
    """Exact weighted percentiles (lower-value convention): the
    smallest value whose cumulative weight reaches p% of the group's
    total weight. The decision rule is pure integer arithmetic
    (``100·cumw ≥ p·W``), so the picked value is bit-identical in any
    engine — no interpolation, no float thresholds.

    Values are collapsed to (group, value, Σweight) FIRST, so the
    per-group cumulative window runs over distinct values, not raw
    rows; the weight column is cast to bigint (fractional weights
    should be fixed-pointed by the caller).
    """
    v = F.col(value_col)
    wsum = (df.groupBy(group_col, value_col)
            .agg(F.sum(F.col(weight_col).cast("bigint")).alias("_w")))
    wg = Window.partitionBy(group_col)
    wc = (Window.partitionBy(group_col).orderBy(v)
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = wsum.select(
        group_col, value_col, "_w",
        F.sum("_w").over(wc).alias("_cum"),
        F.sum("_w").over(wg).alias("_tot"))
    picks = [
        F.min(F.when(F.col("_cum") * 100 >= F.lit(int(p)) * F.col("_tot"),
                     v)).alias(f"p{int(p)}")
        for p in pcts
    ]
    return (cum.groupBy(group_col)
            .agg(F.max("_tot").alias("total_weight"), *picks)
            .orderBy(group_col))


def jackknife_ratio_se(
    df: DataFrame,
    num_col: str,
    den_col: str,
    unit_col: str,
) -> DataFrame:
    """Delete-one-unit jackknife standard error for a ratio-of-sums
    metric ``R = Σnum / Σden`` (Efron & Stein '81; the experimentation
    workhorse for ratio metrics, where the naive per-row variance is
    wrong because the denominator is random too). Deterministic by
    construction — no resampling RNG: the i-th replicate is the
    CLOSED-FORM leave-one-out ratio ``(Sn − n_i) / (Sd − d_i)``.

    One unit-level aggregate, a broadcast 1-row totals fit, then one
    pass over the unit relation: ``se² = (g−1)/g · Σ(R_i − R̄)²``.
    Never materializes g copies of anything — the "resample" is
    algebra, which is what makes it run at 100 TB where bootstrap
    copies cannot.
    """
    units = df.groupBy(unit_col).agg(
        F.sum(F.col(num_col).cast("double")).alias("_n"),
        F.sum(F.col(den_col).cast("double")).alias("_d"))
    tot = units.agg(
        F.count(F.lit(1)).alias("_g"),
        F.sum("_n").alias("_sn"), F.sum("_d").alias("_sd"))
    ri = (F.col("_sn") - F.col("_n")) / (F.col("_sd") - F.col("_d"))
    # center each replicate on the FULL-SAMPLE ratio before the power
    # sums: the deviations d_i are tiny, so ΣΔ² never cancels two huge
    # near-equal sums (the raw ΣR_i² − (ΣR_i)²/g identity would)
    dev = ri - F.col("_sn") / F.col("_sd")
    reps = units.crossJoin(F.broadcast(tot)).select(
        "_g", "_sn", "_sd", dev.alias("_d"))
    g = F.max("_g").cast("double")
    ss = F.sum(F.col("_d") * F.col("_d")) - F.pow(F.sum("_d"), 2) / g
    return reps.agg(
        F.max("_g").cast("long").alias("n_units"),
        F.round(F.max(F.col("_sn") / F.col("_sd")), 6).alias("ratio"),
        F.round(F.sqrt((g - 1.0) / g * ss), 6).alias("se_jack"))


def markov_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conv_type: str = "purchase",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
    steps: int = 10,
) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2016) —
    the channel-credit model that last-touch and linear splits
    approximate: build the first-order journey chain
    (START → channels → CONV/NULL), compute the conversion probability
    within ``steps`` transitions, then for each channel recompute it
    with that channel REMOVED (every transition into it redirected to
    NULL); a channel's credit is the conversion probability it would
    take with it.

    The fact-scale work — sessionize, truncate at first conversion,
    transition counts — is all distributed window/agg work. The chain
    itself is (|channels|+3)²-bounded, so it is collected (the
    codebook-collect convention) and the ``steps``-iteration absorption
    vectors are computed driver-side in a FIXED sorted state order —
    deterministic IEEE float work an engine replays exactly. The
    result ships back as a pure literal plan (explode over a 1-row
    range — no RDD scan).

    Journey semantics, pinned for the oracle: sessions split on
    inter-event gaps strictly greater than ``gap_seconds`` (ordered by
    ``(ts, id)``); a converting session keeps only the prefix BEFORE
    its first conversion event and terminates in CONV (START→CONV when
    the conversion opens the session); a non-converting session keeps
    every event and terminates in NULL.
    """
    # the fact-scale sessionize→truncate→transition-count chain is
    # rendered as TWO parsed SQL statements split at the checkpoint
    # (r14, guide §5): the Column-API build paid ~1,500 py4j
    # round-trips (~0.5 s driver-blocked). The CTE bodies transcribe
    # the former windows verbatim (same partitioning, same ordering,
    # same gap/truncation rules), so the analyzed plan, the journey
    # semantics and the transition counts are unchanged. `kept` is
    # inlined per consumer from fresh-id parameters (sqlrender rules).
    from bigdata_tag_system_spark.functions.sqlrender import (
        fresh_ids,
        ident,
        sql_lit,
    )

    spark = events.sparkSession
    u, t = ident(user_col), ident(type_col)
    ts, i = ident(ts_col), ident(id_col)
    conv = sql_lit(str(conv_type))
    gap_us = int(gap_seconds) * 1_000_000
    rows = spark.sql(
        f"""
        WITH sess AS (
          SELECT {u} AS _u, {t} AS _t, {ts} AS _ts, {i} AS _id,
                 coalesce(CAST((unix_micros(CAST({ts} AS TIMESTAMP)) -
                                lag(unix_micros(CAST({ts} AS TIMESTAMP)))
                                OVER (PARTITION BY {u}
                                      ORDER BY {ts}, {i}))
                               > {gap_us} AS INT), 0) AS _brk
          FROM {{events}}),
        s2 AS (SELECT _u, _t, _ts, _id,
                      sum(_brk) OVER (PARTITION BY _u
                                      ORDER BY _ts, _id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS _sid
               FROM sess),
        r AS (SELECT _u, _sid, _t, _ts, _id,
                     row_number() OVER (PARTITION BY _u, _sid
                                        ORDER BY _ts, _id) AS _rn
              FROM s2)
        SELECT _u, _sid, _t, _ts, _id, _rn,
               min(CASE WHEN _t = {conv} THEN _rn END)
               OVER (PARTITION BY _u, _sid) AS _conv_rn
        FROM r
        """,
        events=events,
        # rows feeds the kept prefix (twice, via step/last edges) and
        # the empty-conversion probe — lazy-checkpoint so the
        # three-window sessionize chain over the fact table runs once
    ).localCheckpoint(eager=False)
    counts = spark.sql(
        """
        WITH step AS (
          SELECT coalesce(lag(_t) OVER (PARTITION BY _u, _sid
                                        ORDER BY _rn), 'START') AS _from,
                 _t AS _to
          FROM {r1} WHERE _conv_rn IS NULL OR _rn < _conv_rn),
        lastk AS (
          SELECT _t AS _from,
                 CASE WHEN _conv_rn IS NOT NULL THEN 'CONV'
                      ELSE 'NULL' END AS _to
          FROM (SELECT *, max(_rn) OVER (PARTITION BY _u, _sid)
                          AS _max_rn
                FROM {r2} WHERE _conv_rn IS NULL OR _rn < _conv_rn)
          WHERE _rn = _max_rn),
        emptyc AS (
          SELECT 'START' AS _from, 'CONV' AS _to
          FROM {r3} WHERE _conv_rn = 1 AND _rn = 1),
        e AS (SELECT _from, _to FROM step
              UNION ALL SELECT _from, _to FROM lastk
              UNION ALL SELECT _from, _to FROM emptyc)
        SELECT _from, _to, count(1) AS _n FROM e GROUP BY _from, _to
        """,
        r1=rows, r2=fresh_ids(rows), r3=fresh_ids(rows))

    # chain is dimension-bounded: collect, solve, ship back literal
    rows_c = counts.collect()
    from collections import defaultdict

    n_out: dict[str, int] = defaultdict(int)
    t_count: dict[tuple[str, str], int] = {}
    for r in rows_c:
        t_count[(r["_from"], r["_to"])] = r["_n"]
        n_out[r["_from"]] += r["_n"]
    channels = sorted({f for f, _ in t_count if f != "START"}
                      | {t for _, t in t_count
                         if t not in ("CONV", "NULL")})

    def absorb(removed: str | None) -> float:
        # T with `removed` redirected to NULL; fixed sorted iteration
        trans: dict[str, list[tuple[str, float]]] = defaultdict(list)
        agg: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for (f, t), n in sorted(t_count.items()):
            if f == removed:
                continue
            if t == removed:
                t = "NULL"
            agg[f][t] += n / n_out[f]
        for f in sorted(agg):
            trans[f] = sorted(agg[f].items())
        v = {"CONV": 1.0}
        for _ in range(steps):
            nv = {"CONV": 1.0, "NULL": 0.0}
            for f in sorted(trans):
                s = 0.0
                for t, p in trans[f]:
                    s += p * v.get(t, 0.0)
                nv[f] = s
            v = nv
        return v.get("START", 0.0)

    base = absorb(None)
    # base = 0 (nothing converts) → no credit to distribute: every
    # removal effect is 0, not the vacuous 1 − 0/0 branch
    removals = [(c, max(0.0, 1.0 - absorb(c) / base) if base > 0
                 else 0.0)
                for c in channels]
    spark = events.sparkSession
    if not removals:
        # every converting journey opened with the conversion and no
        # non-converting journey exists → no channel states at all;
        # an empty F.array() would type as VOID, so build the typed
        # empty relation explicitly
        return spark.createDataFrame(
            [], "channel string, p_conv_base double, "
                "removal_effect double, attribution_share double")
    total_r = sum(r for _, r in removals)
    out = [
        F.struct(
            F.lit(c).alias("channel"),
            F.lit(round(base, 6)).alias("p_conv_base"),
            F.lit(round(r, 6)).alias("removal_effect"),
            (F.lit(round(r / total_r, 6)) if total_r > 0
             else F.lit(None).cast("double")).alias("attribution_share"))
        for c, r in removals
    ]
    return (spark.range(1)
            .select(F.explode(F.array(*out)).alias("s"))
            .select("s.channel", "s.p_conv_base", "s.removal_effect",
                    "s.attribution_share")
            .orderBy("channel"))
