"""Time-series joins Spark lacks as primitives: as-of join and range join.

No reference equivalent (SURVEY §2.3: the reference has only single-key
equi-joins) — these are the standard time-series operators a
training-data/feature pipeline needs, built as compositions of existing
DataFrame ops per the Spark-first mandate (no custom physical operators).

Scale design:

- **As-of join** is O(n log n) via union + window — ONE shuffle/sort on
  (key, ts), never a join explosion. The naive formulation (theta join on
  ``l.ts >= r.ts`` + argmax) is a per-key cross product; this one ships
  both sides to the same (key)-hash partitions and resolves the "latest
  right ≤ left.ts" with ``last_value(ignorenulls)`` over the interleaved
  ordering. Skewed keys behave like any window: AQE/salting upstream.
- **Range join** (point-in-interval) buckets both sides on a time grid:
  intervals explode to the buckets they overlap, points join on their
  single bucket (equi-join → hash join, pruned), then the exact predicate
  filters. Bucket width trades replication (long intervals → many
  buckets) against candidate count — pick it near the median interval
  length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_TOLERANCE_UNIT_SECONDS = {
    "microsecond": 1e-6, "millisecond": 1e-3, "second": 1.0,
    "minute": 60.0, "hour": 3600.0, "day": 86400.0, "week": 604800.0,
}


def tolerance_seconds(tolerance: str) -> float:
    """Total seconds for a validated ``"<n> <unit>"`` interval string.

    The shared strict grammar behind every time-window parameter in this
    package (as-of tolerance, attribution windows): parse-don't-interpolate
    so malformed values fail loudly and the parameter can't smuggle SQL.
    """
    import re

    m = re.fullmatch(
        r"\s*(\d+)\s+(microsecond|millisecond|second|minute|hour|day|week)s?\s*",
        str(tolerance), flags=re.IGNORECASE)
    if not m:
        units = "/".join(_TOLERANCE_UNIT_SECONDS)
        raise ValueError(
            f"time window must look like '<n> <unit>' with unit in "
            f"{units}(s), got {tolerance!r}")
    return int(m.group(1)) * _TOLERANCE_UNIT_SECONDS[m.group(2).lower()]


def _parse_tolerance(tolerance: str):
    """Validated interval Column for a ``"<n> <unit>"`` tolerance string.

    Interpolating the raw string into ``F.expr(f"INTERVAL '{...}'")``
    made malformed values surface as opaque plan-time AnalysisExceptions
    and left the parameter open as a SQL-expression injection point —
    parse against a strict grammar instead and build the interval with
    ``make_dt_interval`` from the parsed components.
    """
    total = tolerance_seconds(tolerance)
    days, rem = divmod(total, 86400.0)
    return F.make_dt_interval(
        F.lit(int(days)), F.lit(0), F.lit(0), F.lit(rem))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    right_ts: str | None = None,
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
    tolerance: str | int | float | None = None,
) -> DataFrame:
    """For each left row: columns of the latest right row with
    ``right.ts <= left.ts`` for the same key (NULLs when none).

    Equivalent to DuckDB/kdb ``ASOF LEFT JOIN`` — oracle-checked against
    DuckDB's native implementation in the driver harness.

    ``tolerance`` caps staleness (pandas ``merge_asof`` semantics): a
    match older than ``left.ts - tolerance`` yields NULLs instead. Pass
    a SQL interval string (``"30 minutes"``) for timestamp columns or a
    number for numeric ts columns. Same single-shuffle plan — the bound
    is a post-fill mask, not a join condition.

    Ties: among right rows sharing ``(key, ts)`` the greatest value
    struct wins — a total order, so the result is a pure function of
    the inputs, never of partition delivery order (same rule as
    :func:`asof_join_nearest`).
    """
    rts = right_ts or ts
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, rts)
    ]

    # Right-side values travel inside ONE struct: last(ignorenulls) must
    # skip rows that aren't right rows, but a matching right row whose
    # value column is legitimately NULL must still win (carrying bare
    # value columns would make ignorenulls skip past it to an older row).
    # The matched right timestamp rides along for the tolerance mask.
    vstruct = F.struct(*[F.col(c) for c in value_cols],
                       F.col(rts).alias("_matched_ts"))
    l_tagged = left.select(
        F.col(on), F.col(ts).alias("_ts"), F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(
            right.select(vstruct.alias("_v")).schema["_v"].dataType
        ).alias("_v"),
    )
    r_tagged = right.select(
        F.col(on), F.col(rts).alias("_ts"), F.lit(0).alias("_is_left"),
        F.lit(None).cast(l_tagged.schema["_lrow"].dataType).alias("_lrow"),
        vstruct.alias("_v"),
    )

    from pyspark.sql import Window

    # rights sort before lefts at equal ts (_is_left asc) so a tie counts;
    # _v (the value struct) totalizes the order among right rows sharing
    # (key, ts) — last() then deterministically picks the greatest value
    # struct instead of whichever row the partition happened to deliver
    # last (the r9 asof-nearest tie rule, applied to the backward join)
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_is_left", "_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l_tagged.unionByName(r_tagged)
    filled = unioned.select(
        "*", F.last("_v", ignorenulls=True).over(w).alias("_f")
    ).where(F.col("_is_left") == 1)
    if tolerance is None:
        fresh = F.lit(True)
    elif isinstance(tolerance, (int, float)):
        fresh = F.col("_f._matched_ts") >= F.col("_ts") - F.lit(tolerance)
    else:
        fresh = F.col("_f._matched_ts") >= F.col("_ts") - _parse_tolerance(
            tolerance)
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out_cols += [
        F.when(fresh, F.col(f"_f.{c}")).alias(f"{c}{suffix}")
        for c in value_cols
    ]
    return filled.select(*out_cols)


def _cogroup_asof_prologue(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_ts: str | None,
    value_cols: list[str] | None,
    suffix: str,
) -> tuple[DataFrame, DataFrame, str, list[str], str]:
    """Shared setup for the two cogrouped as-of twins: the self-cogroup
    lineage guard, argument defaulting, and the output-schema DDL.

    The guard: both sides of a self-cogroup (e.g. two filters of one
    events scan) share attribute ids; FlatMapCoGroupsInPandas/Arrow
    then silently DROPS the duplicated non-key columns from the right
    frame (observed on PySpark 4.1: right arrived without its ts
    column). A same-name Alias mints fresh expression ids on every
    column — a zero-cost projection that breaks the identity.
    """
    from bigdata_tag_system_spark.functions.sqlrender import fresh_ids

    left, right = fresh_ids(left), fresh_ids(right)
    rts = right_ts or ts
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, rts)
    ]
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields)
    rtypes = {f.name: f.dataType.simpleString()
              for f in right.schema.fields}
    out_schema = out_fields + ", " + ", ".join(
        f"{c}{suffix} {rtypes[c]}" for c in value_cols)
    return left, right, rts, value_cols, out_schema


def _reject_null_keys(side: str, has_null: bool) -> None:
    if has_null:
        raise ValueError(
            f"NULL timestamps in the {side} frame: the cogrouped as-of"
            " twins pin a non-null key contract — use the native"
            " asof_join, which implements SQL null ordering")


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    right_ts: str | None = None,
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
    coarse_buckets: int | None = None,
) -> DataFrame:
    """Backward as-of join via COGROUPED-MAP ``applyInPandas`` — the
    two-relation Python-executor surface (``groupBy(k).cogroup(...)``):
    both sides' per-key groups arrive as aligned pandas frames and meet
    in ``pd.merge_asof``. Semantics match :func:`asof_join` exactly on
    NON-NULL timestamps (latest right row with ``right.ts <= left.ts``;
    ties among right rows sharing ``(key, ts)`` resolve to the greatest
    value tuple — here via a stable ascending pre-sort on
    ``[ts] + value_cols``, the pandas equivalent of the native plan's
    struct-ordered ``last()``). NULL timestamps refuse LOUDLY on either
    side (``merge_asof`` cannot take them; the native plan's SQL
    nulls-first ordering is the supported path for that shape).

    The native single-shuffle union+window plan remains the default —
    this exists to certify the cogroup surface and for two-relation
    per-key logic that genuinely needs pandas (e.g. scipy resampling);
    same grouped-map constraint: a key's rows on BOTH sides ship whole
    to one task.

    ``coarse_buckets`` (r14, guide §4.5 amortize-per-call overhead):
    with many small keys, one Python roundtrip PER KEY dominates —
    grouping instead on ``pmod(xxhash64(key), n)`` ships ~|keys|/n keys
    per frame and lets ``pd.merge_asof(by=key)`` do the per-key as-of
    inside each call. Exactly the same cogrouped-map surface and the
    same result (the tie rule survives: rows stay globally sorted by
    ``[ts] + value_cols``, so backward-last within a by-group is still
    the greatest value tuple); measured 5.5× fewer Python calls at the
    bench scale. NULL join keys refuse loudly in this mode
    (``merge_asof`` treats NaN keys as never-equal, whereas per-key
    grouping matches them SQL-style); the per-key default handles them.
    The grouped-map memory envelope grows from max-key to max-bucket
    rows — size ``n`` so a bucket fits one task (callers at corpus
    scale keep ``n`` ≥ cores × small-constant).
    """
    import pandas as pd

    left, right, rts, value_cols, out_schema = _cogroup_asof_prologue(
        left, right, on, ts, right_ts, value_cols, suffix)

    # one merge body for both modes: per-key groups meet whole
    # (``by=None``); coarse buckets carry many keys each, so
    # merge_asof matches within the bucket ``by`` the key
    by, key = None, on
    if coarse_buckets is not None:
        nb = int(coarse_buckets)
        if nb < 1:
            raise ValueError(
                f"coarse_buckets must be >= 1, got {coarse_buckets}")
        bk = F.pmod(F.xxhash64(F.col(on)), F.lit(nb))
        left, right = left.withColumn("_bk", bk), right.withColumn("_bk", bk)
        by, key = on, "_bk"

    def _merge(l: "pd.DataFrame", r: "pd.DataFrame") -> "pd.DataFrame":
        if by is not None:
            l, r = l.drop(columns=["_bk"]), r.drop(columns=["_bk"])
        for side, frame, t in (("left", l, ts), ("right", r, rts)):
            if frame.empty:
                continue
            _reject_null_keys(side, bool(frame[t].isna().any()))
            if by is not None and bool(frame[on].isna().any()):
                raise ValueError(
                    f"NULL join keys in the {side} frame: "
                    "coarse_buckets mode cannot match them — use "
                    "the per-key default")
        if l.empty:
            return pd.DataFrame(
                columns=list(l.columns) + [f"{c}{suffix}"
                                           for c in value_cols])
        if r.empty:
            out = l.copy()
            for c in value_cols:
                out[f"{c}{suffix}"] = None
            return out
        ls = l.sort_values(ts, kind="mergesort")
        rs = (r[([on] if by is not None else []) + [rts] + value_cols]
              .sort_values([rts] + value_cols, kind="mergesort")
              .rename(columns={c: f"{c}{suffix}" for c in value_cols}))
        merged = pd.merge_asof(
            ls, rs, left_on=ts, right_on=rts, by=by, direction="backward",
            suffixes=("", "_r"))
        drop = [rts] if rts != ts and rts in merged.columns else []
        if rts == ts and f"{ts}_r" in merged.columns:
            drop = [f"{ts}_r"]
        return merged.drop(columns=drop, errors="ignore")

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(_merge, schema=out_schema)
    )


def asof_join_coarrow(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    right_ts: str | None = None,
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """``cogroup().applyInArrow`` twin of :func:`asof_join_cogrouped`:
    both sides' per-key groups arrive as ``pyarrow.Table``s (zero-copy,
    no pandas index), matched with a two-pointer backward scan over
    Arrow-sorted columns. Same semantics on NON-NULL timestamps, same
    tie rule (greatest value tuple at equal ts via the ascending
    ``[ts] + value_cols`` sort), same loud NULL-timestamp refusal;
    pytest-pinned byte-equal to both the pandas-cogroup twin and the
    native plan. Exists to certify the LAST Python-executor surface
    (cogrouped Arrow); the native union+window join remains the default.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    left, right, rts, value_cols, out_schema = _cogroup_asof_prologue(
        left, right, on, ts, right_ts, value_cols, suffix)

    def _merge(lt: "pa.Table", rt: "pa.Table") -> "pa.Table":
        if lt.num_rows:
            _reject_null_keys("left", lt.column(ts).null_count > 0)
        if rt.num_rows:
            _reject_null_keys("right", rt.column(rts).null_count > 0)
        if lt.num_rows == 0:
            empty = [pa.array([], type=f.type) for f in lt.schema]
            empty += [pa.array([], type=rt.schema.field(c).type)
                      for c in value_cols]
            return pa.table(
                empty, names=list(lt.schema.names)
                + [f"{c}{suffix}" for c in value_cols])
        lsorted = lt.sort_by([(ts, "ascending")])
        l_ts = lsorted.column(ts).to_pylist()
        if rt.num_rows == 0:
            out = lsorted
            for c in value_cols:
                out = out.append_column(
                    f"{c}{suffix}",
                    pa.nulls(lt.num_rows,
                             type=rt.schema.field(c).type))
            return out
        rsorted = rt.sort_by(
            [(rts, "ascending")]
            + [(c, "ascending") for c in value_cols])
        r_ts = rsorted.column(rts).to_pylist()
        # two-pointer backward match: last right index with r_ts <= l_ts
        idx, j = [], -1
        for t in l_ts:
            while j + 1 < len(r_ts) and r_ts[j + 1] <= t:
                j += 1
            idx.append(j if j >= 0 else None)
        out = lsorted
        take = pa.array(idx, type=pa.int64())
        for c in value_cols:
            out = out.append_column(
                f"{c}{suffix}", pc.take(rsorted.column(c), take))
        return out

    return (
        left.groupBy(on)
        .cogroup(right.groupBy(on))
        .applyInArrow(_merge, schema=out_schema)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_start: str = "start_ts",
    left_end: str = "end_ts",
    right_start: str = "r_start_ts",
    right_end: str = "r_end_ts",
    bucket: str = "1 hour",
) -> DataFrame:
    """Join interval rows to interval rows that OVERLAP per key
    (half-open semantics: ``max(starts) < min(ends)``).

    The interval×interval analogue of :func:`range_join`: both sides
    explode to every grid bucket they touch, meet in a hash equi-join on
    (key, bucket), then the exact overlap predicate filters — and a
    distinct on the surviving pair collapses the multiple buckets a long
    overlap spans. Stays a hash join at any scale; a plain theta join
    degrades to per-key nested loops. Bucket width trades explode
    replication against candidate count, exactly as in range_join.
    """
    secs = _parse_bucket_seconds(bucket, "interval_overlap_join")

    def _explode(df: DataFrame, start: str, end: str) -> DataFrame:
        return df.withColumn(
            "_bucket",
            F.explode(F.sequence(
                (F.unix_timestamp(F.col(start)) / secs).cast("long"),
                (F.unix_timestamp(F.col(end)) / secs).cast("long"),
            )),
        )

    l_ = _explode(left, left_start, left_end)
    r_ = _explode(right, right_start, right_end)
    joined = l_.join(r_, on=[on, "_bucket"], how="inner").where(
        (F.greatest(F.col(left_start), F.col(right_start))
         < F.least(F.col(left_end), F.col(right_end)))
    )
    return joined.drop("_bucket").distinct()


def _parse_bucket_seconds(bucket: str, op: str) -> int:
    import re

    m = re.fullmatch(r"\s*(\d+)\s+(second|minute|hour|day)s?\s*",
                     str(bucket), flags=re.IGNORECASE)
    if not m:
        raise ValueError(
            f"{op} bucket must look like '<n> <unit>' with unit in "
            f"second/minute/hour/day(s), got {bucket!r}")
    return int(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600,
                              "day": 86400}[m.group(2).lower()]


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    bucket: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join point rows to interval rows with ``start <= ts < end`` per key.

    Bucketized: intervals explode to every grid bucket they overlap;
    points carry their single bucket; the equi-join on (key, bucket)
    prunes the candidate space before the exact range predicate. A plain
    theta join degrades to per-key nested loops at scale; this stays a
    hash join.
    """
    if how != "inner":
        raise ValueError("range_join currently supports inner joins")
    secs = _parse_bucket_seconds(bucket, "range_join")

    p = points.withColumn(
        "_bucket", (F.unix_timestamp(F.col(ts)) / secs).cast("long"))
    i = intervals.withColumn(
        "_bstart", (F.unix_timestamp(F.col(start)) / secs).cast("long")
    ).withColumn(
        "_bend", (F.unix_timestamp(F.col(end)) / secs).cast("long")
    ).withColumn(
        "_bucket", F.explode(F.sequence("_bstart", "_bend"))
    ).drop("_bstart", "_bend")

    joined = p.join(i, on=[on, "_bucket"], how="inner").where(
        (F.col(start) <= F.col(ts)) & (F.col(ts) < F.col(end))
    )
    return joined.drop("_bucket")


def gap_fill_daily(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Regularize an event stream onto a per-user DAILY grid between
    each user's first and last observed day, with forward-fill and
    linear interpolation for the missing days — the standard
    feature-store densification before any fixed-step model consumes
    irregular events.

    The grid is generated per user with ``sequence(min_day, max_day)``
    — rows appear only inside each user's own span, so the output is
    Σ span_u, never |users| × global calendar. Fills are two keyed
    window passes (``last ignorenulls`` backward, ``first ignorenulls``
    forward) over the grid: ONE shuffle on the user key total, no
    self-joins, no per-gap subqueries. Within a span the bracketing
    observations always exist, so the interpolation denominators are
    never NULL. The per-day anchor is the DAILY CLOSE — the value of
    the day's last event under the (ts, id) total order: an argmax is
    order-independent (a daily mean's float sum is not), so the fill
    arithmetic is a pure function of the inputs and engine-exact.

    Output: ``(user, day, observed, v_ffill, v_interp)``.
    """
    from pyspark.sql import Window

    daily = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(F.col(user_col), F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.max_by(
            F.col(value_col),
            F.struct(F.col(ts_col), F.col(id_col))).alias("_v"))
    )
    spans = daily.groupBy(user_col).agg(
        F.min("day").alias("_lo"), F.max("day").alias("_hi"))
    grid = spans.select(
        F.col(user_col),
        F.explode(F.sequence("_lo", "_hi")).alias("day"))
    j = grid.join(daily, [user_col, "day"], "left")
    w_back = (
        Window.partitionBy(user_col).orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_fwd = (
        Window.partitionBy(user_col).orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_day = F.when(F.col("_v").isNotNull(), F.col("day"))
    pv = F.last("_v", ignorenulls=True).over(w_back)
    pd_ = F.last(obs_day, ignorenulls=True).over(w_back)
    nv = F.first("_v", ignorenulls=True).over(w_fwd)
    nd = F.first(obs_day, ignorenulls=True).over(w_fwd)
    interp = F.when(F.col("_v").isNotNull(), F.col("_v")).otherwise(
        pv + (nv - pv)
        * F.datediff(F.col("day"), pd_) / F.datediff(nd, pd_))
    return j.select(
        F.col(user_col), F.col("day"),
        F.col("_v").isNotNull().cast("int").alias("observed"),
        F.round(pv, 4).alias("v_ffill"),
        F.round(interp, 4).alias("v_interp"),
    )


def ohlc_bars(
    df: DataFrame,
    bucket: str = "1 hour",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str | None = None,
) -> DataFrame:
    """Downsample a tick/event stream into OHLC bars — the hypertable
    continuous-aggregate shape: per (key, time bucket), the first
    (open) and last (close) value in EVENT order plus high/low/volume.

    Determinism contract: open/close are resolved by ``min_by`` /
    ``max_by`` over the TOTAL order (ts, seq) — two events sharing a
    timestamp are tie-broken by ``seq_col`` (an event id), never by
    arrival order, so the bars are identical across runs, partition
    layouts, and engines. Without ``seq_col`` a same-(key,ts) tie
    would be layout-dependent; pass one whenever ts can repeat.

    Scale shape: ONE map-side-combinable aggregate keyed
    (key, bucket) — min/max/min_by/max_by/count/sum all merge
    associatively, so this is the day-zero rollup a 100 TB hypertable
    maintains incrementally (re-aggregate only the buckets a late
    batch touches; the merge is the same operators over partial bars).
    """
    secs = _parse_bucket_seconds(bucket, "ohlc_bars")
    b = (F.floor(F.unix_timestamp(F.col(ts_col)) / secs)
         .cast("long").alias("bucket_id"))
    order = (F.struct(F.col(ts_col), F.col(seq_col))
             if seq_col else F.col(ts_col))
    return (
        df.where(F.col(ts_col).isNotNull()
                 & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col), b)
        .agg(
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.sum(value_col).alias("value_sum"),
        ))


def peak_concurrency(
    intervals: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Per-day peak concurrency over an interval relation — "how many
    sessions were open at the busiest instant of each day", the
    capacity-planning readout sessionized events feed directly.

    Classic sweep line, partitioned by day so no global sort exists:
    each interval (inclusive [start, end]) is exploded to the days it
    touches, clipped, and emits a +1 point at its clipped start and a
    −1 at its clipped end; the running sum ordered by (ts, +1 before
    −1) peaks at the answer. The tie rule makes point-touching
    intervals count as concurrent, and makes the per-instant maximum
    permutation-invariant (the max lands after the last +1 of an
    instant, whatever the order within equal keys). Day partitions
    bound each window sort by a day's traffic; at 100 TB sub-bucket a
    hot day by hour with per-bucket carry-in offsets, the
    sample_shuffle_order pattern.

    Returns (day string, n_sessions touching the day, peak).
    """
    from pyspark.sql import Window

    s, e = F.col(start_col), F.col(end_col)
    days = intervals.select(
        s.alias("_s"), e.alias("_e"),
        F.explode(F.sequence(F.to_date(s), F.to_date(e))).alias("_day"))
    clipped = days.select(
        "_day",
        F.greatest(F.col("_s"), F.col("_day").cast("timestamp"))
        .alias("_cs"),
        F.least(F.col("_e"),
                F.date_add(F.col("_day"), 1).cast("timestamp"))
        .alias("_ce"))
    pts = clipped.select(
        "_day", F.col("_cs").alias("_ts"), F.lit(1).alias("_d")
    ).unionAll(clipped.select(
        "_day", F.col("_ce").alias("_ts"), F.lit(-1).alias("_d")))
    w = (Window.partitionBy("_day").orderBy(F.col("_ts"),
                                            F.col("_d").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    run = pts.withColumn("_run", F.sum("_d").over(w))
    return (
        run.groupBy(F.col("_day"))
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
             F.max("_run").alias("peak"))
        .select(F.col("_day").cast("string").alias("day"),
                "n_sessions", "peak")
        .orderBy("day")
    )


def autocorrelation(
    series: DataFrame,
    day_col: str = "day",
    value_col: str = "x",
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation function of a REGULAR daily series at
    lags 1..``max_lag`` — the periodicity diagnostic (a weekly cycle
    shows as a spike at lag 7) run before choosing seasonal models or
    rollup grains.

    Standard biased estimator: ``r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) /
    Σ_t(x_t−x̄)²`` with the GLOBAL mean and full-series denominator.
    One 1-row mean broadcast, ``max_lag`` lag columns over the
    day-ordered window, one aggregate, one stack — the window is
    global but CALENDAR-BOUNDED (one row per day; the series relation,
    not the fact table — same allowance class as orders_monthly_yoy).
    Input must already be gap-filled: missing grid days silently shift
    every lag.

    Returns one row per lag: (lag, n_pairs, acf).
    """
    from pyspark.sql import Window

    w = Window.orderBy(day_col)
    x = F.col(value_col).cast("double")
    m = series.agg(F.avg(x).alias("_mu"),
                   F.count(F.lit(1)).alias("_n"))
    lagged = series.crossJoin(F.broadcast(m)).select(
        (x - F.col("_mu")).alias("_d0"),
        *[(F.lag(x, k).over(w) - F.col("_mu")).alias(f"_d{k}")
          for k in range(1, max_lag + 1)])
    sums = lagged.agg(
        F.sum(F.col("_d0") * F.col("_d0")).alias("_den"),
        *[F.sum(F.col("_d0") * F.col(f"_d{k}")).alias(f"_n{k}")
          for k in range(1, max_lag + 1)],
        *[F.count(F.col(f"_d{k}")).alias(f"_c{k}")
          for k in range(1, max_lag + 1)])
    stacked = ", ".join(
        f"{k}, _c{k}, _n{k} / _den" for k in range(1, max_lag + 1))
    return sums.selectExpr(
        f"stack({max_lag}, {stacked}) AS (lag, n_pairs, acf)")


def seasonal_decompose(
    series: DataFrame,
    day_col: str = "day",
    value_col: str = "x",
    period: int = 7,
) -> DataFrame:
    """Moving-average seasonal decomposition of a regular daily series
    (the classical additive model): trend = centered ``period``-wide
    moving average (only where the full window exists), seasonal(p) =
    mean of (x − trend) per phase ``p = days-since-start mod period``,
    reported with the residual second moment per phase.

    Phase is integer day-arithmetic (NOT locale weekday functions —
    engines disagree on week start; ``datediff mod period`` is
    engine-exact). Same calendar-bounded global-window allowance as
    :func:`autocorrelation`. Returns one row per phase:
    (phase, n_days, seasonal, resid_rms).
    """
    from pyspark.sql import Window

    half = period // 2
    w = (Window.orderBy(day_col)
         .rowsBetween(-half, period - half - 1))
    x = F.col(value_col).cast("double")
    start = series.agg(F.min(day_col).alias("_d0"))
    t = series.crossJoin(F.broadcast(start)).select(
        F.col(day_col),
        x.alias("_x"),
        (F.datediff(F.col(day_col), F.col("_d0")) % period)
        .alias("phase"),
        F.when(F.count(F.lit(1)).over(w) == period,
               F.avg(x).over(w)).alias("_trend"))
    # det feeds the seasonal means AND the residual join; both are
    # calendar-bounded — lazy-checkpoint so the trend window over the
    # series runs once, not per consumer
    det = t.select("phase", (F.col("_x") - F.col("_trend")).alias("_e")) \
        .where(F.col("_e").isNotNull()).localCheckpoint(eager=False)
    seas = det.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.avg("_e").alias("seasonal")).localCheckpoint(eager=False)
    resid = (
        det.join(F.broadcast(seas.select("phase", "seasonal")), "phase")
        .groupBy("phase")
        .agg(F.sqrt(F.avg(F.pow(F.col("_e") - F.col("seasonal"), 2)))
             .alias("resid_rms")))
    return (seas.join(resid, "phase")
            .select("phase", "n_days", "seasonal", "resid_rms")
            .orderBy("phase"))


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    right_ts: str | None = None,
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
    tolerance: str | int | float | None = None,
) -> DataFrame:
    """pandas ``merge_asof(direction='nearest')`` analogue: for each
    left row, the right row (same key) with the SMALLEST |Δts|, looking
    both backward and forward — completing the as-of family next to the
    backward-only :func:`asof_join`.

    Tie rules (documented, replayed by the oracle): equal distances
    resolve BACKWARD — an exact-timestamp match is distance 0 backward
    and always wins. Among multiple right rows with IDENTICAL
    (key, ts), one shared sort key (the value struct, ascending) serves
    both frames, so the backward match takes the GREATEST value struct
    and the forward match the LEAST — deterministic regardless of
    partition order, where the bare (ts, side) sort let ``last``/
    ``first`` pick an arbitrary arrival. Same single-shuffle plan shape
    as asof_join: one union, one keyed sort, ONE window pass computing
    both the last-preceding and first-following right structs; the
    choice is a map-side comparison. ``tolerance`` masks matches
    farther than the bound in EITHER direction.
    """
    rts = right_ts or ts
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, rts)
    ]
    vstruct = F.struct(*[F.col(c) for c in value_cols],
                       F.col(rts).alias("_matched_ts"))
    l_tagged = left.select(
        F.col(on), F.col(ts).alias("_ts"), F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(
            right.select(vstruct.alias("_v")).schema["_v"].dataType
        ).alias("_v"),
    )
    r_tagged = right.select(
        F.col(on), F.col(rts).alias("_ts"), F.lit(0).alias("_is_left"),
        F.lit(None).cast(l_tagged.schema["_lrow"].dataType).alias("_lrow"),
        vstruct.alias("_v"),
    )
    from pyspark.sql import Window

    # rights sort before lefts at equal ts, so an exact-ts right row is
    # in the PRECEDING frame (distance-0 backward match); the following
    # frame starts after the current row. _v breaks ties among right
    # rows sharing (key, ts) deterministically (see docstring)
    base = Window.partitionBy(on).orderBy("_ts", "_is_left", "_v")
    w_back = base.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)
    w_fwd = base.rowsBetween(1, Window.unboundedFollowing)
    unioned = l_tagged.unionByName(r_tagged)
    filled = unioned.select(
        "*",
        F.last("_v", ignorenulls=True).over(w_back).alias("_b"),
        F.first("_v", ignorenulls=True).over(w_fwd).alias("_f"),
    ).where(F.col("_is_left") == 1)
    d_back = F.col("_ts") - F.col("_b._matched_ts")
    d_fwd = F.col("_f._matched_ts") - F.col("_ts")
    pick_back = F.col("_f").isNull() | (
        F.col("_b").isNotNull() & (d_back <= d_fwd))
    chosen = F.when(pick_back, F.col("_b")).otherwise(F.col("_f"))
    filled = filled.withColumn("_c", chosen)
    if tolerance is None:
        fresh = F.col("_c").isNotNull()
    else:
        if isinstance(tolerance, (int, float)):
            bound = F.lit(tolerance)
        else:
            bound = _parse_tolerance(tolerance)
        dist = F.when(
            F.col("_c._matched_ts") >= F.col("_ts"),
            F.col("_c._matched_ts") - F.col("_ts"),
        ).otherwise(F.col("_ts") - F.col("_c._matched_ts"))
        fresh = F.col("_c").isNotNull() & (dist <= bound)
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out_cols += [
        F.when(fresh, F.col(f"_c.{c}")).alias(f"{c}{suffix}")
        for c in value_cols
    ]
    out_cols.append(
        F.when(fresh, F.col("_c._matched_ts")).alias(f"ts{suffix}"))
    return filled.select(*out_cols)


def ses_backtest(
    series: DataFrame,
    value_col: str,
    order_col: str,
    alphas: tuple[float, ...] = (0.3, 0.7),
) -> DataFrame:
    """One-step-ahead backtest of simple exponential smoothing on an
    already-aggregated period series (one row per period): for each
    smoothing constant, forecast ``f_t = s_{t-1}`` with
    ``s_t = α·y_t + (1-α)·s_{t-1}``, ``s_1 = y_1``, and score MAE/RMSE
    against the naive last-value forecast — the pick-α-before-you-
    commit readout for a forecasting pipeline.

    The recurrence is vectorized via its closed form
    ``s_t = (1-α)^{t-1}·y_1 + α·Σ_{j=2..t} (1-α)^{t-j}·y_j``, computed
    from ONE cumulative sum of ``y_j·(1-α)^{-j}`` per α — no UDF, no
    sequential fold. The windows run over the period series
    (calendar-bounded — the orders_monthly_yoy class), never fact
    rows. The rescaling power ``(1-α)^{-j}`` grows with the series
    index, so for multi-year series at small ``1-α`` segment the
    series (e.g. per quarter, chaining boundary states) before the
    double mantissa saturates — at calendar scale (≤ a few thousand
    rows) it is exact to ~1e-15 relative.
    """
    from pyspark.sql import Window

    w_ord = Window.orderBy(order_col)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    y = F.col(value_col).cast("double")
    outs = []
    for alpha in alphas:
        a = float(alpha)
        beta = 1.0 - a
        t = F.row_number().over(w_ord)
        # β=0 (α=1) degenerates the rescaled cumsum (0^-t); SES is
        # then exactly the naive last-value forecast — use y directly
        z = y * F.pow(F.lit(beta), -t) if beta > 0.0 else F.lit(0.0)
        base = series.select(
            y.alias("_y"), t.alias("_t"),
            F.first(y).over(w_cum).alias("_y1"),
            F.first(z).over(w_cum).alias("_z1"),
            F.sum(z).over(w_cum).alias("_cz"))
        # s_t from the closed form; the forecast for t+1 is s_t
        if beta > 0.0:
            s = (F.pow(F.lit(beta), F.col("_t") - 1) * F.col("_y1")
                 + F.lit(a) * F.pow(F.lit(beta), F.col("_t"))
                 * (F.col("_cz") - F.col("_z1")))
        else:
            s = F.col("_y")
        scored = base.select(
            "_y", "_t",
            F.lag(s).over(Window.orderBy("_t")).alias("_f"),
            F.lag("_y").over(Window.orderBy("_t")).alias("_naive"))
        err = F.col("_y") - F.col("_f")
        nerr = F.col("_y") - F.col("_naive")
        outs.append(scored.where(F.col("_t") >= 2).agg(
            F.lit(a).alias("alpha"),
            F.count(F.lit(1)).cast("long").alias("n_forecasts"),
            F.round(F.avg(F.abs(err)), 4).alias("mae_ses"),
            F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse_ses"),
            F.round(F.avg(F.abs(nerr)), 4).alias("mae_naive"),
            F.round(F.lit(1.0) - F.avg(F.abs(err))
                    / F.nullif(F.avg(F.abs(nerr)), F.lit(0.0)),
                    4).alias("skill_vs_naive")))
    out = outs[0]
    for extra in outs[1:]:
        out = out.unionByName(extra)
    return out.orderBy("alpha")


def seasonal_outliers(
    series: DataFrame,
    day_col: str = "day",
    value_col: str = "x",
    period: int = 7,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Seasonally-adjusted anomaly census: flag days whose residual
    against the classical decomposition (centered moving-average trend
    + per-phase seasonal, :func:`seasonal_decompose`) exceeds
    ``n_sigma`` × the LEAVE-ONE-OUT residual RMS. A raw z-score flags
    every weekend of a weekly-periodic series; scoring the residual
    flags only days that break their own phase's pattern.

    The scale is self-excluded (``rms_i = √((SS − r_i²)/(n−1))``,
    closed form — the jackknife trick): an in-scale RMS is inflated by
    the very spike under test, and with few scored days per phase
    ``max|r|/rms ≤ √(n−1)`` makes a single spike mathematically
    unflaggable (masking). A tiny absolute floor on the scale keeps
    float-noise residuals of an exactly-seasonal series from flagging
    (and from flipping between engines).

    Emits every scored day (trend window complete) with its expected
    value, residual, and flag — not just the outliers — so the oracle
    hash pins the whole decomposition, and a zero-anomaly corpus still
    certifies. Same calendar-bounded window allowances as the
    decomposition it extends.
    """
    from pyspark.sql import Window

    half = period // 2
    w = (Window.orderBy(day_col)
         .rowsBetween(-half, period - half - 1))
    x = F.col(value_col).cast("double")
    start = series.agg(F.min(day_col).alias("_d0"))
    t = series.crossJoin(F.broadcast(start)).select(
        F.col(day_col), x.alias("_x"),
        (F.datediff(F.col(day_col), F.col("_d0")) % period)
        .alias("phase"),
        F.when(F.count(F.lit(1)).over(w) == period,
               F.avg(x).over(w)).alias("_trend"))
    # det feeds the phase means AND the scored join; scored feeds the
    # moment aggregate AND the final census — lazy-checkpoint both so
    # the trend window runs once (same discipline as the decomposition)
    det = t.where(F.col("_trend").isNotNull()).localCheckpoint(eager=False)
    seas = (det.groupBy("phase")
            .agg(F.avg(F.col("_x") - F.col("_trend")).alias("_seas")))
    scored = det.join(F.broadcast(seas), "phase").select(
        "phase", day_col, "_x", "_trend", "_seas",
        (F.col("_x") - F.col("_trend") - F.col("_seas")).alias("_r"),
    ).localCheckpoint(eager=False)
    moments = scored.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_r") * F.col("_r")).alias("_ss"))
    loo_rms = F.sqrt((F.col("_ss") - F.col("_r") * F.col("_r"))
                     / (F.col("_n") - 1))
    return (scored.crossJoin(F.broadcast(moments))
            .select(
                F.col(day_col),
                F.col("phase"),
                F.round("_x", 4).alias("value"),
                F.round(F.col("_trend") + F.col("_seas"), 4)
                .alias("expected"),
                F.round("_r", 4).alias("residual"),
                (F.abs(F.col("_r")) > F.lit(float(n_sigma))
                 * F.greatest(loo_rms, F.lit(1e-9)))
                .cast("int").alias("is_outlier"))
            .orderBy(day_col))


def periodogram(
    series: DataFrame,
    value_col: str,
    order_col: str,
    periods: tuple[int, ...] = (2, 3, 4, 5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Explicit-DFT periodogram of an already-aggregated period series:
    spectral power at each candidate period P via the two projection
    sums ``C_P = Σ y'·cos(2πt/P)``, ``S_P = Σ y'·sin(2πt/P)`` over the
    MEAN-CENTERED series — the which-seasonality-do-I-actually-have
    readout that picks the decomposition period before
    :func:`seasonal_decompose` commits one.

    No FFT dependency and none needed: |periods| is a plan constant,
    so the whole spectrum is ONE aggregate with 2·|periods| sum
    expressions over the calendar-bounded series — O(T·|periods|)
    beats O(T log T) bookkeeping until T is far past calendar scale.
    """
    from pyspark.sql import Window
    import math

    t = F.row_number().over(Window.orderBy(order_col))
    y = F.col(value_col).cast("double")
    mean = series.agg(F.avg(y).alias("_mu"))
    base = series.crossJoin(F.broadcast(mean)).select(
        (y - F.col("_mu")).alias("_y"), t.alias("_t"))
    # each projection sum and each spectrum struct is rendered as ONE
    # parsed SQL expression (r14, guide §5): the Column-API build paid
    # a py4j round-trip per ±/×/trig node — ~4,000 round-trips for the
    # 9-period spectrum. repr()+D double literals keep the angular
    # frequencies bit-identical to the former F.lit floats; operator
    # association order is unchanged, so plan and values are equal.
    aggs = []
    for p in periods:
        w = repr(2.0 * math.pi / float(p)) + "D"
        aggs.append(F.expr(f"sum(_y * cos(_t * {w}))").alias(f"_c{p}"))
        aggs.append(F.expr(f"sum(_y * sin(_t * {w}))").alias(f"_s{p}"))
    row = base.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    structs = ", ".join(
        f"struct({int(p)} AS period, (_c{p} * _c{p} + _s{p} * _s{p})"
        f" * 2.0D / _n AS power)"
        for p in periods)
    spec = row.select(
        F.expr(f"explode(array({structs}))").alias("s")
    ).select("s.period", F.round("s.power", 4).alias("power"))
    return spec.orderBy("period")


def theil_sen_trend(
    series: DataFrame,
    value_col: str,
    order_col: str,
) -> DataFrame:
    """Theil–Sen robust trend of an already-aggregated period series:
    slope = the (lower-convention) median of all pairwise slopes
    ``(y_j − y_i)/(t_j − t_i)`` — a single wild day moves an OLS slope
    arbitrarily; it moves a median-of-slopes not at all until outliers
    are ~29% of the series.

    The pair self-join is calendar²-bounded (the series is one row per
    period — never fact rows), and the median pick is a deterministic
    row_number over (slope, i, j), so the result replays bit-exact.
    Intercept = median of ``y_i − slope·t_i`` residual levels at the
    picked slope, same convention.
    """
    from pyspark.sql import Window

    t = F.row_number().over(Window.orderBy(order_col))
    base = series.select(F.col(value_col).cast("double").alias("_y"),
                         t.alias("_t"))
    a = base.select(F.col("_y").alias("_ya"), F.col("_t").alias("_ta"))
    b = base.select(F.col("_y").alias("_yb"), F.col("_t").alias("_tb"))
    pairs = a.join(b, F.col("_ta") < F.col("_tb")).select(
        "_ta", "_tb",
        ((F.col("_yb") - F.col("_ya"))
         / (F.col("_tb") - F.col("_ta"))).alias("_slope"))
    # lazy lower-median pick: rank every pair once, keep the row at
    # (n+1) DIV 2 — no eager count() jobs, the window carries n along
    w = Window.orderBy("_slope", "_ta", "_tb")
    w_all = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    slope_row = (pairs.select(
                     "_slope",
                     F.row_number().over(w).alias("_rn"),
                     F.count(F.lit(1)).over(w_all).alias("_np"))
                 .where(F.col("_rn") * 2 == F.col("_np")
                        + (F.col("_np") % 2))
                 .select(F.col("_slope").alias("_m"),
                         F.col("_np").alias("_n_pairs")))
    levels = base.crossJoin(F.broadcast(slope_row)).select(
        "_m", "_n_pairs",
        (F.col("_y") - F.col("_m") * F.col("_t")).alias("_b"), "_t")
    wb = Window.orderBy("_b", "_t")
    wb_all = wb.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    return (levels.select(
                "_m", "_b", "_n_pairs",
                F.row_number().over(wb).alias("_rn"),
                F.count(F.lit(1)).over(wb_all).alias("_nr"))
            .where(F.col("_rn") * 2 == F.col("_nr")
                   + (F.col("_nr") % 2))
            .select(F.col("_n_pairs").cast("long").alias("n_pairs"),
                    F.round("_m", 6).alias("slope"),
                    F.round("_b", 6).alias("intercept")))
