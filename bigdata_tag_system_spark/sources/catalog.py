"""Table catalog: name → location/format, field→table routing, scan sharing.

The reference hardcodes a field→table dict
(``src/readers/rule_reader.py:151-170``) and punts on cross-table rules —
the first matching table wins (``rule_reader.py:183-189``); its production
read path even calls a method that doesn't exist
(``scenario_scheduler.py:480``). Here the catalog is explicit and rules
spanning tables become real ``user_id`` joins from the user universe
(left join; null fields fail conditions — documented choice per SURVEY §7.3).

Scale notes:
- Each table is scanned **once** per run regardless of rule count (the
  reference groups rules by table then caches; we additionally prune
  columns to the union of rule fields before the join).
- Each table is also *read* once per catalog instance: the unpruned frame
  (schema inference, file listing) is memoized, so schema probes and the
  pruned scans share it. A catalog sees a table as of its first read;
  ``register`` it again to pick up rewritten files.
- The cross-table join shuffles only pruned columns on ``user_id``; on a
  real deployment fact tables bucketed by ``user_id`` make it shuffle-free.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_tag_system_spark.rules.model import Rule, required_fields


@dataclass
class TableSpec:
    name: str
    path: str
    format: str = "parquet"
    key: str = "user_id"


class TableCatalog:
    """Registry of fact tables + rule→table routing + pruned unified scan."""

    def __init__(self, spark: SparkSession, key: str = "user_id"):
        self.spark = spark
        self.key = key
        self._tables: dict[str, TableSpec] = {}
        self._frames: dict[str, DataFrame] = {}

    def register(self, name: str, path: str, format: str = "parquet") -> "TableCatalog":
        self._tables[name] = TableSpec(name=name, path=path, format=format, key=self.key)
        self._frames.pop(name, None)
        return self

    def table_names(self) -> list[str]:
        return list(self._tables)

    def load(self, name: str, columns: Sequence[str] | None = None) -> DataFrame:
        df = self._frames.get(name)
        if df is None:
            spec = self._tables[name]
            df = self._frames[name] = self.spark.read.format(spec.format).load(spec.path)
        if columns:
            cols = [self.key] + [c for c in columns if c != self.key and c in df.columns]
            df = df.select(*cols)
        return df

    def columns_of(self, name: str) -> list[str]:
        """Schema probe without reading data (parquet footer only)."""
        return self.load(name).columns

    # -- rule routing --------------------------------------------------------

    def route_fields(self, fields: Iterable[str]) -> dict[str, list[str]]:
        """Map each field to the table(s) that carry it; unknown → error."""
        out: dict[str, list[str]] = {}
        schemas = {n: set(self.columns_of(n)) for n in self._tables}
        for f_ in set(fields):
            hits = [n for n, cols in schemas.items() if f_ in cols]
            if not hits:
                raise KeyError(f"field {f_!r} not found in any registered table")
            out.setdefault(hits[0], []).append(f_)
        return out

    def facts_for_rules(
        self, rules: Sequence[Rule], base_table: str | None = None
    ) -> DataFrame:
        """One pruned, unified fact DataFrame covering all rule fields.

        Reads each needed table once, projects the union of rule fields
        (column pruning reaches the parquet scan), and left-joins the
        extras onto the base on ``user_id``. Missing users get nulls →
        their conditions on those fields fail (3VL).

        ``base_table`` defines the user universe (which keys are
        evaluable at all). Default: the FIRST registered table —
        registration order is an explicit caller decision, unlike a
        rule-field-count heuristic that would silently flip the universe
        when the rule set changes.
        """
        needed: set[str] = set()
        for r in rules:
            needed |= required_fields(r.conditions)
        routing = self.route_fields(needed)
        if not routing:
            raise ValueError("rules reference no fields; nothing to scan")
        if base_table is None:
            base_table = next(iter(self._tables))
        base = self.load(base_table, routing.get(base_table, []))
        for n in routing:
            if n == base_table:
                continue
            base = base.join(self.load(n, routing[n]), on=self.key, how="left")
        return base


def profile_columns(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Per-column profile: one row per column with
    ``(column, n_rows, n_nulls, n_distinct, min_value, max_value)``.

    The data-engineering "what's in this table" primitive (null rates for
    quality gates, distinct counts for key discovery, min/max for range
    sanity). Single aggregation job over one scan: Spark plans the
    multiple ``count(DISTINCT)``s with one Expand, so cost is
    O(columns × rows) in one pass — never one job per column, and
    nothing is collected beyond the single result row that ``inline``
    unrolls. min/max are emitted as strings for a uniform schema and
    only for atomic (orderable, non-float) types — float formatting and
    map/array ordering are engine-specific, so those profile as NULL.
    """
    from pyspark.sql.types import (
        ArrayType, BooleanType, ByteType, DateType, DecimalType, IntegerType,
        LongType, MapType, ShortType, StringType, StructType,
        TimestampNTZType, TimestampType,
    )

    cols = list(columns) if columns else list(df.columns)
    schema = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in schema]
    if missing:
        raise KeyError(f"columns not in frame: {missing}")

    def _minmax_ok(dt) -> bool:
        # exact types with portable string forms; floats excluded because
        # their string formatting is engine-specific
        return isinstance(dt, (
            StringType, ByteType, ShortType, IntegerType, LongType,
            BooleanType, DecimalType, DateType, TimestampType,
            TimestampNTZType))

    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        # coalesce: sum over zero rows is NULL, but "no rows" means 0 nulls
        aggs.append(F.coalesce(
            F.sum(F.col(c).isNull().cast("long")), F.lit(0)
        ).alias(f"_nulls_{c}"))
        if isinstance(schema[c], (MapType, ArrayType, StructType)):
            # countDistinct on maps is unorderable; nested types profile
            # null/distinct-free rather than failing the whole frame
            aggs.append(F.lit(None).cast("long").alias(f"_dist_{c}"))
        else:
            aggs.append(F.countDistinct(F.col(c)).alias(f"_dist_{c}"))
        if _minmax_ok(schema[c]):
            aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"_min_{c}"))
            aggs.append(F.lit(None).cast("string").alias(f"_max_{c}"))
    row = df.agg(*aggs)
    entries = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_rows").alias("n_rows"),
            F.col(f"_nulls_{c}").alias("n_nulls"),
            F.col(f"_dist_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_value"),
            F.col(f"_max_{c}").alias("max_value"),
        )
        for c in cols
    ])
    return row.select(F.inline(entries))
