"""One-pass multi-tag evaluation over fact tables.

The reference evaluates tags with one ``filter`` + ``count`` + ``union``
job **per rule** (``src/engine/tag_computer.py:99-151``,
``src/merger/tag_merger.py:31-56``) — N scans, N actions, then a
union → dropDuplicates → groupBy(collect_list) shuffle to rebuild per-user
arrays. Here all rules compile to ``CASE WHEN`` branches evaluated in a
single projection over one scan:

    SELECT user_id, array_compact(array(CASE WHEN pred_i THEN tag_i END, ...))

so "parallel tags" is real columnar parallelism inside whole-stage codegen,
with **zero shuffles** for the core profile build (the reference's shuffle
chain is gone entirely). At 100 TB this is the difference between one pass
over the facts and 50 passes.

Outputs:
- :func:`tag_profiles` — wide per-user profile
  ``(user_id, tag_ids array<int>, tag_details map, computed_date)``
  (reference shape: ``src/merger/tag_merger.py:160-165``).
- :func:`tag_assignments` — narrow ``(user_id, tag_id, tag_detail)``
  relation via ``explode`` (reference shape: ``tag_computer.py:67``),
  derived from the same single pass.

Tag detail JSON is built natively with ``to_json(struct(...))`` /
``map_from_entries`` — replacing the reference's 4 duplicated Python UDFs
(SURVEY §2.10: ``generate_tag_detail``, ``build_tag_details``).

Every output column is rendered as SQL text from the rule ASTs and parsed
once (``selectExpr``): the build costs a fixed handful of py4j round trips
whatever the rule count, where a Column-API build pays one per expression
node (thousands for a few nested rules).
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.sqlrender import attr, ident, sql_lit
from bigdata_tag_system_spark.rules.compiler import RuleCompiler, check_parser
from bigdata_tag_system_spark.rules.model import Rule, ordered_fields, required_fields

# presentation text for the human-readable hit reason; comparison ops keep
# their symbol, everything else reads as "<field>=<live> <op> <threshold>"
_REASON_OP = {"==": "=", "<>": "!="}


def _fmt_threshold(v) -> str:
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(x) for x in v) + "]"
    return str(v)


def _leaf_reason(node) -> str:
    """``field=<live value> <op> <threshold>`` as native SQL.

    The reference builds this string row-at-a-time in a Python UDF
    (``src/engine/tag_computer.py:197-233``, ``_generate_hit_reason`` /
    ``_format_single_reason``); here it is ``concat`` over literals plus
    one cast of the live column — stays inside whole-stage codegen.
    """
    field = str(node.get("field", ""))
    op = str(node.get("operator", ""))
    if op in ("is_null", "is_not_null"):
        return sql_lit(f"{field} {op.replace('_', ' ')}")
    live = f"coalesce(CAST({attr(field)} AS STRING), 'null')"
    shown = _REASON_OP.get(op, op)
    threshold = f" {shown} {_fmt_threshold(node.get('value'))}"
    return f"concat({sql_lit(field + '=')}, {live}, {sql_lit(threshold)})"


def _reason_sql(node) -> str:
    """Recursive reason over the whole condition tree (AND/OR/NOT joins).

    The reference formats only the top-level condition list and falls back
    to a constant on nested groups; the recursion here mirrors the
    compiler's, so every rule the engine can evaluate gets a full reason.
    """
    if not node:
        return "'always'"
    if "conditions" in node or "logic" in node:
        logic = str(node.get("logic", "AND")).upper()
        children = [_reason_sql(c) for c in node.get("conditions", []) or []]
        if not children:
            return "'always'"
        sep = sql_lit(f" {'OR' if logic == 'OR' else 'AND'} ")
        joined = children[0] if len(children) == 1 else (
            f"concat_ws({sep}, {', '.join(children)})")
        if logic == "NOT":
            return f"concat('NOT(', {joined}, ')')"
        if len(children) == 1:
            return joined
        return f"concat('(', {joined}, ')')"
    return _leaf_reason(node)


# one hit's detail, the value type of a profile's tag_details map
_DETAIL_STRUCT = (
    "STRUCT<tag_name: STRING, tag_category: STRING, rule_id: INT, "
    "rule_version: STRING, value: STRING, reason: STRING, hit_time: TIMESTAMP>"
)
# typed empty detail array, so map_from_entries/explode still resolve
_EMPTY_DETAILS = f"CAST(array() AS ARRAY<STRUCT<key: STRING, value: {_DETAIL_STRUCT}>>)"


def profile_schema(user_col: str, key_type: str) -> str:
    """DDL of :meth:`TagEngine.profiles` (with details), whose rows the
    result store holds: read a store with it and no job infers it from
    a parquet footer. ``key_type`` is the fact tables' user-key type."""
    return (f"{ident(user_col)} {key_type}, tag_ids ARRAY<INT>, "
            f"tag_details MAP<STRING, {_DETAIL_STRUCT}>, computed_date DATE")


class TagEngine:
    """Compile a rule set once, evaluate many ways.

    Parameters mirror the determinism requirements of SURVEY §7.3: pin
    ``as_of`` (relative-date anchor) and ``run_ts`` (the hit timestamp
    stamped into tag details — the reference calls ``datetime.now()``
    per row inside a UDF, ``tag_computer.py:172``, which is
    nondeterministic; we stamp one literal per run).
    """

    def __init__(
        self,
        rules: Sequence[Rule],
        user_col: str = "user_id",
        as_of: _dt.date | str | None = None,
        run_ts: _dt.datetime | str | None = None,
    ):
        self.rules = [r for r in rules if r.is_active]
        self.user_col = user_col
        self.compiler = RuleCompiler(as_of=as_of)
        if isinstance(run_ts, str):
            run_ts = _dt.datetime.fromisoformat(run_ts)
        self.run_ts = run_ts
        # each rule's predicate as Spark SQL text: pure Python, no py4j
        self._compiled: list[tuple[Rule, str]] = [
            (r, self.compiler.render(r.conditions)) for r in self.rules
        ]

    # -- helpers ------------------------------------------------------------

    @staticmethod
    def _select(df: DataFrame, *cols: str) -> DataFrame:
        """``df.selectExpr(*cols)`` once the session's parser is known to
        read the rendered literals as written."""
        check_parser(df.sparkSession, *cols)
        return df.selectExpr(*cols)

    def fields(self) -> set[str]:
        """Union of fact columns any rule touches (column pruning)."""
        out: set[str] = set()
        for r in self.rules:
            out |= required_fields(r.conditions)
        return out

    def validate(self, facts: DataFrame) -> dict:
        """Pre-compute rule-vs-schema check with a readable report.

        The reference validates each rule's fields against the fact
        schema before computing and logs the missing ones
        (``src/engine/tag_computer.py:286-302``); without this an engine
        surfaces a raw Spark analysis error mid-plan. Returns::

            {"ok": bool, "user_col_present": bool,
             "rules": [{"rule_id", "tag_id", "tag_name", "ok",
                        "missing_fields": [...]}, ...]}

        Pure schema work — touches ``facts.columns`` only, runs no job.
        """
        cols = set(facts.columns)
        rules_report = []
        for r in self.rules:
            missing = sorted(required_fields(r.conditions) - cols)
            rules_report.append({
                "rule_id": int(r.rule_id),
                "tag_id": int(r.tag_id),
                "tag_name": r.tag_name,
                "ok": not missing,
                "missing_fields": missing,
            })
        user_ok = self.user_col in cols
        return {
            "ok": user_ok and all(rr["ok"] for rr in rules_report),
            "user_col_present": user_ok,
            "rules": rules_report,
        }

    def coverage(self, facts: DataFrame) -> DataFrame:
        """One-scan rule coverage report: per rule, how many fact rows
        its predicate matches, the fact total, and coverage in basis
        points (exact integer math — no float ties).

        The ops question behind it: "is rule 7 dead / matching
        everything?" before a production run. Every rule becomes ONE
        conditional aggregate in a single ``facts.agg(...)`` pass —
        N rules cost one scan and zero shuffles beyond the final 1-row
        reduce (vs the reference's one-query-per-rule stats loop) —
        then the wide row unpivots to (rule, counts) through a literal
        struct array. Returns
        ``(rule_id, tag_id, tag_name, matched, total, coverage_bp)``.
        """
        aggs = ["count(1) AS _total"] + [
            f"CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS _m{i}"
            for i, (_, pred) in enumerate(self._compiled)
        ]
        # a projection of aggregates with no grouping is the global
        # aggregate facts.agg(...) builds
        wide = self._select(facts, *aggs)
        rows = ", ".join(
            f"struct({int(r.rule_id)} AS rule_id, {int(r.tag_id)} AS tag_id, "
            f"{sql_lit(r.tag_name)} AS tag_name, _m{i} AS matched)"
            for i, (r, _) in enumerate(self._compiled)
        )
        return (
            self._select(wide, f"explode(array({rows})) AS s", "_total")
            .selectExpr("s.*", "_total AS total",
                        "(s.matched * 10000) DIV _total AS coverage_bp")
        )

    def _hit_tags_sql(self) -> str:
        """array<int> of tag_ids whose predicate hit, sorted+distinct."""
        branches = [
            f"CASE WHEN {pred} THEN {int(rule.tag_id)} END" for rule, pred in self._compiled
        ]
        if not branches:
            return "CAST(array() AS ARRAY<INT>)"
        return (f"CAST(array_sort(array_distinct(array_compact(array("
                f"{', '.join(branches)})))) AS ARRAY<INT>)")

    def _detail_entries_sql(self) -> str:
        """array<struct<key,value>> for map_from_entries, hit rules only.

        Detail fields match the reference's per-hit JSON
        (``src/engine/tag_computer.py:160-284``): ``value`` is the live
        value of the rule's first condition field, ``reason`` a
        human-readable rendering of the matched conditions with live
        values, ``rule_version`` the catalog version stamp — all built
        from native expressions, where the reference runs a Python UDF
        per row.
        """
        ts = sql_lit(self.run_ts) if self.run_ts else "current_timestamp()"
        entries = []
        for rule, pred in self._compiled:
            fields = ordered_fields(rule.conditions)
            hit_value = (
                f"coalesce(CAST({attr(fields[0])} AS STRING), '')" if fields else "''"
            )
            detail = (
                f"struct({sql_lit(rule.tag_name)} AS tag_name, "
                f"{sql_lit(rule.tag_category)} AS tag_category, "
                f"{int(rule.rule_id)} AS rule_id, "
                f"{sql_lit(rule.rule_version)} AS rule_version, "
                f"{hit_value} AS value, "
                f"{_reason_sql(rule.conditions)} AS reason, "
                f"{ts} AS hit_time)"
            )
            entries.append(
                f"CASE WHEN {pred} THEN struct({sql_lit(str(rule.tag_id))} AS key, "
                f"{detail} AS value) END"
            )
        if not entries:
            return _EMPTY_DETAILS
        return f"array_compact(array({', '.join(entries)}))"

    # -- public operators ----------------------------------------------------

    def profiles(
        self,
        facts: DataFrame,
        computed_date: _dt.date | str | None = None,
        keep_empty: bool = False,
        with_details: bool = True,
    ) -> DataFrame:
        """Wide per-user profile in ONE pass, no shuffle.

        Returns ``(user_id, tag_ids array<int>, tag_details map<string,
        struct>, computed_date date)``. Users with no hits are dropped
        unless ``keep_empty``.
        """
        if computed_date is None:
            cd = "current_date()"
        else:
            cd = f"to_date({sql_lit(str(computed_date))})"
        cols = [attr(self.user_col), f"{self._hit_tags_sql()} AS tag_ids"]
        if with_details:
            cols.append(f"map_from_entries({self._detail_entries_sql()}) AS tag_details")
        cols.append(f"{cd} AS computed_date")
        out = self._select(facts, *cols)
        if not keep_empty:
            out = out.where("size(tag_ids) > 0")
        return out

    def observed_profiles(
        self,
        facts: DataFrame,
        computed_date: _dt.date | str | None = None,
        keep_empty: bool = False,
        with_details: bool = True,
        per_tag: bool = True,
    ):
        """(profiles, Observation) — run stats without extra jobs.

        The reference fires 40+ eager ``count()`` actions for run stats
        (SURVEY §4 anti-pattern); an ``Observation`` rides the single
        write action instead: after the caller's action completes,
        ``observation.get`` yields ``profiles`` (row count), ``tag_hits``
        (total assignments), and per-tag hit counts — zero extra passes.
        """
        from pyspark.sql import Observation

        prof = self.profiles(
            facts, computed_date=computed_date, keep_empty=keep_empty,
            with_details=with_details)
        metrics = ["count(1) AS profiles",
                   "coalesce(sum(size(tag_ids)), 0) AS tag_hits"]
        if per_tag:
            metrics += [
                f"coalesce(sum(CAST(array_contains(tag_ids, {int(r.tag_id)}) AS INT)), 0)"
                f" AS `tag_{r.tag_id}_hits`"
                for r in self.rules
            ]
        obs = Observation("tag_metrics")
        return prof.observe(obs, *[F.expr(m) for m in metrics]), obs

    def assignments(self, facts: DataFrame) -> DataFrame:
        """Narrow ``(user_id, tag_id, tag_detail json-string)`` relation.

        Same single pass; ``explode`` fans hit structs out to one row per
        (user, tag) — the reference's intermediate shape
        (``tag_computer.py:67``) without its per-rule jobs.
        """
        user = attr(self.user_col)
        return (
            self._select(facts, user, f"explode({self._detail_entries_sql()}) AS e")
            .selectExpr(user, "CAST(e.key AS INT) AS tag_id",
                        "to_json(e.value) AS tag_detail")
        )

    def enriched_assignments(self, facts: DataFrame, definitions: DataFrame) -> DataFrame:
        """Assignments left-joined to a tag-definition dim (broadcast).

        Reference: ``tag_merger._enrich_with_tag_info``
        (``src/merger/tag_merger.py:228-238``) — dim is tag-catalog sized
        (tens of rows), so broadcast explicitly; never shuffle facts for it.
        """
        return self.assignments(facts).join(F.broadcast(definitions), "tag_id", "left")


def tag_profiles(
    facts: DataFrame,
    rules: Iterable[Rule],
    user_col: str = "user_id",
    as_of: _dt.date | str | None = None,
    computed_date: _dt.date | str | None = None,
) -> DataFrame:
    """Functional convenience wrapper over :class:`TagEngine.profiles`."""
    return TagEngine(list(rules), user_col=user_col, as_of=as_of).profiles(
        facts, computed_date=computed_date
    )


def tag_assignments(
    facts: DataFrame,
    rules: Iterable[Rule],
    user_col: str = "user_id",
    as_of: _dt.date | str | None = None,
) -> DataFrame:
    """Functional convenience wrapper over :class:`TagEngine.assignments`."""
    return TagEngine(list(rules), user_col=user_col, as_of=as_of).assignments(facts)
