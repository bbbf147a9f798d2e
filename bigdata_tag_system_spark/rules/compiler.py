"""Rule-condition compiler: JSON boolean tree → Spark SQL text → ``Column``.

Replaces the reference's SQL-string concatenator
(``src/engine/rule_parser.py:35-168``) with one recursive renderer over
the condition AST. The output is SQL text again — one parse per rule
instead of a py4j round trip per expression node — but built so the
reference's defects stay fixed:

- **No interpolation of rule content.** Field names render as
  backtick-quoted identifiers (``functions.sqlrender.attr``, the
  dotted-path resolution ``F.col`` uses) and values as escaped literals
  (``functions.sqlrender.sql_lit``); the reference interpolates both at
  ``rule_parser.py:100,115,135`` — injectable. The property tests in
  ``tests/test_compiler_properties.py`` feed quotes, backslashes,
  newlines, comment markers and LIKE metacharacters through it.
- **Nested condition groups compile recursively** (reference silently drops
  them, ``rule_parser.py:77-90``, although its own spec tests require them,
  ``tests/unit/test_rule_parser.py:230-263``).
- **Unknown operators raise ``ValueError``** (reference logs & skips,
  ``rule_parser.py:162-164``, against its spec test
  ``tests/unit/test_rule_parser.py:265-280``).
- **Pluggable as-of date**: ``recent_days``/``days_ago``/``days_ago_between``
  resolve against an injected date instead of ``current_date()``
  (``rule_parser.py:147-155``) so results are deterministic and replayable.
- **Array-field operators** from the spec (`docs/标准需求文档.md` §3.6):
  contains_any / contains_all / intersects / disjoint / array_contains —
  absent from the reference implementation.

Null semantics: standard SQL three-valued logic, as inherited by the
reference's generated SQL — a NULL field fails every positive predicate and
also fails ``NOT``-wrapped predicates (NULL is not TRUE). ``is_null`` /
``is_not_null`` are the explicit escape hatches. This is documented
behavior, tested in ``tests/test_compiler.py``.

Everything renders to built-in Catalyst expressions (the optimized plan is
the one the former Column-API builder produced): predicates stay inside
whole-stage codegen, push down to Parquet scans, and never leave the JVM.
The same walker, restricted to a portable operator subset and bare
identifiers, renders :func:`rule_to_sql` for engines other than Spark.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import re as _re
from typing import Any, Mapping

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.sqlrender import attr, sql_lit

# Operators whose `value` is a [lo, hi] pair.
_RANGE_OPS = {"in_range", "not_in_range", "days_ago_between", "date_between"}
# Operators that take no value.
_NULL_OPS = {"is_null", "is_not_null"}

_COMPARISON_OPS = {"=", "==", "!=", "<>", ">", "<", ">=", "<="}

KNOWN_OPERATORS = (
    _COMPARISON_OPS
    | _RANGE_OPS
    | _NULL_OPS
    | {
        "in",
        "not_in",
        "contains",
        "not_contains",
        "starts_with",
        "ends_with",
        "matches",
        "not_matches",
        "recent_days",
        "days_ago",
        # spec §3.6 array-field operators
        "array_contains",
        "contains_any",
        "intersects",
        "contains_all",
        "disjoint",
    }
)

_NUMBER_TYPES = ("number", "int", "integer", "long", "double", "float")


class RuleCompileError(ValueError):
    """Raised for malformed rules (unknown operator, bad value shape)."""


_ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"


def check_parser(spark: SparkSession | None, *texts: str) -> None:
    """Raise :class:`RuleCompileError` if ``spark``'s parser would read
    the rendered ``texts`` as other values than they spell.

    ``sql_lit`` writes quotes, backslashes, control characters and ``$``
    as backslash escapes. With ``spark.sql.parser.escapedStringLiterals``
    on, Spark keeps those escapes verbatim, so a rule would compare
    against different text with no error. Text without a backslash
    reads the same in both modes and needs no conf lookup."""
    if spark is None or not any("\\" in t for t in texts):
        return
    if str(spark.conf.get(_ESCAPED_LITERALS, "false")).strip().lower() == "true":
        raise RuleCompileError(
            f"{_ESCAPED_LITERALS}=true keeps the escapes in rendered rule "
            f"literals; unset it to evaluate rules whose values need escaping")


def _as_list(value: Any) -> list[Any]:
    if isinstance(value, (list, tuple)):
        return list(value)
    return [value]


def _decimal(value: Any) -> decimal.Decimal:
    # spec mandates DECIMAL(20,8) for monetary fields
    # (`docs/标准需求文档.md` §3.1; the reference substitutes double,
    # ``src/scheduler/main_scheduler.py:303`` — a cited defect): the
    # value stays an exact decimal, never a float round trip
    try:
        d = decimal.Decimal(str(value))
    except decimal.InvalidOperation as exc:
        raise RuleCompileError(f"non-decimal value {value!r} for decimal condition") from exc
    if not d.is_finite():
        raise RuleCompileError(f"non-decimal value {value!r} for decimal condition")
    return d


class _ConditionWalker:
    """The one walk over a condition tree. Groups, validation and the
    SQL shape of every operator live here; a dialect supplies how an
    identifier, a value and an anchored date are spelled."""

    operators = KNOWN_OPERATORS
    true_sql = "true"
    false_sql = "false"

    def __init__(self, as_of: _dt.date | str | None = None, strict: bool = True):
        if isinstance(as_of, str):
            as_of = _dt.date.fromisoformat(as_of)
        self.as_of = as_of
        self.strict = strict

    def render(self, conditions: Mapping[str, Any] | None) -> str:
        """One boolean SQL expression for a whole condition tree.
        Empty/None selects all (the reference compiles empty rules to
        ``1=1``, ``rule_parser.py:49-51``)."""
        if not conditions:
            return self.true_sql
        return self._node(dict(conditions))

    # -- dialect hooks --------------------------------------------------------

    def _ident(self, field: str) -> str:
        raise NotImplementedError

    def _value(self, value: Any, type_hint: str | None) -> str:
        raise NotImplementedError

    def _list_value(self, value: Any, type_hint: str | None) -> str:
        return self._value(value, type_hint)

    def _days_before(self, days: int, op: str) -> str:
        raise NotImplementedError

    def _unknown_operator(self, op: str) -> str:
        return f"unknown operator: {op!r}"

    def _join(self, logic: str, parts: list[str]) -> str:
        # left-deep, one parenthesized pair per operator: Spark's parser
        # balances a flat `a AND b AND c AND d` into a different tree
        out = parts[0]
        for p in parts[1:]:
            out = f"({out} {logic} {p})"
        return out

    def _text_match(self, col: str, op: str, value: Any) -> str:
        raise NotImplementedError

    # -- walk -----------------------------------------------------------------

    def _fail(self, message: str) -> str:
        """Strict: raise. Lenient: the node hits nothing — never
        silently select-all."""
        if self.strict:
            raise RuleCompileError(message)
        return self.false_sql

    def _node(self, node: Mapping[str, Any]) -> str:
        if "logic" in node or "conditions" in node:
            return self._group(node)
        return self._condition(node)

    def _group(self, node: Mapping[str, Any]) -> str:
        logic = str(node.get("logic", "AND")).upper()
        children = node.get("conditions") or []
        if not children:
            return self.true_sql
        parts = [self._node(dict(c)) for c in children]
        if logic in ("AND", "OR"):
            return self._join(logic, parts)
        if logic == "NOT":
            # Reference semantics: NOT of the conjunction of children
            # (``rule_parser.py:66``).
            return f"(NOT {self._join('AND', parts)})"
        return self._fail(f"unknown logic combinator: {logic!r}")

    def _condition(self, node: Mapping[str, Any]) -> str:
        field = node.get("field")
        op = node.get("operator")
        if not field or not op:
            return self._fail(f"malformed condition (need field+operator): {dict(node)!r}")
        op = str(op)
        if op not in self.operators:
            return self._fail(self._unknown_operator(op))

        col = self._ident(str(field))
        value = node.get("value")
        type_hint = node.get("type")

        if op in _NULL_OPS:
            return f"({col} IS NULL)" if op == "is_null" else f"({col} IS NOT NULL)"

        if op in _COMPARISON_OPS:
            sym = {"==": "=", "<>": "!="}.get(op, op)
            return f"({col} {sym} {self._value(value, type_hint)})"

        if op in _RANGE_OPS:
            pair = _as_list(value)
            if len(pair) != 2:
                return self._fail(f"{op} needs a [lo, hi] value, got {value!r}")
            if op == "days_ago_between":
                # [a, b]: between as_of-b and as_of-a
                # (reference ``rule_parser.py:153-155``)
                a, b = (int(v) for v in pair)
                lo, hi = self._days_before(b, op), self._days_before(a, op)
            else:
                th = "date" if op == "date_between" else type_hint
                lo, hi = (self._value(v, th) for v in pair)
            neg = "NOT " if op == "not_in_range" else ""
            return f"({col} {neg}BETWEEN {lo} AND {hi})"

        if op in ("in", "not_in"):
            vals = _as_list(value)
            if not vals:
                return self._fail(f"{op} needs a non-empty list value")
            body = ", ".join(self._list_value(v, type_hint) for v in vals)
            neg = "NOT " if op == "not_in" else ""
            return f"({col} {neg}IN ({body}))"

        if op in ("contains", "not_contains", "starts_with", "ends_with"):
            return self._text_match(col, op, value)

        if op in ("recent_days", "days_ago"):
            # field >= as_of - N days (reference ``rule_parser.py:147-148``)
            sym = ">=" if op == "recent_days" else "<="
            return f"({col} {sym} {self._days_before(int(value), op)})"

        if op in ("matches", "not_matches"):
            # regex operator (engine extension; the reference rule
            # language stops at contains/starts/ends). Patterns should
            # stay in the lookahead-free Java∩RE2 subset for portability
            # (same contract as functions.text.PII_PATTERNS); 3VL: NULL
            # fields fail both polarities, like every other operator.
            if value is None or str(value) == "":
                return self._fail(f"{op} needs a non-empty pattern")
            neg = "NOT " if op == "not_matches" else ""
            return f"({col} {neg}RLIKE {sql_lit(str(value))})"

        # ---- array-field operators (spec §3.6; no reference impl) ----
        if op == "array_contains":
            if value is None:
                return self._fail(f"{op} needs a non-null value")
            return f"array_contains({col}, {self._value(value, type_hint)})"
        vals = _as_list(value)
        # match the `in` handling: an empty/None list would otherwise
        # render as array(NULL) or an untyped empty array — analysis
        # error or an always-null predicate
        if not vals or any(v is None for v in vals):
            if self.strict:
                raise RuleCompileError(f"{op} needs a non-empty list of non-null values")
            # vacuous truth for the empty list: every element of ∅ is
            # present (contains_all), and ∅ is disjoint from anything
            # (disjoint); only an empty contains_any/intersects is
            # unsatisfiable. Lists containing None stay False.
            if not vals and op in ("contains_all", "disjoint"):
                return self.true_sql
            return self.false_sql
        arr = self._value(vals, None)
        if op in ("contains_any", "intersects"):
            return f"arrays_overlap({col}, {arr})"
        if op == "contains_all":
            # every requested element present in the column's array
            return f"(size(array_except({arr}, {col})) = 0)"
        return f"(NOT arrays_overlap({col}, {arr}))"


class RuleCompiler(_ConditionWalker):
    """Compile JSON condition trees to Spark SQL predicates.

    Parameters
    ----------
    as_of:
        Anchor date for relative-date operators (``recent_days`` etc.).
        ``None`` → ``current_date()`` (matches reference behavior,
        ``rule_parser.py:148``), but pipelines should always pin it for
        reproducibility (SURVEY §7.3 determinism).
    strict:
        When True (default) unknown operators / malformed nodes raise
        :class:`RuleCompileError`; when False they compile to ``false``
        (hit nothing) — never silently select-all.
    """

    # -- public API ---------------------------------------------------------

    def compile(self, conditions: Mapping[str, Any] | None) -> Column:
        """Compile a full condition tree to a ``Column`` (one parse of
        :meth:`render`'s text). Empty/None → ``true``."""
        text = self.render(conditions)
        if "\\" in text:  # else the session lookup is not needed
            check_parser(SparkSession.getActiveSession(), text)
        return F.expr(text)

    # -- dialect ------------------------------------------------------------

    def _ident(self, field: str) -> str:
        try:
            return attr(field)
        except ValueError as exc:
            raise RuleCompileError(f"unrenderable identifier: {field!r}") from exc

    def _value(self, value: Any, type_hint: str | None) -> str:
        """A literal honoring the rule's declared type.

        The reference encodes type only as quote-vs-no-quote
        (``rule_parser.py:93-100``); here the declared type picks the
        literal's type so e.g. decimal fact columns compare exactly.
        """
        if type_hint == "date":
            if isinstance(value, str):
                return f"to_date({sql_lit(value)})"
        elif type_hint == "decimal":
            value = _decimal(value)
        elif type_hint in _NUMBER_TYPES:
            if isinstance(value, str):
                # strict: a declared-number value must parse
                try:
                    value = int(value)
                except ValueError:
                    try:
                        value = float(value)
                    except ValueError as exc:
                        raise RuleCompileError(
                            f"non-numeric value {value!r} for numeric condition") from exc
        elif type_hint in ("boolean", "bool"):
            if isinstance(value, str):
                value = value.strip().lower() in ("true", "1", "yes")
            value = bool(value)
        try:
            return sql_lit(value)
        except (TypeError, ValueError) as exc:
            raise RuleCompileError(f"unrenderable value {value!r}") from exc

    def _list_value(self, value: Any, type_hint: str | None) -> str:
        # `in` lists keep each value's own type (the declared type is
        # not applied to them), as ``Column.isin`` did
        return self._value(value, None)

    def _days_before(self, days: int, op: str) -> str:
        anchor = sql_lit(self.as_of) if self.as_of is not None else "current_date()"
        return f"date_sub({anchor}, {days})"

    def _text_match(self, col: str, op: str, value: Any) -> str:
        fn = {"contains": "contains", "not_contains": "contains",
              "starts_with": "startswith", "ends_with": "endswith"}[op]
        pred = f"{fn}({col}, {sql_lit(str(value))})"
        return f"(NOT {pred})" if op == "not_contains" else pred


def compile_rule(
    conditions: Mapping[str, Any] | None,
    as_of: _dt.date | str | None = None,
    strict: bool = True,
) -> Column:
    """Convenience wrapper: compile one condition tree to a ``Column``."""
    return RuleCompiler(as_of=as_of, strict=strict).compile(conditions)


# ---------------------------------------------------------------------------
# ANSI-SQL dialect: the reference's SQL-string interop, injection-safe
# ---------------------------------------------------------------------------

_IDENT_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _sql_str(value: Any) -> str:
    return "'" + str(value).replace("'", "''") + "'"


def _sql_like(value: Any, prefix: str = "%", suffix: str = "%") -> str:
    # escape LIKE metacharacters with an explicit ESCAPE char, then
    # quote — both halves of the injection/metachar surface closed
    pat = str(value).replace("!", "!!").replace("%", "!%").replace("_", "!_")
    return _sql_str(prefix + pat + suffix) + " ESCAPE '!'"


class _AnsiWalker(_ConditionWalker):
    """The portable subset (runs unchanged on Spark SQL, DuckDB, MySQL 8,
    Postgres, except string values holding a backslash or ``${``: see
    :func:`rule_to_sql`). Regex and array operators are deliberately NOT
    here — their syntax is engine-specific; keep those rules on the
    compiler."""

    operators = (
        _COMPARISON_OPS | _NULL_OPS
        | {"in", "not_in", "in_range", "not_in_range", "date_between",
           "days_ago_between", "contains", "not_contains", "starts_with",
           "ends_with", "recent_days", "days_ago"}
    )
    true_sql = "(1 = 1)"

    def _join(self, logic: str, parts: list[str]) -> str:
        return "(" + f" {logic} ".join(parts) + ")"

    def _ident(self, field: str) -> str:
        if not _IDENT_RE.match(field):
            raise RuleCompileError(f"unrenderable identifier: {field!r}")
        return field

    def _unknown_operator(self, op: str) -> str:
        return (f"operator {op!r} is not in the portable SQL subset — "
                f"evaluate it via compile_rule instead")

    def _value(self, value: Any, type_hint: str | None) -> str:
        if type_hint == "date":
            d = value if isinstance(value, _dt.date) \
                else _dt.date.fromisoformat(str(value))
            return f"DATE '{d.isoformat()}'"
        if type_hint == "decimal":
            return format(_decimal(value), "f")
        if type_hint in _NUMBER_TYPES:
            try:
                return repr(int(value)) if float(value) == int(float(value)) \
                    and not isinstance(value, float) else repr(float(value))
            except (TypeError, ValueError) as exc:
                raise RuleCompileError(
                    f"non-numeric value {value!r} for numeric condition"
                ) from exc
        if type_hint in ("boolean", "bool"):
            v = value if isinstance(value, bool) \
                else str(value).strip().lower() in ("true", "1", "yes")
            return "TRUE" if v else "FALSE"
        return _sql_str(value)

    def _days_before(self, days: int, op: str) -> str:
        # resolved in Python: a rendered string must not drift with the
        # wall clock
        if self.as_of is None:
            raise RuleCompileError(
                f"{op} needs a pinned as_of date to render "
                f"(a wall-clock-relative SQL string is not replayable)")
        return f"DATE '{(self.as_of - _dt.timedelta(days=days)).isoformat()}'"

    def _text_match(self, col: str, op: str, value: Any) -> str:
        if op == "starts_with":
            return f"({col} LIKE {_sql_like(value, prefix='')})"
        if op == "ends_with":
            return f"({col} LIKE {_sql_like(value, suffix='')})"
        neg = "NOT " if op == "not_contains" else ""
        return f"({col} {neg}LIKE {_sql_like(value)})"


def rule_to_sql(
    conditions: Mapping[str, Any] | None,
    as_of: _dt.date | str | None = None,
) -> str:
    """Render a rule condition tree to a portable ANSI ``WHERE`` body.

    The interop the reference gets from building SQL strings
    (``src/engine/rule_parser.py``) WITHOUT its injection surface:
    identifiers are validated against ``[A-Za-z_][A-Za-z0-9_]*``,
    string values quote-escaped, LIKE metacharacters escaped behind an
    explicit ``ESCAPE``, decimals rendered exactly, relative dates
    resolved to literal ``DATE`` values in Python (so ``as_of`` is
    REQUIRED for them — a rendered string must not drift with the wall
    clock). Use it to push a rule into systems that only speak SQL
    text: JDBC ``predicates=[...]`` partition pushdown, warehouse
    views, downstream engines.

    Only the portable operator subset renders; regex and array-typed
    operators raise (their syntax is engine-specific — evaluate those
    through :func:`compile_rule` instead). It is the compiler's own
    walker, so semantics, including 3VL and NOT-of-conjunction groups,
    match :func:`compile_rule` — tested by counting both paths on the
    same data.

    String values render as ANSI literals: a quote is doubled, and a
    backslash or ``${x}`` is plain data. Spark SQL reads the same text
    differently: a backslash starts an escape, and ``${...}`` is variable
    substitution (``spark.sql.variable.substitute``); MySQL without
    ``NO_BACKSLASH_ESCAPES`` also reads backslash escapes. A value
    holding either therefore matches another string there. The text is
    meant for engines that follow the standard, so such values are not
    refused; on Spark, evaluate the rule through :func:`compile_rule`,
    whose literals are escaped for Spark's parser.
    """
    return _AnsiWalker(as_of=as_of).render(conditions)
