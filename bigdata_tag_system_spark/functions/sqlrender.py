"""Helpers for single-parse SQL rendering of operator segments (r14).

Guide §5: every Column-API node costs a py4j round-trip (~0.6 ms
driver-blocked), so chatty operator builds are rendered as ONE
``spark.sql`` statement per checkpoint segment. Two rules keep those
statements safe on Spark 4.1:

- **Bind each DataFrame parameter at most once.** Two references of
  the same parameter (or a multi-referenced CTE) share attribute ids
  across join/union branches, which trips Catalyst's constraint
  rewrites (``key not found`` in ``AttributeMap`` inside
  ``UnionBase.rewriteConstraints``). Extra references go through
  :func:`fresh_ids`, which mints new expression ids with a same-name
  alias projection — the ``_cogroup_asof_prologue`` trick.
- **Reuse points stay on the DataFrame API** (its analyzer
  deduplicates relations), SQL renders only linear chains.

Names and values enter rendered text only through :func:`ident` /
:func:`attr` (backtick-quoted identifiers) and :func:`sql_lit`
(escaped literals), never by interpolation. Spark's parser runs
variable substitution (``spark.sql.variable.substitute``, on by
default) over the raw text before it lexes it, turning ``${env:X}``,
``${system:X}`` or ``${conf.key}`` into driver values; so literals spell
``$`` as the ``\\u0024`` escape, and identifiers containing ``${`` are
refused. Literals also spell ``{`` and ``}`` as ``\\u007b`` /
``\\u007d``, so a rendered literal never reads as a frame slot when
the text is a ``spark.sql(text, **frames)`` template.
"""

from __future__ import annotations

import calendar
import datetime as _dt
import decimal
import math
import re
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fresh_ids(df: DataFrame) -> DataFrame:
    """A zero-cost projection that re-mints every column's expression
    id, so the relation can appear as a SECOND ``spark.sql`` parameter
    next to the original (see module docstring)."""
    return df.select(*[F.col(c).alias(c) for c in df.columns])


def ident(name: str) -> str:
    """Backtick-quote an identifier for embedding in rendered SQL.

    Raises ``ValueError`` for a name containing ``${``: a backticked
    name has no escapes, so variable substitution would rewrite it."""
    if "${" in name:
        raise ValueError(f"identifier would be variable-substituted: {name!r}")
    return "`" + name.replace("`", "``") + "`"


# one part of a column reference: backticked (a doubled backtick inside
# stands for a literal one) or a run of characters other than dot/backtick
_NAME_PART = r"`(?:[^`]|``)*`|[^.`]+"
_NAME_RE = re.compile(rf"(?:{_NAME_PART})(?:\.(?:{_NAME_PART}))*")


def _name_parts(name: str) -> list[str]:
    """Split a column reference into its dotted path the way ``F.col``
    does (Spark's ``UnresolvedAttribute.parseAttributeName``)."""
    if not _NAME_RE.fullmatch(name):
        raise ValueError(f"syntax error in attribute name: {name!r}")
    return [p[1:-1].replace("``", "`") if p.startswith("`") else p
            for p in re.findall(_NAME_PART, name)]


def attr(name: str) -> str:
    """A column reference as rendered SQL that resolves like
    ``F.col(name)``: ``a.b`` is field ``b`` of column ``a``, while
    ``a.b`` wrapped in backticks is the one column named ``a.b``."""
    return ".".join(ident(p) for p in _name_parts(name))


def _sql_string(s: str) -> str:
    out = []
    for ch in s:
        if ch in "\\'":
            out.append("\\" + ch)
        elif ord(ch) < 0x20 or ord(ch) == 0x7F or ch in "${}":
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def _epoch_micros(ts: _dt.datetime) -> int:
    # the instant F.lit(ts) stands for: py4j's datetime converter reads a
    # naive value in the driver's local zone, an aware one at its offset
    secs = calendar.timegm(ts.utctimetuple()) if ts.tzinfo else time.mktime(ts.timetuple())
    return int(secs) * 1_000_000 + ts.microsecond


def sql_lit(value) -> str:
    """Render a Python value as a Spark SQL literal that evaluates to
    what ``F.lit(value)`` does, with the same type: ``None``, bool,
    int, float (``D`` suffix, so not a decimal), ``Decimal`` (``BD``,
    exact), str (quote, backslash, control characters, ``$``, ``{``
    and ``}`` escaped; needs ``spark.sql.parser.escapedStringLiterals``
    off), date, datetime (the same instant as ``F.lit``) and lists/tuples
    (``array(...)``)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'' if value > 0 else '-'}Infinity' AS DOUBLE)"
        return repr(value) + "D"
    if isinstance(value, decimal.Decimal):
        if not value.is_finite():
            raise ValueError(f"no SQL literal for decimal {value}")
        return f"{value}BD"
    if isinstance(value, str):
        return _sql_string(value)
    if isinstance(value, _dt.datetime):
        utc = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=_epoch_micros(value))
        return f"TIMESTAMP_LTZ '{utc:%Y-%m-%d %H:%M:%S.%f}Z'"
    if isinstance(value, _dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, (list, tuple)):
        return "array(" + ", ".join(sql_lit(v) for v in value) + ")"
    raise TypeError(f"no SQL literal for {type(value).__name__} value {value!r}")
