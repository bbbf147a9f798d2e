"""Array/map expression helpers shared by the tag pipeline.

These are the native replacements for the reference's three Python UDFs
(SURVEY §2.10): ``merge_arrays`` → :func:`merged_tag_array`;
``build_tag_details`` / ``generate_tag_detail`` → :func:`tag_details_json`.
All stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.sqlrender import attr, sql_lit


def merged_tag_array(a: str, b: str) -> Column:
    """Sorted distinct union of two int array columns (by name,
    resolved like ``F.col``); null-safe.

    Canonical semantics for the reference's divergent pair
    (``tag_merger.py:213`` sorts, ``mysql_writer.py:178`` doesn't).
    """
    return F.expr(merged_tag_array_sql(attr(a), attr(b)))


def merged_tag_array_sql(a: str, b: str) -> str:
    """The SQL text of :func:`merged_tag_array` over two SQL operands;
    a NULL side counts as the empty set."""
    empty = "CAST(array() AS ARRAY<INT>)"
    return (f"array_sort(array_distinct(array_union("
            f"coalesce({a}, {empty}), coalesce({b}, {empty}))))")


def lit_double_array(values) -> Column:
    """A literal ``array<double>`` built with ONE JVM round-trip.

    ``F.array(*[F.lit(x) for x in xs])`` pays one py4j call per element
    (~0.6 ms each): a 24×64 hyperplane set costs ~1.3 s of pure driver
    time PER QUERY BUILD (measured r13; guide §5 — the driver should do
    almost no work). Parsing the :func:`lit_double_array_sql` text
    JVM-side is ~40× faster and bit-exact.
    """
    return F.expr(lit_double_array_sql(values))


def lit_double_array_sql(values) -> str:
    """The SQL text of :func:`lit_double_array`, for composition into
    LARGER single-parse expressions (r14, guide §5): callers building
    e.g. a per-centroid dot-product array render the whole expression
    as one string and pay ONE py4j round-trip + parse, instead of one
    Column-API call per operator node.

    Elements render through :func:`sql_lit`: ``repr(float)`` round-trips
    IEEE doubles exactly and the ``D`` suffix pins the type to DOUBLE;
    NaN and ±inf become ``CAST('NaN' AS DOUBLE)`` etc. The empty list
    is cast, since a bare ``array()`` would type as array<void>.
    """
    xs = [float(x) for x in values]
    if not xs:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(sql_lit(x) for x in xs) + ")"


# Vector math as SQL text (r14, guide §5 driver work): every Column-API
# higher-order function costs ~5-10 ms of py4j round-trips to
# construct, and the sim/emb builds chain dozens of them — rendering the
# expression as ONE parsed SQL string is ~40× cheaper to build. Vector
# arguments are SQL text: an ``attr`` column reference, a lambda
# variable or a :func:`lit_double_array_sql` literal.

def _arr_sql(name: str) -> str:
    """CAST a column (by name, resolved like ``F.col``) to
    array<double>, as SQL text."""
    return f"CAST({attr(name)} AS ARRAY<DOUBLE>)"


def _dot_sql(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, v) -> acc + v)")


def _norm_sql(a: str) -> str:
    return (f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, "
            f"(acc, v) -> acc + v))")


def _cosine_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"


def tag_details_json(details: Column | str) -> Column:
    """Serialize a ``map<string,struct>`` tag-detail column to JSON text.

    Only at the sink boundary (reference carries JSON strings through the
    whole pipeline, ``tag_merger.py:146-158``).
    """
    details = F.col(details) if isinstance(details, str) else details
    return F.to_json(details)
