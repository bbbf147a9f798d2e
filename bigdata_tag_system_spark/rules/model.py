"""Rule catalog data model.

The reference stores rules in MySQL (`tag_rules` ⋈ `tag_definition`,
reference ``environments/local/init_database.sql:9-45`` and
``src/readers/rule_reader.py:48-67``) with `rule_conditions` as a JSON
boolean tree::

    {"logic": "AND", "conditions": [
        {"field": "total_asset_value", "operator": ">=",
         "value": 100000, "type": "number"},
        {"logic": "OR", "conditions": [...]}        # nested group
    ]}

Here the catalog is engine-neutral: a :class:`Rule` dataclass loadable from
JSON rows, a Parquet/JSON catalog table, or plain dicts. Field extraction
(`required_fields`) powers column pruning and table routing (reference
``src/readers/rule_reader.py:130-144,146-204``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Iterable


@dataclass(frozen=True)
class Rule:
    """One tag rule: a JSON boolean-condition tree plus tag metadata."""

    rule_id: int
    tag_id: int
    conditions: dict[str, Any]
    tag_name: str = ""
    tag_category: str = ""
    is_active: bool = True
    # catalog schema default mirrors the reference's constant detail
    # version stamp (``src/engine/tag_computer.py:174``)
    rule_version: str = "1.0"

    @classmethod
    def from_row(cls, row: dict[str, Any]) -> "Rule":
        # a NULL catalog field (e.g. a rule whose definition row is missing
        # from a left join) is an absent one, so its default applies
        row = {k: v for k, v in row.items() if v is not None}
        cond = row.get("rule_conditions") or row.get("conditions") or {}
        if isinstance(cond, str):
            cond = json.loads(cond) if cond.strip() else {}
        return cls(
            rule_id=int(row.get("rule_id", row.get("tag_id", 0))),
            tag_id=int(row["tag_id"]),
            conditions=cond,
            tag_name=str(row.get("tag_name", "")),
            tag_category=str(row.get("tag_category", "")),
            is_active=bool(row.get("is_active", True)),
            rule_version=str(row.get("rule_version", "1.0")),
        )


def load_rules(rows: Iterable[dict[str, Any]], only_active: bool = True) -> list[Rule]:
    """Load rules from catalog rows (dicts / JDBC rows / parquet rows)."""
    rules = [Rule.from_row(dict(r)) for r in rows]
    if only_active:
        rules = [r for r in rules if r.is_active]
    return rules


def _walk_fields(node: dict[str, Any], out: set[str]) -> None:
    if not node:
        return
    if "conditions" in node or "logic" in node:
        for child in node.get("conditions", []) or []:
            _walk_fields(child, out)
    elif "field" in node and node["field"]:
        out.add(str(node["field"]))


def required_fields(conditions: dict[str, Any]) -> set[str]:
    """All field names referenced anywhere in a condition tree.

    Recursive (the reference's flat version at
    ``src/readers/rule_reader.py:130-144`` misses nested groups).
    """
    out: set[str] = set()
    _walk_fields(conditions or {}, out)
    return out


def ordered_fields(conditions: dict[str, Any]) -> list[str]:
    """Field names in depth-first condition order, first occurrence only.

    The reference's detail ``value`` is the live value of the FIRST rule
    field (``src/engine/tag_computer.py:170``, ``hit_values[0]`` over
    condition-ordered columns) — order matters, so this is a list, not
    the pruning set above.
    """
    out: list[str] = []

    def _walk(node: dict[str, Any]) -> None:
        if not node:
            return
        if "conditions" in node or "logic" in node:
            for child in node.get("conditions", []) or []:
                _walk(child)
        elif node.get("field") and str(node["field"]) not in out:
            out.append(str(node["field"]))

    _walk(conditions or {})
    return out
