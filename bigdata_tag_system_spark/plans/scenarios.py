"""Scenario driver: (user-selection × tag-selection × merge-strategy).

The reference hand-writes six scenario methods
(``src/scheduler/scenario_scheduler.py:118-470``; CLI modes
``main.py:45-68``). They are one parameterized pipeline:

| # | users       | tags     | merge                         |
|---|-------------|----------|-------------------------------|
| 1 | all         | all      | overwrite                     |
| 2 | new only    | all      | overwrite (no new user is stored) |
| 3 | all         | specific | union with stored             |
| 4 | new only    | specific | union with stored             |
| 5 | specific    | all      | overwrite (those users)       |
| 6 | specific    | specific | union with stored             |

"New users" = fact users absent from the result store — a **left anti
join** (reference ``main_scheduler._identify_truly_new_users:431-435``).
"Specific users" = key-list ``isin`` filter (``scenario_scheduler.py:485``).

A scenario is two steps. :meth:`ScenarioRunner.batch` selects the users
and tags them; it reads the store only for the anti join. Then
:meth:`ScenarioRunner.run` merges the batch with the stored rows of the
batch's users and returns those users only, while
:meth:`ScenarioRunner.fold` merges it into the whole store with ONE
full-outer join — what a job writes back. Users outside the batch come
back exactly as stored (the reference UPSERTs only the batch's rows,
``advanced_tag_merger.py:52-67``).

Everything stays lazy: one Spark action per scenario (the sink write), no
mid-pipeline counts (the reference runs 40+ eager actions per run,
SURVEY §4). Use ``df.observe`` hooks for stats if needed.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from enum import Enum
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_tag_system_spark.operators.merge import MergeStrategy, merge_profiles
from bigdata_tag_system_spark.operators.tagging import TagEngine
from bigdata_tag_system_spark.rules.model import Rule
from bigdata_tag_system_spark.sources.writers import merge_upsert_frames


class UserSelector(str, Enum):
    ALL = "all"
    NEW = "new"          # anti-join against result store
    KEYS = "keys"        # explicit key list


@dataclass(frozen=True)
class Scenario:
    number: int
    users: UserSelector
    specific_tags: bool
    merge: MergeStrategy


SCENARIOS: dict[int, Scenario] = {
    1: Scenario(1, UserSelector.ALL, False, MergeStrategy.OVERWRITE),
    2: Scenario(2, UserSelector.NEW, False, MergeStrategy.OVERWRITE),
    3: Scenario(3, UserSelector.ALL, True, MergeStrategy.UNION),
    4: Scenario(4, UserSelector.NEW, True, MergeStrategy.UNION),
    5: Scenario(5, UserSelector.KEYS, False, MergeStrategy.OVERWRITE),
    6: Scenario(6, UserSelector.KEYS, True, MergeStrategy.UNION),
}


class ScenarioRunner:
    """Run any scenario over (facts, rules, existing-profile store)."""

    def __init__(
        self,
        rules: Sequence[Rule],
        user_col: str = "user_id",
        as_of: _dt.date | str | None = None,
        run_ts: _dt.datetime | str | None = None,
    ):
        self.rules = list(rules)
        self.user_col = user_col
        self.as_of = as_of
        self.run_ts = run_ts

    def _select_users(
        self,
        facts: DataFrame,
        scenario: Scenario,
        existing: DataFrame | None,
        user_keys: Sequence[Any] | None,
    ) -> DataFrame:
        if scenario.users == UserSelector.ALL:
            return facts
        if scenario.users == UserSelector.NEW:
            if existing is None:
                return facts
            known = existing.select(self.user_col)
            return facts.join(known, on=self.user_col, how="left_anti")
        if not user_keys:
            raise ValueError(f"scenario {scenario.number} needs user_keys")
        return facts.where(F.col(self.user_col).isin(list(user_keys)))

    def batch(
        self,
        scenario_number: int,
        facts: DataFrame,
        existing: DataFrame | None = None,
        tag_ids: Sequence[int] | None = None,
        user_keys: Sequence[Any] | None = None,
        computed_date: _dt.date | str | None = None,
    ) -> DataFrame:
        """The fresh profiles of the scenario's users, one row per
        selected fact row, before any merge (lazy). ``existing`` is read
        only to select new users."""
        scenario = SCENARIOS[scenario_number]
        rules = self.rules
        if scenario.specific_tags:
            if not tag_ids:
                raise ValueError(f"scenario {scenario_number} needs tag_ids")
            wanted = set(tag_ids)
            rules = [r for r in rules if r.tag_id in wanted]
        engine = TagEngine(rules, user_col=self.user_col, as_of=self.as_of, run_ts=self.run_ts)
        selected = self._select_users(facts, scenario, existing, user_keys)
        return engine.profiles(selected, computed_date=computed_date)

    def run(
        self,
        scenario_number: int,
        facts: DataFrame,
        existing: DataFrame | None = None,
        tag_ids: Sequence[int] | None = None,
        user_keys: Sequence[Any] | None = None,
        computed_date: _dt.date | str | None = None,
    ) -> DataFrame:
        """Returns the merged per-user profile DataFrame (lazy): the
        batch's users only."""
        batch = self.batch(scenario_number, facts, existing, tag_ids,
                           user_keys, computed_date)
        return merge_profiles(batch, existing, SCENARIOS[scenario_number].merge,
                              user_col=self.user_col)

    def fold(
        self,
        scenario_number: int,
        batch: DataFrame,
        existing: DataFrame | None,
    ) -> DataFrame:
        """The store after the scenario (lazy): ``batch`` merged into
        ``existing`` with one full-outer join on the user key. Union
        scenarios union each batch user's tags with the stored ones,
        overwrite scenarios replace the batch users' rows; either way a
        user outside the batch keeps the stored row. Scenario 1 (all
        users, overwrite) replaces the whole store with the batch.
        Duplicate user keys in ``batch`` fan out through the join; the
        caller resolves them first (``resolve_duplicate_keys``)."""
        scenario = SCENARIOS[scenario_number]
        rebuild = (scenario.users == UserSelector.ALL
                   and scenario.merge == MergeStrategy.OVERWRITE)
        if existing is None or rebuild:
            return batch
        if scenario.merge == MergeStrategy.UNION:
            return merge_profiles(batch, existing, MergeStrategy.FULL_OUTER_UNION,
                                  user_col=self.user_col)
        return merge_upsert_frames(batch, existing, key_cols=[self.user_col])
