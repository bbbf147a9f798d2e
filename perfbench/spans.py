"""Spans around calls into the program's layers, measured from outside.

A :class:`Tracer` wraps public entry points of the package for the
duration of a traced run (and restores them afterwards). Each call
becomes a span — name, start, end, parent span, job group — with the
py4j commands sent while it was open. Spans stay in memory; the run
writes them out when it ends. Spark's own counters (jobs, stages,
tasks, executor time, bytes) are read per job group from the status
store after the timed region.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from dataclasses import asdict, dataclass

# (span name, module, attribute) of each entry point; spans are named after
# the layer that owns the entry point.
# Functions imported by name into other modules are patched there too.
ENTRY_POINTS = [
    ("rules.load", "bigdata_tag_system_spark.rules.model", "load_rules"),
    ("rules.read_catalog", "bigdata_tag_system_spark.sources.readers", "read_rule_catalog"),
    ("rules.compile", "bigdata_tag_system_spark.rules.compiler", "RuleCompiler.compile"),
    ("tagging.init", "bigdata_tag_system_spark.operators.tagging", "TagEngine.__init__"),
    ("tagging.profiles", "bigdata_tag_system_spark.operators.tagging", "TagEngine.profiles"),
    ("catalog.facts_for_rules", "bigdata_tag_system_spark.sources.catalog",
     "TableCatalog.facts_for_rules"),
    ("scenarios.run", "bigdata_tag_system_spark.plans.scenarios", "ScenarioRunner.run"),
    ("merge.merge_profiles", "bigdata_tag_system_spark.operators.merge", "merge_profiles"),
    ("writers.resolve_duplicate_keys", "bigdata_tag_system_spark.sources.writers",
     "resolve_duplicate_keys"),
    ("writers.parquet_merge_upsert", "bigdata_tag_system_spark.sources.writers",
     "parquet_merge_upsert"),
    ("writers.staged_swap_write", "bigdata_tag_system_spark.sources.writers",
     "staged_swap_write"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    py4j_calls: int = 0
    id: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts commands sent over the py4j boundary while installed."""

    def __init__(self):
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self._cls = ClientServerConnection
        self._orig = orig = ClientServerConnection.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(conn, command, *a, **kw):
            counter.calls += 1
            return orig(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            self._cls.send_command = self._orig
            self._orig = None


class Tracer:
    """In-memory span recorder; a context manager while patched in."""

    def __init__(self, group: str | None = None):
        self.spans: list[Span] = []
        self.group = group  # Spark job group the next spans belong to
        self.py4j = Py4jCounter()
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def open(self, name: str) -> Span:
        span = Span(name=name, start=time.perf_counter(),
                    parent=self._stack[-1].id if self._stack else None,
                    group=self.group, py4j_calls=self.py4j.calls,
                    id=len(self.spans))
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.py4j_calls = self.py4j.calls - span.py4j_calls
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    # -- patching ------------------------------------------------------------

    def install(self) -> "Tracer":
        self.py4j.install()
        for name, mod_name, attr in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, leaf)
            wrapped = self.wrap(name, orig)
            self._set(owner, leaf, wrapped)
            if owner is mod:
                # the same function imported by name elsewhere in the package
                for other in list(sys.modules.values()):
                    if (other is not mod and getattr(other, "__name__", "").startswith(
                            "bigdata_tag_system_spark")
                            and getattr(other, leaf, None) is orig):
                        self._set(other, leaf, wrapped)
        return self

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)
        self.py4j.uninstall()

    def __enter__(self):
        return self.install()

    def __exit__(self, *exc):
        self.uninstall()
        return False

    # -- reporting -----------------------------------------------------------

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s.parent == span.id]
        return span.seconds - sum(k.seconds for k in kids)

    def totals(self, group: str) -> dict[str, dict[str, float]]:
        """Per span name within one job group: summed seconds, self
        seconds and py4j calls."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.group != group:
                continue
            t = out.setdefault(s.name, {"seconds": 0.0, "self_seconds": 0.0,
                                        "py4j_calls": 0, "count": 0})
            t["seconds"] += s.seconds
            t["self_seconds"] += self.self_seconds(s)
            t["py4j_calls"] += s.py4j_calls
            t["count"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "input_bytes",
              "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


def spark_counters(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group, read from
    the status tracker and status store (works with the UI disabled)."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0)
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out["jobs"] += 1
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # never submitted: its shuffle output was reused
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["input_bytes"] += st.inputBytes()
        out["output_bytes"] += st.outputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out
