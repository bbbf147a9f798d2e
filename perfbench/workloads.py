"""The benchmark's workloads and one run of any of them.

Tag workloads drive the shipped tag path, ``cli.main([...])``, in this
process on generated inputs; ``catalog_heavy`` runs a slice of
``__spark_entry__.queries()``. A run is: set-up (session start, input
preparation, warm jobs), a timed window of jobs, then checks and
counter collection outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
import oracle
from spans import SPARK_KEYS, Tracer, spark_counters

HERE = os.path.dirname(os.path.abspath(__file__))
PREP_ROUNDS = 3     # input preparation repeats; set-up reports the median
# untimed tag jobs before the window: the first job in a fresh JVM is
# mostly class loading and JIT
TAG_WARM_JOBS = 1
MIN_JOBS = 2        # timed jobs per run, whatever the window


@dataclass(frozen=True)
class TagWorkload:
    mode: str                 # CLI --mode
    scenario: int
    sizes: gen.TagSizes


@dataclass(frozen=True)
class CatalogWorkload:
    entries: tuple[str, ...]
    sf: str                   # committed data under perfbench/data/<sf>
    tables: tuple[str, ...]


# one entry each of graph (through checkpoint.loop_invariant_leaf), dedup
# and text; a pass with graph_kcore and dedup_fuzzy_edit instead costs 2x
CATALOG_ENTRIES = ("graph_assortativity", "dedup_idf_jaccard", "text_bm25_topk")

WORKLOADS = {
    # scenario 1 over all users: wide when() projection, cross-table join
    # and a full store rewrite; no merge
    "full_rebuild": TagWorkload("full", 1, gen.TagSizes(users=20_000, rules=30)),
    # scenario 3 with 5 tag ids a job: union merge, duplicate-key probe
    # and the store read-merge-rewrite dominate
    "tag_refresh": TagWorkload("tags", 3, gen.TagSizes(users=10_000, rules=100)),
    # scenario 5 for 100 stored users a request, one client in a closed
    # loop: fixed per-request cost dominates
    "keyed_retag": TagWorkload("users", 5, gen.TagSizes(users=20_000, rules=30)),
    # graph, dedup, text and checkpoint operators; the seed orders the pass
    "catalog_heavy": CatalogWorkload(CATALOG_ENTRIES, "sf0.01", ("documents", "lineitem")),
}

# self-test sizes: every workload once, in seconds rather than minutes
TINY = {
    "full_rebuild": gen.TagSizes(users=2_000, rules=10),
    "tag_refresh": gen.TagSizes(users=2_000, rules=10, tag_ids_per_job=3),
    "keyed_retag": gen.TagSizes(users=2_000, rules=10, keys_per_job=20),
    "catalog_heavy": "sf0.001",
}

TAG_LAYER = [
    "rules.load_s", "rules.compile_s", "rules.compile_py4j_calls",
    "tagging.build_s", "tagging.build_py4j_calls", "tagging.hit_ratio",
    "catalog.build_s", "catalog.py4j_calls",
    "scenarios.build_s", "scenarios.selected_ratio", "merge.build_s",
    "writers.dup_probe_s", "writers.write_s", "writers.bytes_written",
    "writers.files_written", "writers.bytes_per_changed_user",
    "spark.plan_s",
]
COMMON_LAYER = [f"spark.{k}" for k in SPARK_KEYS] + ["py4j.calls", "trace.overhead_s"]
ENTRY_LAYER = ["build_s", "action_s", "py4j_calls", "jobs", "shuffle_bytes"]


def per_layer_names() -> list[str]:
    return TAG_LAYER + COMMON_LAYER + [
        f"{e}.{m}" for e in CATALOG_ENTRIES for m in ENTRY_LAYER]


def unit(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf == "bytes_per_changed_user":
        return "B/user"
    if "bytes" in leaf:
        return "B"
    if leaf.endswith("ratio"):
        return "ratio"
    return "count"


# -- session ----------------------------------------------------------------

def _class_archive(base: str, name: str) -> tuple[str, str | None]:
    """JVM option for a class-data-sharing archive of this workload's
    classes under ``base/cds``: use it when a run already wrote it, else
    write it (to a temp name) when this run's JVM exits. Loading archived
    classes halves session start and the first job; a mismatched archive
    (another JVM or class path) is ignored by the JVM."""
    cds = os.path.join(base, "cds")
    os.makedirs(cds, exist_ok=True)
    jsa = os.path.join(cds, f"{name}.jsa")
    if os.path.isfile(jsa):
        return f"-XX:SharedArchiveFile={jsa}", None
    tmp = f"{jsa}.{os.getpid()}"
    return f"-XX:ArchiveClassesAtExit={tmp}", tmp


def start_session(work: str, name: str):
    """One local session sized to the cores this process may use; all
    scratch (Spark local dirs, JVM and Python temp files) under ``work``.
    Returns the session and the archive path this run writes, if any."""
    from bigdata_tag_system_spark.session import get_spark

    base = os.path.dirname(work)
    local, jvm_tmp = os.path.join(work, "spark-local"), os.path.join(work, "jvm-tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(jvm_tmp, exist_ok=True)
    # an empty conf dir at a fixed path: class-data sharing refuses a class
    # path with a non-empty directory, and Spark puts the conf dir on it
    conf = os.path.join(base, "conf")
    os.makedirs(conf, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf
    archive, writing = _class_archive(base, name)
    # the heap is committed and touched at its full size up front, so peak
    # RSS does not depend on when the collector chose to grow it; JVM log
    # lines go to stderr, so stdout ends with the result line
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={jvm_tmp} -Xms{heap} -XX:+AlwaysPreTouch "
            f"-Xlog:disable -Xlog:all=warning:stderr {archive} "
            "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, writing


def stop_session(spark, writing: str | None) -> None:
    """Stop the session and wait for the JVM to exit; keep the class
    archive it wrote only if it exited cleanly."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    code = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            code = proc.wait(timeout=120)  # writing the archive takes ~20 s
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if writing is not None:
        if code == 0 and os.path.isfile(writing):
            os.replace(writing, writing.rsplit(".", 1)[0])
        elif os.path.exists(writing):
            os.remove(writing)


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this machine so far
    (all CPUs): a rise during a run means host contention, which the
    load average inside a guest does not show."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes. It reads the same on every
    run of an idle machine, so a run that reads high was on a slowed host
    (shared cores, frequency), which neither load average nor steal shows."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


def _pids() -> list[int]:
    """This process and its JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    return pids


def cpu_s() -> float:
    """CPU seconds (user + system, all threads) of this process and every
    process under it (the JVM, its Python workers, reaped children), less
    the JVM's JIT compiler threads. After warm-up the compilers still work
    through a backlog (tens of CPU seconds in the first timed jobs) whose
    size depends on how fast the host ran the warm-up."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])

    def under_us(pid):
        while pid > 1:
            if pid == os.getpid():
                return True
            pid = parent.get(pid, 0)
        return False

    total = sum(t for pid, t in ticks.items() if under_us(pid))
    return total / os.sysconf("SC_CLK_TCK") - jit_cpu_s()


def jit_cpu_s() -> float:
    """CPU seconds the JVM's JIT compiler threads spent so far (a fixed set
    of threads: the run turns dynamic compiler thread counts off)."""
    ticks = 0
    for pid in _pids()[1:]:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:  # exited while listed
                continue
            if name.startswith(("C1 Compiler", "C2 Compiler")):
                fields = rest.split()
                ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM, in MiB."""
    total_kb = 0
    for pid in _pids():
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# -- tag workloads ----------------------------------------------------------

@dataclass
class TagRun:
    """One tag workload's inputs, store and expected store state."""

    name: str
    wl: TagWorkload
    sizes: gen.TagSizes
    seed: int
    work: str
    inputs: gen.TagInputs | None = None
    hits: dict = field(default_factory=dict)
    strata: list = field(default_factory=list)
    expected: dict = field(default_factory=dict)
    job: dict = field(default_factory=dict)  # oracle facts of the current job
    store_bytes: float = 0.0

    @property
    def store(self) -> str:
        return os.path.join(self.work, "store")

    def prepare(self, root: str) -> None:
        self.inputs = gen.tag_inputs(self.seed, self.sizes, root,
                                     with_store=self.wl.scenario != 1)

    def _reset_store(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        if self.wl.scenario != 1:
            shutil.copytree(self.inputs.store_seed, self.store)

    def argv(self, job: int) -> tuple[list[str], list[int]]:
        """CLI arguments of one job, and the user keys it selects."""
        inp = self.inputs
        argv = ["--mode", self.wl.mode, "--rules", inp.rules_path,
                "--store", self.store, "--as-of", gen.AS_OF,
                "--computed-date", gen.COMPUTED_DATE, "--log-level", "ERROR"]
        for name, path in inp.facts.items():
            argv += ["--facts", f"{name}={path}"]
        keys: list[int] = []
        if self.wl.scenario == 3:
            argv += ["--tag-ids", ",".join(
                map(str, gen.job_tag_ids(self.seed, job, self.strata)))]
        if self.wl.scenario == 5:
            keys = gen.job_user_ids(self.seed, job, inp, self.sizes.keys_per_job)
            argv += ["--user-ids", ",".join(map(str, keys))]
        return argv, keys

    def start_oracle(self) -> None:
        self.hits = oracle.rule_hits(self.inputs.facts, self.inputs.rules, gen.AS_OF)
        counts: dict[int, int] = {}
        for h in self.hits.values():
            for t in h:
                counts[t] = counts.get(t, 0) + 1
        self.strata = gen.tag_strata(self.inputs.tag_ids, counts,
                                     self.sizes.tag_ids_per_job)

    def warm(self) -> None:
        self._reset_store()
        for j in range(TAG_WARM_JOBS):
            self.run_job(-1 - j, None)

    def begin(self) -> None:
        """Fresh store for the timed jobs; scenario 1 overwrites the warm
        jobs' store instead."""
        if self.wl.scenario != 1:
            self._reset_store()
            self.expected = oracle.stored_state(self.store)

    def before(self, job: int) -> None:
        """Oracle side of a job: expected store after it, users it
        evaluates, users whose profile it rewrites, hit ratio."""
        _, keys = self.argv(job)
        inp, cd = self.inputs, gen.COMPUTED_DATE
        n_users = len(inp.user_ids)
        if self.wl.scenario == 1:
            expected = oracle.expect_full(self.hits, cd)
            selected, rules = n_users, inp.tag_ids
            changed = len(expected)
        elif self.wl.scenario == 3:
            tags = gen.job_tag_ids(self.seed, job, self.strata)
            expected = oracle.expect_tags(self.expected, self.hits, tags, cd)
            selected, rules = n_users, tags
            changed = sum(1 for h in self.hits.values() if h & frozenset(tags))
        else:
            expected = oracle.expect_users(self.expected, self.hits, keys, cd)
            selected, rules = len(keys), inp.tag_ids
            changed = sum(1 for u in keys if self.hits.get(u))
        users = list(self.hits) if self.wl.scenario != 5 else keys
        rule_set = frozenset(rules)
        hit_count = sum(len(self.hits.get(u, frozenset()) & rule_set) for u in users)
        self.job = {"expected": expected, "selected": selected, "changed": changed,
                    "hit_ratio": hit_count / max(1, len(users) * len(rules)),
                    "fact_users": n_users}

    def run_job(self, job: int, tracer: Tracer | None) -> None:
        from bigdata_tag_system_spark import cli

        argv, _ = self.argv(job)
        with contextlib.ExitStack() as stack:
            if tracer is not None:
                stack.enter_context(tracer)
                _plan_after_scenarios(tracer)
                stack.enter_context(tracer.span("job"))
            stack.enter_context(contextlib.redirect_stdout(sys.stderr))
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")

    def check(self, job: int) -> bool:
        """Compare the committed store with the expected one; the
        expectation advances either way, so one bad job fails once."""
        ok = oracle.committed_hash(self.store) == oracle.store_hash(self.job["expected"])
        self.expected = self.job["expected"]
        if job == MIN_JOBS - 1:
            # at a fixed job count, so a slow run's store is not smaller
            self.store_bytes = oracle.dir_bytes(self.store)[0] / max(1, len(self.expected))
        return ok

    def end_to_end(self) -> dict:
        return {"store_bytes_per_user": (self.store_bytes, "B/user")}

    def layer_row(self, tracer: Tracer, sc) -> dict:
        tot = tracer.totals(tracer.group)

        def sec(n):
            return tot.get(n, {}).get("seconds", 0.0)

        def calls(n):
            return tot.get(n, {}).get("py4j_calls", 0)

        facts = self.job
        written, files = oracle.dir_bytes(self.store)
        row = {
            "rules.load_s": sec("rules.read_catalog") or sec("rules.load"),
            "rules.compile_s": sec("rules.compile"),
            "rules.compile_py4j_calls": calls("rules.compile"),
            "tagging.build_s": sec("tagging.profiles"),
            "tagging.build_py4j_calls": calls("tagging.profiles"),
            "tagging.hit_ratio": facts["hit_ratio"],
            "catalog.build_s": sec("catalog.facts_for_rules"),
            "catalog.py4j_calls": calls("catalog.facts_for_rules"),
            "scenarios.build_s": sec("scenarios.run"),
            "scenarios.selected_ratio": facts["selected"] / facts["fact_users"],
            "merge.build_s": sec("merge.merge_profiles"),
            "writers.dup_probe_s": sec("writers.resolve_duplicate_keys"),
            "writers.write_s": sec("writers.staged_swap_write"),
            "writers.bytes_written": written,
            "writers.files_written": files,
            "writers.bytes_per_changed_user": written / max(1, facts["changed"]),
            "spark.plan_s": sec("spark.plan"),
            "py4j.calls": calls("job"),
        }
        for k, v in spark_counters(sc, tracer.group).items():
            row[f"spark.{k}"] = v
        return row


def _plan_after_scenarios(tracer: Tracer) -> None:
    """Force the executed plan of the frame ScenarioRunner.run returns
    (traced jobs only), as its own span."""
    from bigdata_tag_system_spark.plans.scenarios import ScenarioRunner

    inner = ScenarioRunner.run

    def run_then_plan(self, *a, **kw):
        out = inner(self, *a, **kw)
        with tracer.span("spark.plan"):
            out._jdf.queryExecution().executedPlan()
        return out

    tracer._set(ScenarioRunner, "run", run_then_plan)


# -- catalog workload -------------------------------------------------------

@dataclass
class CatalogRun:
    name: str
    wl: CatalogWorkload
    sf: str
    seed: int
    work: str
    sf_dir: str = ""
    expected: dict = field(default_factory=dict)
    last_rows: dict = field(default_factory=dict)
    groups: list = field(default_factory=list)  # (entry, job group) of a traced pass

    def prepare(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)
        for t in self.wl.tables:
            shutil.copy(os.path.join(HERE, "data", self.sf, f"{t}.parquet"), root)
        self.sf_dir = root

    def start_oracle(self) -> None:
        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        self.expected = oracle.catalog_expected(
            self.sf_dir, {n: sqls[n] for n in self.wl.entries}, self.wl.tables)

    def warm(self) -> None:
        self.run_job(-1, None)  # also builds the process-wide memos

    def begin(self) -> None:
        pass

    def before(self, job: int) -> None:
        pass

    def run_job(self, job: int, tracer: Tracer | None) -> None:
        import __spark_entry__ as entry
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        qs = entry.queries()
        names = list(self.wl.entries)
        random.Random(f"catalog-{self.seed}-{job}").shuffle(names)
        self.last_rows, self.groups = {}, []
        with contextlib.ExitStack() as stack:
            if tracer is not None:
                stack.enter_context(tracer)
                stack.enter_context(tracer.span("job"))
            for name in names:
                if tracer is None:
                    df = qs[name](spark, self.sf_dir)
                    rows = df.collect()
                else:
                    group = f"{self.name}-{job}-{name}"
                    spark.sparkContext.setJobGroup(group, f"{name} pass {job}")
                    tracer.group = group
                    self.groups.append((name, group))
                    with tracer.span(f"{name}.build"):
                        df = qs[name](spark, self.sf_dir)
                    with tracer.span(f"{name}.action"):
                        rows = df.collect()
                self.last_rows[name] = ([tuple(r) for r in rows], df.columns)

    def check(self, job: int) -> bool:
        return all(oracle.catalog_matches(self.expected[n], *self.last_rows.get(n, ([], [])))
                   for n in self.wl.entries)

    def end_to_end(self) -> dict:
        # the "users" of this workload are the source rows a pass reads
        import pyarrow.parquet as pq

        rows = sum(pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet"))
                   .metadata.num_rows for t in self.wl.tables)
        memo_bytes, _ = oracle.dir_bytes(os.path.join(self.work, "tmp"))
        return {"store_bytes_per_user": (memo_bytes / rows, "B/user")}

    def layer_row(self, tracer: Tracer, sc) -> dict:
        row = dict.fromkeys([f"spark.{k}" for k in SPARK_KEYS], 0)
        row["py4j.calls"] = sum(s.py4j_calls for s in tracer.spans if s.name == "job")
        for name, group in self.groups:
            tot = tracer.totals(group)
            counters = spark_counters(sc, group)
            for k, v in counters.items():
                row[f"spark.{k}"] += v
            row[f"{name}.build_s"] = tot[f"{name}.build"]["seconds"]
            row[f"{name}.action_s"] = tot[f"{name}.action"]["seconds"]
            row[f"{name}.py4j_calls"] = (tot[f"{name}.build"]["py4j_calls"]
                                         + tot[f"{name}.action"]["py4j_calls"])
            row[f"{name}.jobs"] = counters["jobs"]
            row[f"{name}.shuffle_bytes"] = counters["shuffle_write_bytes"]
        return row


# -- one run ----------------------------------------------------------------

def _window(seconds, traced, tiny):
    """Job indexes until the timed seconds reach the window; a traced run
    alternates traced (even) and untraced (odd) jobs."""
    need = MIN_JOBS + 1 if traced else MIN_JOBS
    spent, job = 0.0, 0
    while job < need or (spent < seconds and not tiny):
        dt = yield job, traced and job % 2 == 0
        spent += dt
        job += 1


def run(name: str, seed: int, seconds: float, traced: bool, work: str,
        spans_dir: str, tiny: bool = False) -> tuple[dict, dict]:
    """Run one workload; returns (result line, detail line)."""
    wl = WORKLOADS[name]
    detail = {"workload": name, "seed": seed, "nproc": len(os.sched_getaffinity(0)),
              "loadavg_start": os.getloadavg()}
    steal0 = cpu_steal_s()
    probe0 = host_probe_s()
    c0, t0 = cpu_s(), time.perf_counter()
    spark, writing = start_session(work, name)
    session_s = time.perf_counter() - t0
    session_cpu = cpu_s() - c0
    detail["class_archive"] = "writing" if writing else "used"
    sc = spark.sparkContext
    try:
        size = TINY[name] if tiny else (wl.sizes if isinstance(wl, TagWorkload) else wl.sf)
        r = (TagRun if isinstance(wl, TagWorkload) else CatalogRun)(name, wl, size, seed, work)
        prep, prep_cpu = [], []
        for i in range(PREP_ROUNDS):
            c, t = cpu_s(), time.perf_counter()
            r.prepare(os.path.join(work, f"inputs{i}"))
            prep.append(time.perf_counter() - t)
            prep_cpu.append(cpu_s() - c)
        t = time.perf_counter()
        r.start_oracle()  # not set-up: the benchmark's own expectations
        detail["oracle_s"] = time.perf_counter() - t
        c, t = cpu_s(), time.perf_counter()
        sc.setJobGroup(f"{name}-warm", "warm")
        r.warm()
        warm_s = time.perf_counter() - t
        # set-up cost in the same CPU seconds as a job's
        setup_cpu = session_cpu + statistics.median(prep_cpu) + cpu_s() - c
        detail["setup"] = {"session_s": session_s, "prepare_s": prep, "warm_s": warm_s,
                           "cpu_s": setup_cpu, "jit_cpu_s": jit_cpu_s()}
        r.begin()
        result = _measure(r, sc, seconds, traced, tiny, spans_dir, detail)
        if not traced:
            result["metrics"]["setup_s"] = {"value": setup_cpu, "unit": "s"}
            result["metrics"]["peak_rss_mb"] = {"value": peak_rss_mb(), "unit": "MiB"}
    finally:
        t = time.perf_counter()
        stop_session(spark, writing)
        detail["stop_s"] = time.perf_counter() - t
    detail["loadavg_end"] = os.getloadavg()
    detail["cpu_steal_s"] = cpu_steal_s() - steal0
    detail["host_probe_s"] = [probe0, host_probe_s()]
    detail["run_s"] = time.perf_counter() - t0
    return result, detail


def _measure(r, sc, seconds, traced, tiny, spans_dir, detail) -> dict:
    """The timed window: each job timed alone, then checked (and, when
    traced, its counters read) outside the timed region."""
    times, cpus, jits, traced_times, plain_times, layer_rows = [], [], [], [], [], []
    failed, untimed = 0, 0.0
    loop = _window(seconds, traced, tiny)
    step = next(loop)
    while True:
        it0 = time.perf_counter()
        job, with_trace = step
        r.before(job)
        group = f"{r.name}-{job}"
        sc.setJobGroup(group, f"{r.name} job {job}")
        tracer = Tracer(group) if with_trace else None
        ok = True
        # every job starts on a collected heap, so whether a collection
        # falls inside it depends on its own allocation only
        sc._jvm.System.gc()
        j, c, t = jit_cpu_s(), cpu_s(), time.perf_counter()
        try:
            r.run_job(job, tracer)
        except Exception:  # noqa: BLE001 — a failed job is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t
        cpus.append(cpu_s() - c)
        jits.append(jit_cpu_s() - j)
        ok = r.check(job) and ok
        failed += not ok
        times.append(dt)
        (traced_times if with_trace else plain_times).append(dt)
        if tracer is not None:
            layer_rows.append(r.layer_row(tracer, sc))
            tracer.dump(os.path.join(spans_dir, f"{r.name}-{r.seed}-{job}.json"))
        untimed += time.perf_counter() - it0 - dt
        try:
            step = loop.send(dt)
        except StopIteration:
            break
    detail.update({"job_p50_s": statistics.median(times), "jobs": times, "job_cpu_s": cpus, "job_jit_cpu_s": jits,
                   "failed_ops_ratio": failed / len(times), "untimed_s": untimed})
    if traced:
        metrics = {k: (statistics.median(row[k] for row in layer_rows), unit(k))
                   for k in layer_rows[0]}
        metrics["trace.overhead_s"] = (
            statistics.median(traced_times) - statistics.median(plain_times), "s")
        for k in per_layer_names():
            metrics.setdefault(k, (0.0, unit(k)))  # a layer this workload does not reach
    else:
        metrics = {"job_cpu_s": (statistics.median(cpus), "s"), **r.end_to_end()}
    return {"correct": failed == 0, "attempted": len(times), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
