"""The catalog's one memo mechanism (`_memo` / `_memo_dir` /
`_materialize_once` in __spark_entry__.py): build-once semantics, no
residue from failed builds, cleanup of the process temp root at exit,
the immutable-sf_dir guard, and a source guard against hand-rolled
memo dicts and stray temp directories growing back."""
from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

import __spark_entry__ as e

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(REPO, "__spark_entry__.py")


def _forget(sf_dir: str) -> None:
    for k in [k for k in e._MEMO
              if (k[1][0] if isinstance(k[1], tuple) else k[1]) == sf_dir]:
        del e._MEMO[k]


class TestMemoHelper:
    def test_build_runs_once_per_key(self, tmp_path):
        sf = str(tmp_path)
        calls = []

        def build(tag):
            calls.append(tag)
            return [tag]

        try:
            a1 = e._memo("t_once", (sf, 1), lambda: build(1))
            a2 = e._memo("t_once", (sf, 1), lambda: build(99))
            b = e._memo("t_once", (sf, 2), lambda: build(2))
            c = e._memo("t_other", (sf, 1), lambda: build(3))
        finally:
            _forget(sf)
        assert a1 is a2 and a1 == [1]
        assert b == [2] and c == [3]
        assert calls == [1, 2, 3]

    def test_raising_build_records_nothing(self, tmp_path):
        sf = str(tmp_path)
        calls = []

        def boom():
            calls.append("boom")
            raise RuntimeError("build failed")

        try:
            with pytest.raises(RuntimeError, match="build failed"):
                e._memo("t_raise", sf, boom)
            assert ("t_raise", sf) not in e._MEMO
            assert e._memo("t_raise", sf, lambda: 7) == 7
        finally:
            _forget(sf)
        assert calls == ["boom"]

    def test_raising_fill_leaves_no_directory(self, tmp_path):
        sf = str(tmp_path)
        seen = []

        def fill(d):
            seen.append(d)
            with open(os.path.join(d, "partial"), "w") as f:
                f.write("half-written")
            raise RuntimeError("fill failed")

        try:
            with pytest.raises(RuntimeError, match="fill failed"):
                e._memo_dir("t_fill", sf, fill)
            assert len(seen) == 1 and not os.path.exists(seen[0])
            assert ("t_fill", sf) not in e._MEMO
            d = e._memo_dir("t_fill", sf, lambda d: None)
            assert os.path.isdir(d) and d != seen[0]
            assert os.path.dirname(d) == e._SCRATCH_ROOT
            assert e._memo_dir("t_fill", sf, fill) == d
        finally:
            _forget(sf)
        assert len(seen) == 1

    def test_empty_tmpdir_stays_empty_after_exit(self, tmp_path):
        # importing creates nothing; memo and per-call dirs land under
        # one root; a forked child's exit leaves the root alone; the
        # creating process removes it at exit
        tmpdir = tmp_path / "tmp"
        tmpdir.mkdir()
        code = textwrap.dedent(f"""
            import os, sys
            sys.path.insert(0, {REPO!r})
            import __spark_entry__ as e
            tmp = os.environ["TMPDIR"]
            assert e._SCRATCH_ROOT is None and os.listdir(tmp) == []
            d = e._memo_dir("k", None, lambda d: open(
                os.path.join(d, "f"), "w").close())
            e._scratch_dir("per_call_")
            assert os.listdir(tmp) == [os.path.basename(e._SCRATCH_ROOT)]
            pid = os.fork()
            if pid == 0:
                sys.exit(0)
            os.waitpid(pid, 0)
            assert os.path.isfile(os.path.join(d, "f")), "child removed root"
            print("ok")
        """)
        env = dict(os.environ, TMPDIR=str(tmpdir))
        out = subprocess.run([sys.executable, "-c", code], env=env,
                             capture_output=True, text=True, timeout=120)
        assert out.returncode == 0, out.stderr
        assert out.stdout.strip() == "ok"
        assert os.listdir(tmpdir) == []


class TestImmutableSfDir:
    @pytest.fixture
    def sf_copy(self, tmp_path, sf_dir):
        dst = tmp_path / "sf"
        dst.mkdir()
        for t in ("region", "nation"):
            shutil.copy(f"{sf_dir}/{t}.parquet", dst / f"{t}.parquet")
        yield str(dst)
        _forget(str(dst))

    def test_rewritten_table_trips_the_guard(self, spark, sf_copy):
        assert e._t(spark, sf_copy, "region").count() == 5
        n = e._memo("t_region_n", sf_copy,
                    lambda: e._t(spark, sf_copy, "region").count())
        assert n == 5
        # unchanged tables: hits are served
        assert e._t(spark, sf_copy, "region").count() == 5
        # rewrite one table in place
        e._t(spark, sf_copy, "region").limit(2).toPandas().to_parquet(
            f"{sf_copy}/region.parquet", index=False)
        with pytest.raises(e.StaleMemoError) as ex:
            e._t(spark, sf_copy, "region")
        assert "table_plan" in str(ex.value) and sf_copy in str(ex.value)
        with pytest.raises(e.StaleMemoError, match="t_region_n"):
            e._memo("t_region_n", sf_copy, lambda: 0)

    def test_t_returns_fresh_ids_over_one_file_index(self, spark, sf_dir):
        def ids(df):
            out = df._jdf.queryExecution().analyzed().output()
            return {out.apply(i).exprId().id() for i in range(out.size())}

        a = e._t(spark, sf_dir, "nation")
        b = e._t(spark, sf_dir, "nation")
        assert a.inputFiles() == b.inputFiles()
        assert ids(a).isdisjoint(ids(b))
        # a self-join of the two resolves without ambiguity
        assert a.join(b, a.n_nationkey == b.n_regionkey).count() > 0


def test_no_hand_rolled_memos_or_temp_dirs():
    """Every memo goes through `_memo`, every temp dir through
    `_scratch_dir` (the process temp root, removed at exit)."""
    tree = ast.parse(open(ENTRY).read())
    caches = []
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        caches += [t.id for t in targets if isinstance(t, ast.Name)
                   and t.id.startswith("_") and t.id.endswith("_CACHE")]
    assert caches == [], f"module-level memo dicts: {caches}"

    stray = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "mkdtemp"
                    and fn != "_scratch_dir"):
                stray.append((fn, child.lineno))
            if (isinstance(child, ast.ImportFrom)
                    and child.module == "tempfile"
                    and any(a.name == "mkdtemp" for a in child.names)):
                stray.append((fn, child.lineno))
            visit(child, fn)

    visit(tree, "<module>")
    assert stray == [], f"tempfile.mkdtemp outside _scratch_dir: {stray}"
