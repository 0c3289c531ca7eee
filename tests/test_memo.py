"""The session memo (``memo.py``): key, LRU bound, release, sweep of
stopped sessions, nesting, racing builds and counters — plus the rule
that no other module keeps its own memo."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import threading
from urllib.parse import urlparse

import pytest

from _data_engineering_pipeline_project_spark import memo

PKG = pathlib.Path(memo.__file__).parent


class _Context:
    def __init__(self) -> None:
        self._jsc = object()


class StubSession:
    """Hashable stand-in for a SparkSession: only ``sparkContext._jsc``
    (None once stopped) is read by the memo."""

    def __init__(self) -> None:
        self.sparkContext = _Context()

    def stop(self) -> None:
        self.sparkContext._jsc = None


@pytest.fixture(autouse=True)
def _empty_memo():
    memo.clear()
    yield
    memo.clear()


def _delta(before: dict) -> dict:
    return {k: v - before[k] for k, v in memo.stats().items()}


def test_clear_removes_every_owned_tempdir_including_keyless_pq(spark):
    from _data_engineering_pipeline_project_spark.operators.similarity import (
        pq_index_shared,
    )

    rows = [(i, [float((i * 7 + d) % 5) for d in range(4)]) for i in range(12)]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(rows, schema)
    keyless = spark.createDataFrame(rows, schema)

    def no_files():
        raise RuntimeError("no file listing")

    keyless.inputFiles = no_files  # its key cannot be computed
    before = memo.stats()
    built = [
        pq_index_shared(df, 2, 2, 4, "vec_id", "embedding")
        for df in (corpus, keyless, corpus)
    ]
    assert built[2] == built[0]  # the keyed build hits
    dirs = {
        urlparse(codes.inputFiles()[0]).path.rsplit("/codes/", 1)[0]
        for _cb, codes in built
    }
    assert len(dirs) == 2
    assert {k: _delta(before)[k] for k in ("hits", "key_errors")} == {
        "hits": 1,
        "key_errors": 1,
    }
    assert all(os.path.isdir(d) for d in dirs)
    memo.clear()
    assert not any(os.path.exists(d) for d in dirs)


def test_lru_bound_evicts_the_oldest_and_releases_it():
    s = StubSession()
    released = []
    before = memo.stats()
    for i in range(memo.MAX_ENTRIES):
        memo.get(s, ("k", i), lambda i=i: i, released.append)
    memo.get(s, ("k", 0), lambda: "rebuilt")  # a hit makes key 0 newest
    memo.get(s, ("k", "new"), lambda: "new", released.append)
    assert released == [1]  # the least recently used, not key 0
    assert memo.get(s, ("k", 0), lambda: "rebuilt") == 0
    assert memo.get(s, ("k", 1), lambda: "rebuilt") == "rebuilt"
    assert _delta(before)["evictions"] == 2


def test_stopped_session_is_swept_on_the_next_miss():
    gone, live = StubSession(), StubSession()
    released = []
    memo.get(gone, "a", lambda: "a", released.append)
    memo.get(live, "b", lambda: "b", released.append)
    gone.stop()
    assert memo.get(live, "b", lambda: "x") == "b"  # a hit sweeps nothing
    assert released == []
    memo.get(live, "c", lambda: "c")
    assert released == ["a"]
    assert memo.get(live, "b", lambda: "x") == "b"


def test_new_session_gets_its_own_table(spark, tmp_path):
    from _data_engineering_pipeline_project_spark.catalog import table

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    sibling = spark.newSession()
    a = table(spark, str(tmp_path), "t")
    b = table(sibling, str(tmp_path), "t")
    assert a is table(spark, str(tmp_path), "t")
    assert b is not a and b.sparkSession is sibling


def test_get_nested_inside_a_build():
    s = StubSession()
    calls = []

    def outer():
        calls.append("outer")
        return memo.get(s, "inner", lambda: calls.append("inner") or 1) + 1

    assert memo.get(s, "outer", outer) == 2
    assert memo.get(s, "outer", outer) == 2
    assert memo.get(s, "inner", lambda: 0) == 1
    assert calls == ["outer", "inner"]


def test_racing_builds_agree_and_leak_nothing():
    s = StubSession()
    n = 8
    barrier = threading.Barrier(n, timeout=30)
    made, got = [], [None] * n

    def build():
        d = tempfile.mkdtemp(prefix="memo_race_")
        made.append(d)
        barrier.wait()  # every thread misses before any build finishes
        return d

    def worker(i):
        got[i] = memo.get(
            s, "race", build, lambda d: shutil.rmtree(d, ignore_errors=True)
        )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(made) == n and len(set(got)) == 1
    assert [d for d in made if os.path.exists(d)] == [got[0]]
    memo.clear()
    assert not any(os.path.exists(d) for d in made)


def test_stats_count_hits_misses_key_errors_and_evictions():
    s = StubSession()
    before = memo.stats()
    memo.get(s, "a", lambda: 1)
    memo.get(s, "a", lambda: 2)
    memo.get(s, ["unhashable"], lambda: 3)

    def bad_key():
        raise OSError("cannot stat")

    released = []
    assert memo.get(s, bad_key, lambda: 4, released.append) == 4
    s.stop()
    memo.get(StubSession(), "b", lambda: 5)
    assert released == [4]  # a key-less build's release still runs
    assert _delta(before) == {
        "hits": 1,
        "misses": 2,
        "key_errors": 2,
        "evictions": 2,
    }


_CHILD = """
import sys
from pyspark.sql import SparkSession
from _data_engineering_pipeline_project_spark.operators.similarity import (
    pq_index_shared,
)

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .getOrCreate()
)
rows = [(i, [float((i * 7 + d) % 5) for d in range(4)]) for i in range(12)]
corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
_cb, codes = pq_index_shared(corpus, 2, 2, 4, "vec_id", "embedding")
print(codes.inputFiles()[0])
sys.exit(0)  # no memo.clear(), no spark.stop()
"""


def test_memo_storage_is_gone_after_the_process_exits(tmp_path):
    """A process that exits without ``memo.clear()`` leaves no
    memo-owned dir in the temp dir."""
    repo = PKG.parent
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=os.pathsep.join(
            p for p in (str(repo), os.environ.get("PYTHONPATH")) if p
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    built = urlparse(out.stdout.strip().splitlines()[-1]).path
    assert built.startswith(str(tmp_path))  # the build used TMPDIR
    assert not os.path.exists(built)
    left = [
        str(p.relative_to(tmp_path))
        for pat in ("*_index_*", "*_maint_*")
        for p in tmp_path.rglob(pat)
    ]
    assert not left, left


def test_no_module_keeps_its_own_memo():
    """Session-memo storage lives only in memo.py: no other module may
    bind a module-level name ending in ``_MEMO`` or ``_CACHE``, nor make
    a temp dir with ``tempfile.mkdtemp`` (``memo.scratch_dir`` makes
    them under the root that is removed at exit)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "memo.py" and path.parent == PKG:
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute) and node.attr == "mkdtemp"
            ) or (
                isinstance(node, ast.ImportFrom)
                and any(a.name == "mkdtemp" for a in node.names)
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}:mkdtemp")
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                for name in ast.walk(t):
                    if isinstance(name, ast.Name) and name.id.endswith(
                        ("_MEMO", "_CACHE")
                    ):
                        offenders.append(f"{path.relative_to(PKG)}:{name.id}")
    assert not offenders, offenders
