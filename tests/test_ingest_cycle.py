"""Default-run pins for one ingest cycle's maintained state.

- ``NearDupIndexMaintainer``: N ticks == the one-shot pipeline over the
  union, bit-for-bit, uncapped and with a frozen hot-shingle cap (fast
  twins of the slow parity tests in test_round12/test_round13);
- job counts read from Spark's AppStatusStore: building a warm state
  read launches no job, a small SCD2 merge stays within its job budget
  and scans the existing snapshot once, and a reopened owner (which
  infers each schema once) serves the same rows.
"""

from __future__ import annotations

import random
from datetime import datetime

import pytest
from pyspark.sql import functions as F

T1 = datetime(2024, 1, 1)
T2 = datetime(2024, 1, 2)
T3 = datetime(2024, 1, 3)


def _last_job(spark) -> int:
    """Newest job id in the AppStatusStore (-1 when none yet), after the
    listener bus caught up."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def _jobs_since(spark, mark: int) -> int:
    """Jobs that started after ``mark`` (the store lists newest first)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    n = 0
    it = sc.statusStore().jobsList(None).iterator()
    while it.hasNext() and it.next().jobId() > mark:
        n += 1
    return n


def _scans(plan, path: str) -> int:
    """File scans over ``path`` in a physical plan, descending into AQE
    plans, query stages and cached relations."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _scans(plan.executedPlan(), path)
    if name == "InMemoryTableScanExec":
        return _scans(plan.relation().cachedPlan(), path)
    if name.endswith("QueryStageExec"):
        return _scans(plan.plan(), path)
    n = 0
    if name == "FileSourceScanExec":  # its string form truncates the path
        n = int(path in plan.relation().location().rootPaths().toString())
    it = plan.children().iterator()
    while it.hasNext():
        n += _scans(it.next(), path)
    return n


# --- near-dup index: N ticks == one-shot ------------------------------------

_BOILER = (
    "this website uses cookies to improve your experience please accept "
    "our terms of service"
)


def _corpus(boiler: bool) -> list[tuple[int, str]]:
    """59 documents: 12 near-dup triples, 22 unrelated texts and one
    document shorter than the shingle size; seeded shuffle, so groups
    span ticks. ``boiler`` prefixes every long document with one shared
    sentence (hot shingles for the capped run)."""
    rng = random.Random(7)
    words = [f"w{i}" for i in range(400)]
    bodies = []
    for _ in range(12):
        base = [rng.choice(words) for _ in range(24)]
        for _ in range(3):
            var = list(base)
            for _ in range(2):
                var[rng.randrange(len(var))] = rng.choice(words)
            bodies.append(" ".join(var))
    bodies += [" ".join(rng.choice(words) for _ in range(24)) for _ in range(22)]
    rows = [
        (i + 1, f"{_BOILER} {b}" if boiler else b) for i, b in enumerate(bodies)
    ]
    rows.append((len(rows) + 1, "tiny doc"))
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("cap", [None, 4], ids=["uncapped", "frozen_cap"])
def test_neardup_ticks_equal_one_shot_fast(spark, tmp_path, cap):
    from _data_engineering_pipeline_project_spark.operators.dedup import (
        connected_components,
        minhash_near_dup_pairs,
    )
    from _data_engineering_pipeline_project_spark.streaming.neardupmaint import (
        NearDupIndexMaintainer,
    )

    schema = "doc_id bigint, text string"
    rows = _corpus(boiler=cap is not None)
    union = spark.createDataFrame(rows, schema)
    base = str(tmp_path / "ndm")
    mnt = NearDupIndexMaintainer(spark, base, max_shingle_df=cap)
    if cap is not None:
        assert mnt.bootstrap_hot_shingles(union) > 0
    # the last tick replays an id of the first with new text: dropped
    replayed = (rows[0][0], "replayed id with entirely new text body here")
    for i, part in enumerate((rows[:20], rows[20:40], rows[40:] + [replayed])):
        mnt.merge_batch(spark.createDataFrame(part, schema), batch_id=i)

    want = {
        tuple(r)
        for r in minhash_near_dup_pairs(
            union, threshold=0.3, max_shingle_df=cap
        ).collect()
    }
    assert len(want) >= 12  # the near-dup triples actually paired
    mark = _last_job(spark)
    pairs, clusters = mnt.pairs(), mnt.clusters()
    assert _jobs_since(spark, mark) == 0  # warm state reads: no job
    assert {tuple(r) for r in pairs.collect()} == want
    if cap is None:
        want_cc = {
            tuple(r)
            for r in connected_components(
                spark.createDataFrame(sorted(want), pairs.schema)
            ).collect()
        }
        assert {tuple(r) for r in clusters.collect()} == want_cc

    # a reopened maintainer infers each schema once, then reads warm
    m2 = NearDupIndexMaintainer(spark, base, max_shingle_df=cap)
    assert {tuple(r) for r in m2.pairs().collect()} == want
    mark = _last_job(spark)
    m2.pairs()
    assert _jobs_since(spark, mark) == 0


# --- SCD2: one join, pinned state reads --------------------------------------

SCHEMA = "id int, name string, price double"


def test_scd2_merge_joins_once_and_state_reads_launch_no_job(spark, tmp_path):
    from _data_engineering_pipeline_project_spark.operators.scd2 import (
        Scd2Table,
        scd2_merge,
    )

    base = str(tmp_path / "t")
    tbl = Scd2Table(spark, base, ["id"])
    rows = [(i, f"n{i}", float(i)) for i in range(1, 41)]
    tbl.merge(spark.createDataFrame(rows, SCHEMA), T1)
    # batch 2: key 5 updated, key 7 deleted, key 41 inserted
    rows2 = [
        (i, n, p + 0.5 if i == 5 else p) for i, n, p in rows if i != 7
    ] + [(41, "n41", 41.0)]
    mark = _last_job(spark)
    stats = tbl.merge(spark.createDataFrame(rows2, SCHEMA), T2)
    assert _jobs_since(spark, mark) <= 9
    assert {r["change_type"]: r["n"] for r in stats.collect()} == {
        "unchanged": 38,
        "update": 1,
        "delete": 1,
        "insert": 1,
    }

    mark = _last_job(spark)
    cur, hist = tbl.current(), tbl.history()
    assert _jobs_since(spark, mark) == 0
    want_cur = sorted(tuple(r) for r in cur.collect())
    want_hist = sorted(tuple(r) for r in hist.collect())
    assert want_hist == [(5, "n5", 5.0, False, T1, T2), (7, "n7", 7.0, True, T1, T2)]
    assert (7, "n7", 7.0, T2, True) in want_cur

    # the merge's snapshot and history plans read the existing snapshot
    # through one cached join: one scan each, no re-joins
    rows3 = [(i, n, p + 0.5 if i == 6 else p) for i, n, p in rows2]
    res = scd2_merge(spark.createDataFrame(rows3, SCHEMA), tbl.current(), ["id"], T3)
    res.snapshot.write.parquet(str(tmp_path / "out_snapshot"))
    res.history.write.parquet(str(tmp_path / "out_history"))
    snap_dir = f"snapshot_v{tbl.version}"
    for df in (res.snapshot, res.history):
        assert _scans(df._jdf.queryExecution().executedPlan(), snap_dir) == 1
    # key 7 stays a tombstone: kept in the snapshot, left out of the stats
    got = {r["change_type"]: r["n"] for r in res.stats.collect()}
    assert got == {"unchanged": 39, "update": 1}
    assert res.snapshot.count() == 41
    res.release()

    # a reopened table infers its schemas once and serves the same rows
    t2 = Scd2Table(spark, base, ["id"])
    assert sorted(tuple(r) for r in t2.current().collect()) == want_cur
    assert sorted(tuple(r) for r in t2.history().collect()) == want_hist
    mark = _last_job(spark)
    t2.current()
    t2.history()
    assert _jobs_since(spark, mark) == 0
    live = t2.current().filter(~F.col("is_deleted")).count()
    assert live == 40
