"""The versioned-state protocol (streaming/versioned.py), checked once
for every maintainer: hostile pointers fail loudly, a lost pointer is
adopted only where re-merging a redelivered batch is a no-op, and
pointers written by earlier releases reopen unchanged.

The hostile-pointer matrix is built from files only (a hand-written
``_CURRENT`` plus ``os.makedirs`` and a ``_SUCCESS`` touch), so it runs
no Spark job."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from _data_engineering_pipeline_project_spark.operators.scd2 import Scd2Table
from _data_engineering_pipeline_project_spark.streaming.aggmaint import AggMaintainer
from _data_engineering_pipeline_project_spark.streaming.bloommaint import (
    BloomMaintainer,
    RotatingBloomMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.bluegreen import BlueGreenIndex
from _data_engineering_pipeline_project_spark.streaming.bm25maint import Bm25Maintainer
from _data_engineering_pipeline_project_spark.streaming.cdcmaint import (
    CdcSnapshotMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.clustermaint import (
    ClusterMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.cmmaint import (
    CountMinMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.compactmaint import (
    CompactionMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.covmaint import (
    CovarianceMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.dedupmaint import (
    DedupMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.driftmaint import (
    DriftMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.ivfopqmaint import (
    IvfOpqIndexMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.neardupmaint import (
    NearDupIndexMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.opqmaint import (
    OpqIndexMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.samplemaint import (
    SampleMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.semdedupmaint import (
    SemDeDupMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.sketchmaint import (
    HistogramMaintainer,
    KmvMaintainer,
)

# name -> (open(spark, base_dir), a committed dir the state writes)
MAINTAINERS = {
    "agg": (lambda s, b: AggMaintainer(s, b, ["k"], "v"), "rollup_v1"),
    "bloom": (lambda s, b: BloomMaintainer(s, b, m_bits=64, k=2), "words_v1"),
    "bm25": (lambda s, b: Bm25Maintainer(s, b), "meta_v1/stats"),
    "cdc": (lambda s, b: CdcSnapshotMaintainer(s, b, ["k"], ["seq"]), "state_v1"),
    "cluster": (lambda s, b: ClusterMaintainer(s, b), "members_b0"),
    "count_min": (lambda s, b: CountMinMaintainer(s, b, 64, 3), "cells_v1"),
    "covariance": (lambda s, b: CovarianceMaintainer(s, b, dim=4), "sums_v1"),
    "dedup": (lambda s, b: DedupMaintainer(s, b), "seen_v1"),
    "drift": (lambda s, b: DriftMaintainer(s, b), "moments_v1"),
    "histogram": (
        lambda s, b: HistogramMaintainer(s, b, "g", "v", 0.0, 1.0, bins=4),
        "hist_v1",
    ),
    "ivfopq": (lambda s, b: IvfOpqIndexMaintainer(s, b), "ivf/centroids"),
    "kmv": (lambda s, b: KmvMaintainer(s, b, "g", "v"), "kmv_v1"),
    "near_dup": (lambda s, b: NearDupIndexMaintainer(s, b), "docs_b0"),
    "opq": (lambda s, b: OpqIndexMaintainer(s, b), "artifact/pq"),
    "sample": (lambda s, b: SampleMaintainer(s, b, "k", k=4), "sample_v1"),
    "semdedup": (
        lambda s, b: SemDeDupMaintainer(s, b, num_centroids=2, threshold=0.9, dim=8),
        "vectors_b0",
    ),
}
# classes whose merge is shown idempotent under redelivery after adoption
ADOPTERS = {"dedup"}
CASES = ("corrupt_json", "missing_field", "lost_pointer", "checkpoint", "geometry")


def _pointer(spark, tmp_path, name) -> tuple[str, dict, dict]:
    """(base_dir, a valid pointer for the class, its geometry)."""
    probe = MAINTAINERS[name][0](spark, str(tmp_path / "probe"))
    with open(os.path.join(str(tmp_path / "probe"), "_CURRENT")) as f:
        fresh = json.load(f)
    base = str(tmp_path / "state")
    os.makedirs(base)
    return base, {**fresh, "checkpoint_token": "ckpt-A"}, probe._geometry()


def _write(base: str, content) -> None:
    with open(os.path.join(base, "_CURRENT"), "w") as f:
        f.write(content if isinstance(content, str) else json.dumps(content))


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("name", sorted(MAINTAINERS))
def test_hostile_pointer(spark, tmp_path, name, case):
    open_, orphan = MAINTAINERS[name]
    base, good, geometry = _pointer(spark, tmp_path, name)
    if case == "corrupt_json":
        _write(base, '{"version": 3, "last_ba')
        with pytest.raises(ValueError, match="corrupt _CURRENT pointer.*invalid JSON"):
            open_(spark, base)
    elif case == "missing_field":
        field = next((k for k in ("version", "batches") if k in good), None)
        if field is None:
            pytest.skip("the pointer format has no version/batches field")
        _write(base, {k: v for k, v in good.items() if k != field})
        with pytest.raises(
            ValueError,
            match=f"corrupt _CURRENT pointer.*no '{field}' field.*truncated or foreign",
        ):
            open_(spark, base)
    elif case == "lost_pointer":
        os.makedirs(os.path.join(base, orphan))
        open(os.path.join(base, orphan, "_SUCCESS"), "w").close()
        if name in ADOPTERS:
            assert open_(spark, base).version == 1
        else:
            with pytest.raises(
                ValueError, match="no _CURRENT pointer.*cannot be safely adopted"
            ):
                open_(spark, base)
    elif case == "checkpoint":
        _write(base, good)
        m = open_(spark, base)
        m.bind_checkpoint("ckpt-A")  # the recorded identity: fine
        with pytest.raises(ValueError, match="checkpoint mismatch"):
            m.bind_checkpoint("ckpt-B")
    else:
        if not geometry:
            pytest.skip("the class records no geometry")
        _write(base, {**good, **{k: "other" for k in geometry}})
        with pytest.raises(ValueError, match="geometry mismatch"):
            open_(spark, base)


def test_fresh_maintainer_commits_its_pointer_at_construction(spark, tmp_path):
    """A crash inside the first tick must be a replay, not a lost
    pointer: every maintainer pins its empty manifest on open."""
    for name, (open_, _orphan) in sorted(MAINTAINERS.items()):
        base = str(tmp_path / name)
        open_(spark, base)
        assert os.path.exists(os.path.join(base, "_CURRENT")), name
        open_(spark, base)  # and reopens cleanly


def test_other_pointers_fail_loudly_on_corruption(spark, tmp_path):
    """Scd2Table, the Bloom ring, blue/green and compaction use the same
    strict pointer read."""
    scd2 = str(tmp_path / "scd2")
    os.makedirs(scd2)
    _write(scd2, "{trunc")
    with pytest.raises(ValueError, match="corrupt _CURRENT pointer"):
        Scd2Table(spark, scd2, ["id"])
    _write(scd2, {"history_base": 0})
    with pytest.raises(ValueError, match="no 'version' field"):
        Scd2Table(spark, scd2, ["id"])

    ring = str(tmp_path / "ring")
    os.makedirs(ring)
    with open(os.path.join(ring, "_RING"), "w") as f:
        f.write("{trunc")
    with pytest.raises(ValueError, match="corrupt _RING pointer"):
        RotatingBloomMaintainer(spark, ring, m_bits=64, k=2)

    bg = str(tmp_path / "bg")
    os.makedirs(bg)
    with open(os.path.join(bg, "_SERVING"), "w") as f:
        f.write("")
    with pytest.raises(ValueError, match="corrupt _SERVING pointer"):
        BlueGreenIndex(bg)

    table = str(tmp_path / "table")
    cm = CompactionMaintainer(str(tmp_path / "landing"), table, ["k"])
    assert cm.current_version() is None
    cm._commit(3)
    assert cm.current_version() == 3
    _write(table, "three")
    with pytest.raises(ValueError, match="corrupt _CURRENT pointer"):
        cm.current_version()


def _compaction(tmp_path, keys):
    """A CompactionMaintainer whose landing dir holds one file per key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for k in keys:
        pq.write_table(pa.table({"k": [k]}), os.path.join(landing, f"{k}.parquet"))
    table = str(tmp_path / "table")
    return landing, table, CompactionMaintainer(landing, table, ["k"], min_files=2)


def test_compaction_lost_pointer_fails_loudly(spark, tmp_path):
    """A lost _CURRENT beside a committed generation must not hide it:
    serving the landing files alone would drop every compacted row, and
    the next compaction would overwrite the generation."""
    landing, table, cm = _compaction(tmp_path, [1, 2, 3])
    assert cm.run_once(spark)["version"] == 1
    os.remove(os.path.join(table, "_CURRENT"))
    with pytest.raises(ValueError, match="no _CURRENT pointer"):
        cm.read_current(spark)
    with pytest.raises(ValueError, match="cannot be safely adopted"):
        CompactionMaintainer(landing, table, ["k"], min_files=2)


def test_compaction_crash_in_first_compaction_replays(spark, tmp_path):
    """A crash after the first generation's write but before its pointer
    swap: the eager pointer still says "no generation", so reopening
    serves the landing files and the replayed compaction overwrites the
    orphan gen_v1."""
    landing, table, cm = _compaction(tmp_path, [1, 2])
    assert cm.current_version() is None
    spark.createDataFrame([(9,)], "k long").write.parquet(
        os.path.join(table, "gen_v1")
    )
    cm = CompactionMaintainer(landing, table, ["k"], min_files=2)
    assert cm.current_version() is None
    assert sorted(r.k for r in cm.read_current(spark).collect()) == [1, 2]
    assert cm.run_once(spark)["version"] == 1
    assert sorted(r.k for r in cm.read_current(spark).collect()) == [1, 2]


def test_lost_ring_pointer_fails_once_the_ring_has_rotated(spark, tmp_path):
    """Restarting the ring at slot 0 after a lost ``_RING`` made the next
    rotate() reset a slot still inside the retention window (its keys
    then probed "definitely new"). State in gen_0 alone is a ring that
    never rotated, which has no ``_RING`` yet and reopens."""
    slot = {"version": 1, "last_batch_id": 0, "checkpoint_token": None}
    slot.update(m_bits=64, k=2)
    ring = str(tmp_path / "ring")
    for g in ("gen_0", "gen_1"):
        os.makedirs(os.path.join(ring, g, "words_v1"))
        open(os.path.join(ring, g, "words_v1", "_SUCCESS"), "w").close()
        _write(os.path.join(ring, g), slot)
        if g == "gen_0":
            r = RotatingBloomMaintainer(spark, ring, m_bits=64, k=2)
            assert r.current_slot == 0
    with pytest.raises(ValueError, match="no _RING pointer.*cannot be safely"):
        RotatingBloomMaintainer(spark, ring, m_bits=64, k=2)


# pointers exactly as the previous release wrote them
PARENT_POINTERS = {
    "agg": (
        {"version": 2, "last_batch_id": 1, "checkpoint_token": "ckpt-A"},
        lambda s, b: AggMaintainer(s, b, ["k"], "v"),
    ),
    "bloom": (
        {
            "version": 1,
            "last_batch_id": 3,
            "checkpoint_token": None,
            "m_bits": 64,
            "k": 2,
        },
        lambda s, b: BloomMaintainer(s, b, m_bits=64, k=2),
    ),
    "cluster": (
        {
            "version": 2,
            "last_batch_id": 1,
            "batches": [0],
            "members_gen": 0,
            "aliases_v": 1,
            "a_col": "doc_a",
            "b_col": "doc_b",
            "checkpoint_token": None,
        },
        lambda s, b: ClusterMaintainer(s, b),
    ),
    "near_dup": (
        {
            "version": 1,
            "last_batch_id": 0,
            "batches": [0],
            "id_col": "doc_id",
            "text_col": "text",
            "shingle_n": 3,
            "num_hashes": 32,
            "rows_per_band": 2,
            "threshold": 0.3,
            "max_shingle_df": None,
            "checkpoint_token": None,
        },
        lambda s, b: NearDupIndexMaintainer(s, b),
    ),
}


@pytest.mark.parametrize("name", sorted(PARENT_POINTERS))
def test_previous_release_pointer_reopens_unchanged(spark, tmp_path, name):
    meta, open_ = PARENT_POINTERS[name]
    base = str(tmp_path / name)
    os.makedirs(base)
    text = json.dumps(meta)
    _write(base, text)
    m = open_(spark, base)
    assert m.version == meta["version"]
    assert m._last_batch_id == meta["last_batch_id"]
    assert m._already_merged(meta["last_batch_id"])
    assert not m._already_merged(meta["last_batch_id"] + 1)
    if "batches" in meta:
        assert m._meta["batches"] == meta["batches"]
    with open(os.path.join(base, "_CURRENT")) as f:
        assert f.read() == text  # reopening does not rewrite the pointer
    if meta["checkpoint_token"] is not None:
        with pytest.raises(ValueError, match="checkpoint mismatch"):
            m.bind_checkpoint("another-checkpoint")


# --- lost pointer + redelivery: adoption only where it is a no-op ---------


def test_lost_pointer_fails_where_redelivery_would_double_count(spark, tmp_path):
    """Sums, counts and bin counts are not idempotent: adopting the
    newest state dir after a lost pointer and then merging the
    at-least-once redelivery of batch 1 doubled it (n=3,total=8.0 →
    n=4,total=13.0; histogram bin 2 cnt=1 → 2). Reopen must refuse."""
    rows = "k string, v double"
    b0 = spark.createDataFrame([("a", 1.0), ("a", 2.0)], rows)
    b1 = spark.createDataFrame([("a", 5.0)], rows)
    for name, open_ in (
        ("agg", lambda b: AggMaintainer(spark, b, ["k"], "v")),
        ("hist", lambda b: HistogramMaintainer(spark, b, "k", "v", 0.0, 8.0, bins=4)),
    ):
        base = str(tmp_path / name)
        m = open_(base)
        m.merge_batch(b0, 0)
        m.merge_batch(b1, 1)
        os.remove(os.path.join(base, "_CURRENT"))
        with pytest.raises(ValueError, match="cannot be safely adopted"):
            open_(base)


def test_dedup_adoption_then_redelivery_admits_nothing_twice(spark, tmp_path):
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    b1 = spark.createDataFrame([(3, "c"), (4, "a")], schema)
    base = str(tmp_path / "dedup")
    m = DedupMaintainer(spark, base)
    m.accept_batch(b0, 0)
    m.accept_batch(b1, 1)
    want = sorted(r.doc_id for r in m.accepted().collect())
    os.remove(os.path.join(base, "_CURRENT"))
    m2 = DedupMaintainer(spark, base)
    m2.accept_batch(b1, 1)  # at-least-once redelivery of batch 1
    m2.accept_batch(b1, 2)  # ... even under a new batch id
    assert sorted(r.doc_id for r in m2.accepted().collect()) == want
    assert m2.seen().count() == len(want)


def test_scd2_adoption_then_redelivery_changes_no_row(spark, tmp_path):
    schema = "id int, name string, score double"
    s1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], schema)
    s2 = spark.createDataFrame([(1, "a", 9.0)], schema)
    base = str(tmp_path / "scd2")
    t = Scd2Table(spark, base, ["id"])
    t.merge(s1, datetime(2024, 1, 1))
    t.merge(s2, datetime(2024, 1, 2))
    cur = sorted(map(tuple, t.current().collect()))
    hist = sorted(map(tuple, t.history().collect()))
    os.remove(os.path.join(base, "_CURRENT"))
    t2 = Scd2Table(spark, base, ["id"])
    t2.merge(s2, datetime(2024, 1, 3))  # the last snapshot, redelivered
    assert sorted(map(tuple, t2.current().collect())) == cur
    assert sorted(map(tuple, t2.history().collect())) == hist
