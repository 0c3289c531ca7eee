"""SCD2 scenario tests (SURVEY.md §5 item 3): multi-batch sequences —
initial load → change → delete → re-insert — asserting main + history
states. This is the part a SQL oracle can't express."""

from __future__ import annotations

from datetime import datetime

import pytest

from _data_engineering_pipeline_project_spark.operators.scd2 import (
    Scd2Table,
    scd2_merge,
)

T1 = datetime(2024, 1, 1)
T2 = datetime(2024, 1, 2)
T3 = datetime(2024, 1, 3)
T4 = datetime(2024, 1, 4)

SCHEMA = "id int, name string, price double"


def snap(df):
    return {
        r["id"]: (r["name"], r["price"], r["is_deleted"], r["updated_at"])
        for r in df.collect()
    }


def test_initial_load(spark):
    inc = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    res = scd2_merge(inc, None, ["id"], T1)
    s = snap(res.snapshot)
    assert s == {1: ("a", 1.0, False, T1), 2: ("b", 2.0, False, T1)}
    assert res.history.count() == 0


def test_update_creates_history(spark):
    b1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    r1 = scd2_merge(b1, None, ["id"], T1)
    b2 = spark.createDataFrame([(1, "a", 9.9), (2, "b", 2.0)], SCHEMA)
    r2 = scd2_merge(b2, r1.snapshot, ["id"], T2)
    s = snap(r2.snapshot)
    assert s[1] == ("a", 9.9, False, T2)  # updated row, new updated_at
    assert s[2] == ("b", 2.0, False, T1)  # unchanged keeps old updated_at
    hist = [tuple(r) for r in r2.history.collect()]
    # old version archived with valid_from=old updated_at, valid_to=batch ts
    assert hist == [(1, "a", 1.0, False, T1, T2)]


def test_update_to_null_takes_the_null(spark):
    """An update that sets an attribute to NULL must serve the NULL, not
    keep the old value; the old version goes to history. snapshot_diff
    projects the incoming side the same way."""
    from _data_engineering_pipeline_project_spark.operators.joins import (
        snapshot_diff,
    )

    b1 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    r1 = scd2_merge(b1, None, ["id"], T1)
    b2 = spark.createDataFrame([(1, None, 1.0)], SCHEMA)
    r2 = scd2_merge(b2, r1.snapshot, ["id"], T2)
    assert snap(r2.snapshot) == {1: (None, 1.0, False, T2)}
    assert [tuple(r) for r in r2.history.collect()] == [
        (1, "a", 1.0, False, T1, T2)
    ]
    diff = snapshot_diff(b2, b1, ["id"]).collect()
    assert [tuple(r) for r in diff] == [(1, None, 1.0, "update")]


def test_delete_soft_deletes_and_archives(spark):
    b1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    r1 = scd2_merge(b1, None, ["id"], T1)
    b2 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)  # id=2 gone
    r2 = scd2_merge(b2, r1.snapshot, ["id"], T2)
    s = snap(r2.snapshot)
    assert s[2] == ("b", 2.0, True, T2)  # soft-deleted, reference etl2:404-412
    hist = [tuple(r) for r in r2.history.collect()]
    assert hist == [(2, "b", 2.0, True, T1, T2)]


def test_reappearing_key_reinserts(spark):
    b1 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    r1 = scd2_merge(b1, None, ["id"], T1)
    b2 = spark.createDataFrame([], SCHEMA)
    r2 = scd2_merge(b2, r1.snapshot, ["id"], T2)
    assert snap(r2.snapshot)[1][2] is True  # tombstoned
    b3 = spark.createDataFrame([(1, "a2", 5.0)], SCHEMA)
    r3 = scd2_merge(b3, r2.snapshot, ["id"], T3)
    s = snap(r3.snapshot)
    assert s[1] == ("a2", 5.0, False, T3)  # resurrected
    assert r3.snapshot.count() == 1  # tombstone replaced, not duplicated


def test_full_cycle_on_disk(spark, tmp_path):
    tbl = Scd2Table(spark, str(tmp_path / "products"), ["id"])
    tbl.merge(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA), T1)
    tbl.merge(spark.createDataFrame([(1, "a", 3.0), (2, "b", 2.0)], SCHEMA), T2)
    tbl.merge(spark.createDataFrame([(1, "a", 3.0)], SCHEMA), T3)
    cur = snap(tbl.current())
    assert cur[1] == ("a", 3.0, False, T2)
    assert cur[2] == ("b", 2.0, True, T3)
    hist = sorted(tuple(r) for r in tbl.history().collect())
    assert hist == [
        (1, "a", 1.0, False, T1, T2),
        (2, "b", 2.0, True, T1, T3),
    ]


def test_time_travel(spark, tmp_path):
    tbl = Scd2Table(spark, str(tmp_path / "tt"), ["id"])
    tbl.merge(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA), T1)
    tbl.merge(spark.createDataFrame([(1, "a", 5.0), (2, "b", 2.0)], SCHEMA), T2)
    tbl.merge(spark.createDataFrame([(1, "a", 5.0)], SCHEMA), T3)

    # version travel: v1 = initial state
    v1 = snap(tbl.snapshot_as_of(1))
    assert v1[1] == ("a", 1.0, False, T1)

    # timestamp travel: between T1 and T2, id=1 still has price 1.0 and
    # id=2 exists un-deleted
    at = {
        r["id"]: (r["price"], r["is_deleted"])
        for r in tbl.as_of_timestamp(datetime(2024, 1, 1, 12)).collect()
    }
    assert at[1] == (1.0, False)
    assert at[2] == (2.0, False)

    # between T2 and T3: id=1 updated to 5.0, id=2 still alive
    at2 = {
        r["id"]: (r["price"], r["is_deleted"])
        for r in tbl.as_of_timestamp(datetime(2024, 1, 2, 12)).collect()
    }
    assert at2[1] == (5.0, False)
    assert at2[2] == (2.0, False)


def test_stats_classification(spark):
    b1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], SCHEMA)
    r1 = scd2_merge(b1, None, ["id"], T1)
    b2 = spark.createDataFrame([(1, "a", 1.0), (2, "B", 2.0), (4, "d", 4.0)], SCHEMA)
    r2 = scd2_merge(b2, r1.snapshot, ["id"], T2)
    stats = {r["change_type"]: r["n"] for r in r2.stats.collect()}
    assert stats == {"unchanged": 1, "update": 1, "insert": 1, "delete": 1}


def test_vacuum_versions_keeps_time_travel_window(spark, tmp_path):
    from _data_engineering_pipeline_project_spark.operators.scd2 import (
        Scd2Table,
        vacuum_versions,
    )

    t = Scd2Table(spark, str(tmp_path / "t"), ["id"])
    for i in range(4):  # 4 merges -> versions 1..4
        batch = spark.createDataFrame(
            [(1, f"v{i}"), (2, "stable")], "id int, val string"
        )
        t.merge(batch, datetime(2024, 1, i + 1))

    removed = vacuum_versions(t, keep_last=2)
    # snapshots v1, v2 gone AND their history deltas compacted into a base
    snap_removed = [p for p in removed if "snapshot_v" in p]
    delta_removed = [p for p in removed if "history_delta_v" in p]
    assert len(snap_removed) == 2
    assert len(delta_removed) == 2  # v1, v2 deltas folded into base
    # current + previous still readable (time travel window honored)
    assert t.current().count() == 2
    assert t.snapshot_as_of(3).count() == 2
    import pytest

    with pytest.raises(Exception):
        t.snapshot_as_of(1).count()
    # audit CONTENT untouched: compaction merges rows, never drops them
    hist = t.history().count()
    assert hist >= 3

    # second vacuum round: deltas above the base compact again, history
    # row count is stable, and a reopened table reads the same audit trail
    batch = spark.createDataFrame(
        [(1, "v5"), (2, "stable")], "id int, val string"
    )
    t.merge(batch, datetime(2024, 1, 9))
    vacuum_versions(t, keep_last=2)
    assert t.history().count() == hist + 1  # old row of the updated id=1
    t2 = Scd2Table(spark, str(tmp_path / "t"), ["id"])
    assert t2.history().count() == hist + 1


def test_vacuum_merge_interleaved_depth_property(spark, tmp_path):
    """Depth property (VERDICT r3 'Next' #9): 20 versions with vacuums
    interleaved at several depths against a never-vacuumed twin
    receiving identical merges. Invariants at every checkpoint:

    - audit CONTENT is invariant under compaction (vacuumed history ==
      twin history, row for row);
    - the pointer is always readable: a FRESH handle opened mid-sequence
      sees the same version and identical history;
    - crash orphans (uncommitted snapshot + delta dirs for version n+1,
      injected twice mid-sequence) never surface and are clobbered by
      the retried merge;
    - time travel works across the whole keep window and raises beyond
      it."""
    from _data_engineering_pipeline_project_spark.operators.scd2 import (
        vacuum_versions,
    )

    d = str(tmp_path / "vac")
    t = Scd2Table(spark, d, ["id"])
    twin = Scd2Table(spark, str(tmp_path / "twin"), ["id"])
    vacuum_at = {5, 8, 12, 16, 19}
    crash_at = {7, 14}

    def hist_rows(table):
        return sorted(tuple(r) for r in table.history().collect())

    for step in range(1, 21):
        ts = datetime(2024, 1, step)
        # deterministic churn: id1 changes every step; id2 tombstoned on
        # every 4th batch and resurrected after; id3 stable forever
        rows = [(1, f"v{step}", float(step))]
        if step % 4 != 0:
            rows.append((2, "two", 2.0))
        rows.append((3, "three", 3.0))
        batch = spark.createDataFrame(rows, SCHEMA)
        t.merge(batch, ts)
        twin.merge(spark.createDataFrame(rows, SCHEMA), ts)

        if step in crash_at:
            # crashed writer: next version's artifacts on disk, no commit
            nxt = t.version + 1
            batch.write.mode("overwrite").parquet(f"{t.snapshot_dir}_v{nxt}")
            batch.write.mode("overwrite").parquet(
                f"{t.history_delta_dir}_v{nxt}"
            )
            reader = Scd2Table(spark, d, ["id"])
            assert reader.version == t.version  # orphan invisible
            assert hist_rows(reader) == hist_rows(twin)

        if step in vacuum_at:
            vacuum_versions(t, keep_last=2)
            # compaction merged rows, never dropped or invented any
            assert hist_rows(t) == hist_rows(twin)
            # time travel: whole keep window readable, beyond it raises
            assert snap(t.snapshot_as_of(t.version)) == snap(
                twin.snapshot_as_of(t.version)
            )
            assert t.snapshot_as_of(t.version - 1).count() > 0
            with pytest.raises(Exception):
                t.snapshot_as_of(t.version - 2).count()
            # pointer readable by a fresh handle right after compaction
            reopened = Scd2Table(spark, d, ["id"])
            assert reopened.version == t.version
            assert hist_rows(reopened) == hist_rows(twin)

    assert t.version == 20
    assert snap(t.current()) == snap(twin.current())
    assert hist_rows(t) == hist_rows(twin)
    # final fresh-handle audit after the full merge/vacuum/crash weave
    final = Scd2Table(spark, d, ["id"])
    assert hist_rows(final) == hist_rows(twin)


def test_restart_recovers_committed_version(spark, tmp_path):
    """A fresh Scd2Table over an existing base_dir resumes from the
    _CURRENT pointer — batch 3 merges as an incremental update, never as
    a re-initial full load (the restart-unsafety ADVICE flagged)."""
    d = str(tmp_path / "t")
    t1 = Scd2Table(spark, d, ["id"])
    t1.merge(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA), T1)
    t1.merge(spark.createDataFrame([(1, "a", 9.0), (2, "b", 2.0)], SCHEMA), T2)

    t2 = Scd2Table(spark, d, ["id"])  # simulated driver restart
    assert t2.version == 2
    assert snap(t2.current()) == snap(t1.current())

    # next cycle after restart: id=2 deleted → must be a tombstone merge,
    # not an initial load that forgets id=2 ever existed
    t2.merge(spark.createDataFrame([(1, "a", 9.0)], SCHEMA), T3)
    s = snap(t2.current())
    assert s[2][2] is True  # soft-deleted, not lost
    assert t2.history().count() == 2  # old v of id=1 + tombstone of id=2


def test_restart_recovery_scan_fallback(spark, tmp_path):
    """Pointer file deleted (pre-pointer layout / operator error): recovery
    scans for the highest snapshot dir bearing _SUCCESS."""
    import os

    d = str(tmp_path / "t")
    t1 = Scd2Table(spark, d, ["id"])
    t1.merge(spark.createDataFrame([(1, "a", 1.0)], SCHEMA), T1)
    t1.merge(spark.createDataFrame([(1, "a", 2.0)], SCHEMA), T2)
    os.remove(os.path.join(d, "_CURRENT"))

    # a half-written v3 (no _SUCCESS) must NOT be picked up
    os.makedirs(os.path.join(d, "snapshot_v3"))
    with open(os.path.join(d, "snapshot_v3", "part-junk.parquet"), "wb") as f:
        f.write(b"\x00not parquet")

    t2 = Scd2Table(spark, d, ["id"])
    assert t2.version == 2
    assert snap(t2.current())[1][1] == 2.0


def test_crash_mid_write_reader_sees_previous_version(spark, tmp_path):
    """Crash injection: uncommitted v2 artifacts on disk (snapshot AND
    history delta written, pointer swap never happened). A reader opens
    the table and sees the v1 state exactly; a retried merge then commits
    v2 cleanly over the orphans."""
    d = str(tmp_path / "t")
    w = Scd2Table(spark, d, ["id"])
    w.merge(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA), T1)

    # simulate the crashed writer: do everything merge() does EXCEPT commit
    res = scd2_merge(
        spark.createDataFrame([(1, "a", 9.0), (2, "b", 2.0)], SCHEMA),
        w.current(),
        ["id"],
        T2,
    )
    res.snapshot.write.mode("overwrite").parquet(f"{w.snapshot_dir}_v2")
    res.history.write.mode("overwrite").parquet(f"{w.history_delta_dir}_v2")
    res.release()

    r = Scd2Table(spark, d, ["id"])  # reader after the crash
    assert r.version == 1
    assert snap(r.current())[1][1] == 1.0  # pre-crash value
    assert r.history().count() == 0  # orphan delta invisible

    # retry the merge: overwrites the orphans, commits atomically
    w2 = Scd2Table(spark, d, ["id"])
    w2.merge(spark.createDataFrame([(1, "a", 9.0), (2, "b", 2.0)], SCHEMA), T2)
    assert w2.version == 2
    assert snap(w2.current())[1][1] == 9.0
    assert w2.history().count() == 1


def test_legacy_layout_history_readable_and_upgradable(spark, tmp_path):
    """A pre-pointer table (snapshot_v* dirs + single append-only
    'history' dir, NO pointer, NO history_delta_v* dirs) must serve
    history() from the legacy dir instead of raising missing-delta
    (code-review r3), and a post-upgrade merge must only expect deltas
    ABOVE the upgrade point (delta_floor recorded in the new pointer)."""
    import os
    import shutil

    d = str(tmp_path / "t")
    t1 = Scd2Table(spark, d, ["id"])
    t1.merge(spark.createDataFrame([(1, "a", 1.0)], SCHEMA), T1)
    t1.merge(spark.createDataFrame([(1, "a", 2.0)], SCHEMA), T2)

    # rewrite the on-disk layout into the pre-pointer shape: move the
    # delta dirs' contents into a single 'history' append dir, drop both
    # the deltas and the pointer
    hist = t1.history().collect()
    t1.history().write.mode("overwrite").parquet(os.path.join(d, "history"))
    for v in (1, 2):
        p = f"{t1.history_delta_dir}_v{v}"
        if os.path.exists(p):
            shutil.rmtree(p)
    os.remove(os.path.join(d, "_CURRENT"))

    t2 = Scd2Table(spark, d, ["id"])
    assert t2.version == 2
    assert sorted(r.valid_from for r in t2.history().collect()) == sorted(
        r.valid_from for r in hist
    )

    # upgrade in place: a new merge commits a pointer with delta_floor=2
    t2.merge(spark.createDataFrame([(1, "a", 3.0)], SCHEMA), T3)
    t3 = Scd2Table(spark, d, ["id"])
    assert t3.version == 3
    got = t3.history().count()
    assert got == len(hist) + 1  # legacy rows + the one new delta


def test_pointer_loss_on_delta_era_table_keeps_full_history(spark, tmp_path):
    """Deleting only _CURRENT from a pointer-era table (deltas intact)
    must NOT be mistaken for a legacy table: history() keeps reading
    every delta, and the re-committed pointer must not bake in a bogus
    delta_floor (code-review r3 round 2)."""
    import os

    d = str(tmp_path / "t")
    t1 = Scd2Table(spark, d, ["id"])
    t1.merge(spark.createDataFrame([(1, "a", 1.0)], SCHEMA), T1)
    t1.merge(spark.createDataFrame([(1, "a", 2.0)], SCHEMA), T2)
    full = sorted(r.valid_from for r in t1.history().collect())
    os.remove(os.path.join(d, "_CURRENT"))

    t2 = Scd2Table(spark, d, ["id"])
    assert t2.version == 2
    assert sorted(r.valid_from for r in t2.history().collect()) == full
    # a merge after recovery re-commits a pointer that still reads all
    t2.merge(spark.createDataFrame([(1, "a", 3.0)], SCHEMA), T3)
    t3 = Scd2Table(spark, d, ["id"])
    assert t3.history().count() == len(full) + 1


def test_point_in_time_resolves_each_probe(spark):
    """PIT resolver: unchanged/updated/deleted/inserted keys each resolve
    correctly at three probe instants (before, between, after)."""
    from datetime import datetime

    from _data_engineering_pipeline_project_spark.operators.scd2 import (
        scd2_merge,
        scd2_point_in_time,
    )

    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    b1 = spark.createDataFrame(
        [(1, "keep"), (2, "old"), (3, "gone")], "k int, v string"
    )
    b2 = spark.createDataFrame(
        [(1, "keep"), (2, "new"), (4, "born")], "k int, v string"
    )
    r1 = scd2_merge(b1, None, ["k"], t1)
    r2 = scd2_merge(b2, r1.snapshot, ["k"], t2)

    def pit(ts):
        return {
            r["k"]: (r["v"], r["alive"])
            for r in scd2_point_in_time(
                r2.snapshot, r2.history, ts, ["k"], ["v"]
            ).collect()
        }

    at1 = pit(t1)
    assert at1 == {1: ("keep", True), 2: ("old", True), 3: ("gone", True)}
    at2 = pit(t2)
    assert at2[1] == ("keep", True)
    assert at2[2] == ("new", True)
    assert at2[3][1] is False          # tombstoned at t2
    assert at2[4] == ("born", True)
    before = pit(datetime(2023, 1, 1))
    assert before == {}                # nothing existed yet
