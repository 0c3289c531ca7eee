"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402
from harness import closed_loop, compare_results, covered_seconds  # noqa: E402
from workloads import batch_of, check_scd2_rows  # noqa: E402

SCALE = 0.001


def _files(d):
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


# --- inputs -----------------------------------------------------------------------


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, SCALE, n_docs=60, n_vec=20)
    gen.generate(str(tmp_path / "b"), 7, SCALE, n_docs=60, n_vec=20)
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, SCALE, n_docs=60, n_vec=20)
    gen.generate(str(tmp_path / "b"), 8, SCALE, n_docs=60, n_vec=20)
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert a[f"{t}.parquet"] != b[f"{t}.parquet"], t


def test_orders_snapshot_is_seeded_and_accounts_for_every_change(tmp_path):
    gen.generate(str(tmp_path), 3, SCALE, n_docs=10, n_vec=10)
    orders = pq.read_table(tmp_path / "orders.parquet")
    one = gen.orders_snapshot(orders, np.random.default_rng(5), 150, orders.num_rows)
    two = gen.orders_snapshot(orders, np.random.default_rng(5), 150, orders.num_rows)
    assert one[0].equals(two[0]) and one[1:] == two[1:]
    snap, upd, dele, ins = one
    assert upd and dele and ins and not (upd & dele)
    assert snap.num_rows == orders.num_rows - len(dele) + len(ins)


# --- correctness checks fail on a wrong result -------------------------------------

COLS = ["k", "v"]
ROWS = [(1, 0.5), (2, 1.25), (3, -2.0)]


def test_compare_results_accepts_reordered_rows_and_columns():
    assert compare_results("q", ROWS[::-1], COLS, [(v, k) for k, v in ROWS], ["v", "k"]) is None


def test_compare_results_rejects_a_dropped_row():
    assert "row count" in compare_results("q", ROWS[:-1], COLS, ROWS, COLS)


def test_compare_results_rejects_a_perturbed_value():
    bad = [ROWS[0], (2, 1.2500000001), ROWS[2]]
    assert "hash" in compare_results("q", bad, COLS, ROWS, COLS)


def test_compare_results_rejects_renamed_columns():
    assert "columns" in compare_results("q", ROWS, ["k", "w"], ROWS, COLS)


def _scd2_case(tmp_path):
    gen.generate(str(tmp_path), 4, SCALE, n_docs=10, n_vec=10)
    snap = pq.read_table(tmp_path / "orders.parquet")
    live = [tuple(r.values()) for r in snap.to_pylist()]
    history = [(5, 1, False), (9, 1, True), (5, 2, False)]
    return snap, live, history


def test_scd2_check_passes_on_the_true_state(tmp_path):
    snap, live, history = _scd2_case(tmp_path)
    assert check_scd2_rows(live, snap.column_names, history, 3, snap, history, 3) == []


def test_scd2_check_rejects_a_dropped_live_row(tmp_path):
    snap, live, history = _scd2_case(tmp_path)
    errs = check_scd2_rows(live[1:], snap.column_names, history, 3, snap, history, 3)
    assert len(errs) == 1 and "scd2_current" in errs[0]


def test_scd2_check_rejects_a_perturbed_live_value(tmp_path):
    snap, live, history = _scd2_case(tmp_path)
    live[0] = live[0][:3] + (live[0][3] + 0.01,) + live[0][4:]
    errs = check_scd2_rows(live, snap.column_names, history, 3, snap, history, 3)
    assert len(errs) == 1 and "scd2_current" in errs[0]


def test_scd2_check_rejects_a_dropped_or_perturbed_history_row(tmp_path):
    snap, live, history = _scd2_case(tmp_path)
    errs = check_scd2_rows(live, snap.column_names, history[1:], 3, snap, history, 3)
    assert len(errs) == 1 and "scd2_history" in errs[0]
    moved = [history[0], (9, 2, True), history[2]]
    errs = check_scd2_rows(live, snap.column_names, moved, 3, snap, history, 3)
    assert len(errs) == 1 and "scd2_history" in errs[0]


def test_scd2_check_rejects_a_wrong_version(tmp_path):
    snap, live, history = _scd2_case(tmp_path)
    errs = check_scd2_rows(live, snap.column_names, history, 2, snap, history, 3)
    assert len(errs) == 1 and "version" in errs[0]


def test_batch_of_inverts_the_loader_batch_timestamp():
    assert batch_of(dt.datetime(2024, 1, 1) + 7 * dt.timedelta(minutes=8)) == 7


# --- timing ------------------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class StubWorkload:
    """Ops take 2 s each on a fake clock; set-up takes ``setup_s``."""

    round_size = 1

    def __init__(self, clock, setup_s):
        self.clock = clock
        self.setup_s = setup_s

    def setup(self):
        self.clock.t += self.setup_s

    def prepare(self, i):
        self.clock.t += 0.5  # staging is outside the op timer

    def op(self, i):
        self.clock.t += 2.0
        return 3


@pytest.mark.parametrize("setup_s", [0.0, 500.0])
def test_op_latencies_exclude_setup(setup_s):
    clock = FakeClock()
    wl = StubWorkload(clock, setup_s)
    metrics, detail = run.run_workload(wl, 10.0, False, lambda: None, clock)
    assert metrics["setup_s"] == setup_s
    assert metrics["op_p50_s"] == 2.0
    assert metrics["items_per_s"] == 1.5
    assert detail["attempted"] == 4 and detail["failed"] == 0


def test_failed_op_counts_as_attempted_and_misses_latency():
    clock = FakeClock()

    def op(i):
        clock.t += 1.0
        if i == 1:
            raise RuntimeError("boom")
        return 1

    res = closed_loop(op, 3.0, clock=clock)
    assert res.attempted == 3 and res.failed == 1
    assert sorted(res.latencies)[-1] == float("inf")


def test_closed_loop_completes_the_round_in_flight():
    clock = FakeClock()

    def op(i):
        clock.t += 1.0
        return 1

    res = closed_loop(op, 2.5, round_size=4, clock=clock)
    assert res.attempted == 4


def test_covered_seconds_merges_overlapping_jobs():
    assert covered_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0


def test_result_line_refuses_a_directory_without_the_engine(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "olap_queries", "--seed", "1", "--seconds", "1"]) == 2


def test_benchmark_json_matches_what_the_command_prints():
    import json

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
