"""The benchmark's workloads. Each is a closed loop with one client over
inputs generated from the run's seed:

- ``olap_queries``: 32 registered queries (the 22 TPC-H patterns and
  10 reference-surface quality queries) in a seeded order per round,
  each built through ``QUERIES[name]`` and executed to completion with
  ``write.format("noop")``. One op is one query.
- ``ingest_cycles``: one scheduler cycle per op. A
  ``NearDupIndexMaintainer`` ingests the next seeded document batch and
  ``IncrementalLoader.run_available_now`` drains the next ``orders``
  snapshot into the SCD2 table; then the freshly committed near-dup
  pairs and clusters, SCD2 ``current()`` and ``history()`` are served
  through ``serve.table_rows``.

Every workload has ``generate`` (seeded inputs; untimed), ``setup``
(bootstrap and warm-up on the session; timed with the session build as
``setup_s``), ``prepare(i)`` (untimed input staging for op ``i``),
``op(i)`` (timed), ``check()`` (run after timing; a list of mismatch
reports) and ``layer_metrics()`` (traced runs only).
"""

from __future__ import annotations

import datetime as dt
import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Tracer, compare_results, layer_profile

TPCH_QUERIES = [
    "pricing_summary",  # Q1
    "cheapest_supplier_per_part",  # Q2
    "shipping_priority_topn",  # Q3
    "order_priority_count",  # Q4
    "revenue_by_nation",  # Q5
    "filtered_revenue_forecast",  # Q6
    "nation_pair_shipping_volume",  # Q7
    "nation_market_share",  # Q8
    "product_profit_by_nation_year",  # Q9
    "returned_items_by_customer",  # Q10
    "important_part_inventory",  # Q11
    "priority_line_counts",  # Q12
    "customer_order_distribution",  # Q13
    "promo_revenue_ratio",  # Q14
    "top_revenue_supplier",  # Q15
    "supplier_count_by_part_class",  # Q16
    "small_order_part_revenue",  # Q17
    "large_order_customers",  # Q18
    "disjunctive_part_revenue",  # Q19
    "excess_stock_suppliers",  # Q20
    "waiting_suppliers",  # Q21
    "idle_rich_customers",  # Q22
]

REFERENCE_QUERIES = [
    "top_customers_by_revenue",
    "pk_dedup_keep_first_lineitem",
    "fk_orphans_stale_supplier_dim",
    "date_inversion_ship_before_order",
    "chronology_orders_lifecycle",
    "snapshot_diff_orders",
    "dedup_events_user_type",
    "sessionization_events",
    "events_hourly_agg",
    "null_counts_events",
]

OLAP_QUERIES = TPCH_QUERIES + REFERENCE_QUERIES

def _oracle_sql(q, name: str) -> str:
    o = q.ORACLES[name]
    return o() if callable(o) else o


def _duck(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _dir_stats(path: str) -> tuple[int, float]:
    """(file count, MB) of everything under ``path``."""
    files = 0
    size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size / 1e6


class Workload:
    name = ""
    round_size = 1  # ops per round; runs measure whole rounds

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer: Tracer | None = None

    def generate(self) -> None:
        """Write the seeded inputs (not part of ``setup_s``)."""

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Stage op ``i``'s inputs outside the timed region."""

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def trace(self, tracer: Tracer) -> None:
        """Route the layer calls of the following ops through ``tracer``."""
        self.tracer = tracer

    def untrace(self) -> None:
        self.tracer = None

    def _call(self, span: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(span, fn, *args, **kwargs)

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        raise NotImplementedError


# --- olap_queries ----------------------------------------------------------------


class OlapQueries(Workload):
    """32 registered queries, seeded order per round, ``noop`` sink."""

    name = "olap_queries"
    round_size = len(OLAP_QUERIES)
    SCALE = 0.01  # lineitem 60k rows, orders 15k

    def generate(self) -> None:
        self.data_dir = os.path.join(self.work_dir, "data")
        gen.generate(self.data_dir, self.seed, self.SCALE, n_docs=200, n_vec=200)
        self._rng = np.random.default_rng(self.seed + 1)
        self._order: list[str] = []

    def _name(self, i: int) -> str:
        while len(self._order) <= i:
            perm = self._rng.permutation(len(OLAP_QUERIES))
            self._order.extend(OLAP_QUERIES[k] for k in perm)
        return self._order[i]

    def setup(self) -> None:
        from _data_engineering_pipeline_project_spark import queries as q

        self.q = q
        # warm-up round: every query once, cold, from one thread per core
        # (JIT, parquet footers and the catalog memo are shared state);
        # the collected results are what check() compares
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            done = list(pool.map(self._cold_run, OLAP_QUERIES))
        self.results = {name: res for name, res, _ in done}
        self.cold_build_s = sum(b for _, _, b in done)

    def _cold_run(self, name: str):
        t0 = time.perf_counter()
        df = self.q.QUERIES[name](self.spark, self.data_dir)
        build_s = time.perf_counter() - t0
        return name, ([tuple(r) for r in df.collect()], df.columns), build_s

    def _execute(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def op(self, i: int) -> int:
        name = self._name(i)
        df = self._call("queries.build", self.q.QUERIES[name], self.spark, self.data_dir)
        self._call("queries.execute", self._execute, df)
        return 1

    def check(self) -> list[str]:
        con = _duck(self.data_dir, list(gen.TABLES))
        errors = []
        for name in OLAP_QUERIES:
            res = con.execute(_oracle_sql(self.q, name))
            want_cols = [d[0] for d in res.description]
            rows, cols = self.results[name]
            err = compare_results(name, rows, cols, res.fetchall(), want_cols)
            if err:
                errors.append(err)
        con.close()
        return errors

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        t = self.tracer
        out = layer_profile(t, "op")
        out["queries.build_s_p50"] = t.p50("queries.build")
        out["queries.jobs_in_build_per_op"] = t.per_op("queries.build", "jobs", n_ops)
        out["queries.cold_build_s"] = self.cold_build_s
        return out


# --- ingest_cycles ---------------------------------------------------------------


class IngestCycles(Workload):
    """Near-dup index tick + SCD2 cycle + reads, one op per cycle."""

    name = "ingest_cycles"
    round_size = 2
    SCALE = 0.01  # orders snapshot 15k rows
    N_DOCS = 1200
    WARM_OPS = 1
    READ_LIMIT = 1000

    def generate(self) -> None:
        self.data_dir = os.path.join(self.work_dir, "data")
        self.sizes = gen.generate(
            self.data_dir, self.seed, self.SCALE, n_docs=self.N_DOCS, n_vec=16
        )
        rng = np.random.default_rng(self.seed + 2)
        docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet"))
        perm = rng.permutation(docs.num_rows)
        half = docs.num_rows // 2
        self.batch_dir = os.path.join(self.work_dir, "doc_batches")
        os.makedirs(self.batch_dir)
        cuts = [0, half]
        while cuts[-1] < docs.num_rows:
            cuts.append(min(docs.num_rows, cuts[-1] + int(rng.integers(100, 126))))
        self.doc_batches = []
        for b, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            path = os.path.join(self.batch_dir, f"batch_{b:04d}.parquet")
            pq.write_table(docs.take(np.sort(perm[lo:hi])), path)
            self.doc_batches.append(path)
        self.snap_rng = np.random.default_rng(self.seed + 3)
        self.snapshot = pq.read_table(os.path.join(self.data_dir, "orders.parquet"))
        self.next_key = self.snapshot.num_rows
        self.src_dir = os.path.join(self.work_dir, "orders_src")
        os.makedirs(self.src_dir)
        self.expected_history: list[tuple[int, int, bool]] = []
        self.cycles = 0

    def _stage_snapshot(self) -> int:
        """Write the next ``orders`` snapshot into the loader's source
        directory; returns its row count."""
        if self.cycles:
            snap, upd, dele, ins = gen.orders_snapshot(
                self.snapshot,
                self.snap_rng,
                self.sizes["customer"],
                self.next_key,
            )
            self.next_key += len(ins)
            self.expected_history += [(k, self.cycles, False) for k in upd]
            self.expected_history += [(k, self.cycles, True) for k in dele]
            self.snapshot = snap
        path = os.path.join(self.src_dir, f"snap_{self.cycles:05d}.parquet")
        pq.write_table(self.snapshot, path)
        self.cycles += 1
        return self.snapshot.num_rows

    def setup(self) -> None:
        from _data_engineering_pipeline_project_spark import serve
        from _data_engineering_pipeline_project_spark.streaming.microbatch import (
            IncrementalLoader,
        )
        from _data_engineering_pipeline_project_spark.streaming.neardupmaint import (
            NearDupIndexMaintainer,
        )

        self.serve = serve
        self.ndm_dir = os.path.join(self.work_dir, "neardup_index")
        self.scd2_dir = os.path.join(self.work_dir, "orders_scd2")
        self.ckpt_dir = os.path.join(self.work_dir, "orders_ckpt")
        self.ndm = NearDupIndexMaintainer(self.spark, self.ndm_dir)
        self.ndm.merge_batch(self.spark.read.parquet(self.doc_batches[0]), 0)
        self.docs_merged = 1
        schema = self.spark.read.parquet(
            os.path.join(self.data_dir, "orders.parquet")
        ).schema
        self.loader = IncrementalLoader(
            self.spark, self.src_dir, schema, self.scd2_dir, ["o_orderkey"]
        )
        self._stage_snapshot()
        self.loader.run_available_now(self.ckpt_dir)
        self.versions_timed: list[int] = []
        for i in range(self.WARM_OPS):
            self.prepare(-1 - i)
            self.op(-1 - i)
        # an exact count at a point every run of this seed reaches
        self.pairs_after_warmup = self.ndm.pairs().count()

    def prepare(self, i: int) -> None:
        if self.docs_merged >= len(self.doc_batches):
            raise RuntimeError("document batches exhausted")
        self._batch = self.spark.read.parquet(self.doc_batches[self.docs_merged])
        self._batch_docs = pq.ParquetFile(
            self.doc_batches[self.docs_merged]
        ).metadata.num_rows
        self._snap_rows = self._stage_snapshot()

    def _read(self, df) -> list[dict]:
        return self._call("serve.table_rows", self.serve.table_rows, df, self.READ_LIMIT)

    def op(self, i: int) -> int:
        self._call(
            "neardupmaint.merge_batch", self.ndm.merge_batch, self._batch, self.docs_merged
        )
        self.docs_merged += 1
        self._read(self.ndm.pairs())
        self._read(self.ndm.clusters())
        self._call("microbatch.run_available_now", self.loader.run_available_now, self.ckpt_dir)
        if i >= 0:
            self.versions_timed.append(self.loader.table.version)
        self._read(self.loader.current())
        self._read(self.loader.history())
        return self._batch_docs + self._snap_rows

    def check(self) -> list[str]:
        from _data_engineering_pipeline_project_spark import queries as q

        errors = []
        # near-dup pairs over everything ingested == the one-shot oracle
        ingested = pa.concat_tables(
            pq.read_table(p) for p in self.doc_batches[: self.docs_merged]
        )
        corpus_dir = os.path.join(self.work_dir, "ingested")
        os.makedirs(corpus_dir, exist_ok=True)
        pq.write_table(ingested, os.path.join(corpus_dir, "documents.parquet"))
        con = _duck(corpus_dir, ["documents"])
        res = con.execute(_oracle_sql(q, "near_dup_pairs_maintained"))
        want_cols = [d[0] for d in res.description]
        pairs = self.ndm.pairs()
        err = compare_results(
            "near_dup_pairs",
            [tuple(r) for r in pairs.collect()],
            pairs.columns,
            res.fetchall(),
            want_cols,
        )
        con.close()
        if err:
            errors.append(err)
        errors += check_scd2(
            self.loader.current(),
            self.loader.history(),
            self.loader.table.version,
            self.snapshot,
            self.expected_history,
            self.cycles,
        )
        return errors

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        t = self.tracer
        out = layer_profile(t, "op")
        ndm_files, ndm_mb = _dir_stats(self.ndm_dir)
        written = [
            _dir_stats(f"{self.scd2_dir}/snapshot_v{v}")[1]
            + _dir_stats(f"{self.scd2_dir}/history_delta_v{v}")[1]
            for v in self.versions_timed
        ]
        runs = t.spans.get("microbatch.run_available_now", [])
        merges = t.spans.get("scd2.merge", [])
        overhead = [r["wall_s"] - m["wall_s"] for r, m in zip(runs, merges)]
        out.update(
            {
                "neardupmaint.merge_batch_s_p50": t.p50("neardupmaint.merge_batch"),
                "clustermaint.merge_batch_s_p50": t.p50("clustermaint.merge_batch"),
                "neardupmaint.state_files": ndm_files,
                "neardupmaint.state_mb": ndm_mb,
                "neardupmaint.pairs_total": self.pairs_after_warmup,
                "serve.table_rows_s_p50": t.p50("serve.table_rows"),
                "scd2.merge_s_p50": t.p50("scd2.merge"),
                "microbatch.stream_overhead_s_p50": (
                    float(np.median(overhead)) if overhead else 0.0
                ),
                "scd2.mb_written_per_cycle": (
                    float(np.mean(written)) if written else 0.0
                ),
                "scd2.state_mb": _dir_stats(self.scd2_dir)[1],
            }
        )
        return out

    def trace(self, tracer: Tracer) -> None:
        from _data_engineering_pipeline_project_spark.operators.scd2 import Scd2Table
        from _data_engineering_pipeline_project_spark.streaming.clustermaint import (
            ClusterMaintainer,
        )

        super().trace(tracer)
        self._undo = [
            tracer.wrap_method(ClusterMaintainer, "merge_batch", "clustermaint.merge_batch"),
            tracer.wrap_method(Scd2Table, "merge", "scd2.merge"),
        ]

    def untrace(self) -> None:
        for undo in getattr(self, "_undo", []):
            undo()
        self._undo = []
        super().untrace()


def check_scd2(current, history, version, last_snapshot, expected_history, cycles):
    """Collect the SCD2 table's live rows and history keys, then
    :func:`check_scd2_rows`."""
    from pyspark.sql import functions as F

    live = current.filter(~F.col("is_deleted")).drop("updated_at", "is_deleted")
    got_history = [
        (r["o_orderkey"], batch_of(r["valid_to"]), bool(r["is_deleted"]))
        for r in history.select("o_orderkey", "valid_to", "is_deleted").collect()
    ]
    return check_scd2_rows(
        [tuple(r) for r in live.collect()],
        live.columns,
        got_history,
        version,
        last_snapshot,
        expected_history,
        cycles,
    )


def check_scd2_rows(
    live_rows, live_cols, history, version, last_snapshot, expected_history, cycles
) -> list[str]:
    """SCD2 table checks: the live rows of ``current()`` equal the last
    source snapshot, ``history()`` holds exactly one (key, cycle,
    deleted) row per generated update and delete, and the committed
    version equals the number of drained snapshots."""
    errors = []
    if version != cycles:
        errors.append(f"scd2: version {version} != cycles {cycles}")
    err = compare_results(
        "scd2_current",
        live_rows,
        live_cols,
        [tuple(r.values()) for r in last_snapshot.to_pylist()],
        last_snapshot.column_names,
    )
    if err:
        errors.append(err)
    err = compare_history(history, expected_history)
    if err:
        errors.append(err)
    return errors


_BATCH0 = dt.datetime(2024, 1, 1)


def batch_of(valid_to: dt.datetime) -> int:
    """Micro-batch id from the loader's deterministic batch timestamp
    (2024-01-01 + 8 minutes per batch)."""
    return int((valid_to - _BATCH0) / dt.timedelta(minutes=8))


def compare_history(got: list[tuple], want: list[tuple]) -> str | None:
    if sorted(got) == sorted(want):
        return None
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    return (
        f"scd2_history: {len(got)} rows != {len(want)} expected; "
        f"missing {missing}, unexpected {extra}"
    )


WORKLOADS = {w.name: w for w in (OlapQueries, IngestCycles)}
