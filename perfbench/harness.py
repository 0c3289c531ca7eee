"""Workload-independent pieces of the benchmark: the closed loop, the
percentiles, the Spark status-store tracer, memory stamps and the
order-insensitive result comparison. Nothing here imports the engine,
so the self-tests run without a Spark session."""

from __future__ import annotations

import hashlib
import math
import statistics
import time
from collections import defaultdict
from collections.abc import Callable


# --- closed loop -------------------------------------------------------------


class LoopResult:
    """Per-op wall times of one closed loop; a failed op is ``inf``."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.items = 0
        self.errors: list[str] = []

    @property
    def attempted(self) -> int:
        return len(self.latencies)

    @property
    def failed(self) -> int:
        return len(self.errors)

    @property
    def busy_s(self) -> float:
        return sum(x for x in self.latencies if math.isfinite(x))


def closed_loop(
    op: Callable[[int], int],
    seconds: float,
    prepare: Callable[[int], None] | None = None,
    round_size: int = 1,
    clock: Callable[[], float] = time.perf_counter,
) -> LoopResult:
    """One client: call ``op(i)`` back to back until ``seconds`` have
    passed since the loop started. The deadline is checked between
    rounds of ``round_size`` ops, so the round in flight completes and
    every run measures whole rounds. ``prepare(i)`` stages op ``i``'s
    inputs before its timer starts. ``op`` returns the number of items
    it processed. Each op is timed from its own start; an op that
    raises counts as attempted and failed, with an infinite latency so
    it misses every limit."""
    res = LoopResult()
    start = clock()
    i = 0
    while i % round_size or clock() - start < seconds:
        if prepare is not None:
            prepare(i)
        t0 = clock()
        try:
            n = op(i)
        except Exception as e:  # a failed op is a measured outcome
            res.latencies.append(math.inf)
            res.errors.append(f"op {i}: {e.__class__.__name__}: {e}"[:500])
        else:
            res.latencies.append(clock() - t0)
            res.items += int(n)
        i += 1
    return res


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


# --- Spark status store --------------------------------------------------------


class StatusStore:
    """Reads Spark's AppStatusStore (the UI may be disabled; the store
    is still kept) through py4j. ``snapshot()`` marks a point;
    ``since(mark)`` sums the jobs and stages that started after it."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _drain(self) -> None:
        # the store is fed by the listener bus; wait until it caught up
        # with the jobs the driver just finished
        self._bus.waitUntilEmpty()

    def _newest(self, seq, key: str, mark: int) -> list:
        """Entries of a newest-first status-store ``Seq`` whose ``key``
        is above ``mark``."""
        out = []
        it = seq.iterator()
        while it.hasNext():
            item = it.next()
            if getattr(item, key)() <= mark:
                break
            out.append(item)
        return out

    def _jobs(self, mark: int = -1) -> list:
        return self._newest(self._store.jobsList(None), "jobId", mark)

    def _stages(self, mark: int = -1) -> list:
        # Spark 4.1 signature: (statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus)
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return self._newest(seq, "stageId", mark)

    def snapshot(self) -> tuple[int, int]:
        self._drain()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return (
            jobs.head().jobId() if jobs.nonEmpty() else -1,
            stages.head().stageId() if stages.nonEmpty() else -1,
        )

    def since(self, mark: tuple[int, int]) -> dict:
        self._drain()
        job_mark, stage_mark = mark
        jobs = self._jobs(job_mark)
        intervals = []
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        tasks = run_ms = shuffle = 0
        for st in self._stages(stage_mark):
            tasks += st.numTasks()
            run_ms += st.executorRunTime()
            shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
        return {
            "jobs": len(jobs),
            "job_s": covered_seconds(intervals),
            "tasks": tasks,
            "exec_run_s": run_ms / 1000.0,
            "shuffle_mb": shuffle / 1e6,
        }


def covered_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of ``(start_ms, end_ms)`` intervals, so jobs
    that overlap are not counted twice."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class Tracer:
    """Spans around calls into the engine. Each span records its wall
    time and the Spark work started inside it. Spans of the same name
    accumulate in memory."""

    def __init__(self, store: StatusStore) -> None:
        self.store = store
        self.spans: dict[str, list[dict]] = defaultdict(list)
        # time spent reading the status store: what tracing adds to an op
        self.overhead_s = 0.0

    def span(self, name: str, fn: Callable, *args, **kwargs):
        b0 = time.perf_counter()
        mark = self.store.snapshot()
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self.spans[name].append({"wall_s": t1 - t0, **self.store.since(mark)})
            self.overhead_s += time.perf_counter() - t1

    def wrap_method(self, cls: type, attr: str, name: str) -> Callable[[], None]:
        """Replace ``cls.attr`` with a traced version; returns the undo."""
        orig = getattr(cls, attr)
        tracer = self

        def traced(obj, *args, **kwargs):
            return tracer.span(name, orig, obj, *args, **kwargs)

        setattr(cls, attr, traced)
        return lambda: setattr(cls, attr, orig)

    def p50(self, name: str) -> float:
        """Median wall time of the ``name`` spans (0 when there were none)."""
        vals = [r["wall_s"] for r in self.spans.get(name, [])]
        return median(vals) if vals else 0.0

    def per_op(self, name: str, key: str, n_ops: int) -> float:
        if n_ops <= 0:
            return 0.0
        return sum(r.get(key, 0.0) for r in self.spans.get(name, [])) / n_ops


def layer_profile(tracer: Tracer, op_span: str) -> dict[str, float]:
    """Spark-layer split of the ``op_span`` spans: per-op jobs, tasks,
    executor run time, shuffle volume and driver overhead (op wall
    minus the time covered by its jobs)."""
    ops = tracer.spans.get(op_span, [])
    n = len(ops)
    if not n:
        return {}
    return {
        "spark.jobs_per_op": sum(r["jobs"] for r in ops) / n,
        "spark.tasks_per_op": sum(r["tasks"] for r in ops) / n,
        "spark.exec_run_s_per_op": sum(r["exec_run_s"] for r in ops) / n,
        "spark.shuffle_mb_per_op": sum(r["shuffle_mb"] for r in ops) / n,
        "driver.overhead_s_per_op": sum(
            max(0.0, r["wall_s"] - r["job_s"]) for r in ops
        )
        / n,
    }


# --- memory ------------------------------------------------------------------


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (``VmHWM``) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --- result comparison ----------------------------------------------------------


def normalize(rows, cols) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values stringified canonically (floats by
    ``repr``, NaN spelled out), rows sorted: the order-insensitive form
    ``tools/check_correctness.py`` compares, kept here so the benchmark
    does not depend on a tool script."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in idx], out


def result_digest(rows, cols) -> tuple[int, str]:
    """(row count, sha256 of the normalized rows and column names)."""
    ncols, nrows = normalize(rows, cols)
    h = hashlib.sha256(repr(ncols).encode())
    for r in nrows:
        h.update(repr(r).encode())
    return len(nrows), h.hexdigest()


def compare_results(name: str, got_rows, got_cols, want_rows, want_cols) -> str | None:
    """``None`` when both results hold the same rows (order-insensitive)
    under the same column names; otherwise a one-line mismatch report."""
    if sorted(got_cols) != sorted(want_cols):
        return f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"
    g = result_digest(got_rows, got_cols)
    w = result_digest(want_rows, want_cols)
    if g[0] != w[0]:
        return f"{name}: row count {g[0]} != {w[0]}"
    if g[1] != w[1]:
        return f"{name}: value hash differs ({g[1][:12]} != {w[1][:12]})"
    return None
