"""Round-9 regression tests: the VERDICT r8 / ADVICE r8 worklist.

- fan_out_if_narrow must NOT force-shuffle a few-LARGE-files corpus
  that FileScan already reads as many maxPartitionBytes splits
  (VERDICT r8 "what's wrong" #1 / ADVICE #2).
- salted_aggregate's default ordinal-mixed salt must be frozen before
  it becomes a shuffle key (ADVICE #1, SPARK-23207 class).
- explode_ordered_pairs: keep_cols pass-through + set semantics on
  inputs with duplicate elements (VERDICT #2 minor / ADVICE #5).
- PQ artifact served from a FRESH SparkSession (VERDICT next #5).
- Delta MERGE seam is env-gated with a loud NotImplementedError and a
  ready-to-enable e2e test (VERDICT next #7).
"""

from __future__ import annotations

import importlib.util
import re
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
PKG = Path(__file__).resolve().parent.parent / "_data_engineering_pipeline_project_spark"

_HAVE_DELTA = importlib.util.find_spec("delta") is not None


# --- fan_out_if_narrow width probe --------------------------------------


def test_fan_out_skips_large_splittable_file(spark, tmp_path):
    """One parquet file spanning many maxPartitionBytes splits is
    ALREADY parallel at scan time — the helper must return it untouched
    (no repartition = no full-corpus shuffle). Shrinks the split size
    in-conf so a ~1 MB file stands in for a 2 GB one."""
    from _data_engineering_pipeline_project_spark.operators import dedup as D

    # md5 strings are incompressible; one output file
    src = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )
    path = str(tmp_path / "one_big_file")
    src.coalesce(1).write.parquet(path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        scan = spark.read.parquet(path)
        files = scan.inputFiles()
        assert len(files) == 1  # the shape under test: few files, many splits
        out = D.fan_out_if_narrow(scan)
        assert out is scan, "few-large-files corpus was force-shuffled"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # same file under the DEFAULT split size is genuinely one split and
    # must still widen (the original purpose of the helper)
    scan2 = spark.read.parquet(path)
    dp = spark.sparkContext.defaultParallelism
    widened = D.fan_out_if_narrow(scan2)
    assert widened is not scan2
    assert widened.rdd.getNumPartitions() == dp
    assert widened.count() == 30_000


def test_fan_out_still_widens_large_unsplittable_gz(spark, tmp_path):
    """A huge stream-compressed text file is ONE scan partition no
    matter what bytes/maxPartitionBytes says — the byte estimate must
    not misclassify it as already-wide (code-review r9: the naive
    ceil(bytes/mpb) would regress exactly the case the helper exists
    for on .gz corpora)."""
    import gzip

    from _data_engineering_pipeline_project_spark.operators import dedup as D

    assert D._file_is_splittable("part-0.snappy.parquet")
    assert D._file_is_splittable("data.orc")
    assert D._file_is_splittable("plain.jsonl")
    assert not D._file_is_splittable("docs.jsonl.gz")
    assert not D._file_is_splittable("docs.csv.zst")

    gz = tmp_path / "docs.csv.gz"
    with gzip.open(gz, "wt") as f:
        for i in range(20_000):
            f.write(f"{i},{'x' * 40}\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # tiny split size: the raw byte estimate would be >> dp, but the
        # file is unsplittable so the true width is 1 -> must widen
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        scan = spark.read.csv(str(gz))
        out = D.fan_out_if_narrow(scan)
        assert out is not scan
        dp = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == dp
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# --- explode_ordered_pairs contract --------------------------------------


def test_explode_ordered_pairs_keep_cols_and_set_semantics(spark):
    from _data_engineering_pipeline_project_spark.operators.skew import (
        explode_ordered_pairs,
    )

    df = spark.createDataFrame(
        [("g1", [3, 1, 2, 3]), ("g2", [5, 5]), ("g3", [7])],
        "g string, ps array<int>",
    )
    out = explode_ordered_pairs(df, "ps", "a", "b", keep_cols=["g"])
    assert out.columns == ["g", "a", "b"]
    got = sorted((r["g"], r["a"], r["b"]) for r in out.collect())
    # duplicates removed up front: no a==b pair from [5,5], no repeated
    # (1,3)/(2,3) from the doubled 3
    assert got == [("g1", 1, 2), ("g1", 1, 3), ("g1", 2, 3)]
    bare = explode_ordered_pairs(df, "ps", "a", "b")
    assert bare.columns == ["a", "b"]  # documented drop-everything default


# --- salted_aggregate retry safety ----------------------------------------


def test_salted_aggregate_default_freezes_salted_frame(spark):
    """ADVICE r8 #1: without unique_cols the positional salt becomes a
    groupBy key, so the salted frame must be pinned (checkpoint →
    LogicalRDD scan in the plan) exactly as salted_join does; the
    explicit materialize=False opt-out keeps the raw lineage."""
    from _data_engineering_pipeline_project_spark.operators.skew import (
        salted_aggregate,
    )

    # spark.range → Range scan, so the ONLY possible LogicalRDD in any
    # plan below is the checkpoint itself (createDataFrame would itself
    # scan a LogicalRDD and mask the assertion)
    df = spark.range(41).select(
        F.when(F.col("id") < 40, F.lit(1)).otherwise(F.lit(2)).alias("k"),
        F.when(F.col("id") < 40, F.col("id").cast("double"))
        .otherwise(F.lit(9.0))
        .alias("v"),
    )
    partial = {"s": F.sum("v"), "c": F.count(F.lit(1))}
    final = {"total": F.sum("s"), "n": F.sum("c")}
    pinned = salted_aggregate(df, ["k"], partial, final)
    plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, "default path did not freeze the salt"
    unpinned = salted_aggregate(df, ["k"], partial, final, materialize=False)
    plan2 = unpinned._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan2
    want = {1: (sum(float(i) for i in range(40)), 40), 2: (9.0, 1)}
    for frame in (pinned, unpinned):
        got = {r["k"]: (r["total"], r["n"]) for r in frame.collect()}
        assert got == want
    # content salt needs no freeze: pure function of the named column
    content = salted_aggregate(
        df.withColumn("rid", F.col("v")), ["k"], partial, final,
        unique_cols=["rid"],
    )
    plan3 = content._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan3


def _call_spans(text: str, name: str):
    """Source spans of `name(...)` calls (balanced-paren scan)."""
    for m in re.finditer(rf"(?<!def ){name}\(", text):
        i, depth = m.end() - 1, 0
        for j in range(i, min(len(text), i + 4000)):
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
                if depth == 0:
                    yield text[m.start(): j + 1]
                    break


def test_lint_ordinal_salt_call_sites_are_retry_safe():
    """VERDICT r8 next #6: every in-package caller of the salt helpers
    must be explicit about retry safety — pass unique_cols (content
    salt), materialize (an explicit freeze decision), or be salted_join /
    salted_aggregate themselves (which now both auto-freeze the default).
    Guards future call sites; imports in tests are exempt by path."""
    offenders = []
    for py in PKG.rglob("*.py"):
        if py.name == "skew.py":
            continue  # the definitions themselves
        text = py.read_text()
        for fn in ("salted_aggregate", "_row_spread_salt"):
            for span in _call_spans(text, fn):
                if "unique_cols" not in span and "materialize" not in span:
                    offenders.append((str(py), fn, span[:120]))
    assert not offenders, offenders


# --- PQ artifact from a fresh session --------------------------------------


def test_load_pq_index_fresh_session_serves_identical(spark, tmp_path):
    """VERDICT r8 next #5: the r8 round-trip test reused the training
    session (whose memo still pinned the index). Here the memo is
    cleared and a NEW SparkSession loads the artifact — the served
    top-k must equal the training session's memoized result."""
    from _data_engineering_pipeline_project_spark.operators.similarity import (
        load_pq_index,
        pq_adc_topk,
        save_pq_index,
    )
    from _data_engineering_pipeline_project_spark.queries_ext import (
        clear_query_caches,
    )
    from _data_engineering_pipeline_project_spark.queries_ext4 import (
        _PQ_K,
        _PQ_M,
        _PQ_SD,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "pq_artifact")
    save_pq_index(emb, path, m=_PQ_M, sub_dim=_PQ_SD, ksub=_PQ_K)
    expected = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"], r["approx_d2"])
        for r in pq_adc_topk(
            emb, qs, k=5, m=_PQ_M, sub_dim=_PQ_SD, ksub=_PQ_K
        ).collect()
    )
    clear_query_caches()  # drop the training session's memoized index
    fresh = spark.newSession()
    cb, codes, params = load_pq_index(fresh, path)
    emb2 = fresh.read.parquet(f"{SF}/embeddings.parquet")
    qs2 = emb2.filter(F.col("vec_id") < 5)
    served = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"], r["approx_d2"])
        for r in pq_adc_topk(
            emb2, qs2, k=5, m=params["m"], sub_dim=params["sub_dim"],
            index=(cb, codes),
        ).collect()
    )
    assert served == expected


# --- round-9 primitive properties (hypothesis) -------------------------------


def test_zorderk_properties(spark):
    """zorderk is a bijection from k bit-lanes: decoding the key's bit
    positions recovers every lane exactly, for random lane values and
    k in {2, 3}. One Spark job per k over all generated rows."""
    import random

    from _data_engineering_pipeline_project_spark.functions.zorder import (
        zorderk,
    )

    rnd = random.Random(9)
    for k, bits in ((2, 16), (3, 10)):
        rows = [
            tuple(rnd.randrange(1 << bits) for _ in range(k))
            for _ in range(64)
        ]
        df = spark.createDataFrame(
            rows, ", ".join(f"c{j} long" for j in range(k))
        )
        got = df.select(
            *[F.col(f"c{j}") for j in range(k)],
            zorderk([F.col(f"c{j}") for j in range(k)], bits).alias("z"),
        ).collect()
        for r in got:
            z = r["z"]
            assert 0 <= z < (1 << (k * bits))
            for j in range(k):
                lane = sum(
                    ((z >> (i * k + j)) & 1) << i for i in range(bits)
                )
                assert lane == r[f"c{j}"], (k, j, r)


def test_quantized_properties(spark):
    """quantized() is bounded in [0, 2^bits-1], monotone in the input,
    and maps mn -> 0 / mx -> 2^bits - 1 exactly."""
    from _data_engineering_pipeline_project_spark.operators.layout import (
        quantized,
    )

    vals = [-1e6, -123.45, -1.0, 0.0, 0.5, 1.0, 99.99, 1e6]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    mn, mx = F.lit(min(vals)), F.lit(max(vals))
    got = [
        r["q"]
        for r in df.orderBy("v")
        .select(quantized(F.col("v"), mn, mx, 16).alias("q"))
        .collect()
    ]
    assert got[0] == 0 and got[-1] == 65535
    assert all(0 <= q <= 65535 for q in got)
    assert got == sorted(got)  # monotone


def test_explode_ordered_pairs_counts_property(spark):
    """|pairs| == C(n_distinct, 2) for arbitrary arrays (duplicates and
    unsorted order must not change the pair set)."""
    import random

    from _data_engineering_pipeline_project_spark.operators.skew import (
        explode_ordered_pairs,
    )

    rnd = random.Random(42)
    rows = []
    for g in range(30):
        vals = [rnd.randrange(12) for _ in range(rnd.randrange(0, 9))]
        rows.append((g, vals))
    df = spark.createDataFrame(rows, "g int, ps array<int>")
    got = explode_ordered_pairs(df, "ps", "a", "b", keep_cols=["g"]).collect()
    by_g: dict = {}
    for r in got:
        assert r["a"] < r["b"]
        by_g.setdefault(r["g"], set()).add((r["a"], r["b"]))
    for g, vals in rows:
        n = len(set(vals))
        want = n * (n - 1) // 2
        have = len(by_g.get(g, set()))
        assert have == want, (g, vals, have, want)


# --- BM25 index artifact ------------------------------------------------------


def test_bm25_index_serves_identical_scores_fresh_session(spark, tmp_path):
    """The lexical serving artifact (same discipline as the PQ index):
    tokenize once offline, persist postings/dictionary/doclens/stats,
    then a FRESH SparkSession serves BM25 from the artifact with scores
    identical to the direct corpus-scanning path — and the query-time
    postings scan decodes only the query bag's slice (row-group skip on
    the term-clustered layout), not the corpus-sized relation."""
    from _data_engineering_pipeline_project_spark.operators.ranking import (
        bm25_scores,
        bm25_scores_from_index,
        load_bm25_index,
        save_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    terms = ["the", "data", "pipeline"]
    expected = sorted(
        (r["doc_id"], r["bm25"])
        for r in bm25_scores(docs, terms).collect()
    )
    path = str(tmp_path / "bm25_index")
    save_bm25_index(docs, path, num_files=16)

    fresh = spark.newSession()
    idx = load_bm25_index(fresh, path)
    assert idx["params"]["id_col"] == "doc_id"
    assert idx["params"]["text_col"] == "text"
    assert idx["params"]["format"] == "dl-in-postings-v2"
    served = sorted(
        (r["doc_id"], r["bm25"])
        for r in bm25_scores_from_index(idx, terms).collect()
    )
    assert served == expected and len(served) > 0

    # inverted-list economics: the term-clustered postings scan skips
    # the row groups of every term NOT in the query bag
    total_postings = idx["postings"].count()
    decoded = _scan_output_rows(
        fresh, f"{path}/postings", F.col("term").isin(terms)
    )
    matched = idx["postings"].filter(F.col("term").isin(terms)).count()
    assert decoded >= matched
    assert decoded < total_postings / 2, (decoded, total_postings)


def test_zorder_key_nulls_cluster_at_origin(spark):
    """NULL values in a keyed column must not produce NULL z-keys
    (range partitioning would place them arbitrarily); they quantize to
    lane 0 and cluster together at the curve origin."""
    from _data_engineering_pipeline_project_spark.operators.layout import (
        with_zorder_key,
    )

    df = spark.createDataFrame(
        [(1, 10.0, 5), (2, None, 5), (3, 20.0, None), (4, None, None)],
        "id int, a double, b int",
    )
    rows = {r["id"]: r["z_key"] for r in with_zorder_key(df, ["a", "b"]).collect()}
    assert all(v is not None for v in rows.values())
    assert rows[4] == 0  # both lanes null -> curve origin


# --- Delta MERGE seam -------------------------------------------------------


def test_scd2_merge_into_without_delta_raises_cleanly(spark, tmp_path):
    if _HAVE_DELTA:
        pytest.skip("delta-spark present; covered by the e2e test")
    from _data_engineering_pipeline_project_spark.operators.scd2 import Scd2Table

    t = Scd2Table(spark, str(tmp_path / "dl"), ["id"])
    inc = spark.createDataFrame([(1, "a")], "id int, v string")
    with pytest.raises(NotImplementedError):
        t.merge_into(inc, datetime(2024, 1, 1))


# --- Z-order layout ---------------------------------------------------------


def _scan_output_rows(spark, path, pred) -> int:
    """Rows the parquet reader actually DECODED for a filtered read of
    ``path`` — the FileSourceScan's numOutputRows after row-group
    skipping on the pushed min/max filters (walked from the executed
    plan of this exact collect)."""
    df = spark.read.parquet(path).filter(pred)
    df.collect()

    def walk(node):
        rows = []
        for i in range(node.children().size()):
            rows += walk(node.children().apply(i))
        if "FileSourceScan" in node.getClass().getName():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    rows.append(kv._2().value())
        return rows

    return sum(walk(df._jdf.queryExecution().executedPlan()))


def test_write_zordered_narrows_file_stat_spans(spark, tmp_path):
    """The layout payoff, measured from the SAME parquet footer
    statistics a reader's pruning consults: after a z-ordered write on
    (c_acctbal, c_nationkey), every file's min/max span in EACH keyed
    dimension is a fraction of the full range (a contiguous z-range of
    fraction p spans ~sqrt(p) per dimension in 2D); a round-robin
    write of the same rows spans ~the whole range in every file, so
    nothing can ever be skipped."""
    pytest.importorskip("pyarrow")
    from _data_engineering_pipeline_project_spark.operators.layout import (
        file_stat_spans,
        write_zordered_quantized,
    )

    src = spark.read.parquet(f"{SF}/customer.parquet")
    zpath, rpath = str(tmp_path / "zord"), str(tmp_path / "rrobin")
    write_zordered_quantized(
        src, zpath, ["c_acctbal", "c_nationkey"], num_files=8
    )
    src.repartition(8).write.parquet(rpath)

    for col in ("c_acctbal", "c_nationkey"):
        z = file_stat_spans(spark, zpath, col)
        r = file_stat_spans(spark, rpath, col)
        assert len(z) == 8 and len(r) == 8
        zavg, ravg = sum(z) / len(z), sum(r) / len(r)
        # round-robin: every file spans ~the whole range (188-row files
        # can miss a few of nationkey's 25 distinct values, hence 0.75)
        assert ravg > 0.75, (col, ravg)
        assert zavg < 0.62, (col, zavg)  # z-order: ~sqrt(1/8) + quant noise
        assert zavg < ravg / 1.5, (col, zavg, ravg)

    # the layout changes bytes-on-disk order only, never content
    a = sorted(map(tuple, spark.read.parquet(zpath).collect()))
    b = sorted(map(tuple, src.collect()))
    assert a == b

    # RUNTIME proof, not just footer stats: the scan's numOutputRows is
    # what the parquet reader actually decoded AFTER row-group skipping
    # on the pushed min/max filters — far fewer rows under the z layout
    pred = (F.col("c_acctbal") > 9000) & (F.col("c_nationkey") < 3)
    true_n = src.filter(pred).count()
    z_rows = _scan_output_rows(spark, zpath, pred)
    r_rows = _scan_output_rows(spark, rpath, pred)
    assert z_rows >= true_n  # skipping never loses matches
    # at 150 rows a 19-row round-robin file occasionally gets an
    # accidental narrow span, so assert the RELATIVE skip, not that
    # round-robin decodes everything (it does at sf0.1: 15000 vs 1860,
    # measured in SCALE.md r9)
    assert r_rows > src.count() / 2
    assert z_rows < r_rows / 3, (z_rows, r_rows)
    assert (
        spark.read.parquet(zpath).filter(pred).count() == true_n
    )


@pytest.mark.skipif(not _HAVE_DELTA, reason="delta-spark not on classpath")
def test_scd2_merge_into_delta_e2e(spark, tmp_path):
    """Ready-to-enable: with the jar present, the Delta path must match
    the parquet-versioned path batch for batch (same snapshot rows, same
    history rows) while touching only changed keys transactionally."""
    from _data_engineering_pipeline_project_spark.operators.scd2 import Scd2Table

    pk = ["id"]
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    b2 = spark.createDataFrame([(1, "a2"), (3, "c")], "id int, v string")
    ts1, ts2 = datetime(2024, 1, 1), datetime(2024, 1, 2)

    ref = Scd2Table(spark, str(tmp_path / "parquet"), pk)
    ref.merge(b1, ts1)
    ref.merge(b2, ts2)

    dl = Scd2Table(spark, str(tmp_path / "delta"), pk)
    dl.merge_into(b1, ts1)
    dl.merge_into(b2, ts2)

    snap = spark.read.format("delta").load(str(tmp_path / "delta" / "delta_snapshot"))
    hist = spark.read.format("delta").load(str(tmp_path / "delta" / "delta_history"))
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(snap.select(*ref.current().columns)) == key(ref.current())
    assert key(hist.select(*ref.history().columns)) == key(ref.history())
