"""Round-14 optimization pins.

1. ``pca_fit(method='gram')`` now computes covariance AND mean from ONE
   aggregation job (concatenated partial lanes, driver-side IEEE math).
   Pin: bit-identical to the two-collect reference form.
2. ``ClusterMaintainer.merge_batch`` gained an adaptive driver-side
   small-batch tick. Pin: state committed by the local path equals the
   distributed path bit-for-bit across multi-tick merge histories
   (including alias folds), and the serve relation matches.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _vec_df(spark, n=60, dim=8, offset=0):
    comps = F.array(
        *[F.sin(0.37 * (F.col("id") + 1 + offset) * (j + 1)) for j in range(dim)]
    )
    return spark.range(n).select(
        (F.col("id") + 1 + offset).alias("vec_id"),
        comps.cast("array<float>").alias("embedding"),
    )


def test_pca_fit_gram_single_job_is_bit_identical(spark):
    import numpy as np

    from _data_engineering_pipeline_project_spark.operators.pca import (
        QUANT_SCALE,
        _gram_parts,
        covariance_pairs,
        pca_fit,
    )

    dim = 8
    emb = _vec_df(spark, n=60, dim=dim)
    new = pca_fit(emb, dim=dim, method="gram")

    # reference: the pre-r14 two-collect derivation
    rows = covariance_pairs(
        emb, "vec_id", "embedding", method="gram", dim=dim
    ).collect()
    cov = np.zeros((dim, dim))
    for r in rows:
        cov[r["dim_i"] - 1, r["dim_j"] - 1] = r["cov"]
        cov[r["dim_j"] - 1, r["dim_i"] - 1] = r["cov"]
    mean = (
        _gram_parts(emb, "vec_id", "embedding", dim)
        .select("n_part", F.posexplode("s_part").alias("i0", "vi"))
        .groupBy("i0")
        .agg(
            (
                F.sum(F.col("vi").cast("decimal(38,0)")).cast("double")
                / F.sum("n_part")
                / F.lit(float(QUANT_SCALE))
            ).alias("m")
        )
        .orderBy("i0")
        .collect()
    )
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]

    assert new["mean"] == [float(r["m"]) for r in mean]
    assert new["eigenvalues"] == [float(w[i]) for i in order]
    assert new["components"] == [
        [float(x) for x in v[:, i]] for i in order
    ]


def test_pca_fit_gram_empty_still_raises(spark):
    from _data_engineering_pipeline_project_spark.operators.pca import (
        pca_fit,
    )

    empty = _vec_df(spark, n=60, dim=4).filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty relation"):
        pca_fit(empty, dim=4, method="gram")


def _pair_batches(spark):
    """Three deterministic pair batches engineered to exercise every
    local-tick branch: new components, cross-batch merges (alias
    creation), and re-merges that re-resolve the alias map (fold)."""
    def pairs(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    return [
        pairs([(10, 20), (30, 40), (50, 60)]),
        # merges {10,20} with {30,40} (root 30 -> alias 30->10), new 70
        pairs([(20, 30), (70, 80)]),
        # merges {50,60} into {10..} via 40-50 (alias 50->10), and
        # re-resolves: also touches 70's cluster with a smaller id 5
        pairs([(40, 50), (5, 70)]),
    ]


def _assert_local_tick_equals_distributed(spark, tmp_path, batches):
    import _data_engineering_pipeline_project_spark.operators.dedup as dedup
    from _data_engineering_pipeline_project_spark.streaming.clustermaint import (
        ClusterMaintainer,
    )

    m_local = ClusterMaintainer(spark, str(tmp_path / "local"))
    for i, b in enumerate(batches):
        m_local.merge_batch(b, batch_id=i)

    # force the distributed path by shrinking the adaptive gate to 0
    # (this also pushes the embedded connected_components onto its
    # distributed label-propagation loop — the full machinery)
    orig = dedup._default_small_graph_edges

    def zero_gate(s):
        return 0

    dedup._default_small_graph_edges = zero_gate
    try:
        m_dist = ClusterMaintainer(spark, str(tmp_path / "dist"))
        for i, b in enumerate(batches):
            m_dist.merge_batch(b, batch_id=i)
    finally:
        dedup._default_small_graph_edges = orig

    got_local = sorted(tuple(r) for r in m_local.clusters().collect())
    got_dist = sorted(tuple(r) for r in m_dist.clusters().collect())
    assert got_local == got_dist

    # state files agree relation-by-relation (members rows and the
    # folded alias map, not just the served join)
    mem_l = sorted(tuple(r) for r in m_local.members().collect())
    mem_d = sorted(tuple(r) for r in m_dist.members().collect())
    assert mem_l == mem_d
    al_l = m_local.aliases()
    al_d = m_dist.aliases()
    assert (al_l is None) == (al_d is None)
    if al_l is not None:
        assert sorted(tuple(r) for r in al_l.collect()) == sorted(
            tuple(r) for r in al_d.collect()
        )
    assert m_local.version == m_dist.version
    return got_local, al_l


def test_cluster_maintainer_local_tick_equals_distributed(spark, tmp_path):
    got, _ = _assert_local_tick_equals_distributed(
        spark, tmp_path, _pair_batches(spark)
    )
    assert len(got) == 9  # nodes 5,10,20,30,40,50,60,70,80


def test_cluster_maintainer_local_tick_equals_distributed_two_batches(
    spark, tmp_path
):
    """Default-run twin of the three-batch pin: new components, then a
    cross-batch merge that creates the first alias."""
    got, aliases = _assert_local_tick_equals_distributed(
        spark, tmp_path, _pair_batches(spark)[:2]
    )
    assert len(got) == 8  # nodes 10,20,30,40,50,60,70,80
    assert [tuple(r) for r in aliases.collect()] == [(30, 10)]


def test_cluster_maintainer_local_tick_replay_and_empty(spark, tmp_path):
    from _data_engineering_pipeline_project_spark.streaming.clustermaint import (
        ClusterMaintainer,
    )

    m = ClusterMaintainer(spark, str(tmp_path / "cc"))
    b0 = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    m.merge_batch(b0, batch_id=0)
    v1 = m.version
    # replayed batch id: no-op
    m.merge_batch(b0, batch_id=0)
    assert m.version == v1
    # empty batch: version advances, no member/alias churn
    empty = b0.filter(F.col("doc_a") < 0)
    m.merge_batch(empty, batch_id=1)
    assert m.version == v1 + 1
    assert sorted(tuple(r) for r in m.clusters().collect()) == [
        (1, 1),
        (2, 1),
    ]
    # null endpoints are dropped like the distributed path
    nulls = spark.createDataFrame(
        [(3, None), (None, 4), (3, 4)], "doc_a long, doc_b long"
    )
    m.merge_batch(nulls, batch_id=2)
    assert sorted(tuple(r) for r in m.clusters().collect()) == [
        (1, 1),
        (2, 1),
        (3, 3),
        (4, 3),
    ]
    assert not os.path.exists(str(tmp_path / "cc" / "members_b1"))
