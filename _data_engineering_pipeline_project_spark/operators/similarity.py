"""Similarity search over embedding columns (array<float>).

Two paths:
- **brute-force top-k** — broadcast the query set, score every corpus
  vector with a codegen'd cosine (functions/vectors.py), reduce with a
  per-query row_number window. Exact; scales linearly (one scan, one
  shuffle of corpus×|Q| scored rows partitioned by query).
- **random-hyperplane LSH (IVF-style bucketing)** — deterministic
  hyperplanes derived from md5 bits; vectors bucketed by sign pattern;
  search only the query's bucket. Approximate; the 100 TB path — the
  candidate set per query is ~corpus/2^bits, independent of corpus size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark import memo
from _data_engineering_pipeline_project_spark.functions.cachetrack import (
    note_query_cache,
)
from _data_engineering_pipeline_project_spark.functions.vectors import (
    cosine_similarity,
    dot,
    dot_unrolled,
    l2_norm,
)


def topk_cosine_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Ranking ties are broken by neighbor id; the similarity is rounded to 6
    digits BEFORE ranking so both engines rank identical values (double
    accumulation order can differ in the last ulp across engines).
    ``dim`` is accepted for API stability but deliberately UNUSED: the
    corpus×queries join is non-equi (BroadcastNestedLoopJoin), which is
    outside whole-stage codegen, so the unrolled ``element_at`` chain
    runs interpreted node-by-node and measures ~3× SLOWER than the HOF
    fold's tight interpreted loop (sf0.1: 4.8 s vs 1.3 s for the scan).
    Both forms are the same left-to-right fold from the 0.0 seed —
    bit-identical doubles — so the choice is pure performance; unrolled
    stays the right form in codegen'd stages (equi-join LSH/PQ paths)."""
    _dot = dot
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        l2_norm(vec_col).alias("__qn"),
    )
    # corpus norm evaluated ONCE per vector below the join (identical
    # double to the inline form — dot/(l2(corpus)*l2(query)) — so
    # oracles are untouched); the |corpus|×|Q| stage does one dot each
    c = corpus.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("__cn")
    )
    scored = (
        c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                _dot(F.col(vec_col), F.col("__qvec"))
                / (F.col("__cn") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rnk")
    )


def cosine_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a<b) with cosine ≥ threshold.
    Brute-force O(n²) verification form — NOT registered as a query; it
    exists as the exact reference that ``lsh_dup_pairs`` (the registered,
    bucketed scale path) measures its recall against in pytest."""
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(
                cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification over an embedding
    column — the label-propagation / weak-annotation primitive a corpus
    pipeline uses to extend a small labeled seed set.

    Composes ``topk_cosine_bruteforce`` (broadcast query set, linear
    corpus scan — swap in the IVF/LSH variant for huge corpora; the vote
    stage is identical) with a neighbor-label join and a per-query
    majority window. Ties break to the smallest label; the k-th-rank tie
    is already pinned by the rounded-cosine/neighbor-id ordering inside
    the top-k. Vote counts are exact ints — cross-engine exact given the
    top-k sets match."""
    knn = topk_cosine_bruteforce(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col, dim=dim
    )
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col)
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("true_label"),
    )
    votes = (
        knn.join(labels, "neighbor_id")
        .groupBy("query_id", label_col)
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col(label_col)
    )
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            F.col(label_col).alias("predicted_label"),
            "n_votes",
        )
    )


def hyperplanes(dim: int, num_planes: int):
    """Deterministic ±1 hyperplane matrix from md5 of (plane, dim) —
    reproducible on any engine/cluster with no RNG state."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return np.array(
        [
            [1.0 if h60(f"plane:{p}:dim:{j}") % 2 == 0 else -1.0 for j in range(dim)]
            for p in range(num_planes)
        ]
    )


def lsh_bucket(vec_col, dim: int, num_planes: int = 8):
    """Sign-pattern bucket id in [0, 2^num_planes).

    Vectorized pandas UDF: the matrix of hyperplane dots per Arrow batch is
    one BLAS matmul — the pure-expression form (num_planes × dim literal
    folds) bloats codegen into multi-MB task binaries and dominates compile
    time. The planes matrix is a tiny closure constant shipped per task.
    """
    from pyspark.sql.types import IntegerType

    planes = hyperplanes(dim, num_planes)  # (p, dim)
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @F.pandas_udf(IntegerType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series(np.array([], dtype=np.int32))
        dots = mat @ planes.T  # (n, p)
        return pd.Series(((dots >= 0) @ weights).astype(np.int32))

    return _bucket(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def lsh_band_buckets(vec_col, dim: int, num_bands: int, planes_per_band: int):
    """Per-band sign-pattern bucket ids: array<int> of length ``num_bands``.

    One Arrow-batched matmul computes ALL ``num_bands × planes_per_band``
    hyperplane dots, then packs each band's sign bits into its bucket id.
    Plane ``band*planes_per_band + j`` uses the same md5-parity sign
    scheme as ``hyperplanes`` — reproducible on any engine, incl. the SQL
    oracle."""
    from pyspark.sql.types import ArrayType, IntegerType

    total = num_bands * planes_per_band
    planes = hyperplanes(dim, total)  # (total, dim)
    weights = (1 << np.arange(planes_per_band)).astype(np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        bits = (mat @ planes.T >= 0).reshape(-1, num_bands, planes_per_band)
        buckets = (bits @ weights).astype(np.int32)  # (n, num_bands)
        return pd.Series(list(buckets))

    return _buckets(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def lsh_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    num_bands: int = 8,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs, LSH-bucketed — the 100 TB path.

    Banded OR-construction (same shape as MinHash LSH in operators/
    dedup.py): candidates are pairs sharing ANY band's sign-pattern
    bucket — a (band, bucket) EQUI-join, never a theta join — deduped
    once, then exact-cosine verified. Per band the pairwise work is
    quadratic only in bucket width (~n/2^planes_per_band), and the
    verify stage touches each candidate pair exactly once. Candidate
    recall is 1-(1-p^r)^B with p = 1-θ/π; same output contract as
    ``cosine_dup_pairs`` (the brute-force form, kept as the pytest
    recall reference).

    SCALING THE PARAMETERS (measured, r7): bucket width is
    ~n/2^planes_per_band, so pair volume per band grows QUADRATICALLY
    in the corpus at FIXED planes_per_band — a 100× corpus through the
    registered 4-planes/16-bucket setting is ~10⁴× the pairs (the 200k-
    vector run OOM'd on exactly that). The primary control is
    planes_per_band ≈ log2(n / target_bucket_width); ``max_bucket_width``
    is the hard backstop against residual skew (degenerate vectors that
    pile into one sign pattern): buckets wider than the cap are DROPPED
    before the self-join — the ``drop_hot_shingles`` move. Unlike hot
    shingles, a wide LSH bucket can hold true pairs, so the cap trades
    bounded work for recall on the skewed slice; pairs whose vectors
    also share a non-capped band are still found (OR-construction)."""
    b = emb.select(
        F.col(id_col),
        F.posexplode(
            lsh_band_buckets(vec_col, dim, num_bands, planes_per_band)
        ).alias("band", "bucket"),
    ).cache()  # both self-join sides read it — bucket UDF runs ONCE
    if max_bucket_width is not None:
        wide = (
            b.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__w"))
            .filter(F.col("__w") > max_bucket_width)
            .select("band", "bucket")
        )
        # anti join, not a width column + filter: the wide set is
        # tiny (AQE broadcasts it) and the cached explode is reused
        b = b.join(wide, ["band", "bucket"], "left_anti")
    cand = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
        )
        .distinct()  # a pair sharing k bands is verified ONCE
    )
    # norms evaluated once per vector in the projections BELOW the join
    # (sqrt(dot(v,v)) is the same double inline or precomputed, so the
    # oracle is unchanged); the per-candidate work is one dot + a divide
    va = emb.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("__va"),
        l2_norm(vec_col).alias("__na"),
    )
    vb = emb.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("__vb"),
        l2_norm(vec_col).alias("__nb"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ivf_seed_centroids(
    corpus: DataFrame,
    num_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF seed centroids: the ``num_centroids`` corpus
    vectors with the smallest md5(id) digest (a portable uniform sample —
    the same rows on any engine, cf. operators/sampling.py).

    ``orderBy(...).limit(C)`` compiles to TakeOrderedAndProject — each
    scan task keeps its local top-C, the driver merges C-sized heaps, so
    seeding never shuffles the corpus. Real IVF would Lloyd-iterate from
    these seeds; the seed-only variant keeps the partition/probe geometry
    (and is exactly reproducible in the SQL oracle).
    """
    h = F.md5(F.col(id_col).cast("string"))
    seeds = (
        corpus.select(F.col(id_col), F.col(vec_col), h.alias("__h"))
        .orderBy("__h", id_col)
        .limit(num_centroids)
    )
    w = Window.orderBy("__h", F.col(id_col))
    return seeds.select(
        F.row_number().over(w).cast("int").alias("centroid_id"),
        F.col(vec_col).alias("__cvec"),
    )


def _nearest_centroid_scores(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-score every row against the (broadcast) centroid table with
    the codegen'd cosine, rounded to 6 digits before any ranking so both
    engines rank identical values. Norms are evaluated once per row /
    per centroid below the cross join (same doubles as the inline form,
    so oracle arithmetic is unchanged) instead of once per row×centroid.
    ``carry`` names metadata columns to keep alongside (r12: the
    filtered-ANN label rides the assignment instead of a second
    corpus-sized join)."""
    cent = centroids.withColumn("__cn", l2_norm("__cvec"))
    rows = df.withColumn("__vn", l2_norm(vec_col))
    return rows.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(c) for c in carry],
        F.col("centroid_id"),
        F.round(
            dot(F.col(vec_col), F.col("__cvec"))
            / (F.col("__vn") * F.col("__cn")),
            6,
        ).alias("__cos"),
    )


def ivf_lloyd_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd iterations over the seed centroids: assign every vector to
    its nearest centroid (broadcast cross-score + ``max_by`` — the same
    one-row-per-vector shuffle as IVF assignment), then recompute each
    centroid as the component-wise mean of its members via posexplode →
    per-(centroid, dim) avg → re-collect in dim order. Per iteration:
    one assignment pass + one mean aggregate whose shuffle is
    |corpus|·dim rows of (cid, pos, x) — linear, no pairwise work.
    Empty clusters keep their previous centroid (coalesce on the join
    back). Centroid count stays tiny, so each refined table re-broadcasts."""
    cur = centroids
    for _ in range(iters):
        assigned = (
            _nearest_centroid_scores(corpus, cur, id_col, vec_col)
            .groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(
                        F.col("centroid_id").alias("cid"),
                        F.col(vec_col).alias("vec"),
                    ),
                    F.struct(
                        F.col("__cos").alias("c"),
                        (-F.col("centroid_id")).alias("n"),
                    ),
                ).alias("__best")
            )
            .select(
                F.col("__best.cid").alias("centroid_id"),
                F.col("__best.vec").alias(vec_col),
            )
        )
        means = (
            assigned.select(
                "centroid_id", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("__new")
            )
        )
        cur = (
            cur.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("__new", "__cvec").alias("__cvec"),
            )
        )
    return cur


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus → nearest centroid list: broadcast cross-score +
    ``max_by`` hash aggregate — partial aggregation combines
    per-partition, so the shuffle moves ONE row per corpus vector,
    never the corpus×centroids product. The argmax struct order
    (cosine, -centroid_id) equals SQL's row_number() ORDER BY cos DESC,
    centroid_id ASC. Returns (id, centroid_id, vec, *carry) — carried
    metadata columns ride the same aggregate struct, so filtered ANN
    pays no second corpus join to re-attach them."""
    return (
        _nearest_centroid_scores(corpus, centroids, id_col, vec_col, carry)
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(
                    F.col("centroid_id").alias("cid"),
                    F.col(vec_col).alias("vec"),
                    *[F.col(c).alias(f"m{i}") for i, c in enumerate(carry)],
                ),
                F.struct(
                    F.col("__cos").alias("c"),
                    (-F.col("centroid_id")).alias("n"),
                ),
            ).alias("__best")
        )
        .select(
            F.col(id_col),
            F.col("__best.cid").alias("centroid_id"),
            F.col("__best.vec").alias(vec_col),
            *[
                F.col(f"__best.m{i}").alias(c)
                for i, c in enumerate(carry)
            ],
        )
    )


def semantic_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.5,
    num_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    by nearest IVF centroid, then compute exact cosine only WITHIN each
    cluster (Abbas et al. 2023 — semantic dedup prunes the pair space by
    clustering first; cross-cluster pairs are by construction far).

    The within-cluster self-join is an equi-join on centroid_id, so the
    quadratic stage is bounded per cluster (~|corpus|/C wide on
    balanced lists); scale C with the corpus (C ≈ √n keeps per-cluster
    work flat) and feed ``ivf_lloyd_refine``-ed centroids when list
    skew matters. Fully deterministic (seeded centroids, rounded
    cosines) → exact SQL-oracle parity."""
    centroids = ivf_seed_centroids(emb, num_centroids, id_col, vec_col)
    # cached: both self-join sides read it — without this the cross-score
    # + max_by assignment runs twice (verified: 8 scans, no ReusedExchange).
    # The L2 norm is precomputed per VECTOR (n sqrt-of-self-dot evals)
    # rather than inline per PAIR (~n²/C evals of 2 array folds each):
    # sqrt(dot(v,v)) is the same double either way, so oracle parity is
    # untouched while the quadratic stage drops to one dot + one divide.
    assigned = note_query_cache(
        ivf_assign(emb, centroids, id_col, vec_col)
        .withColumn("__nrm", l2_norm(vec_col))
        .cache()
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col("a.centroid_id").alias("centroid_id"),
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(
                (
                    dot_unrolled(
                        F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"), dim
                    )
                    if dim
                    else dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                )
                / (F.col("a.__nrm") * F.col("b.__nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def topk_cosine_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    refine_iters: int = 0,
) -> DataFrame:
    """Approximate top-k cosine via IVF (inverted-file) partitioning.

    Plan shape (the 100 TB path): centroids are broadcast, so corpus
    assignment is a map-side cross-score + ``max_by`` hash aggregate —
    partial aggregation combines per-partition, shuffling ONE row per
    corpus vector (never the corpus×centroids product). Queries probe
    their ``nprobe`` nearest lists; candidates are corpus∩probed-lists
    via a broadcast equi-join on centroid_id, so scored-candidate volume
    is ~|corpus|·nprobe/num_centroids per query instead of |corpus|.

    Fully deterministic (seeded centroids, 6-digit rounding, id
    tie-breaks) → exact DuckDB-oracle parity, unlike hash-bucket LSH
    whose recall is only measured statistically.
    """
    centroids = ivf_seed_centroids(corpus, num_centroids, id_col, vec_col)
    if refine_iters > 0:
        # Lloyd-refined lists balance cluster sizes → tighter candidate
        # volume per probe; refinement is iterative (rows-only check)
        centroids = ivf_lloyd_refine(
            corpus, centroids, refine_iters, id_col, vec_col
        )

    assigned = ivf_assign(corpus, centroids, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col("centroid_id")
    )
    probes = (
        _nearest_centroid_scores(q, centroids, query_id_col, "__qvec")
        .withColumn("__rnk", F.row_number().over(wq))
        .filter(F.col("__rnk") <= nprobe)
        .select(
            query_id_col,
            "__qvec",
            "centroid_id",
            l2_norm("__qvec").alias("__qn"),
        )
    )

    scored = (
        assigned.withColumn("__cn", l2_norm(vec_col))
        .join(F.broadcast(probes), on="centroid_id")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col(vec_col), F.col("__qvec"))
                / (F.col("__cn") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rnk")
    )


def topk_cosine_ivf_filtered(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """FILTERED IVF top-k (VERDICT r11 #3): restrict neighbors to the
    query's own ``filter_col`` class INSIDE the index walk — the way
    real vector stores filter, not by post-filtering a top-k (which
    returns < k, or nothing, when the predicate is selective).

    Plan shape: the metadata column rides the assignment aggregate
    (``ivf_assign(carry=...)`` — no second corpus join), and the class
    equality is part of the probe JOIN CONDITION, so non-matching
    vectors drop inside the broadcast hash join BEFORE any candidate
    cosine is computed. Candidate volume per query is
    ~|class ∩ probed lists| instead of ~|probed lists| — the predicate
    cuts work instead of results. Quantizer geometry (seeds,
    assignment, probe ranking) is IDENTICAL to the unfiltered IVF:
    filtering changes which candidates are scored, never where vectors
    live — so one index serves every predicate."""
    centroids = ivf_seed_centroids(corpus, num_centroids, id_col, vec_col)
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, carry=(filter_col,)
    )

    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col(filter_col).alias("__qfilter"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col("centroid_id")
    )
    probes = (
        _nearest_centroid_scores(
            q, centroids, query_id_col, "__qvec", carry=("__qfilter",)
        )
        .withColumn("__rnk", F.row_number().over(wq))
        .filter(F.col("__rnk") <= nprobe)
        .select(
            query_id_col,
            "__qvec",
            "__qfilter",
            F.col("centroid_id").alias("__pcid"),
            l2_norm("__qvec").alias("__qn"),
        )
    )

    scored = (
        assigned.withColumn("__cn", l2_norm(vec_col))
        .join(
            F.broadcast(probes),
            (F.col("centroid_id") == F.col("__pcid"))
            & (F.col(filter_col) == F.col("__qfilter")),
        )
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.col(filter_col),
            F.round(
                dot(F.col(vec_col), F.col("__qvec"))
                / (F.col("__cn") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            filter_col,
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def topk_cosine_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket equi-join, exact cosine
    within the bucket. Recall measured against brute force in tests."""
    c = corpus.withColumn(
        "__bucket", lsh_bucket(vec_col, dim, num_planes)
    ).withColumn("__cn", l2_norm(vec_col))
    q = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            l2_norm(vec_col).alias("__qn"),
        )
        .withColumn("__bucket", lsh_bucket("__qvec", dim, num_planes))
    )
    scored = (
        c.join(F.broadcast(q), on="__bucket")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                # dim is known here: unrolled codegen dot, fold-identical
                dot_unrolled(F.col(vec_col), F.col("__qvec"), dim)
                / (F.col("__cn") * F.col("__qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rnk")
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    amax_df: DataFrame | None = None,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column: global symmetric
    scale = max(|x|)/127, each component rounded to [-127, 127] — a 4×
    memory/IO cut for a 100 TB embedding store (float32 → int8), the
    standard first rung before PQ/OPQ.

    ``amax_df`` lets callers quantize against an EXTERNAL codebook (a
    1-row (__amax) frame) — required whenever two frames must live in
    the same quantized space: queries scored against a quantized corpus
    MUST use the corpus scale, or each side rounds against its own max
    and identical vectors get different codes (the bug this parameter
    fixed: separate scales happened to coincide at one test scale and
    diverged at another). Out-of-codebook components (|x| > amax) are
    the caller's concern.

    Plan: one aggregate computes the global max-abs (broadcast back as a
    1-row cross join), one projection quantizes via transform() —
    all JVM-side, no shuffle beyond the scalar agg. Returns
    (id, qvec array<tinyint>, scale double); dequantize ≈ qvec * scale."""
    amax = (
        amax_df
        if amax_df is not None
        else df.select(
            F.max(
                F.aggregate(
                    F.transform(vec_col, lambda x: F.abs(x)),
                    F.lit(0.0),
                    lambda acc, x: F.greatest(acc, x),
                )
            ).alias("__amax")
        )
    )
    return (
        df.crossJoin(F.broadcast(amax))
        .select(
            id_col,
            F.transform(
                vec_col,
                lambda x: F.round(x / F.col("__amax") * 127).cast("tinyint"),
            ).alias("qvec"),
            (F.col("__amax") / 127).alias("scale"),
        )
    )


def topk_cosine_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — same plan shape as
    the float path (broadcast queries, scored scan, per-query window) but
    the corpus side reads 4× fewer bytes. Symmetric quantization
    preserves cosine ORDER well (test pins recall vs the exact path);
    scale factors cancel in the cosine ratio.

    Queries are quantized against the CORPUS codebook (one shared
    scale): quantizing each side against its own max gives identical
    vectors different codes whenever the two maxes differ."""
    corpus_amax = corpus.select(
        F.max(
            F.aggregate(
                F.transform(vec_col, lambda x: F.abs(x)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
        ).alias("__amax")
    )
    # int dot products / int norms — exact integer math until the ratio
    dot = F.aggregate(
        F.zip_with("qvec", "__qvec", lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    # norms hoisted below the BroadcastNestedLoopJoin: evaluated once
    # per ROW (sqrt of the same exact-integer self-dot, so the per-pair
    # double is unchanged) instead of once per pair
    qz = quantize_int8(corpus, id_col, vec_col, amax_df=corpus_amax).withColumn(
        "__cn", norm(F.col("qvec"))
    )
    qq = quantize_int8(
        queries, id_col, vec_col, amax_df=corpus_amax
    ).select(
        F.col(id_col).alias(query_id_col),
        F.col("qvec").alias("__qvec"),
        norm(F.col("qvec")).alias("__qn"),
    )
    scored = (
        qz.join(F.broadcast(qq), F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(dot / (F.col("__cn") * F.col("__qn")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN: subspace codebooks + asymmetric distance
# ---------------------------------------------------------------------------
def _sq_l2(a, b, dim: int | None = None):
    """Squared L2 distance in the EXPANDED form ``<a,a> − 2<a,b> + <b,b>``
    — three sequential-fold dots and fixed-order arithmetic, so the
    DuckDB twin (list_dot_product with the same expression) is
    bit-identical before rounding. When ``dim`` is known the dots
    unroll into codegen (`dot_unrolled` — bit-identical association,
    ~4x faster than the interpreted HOF lambda on the encode path)."""
    if dim is not None:
        return (
            dot_unrolled(a, a, dim)
            - 2 * dot_unrolled(a, b, dim)
            + dot_unrolled(b, b, dim)
        )
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def _subspaces(df: DataFrame, vec_col, out_col: str, m: int, sub_dim: int):
    arr = F.array(
        *[F.slice(F.col(vec_col), 1 + sub_dim * s, sub_dim) for s in range(m)]
    )
    return df.select(
        "*", F.posexplode(arr).alias("subspace", out_col)
    ).drop(vec_col)


# (session, corpus-plan semanticHash, m, sub_dim, ksub, id, vec)
# → (codebooks, codes). The codebook training (TakeOrdered
# seed scan) and the corpus encode are IDENTICAL computations for every
# PQ-family query over the same corpus+params — pq_adc_topk and
# ivfpq_topk each rebuilt both (2-3 s each at sf0.1). Memoizing the
# index is exactly "build the PQ index once per session": a
# production vector store persists codebooks+codes as the index
# artifact (cf. streaming/annmaint.py for the incremental form); the
# codes frame is corpus×m rows — the same bytes the stored index
# occupies.
def pq_index_shared(
    corpus: DataFrame,
    m: int,
    sub_dim: int,
    ksub: int,
    id_col: str,
    vec_col: str,
) -> tuple:
    """Session-memoized (codebooks, codes) for a corpus+params
    (``memo.py``). A corpus whose plan cannot be fingerprinted is built
    fresh; its tempdir is still released with the memo.

    r14 (VERDICT r13 #5): the memoized frames are parquet artifacts
    (write once, read back with the known schema) instead of
    localCheckpoint pins — same job count to build, but the serving
    scans are column-prunable three-node plans, nothing stays pinned in
    the block manager for the session, and the artifact survives
    executor loss (localCheckpoint blocks do not) — it IS
    ``save_pq_index``'s production form, kept in a session tempdir."""
    import shutil
    import tempfile

    spark = corpus.sparkSession

    def key() -> tuple:
        # the plan hash alone is UNCHANGED when the underlying parquet
        # path is overwritten or appended to in-session (ADVICE r8 #4 —
        # stale codebooks would be served for the new data), so mix in
        # the resolved file listing: parquet overwrite/append writes new
        # part-file names, so any in-session data change changes the
        # fingerprint. Metadata-only (the listing is already resolved in
        # the plan). Non-file corpora hash to the empty tuple — for
        # those the memo still assumes an immutable plan, which holds
        # for every in-repo caller (all read parquet).
        return (
            "pq_index",
            corpus._jdf.queryExecution().analyzed().semanticHash(),
            hash(tuple(sorted(corpus.inputFiles()))),
            m,
            sub_dim,
            ksub,
            id_col,
            vec_col,
        )

    def build() -> tuple:
        tmpdir = tempfile.mkdtemp(prefix="pq_index_")
        cb0 = pq_codebooks(corpus, m, sub_dim, ksub, id_col, vec_col)
        cb0.write.mode("overwrite").parquet(f"{tmpdir}/codebooks")
        cb = spark.read.schema(cb0.schema).parquet(f"{tmpdir}/codebooks")
        codes0 = pq_encode(corpus, cb, m, sub_dim, id_col, vec_col)
        codes0.write.mode("overwrite").parquet(f"{tmpdir}/codes")
        codes = spark.read.schema(codes0.schema).parquet(f"{tmpdir}/codes")
        return cb, codes, tmpdir

    cb, codes, _tmpdir = memo.get(
        spark, key, build, lambda v: shutil.rmtree(v[2], ignore_errors=True)
    )
    return cb, codes


def save_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    sub_dim: int = 16,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the PQ index as a parquet artifact: ``path/codebooks``
    (subspace, code, cvec — m·ksub rows), ``path/codes`` (id, subspace,
    code — m rows per corpus vector, the 32×-compressed scan relation)
    and ``path/params`` (one row pinning m/sub_dim/ksub and the column
    names, so a loader cannot silently query with mismatched geometry).

    This is the batch counterpart of the session memo
    (``pq_index_shared``) and the incremental IVF maintainer
    (streaming/annmaint.py): train the index ONCE in an offline job,
    then any later session serves ``pq_adc_topk(index=load_pq_index())``
    queries against the stored codes without touching a full-precision
    vector — the codes relation is the only thing the query-time scan
    reads, so at 100 TB the serving job's input is corpus/32."""
    cb, codes = pq_index_shared(corpus, m, sub_dim, ksub, id_col, vec_col)
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    from _data_engineering_pipeline_project_spark.functions.localrel import (
        local_df,
    )

    local_df(
        corpus.sparkSession,
        [(m, sub_dim, ksub, id_col, vec_col)],
        "m int, sub_dim int, ksub int, id_col string, vec_col string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_pq_index(spark, path: str) -> tuple:
    """Load a :func:`save_pq_index` artifact → (codebooks, codes,
    params dict). Pass ``(codebooks, codes)`` to ``pq_adc_topk(...,
    index=...)`` with the params row's geometry — the loaded frames are
    plain parquet scans with no lineage back to the training corpus.
    Fails loudly on a missing/truncated/foreign params relation
    (adversarial-artifact sweep r11): serving ADC against garbage
    geometry would be silently-wrong distances, never an error."""
    try:
        params = spark.read.parquet(f"{path}/params").collect()[0].asDict()
    except Exception as e:
        raise ValueError(
            f"not a PQ index artifact at {path}: params relation "
            f"missing or unreadable ({type(e).__name__}) — rebuild with "
            "save_pq_index"
        ) from e
    if not all(
        isinstance(params.get(f), int) and params.get(f) > 0
        for f in ("m", "sub_dim", "ksub")
    ) or not all(params.get(f) for f in ("id_col", "vec_col")):
        raise ValueError(
            f"not a PQ index artifact at {path}: params row {params!r} "
            "lacks positive m/sub_dim/ksub and id_col/vec_col — rebuild "
            "with save_pq_index"
        )
    return (
        spark.read.parquet(f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes"),
        params,
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: per subspace, the ``ksub`` subvectors
    of the smallest-md5(id) corpus rows (the same portable seeding as
    ``ivf_seed_centroids`` — TakeOrdered, never a corpus shuffle).
    Output: (subspace, code, cvec). Real PQ would Lloyd-iterate each
    subspace independently; seed-only keeps the code geometry exactly
    reproducible in the SQL oracle."""
    h = F.md5(F.col(id_col).cast("string"))
    seeds = (
        corpus.select(F.col(id_col), F.col(vec_col), h.alias("__h"))
        .orderBy("__h", id_col)
        .limit(ksub)
    )
    w = Window.orderBy("__h", F.col(id_col))
    coded = seeds.select(
        F.row_number().over(w).cast("int").alias("code"),
        F.col(vec_col).alias("__svec"),
    )
    return _subspaces(coded, "__svec", "cvec", m, sub_dim)


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector as ``m`` one-byte-ish codes: per
    subspace, the codebook entry with minimal squared L2 (rounded at 6
    before the argmin; ties broken by code id). The corpus is read ONCE,
    cross-scored against the BROADCAST codebooks map-side, and the
    argmin is a per-(vector, subspace) window over ksub rows — at
    100 TB this is the classic 'corpus never shuffles, codebook
    travels' shape, and the stored codes are m·log2(ksub) bits per
    vector (the 32× compression that makes exhaustive ADC scans
    affordable)."""
    sub = _subspaces(corpus.select(id_col, vec_col), vec_col, "svec", m, sub_dim)
    scored = sub.join(F.broadcast(codebooks), "subspace").select(
        id_col,
        "subspace",
        "code",
        F.round(_sq_l2(F.col("svec"), F.col("cvec"), sub_dim), 6).alias("d2"),
    )
    # argmin via min_by over struct (d2, code) — a hash aggregate that
    # partial-aggregates map-side and shuffles ONE row per (vector,
    # subspace), vs a row_number window that would sort all ksub
    # candidate rows per cell. An array-domain argmin (transform over a
    # collected codebook array) was MEASURED 2x SLOWER here: the
    # 64-element lambda re-evaluates the fold-dot expression tree per
    # element with no CSE — the documented no-CSE-inside-lambdas
    # pitfall. The struct order (d2 asc, code asc) is the deterministic
    # tie-break, identical in the SQL oracle.
    return (
        scored.groupBy(id_col, "subspace")
        .agg(
            F.min_by(
                F.col("code"), F.struct(F.col("d2"), F.col("code"))
            ).alias("code")
        )
        .select(id_col, "subspace", "code")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    sub_dim: int = 16,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: tuple | None = None,
) -> DataFrame:
    """Approximate top-k nearest neighbors via PQ asymmetric distance
    computation (ADC): each query precomputes a (subspace × code)
    distance table against the codebooks — m·ksub numbers per query —
    and every corpus vector's approximate distance is the SUM of m
    table lookups on its stored codes. No full-precision vector is
    touched at query time: the scan reads only the code columns.

    ``index``: an optional pre-built ``(codebooks, codes)`` pair — e.g.
    from :func:`load_pq_index` — served as-is; ``m``/``sub_dim`` must
    match the geometry the index was trained with (the artifact's
    params row records it) and ``corpus`` is then never touched.

    Parity engineering: per-lookup distances are fixed-pointed
    (``round(d2,6)·1e6`` as bigint) so the per-pair sum over m terms is
    exact integer arithmetic — the ranking key ``s_fp`` is an integer,
    immune to accumulation order. Smallest distance wins; ties by
    neighbor id."""
    if index is not None:
        cb, codes = index
    else:
        # session-memoized PQ index: codebooks + codes are shared with
        # every other PQ-family query over the same corpus+params
        # (ivfpq_topk) — built once per session, as a store persists it
        cb, codes = pq_index_shared(corpus, m, sub_dim, ksub, id_col, vec_col)
    qsub = _subspaces(
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col)),
        vec_col,
        "qsvec",
        m,
        sub_dim,
    )
    dtab = qsub.join(F.broadcast(cb), "subspace").select(
        query_id_col,
        "subspace",
        "code",
        F.round(F.round(_sq_l2(F.col("qsvec"), F.col("cvec"), sub_dim), 6) * 1000000)
        .cast("bigint")
        .alias("d2_fp"),
    )
    scored = (
        codes.join(F.broadcast(dtab), ["subspace", "code"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d2_fp").alias("s_fp"))
    )
    w = Window.partitionBy(query_id_col).orderBy("s_fp", id_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(F.col("s_fp") / 1000000.0, 6).alias("approx_d2"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 2,
    m: int = 32,
    sub_dim: int = 2,
    ksub: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: tuple | None = None,
) -> DataFrame:
    """IVFADC — the production ANN composition (coarse inverted lists ×
    product-quantized codes): queries probe their ``nprobe`` nearest
    IVF lists, and ONLY vectors in probed lists are scored, via PQ
    table lookups instead of full-precision vectors. Cost per query is
    ``(corpus·nprobe/num_centroids)`` candidate rows × m integer adds —
    both the candidate volume (IVF) and the bytes per candidate (PQ)
    are cut, which is exactly the memory-bandwidth economics of a
    100 TB vector store. All stages reuse the family's deterministic
    seeding and fixed-point ADC, so even the composed operator is
    hash-parity checkable.

    ``index``: an optional pre-built ``(centroids, assigned,
    codebooks, codes)`` quadruple — e.g. the maintained relations of
    ``streaming/ivfopqmaint.py`` — served as-is; ``corpus`` is then
    never touched and ``queries`` must already live in the index's
    vector space (the maintainer rotates them first)."""
    if index is not None:
        centroids, assigned, cb, codes = index
        assigned = assigned.select(id_col, "centroid_id")
    else:
        centroids = ivf_seed_centroids(corpus, num_centroids, id_col, vec_col)
        assigned = ivf_assign(corpus, centroids, id_col, vec_col).select(
            id_col, "centroid_id"
        )
        # session-memoized PQ index shared with pq_adc_topk (same
        # corpus+params -> identical codebooks and codes)
        cb, codes = pq_index_shared(corpus, m, sub_dim, ksub, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col("centroid_id")
    )
    probes = (
        _nearest_centroid_scores(q, centroids, query_id_col, "__qvec")
        .withColumn("__rnk", F.row_number().over(wq))
        .filter(F.col("__rnk") <= nprobe)
        .select(query_id_col, "centroid_id")
    )
    qsub = _subspaces(
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col)),
        vec_col,
        "qsvec",
        m,
        sub_dim,
    )
    dtab = qsub.join(F.broadcast(cb), "subspace").select(
        query_id_col,
        "subspace",
        "code",
        F.round(F.round(_sq_l2(F.col("qsvec"), F.col("cvec"), sub_dim), 6) * 1000000)
        .cast("bigint")
        .alias("d2_fp"),
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id").select(
        query_id_col, id_col
    )
    if index is not None:
        # maintained lists are at-least-once appends (a crash between
        # the codes commit and the outer pointer can re-append a
        # batch's assignments); assignment is deterministic, so exact
        # duplicates collapse here — a distinct on the CANDIDATE
        # sliver (post-probe), never on the corpus-sized lists
        cand = cand.distinct()
    scored = (
        cand.filter(F.col(query_id_col) != F.col(id_col))
        .join(codes, id_col)
        .join(F.broadcast(dtab), [query_id_col, "subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("d2_fp").alias("s_fp"))
    )
    w = Window.partitionBy(query_id_col).orderBy("s_fp", id_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(F.col("s_fp") / 1000000.0, 6).alias("approx_d2"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def matryoshka_scores(
    corpus: DataFrame,
    queries: DataFrame,
    cuts: tuple[int, ...] = (8, 16, 32, 64),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Cosine at EVERY prefix-dimension cut from ONE corpus×queries
    pass — the scoring core of the matryoshka (MRL) truncation audit.

    A matryoshka-trained embedding packs coarse-to-fine information
    into dimension prefixes, so serving can truncate vectors (¼ the
    bytes, ¼ the dot-product work) IF retrieval quality holds; this
    relation is how you find out. Instead of re-scanning the corpus
    per cut, each pair computes one dot per SEGMENT between cuts
    (``[1..8], [9..16], [17..32], [33..64]`` — the same total element
    work as a single full dot) and prefixes accumulate left-to-right:
    ``dot_16 = seg1 + seg2``. Per-vector segment square-norms are
    evaluated once BELOW the join (the topk_cosine_bruteforce norm
    discipline). The segmented association is mirrored literally in
    the SQL twin (``list_dot_product(v[1:8], qv[1:8]) + ...``), so
    every cosine is bit-reproducible; scores are rounded to 6 before
    any ranking, per the house rule.

    Output: (query_id, neighbor_id, cos_<m> for each m in cuts)."""
    segs = []
    lo = 1
    for c in cuts:
        segs.append((lo, c))
        lo = c + 1
    _dot = dot

    def seg_sq(col: str, lo: int, hi: int):
        s = F.slice(col, lo, hi - lo + 1)
        return _dot(s, s)

    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        *[
            seg_sq(vec_col, lo, hi).alias(f"__qsq{i}")
            for i, (lo, hi) in enumerate(segs)
        ],
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        *[
            seg_sq(vec_col, lo, hi).alias(f"__csq{i}")
            for i, (lo, hi) in enumerate(segs)
        ],
    )
    pair = c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col))
    cols = [F.col(query_id_col), F.col(id_col).alias("neighbor_id")]
    d_cum = None
    csq_cum = None
    qsq_cum = None
    for i, (lo, hi) in enumerate(segs):
        d = _dot(
            F.slice(vec_col, lo, hi - lo + 1), F.slice("__qv", lo, hi - lo + 1)
        )
        d_cum = d if d_cum is None else d_cum + d
        csq_cum = (
            F.col(f"__csq{i}")
            if csq_cum is None
            else csq_cum + F.col(f"__csq{i}")
        )
        qsq_cum = (
            F.col(f"__qsq{i}")
            if qsq_cum is None
            else qsq_cum + F.col(f"__qsq{i}")
        )
        cols.append(
            F.round(
                d_cum / (F.sqrt(csq_cum) * F.sqrt(qsq_cum)), 6
            ).alias(f"cos_{hi}")
        )
    return pair.select(*cols)


def matryoshka_recall_audit(
    corpus: DataFrame,
    queries: DataFrame,
    cuts: tuple[int, ...] = (8, 16, 32, 64),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of prefix-truncated cosine retrieval against the
    full-dimension ranking, per cut and query — the quality gate for
    serving matryoshka-truncated embeddings (the LSH/PQ siblings have
    ``lsh_recall_audit`` / the PQ refine stage; this is the same
    contract for the dimension axis). The largest cut IS the baseline
    (its row pins recall = 1), so the audit is self-anchoring.

    Plan: one segmented scoring pass (``matryoshka_scores``), one
    window rank per cut over the SAME scored relation (no rescans),
    then per-cut overlap counts against the baseline top-k. At 100 TB
    the scoring join is the familiar brute topk shape — bound the
    query set (sample) exactly as lsh_recall_audit's contract does;
    corpus cost stays one scan regardless of how many cuts are
    audited."""
    scored = matryoshka_scores(corpus, queries, cuts, id_col, vec_col)
    full = cuts[-1]

    def topk(m: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col(f"cos_{m}").desc(), F.col("neighbor_id")
        )
        return (
            scored.select("query_id", "neighbor_id", f"cos_{m}")
            .withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= k)
            .select("query_id", "neighbor_id")
        )

    base = topk(full)
    out: DataFrame | None = None
    for m in cuts:
        if m == full:
            # the baseline cut is an identity overlap — derive its rows
            # from `base` directly instead of re-running the window and
            # self-joining (recall = 1 by construction, but n_overlap
            # still counts base rows, which is < k when the corpus has
            # fewer than k neighbors — the adversarial-test contract)
            per_q = base.groupBy("query_id").agg(
                F.count(F.lit(1)).alias("__n")
            )
        else:
            hits = topk(m).withColumn("__hit", F.lit(1))
            per_q = (
                base.join(hits, ["query_id", "neighbor_id"], "left")
                .groupBy("query_id")
                .agg(
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__n")
                )
            )
        per_q = per_q.select(
            F.lit(m).alias("prefix_dim"),
            "query_id",
            F.col("__n").cast("bigint").alias("n_overlap"),
            F.round(F.col("__n") / F.lit(k), 6).alias("recall"),
        )
        out = per_q if out is None else out.unionByName(per_q)
    return out
