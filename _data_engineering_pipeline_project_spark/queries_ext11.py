"""Round-11: OPQ-rotated product-quantization retrieval, registered
first-class (VERDICT r10 #1).

Round 10 *measured* that plain PQ on correlated embeddings leaves most
of the achievable recall on the table (PQ-ADC recall@10 0.37 plain vs
0.64 OPQ-balanced, docs/SCALE.md) and built every piece — exact
distributed covariance, driver eigh, the eigenvalue-balanced subspace
allocation, the unrolled projection — but the registry kept serving
the unrotated path. ``embedding_topk_opq`` composes the full measured
pipeline: ``pca_fit(method="gram")`` → ``opq_allocate`` →
``pca_project`` → the existing PQ train/encode/ADC, under ONE DuckDB
oracle.

ORACLE DESIGN — a deferred twin. The rotation is data-derived (eigh of
the corpus covariance), and oracle SQL strings are resolved once per
process, so the twin cannot be a static string with pinned literals.
Instead the registered oracle is a CALLABLE (``queries.py:
resolve_oracles``) that re-derives the model INDEPENDENTLY at the
driver's fixed compare scale (sf0.01): DuckDB computes the exact
integer-lane covariance and mean (the same relational form
``embedding_covariance_audit`` pins bit-for-bit against the Spark gram
path), numpy ``eigh`` — the identical bounded driver step ``pca_fit``
runs — produces the components, ``opq_allocate`` (pure Python)
balances them, and the resulting doubles are embedded as literals in
the generated SQL (``repr`` round-trips the exact IEEE bits — the
equi-depth boundary-literal precedent, layout.py). Parity is exact at
every stage, pinned by test: DuckDB-derived model == ``pca_fit``
model bit-for-bit; DuckDB ``list_dot_product`` is a left fold from
0.0, the same association as ``pca_project``'s unrolled centering dot
and ``functions/vectors.py:dot_unrolled``; the PQ tail is the proven
``embedding_topk_pq`` SQL over projected vectors.

The twin is therefore sf0.01-specific BY CONSTRUCTION (the driver's
compare runs at sf0.01 only); the Spark query itself trains on
whatever sf it is given and is correct at any scale. ``bench.py``
times it at sf0.1 like every other registered query.

Geometry: m=16 subspaces × sub_dim=2 → r=32 rotated dims of d=64 —
OPQ *with* dimensionality reduction (the top-32 principal directions
carry the variance; the PQ codes quantize balanced energy), ksub=64
codes, top-5, query set ``vec_id < 10`` (the ANN family standard).

Also here (r11 wave 2): ``embedding_topk_ivfopq`` (the FAISS-standard
IVF-OPQ composition, sharing the memoized rotated corpus + PQ index),
``opq_balance_audit_embeddings`` (the allocation's per-subspace
energy, same deferred-oracle machinery) and the bottom-k-by-hash
fixed-size samples (``bottomk_sample_documents`` /
``bottomk_sample_per_lang_documents`` — deterministic
reservoir-sampling replacement, statically oracled).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark import memo
from _data_engineering_pipeline_project_spark.catalog import table
from _data_engineering_pipeline_project_spark.queries import query

_OPQ_DIM = 64
_OPQ_M, _OPQ_SD, _OPQ_K = 16, 2, 64
_OPQ_R = _OPQ_M * _OPQ_SD  # 32 rotated dims
_OPQ_TOPK = 5

# the driver's oracle compare runs at this fixed scale (TESTDATA.md);
# the deferred twin derives its rotation literals from the same files
_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


# resolver-side, process-level (no Spark session involved): the
# deferred oracles (retrieval, balance, ivf-opq, scree) share one model
# derivation per (path, geometry)
@functools.cache
def pca_model_duckdb(emb_path: str, dim: int = _OPQ_DIM) -> dict:
    """Re-derive the RAW (descending-eigenvalue) PCA model WITHOUT
    Spark: DuckDB computes the exact integer-lane covariance + mean
    (mirroring ``operators/pca.py`` step for step — same quantization,
    same DECIMAL-exact sums, same double-division order, so the matrix
    is bit-identical to ``pca_fit(method="gram")``'s, pinned by test),
    then the identical numpy ``eigh`` + descending ordering. Bounded:
    d(d+1)/2 covariance doubles + d means on the driver. The OPQ twins
    allocate on top (:func:`opq_model_duckdb`); the scree twin
    (``queries_ext10.pca_variance_explained_embeddings``) reads the
    eigenvalues straight off this model."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    vq = (
        "SELECT list_transform(CAST(embedding AS DOUBLE[]), "
        "x -> CAST(round(x * 1048576.0) AS BIGINT)) AS v "
        f"FROM '{emb_path}'"
    )
    scale2 = float(1 << 20) * float(1 << 20)
    cov_rows = con.execute(
        f"""
        WITH vq AS ({vq}),
        terms AS (SELECT i, j, v[i] AS vi, v[j] AS vj
                  FROM vq, generate_series(1, {dim}) g1(i),
                           generate_series(1, {dim}) g2(j)
                  WHERE i <= j),
        sums AS (SELECT i, j, count(*) AS n,
                        CAST(sum(vi) AS DOUBLE) AS si,
                        CAST(sum(vj) AS DOUBLE) AS sj,
                        CAST(sum(vi * vj) AS DOUBLE) AS sij
                 FROM terms GROUP BY i, j)
        SELECT CAST(i AS INTEGER), CAST(j AS INTEGER),
               (n * sij - si * sj) / (n * n) / {scale2!r} AS cov
        FROM sums
        """
    ).fetchall()
    mean_rows = con.execute(
        f"""
        WITH vq AS ({vq}),
        e AS (SELECT i, v[i] AS vi
              FROM vq, generate_series(1, {dim}) g(i))
        SELECT CAST(i AS INTEGER),
               CAST(sum(vi) AS DOUBLE) / count(*) / 1048576.0 AS m
        FROM e GROUP BY i ORDER BY i
        """
    ).fetchall()
    con.close()
    cov = np.zeros((dim, dim))
    for i, j, c in cov_rows:
        cov[i - 1, j - 1] = c
        cov[j - 1, i - 1] = c
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    model = {
        "eigenvalues": [float(w[i]) for i in order],
        "components": [[float(x) for x in v[:, i]] for i in order],
        "mean": [mm for _, mm in mean_rows],
        "dim": dim,
    }
    return model


def opq_model_duckdb(
    emb_path: str, dim: int = _OPQ_DIM, m: int = _OPQ_M, sub_dim: int = _OPQ_SD
) -> dict:
    """The OPQ-allocated form of :func:`pca_model_duckdb` — identical
    ``opq_allocate`` (pure Python) on the independently-derived model,
    so the permuted components/eigenvalues are bit-equal to the Spark
    pipeline's (pinned by ``test_opq_oracle_resolver_matches_spark_
    model``)."""
    from _data_engineering_pipeline_project_spark.operators.pca import (
        opq_allocate,
    )

    return opq_allocate(pca_model_duckdb(emb_path, dim), m, sub_dim)


def _dlit(x: float) -> str:
    """Exact double literal for DuckDB: ``repr`` is the shortest
    round-trip form, the string parse is correctly rounded, and a bare
    float literal would parse as DECIMAL (house gotcha)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _proj_ctes(model: dict) -> str:
    """The shared projection CTE chain of every deferred OPQ twin:
    base (raw vectors) → cent (mean-subtracted, 64 literal terms) →
    proj (r=32 ``list_dot_product``s against literal component rows —
    the same left-fold-from-0.0 association as the Spark projection)."""
    mean, comps = model["mean"], model["components"][:_OPQ_R]
    cent = "[" + ",\n    ".join(
        f"(v[{j + 1}] - {_dlit(mean[j])})" for j in range(_OPQ_DIM)
    ) + "]"
    projs = ",\n    ".join(
        "list_dot_product(cv, ["
        + ", ".join(_dlit(c[j]) for j in range(_OPQ_DIM))
        + "])"
        for c in comps
    )
    return f"""base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id, {cent} AS cv FROM base),
    proj AS (SELECT vec_id, [{projs}] AS pvec FROM cent)"""


def _opq_sql() -> str:
    """Deferred oracle: full OPQ retrieval twin at the compare scale —
    :func:`_proj_ctes` feeding the proven PQ tail (seed codebooks by
    md5(id), encode by rounded argmin, fixed-point ADC sums) sourced
    from proj instead of raw embeddings."""
    model = opq_model_duckdb(f"{_ORACLE_SF_DIR}/embeddings.parquet")
    cb_slices = "\n      UNION ALL ".join(
        f"SELECT code, {s} AS subspace, "
        f"svec[{1 + _OPQ_SD * s}:{_OPQ_SD * (s + 1)}] AS cvec FROM codes0"
        for s in range(_OPQ_M)
    )
    sub_slices = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS subspace, "
        f"pvec[{1 + _OPQ_SD * s}:{_OPQ_SD * (s + 1)}] AS svec FROM proj"
        for s in range(_OPQ_M)
    )
    return f"""
    WITH {_proj_ctes(model)},
    seeds AS (
      SELECT vec_id, pvec AS svec, md5(CAST(vec_id AS VARCHAR)) AS h
      FROM proj ORDER BY h, vec_id LIMIT {_OPQ_K}),
    codes0 AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS code,
             svec
      FROM seeds),
    cb AS (
      {cb_slices}),
    sub AS (
      {sub_slices}),
    enc0 AS (
      SELECT s.vec_id, s.subspace, c.code,
             round(list_dot_product(s.svec, s.svec)
                   - 2 * list_dot_product(s.svec, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), 6) AS d2
      FROM sub s JOIN cb c USING (subspace)),
    enc AS (
      SELECT vec_id, subspace, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2, code) AS rn
        FROM enc0) WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, subspace, svec
             FROM sub WHERE vec_id < 10),
    dtab AS (
      SELECT q.query_id, q.subspace, c.code,
             CAST(round(round(list_dot_product(q.svec, q.svec)
                              - 2 * list_dot_product(q.svec, c.cvec)
                              + list_dot_product(c.cvec, c.cvec), 6)
                        * 1000000) AS BIGINT) AS d2_fp
      FROM qsub q JOIN cb c USING (subspace)),
    scored AS (
      SELECT d.query_id, e.vec_id AS neighbor_id, sum(d.d2_fp) AS s_fp
      FROM enc e JOIN dtab d ON d.subspace = e.subspace AND d.code = e.code
      WHERE d.query_id <> e.vec_id
      GROUP BY d.query_id, e.vec_id)
    SELECT query_id, neighbor_id,
           round(s_fp / 1000000.0, 6) AS approx_d2,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY s_fp, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_OPQ_TOPK}
"""


def _embeddings_key(spark: SparkSession, sf: str, name: str):
    """Memo key of ``name`` over this sf's embeddings: the data dir plus
    the resolved file listing, so an in-session rewrite misses."""
    emb = table(spark, sf, "embeddings")
    return lambda: (name, sf, hash(tuple(sorted(emb.inputFiles()))))


# session memo: ONE maintained IVF-OPQ index per (session, sf, fileset) —
# the registered query serves the maintainer's artifacts (VERDICT r11
# #1 / top_next) instead of a per-call recompute; bench loops and
# repeated serving calls hit the bootstrapped index warm, exactly the
# train-once economics a deployed store has
def _ivfopq_maintained(spark: SparkSession, sf: str):
    """The session's maintained IVF-OPQ index over this sf's
    embeddings: bootstrapped once (one offline-job equivalent — model
    fit, rotation, PQ encode, coarse fit, list ingest, all persisted
    under a session temp dir), then served from artifacts. In
    production the bootstrap is a scheduled job and ticks arrive via
    ``IvfOpqIndexMaintainer.run_available_now``; at query registry
    scale the index is simply bootstrapped over the given corpus —
    WHAT is served is identical either way (pinned: N ticks == one-
    shot, bit-for-bit, tests/test_round12.py)."""
    from _data_engineering_pipeline_project_spark.streaming.ivfopqmaint import (
        IvfOpqIndexMaintainer,
    )

    def build():
        mnt = IvfOpqIndexMaintainer(
            spark,
            memo.scratch_dir("ivfopq_index_"),
            num_centroids=_IVFOPQ_CENTROIDS,
        )
        # the allocated model is shared with embedding_topk_opq's memo —
        # pca_fit(gram) → opq_allocate is deterministic, so the bootstrap
        # freezes the IDENTICAL rotation without paying a second
        # covariance job in the same session. Model-only: the bootstrap
        # projects the corpus itself inside save_opq_index, so pulling
        # the ROTATED memo here would pay a corpus projection +
        # checkpoint only to discard it (r12 review finding)
        mnt.bootstrap(
            table(spark, sf, "embeddings"),
            dim=_OPQ_DIM, m=_OPQ_M, sub_dim=_OPQ_SD, ksub=_OPQ_K,
            model=_opq_model(spark, sf),
        )
        return mnt

    return memo.get(
        spark,
        _embeddings_key(spark, sf, "ivfopq_maintained"),
        build,
        lambda mnt: mnt.destroy(),
    )


# the fitted model AND the pinned rotated corpus, per (session, sf,
# files): bench loops and repeated serving calls must not re-run the
# covariance job or re-project — the same train-once economics as the
# PQ index memo (similarity.py). The pin also gives the two PQ passes
# (codebook seed scan, encode scan) materialized rows instead of two
# Python-worker projection runs, and keeps the PQ index memo hitting
# across calls (its key is the corpus plan — the same frame object
# yields the same plan).
def _opq_rotated(spark: SparkSession, sf: str):
    """(model, pinned rotated corpus) for this sf — trained/projected
    once per session per input fileset."""
    from _data_engineering_pipeline_project_spark.functions.persist import (
        pinned_checkpoint,
    )
    from _data_engineering_pipeline_project_spark.operators.dedup import (
        _free_local_checkpoint,
    )
    from _data_engineering_pipeline_project_spark.operators.pca import (
        pca_project_batch,
    )

    def build():
        model = _opq_model(spark, sf)
        # batch (Arrow) projection: at r·d = 2048 terms the unrolled
        # expression form is past the measured Janino crossover
        # (pca.py:pca_project_batch — 19.5 s of failed whole-stage
        # compiles vs 0.3 s, bit-identical outputs)
        emb = table(spark, sf, "embeddings")
        return model, pinned_checkpoint(
            pca_project_batch(emb, model, r=_OPQ_R, out_col="embedding")
        )

    return memo.get(
        spark,
        _embeddings_key(spark, sf, "opq_rotated"),
        build,
        lambda v: _free_local_checkpoint(v[1]),
    )


# the MODEL memo is split from the rotated-corpus memo (r12 review
# finding): the maintained IVF-OPQ bootstrap needs only the allocated
# model — its save_opq_index call projects the corpus itself — and
# extracting the model through _opq_rotated paid a full corpus
# projection + eager checkpoint that was immediately discarded
def _opq_model(spark: SparkSession, sf: str) -> dict:
    """The session's allocated OPQ model for this sf (covariance fit +
    eigh + balanced allocation; NO corpus projection)."""
    from _data_engineering_pipeline_project_spark.operators.pca import (
        opq_allocate,
        pca_fit,
    )

    def build() -> dict:
        emb = table(spark, sf, "embeddings")
        return opq_allocate(
            pca_fit(emb, dim=_OPQ_DIM, method="gram"), _OPQ_M, _OPQ_SD
        )

    return memo.get(spark, _embeddings_key(spark, sf, "opq_model"), build)


# --------------------------------------------------------------------------
# Count-Min frequency sketch (operators/frequency.py)
# --------------------------------------------------------------------------
_CM_W, _CM_D = 512, 3


def _cm_ctes() -> str:
    from _data_engineering_pipeline_project_spark.operators.frequency import (
        cm_pos_sql,
    )

    pos = cm_pos_sql("k", _CM_W, _CM_D)
    return f"""ks AS (
      SELECT CAST(user_id AS VARCHAR) AS k, user_id FROM events
      WHERE user_id IS NOT NULL),
    pos AS (
      SELECT k, user_id, i - 1 AS row_idx, p[i] AS col
      FROM (SELECT k, user_id, {pos} AS p FROM ks),
           generate_series(1, {_CM_D}) g(i)),
    cells AS (
      SELECT row_idx, col, count(*) AS cnt FROM pos
      GROUP BY row_idx, col),
    dpos AS (SELECT DISTINCT user_id, row_idx, col FROM pos),
    est AS (
      SELECT p.user_id, min(coalesce(c.cnt, 0)) AS cm_estimate
      FROM dpos p LEFT JOIN cells c
        ON c.row_idx = p.row_idx AND c.col = p.col
      GROUP BY p.user_id),
    exact AS (SELECT user_id, count(*) AS exact_count FROM ks
              GROUP BY user_id)"""


@query(
    "cm_frequency_audit_events",
    f"""
    WITH {_cm_ctes()}
    SELECT e.user_id, x.exact_count, e.cm_estimate,
           e.cm_estimate - x.exact_count AS overestimate
    FROM est e JOIN exact x USING (user_id)
    ORDER BY overestimate DESC, e.user_id
    LIMIT 20
    """,
)
def cm_frequency_audit_events(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min frequency sketch vs exact counts over events.user_id
    — the 20 keys with the worst overestimate at (width=512, depth=3).
    Every placement (and therefore every collision) is exact md5
    integer math, so even the ERRORS hash-match the DuckDB twin: this
    is the audit a deployed sketch runs to size (width, depth) against
    its real key distribution, exactly as the Bloom FP audit sizes m.
    Plan: one explode+groupBy builds the ≤ depth·width cells relation,
    the estimate joins the BROADCAST cells, and exact counts are one
    groupBy — no stage carries more than depth rows per input row.
    The estimate ≥ exact invariant is property-pinned in pytest on
    hostile keys."""
    from _data_engineering_pipeline_project_spark.operators import (
        frequency as FQ,
    )

    ev = table(spark, sf, "events").filter(
        F.col("user_id").isNotNull()
    )
    cells = FQ.cm_build(ev, F.col("user_id"), _CM_W, _CM_D)
    est = FQ.cm_estimate(
        cells, ev, F.col("user_id"), _CM_W, _CM_D
    ).withColumnRenamed("key", "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "exact_count",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_count")).alias(
                "overestimate"
            ),
        )
        .orderBy(F.col("overestimate").desc(), "user_id")
        .limit(20)
    )


@query(
    "cm_error_summary_events",
    f"""
    WITH {_cm_ctes()}
    SELECT CAST({_CM_W} AS INTEGER) AS width,
           CAST({_CM_D} AS INTEGER) AS depth,
           (SELECT count(*) FROM cells) AS cells_used,
           count(*) AS n_keys,
           CAST(sum(CASE WHEN e.cm_estimate > x.exact_count
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overestimated,
           CAST(max(e.cm_estimate - x.exact_count) AS BIGINT)
             AS max_overestimate,
           CAST(sum(e.cm_estimate - x.exact_count) AS BIGINT)
             AS total_overestimate
    FROM est e JOIN exact x USING (user_id)
    """,
)
def cm_error_summary_events(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch-sizing summary (the Bloom fill/FP-audit shape for
    frequency): how many cells a (512×3) sketch used, how many keys
    overestimate at all, and the worst/total overestimate against
    exact counts — the one-row report that decides whether width/depth
    fit this key distribution. Estimate-only-over (never under) is the
    CM contract; this relation MEASURES its magnitude, bit-matched by
    the twin because collisions are pure hash math."""
    from _data_engineering_pipeline_project_spark.operators import (
        frequency as FQ,
    )

    ev = table(spark, sf, "events").filter(F.col("user_id").isNotNull())
    cells = FQ.cm_build(ev, F.col("user_id"), _CM_W, _CM_D)
    est = FQ.cm_estimate(
        cells, ev, F.col("user_id"), _CM_W, _CM_D
    ).withColumnRenamed("key", "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    j = est.join(exact, "user_id")
    over = F.col("cm_estimate") - F.col("exact_count")
    n_cells = cells.count()
    return j.agg(
        F.lit(_CM_W).cast("int").alias("width"),
        F.lit(_CM_D).cast("int").alias("depth"),
        F.lit(n_cells).alias("cells_used"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((over > 0).cast("bigint")).alias("n_overestimated"),
        F.max(over).cast("bigint").alias("max_overestimate"),
        F.sum(over).cast("bigint").alias("total_overestimate"),
    )


@query(
    "cm_heavy_hitter_screen_events",
    f"""
    WITH {_cm_ctes()},
    stats AS (SELECT count(*) AS n, count(DISTINCT user_id) AS kk FROM ks),
    cand AS (
      SELECT e.user_id, e.cm_estimate FROM est e, stats s
      WHERE e.cm_estimate >= CAST('1.2' AS DOUBLE) * s.n / s.kk)
    SELECT c.user_id, x.exact_count, c.cm_estimate,
           x.exact_count >= CAST('1.2' AS DOUBLE) * s.n / s.kk AS is_heavy
    FROM cand c JOIN exact x USING (user_id), stats s
    """,
)
def cm_heavy_hitter_screen_events(spark: SparkSession, sf: str) -> DataFrame:
    """The operational CM composition — candidates-then-verify, the
    frequency twin of ``bloom_prefilter_semi_join``: keys whose CM
    ESTIMATE clears the heavy-hitter threshold (1.2× the mean key
    frequency) are the candidate set, and only THEY pay the exact
    verification. Because estimate ≥ exact, the candidate set is a
    guaranteed SUPERSET of the true heavy hitters (no heavy key can
    screen out — the no-false-negative direction); ``is_heavy`` marks
    which candidates survive exact counting, so the relation shows
    both the answer and the screen's precision. At 100 TB the screen
    reads depth·width counters; the exact groupBy runs only over the
    candidate sliver."""
    from _data_engineering_pipeline_project_spark.operators import (
        frequency as FQ,
    )

    ev = table(spark, sf, "events").filter(F.col("user_id").isNotNull())
    cells = FQ.cm_build(ev, F.col("user_id"), _CM_W, _CM_D)
    est = FQ.cm_estimate(
        cells, ev, F.col("user_id"), _CM_W, _CM_D
    ).withColumnRenamed("key", "user_id")
    stats = ev.agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct("user_id").alias("__kk"),
    )
    thr = F.lit(1.2) * F.col("__n") / F.col("__kk")
    cand = (
        est.crossJoin(F.broadcast(stats))
        .filter(F.col("cm_estimate") >= thr)
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return cand.join(exact, "user_id").select(
        "user_id",
        "exact_count",
        "cm_estimate",
        (F.col("exact_count") >= thr).alias("is_heavy"),
    )


# --------------------------------------------------------------------------
# Fixed-size deterministic uniform samples (bottom-k by hash)
# --------------------------------------------------------------------------
_BK_K = 64
_BK_LANG_K = 8


@query(
    "bottomk_sample_documents",
    f"""
    WITH s AS (
      SELECT doc_id, lang, source, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
      WHERE doc_id IS NOT NULL
      ORDER BY h NULLS FIRST, doc_id NULLS FIRST LIMIT {_BK_K})
    SELECT doc_id, lang, source, n_chars,
           CAST(row_number() OVER (ORDER BY h NULLS FIRST,
                                   doc_id NULLS FIRST) AS INTEGER)
             AS sample_rank
    FROM s
    """,
)
def bottomk_sample_documents(spark: SparkSession, sf: str) -> DataFrame:
    """FIXED-SIZE uniform document sample: the 64 rows with the
    smallest md5(doc_id) (``operators/sampling.py:bottom_k_sample``) —
    the deterministic replacement for reservoir sampling. Uniform
    under the hash-as-random-oracle model, identical in any engine
    (which is why it CAN be oracled — a rand() reservoir can't),
    consistent (bottom-64 ⊂ bottom-128), and a monoid, so the same
    sample is incrementally maintainable over a stream
    (``streaming/samplemaint.py``) and mergeable across 100 TB of
    partitions. Plan: TakeOrderedAndProject — a 64-row heap per task,
    64 rows per partition to the driver merge, no shuffle; the rank
    window then sorts only the 64 survivors."""
    from pyspark.sql import Window

    from _data_engineering_pipeline_project_spark.operators.sampling import (
        bottom_k_sample,
    )

    docs = table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    samp = bottom_k_sample(docs, "doc_id", _BK_K)
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.orderBy(h, "doc_id")  # 64 rows — a bounded sort
    return samp.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.row_number().over(w).cast("int").alias("sample_rank"),
    )


@query(
    "bottomk_sample_per_lang_documents",
    f"""
    SELECT lang, doc_id, source, n_chars, CAST(rn AS INTEGER) AS lang_rank
    FROM (SELECT lang, doc_id, source, n_chars,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)) NULLS FIRST,
                            doc_id NULLS FIRST) AS rn
          FROM documents WHERE doc_id IS NOT NULL)
    WHERE rn <= {_BK_LANG_K}
    """,
)
def bottomk_sample_per_lang_documents(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Stratified fixed-size sample: the bottom-8-by-hash documents
    WITHIN each language (``bottom_k_per_group``) — the balanced eval
    panel (k per stratum) with the same determinism/consistency as the
    global bottom-k. One shuffle on lang; a k-row heap inside each
    partition does the rest."""
    from pyspark.sql import Window

    from _data_engineering_pipeline_project_spark.operators.sampling import (
        bottom_k_per_group,
    )

    docs = table(spark, sf, "documents").select(
        "lang", "doc_id", "source", "n_chars"
    )
    samp = bottom_k_per_group(docs, "lang", "doc_id", _BK_LANG_K)
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return samp.select(
        "lang",
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).cast("int").alias("lang_rank"),
    )


_IVFOPQ_CENTROIDS, _IVFOPQ_NPROBE = 8, 2


def _ivfopq_sql(
    topk: int | None = None, panel_pred: str = "vec_id < 10"
) -> str:
    """Deferred oracle: IVF-OPQ (the FAISS-standard OPQ+IVFADC index
    form) — :func:`_proj_ctes` feeding the proven IVFADC tail
    (embedding_topk_ivfpq's structure) with every stage sourced from
    the rotated vectors: IVF seeds/assignment/probes on proj, PQ
    codebooks/encode/ADC on proj subspaces.

    ``topk``/``panel_pred`` parameterize the final cut and the query
    panel so composed oracles (queries_ext13's maintained hybrid needs
    top-20 for the single query vec 0) reuse the IDENTICAL derivation;
    zero-arg default keeps the registered deferred form unchanged."""
    if topk is None:
        topk = _OPQ_TOPK
    model = opq_model_duckdb(f"{_ORACLE_SF_DIR}/embeddings.parquet")
    cb_slices = "\n      UNION ALL ".join(
        f"SELECT code, {s} AS subspace, "
        f"svec[{1 + _OPQ_SD * s}:{_OPQ_SD * (s + 1)}] AS cvec FROM codes0"
        for s in range(_OPQ_M)
    )
    sub_slices = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS subspace, "
        f"pvec[{1 + _OPQ_SD * s}:{_OPQ_SD * (s + 1)}] AS svec FROM proj"
        for s in range(_OPQ_M)
    )
    return f"""
    WITH {_proj_ctes(model)},
    iseeds AS (
      SELECT vec_id, pvec AS cvec, md5(CAST(vec_id AS VARCHAR)) AS h
      FROM proj ORDER BY h, vec_id LIMIT {_IVFOPQ_CENTROIDS}),
    cent2 AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER)
               AS centroid_id, cvec
      FROM iseeds),
    cscore AS (
      SELECT e.vec_id, c.centroid_id,
             round(list_dot_product(e.pvec, c.cvec)
                   / (sqrt(list_dot_product(e.pvec, e.pvec))
                      * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS cos
      FROM proj e, cent2 c),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, centroid_id) AS arnk
        FROM cscore) WHERE arnk = 1),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, centroid_id) AS arnk
        FROM cscore WHERE {panel_pred}) WHERE arnk <= {_IVFOPQ_NPROBE}),
    seeds AS (
      SELECT vec_id, pvec AS svec, md5(CAST(vec_id AS VARCHAR)) AS h
      FROM proj ORDER BY h, vec_id LIMIT {_OPQ_K}),
    codes0 AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS code,
             svec
      FROM seeds),
    cb AS (
      {cb_slices}),
    sub AS (
      {sub_slices}),
    enc0 AS (
      SELECT s.vec_id, s.subspace, c.code,
             round(list_dot_product(s.svec, s.svec)
                   - 2 * list_dot_product(s.svec, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), 6) AS d2
      FROM sub s JOIN cb c USING (subspace)),
    enc AS (
      SELECT vec_id, subspace, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d2, code) AS rn
        FROM enc0) WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, subspace, svec
             FROM sub WHERE {panel_pred}),
    dtab AS (
      SELECT q.query_id, q.subspace, c.code,
             CAST(round(round(list_dot_product(q.svec, q.svec)
                              - 2 * list_dot_product(q.svec, c.cvec)
                              + list_dot_product(c.cvec, c.cvec), 6)
                        * 1000000) AS BIGINT) AS d2_fp
      FROM qsub q JOIN cb c USING (subspace)),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM assigned a JOIN probes p USING (centroid_id)
      WHERE a.vec_id <> p.query_id),
    scored AS (
      SELECT cd.query_id, cd.vec_id AS neighbor_id, sum(d.d2_fp) AS s_fp
      FROM cand cd
      JOIN enc e ON e.vec_id = cd.vec_id
      JOIN dtab d ON d.query_id = cd.query_id
                 AND d.subspace = e.subspace AND d.code = e.code
      GROUP BY cd.query_id, cd.vec_id)
    SELECT query_id, neighbor_id,
           round(s_fp / 1000000.0, 6) AS approx_d2,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY s_fp, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {topk}
"""


@query("embedding_topk_ivfopq", _ivfopq_sql)  # deferred
def embedding_topk_ivfopq(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-OPQ — the FAISS-standard production index form (OPQ rotation
    + coarse inverted lists + PQ-ADC), completing the serving matrix
    {brute, LSH, IVF, int8, PQ, IVFPQ, OPQ, IVF-OPQ}: IVF cuts
    CANDIDATES (nprobe/num_centroids of the corpus), PQ cuts BYTES PER
    CANDIDATE (m codes), and the balanced rotation restores the recall
    PQ loses on correlated embeddings (0.37 → 0.64 measured).

    Since r12 this serves the MAINTAINED index end-to-end (VERDICT r11
    #1): a session-memoized ``IvfOpqIndexMaintainer`` bootstraps once
    over the corpus (persisted artifacts: frozen rotation, codebooks,
    coarse centroids, codes, lists) and every call serves from those
    artifacts — rotate the queries, open only probed lists, ADC over
    stored codes. Maintained == one-shot is pinned bit-for-bit in
    tests/test_round12.py, which is exactly why the deferred oracle
    (the twin re-derives the rotation independently) keeps matching:
    the maintainer changes WHERE relations live, never a single
    value."""
    mnt = _ivfopq_maintained(spark, sf)
    emb = table(spark, sf, "embeddings")
    return mnt.topk(
        emb.filter(F.col("vec_id") < 10), k=_OPQ_TOPK, nprobe=_IVFOPQ_NPROBE
    )


def _opq_balance_sql() -> str:
    """Deferred twin of the balance audit: the independently-derived
    model's per-subspace energy as literal VALUES — both engines must
    arrive at the same eigenvalues (covariance parity + deterministic
    eigh) for this to hash-match, which is exactly the cross-engine
    claim worth pinning in the registry."""
    import math

    model = opq_model_duckdb(f"{_ORACLE_SF_DIR}/embeddings.parquet")
    ev = model["eigenvalues"][:_OPQ_R]
    total = sum(model["eigenvalues"])
    rows = []
    for s in range(_OPQ_M):
        bucket = ev[s * _OPQ_SD : (s + 1) * _OPQ_SD]
        rows.append(
            (
                s,
                len(bucket),
                round(sum(bucket), 8),
                round(sum(bucket) / total, 6),
                round(sum(math.log(max(e, 1e-300)) for e in bucket), 6),
            )
        )
    values = ",\n      ".join(
        f"({s}, {n}, CAST('{se!r}' AS DOUBLE), CAST('{sh!r}' AS DOUBLE), "
        f"CAST('{le!r}' AS DOUBLE))"
        for s, n, se, sh, le in rows
    )
    return f"""
    SELECT CAST(subspace AS INTEGER) AS subspace,
           CAST(n_dims AS INTEGER) AS n_dims,
           sum_eigenvalue, variance_share, log_energy
    FROM (VALUES
      {values}) t(subspace, n_dims, sum_eigenvalue, variance_share,
                  log_energy)
"""


@query("opq_balance_audit_embeddings", _opq_balance_sql)  # deferred
def opq_balance_audit_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Per-subspace energy of the OPQ allocation — the sizing audit an
    OPQ deployment monitors: ``opq_allocate`` balances Σ log λ across
    the m product-quantizer subspaces (greedy descending-eigenvalue
    assignment), and THIS relation is what 'balanced' means in numbers
    (variance share and log-energy per subspace; a drifting corpus
    shows up as re-widening spread, the cue to re-train the rotation).
    Bounded everywhere: the only data-sized work is the covariance
    pass the model fit already pays (session-memoized with the
    retrieval query); the audit itself is m rows of driver math. The
    oracle re-derives the model independently (DuckDB covariance +
    numpy eigh) — a hash match certifies cross-engine agreement on the
    entire spectral pipeline, not just on SQL arithmetic."""
    import math

    model, _rot = _opq_rotated(spark, sf)
    ev = model["eigenvalues"][:_OPQ_R]
    # the allocated model carries exactly the m·sub_dim RETAINED
    # eigenvalues (permuted into bucket order), so shares are of the
    # retained energy — the quantity the allocation balances
    total = sum(model["eigenvalues"])
    rows = []
    for s in range(_OPQ_M):
        bucket = ev[s * _OPQ_SD : (s + 1) * _OPQ_SD]
        rows.append(
            (
                s,
                len(bucket),
                round(sum(bucket), 8),
                round(sum(bucket) / total, 6),
                round(sum(math.log(max(e, 1e-300)) for e in bucket), 6),
            )
        )
    from _data_engineering_pipeline_project_spark.functions.localrel import (
        local_df,
    )

    return local_df(
        spark,
        rows,
        "subspace int, n_dims int, sum_eigenvalue double, "
        "variance_share double, log_energy double",
    )


@query("embedding_topk_opq", _opq_sql)  # deferred: literals are data-derived
def embedding_topk_opq(spark: SparkSession, sf: str) -> DataFrame:
    """OPQ-rotated PQ retrieval — the measured-best ANN serving path
    (SCALE.md r10: recall@10 0.37 plain-PQ → 0.64 OPQ on correlated
    data), now what the registry serves instead of the anti-pattern:
    fit exact PCA on the corpus (one gram-batches covariance shuffle +
    a bounded eigh), balance the components across the PQ subspaces
    (``opq_allocate`` — naive PCA-then-PQ measurably WORSENS recall),
    project every vector once (Arrow-batched vectorized fold — at
    r·d = 2048 the unrolled expression tree is past the measured
    Janino crossover, see ``pca.py:pca_project_batch``; outputs are
    bit-identical), then train/encode/serve the existing PQ-ADC over
    the rotated vectors. At 100 TB the rotation is a one-off training
    job + one extra map-side projection on the encode path; query-time
    cost is IDENTICAL to plain PQ (same codes relation, same ADC scan).
    Model and PQ index are session-memoized (train once, serve many).
    """
    from _data_engineering_pipeline_project_spark.operators.similarity import (
        pq_adc_topk,
    )

    _model, rot = _opq_rotated(spark, sf)
    return pq_adc_topk(
        rot,
        rot.filter(F.col("vec_id") < 10),
        k=_OPQ_TOPK,
        m=_OPQ_M,
        sub_dim=_OPQ_SD,
        ksub=_OPQ_K,
    )
