"""Round-13 registrations (VERDICT r12 brief #1): hybrid retrieval
served from MAINTAINED indexes.

``hybrid_search_rrf`` (queries_ext3) is the RAG-stack fusion shape but
recomputes BM25 statistics and brute-force cosine from scratch on
every call. The production serving form keeps both halves as standing
indexes — the lexical inverted index (``streaming/bm25maint.py:
Bm25Maintainer``) and the FAISS-style vector index (``streaming/
ivfopqmaint.py:IvfOpqIndexMaintainer``) — and a query touches only
(a) the query bag's postings slice and (b) the probed lists'
candidates. ``hybrid_search_rrf_maintained`` is that form: lexical
top-20 from maintained postings, semantic top-20 from the maintained
IVF-OPQ, reciprocal-rank fused.

ORACLE DESIGN: composed from two already-hash-green derivations —
the lexical CTE block shared verbatim with ``hybrid_search_rrf``
(``queries_ext3._BM25_LEX_CTES``) and the IVF-OPQ deferred twin
(``queries_ext11._ivfopq_sql``, parameterized to top-20 for the single
query vec 0), fused by the shared RRF tail. Hash-parity certifies the
ENTIRE maintained serving path — postings/dictionary/stats monoid
merges, frozen rotation, coarse lists, ADC, fusion — by value.

Reference parity: the reference recomputes its world per cycle
(project/etl2.py); this is the standing-index serving economics a
100 TB corpus requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark import memo
from _data_engineering_pipeline_project_spark.catalog import table
from _data_engineering_pipeline_project_spark.queries import query

# --------------------------------------------------------------------------
# Maintained BM25 index (session memo — the maintained IVF-OPQ economics)
# --------------------------------------------------------------------------
def _bm25_maintained(spark: SparkSession, sf: str):
    """The session's maintained BM25 inverted index over this sf's
    documents: two deterministic ingest slices (crc32(doc_id) mod 2 —
    corpus slices in production) ticked into a ``Bm25Maintainer``.
    Served scores are split-independent by the maintainer's contract
    (postings append disjointly; df/stats are commutative monoids;
    N ticks == one-shot bit-for-bit, pinned by test), which is why the
    one-shot lexical oracle checks them."""
    from _data_engineering_pipeline_project_spark.streaming.bm25maint import (
        Bm25Maintainer,
    )

    def build():
        docs = table(spark, sf, "documents").select("doc_id", "text")
        mnt = Bm25Maintainer(spark, memo.scratch_dir("bm25_maint_"))
        # coalesce(bucket, 0): a null doc_id must land in exactly one slice
        # (the one-shot oracle's corpus scalars count every row)
        bucket = F.coalesce(
            F.pmod(
                F.crc32(F.col("doc_id").cast("string").cast("binary")), F.lit(2)
            ),
            F.lit(0),
        )
        for i in range(2):
            mnt.merge_batch(docs.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("bm25_maint", sf), build, lambda mnt: mnt.destroy()
    )


# --------------------------------------------------------------------------
# Hybrid retrieval served from maintained indexes
# --------------------------------------------------------------------------
def _bm25_top20_from_index(
    bm25_index: dict, terms: tuple[str, ...], key: str
) -> DataFrame:
    """Lexical top-20 (``key``, r_lex) from a maintained BM25 index —
    the exact ``hybrid_search_rrf`` arithmetic (fixed-order term
    combine, round-4 bm25, TakeOrdered-then-rank), shared by both
    maintained retrieval queries so the fusion text lives ONCE
    (review r13)."""
    from pyspark.sql import Window

    from _data_engineering_pipeline_project_spark.operators.ranking import (
        bm25_per_term_contrib_from_index,
    )

    id_col = bm25_index["params"]["id_col"]
    per_term = bm25_per_term_contrib_from_index(bm25_index, list(terms))
    agg = [
        F.coalesce(
            F.max(F.when(F.col("term") == t, F.col("contrib"))), F.lit(0.0)
        ).alias(f"__c{i}")
        for i, t in enumerate(terms)
    ]
    bm = per_term.groupBy(id_col).agg(*agg)
    total = F.col("__c0")
    for i in range(1, len(terms)):
        total = total + F.col(f"__c{i}")
    bm = bm.select(
        F.col(id_col).alias(key), F.round(total, 4).alias("bm25")
    )
    w_lex = Window.orderBy(F.desc("bm25"), key)
    return (
        bm.orderBy(F.desc("bm25"), key)
        .limit(20)
        .withColumn("r_lex", F.row_number().over(w_lex).cast("int"))
        .select(key, "r_lex")
    )


def _rrf_fuse_top10(lex: DataFrame, sem: DataFrame, key: str) -> DataFrame:
    """Reciprocal-rank fusion + top-10 of (key, r_lex) × (key, r_sem)
    — fixed written order, round-8, TakeOrdered-then-rank; the single
    shared copy of ``hybrid_search_rrf``'s fusion tail."""
    from pyspark.sql import Window

    fused = lex.join(sem, key, "full_outer").select(
        key,
        "r_lex",
        "r_sem",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0)
            ),
            8,
        ).alias("rrf"),
    )
    w_f = Window.orderBy(F.desc("rrf"), key)
    return (
        fused.orderBy(F.desc("rrf"), key)
        .limit(10)
        .withColumn("rnk", F.row_number().over(w_f).cast("int"))
    )


def _hybrid_from_indexes(
    bm25_index: dict,
    sem_topk: DataFrame,
    terms: tuple[str, ...],
) -> DataFrame:
    """RRF fusion of a maintained-BM25 lexical top-20 with a
    pre-ranked semantic top-k relation (query_id, neighbor_id, rnk) —
    factored so tests can drive it with differently-ticked maintainers
    and pin bit-for-bit equality."""
    lex = _bm25_top20_from_index(bm25_index, terms, "doc_id")
    sem = sem_topk.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rnk").cast("int").alias("r_sem"),
    )
    return _rrf_fuse_top10(lex, sem, "doc_id")


def _hybrid_maint_sql() -> str:
    """Deferred twin: the shared lexical CTE block + the IVF-OPQ twin
    (top-20, query panel = vec 0) + the shared RRF tail. Both building
    blocks are already-hash-green derivations, so the composed audit
    inherits their parity — the recall-audit composition precedent
    (queries_ext12)."""
    from _data_engineering_pipeline_project_spark.queries_ext3 import (
        _BM25_LEX_CTES,
        _RRF_FUSE_SQL,
    )
    from _data_engineering_pipeline_project_spark.queries_ext11 import (
        _ivfopq_sql,
    )

    return f"""
    WITH {_BM25_LEX_CTES},
    sem0 AS ({_ivfopq_sql(topk=20, panel_pred="vec_id = 0")}),
    sem AS (SELECT neighbor_id AS doc_id, rnk AS r_sem FROM sem0),
    {_RRF_FUSE_SQL}
    """


@query("hybrid_search_rrf_maintained", _hybrid_maint_sql)  # deferred
def hybrid_search_rrf_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval served from MAINTAINED indexes — the production
    RAG serving shape (VERDICT r12 #1) and the capstone of the r12
    maintained wave: lexical BM25 top-20 from the maintained inverted
    index (``Bm25Maintainer`` — the query touches only the query bag's
    term-clustered postings slice, df/stats broadcast), semantic
    top-20 from the maintained IVF-OPQ (``IvfOpqIndexMaintainer`` —
    rotate ONE query vector, open only probed lists' files, ADC over
    stored codes), fused by reciprocal rank exactly as
    ``hybrid_search_rrf``. Nothing corpus-sized is recomputed at query
    time; both indexes are session-bootstrapped artifacts (ticked in
    slices — N ticks == one-shot pinned bit-for-bit in
    tests/test_round13.py). At 100 TB this plan reads: a pruned
    postings slice + nprobe/num_centroids of the codes — the
    inverted-index and IVF economics composed."""
    from concurrent.futures import ThreadPoolExecutor

    from _data_engineering_pipeline_project_spark.queries_ext3 import (
        _BM25_TERMS,
    )
    from _data_engineering_pipeline_project_spark.queries_ext11 import (
        _IVFOPQ_NPROBE,
        _ivfopq_maintained,
    )

    # the two standing indexes are INDEPENDENT (different inputs,
    # separate state dirs and memos): bootstrap them concurrently so
    # the lexical ticks back-fill the cores the vector bootstrap's
    # small jobs leave idle (guide §2.6). Warm-memo calls return
    # instantly, so this only overlaps the cold session bootstrap.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_lex = pool.submit(
            lambda: _bm25_maintained(spark, sf).serve_index()
        )
        f_sem = pool.submit(_ivfopq_maintained, spark, sf)
        bm25_index = f_lex.result()
        mnt = f_sem.result()
    emb = table(spark, sf, "embeddings")
    sem = mnt.topk(emb.filter(F.col("vec_id") == 0), k=20, nprobe=_IVFOPQ_NPROBE)
    return _hybrid_from_indexes(bm25_index, sem, _BM25_TERMS)


# --------------------------------------------------------------------------
# RAG retrieval served from a maintained chunk-level BM25 index
# --------------------------------------------------------------------------
def _rag_bm25_maintained(spark: SparkSession, sf: str):
    """The session's maintained CHUNK-level BM25 inverted index:
    context-window chunks (pure per-doc function — chunking commutes
    with ingest slicing) ticked into a ``Bm25Maintainer`` keyed by
    cid. Same split-independence contract as the document index."""
    from _data_engineering_pipeline_project_spark.operators import (
        curation as C,
    )
    from _data_engineering_pipeline_project_spark.streaming.bm25maint import (
        Bm25Maintainer,
    )

    def build():
        docs = table(spark, sf, "documents")
        chunks = C.chunk_documents(docs, chunk_chars=120, overlap=0).select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
            "chunk",
        )
        mnt = Bm25Maintainer(
            spark,
            memo.scratch_dir("rag_bm25_maint_"),
            id_col="cid",
            text_col="chunk",
        )
        bucket = F.coalesce(
            F.pmod(
                F.crc32(F.col("cid").cast("string").cast("binary")), F.lit(2)
            ),
            F.lit(0),
        )
        for i in range(2):
            mnt.merge_batch(chunks.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("rag_bm25_maint", sf), build, lambda mnt: mnt.destroy()
    )


def _rag_maint_sql() -> str:
    # the maintained path serves the IDENTICAL relation (maintained
    # lexical stats == one-shot stats bit-for-bit; the semantic side is
    # the same exact-integer plan), so the registered oracle is reused
    # verbatim — the semantic_dup_pairs_maintained precedent
    from _data_engineering_pipeline_project_spark.queries import ORACLES

    return ORACLES["rag_retrieval_pipeline"]


@query("rag_retrieval_maintained", _rag_maint_sql)  # deferred (reuse)
def rag_retrieval_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """The RAG retrieval stack served from MAINTAINED lexical state:
    chunk-level BM25 top-20 from a standing ``Bm25Maintainer`` over the
    chunk relation (cid-keyed postings with dl payload — the query
    touches only the query bag's postings slice; n_docs/avgdl/df are
    the maintained monoids) fused with the exact-integer
    sign-projection semantic ranking of ``rag_retrieval_pipeline``
    (chunk embeddings are a pure per-chunk function — at scale they
    persist as a vector artifact; the fixed 8-dim integer space here
    makes the exact plan the right one at any corpus size since score
    cost is one fused projection per chunk). Oracle: the one-shot RAG
    twin VERBATIM — hash-parity certifies the maintained lexical stats
    equal the recomputed ones to the last ulp, fused ranks included."""
    from pyspark.sql import Window

    from _data_engineering_pipeline_project_spark.operators import (
        curation as C,
    )
    from _data_engineering_pipeline_project_spark.queries_ext3 import (
        _BM25_TERMS,
        _RAG_NQ2,
        _RAG_Q,
    )

    docs = table(spark, sf, "documents")
    chunks = C.chunk_documents(docs, chunk_chars=120, overlap=0).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
        "chunk",
    )
    toks = chunks.select(
        "cid",
        F.explode(F.split(F.trim(F.lower(F.col("chunk"))), r"\s+")).alias(
            "term"
        ),
    ).filter(F.length("term") > 0)
    sign_cols = [
        F.sum(
            F.when(
                F.substring(
                    F.md5(F.concat(F.col("term"), F.lit(f":{j}"))), 15, 1
                ).isin(*list("13579bdf")),
                -1,
            ).otherwise(1)
        ).alias(f"v{j}")
        for j in range(8)
    ]
    emb = toks.groupBy("cid").agg(*sign_cols)
    dot = sum(
        (F.col(f"v{j}") * F.lit(_RAG_Q[j]) for j in range(1, 8)),
        F.col("v0") * F.lit(_RAG_Q[0]),
    )
    n2 = sum(
        (F.col(f"v{j}") * F.col(f"v{j}") for j in range(1, 8)),
        F.col("v0") * F.col("v0"),
    )
    semscore = emb.select(
        "cid",
        F.when(
            n2 > 0,
            F.round(dot / (F.sqrt(n2) * F.sqrt(F.lit(float(_RAG_NQ2)))), 6),
        ).alias("cos"),
    ).filter(F.col("cos").isNotNull())
    w_sem = Window.orderBy(F.desc("cos"), "cid")
    sem = (
        semscore.orderBy(F.desc("cos"), "cid")
        .limit(20)
        .withColumn("r_sem", F.row_number().over(w_sem).cast("int"))
        .select("cid", "r_sem")
    )

    # lexical: MAINTAINED postings instead of a per-call recompute;
    # fusion text shared with the hybrid (review r13)
    ix = _rag_bm25_maintained(spark, sf).serve_index()
    lex = _bm25_top20_from_index(ix, _BM25_TERMS, "cid")
    return _rrf_fuse_top10(lex, sem, "cid").select(
        "cid",
        F.expr("cid div 1000").alias("doc_id"),
        (F.col("cid") % 1000).cast("int").alias("chunk_idx"),
        "r_lex",
        "r_sem",
        "rrf",
        "rnk",
    )


# --------------------------------------------------------------------------
# Maintained covariance / PCA sufficient statistics (r13 wave 2)
# --------------------------------------------------------------------------
def _cov_maintained(spark: SparkSession, sf: str):
    """The session's maintained covariance statistics over this sf's
    embeddings: three deterministic ingest slices ticked into a
    ``CovarianceMaintainer``. Exact DECIMAL sums are order-free, so
    the served relations are split-independent (N ticks == one-shot
    ``pca_fit(method='gram')``, bit-for-bit, pinned by test) — which
    is why the one-shot oracles check them verbatim."""
    from _data_engineering_pipeline_project_spark.streaming.covmaint import (
        CovarianceMaintainer,
    )

    def build():
        emb = table(spark, sf, "embeddings").select("vec_id", "embedding")
        mnt = CovarianceMaintainer(
            spark, memo.scratch_dir("cov_maint_"), dim=64
        )
        bucket = F.coalesce(
            F.pmod(
                F.crc32(F.col("vec_id").cast("string").cast("binary")), F.lit(3)
            ),
            F.lit(0),
        )
        for i in range(3):
            mnt.merge_batch(emb.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("cov_maint", sf), build, lambda mnt: mnt.destroy()
    )


def _cov_audit_sql() -> str:
    # the maintained sums rebuild the IDENTICAL doubles, so the batch
    # audit's registered oracle is reused verbatim
    from _data_engineering_pipeline_project_spark.queries import ORACLES

    return ORACLES["embedding_covariance_audit"]


@query("covariance_maintained_embeddings", _cov_audit_sql)
def covariance_maintained_embeddings(
    spark: SparkSession, sf: str
) -> DataFrame:
    """The covariance redundancy audit served from MAINTAINED
    sufficient statistics (``streaming/covmaint.py:
    CovarianceMaintainer``) instead of a corpus scan: state is the
    exact DECIMAL power-sum triangle (d(d+1)/2 + d + 1 rows forever),
    each ingest slice folded in O(batch·d) gram passes; serving
    rebuilds the audit's doubles with the identical IEEE sequences.
    Oracle: the batch audit's SQL verbatim — hash-parity certifies the
    maintained monoid decomposition down to the last ulp of every
    covariance. At 100 TB this is what makes rotation re-training a
    NO-SCAN operation (see ``pca_scree_maintained`` and the blue/green
    rebuild test)."""
    cov = _cov_maintained(spark, sf).covariance_pairs(
        include_diagonal=False
    ).select("dim_i", "dim_j", F.round("cov", 8).alias("cov"))
    return cov.orderBy(
        F.abs(F.col("cov")).desc(), "dim_i", "dim_j"
    ).limit(20)


def _scree_maint_sql() -> str:
    from _data_engineering_pipeline_project_spark.queries import ORACLES

    sql = ORACLES["pca_variance_explained_embeddings"]
    return sql() if callable(sql) else sql


@query("pca_scree_maintained", _scree_maint_sql)  # deferred (reuse)
def pca_scree_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """The scree report computed from the MAINTAINED statistics — the
    full ``pca_fit`` model (cov doubles, mean, eigh spectrum) rebuilt
    from standing DECIMAL sums without touching a single corpus row.
    Oracle: the scree's deferred twin verbatim (independent DuckDB
    covariance + identical eigh) — a hash match certifies that
    maintained-sums → model is bit-equal to corpus-scan → model,
    which is the exact guarantee the no-scan re-bootstrap loop
    (CovarianceMaintainer.model() → opq_allocate →
    BlueGreenIndex.swap) rests on."""
    from _data_engineering_pipeline_project_spark.operators.pca import (
        variance_explained,
    )

    model = _cov_maintained(spark, sf).model()
    rows = variance_explained(model)[:8]
    from _data_engineering_pipeline_project_spark.functions.localrel import (
        local_df,
    )

    return local_df(
        spark,
        [(c, round(e, 8), round(f, 6)) for c, e, f in rows],
        "component int, eigenvalue double, cum_fraction double",
    )


# --------------------------------------------------------------------------
# Maintained drift report, oracled (r13 wave 3)
# --------------------------------------------------------------------------
def _drift_maintained(spark: SparkSession, sf: str):
    """The session's maintained drift monitor over this sf's
    embeddings: md5-bucket slice 0 establishes the pinned baseline
    (the cross-engine hash_bucket convention — crc32 has no DuckDB
    twin), slices 1-2 are the post-baseline ingest. Every quantity is
    an exact integer sum, so the served report is split-independent
    AND statically SQL-expressible."""
    from _data_engineering_pipeline_project_spark.operators import (
        sampling as S,
    )
    from _data_engineering_pipeline_project_spark.streaming.driftmaint import (
        DriftMaintainer,
    )

    def build():
        emb = table(spark, sf, "embeddings").select("vec_id", "embedding")
        mnt = DriftMaintainer(spark, memo.scratch_dir("drift_maint_"))
        bucket = S.hash_bucket("vec_id", 3)
        mnt.merge_batch(emb.filter(bucket == 0), batch_id=0)
        mnt.mark_baseline()
        for i in (1, 2):
            mnt.merge_batch(emb.filter(bucket == i), batch_id=i)
        return mnt

    return memo.get(
        spark, ("drift_maint", sf), build, lambda mnt: mnt.destroy()
    )


_DRIFT_MAINT_SQL = """
    WITH vq AS (
      SELECT CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 3 AS b,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1048576.0) AS BIGINT)) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    e AS (SELECT b, i, v[i] AS vi
          FROM vq, generate_series(1, 64) g(i)),
    base AS (SELECT i AS dim, count(*) AS n,
                    CAST(sum(vi) AS DOUBLE) AS s,
                    CAST(sum(vi * vi) AS DOUBLE) AS sii
             FROM e WHERE b = 0 GROUP BY i),
    now AS (SELECT i AS dim, count(*) AS n,
                   CAST(sum(vi) AS DOUBLE) AS s,
                   CAST(sum(vi * vi) AS DOUBLE) AS sii
            FROM e GROUP BY i),
    m AS (SELECT base.dim,
                 base.s / base.n / 1048576.0 AS mu_a,
                 (base.n * base.sii - base.s * base.s)
                   / (base.n * base.n) / (1048576.0 * 1048576.0) AS var_a,
                 now.s / now.n / 1048576.0 AS mu_b,
                 (now.n * now.sii - now.s * now.s)
                   / (now.n * now.n) / (1048576.0 * 1048576.0) AS var_b
          FROM base JOIN now ON base.dim = now.dim)
    SELECT CAST(dim AS INTEGER) AS dim,
           round(mu_a, 8) AS mean_a, round(mu_b, 8) AS mean_b,
           round(abs(mu_a - mu_b), 8) AS mean_shift,
           round(var_a, 8) AS var_a, round(var_b, 8) AS var_b,
           round(var_b / var_a, 6) AS var_ratio
    FROM m
    ORDER BY mean_shift DESC, dim
    LIMIT 10
"""


@query("drift_report_maintained", _DRIFT_MAINT_SQL)
def drift_report_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """The drift monitor's report relation served from MAINTAINED
    moment state (``streaming/driftmaint.py:DriftMaintainer``) — and
    ORACLED: per-dim power sums are exact integers on the quantized
    lane, so DuckDB recomputes baseline-window-vs-everything moments
    from the raw vectors and the maintained report hash-matches down
    to every rounded shift and variance ratio. This upgrades the
    drift→re-bootstrap loop's trigger input from test-pinned to
    value-certified: the exact relation ``rebootstrap_decision``
    consumes is what the oracle checks. Two bounded d-row reads at
    serve time; no corpus scan."""
    return _drift_maintained(spark, sf).drift_report(top=10)


# --------------------------------------------------------------------------
# DSIR importance resampling (r13 wave 3)
# --------------------------------------------------------------------------
@query(
    "dsir_importance_resample_documents",
    r"""
    WITH tok0 AS (SELECT doc_id, lang,
                         unnest(string_split_regex(trim(lower(text)),
                                                   '\s+')) AS term
                  FROM documents),
    tok AS (SELECT doc_id, lang, term,
                   CAST('0x' || substr(md5(term), 1, 15) AS BIGINT)
                     % 1024 AS b
            FROM tok0 WHERE length(term) > 0),
    tgt AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'en'
            GROUP BY b),
    raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY b),
    tot AS (SELECT count(*) AS R,
                   count(*) FILTER (WHERE lang = 'en') AS T
            FROM tok),
    lr AS (SELECT raw.b,
                  CAST(round((ln((coalesce(ct, 0) + 1) / (T + 1024))
                              - ln((cr + 1) / (R + 1024)))
                             * 1000000) AS BIGINT) AS lr_fp
           FROM raw LEFT JOIN tgt USING (b), tot),
    sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  sum(lr_fp) AS s_fp
           FROM tok JOIN lr USING (b) GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           round(s_fp / 1000000.0, 6) AS dsir_score,
           CAST(row_number() OVER (ORDER BY s_fp DESC, doc_id)
                AS INTEGER) AS rnk
    FROM sc QUALIFY rnk <= 100
    """,
)
def dsir_importance_resample_documents(
    spark: SparkSession, sf: str
) -> DataFrame:
    """DSIR data selection over the corpus (Xie et al. 2023): target =
    English documents' token distribution, features = 1024 hashed
    unigram buckets, per-doc importance = Σ per-bucket smoothed
    log-likelihood ratios — the top-100 most target-like documents
    with their scores. The fixed-point lane (round each bucket's
    log-ratio to 10^-6 BEFORE the per-doc sum) makes the score an
    exact long sum, so ranking and hash parity are engine-independent
    despite the ln() calls (``operators/sampling.py:
    dsir_importance_scores``). Scale: one tokenize pass + a
    1024-row broadcast ratio table — the selection sweep a 100 TB
    pre-training pipeline runs to bias sampling toward a target
    domain without training a classifier."""
    from pyspark.sql import Window

    from _data_engineering_pipeline_project_spark.operators.sampling import (
        dsir_importance_scores,
    )

    docs = table(spark, sf, "documents")
    sc = dsir_importance_scores(docs, F.col("lang") == "en")
    w = Window.orderBy(F.desc("score_fp"), "doc_id")
    return (
        sc.orderBy(F.desc("score_fp"), "doc_id")
        .limit(100)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .select("doc_id", "n_tokens", "dsir_score", "rnk")
    )
