"""Candidate-volume reduction from the frozen hot-shingle cap
(VERDICT r12 #2; docs/SCALE.md).

A planted-boilerplate corpus — every document opens with the same
cookie-banner sentence (the web-corpus reality), bodies have DISJOINT
vocabularies outside planted dup pairs (the measurement-trap rule:
any other shared vocabulary fabricates collisions the cap can't
claim credit for). Measured: LSH band-collision candidate pairs with
the shingle universe uncapped vs anti-joined against the frozen
drop-list, plus the capped maintained tick's wall time.

Usage: python tools/measure_hot_shingle_cap.py [n_docs]  (default 2000)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
BOILER = (
    "this website uses cookies to improve your experience please accept "
    "our terms of service and privacy policy before continuing to read"
)


def corpus(spark, n):
    """ids 20j and 20j+1 are near-dups (shared unique tail); everything
    else shares ONLY the boilerplate opening."""
    key = F.when(
        F.col("id") % 20 < 2, F.col("id") - F.col("id") % 20
    ).otherwise(F.col("id"))
    toks = [
        F.concat(F.lit(f"u{j}x"), (key * 31 + F.lit(j)).cast("string"))
        for j in range(18)
    ]
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit(BOILER), *toks, F.col("id").cast("string")
        ).alias("text"),
    )


def band_candidates(sh):
    from _data_engineering_pipeline_project_spark.operators.dedup import (
        lsh_candidate_pairs_wide,
        minhash_wide_signatures,
    )

    return lsh_candidate_pairs_wide(
        minhash_wide_signatures(sh, "doc_id", 32), "doc_id", 32, 2
    ).count()


def main() -> None:
    from _data_engineering_pipeline_project_spark.operators.dedup import (
        _shingle_table,
        drop_hot_shingles,
    )
    from _data_engineering_pipeline_project_spark.session import get_spark
    from _data_engineering_pipeline_project_spark.streaming.neardupmaint import (
        NearDupIndexMaintainer,
    )

    spark = get_spark("measure_hot_cap", shuffle_partitions=32)
    docs = corpus(spark, N).persist()
    docs.count()
    sh = _shingle_table(docs, "doc_id", "text", 3).persist()

    t0 = time.time()
    uncapped = band_candidates(sh)
    t_un = time.time() - t0

    cap = 8
    t0 = time.time()
    capped = band_candidates(drop_hot_shingles(sh, cap))
    t_cap = time.time() - t0
    print(
        f"candidates n={N}: uncapped {uncapped} ({t_un:.1f}s) vs "
        f"frozen-cap(df>{cap}) {capped} ({t_cap:.1f}s) — "
        f"{uncapped / max(capped, 1):.0f}x reduction",
        flush=True,
    )

    # capped maintained tick end-to-end (freeze, then one tick)
    with tempfile.TemporaryDirectory(prefix="hotcap_") as tmp:
        mnt = NearDupIndexMaintainer(
            spark, os.path.join(tmp, "index"), max_shingle_df=cap
        )
        n_hot = mnt.bootstrap_hot_shingles(docs)
        t0 = time.time()
        mnt.merge_batch(docs, batch_id=0)
        t_tick = time.time() - t0
        pairs = mnt.pairs().count()
    print(
        f"maintained capped: frozen_list {n_hot} shingles, "
        f"tick {t_tick:.1f}s, verified pairs {pairs}",
        flush=True,
    )


if __name__ == "__main__":
    main()
