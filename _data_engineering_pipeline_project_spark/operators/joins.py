"""Set-difference and diff joins — the incremental-load building blocks.

The reference detects new/changed/deleted rows with pandas merges and
index alignment (reference project/etl2.py:270-296, 329-331, 383); the
engine re-expresses each as a join whose physical strategy Catalyst picks
(broadcast for dimension-sized sides, sort-merge otherwise, AQE-rewritten
at runtime). All are equi-joins on the PK — at scale they shuffle once on
the key; pre-bucketing both snapshots by PK makes them shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from _data_engineering_pipeline_project_spark.functions.expressions import row_differs


def new_rows(incoming: DataFrame, existing: DataFrame, pk: list[str]) -> DataFrame:
    """J1 — rows of ``incoming`` whose PK is absent from ``existing``.

    Reference: left merge + ``_merge=='left_only'`` (etl2:329-331).
    """
    return incoming.join(existing.select(*pk).dropDuplicates(), on=pk, how="left_anti")


def deleted_rows(existing: DataFrame, incoming: DataFrame, pk: list[str]) -> DataFrame:
    """J5 — rows of ``existing`` whose PK is absent from ``incoming``.

    Reference: ``existing[~existing[pk].isin(df[pk])]`` (etl2:383).
    """
    return existing.join(incoming.select(*pk).dropDuplicates(), on=pk, how="left_anti")


def changed_rows(
    incoming: DataFrame,
    existing: DataFrame,
    pk: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """J4 — PK-matched rows where any compared column differs (null-safe).

    Reference: ``get_changed_rows`` (etl2:270-296) — index-aligned
    ``DataFrame.compare`` after ``sort_index``. The engine's version is an
    inner join on PK + a null-safe ``<=>`` disjunction: order-free, no
    sort, one shuffle (or zero if both sides are bucketed by PK).

    Returns the incoming rows (new values), like the reference.
    """
    if compare_cols is None:
        common = set(incoming.columns) & set(existing.columns)
        compare_cols = [c for c in incoming.columns if c in common and c not in pk]
    inc = incoming.alias("inc")
    ex = existing.alias("ex")
    cond = [F.col(f"inc.{k}") == F.col(f"ex.{k}") for k in pk]
    return (
        inc.join(ex, cond, "inner")
        .filter(row_differs("inc", "ex", compare_cols))
        .select("inc.*")
    )


def snapshot_diff(
    incoming: DataFrame,
    existing: DataFrame,
    pk: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Classify every PK across two snapshots: insert/update/delete/unchanged.

    One full-outer join instead of the reference's three separate passes
    (anti-join for inserts etl2:329, compare for updates etl2:341, anti-
    join for deletes etl2:383) — a single shuffle produces all four
    classes. Output: incoming columns (existing's for deletes) +
    ``change_type``.
    """
    if compare_cols is None:
        common = set(incoming.columns) & set(existing.columns)
        compare_cols = [c for c in incoming.columns if c in common and c not in pk]
    inc = incoming.alias("inc")
    ex = existing.alias("ex")
    cond = [F.col(f"inc.{k}").eqNullSafe(F.col(f"ex.{k}")) for k in pk]
    joined = inc.join(ex, cond, "full_outer")
    inc_present = F.col(f"inc.{pk[0]}").isNotNull()
    ex_present = F.col(f"ex.{pk[0]}").isNotNull()
    deleted = ~inc_present & ex_present
    change = (
        F.when(inc_present & ~ex_present, F.lit("insert"))
        .when(deleted, F.lit("delete"))
        .when(row_differs("inc", "ex", compare_cols), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    ex_cols = set(existing.columns)

    def value(c: str):
        # keys coalesce; any other column is the incoming side's unless
        # the key left it, so an update to NULL stays NULL
        new, old = F.col(f"inc.{c}"), F.col(f"ex.{c}")
        if c in pk:
            return F.coalesce(new, old)
        return F.when(deleted, old).otherwise(new) if c in ex_cols else new

    cols = [value(c).alias(c) for c in incoming.columns]
    return joined.select(*cols, change.alias("change_type"))
