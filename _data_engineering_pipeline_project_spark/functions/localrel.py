"""Driver-local small relations without the pickled-RDD tax.

``spark.createDataFrame(list_of_tuples)`` parallelizes the rows into a
``defaultParallelism``-sized Python RDD: every downstream action runs
one task per slice and EVERY task pays a Python-worker round trip to
deserialize its (almost always empty) pickle slice. Measured at
local[32]: writing a ONE-ROW params frame costs ~4 s through that path
and ~0.3 s when the rows enter the JVM as a single Arrow batch — and on
a cluster the same pattern schedules 32 no-op Python tasks per tiny
frame. Guide §4: data should cross the Python boundary as Arrow, and a
driver-local constant relation should cross it exactly once.

``local_df`` builds the relation from one pyarrow Table with the
DECLARED Spark schema mapped field-by-field onto Arrow types, so values
round-trip exactly like the classic path (``None`` stays NULL — a
pandas route would smuggle NaN into nullable double lanes, which is why
this goes through pyarrow directly). Timestamp fields and any Arrow
conversion failure fall back to the classic ``createDataFrame``
(correct, just slower), so callers never see a behavior difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _has_timestamp(dt: T.DataType) -> bool:
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    return False


def local_df(
    spark: SparkSession,
    rows: list,
    schema: "str | T.StructType",
) -> DataFrame:
    """A small driver-local DataFrame entering the JVM as ONE Arrow
    batch (single partition). ``rows``: tuples/Rows or dicts; ``schema``:
    DDL string or StructType. Bit-identical values to the classic
    ``createDataFrame`` (test-pinned), ~10-30x cheaper per action."""
    if isinstance(schema, str):
        # _parse_datatype_string is a private PySpark API (ADVICE r13):
        # an upstream rename must degrade to the classic path, not
        # break every DDL-string caller
        try:
            st = T._parse_datatype_string(schema)
        except Exception:
            return spark.createDataFrame(rows, schema)
    else:
        st = schema
    # the classic path raises on a row wider than the schema; zip()
    # below would silently truncate it (ADVICE r13/r14) — check EVERY
    # tuple row, outside the try so the classic fallback cannot swallow it
    n = len(st.fields)
    for i, r in enumerate(rows):
        if isinstance(r, (tuple, list)) and len(r) != n:
            raise ValueError(
                f"row {i} has {len(r)} fields, schema declares {n}"
            )
    if any(_has_timestamp(f.dataType) for f in st.fields):
        # session-timezone semantics are the classic path's job
        return spark.createDataFrame(rows, st)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        asch = to_arrow_schema(st)
        names = [f.name for f in st.fields]
        if rows and isinstance(rows[0], dict):
            cols = [[r.get(n) for r in rows] for n in names]
        elif rows:
            cols = [list(c) for c in zip(*rows)]
        else:
            cols = [[] for _ in names]
        tbl = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, asch)],
            schema=asch,
        )
        # the JVM re-slices the Arrow stream across defaultParallelism;
        # coalesce(1) (narrow, no shuffle) keeps every action on this
        # driver-local constant a single JVM task
        return spark.createDataFrame(tbl).coalesce(1)
    except Exception:
        return spark.createDataFrame(rows, st)
