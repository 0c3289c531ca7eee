"""End-to-end pipeline test on an Olist-shaped CSV fixture (FIXTURES.md §A):
two batches through ingest → normalize → validate → SCD2 load, asserting
cleaned tables, violation sinks, and history — the reference's full E1
lifecycle (etl2:17-459) in one scenario."""

from __future__ import annotations

import os
from datetime import datetime

from _data_engineering_pipeline_project_spark.pipeline import Pipeline
from _data_engineering_pipeline_project_spark.schema import olist_registry

CUSTOMERS_B1 = """customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state
c1,u1,1000,sao paulo,SP
c2,u2,2000,rio,RJ
c2,u2b,2000,rio,RJ
,u3,3000,belo horizonte,MG
c4,u4,4000,curitiba 😀,PR
"""

ORDERS_B1 = """order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date
o1,c1,delivered,2024-01-01 10:00:00,2024-01-01 11:00:00,2024-01-02 09:00:00,2024-01-05 12:00:00,2024-01-10 00:00:00
o2,c2,delivered,2024-01-02 10:00:00,2024-01-02 09:00:00,nan,2024-01-06 12:00:00,2024-01-11 00:00:00
o3,c9,shipped,2024-01-03 10:00:00,?,2024-01-04 09:00:00,nan,2024-01-12 00:00:00
o4,,created,2024-01-04 10:00:00,nan,nan,nan,2024-01-13 00:00:00
"""

GEO_B1 = """geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state
1000,-23.5,-46.6,sao paulo,SP
1000,-23.6,-46.7,sao paulo,SP
2000,-22.9,-43.2,rio,RJ
"""

CUSTOMERS_B2 = """customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state
c1,u1,1000,sao paulo,SP
c2,u2,2500,rio,RJ
c5,u5,5000,salvador,BA
"""


def _write(dirpath, name, content):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        f.write(content)


def test_full_pipeline_two_batches(spark, tmp_path):
    b1 = str(tmp_path / "batch1")
    _write(b1, "olist_customers_dataset.csv", CUSTOMERS_B1)
    _write(b1, "olist_orders_dataset.csv", ORDERS_B1)
    _write(b1, "olist_geolocation_dataset.csv", GEO_B1)

    pipe = Pipeline(spark, olist_registry(), str(tmp_path / "sink"))
    r1 = pipe.run_batch(b1, datetime(2024, 2, 1))

    # --- validation outcomes (batch 1) ---
    # customers: dup c2 deduped, null PK dropped → c1, c2, c4 remain
    cust = {r["customer_id"] for r in r1.cleaned["customers"].collect()}
    assert cust == {"c1", "c2", "c4"}
    # orders: o3 has orphan FK c9 → dropped; o4 NULL FK → kept (dq:151)
    orders = {r["order_id"] for r in r1.cleaned["orders"].collect()}
    assert orders == {"o1", "o2", "o4"}
    # violations logged: dup pk, null pk, orphan fk
    kinds = {(c, i) for c, i, _ in r1.violation_summary}
    assert ("customers.primary_key", "duplicate_pk") in kinds
    assert ("customers.primary_key", "null_pk") in kinds
    assert ("orders.foreign_key", "orphan_fk") in kinds
    # error sink written and partitioned by check
    errs = spark.read.parquet(str(tmp_path / "sink" / "_errors"))
    assert errs.count() == sum(n for _, _, n in r1.violation_summary)

    # --- normalization (M4) ---
    geo_cs = pipe.spark.read  # normalized tables live in cleaned dict
    dim = {(r["city"], r["state"]): r["city_id"] for r in r1.cleaned["geo_city_state"].collect()}
    assert set(dim) == {("rio", "RJ"), ("sao paulo", "SP")}
    zips = {r["zip_code"]: r["city_id"] for r in r1.cleaned["geo_zip"].collect()}
    assert zips[1000] == dim[("sao paulo", "SP")]

    # --- SCD2 load (batch 1 = initial) ---
    assert r1.merge_stats["customers"] == {"insert": 3}

    # --- batch 2: c2 changed, c4 deleted, c5 new ---
    b2 = str(tmp_path / "batch2")
    _write(b2, "olist_customers_dataset.csv", CUSTOMERS_B2)
    r2 = pipe.run_batch(b2, datetime(2024, 2, 2), normalize_geo=False, write_errors=False)
    assert r2.merge_stats["customers"] == {
        "unchanged": 1,
        "update": 1,
        "insert": 1,
        "delete": 1,
    }
    cur = {r["customer_id"]: r for r in pipe.current("customers").collect()}
    assert cur["c2"]["customer_zip_code_prefix"] == 2500
    assert cur["c4"]["is_deleted"] is True
    assert cur["c5"]["is_deleted"] is False
    hist = pipe.history("customers").collect()
    assert {(h["customer_id"], h["is_deleted"]) for h in hist} == {
        ("c2", False),  # archived old version
        ("c4", True),  # tombstone
    }


SELLERS_B1 = """seller_id,seller_zip_code_prefix,seller_city,seller_state
s1,1000,sao paulo,SP
s2,2000,rio,RJ
"""

SELLERS_B2 = """seller_id,seller_zip_code_prefix,seller_city,seller_state
s1,1000,sao paulo,SP
s2,2500,rio,RJ
"""


def test_pipeline_loads_tables_that_declare_bookkeeping_columns(spark, tmp_path):
    """The registry structs of sellers and products declare ``updated_at``
    and ``is_deleted``; the SCD2 merge owns those columns, so a source
    read with that struct loads instead of failing with
    COLUMN_ALREADY_EXISTS, and the second batch versions the change."""
    b1 = str(tmp_path / "batch1")
    b2 = str(tmp_path / "batch2")
    _write(b1, "olist_sellers_dataset.csv", SELLERS_B1)
    _write(b2, "olist_sellers_dataset.csv", SELLERS_B2)
    t1, t2 = datetime(2024, 2, 1), datetime(2024, 2, 2)

    pipe = Pipeline(spark, olist_registry(), str(tmp_path / "sink"))
    r1 = pipe.run_batch(b1, t1, write_errors=False)
    assert r1.merge_stats["sellers"] == {"insert": 2}
    r2 = pipe.run_batch(b2, t2, write_errors=False)
    assert r2.merge_stats["sellers"] == {"unchanged": 1, "update": 1}

    cur = {r["seller_id"]: r for r in pipe.current("sellers").collect()}
    assert cur["s2"]["seller_zip_code_prefix"] == 2500
    assert (cur["s1"]["updated_at"], cur["s2"]["updated_at"]) == (t1, t2)
    assert not cur["s1"]["is_deleted"] and not cur["s2"]["is_deleted"]
    hist = [
        (h["seller_id"], h["seller_zip_code_prefix"], h["is_deleted"],
         h["valid_from"], h["valid_to"])
        for h in pipe.history("sellers").collect()
    ]
    assert hist == [("s2", 2000, False, t1, t2)]
