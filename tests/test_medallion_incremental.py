"""Medallion pipeline on the reference's batch CSV schema (seeded
inputs with planted dirty rows, tests/ecom_batch.py — validates our
silver/gold semantics on the source system's table shapes) +
incremental high-watermark load behavior."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators import incremental
from e_commerce_lakehouse_spark.plans import medallion
from e_commerce_lakehouse_spark.sources import load_table
from tests.conftest import SF_SMALL


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="medallion_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_pipeline_on_reference_data(spark, tmpdir, ecom_csv):
    csv_dir, facts = ecom_csv
    counts = medallion.run_batch_pipeline(spark, csv_dir, tmpdir)
    # bronze is a faithful copy of every CSV row, dirty ones included
    for name, n in facts["rows"].items():
        assert counts[f"bronze.{name}"] == n, name
    # silver: dedup keeps exactly one row per id; facts drop exactly
    # the planted invalid rows
    assert counts["silver.dim_products"] == facts["distinct_products"]
    assert counts["silver.dim_users"] == facts["distinct_users"]
    assert counts["silver.fact_purchase_event"] == facts["valid_items"]
    assert counts["silver.fact_reviews"] == facts["valid_reviews"]
    assert counts["gold.sales_summary"] > 0
    assert counts["gold.review_summary"] > 0


def test_silver_semantics(spark, tmpdir, ecom_csv):
    csv_dir, facts = ecom_csv
    assert facts["stale_products"] and facts["stale_users"]
    assert facts["dirty_emails"] and facts["null_name_parts"]
    medallion.run_batch_pipeline(spark, csv_dir, tmpdir)
    dimp = spark.read.parquet(f"{tmpdir}/silver/dim_products")
    # dedup by product_id is total, and keeps the NEWEST version
    assert dimp.count() == dimp.select("product_id").distinct().count()
    assert dimp.filter(F.col("product_name") == facts["stale_name"]).count() == 0
    # category enrich landed
    assert dimp.filter(F.col("category_name").isNotNull()).count() > 0

    dimu = spark.read.parquet(f"{tmpdir}/silver/dim_users")
    assert dimu.count() == dimu.select("user_id").distinct().count()
    assert dimu.filter(F.col("first_name") == facts["stale_name"]).count() == 0
    # F4 bug fixed: full_name is the real concatenation, never NULL —
    # also when one name part is NULL
    assert dimu.filter(F.col("full_name").isNull()).count() == 0
    sample = dimu.filter(F.col("user_id") == 1).first()
    assert sample["full_name"] == f"{sample['first_name']} {sample['last_name']}"
    half = dimu.filter(F.col("first_name").isNull() | F.col("last_name").isNull())
    assert half.count() == facts["null_name_parts"]
    assert half.filter(
        F.col("full_name") != F.coalesce("first_name", "last_name")
    ).count() == 0
    # emails normalized
    assert dimu.filter(F.col("email") != F.lower(F.trim("email"))).count() == 0

    fr = spark.read.parquet(f"{tmpdir}/silver/fact_reviews")
    assert fr.filter(~F.col("rating").between(1, 5)).count() == 0
    fp = spark.read.parquet(f"{tmpdir}/silver/fact_purchase_event")
    assert fp.filter((F.col("quantity") <= 0) | (F.col("price") <= 0)).count() == 0


def test_gold_sales_summary_consistency(spark, tmpdir, ecom_csv):
    medallion.run_batch_pipeline(spark, ecom_csv[0], tmpdir)
    gold = spark.read.parquet(f"{tmpdir}/gold/sales_summary")
    fact = spark.read.parquet(f"{tmpdir}/silver/fact_purchase_event")
    # total purchases across gold == fact rows (no row lost in agg/join)
    assert gold.agg(F.sum("num_purchases")).first()[0] == fact.count()
    # partition layout written as year=/month=
    import os
    years = [d for d in os.listdir(f"{tmpdir}/gold/sales_summary") if d.startswith("year=")]
    assert years, "gold must be partitioned by year"


def test_incremental_append_idempotent(spark, tmpdir):
    orders = load_table(spark, SF_SMALL, "orders")
    path = f"{tmpdir}/orders_bronze"
    n1 = incremental.incremental_append(spark, orders, path, "o_orderdate")
    assert n1 == orders.count()
    # re-run: nothing newer → appends 0, count stable
    n2 = incremental.incremental_append(spark, orders, path, "o_orderdate")
    assert n2 == 0
    assert spark.read.parquet(path).count() == n1


def test_incremental_append_picks_up_new_rows(spark, tmpdir):
    orders = load_table(spark, SF_SMALL, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    assert 0 < old.count() < orders.count()
    path = f"{tmpdir}/orders_incr"
    incremental.incremental_append(spark, old, path, "o_orderdate")
    n_new = incremental.incremental_append(spark, orders, path, "o_orderdate")
    assert n_new == orders.count() - old.count()
    assert spark.read.parquet(path).count() == orders.count()


def test_incremental_dependent_pair(spark, tmpdir):
    orders = load_table(spark, SF_SMALL, "orders")
    lineitem = load_table(spark, SF_SMALL, "lineitem")
    p_path, c_path = f"{tmpdir}/orders_p", f"{tmpdir}/items_c"
    # seed with the pre-1997 slice (by order date)
    old_orders = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    np1, nc1 = incremental.incremental_append_dependent(
        spark, old_orders, lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        p_path, c_path, "o_orderdate", "o_orderkey",
    )
    np2, nc2 = incremental.incremental_append_dependent(
        spark, orders, lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        p_path, c_path, "o_orderdate", "o_orderkey",
    )
    assert np1 + np2 == orders.count()
    # children exactly partition across the two loads
    assert nc1 + nc2 == lineitem.count()
    # child rows belong to their load's parent slice only (no dup/loss)
    assert spark.read.parquet(c_path).count() == lineitem.count()


def test_scd2_merge_folds_to_full_history(spark):
    """Folding scd2_merge over timestamp-ordered batches reproduces
    cleaning.scd2 of the full change stream exactly — the incremental
    path and the rebuild path cannot drift."""
    from e_commerce_lakehouse_spark.operators import cleaning

    rows = [
        (u, t, f"v{u}@{t}")
        for u in (1, 2, 3)
        for t in (10, 20, 30)
        if not (u == 3 and t > 10)  # user 3 never changes after t=10
    ]
    full = spark.createDataFrame(rows, "user_id long, ts long, v string")
    expected = cleaning.scd2(full, ["user_id"], "ts").select(
        "user_id", "ts", "v", "valid_from", "valid_to", "is_current"
    )
    batches = [
        spark.createDataFrame(
            [r for r in rows if r[1] == t], "user_id long, ts long, v string"
        )
        for t in (10, 20, 30)
    ]
    dim = cleaning.scd2(batches[0], ["user_id"], "ts")
    for b in batches[1:]:
        dim = cleaning.scd2_merge(dim, b, ["user_id"], "ts")
    key = lambda r: tuple((x is None, x) for x in r)
    assert sorted(map(key, dim.collect())) == sorted(
        map(key, expected.collect())
    )


def test_scd2_merge_noop_insert_and_guards(spark):
    from e_commerce_lakehouse_spark.operators import cleaning
    import pyspark.errors as PE

    base = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "k long, ts long, v string"
    )
    dim = cleaning.scd2(base, ["k"], "ts")

    # unchanged tracked value at a newer ts: no new version opens
    noop = spark.createDataFrame([(1, 30, "b")], "k long, ts long, v string")
    out = cleaning.scd2_merge(dim, noop, ["k"], "ts", tracked_cols=["v"])
    assert out.count() == 2
    cur = out.filter("is_current").collect()
    assert len(cur) == 1 and cur[0].v == "b" and cur[0].valid_from == 20

    # brand-new key inserts an open version
    ins = spark.createDataFrame([(2, 5, "z")], "k long, ts long, v string")
    out2 = cleaning.scd2_merge(dim, ins, ["k"], "ts", tracked_cols=["v"])
    r2 = out2.filter("k = 2").collect()
    assert len(r2) == 1 and r2[0].is_current and r2[0].valid_from == 5

    # a genuine change closes at the update ts and opens a new version
    chg = spark.createDataFrame([(1, 30, "c")], "k long, ts long, v string")
    out3 = cleaning.scd2_merge(dim, chg, ["k"], "ts", tracked_cols=["v"])
    got = {(r.v, r.valid_from, r.valid_to, r.is_current) for r in out3.collect()}
    assert got == {
        ("a", 10, 20, False),
        ("b", 20, 30, False),
        ("c", 30, None, True),
    }

    # out-of-order update (ts <= current valid_from) fails IN-PLAN
    stale = spark.createDataFrame([(1, 15, "x")], "k long, ts long, v string")
    with pytest.raises(PE.PySparkException, match="out-of-order"):
        cleaning.scd2_merge(dim, stale, ["k"], "ts", tracked_cols=["v"]).collect()

    with pytest.raises(ValueError, match="payload"):
        cleaning.scd2_merge(dim, stale.drop("v"), ["k"], "ts")
    with pytest.raises(ValueError, match="SCD2 column"):
        cleaning.scd2_merge(base, stale, ["k"], "ts")


def test_scd2_merge_guard_survives_pruning(spark):
    """Review fix: the out-of-order guard rides the first payload
    column, so even a plan that prunes valid_to still trips it."""
    from e_commerce_lakehouse_spark.operators import cleaning
    import pyspark.errors as PE

    base = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "k long, ts long, v string"
    )
    dim = cleaning.scd2(base, ["k"], "ts")
    stale = spark.createDataFrame([(1, 15, "x")], "k long, ts long, v string")
    out = cleaning.scd2_merge(dim, stale, ["k"], "ts", tracked_cols=["v"])
    with pytest.raises(PE.PySparkException, match="out-of-order"):
        out.filter("is_current").select("k", "v").collect()  # valid_to pruned


def test_scd2_merge_guard_survives_single_column_and_count(spark):
    """Second review pass: the alarm rides EVERY payload column, so a
    single-column select or a bare count() still trips it."""
    from e_commerce_lakehouse_spark.operators import cleaning
    import pyspark.errors as PE

    base = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "k long, ts long, v string"
    )
    dim = cleaning.scd2(base, ["k"], "ts")
    stale = spark.createDataFrame([(1, 15, "x")], "k long, ts long, v string")
    out = cleaning.scd2_merge(dim, stale, ["k"], "ts", tracked_cols=["v"])
    with pytest.raises(PE.PySparkException, match="out-of-order"):
        out.select("v").collect()
    with pytest.raises(PE.PySparkException, match="out-of-order"):
        out.count()


def test_incremental_append_single_action(spark, tmpdir, monkeypatch):
    """Round-7 verdict fix: the appended-row count rides the write as
    an observe metric — no count() scan (pinned by making any count
    call during the append an immediate failure; isEmpty stays as the
    cheap LIMIT-1 no-op short-circuit), and a no-op run writes NOTHING
    so idle hourly runs never accumulate empty part files."""
    import os

    import pyspark.sql

    from e_commerce_lakehouse_spark.operators import incremental

    orders = load_table(spark, SF_SMALL, "orders")
    path = f"{tmpdir}/orders_single_action"

    def forbidden(self, *a, **k):
        raise AssertionError("count() during incremental_append")

    monkeypatch.setattr(pyspark.sql.DataFrame, "count", forbidden)
    n1 = incremental.incremental_append(spark, orders, path, "o_orderdate")
    files_after_load = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )
    n2 = incremental.incremental_append(spark, orders, path, "o_orderdate")
    monkeypatch.undo()
    assert n1 == orders.count() and n2 == 0
    # the no-op run left the target byte-identical — no empty parts
    assert files_after_load == sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )
    assert spark.read.parquet(path).count() == n1
    # an empty source against a missing target must not create it
    empty = orders.filter("o_orderkey < 0")
    assert incremental.incremental_append(spark, empty, f"{tmpdir}/nope", "o_orderdate") == 0
    assert not os.path.isdir(f"{tmpdir}/nope")
