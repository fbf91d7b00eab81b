"""CDC diff, approximate-sketch sanity, and the custom stateful
streaming operator (state persists across restarts)."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from e_commerce_lakehouse_spark.operators import upsert
from e_commerce_lakehouse_spark.sources import load_table
from e_commerce_lakehouse_spark.streaming import events as se
from tests.conftest import SF_SMALL


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="upsert_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_approx_sketches_close_to_exact(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey").alias("approx_parts"))
        .collect()
    }
    exact = {
        r["l_returnflag"]: r["exact"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact"))
        .collect()
    }
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 0.1  # HLL default rsd ~5%
    p50 = li.agg(F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p")).first()["p"]
    lo, hi = li.approxQuantile("l_extendedprice", [0.4, 0.6], 0.01)
    assert lo <= p50 <= hi


RAW_SCHEMA = StructType([StructField("value", StringType())])


def _write_batch(path: str, fname: str, rows):
    with open(f"{path}/{fname}", "w") as f:
        for r in rows:
            f.write(json.dumps({"value": json.dumps(r)}) + "\n")


def test_stateful_running_totals_across_restarts(spark, tmpdir):
    """applyInPandasWithState: per-user totals accumulate across two
    separate availableNow runs sharing a checkpoint (state store
    round-trip, the thing batch aggregation can't do)."""
    import os

    src, ckpt = f"{tmpdir}/src", f"{tmpdir}/ck"
    os.makedirs(src)
    ev = lambda i, uid, val: {  # noqa: E731
        "event_id": f"e{i}",
        "timestamp": f"2024-01-01 10:{i:02d}:00",
        "user_id": uid,
        "product_id": "p1",
    }
    _write_batch(src, "b1.json", [ev(0, "7", 0), ev(1, "7", 0), ev(2, "8", 0)])

    out: dict[int, tuple[int, int]] = {}

    def run_once(qname):
        # memory sink can't recover from a checkpoint; foreachBatch can
        out.clear()

        def capture(batch_df, _bid):
            for r in batch_df.collect():
                out[r["user_id"]] = (r["n_events"], r["total_value"])

        raw = spark.readStream.schema(RAW_SCHEMA).json(src)
        parsed = (
            se.parse_raw_events(raw, "page_view")
            .withColumn("user_id", F.col("user_id").cast("long"))
            .withColumn("value", F.lit(1.5))
            .withColumnRenamed("event_time", "ts")
        )
        totals = se.running_user_totals(parsed)
        q = (
            totals.writeStream.foreachBatch(capture)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return dict(out)

    got1 = run_once("state_t1")
    assert got1[7] == (2, 300)  # 2 × 1.50 in cents
    assert got1[8] == (1, 150)

    _write_batch(src, "b2.json", [ev(3, "7", 0)])
    got2 = run_once("state_t2")
    assert got2[7] == (3, 450)  # state carried across the restart


def test_cdc_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40)],
        "k long, v string, w long",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, None, 30), (4, "D", 40), (5, "e", 50)],
        "k long, v string, w long",
    )
    got = {
        (r.k, r._change_type): (r.v, r.w)
        for r in upsert.cdc_diff(old, new, ["k"]).collect()
    }
    # unchanged rows (2 and the null-valued 3) emit nothing
    assert got == {
        (1, "delete"): ("a", 10),
        (4, "update_preimage"): ("d", 40),
        (4, "update_postimage"): ("D", 40),
        (5, "insert"): ("e", 50),
    }


def test_cdc_diff_null_transitions_and_null_keys(spark):
    old = spark.createDataFrame([(1, "x"), (None, "n")], "k long, v string")
    new = spark.createDataFrame([(1, None), (None, "n2")], "k long, v string")
    rows = upsert.cdc_diff(old, new, ["k"]).collect()
    by = {(r.k, r._change_type): r.v for r in rows}
    # NULL value transition is an update; NULL keys join null-safely
    assert by[(1, "update_preimage")] == "x"
    assert by[(1, "update_postimage")] is None
    assert by[(None, "update_preimage")] == "n"
    assert by[(None, "update_postimage")] == "n2"
    assert len(rows) == 4


def test_cdc_diff_input_validation(spark):
    a = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="identical columns"):
        upsert.cdc_diff(a, a.select("k"), ["k"])
    with pytest.raises(ValueError, match="not in columns"):
        upsert.cdc_diff(a, a, ["missing"])


def test_snapshot_changes_between_versions(spark, tmpdir):
    from e_commerce_lakehouse_spark.sources import snapshots as S

    root = f"{tmpdir}/snap_cdc"
    v1 = S.write_snapshot(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), root
    )
    v2 = S.write_snapshot(
        spark.createDataFrame([(2, 99), (3, 30)], "k long, v long"), root
    )
    feed = S.snapshot_changes(spark, root, ["k"], v1, v2)
    got = {(r.k, r._change_type): (r.v, r._commit_version) for r in feed.collect()}
    assert got == {
        (1, "delete"): (10, v2),
        (2, "update_preimage"): (20, v2),
        (2, "update_postimage"): (99, v2),
        (3, "insert"): (30, v2),
    }
    with pytest.raises(ValueError, match="must differ"):
        S.snapshot_changes(spark, root, ["k"], v1, v1)
    # append-only commit: the feed is exactly the appended rows
    v3 = S.write_snapshot(
        spark.createDataFrame([(4, 40)], "k long, v long"), root, mode="append"
    )
    feed2 = S.snapshot_changes(spark, root, ["k"], v2, v3).collect()
    assert [(r.k, r._change_type) for r in feed2] == [(4, "insert")]


def test_apply_changes_roundtrip_and_deletes(spark):
    """apply_changes is cdc_diff's inverse: old + feed == new, exactly,
    including deletes (which merge_upsert cannot express)."""
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (None, "n", 0)],
        "k long, v string, w long",
    )
    new = spark.createDataFrame(
        [(2, "B", 20), (3, "c", 30), (4, "d", 40)], "k long, v string, w long"
    )
    feed = upsert.cdc_diff(old, new, ["k"])
    applied = upsert.apply_changes(old, feed, ["k"])
    key = lambda r: (r.k if r.k is not None else -1, r.v, r.w)
    assert sorted(map(key, applied.collect())) == sorted(map(key, new.collect()))

    with pytest.raises(ValueError, match="_change_type"):
        upsert.apply_changes(old, new, ["k"])
    with pytest.raises(ValueError, match="missing target columns"):
        upsert.apply_changes(old, feed.drop("w"), ["k"])


def test_merge_partial_aggregates_equals_full_rebuild(spark):
    """IVM correctness: merging the delta's partials into the base
    aggregate equals re-aggregating base ∪ delta — for sum, count,
    min, and max, including delta-only and base-only keys and a NULL
    key."""
    from e_commerce_lakehouse_spark.operators import aggregates as agg

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), (None, 7.0)],
        "k string, v double",
    )
    delta = spark.createDataFrame(
        [("a", 10.0), ("c", 3.0), (None, 1.0)], "k string, v double"
    )

    def aggregate(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )

    merged = agg.merge_partial_aggregates(
        aggregate(base),
        aggregate(delta),
        ["k"],
        sum_cols=["n", "s"],
        min_cols=["mn"],
        max_cols=["mx"],
    )
    key = lambda r: ("" if r.k is None else r.k, r.n, r.s, r.mn, r.mx)
    want = sorted(map(key, aggregate(base.unionByName(delta)).collect()))
    got = sorted(map(key, merged.collect()))
    assert got == want

    import pytest as _pt

    with _pt.raises(ValueError, match="missing columns"):
        agg.merge_partial_aggregates(
            aggregate(base).drop("s"), aggregate(delta), ["k"], sum_cols=["s"]
        )
