"""Incremental gold refresh (plans/ivm.py): N-batch fold == full
rebuild on the reference's medallion tables (seeded batch CSVs with
planted dirty rows, tests/ecom_batch.py), O(delta) file reads
pinned (the refresh never scans the base fact), vanished groups drop,
watermark no-op. The round-6 verdict's flagship ask."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark import schemas
from e_commerce_lakehouse_spark.plans import ivm, medallion
from e_commerce_lakehouse_spark.sources import snapshots as S
from e_commerce_lakehouse_spark.sources.csv import read_csv

@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ivm_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _silver(spark, csv_dir):
    """Batch CSVs -> silver fact_purchase_event + dim_products."""
    bronze = _bronze(spark, csv_dir)
    fact = medallion.fact_purchase_event(bronze["orders"], bronze["order_items"])
    dim = medallion.dim_products(bronze["products"], bronze["categories"])
    reviews = medallion.fact_reviews(bronze["reviews"])
    return fact, dim, reviews


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def _bronze(spark, csv_dir):
    return {
        name: read_csv(spark, os.path.join(csv_dir, f"{name}.csv"), schema)
        for name, schema in schemas.ECOM_TABLES.items()
    }


def _gold_equals_full(spark, wh, csv_dir, tables=("sales", "reviews")):
    """The incremental gold views under ``wh`` equal the full-recompute
    pipeline over ``csv_dir``."""
    bronze = _bronze(spark, csv_dir)
    dim = medallion.dim_products(bronze["products"], bronze["categories"])
    if "sales" in tables:
        got_s = ivm.read_sales_summary(spark, f"{wh}/gold/sales_summary", dim)
        want_s = medallion.sales_summary(
            medallion.fact_purchase_event(bronze["orders"], bronze["order_items"]),
            dim,
        )
        assert _rows(got_s) == _rows(want_s)
    if "reviews" in tables:
        got_r = ivm.read_review_summary(spark, f"{wh}/gold/review_summary", dim)
        want_r = medallion.review_summary(
            medallion.fact_reviews(bronze["reviews"]), dim
        )
        assert _rows(got_r) == _rows(want_r)


def test_sales_fold_equals_rebuild_across_batches(spark, tmpdir, ecom_csv):
    """Three appended batches + one replace_where delete: after every
    refresh, the incrementally-maintained sales_summary equals the
    full rebuild over the fact's current contents — value-exact
    (integer-cents state)."""
    fact, dim, _ = _silver(spark, ecom_csv[0])
    fact = fact.cache()
    fact_root = f"{tmpdir}/fact_purchase_event"
    state_root = f"{tmpdir}/gold_sales_state"

    batches = [fact.filter(F.col("order_id") % 3 == i) for i in range(3)]

    S.write_snapshot(batches[0], fact_root)
    info = ivm.refresh_gold_incremental(spark, fact_root, state_root, ivm.SALES_SPEC)
    assert info["mode"] == "bootstrap"

    current = batches[0]
    for b in batches[1:]:
        S.write_snapshot(b, fact_root, mode="append")
        info = ivm.refresh_gold_incremental(
            spark, fact_root, state_root, ivm.SALES_SPEC
        )
        assert info["mode"] == "incremental"
        current = current.unionByName(b)
        got = ivm.read_sales_summary(spark, state_root, dim)
        want = medallion.sales_summary(current, dim)
        assert _rows(got) == _rows(want)

    # replace_where DELETE of a time range: feed comes from rewritten
    # boundary files only; fold still equals rebuild
    cut = current.agg(F.max("event_time")).first()[0]
    lo = current.agg(F.min("event_time")).first()[0]
    mid = lo + (cut - lo) / 2
    S.replace_where(
        spark,
        fact_root,
        spark.createDataFrame([], ivm_schema := current.schema),
        [("event_time", ">=", mid)],
    )
    info = ivm.refresh_gold_incremental(spark, fact_root, state_root, ivm.SALES_SPEC)
    assert info["mode"] == "incremental"
    remaining = current.filter(F.col("event_time") < mid)
    got = ivm.read_sales_summary(spark, state_root, dim)
    want = medallion.sales_summary(remaining, dim)
    assert _rows(got) == _rows(want)

    # watermark reached -> no-op, nothing read
    info = ivm.refresh_gold_incremental(spark, fact_root, state_root, ivm.SALES_SPEC)
    assert info["mode"] == "noop" and info["files_read"] == []


def test_refresh_never_scans_base_fact(spark, tmpdir, ecom_csv):
    """Plan gate: an append-batch refresh reads ONLY the appended
    files — both by the manifest set-difference the feed is built from
    and by the feed frame's actual inputFiles()."""
    fact, _, _ = _silver(spark, ecom_csv[0])
    fact_root = f"{tmpdir}/fact"
    state_root = f"{tmpdir}/state"

    b0 = fact.filter(F.col("order_id") % 3 != 2)
    b1 = fact.filter(F.col("order_id") % 3 == 2)
    v1 = S.write_snapshot(b0, fact_root)
    ivm.refresh_gold_incremental(spark, fact_root, state_root, ivm.SALES_SPEC)
    v2 = S.write_snapshot(b1, fact_root, mode="append")

    m = S._load(fact_root)
    base_files = {
        os.path.join(d, f)
        for d, f in S._entry_units(m and S._load(fact_root), m, S._entry(m, v1))
    }
    feed, info = S.snapshot_file_changes(spark, fact_root, v1, v2)
    assert info["removed"] == []
    assert set(info["added"]).isdisjoint(base_files)
    # the physical scan agrees with the manifest math
    feed_files = {p.replace("file://", "") for p in feed.inputFiles()}
    for p in base_files:
        assert not any(fp.endswith(p) for fp in feed_files), p
    for p in info["added"]:
        assert any(fp.endswith(p) for fp in feed_files), p

    refreshed = ivm.refresh_gold_incremental(
        spark, fact_root, state_root, ivm.SALES_SPEC
    )
    assert refreshed["mode"] == "incremental"
    assert set(refreshed["files_read"]) == set(info["added"])


def test_vanished_groups_drop_and_review_fold(spark, tmpdir, ecom_csv):
    """Deleting every row of a group removes its state row (signed
    count hits zero), matching the rebuild; review_summary's avg
    derives exactly from the maintained sum+count."""
    fact, dim, reviews = _silver(spark, ecom_csv[0])
    reviews = reviews.cache()
    root = f"{tmpdir}/fact_reviews"
    state_root = f"{tmpdir}/gold_review_state"

    first = reviews.filter(F.col("product_id") % 2 == 0)
    S.write_snapshot(first, root)
    ivm.refresh_gold_incremental(spark, root, state_root, ivm.REVIEW_SPEC)
    S.write_snapshot(reviews.filter(F.col("product_id") % 2 == 1), root, mode="append")
    ivm.refresh_gold_incremental(spark, root, state_root, ivm.REVIEW_SPEC)
    got = ivm.read_review_summary(spark, state_root, dim)
    want = medallion.review_summary(reviews, dim)
    assert _rows(got) == _rows(want)

    # delete one product's reviews entirely -> its groups vanish
    victim = reviews.groupBy("product_id").count().orderBy(F.desc("count")).first()[0]
    S.replace_where(
        spark,
        root,
        spark.createDataFrame([], reviews.schema),
        [("product_id", "=", victim)],
    )
    ivm.refresh_gold_incremental(spark, root, state_root, ivm.REVIEW_SPEC)
    got = ivm.read_review_summary(spark, state_root, dim)
    assert got.filter(F.col("product_id") == victim).count() == 0
    want = medallion.review_summary(
        reviews.filter(F.col("product_id") != victim), dim
    )
    assert _rows(got) == _rows(want)


def test_signed_delta_rejects_unknown_change_type(spark):
    feed = spark.createDataFrame(
        [(2024, 1, 7, 1, 1.0, "weird")],
        "order_id int, user_id int, product_id int, quantity int, "
        "price double, _change_type string",
    ).withColumn("event_time", F.lit("2024-01-05").cast("timestamp"))
    with pytest.raises(Exception, match="ivm"):
        ivm.signed_delta_aggregate(feed, ivm.SALES_SPEC).collect()


def test_run_incremental_pipeline_end_to_end(spark, tmpdir, ecom_csv):
    """The full medallion wired incrementally: batch 1 = pre-cut CSVs
    (bootstrap), batch 2 = complete CSVs (high-watermark fact APPEND +
    O(delta) gold refresh), batch 3 = re-run (no-op at every layer).
    After every batch the gold views equal the full-recompute pipeline
    over the same inputs."""
    import csv as _csv
    import shutil as _sh

    ref_csv, facts = ecom_csv
    cut = "2023-01-01"
    early = os.path.join(tmpdir, "csv_early")
    os.makedirs(early)
    for name in ("categories", "products", "users"):
        _sh.copy(os.path.join(ref_csv, f"{name}.csv"), early)

    def _filter_csv(name, keep):
        with open(os.path.join(ref_csv, f"{name}.csv")) as fh:
            rows = list(_csv.DictReader(fh))
        kept = [r for r in rows if keep(r)]
        with open(os.path.join(early, f"{name}.csv"), "w", newline="") as fh:
            w = _csv.DictWriter(fh, fieldnames=rows[0].keys())
            w.writeheader()
            w.writerows(kept)
        return kept

    kept_orders = _filter_csv("orders", lambda r: r["order_date"] < cut)
    order_ids = {r["order_id"] for r in kept_orders}
    _filter_csv("order_items", lambda r: r["order_id"] in order_ids)
    _filter_csv("reviews", lambda r: r["review_date"] < cut)
    assert 0 < len(kept_orders) < facts["rows"]["orders"]

    wh = os.path.join(tmpdir, "wh")
    out1 = ivm.run_incremental_pipeline(spark, early, wh)
    assert out1["sales_summary"]["mode"] == "bootstrap"

    _gold_equals_full(spark, wh, early)

    out2 = ivm.run_incremental_pipeline(spark, ref_csv, wh)
    assert out2["fact_purchase_event"]["mode"] == "incremental"
    assert out2["sales_summary"]["mode"] == "incremental"
    # the refresh read ONLY the appended files
    assert out2["sales_summary"]["files_read"], "expected a delta feed"
    m = S._load(f"{wh}/silver/fact_purchase_event")
    first_entry = S._entry(m, 1)
    batch1_files = {
        os.path.join(d, f) for d, f in S._entry_units(
            f"{wh}/silver/fact_purchase_event", m, first_entry
        )
    }
    assert set(out2["sales_summary"]["files_read"]).isdisjoint(batch1_files)
    _gold_equals_full(spark, wh, ref_csv)

    heads = {
        t: S._load(f"{wh}/silver/{t}")["current"]
        for t in ("dim_products", "dim_users", "fact_purchase_event",
                  "fact_reviews")
    }
    out3 = ivm.run_incremental_pipeline(spark, ref_csv, wh)
    assert out3["fact_purchase_event"]["mode"] == "noop"
    assert out3["sales_summary"]["mode"] == "noop"
    # the unchanged re-run commits nothing at any silver table
    for t, head in heads.items():
        assert S._load(f"{wh}/silver/{t}")["current"] == head, t
    _gold_equals_full(spark, wh, ref_csv)


def test_streaming_gold_refresh_exactly_once(spark, tmpdir, ecom_csv):
    """foreach_batch_gold_refresh: an availableNow file stream appends
    fact batches and folds gold forward; the result equals the full
    rebuild, and replaying a committed batch (same batch_id) changes
    nothing at either layer."""
    from e_commerce_lakehouse_spark.streaming.sinks import (
        foreach_batch_gold_refresh,
    )

    fact, dim, _ = _silver(spark, ecom_csv[0])
    src_dir = f"{tmpdir}/stream_src"
    fact.filter(F.col("order_id") % 2 == 0).write.parquet(f"{src_dir}/b0")
    fact.filter(F.col("order_id") % 2 == 1).write.parquet(f"{src_dir}/b1")

    fact_root = f"{tmpdir}/fact_stream"
    state_root = f"{tmpdir}/gold_stream"
    sink = foreach_batch_gold_refresh(fact_root, state_root, ivm.SALES_SPEC)

    stream = (
        spark.readStream.schema(fact.schema).parquet(f"{src_dir}/*")
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = ivm.read_sales_summary(spark, state_root, dim)
    want = medallion.sales_summary(fact, dim)
    assert _rows(got) == _rows(want)

    # replay a committed batch id -> no-op at both layers
    fact_head = S._load(fact_root)["current"]
    state_head = S._load(state_root)["current"]
    sink(fact.limit(50), 0)  # batch_id 0 already committed
    assert S._load(fact_root)["current"] == fact_head
    assert S._load(state_root)["current"] == state_head
    assert _rows(ivm.read_sales_summary(spark, state_root, dim)) == _rows(want)


def test_fact_increment_survives_maintenance_commit(spark, tmp_path):
    """A maintenance commit (OPTIMIZE) carries no watermark in its
    meta; the next incremental commit must recover the newest stored
    watermark from history instead of silently re-appending the whole
    fact (which would double every gold aggregate)."""
    import datetime as dt

    from e_commerce_lakehouse_spark.plans import ivm
    from e_commerce_lakehouse_spark.sources import snapshots as S

    root = str(tmp_path / "fact")
    t0 = dt.datetime(2024, 1, 1)
    fact = spark.createDataFrame(
        [(i, t0 + dt.timedelta(hours=i)) for i in range(10)],
        "id long, event_time timestamp",
    )
    assert ivm.commit_fact_increment(spark, fact, root, "event_time")["mode"] == "full"
    S.compact_files(spark, root, target_bytes=1 << 30)  # meta has no watermark
    out = ivm.commit_fact_increment(spark, fact, root, "event_time")
    assert out["mode"] == "noop"
    assert S.read_snapshot(spark, root).count() == 10  # not doubled
    # a table with rows but no surviving watermark entry (e.g. expire
    # trimmed every load commit) RECOVERS the mark from the data: the
    # unchanged source then no-ops instead of re-appending everything
    root2 = str(tmp_path / "trimmed")
    S.write_snapshot(fact, root2)
    out2 = ivm.commit_fact_increment(spark, fact, root2, "event_time")
    assert out2["mode"] == "noop"
    assert S.read_snapshot(spark, root2).count() == 10
    # an EMPTY no-watermark table is unrecoverable -> loud
    root3 = str(tmp_path / "empty_foreign")
    S.write_snapshot(fact.limit(0), root3)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no watermark"):
        ivm.commit_fact_increment(spark, fact, root3, "event_time")
    # and a table bootstrapped EMPTY by this function is NOT bricked:
    # the None watermark means "append everything that arrives"
    root4 = str(tmp_path / "cold_start")
    assert ivm.commit_fact_increment(
        spark, fact.limit(0), root4, "event_time"
    )["mode"] == "full"
    out4 = ivm.commit_fact_increment(spark, fact, root4, "event_time")
    assert out4["mode"] == "incremental"
    assert S.read_snapshot(spark, root4).count() == 10


def test_fact_increment_appends_null_time_rows(spark, tmp_path):
    """A table bootstrapped empty carries a None watermark ("append
    everything"): new rows whose time column is NULL still append —
    emptiness is the row count, not the max — and the mark stays None.
    Once a real mark exists, NULL-time rows never pass the filter."""
    import datetime as dt

    root = str(tmp_path / "fact")
    schema = "id long, event_time timestamp"
    empty = spark.createDataFrame([], schema)
    assert ivm.commit_fact_increment(spark, empty, root, "event_time")["mode"] == "full"
    nulls = spark.createDataFrame([(1, None), (2, None)], schema)
    out = ivm.commit_fact_increment(spark, nulls, root, "event_time")
    assert out["mode"] == "incremental"
    assert sorted(r.id for r in S.read_snapshot(spark, root).collect()) == [1, 2]
    m = S._load(root)
    assert S._entry(m, m["current"])["meta"]["watermark"] is None

    t = dt.datetime(2024, 1, 1)
    mixed = spark.createDataFrame([(3, t), (4, None)], schema)
    assert ivm.commit_fact_increment(spark, mixed, root, "event_time")["mode"] == "incremental"
    later = spark.createDataFrame([(5, None), (3, t)], schema)
    assert ivm.commit_fact_increment(spark, later, root, "event_time")["mode"] == "noop"
    assert sorted(r.id for r in S.read_snapshot(spark, root).collect()) == [1, 2, 3, 4]


def test_same_rows_is_multiset_equality(spark):
    """The dim no-op probe: one value changed, a duplicated row, a NULL
    on either side and a different column list all count as changed;
    the same rows in another order (NULLs included) do not."""
    schema = "id int, name string"
    base = spark.createDataFrame([(1, "a"), (2, None), (3, "c")], schema)
    same = spark.createDataFrame([(3, "c"), (2, None), (1, "a")], schema)
    assert ivm._same_rows(base, same)
    changed = spark.createDataFrame([(1, "a"), (2, None), (3, "C")], schema)
    assert not ivm._same_rows(base, changed)
    assert not ivm._same_rows(changed, base)
    nulled = spark.createDataFrame([(1, "a"), (2, None), (3, None)], schema)
    assert not ivm._same_rows(base, nulled)
    dup = spark.createDataFrame([(1, "a"), (1, "a"), (2, None), (3, "c")], schema)
    assert not ivm._same_rows(base, dup)
    assert not ivm._same_rows(dup, base)
    # same distinct rows, different multiplicities on both sides
    dup2 = spark.createDataFrame([(1, "a"), (2, None), (3, "c"), (3, "c")], schema)
    assert not ivm._same_rows(dup, dup2)
    assert not ivm._same_rows(base, base.select("id"))
    assert not ivm._same_rows(base, base.select("name", "id"))


def test_pipeline_dim_probe_detects_one_changed_value(spark, tmp_path, ecom_csv):
    """An unchanged dim commits nothing; one changed product name
    commits a new dim_products snapshot carrying it, and leaves
    dim_users alone."""
    import csv as _csv
    import shutil as _sh

    src = str(tmp_path / "csv")
    _sh.copytree(ecom_csv[0], src)
    wh = str(tmp_path / "wh")
    ivm.run_incremental_pipeline(spark, src, wh)

    def heads():
        return {
            t: S._load(f"{wh}/silver/{t}")["current"]
            for t in ("dim_products", "dim_users")
        }

    before = heads()
    path = os.path.join(src, "products.csv")
    with open(path) as fh:
        rows = list(_csv.DictReader(fh))
    # the newest version of one product (the one the dim keeps)
    pid = rows[0]["product_id"]
    latest = max(
        (r for r in rows if r["product_id"] == pid),
        key=lambda r: r["updated_at"],
    )
    latest["product_name"] = "renamed product"
    with open(path, "w", newline="") as fh:
        w = _csv.DictWriter(fh, fieldnames=rows[0].keys())
        w.writeheader()
        w.writerows(rows)

    ivm.run_incremental_pipeline(spark, src, wh)
    after = heads()
    assert after["dim_users"] == before["dim_users"]
    assert after["dim_products"] != before["dim_products"]
    got = S.read_snapshot(spark, f"{wh}/silver/dim_products").filter(
        F.col("product_id") == int(pid)
    )
    assert [r.product_name for r in got.collect()] == ["renamed product"]


_PIPELINE_TABLES = (
    "silver/dim_products", "silver/dim_users", "silver/fact_purchase_event",
    "silver/fact_reviews", "gold/sales_summary", "gold/review_summary",
)


def _heads(wh):
    return {t: S._load(f"{wh}/{t}")["current"] for t in _PIPELINE_TABLES}


def test_pipeline_chain_failure_leaves_other_tables_whole(
    spark, tmp_path, ecom_csv, monkeypatch
):
    """The four table chains run concurrently. A failing chain
    (fact_reviews' commit) does not stop the others: they commit whole,
    the chain's error is re-raised after they finish, a re-run without
    the fault completes the failed chain and matches the full rebuild,
    and a further re-run commits nothing."""
    csv_dir = ecom_csv[0]
    wh = str(tmp_path / "wh")
    real = ivm.commit_fact_increment

    def faulty(spark_, fact, root, time_col):
        if root.endswith("fact_reviews"):
            raise RuntimeError("planted fact_reviews fault")
        return real(spark_, fact, root, time_col)

    monkeypatch.setattr(ivm, "commit_fact_increment", faulty)
    with pytest.raises(RuntimeError, match="planted fact_reviews fault"):
        ivm.run_incremental_pipeline(spark, csv_dir, wh)
    monkeypatch.undo()

    heads = _heads(wh)
    assert heads["silver/fact_reviews"] is None
    assert heads["gold/review_summary"] is None
    bronze = _bronze(spark, csv_dir)
    want = {
        "dim_products": medallion.dim_products(
            bronze["products"], bronze["categories"]
        ),
        "dim_users": medallion.dim_users(bronze["users"]),
        "fact_purchase_event": medallion.fact_purchase_event(
            bronze["orders"], bronze["order_items"]
        ),
    }
    for name, df in want.items():
        got = S.read_snapshot(spark, f"{wh}/silver/{name}")
        assert ivm._same_rows(got.select(*df.columns), df), name
    _gold_equals_full(spark, wh, csv_dir, tables=("sales",))

    out = ivm.run_incremental_pipeline(spark, csv_dir, wh)
    assert out["fact_reviews"]["mode"] == "full"
    assert out["review_summary"]["mode"] == "bootstrap"
    assert out["fact_purchase_event"]["mode"] == "noop"
    assert out["sales_summary"]["mode"] == "noop"
    _gold_equals_full(spark, wh, csv_dir)
    done = _heads(wh)
    for t in ("silver/dim_products", "silver/dim_users",
              "silver/fact_purchase_event", "gold/sales_summary"):
        assert done[t] == heads[t], t

    ivm.run_incremental_pipeline(spark, csv_dir, wh)
    assert _heads(wh) == done


def _jobs_attributed(spark, fn):
    """Run ``fn`` under a fresh job group; returns ``(jobs started
    during the call, jobs of the group)``. Jobs are numbered in
    submission order, so a marker job before and after the call
    brackets every job the call started, whatever group it carries."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker():
        g = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(g, "marker", False)
        sc.parallelize([1], 1).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        (j,) = tracker.getJobIdsForGroup(g)
        return j

    lo = marker()
    group = f"attr-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "attribution", False)
    try:
        fn()
    finally:
        hi = marker()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return set(range(lo + 1, hi)), set(tracker.getJobIdsForGroup(group))


def test_overlapped_jobs_inherit_caller_job_group(spark, tmp_path, ecom_csv):
    """Every job started from overlap's driver threads — directly, or
    by the pipeline's four chains — carries the caller's job group."""
    from e_commerce_lakehouse_spark.operators.parallelize import overlap

    def calls():
        got = overlap(
            spark,
            lambda: spark.range(100).count(),
            lambda: spark.range(10).selectExpr("sum(id)").first()[0],
        )
        assert got == [100, 45]

    started, grouped = _jobs_attributed(spark, calls)
    assert started and started == grouped
    started, grouped = _jobs_attributed(
        spark,
        lambda: ivm.run_incremental_pipeline(
            spark, ecom_csv[0], str(tmp_path / "wh")
        ),
    )
    assert started and started == grouped


def test_overlap_reraises_first_failure_after_all_calls(spark):
    """All calls finish before overlap raises, and it raises the first
    failure in call order."""
    import time

    from e_commerce_lakehouse_spark.operators.parallelize import overlap

    finished = []

    def slow_ok():
        time.sleep(0.5)
        finished.append("slow")
        return 1

    def fail(msg):
        def f():
            raise ValueError(msg)
        return f

    with pytest.raises(ValueError, match="first"):
        overlap(spark, fail("first"), slow_ok, fail("second"))
    assert finished == ["slow"]
    assert overlap(spark, lambda: 1, lambda: "b") == [1, "b"]


def test_join_view_maintenance_matches_rebuild(spark):
    """Delta-join algebra: fold(full(A0 x B0), delta(...)) must equal
    full(A1 x B1) exactly, across inserts, deletes, bag duplicates,
    and a dim UPDATE (preimage/postimage pair) — changes on BOTH
    sides in the same batch."""
    import random

    from e_commerce_lakehouse_spark.plans import ivm

    rnd = random.Random(7)
    a0 = [(rnd.randrange(6), i, rnd.randrange(100)) for i in range(40)]
    a0 += a0[:5]  # bag duplicates
    b0 = [(k, f"name-{k}", rnd.randrange(10)) for k in range(6)]
    b0 += [(0, "name-0", b0[0][2])]  # duplicate dim row (bag semantics)

    def adf(rows):
        return spark.createDataFrame(rows, "k long, aid long, x long")

    def bdf(rows):
        return spark.createDataFrame(rows, "k long, name string, y long")

    # batch: delete some A rows, insert new ones; update one dim name
    a_del = a0[3:10]
    a_ins = [(rnd.randrange(6), 100 + i, rnd.randrange(100)) for i in range(12)]
    # bag-minus: drop ONE copy per delete row (list.remove semantics)
    a1 = list(a0)
    for r in a_del:
        a1.remove(r)
    a1 += a_ins
    b_pre = b0[2]
    b_post = (b_pre[0], "renamed", b_pre[2])
    b1 = [r for r in b0 if r != b_pre] + [b_post]

    da = spark.createDataFrame(
        [r + ("delete",) for r in a_del] + [r + ("insert",) for r in a_ins],
        "k long, aid long, x long, _change_type string",
    )
    db = spark.createDataFrame(
        [b_pre + ("update_preimage",), b_post + ("update_postimage",)],
        "k long, name string, y long, _change_type string",
    )

    state0 = ivm.join_view_full(adf(a0), bdf(b0), ["k"])
    feed = ivm.join_view_delta(adf(a1), bdf(b1), da, db, ["k"])
    folded = ivm.fold_join_view(state0, feed)
    rebuilt = ivm.join_view_full(adf(a1), bdf(b1), ["k"])
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    # one-sided change: empty dim delta
    empty_db = spark.createDataFrame(
        [], "k long, name string, y long, _change_type string"
    )
    feed2 = ivm.join_view_delta(adf(a1), bdf(b1), da, empty_db, ["k"])
    # folding the A-only feed onto full(a0, b1) must equal full(a1, b1)
    folded2 = ivm.fold_join_view(ivm.join_view_full(adf(a0), bdf(b1), ["k"]), feed2)
    assert sorted(map(tuple, folded2.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_join_view_rejects_payload_collision(spark):
    from e_commerce_lakehouse_spark.plans import ivm

    a = spark.createDataFrame([(1, 2)], "k long, v long")
    b = spark.createDataFrame([(1, 3)], "k long, v long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="disjoint"):
        ivm.join_view_full(a, b, ["k"])


def test_refresh_join_view_end_to_end(spark, tmp_path):
    """Persisted join-view maintenance over two snapshot tables:
    bootstrap, fact-side append, dim-side update, simultaneous
    changes, and no-op — after every refresh the state equals the
    rebuilt join of the CURRENT snapshots, and watermarks make
    re-refresh a no-op."""
    from e_commerce_lakehouse_spark.plans import ivm
    from e_commerce_lakehouse_spark.sources import snapshots as S

    a_root, b_root, v_root = (
        str(tmp_path / n) for n in ("fact", "dim", "view")
    )

    def rebuild():
        return sorted(
            map(
                tuple,
                ivm.join_view_full(
                    S.read_snapshot(spark, a_root),
                    S.read_snapshot(spark, b_root),
                    ["k"],
                ).collect(),
            )
        )

    def state():
        return sorted(
            map(tuple, S.read_snapshot(spark, v_root).collect())
        )

    S.write_snapshot(
        spark.createDataFrame(
            [(i, i % 3, i * 10) for i in range(9)], "aid long, k long, x long"
        ),
        a_root,
    )
    S.write_snapshot(
        spark.createDataFrame(
            [(0, "u"), (1, "v"), (2, "w")], "k long, name string"
        ),
        b_root,
    )
    out = ivm.refresh_join_view(
        spark, a_root, b_root, v_root, ["k"]
    )
    assert out["mode"] == "bootstrap" and state() == rebuild()

    # fact append only
    S.write_snapshot(
        spark.createDataFrame([(100, 1, 999)], "aid long, k long, x long"),
        a_root,
        mode="append",
    )
    out = ivm.refresh_join_view(
        spark, a_root, b_root, v_root, ["k"]
    )
    assert out["mode"] == "incremental" and state() == rebuild()

    # dim update + fact delete in the same refresh
    S.write_snapshot(
        spark.createDataFrame(
            [(0, "u"), (1, "V2"), (2, "w")], "k long, name string"
        ),
        b_root,
    )
    S.replace_where(
        spark,
        a_root,
        spark.createDataFrame([], "aid long, k long, x long"),
        [("aid", ">=", 7)],
    )
    out = ivm.refresh_join_view(
        spark, a_root, b_root, v_root, ["k"]
    )
    assert out["mode"] == "incremental" and state() == rebuild()

    # no-op
    assert ivm.refresh_join_view(
        spark, a_root, b_root, v_root, ["k"]
    )["mode"] == "noop"


def test_refresh_join_view_keyscans_unchanged_base(spark, tmp_path):
    """When only the dim changes, the (unchanged) fact base is read
    through scan_snapshot with an IN predicate on the touched join
    keys — the manifest stats prune fact files holding none of them,
    and the refreshed state still equals the rebuild."""
    from e_commerce_lakehouse_spark.plans import ivm
    from e_commerce_lakehouse_spark.sources import snapshots as S

    a_root, b_root, v_root = (
        str(tmp_path / n) for n in ("fact", "dim", "view")
    )
    # fact range-clustered on the join key k -> IN probes prune files
    fact = spark.createDataFrame(
        [(i, i % 8, i) for i in range(400)], "aid long, k long, x long"
    ).repartitionByRange(8, "k")
    S.write_snapshot(fact, a_root)
    S.write_snapshot(
        spark.createDataFrame(
            [(k, f"n{k}") for k in range(8)], "k long, name string"
        ),
        b_root,
    )
    ivm.refresh_join_view(spark, a_root, b_root, v_root, ["k"])
    # dim-only change touching ONE key
    S.write_snapshot(
        spark.createDataFrame(
            [(k, "n3x" if k == 3 else f"n{k}") for k in range(8)],
            "k long, name string",
        ),
        b_root,
    )
    out = ivm.refresh_join_view(
        spark, a_root, b_root, v_root, ["k"]
    )
    assert out["mode"] == "incremental"
    assert out["a_base_keyscan"] is True  # fact read was key-pruned
    assert out["b_base_keyscan"] is False  # changed side read in full
    got = sorted(map(tuple, S.read_snapshot(spark, v_root).collect()))
    want = sorted(
        map(
            tuple,
            ivm.join_view_full(
                S.read_snapshot(spark, a_root),
                S.read_snapshot(spark, b_root),
                ["k"],
            ).collect(),
        )
    )
    assert got == want
    # and the manifest math confirms files were actually skippable
    plan = S.plan_scan(a_root, [("k", "in", [3])])
    assert len(plan["pruned"]) >= 5


def test_streaming_join_view_refresh(spark, tmp_path):
    """foreach_batch_join_view_refresh: the streamed fact batches AND
    an out-of-band dim update both flow into the persisted join view;
    the final state equals the rebuilt join, and replaying a
    committed batch changes nothing."""
    from e_commerce_lakehouse_spark.plans import ivm
    from e_commerce_lakehouse_spark.sources import snapshots as S
    from e_commerce_lakehouse_spark.streaming.sinks import (
        foreach_batch_join_view_refresh,
    )

    td = str(tmp_path)
    fact = spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(40)], "aid long, k long, x long"
    )
    src = f"{td}/src"
    fact.filter(F.col("aid") < 20).write.parquet(f"{src}/b0")
    fact.filter(F.col("aid") >= 20).write.parquet(f"{src}/b1")

    dim_root = f"{td}/dim"
    S.write_snapshot(
        spark.createDataFrame(
            [(k, f"n{k}") for k in range(4)], "k long, name string"
        ),
        dim_root,
    )
    fact_root, view_root = f"{td}/fact", f"{td}/view"
    sink = foreach_batch_join_view_refresh(
        fact_root, dim_root, view_root, ["k"]
    )
    q = (
        spark.readStream.schema(fact.schema)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{td}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def rebuild():
        return sorted(
            map(
                tuple,
                ivm.join_view_full(
                    S.read_snapshot(spark, fact_root),
                    S.read_snapshot(spark, dim_root),
                    ["k"],
                ).collect(),
            )
        )

    got = sorted(map(tuple, S.read_snapshot(spark, view_root).collect()))
    assert got == rebuild()

    # out-of-band dim rename lands on the NEXT micro-batch
    S.write_snapshot(
        spark.createDataFrame(
            [(k, "renamed" if k == 2 else f"n{k}") for k in range(4)],
            "k long, name string",
        ),
        dim_root,
    )
    sink(
        spark.createDataFrame([(999, 0, 1)], "aid long, k long, x long"), 99
    )
    got = sorted(map(tuple, S.read_snapshot(spark, view_root).collect()))
    assert got == rebuild()
    assert any("renamed" in str(r) for r in got)

    # replaying a committed batch id -> no-op at both layers
    f_head = S._load(fact_root)["current"]
    v_head = S._load(view_root)["current"]
    sink(fact.limit(3), 99)
    assert S._load(fact_root)["current"] == f_head
    assert S._load(view_root)["current"] == v_head
