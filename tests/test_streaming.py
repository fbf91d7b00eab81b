"""Structured Streaming tests: real readStream with file sources and
availableNow triggers — Kafka-free per SURVEY §7.1. The same
transformations are validated in batch mode by the q28-q30 oracles;
here we prove they run as actual streams with checkpoints and state."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from e_commerce_lakehouse_spark.streaming import events as se
from e_commerce_lakehouse_spark.streaming import rerank, sinks

RAW_SCHEMA = StructType([StructField("value", StringType())])


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_events_jsonl(path: str, events: list[dict]) -> None:
    # file-source contract: each line is the raw Kafka `value`
    with open(f"{path}/events.json", "w") as f:
        for e in events:
            f.write(json.dumps({"value": json.dumps(e)}) + "\n")


PAGE_VIEWS = [
    {
        "event_id": f"e{i}",
        "timestamp": f"2024-01-01 10:{i:02d}:00",
        "user_id": f"u{i % 3}",
        "product_id": f"p{i % 5}",
    }
    for i in range(12)
]


def test_stream_parse_and_bronze_sink(spark, tmpdir):
    src = f"{tmpdir}/src"
    out = f"{tmpdir}/bronze"
    ckpt = f"{tmpdir}/ckpt"
    import os

    os.makedirs(src)
    _write_events_jsonl(src, PAGE_VIEWS)

    raw = spark.readStream.schema(RAW_SCHEMA).json(src)
    parsed = se.parse_raw_events(raw, "page_view")
    assert parsed.isStreaming
    q = sinks.write_bronze_stream(parsed, out, ckpt, available_now=True)
    q.awaitTermination(60)

    got = spark.read.parquet(out)
    assert got.count() == 12
    row = got.filter(F.col("event_id") == "e7").first()
    assert row["user_id"] == "u1"
    assert row["event_type"] == "page_view"
    # event-time (not processing-time) partition keys — reference gap fixed
    assert (row["year"], row["month"], row["day"]) == (2024, 1, 1)
    assert str(row["event_time"]).startswith("2024-01-01 10:07")


def test_stream_checkpoint_no_reprocess(spark, tmpdir):
    """Restarting from the same checkpoint must not duplicate rows
    (the reference's Redis sink lacked this — SURVEY §3.2)."""
    import os

    src, out, ckpt = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ck"
    os.makedirs(src)
    _write_events_jsonl(src, PAGE_VIEWS)
    raw = spark.readStream.schema(RAW_SCHEMA).json(src)
    for _ in range(2):
        q = sinks.write_bronze_stream(
            se.parse_raw_events(raw, "page_view"), out, ckpt, available_now=True
        )
        q.awaitTermination(60)
    assert spark.read.parquet(out).count() == 12


def test_streaming_tumbling_window_with_watermark(spark, tmpdir):
    import os

    src = f"{tmpdir}/src"
    os.makedirs(src)
    _write_events_jsonl(src, PAGE_VIEWS)
    raw = spark.readStream.schema(RAW_SCHEMA).json(src)
    parsed = se.parse_raw_events(raw, "page_view").withColumn(
        "value", F.lit(1.0)
    ).withColumnRenamed("event_time", "ts")
    agg = se.tumbling_counts(se.with_watermark(parsed, "ts", "10 minutes"), "5 minutes")
    # complete mode: a single availableNow batch never advances the
    # watermark past the last windows, so append would emit nothing
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        str(r["window_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumbling_t").collect()
    }
    # events at 10:00..10:11 → 5-minute buckets 10:00(5), 10:05(5), 10:10(2)
    assert got == {
        "2024-01-01 10:00:00": 5,
        "2024-01-01 10:05:00": 5,
        "2024-01-01 10:10:00": 2,
    }


def test_streaming_dedup_within_watermark(spark, tmpdir):
    import os

    src = f"{tmpdir}/src"
    os.makedirs(src)
    dups = PAGE_VIEWS + PAGE_VIEWS[:4]  # 4 exact replays
    _write_events_jsonl(src, dups)
    raw = spark.readStream.schema(RAW_SCHEMA).json(src)
    parsed = se.parse_raw_events(raw, "page_view").withColumnRenamed("event_time", "ts")
    deduped = se.dedup_stream(parsed, keys=("event_id",), delay="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT count(*) c FROM dedup_t").first()["c"] == 12


def test_foreach_batch_recency_distributed(spark, tmpdir):
    import os

    src = f"{tmpdir}/src"
    store_dir = f"{tmpdir}/store"
    os.makedirs(src)
    os.makedirs(store_dir)
    _write_events_jsonl(src, PAGE_VIEWS)
    raw = spark.readStream.schema(RAW_SCHEMA).json(src)
    parsed = se.parse_raw_events(raw, "page_view")

    # RecencyStore double defined function-locally so cloudpickle ships
    # it by value to executors (a module-level class would need the
    # tests package importable on workers)
    class FakeStore:
        def __init__(self, path: str):
            self.path = path

        def push(self, user_id, kind, product_ids, expire_seconds=86400):
            # record the TTL the sink passed — reference semantics are
            # LPUSH + LTRIM + EXPIRE(24h) per key (streaming_flow.py:109-111)
            with open(f"{self.path}/{kind}_{user_id}", "a") as f:
                f.write(",".join(product_ids) + f"|ttl={expire_seconds}\n")

    fn = sinks.foreach_batch_recency(
        lambda: FakeStore(store_dir), "views", cap=3, expire_seconds=86400
    )
    q = (
        parsed.writeStream.foreachBatch(fn)
        .option("checkpointLocation", f"{tmpdir}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    # u0 saw products for i=0,3,6,9 → newest-first capped at 3: p4(9), p1(6), p3(3)
    line = open(f"{store_dir}/views_u0").read().strip()
    got, ttl_part = line.split("|")
    assert got.split(",") == ["p4", "p1", "p3"]
    assert ttl_part == "ttl=86400"  # the 24h EXPIRE rides the protocol


def test_rerank_distributed(spark):
    views = spark.createDataFrame(
        [("u1", ["p1", "p2", "p3"])], ["user_id", "products"]
    )
    cart = spark.createDataFrame([("u1", ["p2", "p9"])], ["user_id", "products"])
    offline = spark.createDataFrame(
        [("u1", ["p5", "p1", "p6"]), ("u2", ["p7"])], ["user_id", "recs"]
    )
    got = {r["user_id"]: r["recommendations"] for r in rerank.rerank_topk(views, cart, offline).collect()}
    # cart first, then views, then offline; first-occurrence dedup (reference rerank_simple)
    assert got["u1"] == ["p2", "p9", "p1", "p3", "p5", "p6"]
    assert got["u2"] == ["p7"]


def test_recent_products_cap_and_order(spark, tmpdir):
    rows = [
        ("e1", "2024-01-01 10:00:00", "u1", "pA"),
        ("e2", "2024-01-01 10:05:00", "u1", "pB"),
        ("e3", "2024-01-01 10:03:00", "u1", "pC"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "user_id", "product_id"]).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "product_id"
    )
    got = rerank.recent_products(df, cap=2).first()
    assert got["products"] == ["pB", "pC"]  # newest first, capped


def test_stream_static_join(spark, tmpdir):
    import os

    src = f"{tmpdir}/src"
    os.makedirs(src)
    _write_events_jsonl(src, PAGE_VIEWS[:4])
    dim = spark.createDataFrame(
        [("p0", "Widget"), ("p1", "Gadget")], ["product_id", "product_name"]
    )
    raw = spark.readStream.schema(RAW_SCHEMA).json(src)
    enriched = se.enrich_stream_with_dim(
        se.parse_raw_events(raw, "page_view"), dim, "product_id"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r["event_id"]: r["product_name"] for r in spark.sql("SELECT * FROM enrich_t").collect()}
    assert got["e0"] == "Widget"      # p0
    assert got["e1"] == "Gadget"      # p1
    assert got["e2"] is None          # p2 not in dim -> left join keeps row


def test_stream_stream_join_views_purchases(spark, tmpdir):
    import os

    vsrc, psrc = f"{tmpdir}/v", f"{tmpdir}/p"
    os.makedirs(vsrc)
    os.makedirs(psrc)
    _write_events_jsonl(vsrc, [
        {"event_id": "v1", "timestamp": "2024-01-01 10:00:00", "user_id": "u1", "product_id": "pA"},
        {"event_id": "v2", "timestamp": "2024-01-01 10:05:00", "user_id": "u2", "product_id": "pB"},
    ])
    # purchase events: u1/pA 30min after view (match), u2/pB 3h after (no match)
    with open(f"{psrc}/events.json", "w") as f:
        for e in [
            {"event_id": "b1", "timestamp": "2024-01-01 10:30:00", "user_id": "u1",
             "product_id": "pA", "quantity": 1, "price": 5.0},
            {"event_id": "b2", "timestamp": "2024-01-01 13:05:00", "user_id": "u2",
             "product_id": "pB", "quantity": 1, "price": 6.0},
        ]:
            f.write(json.dumps({"value": json.dumps(e)}) + "\n")

    views = se.parse_raw_events(spark.readStream.schema(RAW_SCHEMA).json(vsrc), "page_view")
    purchases = se.parse_raw_events(spark.readStream.schema(RAW_SCHEMA).json(psrc), "purchase")
    joined = se.join_views_to_purchases(views, purchases, within="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ssj_t").collect()
    assert len(rows) == 1
    assert rows[0]["user_id"] == "u1" and rows[0]["product_id"] == "pA"


def test_stream_bloom_decontamination_gate(spark, tmpdir):
    """The Bloom membership predicate is stateless pure-Column, so the
    batch decontamination gate runs UNCHANGED on a stream: docs whose
    bigrams hit the benchmark filter are dropped before the sink (the
    stream-side leak gate). File source + availableNow, append mode —
    no stateful operator involved."""
    import os

    from e_commerce_lakehouse_spark.operators import dedup

    bench = spark.createDataFrame(
        [(0, "the secret eval answer")], "doc_id long, text string"
    )
    bloom = dedup.bloom_filter_build(
        bench.select(F.explode(dedup.ngram_set("text", 2)).alias("gram"))
    )
    src, out, ck = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ck"
    os.makedirs(src)
    docs = [
        (100, "prefix the secret eval answer suffix"),  # leaked -> drop
        (101, "clean document with fresh text"),
    ]
    with open(f"{src}/docs.json", "w") as f:
        for i, t in docs:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(src)
    # doc-level gate with NO per-doc state: EXISTS over the gram array
    # with the same pure-Column predicate the batch path filters on
    leaked = F.exists(
        dedup.ngram_set("text", 2), lambda g: dedup.bloom_hit(g, bloom)
    )
    clean = stream.filter(~leaked)
    (
        clean.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {101}


def test_stream_countmin_cells_complete_mode(spark, tmpdir):
    """The CMS build is a plain (cell -> count) groupBy, so it runs as
    a streaming aggregation unchanged — the sketch-on-a-stream shape
    (bounded state: at most depth*width rows regardless of stream
    length). availableNow + COMPLETE mode into a memory sink (the
    memory sink shows full state; update mode would emit per-batch
    deltas); the final cells equal the batch build over the same
    rows."""
    import os

    from e_commerce_lakehouse_spark.operators import sketches

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/keys.json", "w") as f:
        for i in range(200):
            f.write(json.dumps({"k": i % 7}) + "\n")
    stream = spark.readStream.schema("k long").json(src)
    q = (
        sketches.countmin_cells(stream, "k")
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM cms_stream").collect()))
    batch = spark.createDataFrame([(i % 7,) for i in range(200)], "k long")
    want = sorted(map(tuple, sketches.countmin_cells(batch, "k").collect()))
    assert got == want


def test_stream_neardup_admission_against_static_index(spark, tmpdir):
    """The production ingest-dedup shape as a STREAM: new documents
    flow through the MinHash signature kernel (Arrow pandas_udf — runs
    on streaming frames unchanged), band-explode, and stream-static
    join against the persisted banded index of the existing corpus.
    A planted clone of an indexed doc is flagged with its source; an
    unrelated doc passes unflagged. Band collision is the cheap
    stream-side gate; the exact-Jaccard verify is the batch reconcile
    step (q48's minhash_lsh_incremental semantics split at the
    candidate boundary)."""
    import os

    from e_commerce_lakehouse_spark.operators import dedup
    from e_commerce_lakehouse_spark.sources import load_table
    from tests.conftest import SF_SMALL

    corpus = load_table(spark, SF_SMALL, "documents").filter("doc_id < 40")
    index = dedup._minhash_banded(
        dedup.minhash_signature(corpus), 16, 4
    ).withColumnsRenamed({"doc_id": "old_id"}).localCheckpoint()

    clone_src = corpus.filter("doc_id = 7").first().text
    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/new.json", "w") as f:
        f.write(json.dumps({"doc_id": 1000, "text": clone_src}) + "\n")
        f.write(json.dumps({"doc_id": 1001, "text": "totally fresh unseen content never indexed qq zz"}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    flagged = (
        dedup._minhash_banded(dedup.minhash_signature(stream), 16, 4)
        .join(index, ["band", "band_key"])
        .select(F.col("doc_id").alias("new_id"), "old_id")
    )
    out, ck = f"{tmpdir}/out", f"{tmpdir}/ck"
    (
        flagged.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {(r.new_id, r.old_id) for r in spark.read.parquet(out).collect()}
    assert (1000, 7) in got          # the clone collides with its source
    assert all(n != 1001 for n, _ in got)  # fresh doc admitted untouched


def test_stream_static_interval_join_binned(spark, tmpdir):
    """The binned range-join rewrite works as a STREAM-static join: the
    static interval side explodes to bins once, the stream side maps
    each point to its bin, and the join is a supported stream-static
    equi-join with the exact range as a residual filter — the same
    operator shape batch uses (operators/ranges.interval_join_binned),
    assembled from its pieces on the streaming side."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    src = f"{tmpdir}/ivsrc"
    os.makedirs(src)
    rows = [{"pid": i, "p": i * 7 % 50} for i in range(20)]
    with open(f"{src}/part0.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    schema = StructType(
        [StructField("pid", LongType()), StructField("p", LongType())]
    )
    ivs = spark.createDataFrame(
        [(1, 5, 12), (2, 30, 33), (3, 48, 49)], "iid long, s long, e long"
    )
    W = 8
    ivs_binned = ivs.withColumn(
        "_bin",
        F.explode(
            F.expr(f"sequence(CAST(s div {W} AS BIGINT), CAST((e - 1) div {W} AS BIGINT))")
        ),
    )
    stream = (
        spark.readStream.schema(schema)
        .json(src)
        .withColumn("_bin", F.expr(f"CAST(p div {W} AS BIGINT)"))
    )
    joined = (
        stream.join(ivs_binned, "_bin")
        .filter((F.col("p") >= F.col("s")) & (F.col("p") < F.col("e")))
        .drop("_bin")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("iv_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(
        (r.pid, r.iid) for r in spark.sql("SELECT * FROM iv_t").collect()
    )
    want = sorted(
        (r["pid"], iid)
        for r in rows
        for iid, s, e in [(1, 5, 12), (2, 30, 33), (3, 48, 49)]
        if s <= r["p"] < e
    )
    assert got == want and got


def test_foreach_batch_merge_snapshot_exactly_once(spark, tmpdir):
    """Streaming MERGE sink: upserts land in the snapshot table, the
    batch id is committed atomically with the data, and replaying a
    committed batch (Spark's restart behavior) is a no-op — no new
    snapshot, no changed rows."""
    import os

    from e_commerce_lakehouse_spark.sources import snapshots as snap

    src = f"{tmpdir}/src"
    root = f"{tmpdir}/tbl"
    ckpt = f"{tmpdir}/ckpt"
    os.makedirs(src)
    rows = [
        {"k": "a", "v": 1, "seq": 1},
        {"k": "b", "v": 10, "seq": 2},
        {"k": "a", "v": 5, "seq": 3},  # same key in one batch: max-seq wins
    ]
    with open(f"{src}/part1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    schema = "k string, v long, seq long"
    stream = spark.readStream.schema(schema).json(src)
    sink = sinks.foreach_batch_merge_snapshot(root, ["k"], order_col="seq")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    got = {r.k: r.v for r in snap.read_snapshot(spark, root).collect()}
    assert got == {"a": 5, "b": 10}
    hist1 = snap.history(root)
    committed = [e["meta"]["stream_batch_id"] for e in hist1]
    assert committed == [0]

    # replay the committed batch id (what a post-crash restart does):
    # must be a pure no-op
    replay = spark.createDataFrame([("a", 999, 4)], schema)
    sink(replay, 0)
    assert len(snap.history(root)) == len(hist1)
    assert {r.k: r.v for r in snap.read_snapshot(spark, root).collect()} == got

    # a NEW batch id merges normally on top
    sink(spark.createDataFrame([("c", 7, 5), ("a", 2, 6)], schema), 1)
    got2 = {r.k: r.v for r in snap.read_snapshot(spark, root).collect()}
    assert got2 == {"a": 2, "b": 10, "c": 7}
    assert [e["meta"]["stream_batch_id"] for e in snap.history(root)] == [0, 1]


def test_ddsketch_builds_as_a_stream(spark, tmpdir):
    """ddsketch_cells is chain + ONE groupBy, so it runs unchanged as a
    streaming aggregation (complete mode) — the micro-batch sketch must
    equal the batch sketch over the same rows (mergeability means
    incremental maintenance is exact)."""
    import os

    from e_commerce_lakehouse_spark.operators import sketches as sk

    src = f"{tmpdir}/src"
    os.makedirs(src)
    vals = [3, 17, 17, 250, 90000, 1, 4096]
    with open(f"{src}/v.json", "w") as f:
        for v in vals:
            f.write(json.dumps({"v": v}) + "\n")

    stream = spark.readStream.schema("v long").json(src)
    cells = sk.ddsketch_cells(stream, "v")
    assert cells.isStreaming
    q = (
        cells.writeStream.format("memory")
        .queryName("dd_stream_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r.bucket: r.cnt for r in spark.sql("SELECT * FROM dd_stream_cells").collect()
    }
    batch = spark.createDataFrame([(v,) for v in vals], ["v"])
    want = {r.bucket: r.cnt for r in sk.ddsketch_cells(batch, "v").collect()}
    assert got == want


def test_foreach_batch_apply_changes_exactly_once(spark, tmpdir):
    """Streaming CDC consumer: inserts/updates/deletes from the feed
    land exactly-once in the snapshot table; pre/post pairs compact to
    the post; replaying a committed batch is a no-op."""
    import os

    from e_commerce_lakehouse_spark.sources import snapshots as snap

    src = f"{tmpdir}/cdc_src"
    root = f"{tmpdir}/cdc_tbl"
    ckpt = f"{tmpdir}/cdc_ckpt"
    os.makedirs(src)
    feed = [
        {"k": "a", "v": 1, "seq": 1, "_change_type": "insert"},
        {"k": "b", "v": 10, "seq": 1, "_change_type": "insert"},
        {"k": "a", "v": 1, "seq": 2, "_change_type": "update_preimage"},
        {"k": "a", "v": 5, "seq": 2, "_change_type": "update_postimage"},
    ]
    with open(f"{src}/part1.json", "w") as f:
        for r in feed:
            f.write(json.dumps(r) + "\n")
    schema = "k string, v long, seq long, _change_type string"
    stream = spark.readStream.schema(schema).json(src)
    sink = sinks.foreach_batch_apply_changes(root, ["k"], order_col="seq")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r.k: r.v for r in snap.read_snapshot(spark, root).collect()}
    assert got == {"a": 5, "b": 10}

    # replay of a committed batch id: pure no-op
    replay = spark.createDataFrame([("a", 999, 9, "insert")], schema)
    sink(replay, 0)
    assert {r.k: r.v for r in snap.read_snapshot(spark, root).collect()} == got

    # a new batch can DELETE — the thing the merge sink cannot do
    sink(
        spark.createDataFrame(
            [("b", 10, 3, "delete"), ("c", 7, 3, "insert")], schema
        ),
        1,
    )
    got2 = {r.k: r.v for r in snap.read_snapshot(spark, root).collect()}
    assert got2 == {"a": 5, "c": 7}
    assert [e["meta"]["stream_batch_id"] for e in snap.history(root)] == [0, 1]


def test_apply_changes_sink_tie_is_deterministic(spark, tmpdir):
    """Review fix: a delete and an insert for the same key at the SAME
    sequence value resolve by _change_type order (delete < insert), so
    every task/retry commits the same state."""
    from e_commerce_lakehouse_spark.sources import snapshots as snap

    root = f"{tmpdir}/tie_tbl"
    schema = "k string, v long, seq long, _change_type string"
    sink = sinks.foreach_batch_apply_changes(root, ["k"], order_col="seq")
    sink(spark.createDataFrame([("a", 1, 1, "insert")], schema), 0)
    for trial in range(3):
        tie = spark.createDataFrame(
            [("a", 9, 5, "insert"), ("a", 1, 5, "delete")], schema
        ).repartition(4)
        sink(tie, trial + 1)
        assert snap.read_snapshot(spark, root).filter("k = 'a'").count() == 0
        # re-insert so the next trial exercises the same tie again
        sink(spark.createDataFrame([("a", 1, 1, "insert")], schema), 100 + trial)


def test_ohlc_builds_as_a_stream(spark, tmpdir):
    """ohlc_resample is one associative groupBy (struct min/max), so it
    runs unchanged as a streaming aggregation — the micro-batch bars
    must equal the batch bars over the same rows."""
    import os

    from e_commerce_lakehouse_spark.operators import windows as W

    src = f"{tmpdir}/ohlc_src"
    os.makedirs(src)
    rows = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "event_type": "a", "value": 5.0},
        {"event_id": 2, "ts": "2024-01-01 10:20:00", "event_type": "a", "value": 9.0},
        {"event_id": 3, "ts": "2024-01-01 10:40:00", "event_type": "a", "value": 3.0},
        {"event_id": 4, "ts": "2024-01-01 11:10:00", "event_type": "a", "value": 2.0},
        {"event_id": 5, "ts": "2024-01-01 10:30:00", "event_type": "b", "value": 7.0},
    ]
    with open(f"{src}/e.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).json(src)
    bars = W.ohlc_resample(stream)
    assert bars.isStreaming
    q = (
        bars.writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    key = lambda r: (r.window_start, r.event_type)
    val = lambda r: (r.n_events, r.open_v, r.high_v, r.low_v, r.close_v)
    got = {key(r): val(r) for r in spark.sql("SELECT * FROM ohlc_stream").collect()}
    batch = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["event_type"], r["value"]) for r in rows],
        "event_id long, ts string, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "event_type", "value")
    want = {key(r): val(r) for r in W.ohlc_resample(batch).collect()}
    assert got == want and len(got) == 3


def test_merge_sink_defaults_to_merge_on_read(spark, tmpdir):
    """Round-9: the streaming MERGE sink's default write strategy is
    merge-on-read (O(batch) bytes per trigger); copy-on-write is
    opt-in via the table property."""
    from e_commerce_lakehouse_spark.sources import deletes as D
    from e_commerce_lakehouse_spark.sources import snapshots as snap

    schema = "k string, v long, seq long"
    root = f"{tmpdir}/tbl"
    sink = sinks.foreach_batch_merge_snapshot(root, ["k"], order_col="seq")
    sink(spark.createDataFrame([("a", 1, 1), ("b", 2, 1)], schema), 0)
    sink(spark.createDataFrame([("a", 9, 2), ("c", 3, 2)], schema), 1)
    hist = snap.history(root)
    assert [h["op"] for h in hist] == ["overwrite", "merge_dv"]
    got = {r.k: r.v for r in snap.read_snapshot(spark, root).collect()}
    assert got == {"a": 9, "b": 2, "c": 3}

    # explicit copy-on-write opts out: the batch rewrites the files it
    # touches (no whole-table overwrite)
    root2 = f"{tmpdir}/tbl2"
    sink2 = sinks.foreach_batch_merge_snapshot(root2, ["k"], order_col="seq")
    sink2(spark.createDataFrame([("a", 1, 1)], schema), 0)
    D.set_delete_mode(root2, "copy-on-write")
    sink2(spark.createDataFrame([("a", 5, 2)], schema), 1)
    assert [h["op"] for h in snap.history(root2)] == ["overwrite", "merge"]
    assert {r.k: r.v for r in snap.read_snapshot(spark, root2).collect()} == {"a": 5}


def test_cow_merge_sink_concurrent_commit_not_lost(spark, tmpdir, monkeypatch):
    """ADVICE round-8 (medium): a concurrent append landing between the
    CoW sink's target read and its overwrite commit used to be ERASED
    by write_snapshot's metadata rebase. With expected_base the stale
    write conflicts and the sink's retry recomputes — both the merge
    and the concurrent append must survive."""
    from e_commerce_lakehouse_spark.sources import deletes as D
    from e_commerce_lakehouse_spark.sources import snapshots as S

    schema = "k string, v long, seq long"
    root = f"{tmpdir}/tbl"
    S.write_snapshot(
        spark.createDataFrame([("a", 1, 1), ("b", 2, 1)], schema), root
    )
    D.set_delete_mode(root, "copy-on-write")
    orig, raced = S._commit, {"done": False}

    def racing(r, m):
        if not raced["done"]:
            raced["done"] = True
            S.write_snapshot(
                spark.createDataFrame([("z", 99, 1)], schema),
                root,
                mode="append",
            )
        orig(r, m)

    monkeypatch.setattr(S, "_commit", racing)
    sink = sinks.foreach_batch_merge_snapshot(root, ["k"], order_col="seq")
    sink(spark.createDataFrame([("a", 7, 2)], schema), 0)
    monkeypatch.setattr(S, "_commit", orig)
    got = {r.k: r.v for r in S.read_snapshot(spark, root).collect()}
    assert got == {"a": 7, "b": 2, "z": 99}  # nothing lost
