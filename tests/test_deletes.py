"""Deletion vectors (sources/deletes.py): merge-on-read row deletes —
zero data-file rewrites on DELETE, read-side anti-join correctness,
carry-on-append/rollback, raw-reader guards, copy-on-write purge, GC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.sources import deletes as D
from e_commerce_lakehouse_spark.sources import snapshots as S


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _table(spark, root, n=1000, parts=8):
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    ).repartitionByRange(parts, "id")
    S.write_snapshot(df, root)
    return df


def _data_files(root):
    out = {}
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith("snap-") and os.path.isdir(p):
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(p, f))
                    out[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def test_dv_delete_no_rewrite_and_read_correct(spark, root):
    _table(spark, root)
    before = _data_files(root)
    sid = D.delete_where_dv(spark, root, [("k", "=", 3)])
    assert sid == 2
    got = S.read_snapshot(spark, root)
    assert got.filter("k = 3").count() == 0
    assert got.count() == 900
    # NOT copy-on-write: every pre-existing data file is byte-identical
    after = _data_files(root)
    for rel, stat in before.items():
        assert after[rel] == stat, rel
    # the only new bytes are the KB-scale sidecar
    entry = S._entry(S._load(root), sid)
    assert entry["dirs"] == S._entry(S._load(root), 1)["dirs"]
    assert len(entry["dvs"]) == 1
    dv_bytes = sum(
        os.path.getsize(os.path.join(root, entry["dvs"][0], f))
        for f in os.listdir(os.path.join(root, entry["dvs"][0]))
    )
    assert dv_bytes < min(s[2] for s in before.values()) * 2
    assert entry["meta"]["n_deleted"] == 100


def test_dv_time_travel_rollback_and_append_carry(spark, root):
    _table(spark, root)
    D.delete_where_dv(spark, root, [("id", "<", 100)])
    # pre-delete snapshot unaffected; post-delete applies its dvs
    assert S.read_snapshot(spark, root, snapshot_id=1).count() == 1000
    assert S.read_snapshot(spark, root).count() == 900
    # append on top: deletes stay deleted, new rows visible
    S.write_snapshot(
        spark.range(5000, 5010).select(
            "id", (F.col("id") % 10).alias("k")
        ),
        root,
        mode="append",
    )
    got = S.read_snapshot(spark, root)
    assert got.count() == 910
    assert got.filter("id < 100").count() == 0
    # rollback to the DV snapshot is row-identical (dvs carried)
    S.rollback(root, 2)
    assert S.read_snapshot(spark, root).count() == 900
    # rollback to pre-delete resurrects
    S.rollback(root, 1)
    assert S.read_snapshot(spark, root).count() == 1000


def test_dv_stacking_and_scan_snapshot(spark, root):
    _table(spark, root)
    D.delete_where_dv(spark, root, [("k", "=", 1)])
    sid = D.delete_where_dv(spark, root, [("id", "<", 50)])
    entry = S._entry(S._load(root), sid)
    assert len(entry["dvs"]) == 2  # accumulate, each commit its own sidecar
    got = S.read_snapshot(spark, root)
    assert got.count() == 1000 - 100 - 45  # k=1 has 100 rows; id<50 has 50, 5 overlap
    # pruned scan still applies dvs on surviving files
    scanned = S.scan_snapshot(spark, root, [("id", "<", 200)])
    assert scanned.count() == 200 - 50 - 15  # id<50 gone; k=1 in [50,200) = 15
    assert scanned.filter("k = 1").count() == 0


def test_dv_noop_commits_nothing(spark, root):
    _table(spark, root)
    sid = D.delete_where_dv(spark, root, [("id", ">", 10_000)])
    assert sid == 1  # stats-pruned: current unchanged
    sid = D.delete_where_dv(spark, root, [("k", "=", 3), ("id", ">", 998)])
    assert sid == 1  # scanned but matched nothing; sidecar cleaned up
    assert len(S._load(root)["snapshots"]) == 1
    assert S.remove_orphans(root) == []  # the aborted claim was removed


def test_dv_guards_raw_readers(spark, root):
    _table(spark, root)
    D.delete_where_dv(spark, root, [("k", "=", 3)])
    empty = spark.createDataFrame([], "id long, k long")
    with pytest.raises(ValueError, match="deletion vectors"):
        S.replace_where(spark, root, empty, [("k", "=", 4)])
    with pytest.raises(ValueError, match="deletion vectors"):
        S.update_where(spark, root, [("k", "=", 4)], {"k": "5"})
    with pytest.raises(ValueError, match="deletion vectors"):
        S.compact_files(spark, root, target_bytes=1)
    with pytest.raises(ValueError, match="deletion vectors"):
        S.snapshot_file_changes(spark, root, 1, 2)
    # read_snapshot-based changelog IS dv-correct: the feed sees the
    # dv-deleted rows as deletes
    feed = S.snapshot_changes(spark, root, ["id"], 1, 2)
    kinds = {r["_change_type"] for r in feed.select("_change_type").distinct().collect()}
    assert kinds == {"delete"}
    assert feed.count() == 100


def test_rewrite_deletes_purges_and_lifts_guards(spark, root):
    _table(spark, root, n=1000, parts=8)
    D.delete_where_dv(spark, root, [("id", "<", 50)])  # hits 1 range file
    before = _data_files(root)
    sid = D.rewrite_deletes(spark, root)
    entry = S._entry(S._load(root), sid)
    assert "dvs" not in entry
    got = S.read_snapshot(spark, root)
    assert got.count() == 950 and got.filter("id < 50").count() == 0
    # copy-on-write touched ONLY the dv'd file: untouched files carried
    # verbatim into the file-granular entry, byte-identical on disk
    rewritten = set(entry["meta"]["rewritten"])
    assert len(rewritten) == 1
    after = _data_files(root)
    for rel, stat in before.items():
        if rel not in rewritten:
            assert after.get(rel) == stat, rel
    # raw readers work again
    S.update_where(spark, root, [("k", "=", 4)], {"k": "44"})
    assert S.read_snapshot(spark, root).filter("k = 44").count() == 95
    # expire GCs the purged sidecar dirs with the old snapshots
    deleted = S.expire_snapshots(root, keep_last=1)
    assert any("-dv" in d for d in deleted)
    assert S.read_snapshot(spark, root).count() == 950


def test_dv_table_stats_subtract(spark, root):
    _table(spark, root)
    D.delete_where_dv(spark, root, [("k", "=", 3)])
    stats = S.table_stats(root)
    assert stats["n_rows"] == 900
    assert stats["n_deleted"] == 100
    assert all(v is None for v in stats["null_counts"].values())


def test_dv_idempotent_under_commit_conflict(spark, root, monkeypatch):
    """A conflicting append between the DV mark and its commit: the
    retry re-plans against the fresh state; both the delete and the
    append survive."""
    _table(spark, root)
    orig, raced = S._commit, {"done": False}

    def racing(r, m):
        if not raced["done"]:
            raced["done"] = True
            S.write_snapshot(
                spark.range(5000, 5100).select(
                    "id", (F.col("id") % 10).alias("k")
                ),
                root,
                mode="append",
            )
        orig(r, m)

    monkeypatch.setattr(S, "_commit", racing)
    D.delete_where_dv(spark, root, [("id", "<", 100)])
    monkeypatch.setattr(S, "_commit", orig)
    got = S.read_snapshot(spark, root)
    assert got.filter("id < 100").count() == 0
    assert got.filter("id >= 5000").count() == 100
    assert got.count() == 1000


def test_merge_upsert_dv_values_equal_copy_on_write(spark, root):
    """merge_upsert_dv == operators.upsert.merge_upsert values on the
    same inputs (per-column coalesce: source NULL keeps the target
    value), in ONE commit, with pre-existing data files untouched."""
    from e_commerce_lakehouse_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, n long"
    )
    S.write_snapshot(base.repartition(3), root)
    src = spark.createDataFrame(
        [(2, None, 200), (4, "d", 40)], "id long, v string, n long"
    )
    before = _data_files(root)
    sid = D.merge_upsert_dv(spark, root, src, ["id"], meta={"x": 1})
    got = sorted(tuple(r) for r in S.read_snapshot(spark, root).collect())
    want = sorted(
        tuple(r) for r in merge_upsert(base, src, ["id"]).collect()
    )
    assert got == want
    assert got[1] == (2, "b", 200)  # source NULL kept target's v
    entry = S._entry(S._load(root), sid)
    assert entry["op"] == "merge_dv" and entry["meta"]["x"] == 1
    assert entry["meta"]["scan"]["keyscan"] == "pruned"  # read side O(batch)
    assert len(entry["dvs"]) == 1  # one matched key -> one DV commit
    after = _data_files(root)
    for rel, stat in before.items():  # O(batch): old files byte-identical
        assert after[rel] == stat, rel


def test_merge_upsert_dv_null_key_matches_nothing(spark, root):
    """A NULL source key matches no target row, not even a NULL-key
    one (the equi-join semantics of ``merge_upsert``): both NULL-key
    rows survive the merge side by side."""
    from e_commerce_lakehouse_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (None, "t"), (3, "c")], "id long, v string"
    )
    S.write_snapshot(base.repartition(2), root)
    src = spark.createDataFrame([(None, "s"), (3, "C")], "id long, v string")
    D.merge_upsert_dv(spark, root, src, ["id"])
    got = sorted(
        (tuple(r) for r in S.read_snapshot(spark, root).collect()),
        key=repr,
    )
    want = sorted(
        (tuple(r) for r in merge_upsert(base, src, ["id"]).collect()),
        key=repr,
    )
    assert got == want
    assert (None, "t") in got and (None, "s") in got and (3, "C") in got
    assert len(got) == 4


def test_merge_appended_rows_broadcast_the_matched_side(spark, capsys):
    """The merge's appended rows broadcast the batch-bounded matched
    target rows. Size-based broadcasting is switched off, so only the
    hint can plan a BroadcastHashJoin: a hint on a side the join type
    cannot build (the batch of a right outer join) is dropped and the
    join plans as a shuffle SortMergeJoin."""
    matched = spark.createDataFrame(
        [(2, "b", 20, "f", 0)], "id long, v string, n long, _file string, _pos long"
    )
    batch = spark.createDataFrame(
        [(2, None, 200), (4, "d", 40)], "id long, v string, n long"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        appended = D._merged_rows(matched, batch, ["id"])
        appended.explain()
        plan = capsys.readouterr().out
        got = sorted(tuple(r) for r in appended.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert got == [(2, "b", 200), (4, "d", 40)]


def test_merge_upsert_dv_insert_only_and_repeat(spark, root):
    base = spark.range(10).select("id", F.lit("x").alias("v"))
    S.write_snapshot(base, root)
    sid = D.merge_upsert_dv(
        spark,
        root,
        spark.createDataFrame([(100, "y")], "id long, v string"),
        ["id"],
    )
    entry = S._entry(S._load(root), sid)
    assert "dvs" not in entry  # insert-only: no positions marked
    assert S.read_snapshot(spark, root).count() == 11
    # repeated merges stack DVs and stay correct (incl. re-updating a
    # row that lives in the APPENDED dir of a prior merge)
    D.merge_upsert_dv(
        spark, root,
        spark.createDataFrame([(100, "z"), (0, "w")], "id long, v string"),
        ["id"],
    )
    got = {r.id: r.v for r in S.read_snapshot(spark, root).collect()}
    assert got[100] == "z" and got[0] == "w" and len(got) == 11


def test_streaming_merge_sink_routes_merge_on_read(spark, root, tmpdir):
    """The MERGE sink becomes O(batch) on a merge-on-read table: batch
    ids stay exactly-once across restart, values match, and base data
    files are never rewritten."""
    import json as _json
    import os

    from e_commerce_lakehouse_spark.sources import deletes as _D
    from e_commerce_lakehouse_spark.streaming.sinks import (
        foreach_batch_merge_snapshot,
    )

    S.write_snapshot(
        spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "id long, v string, seq long"
        ),
        root,
    )
    _D.set_delete_mode(root, "merge-on-read")
    src_dir = str(tmpdir / "src")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "b0.json"), "w") as fh:
        fh.write(_json.dumps({"id": 2, "v": "B", "seq": 1}) + "\n")
        fh.write(_json.dumps({"id": 3, "v": "c", "seq": 1}) + "\n")
    before = _data_files(root)
    stream = spark.readStream.schema("id long, v string, seq long").json(src_dir)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_merge_snapshot(root, ["id"], order_col="seq")
        )
        .option("checkpointLocation", str(tmpdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.id: r.v for r in S.read_snapshot(spark, root).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    entry = S._entry(S._load(root), S._load(root)["current"])
    assert entry["op"] == "merge_dv"
    assert "stream_batch_id" in entry["meta"]
    after = _data_files(root)
    for rel, stat in before.items():
        assert after[rel] == stat, rel  # base files untouched
    # restart with no new data: replayed/no batch -> no new commit
    n = len(S._load(root)["snapshots"])
    stream = spark.readStream.schema("id long, v string, seq long").json(src_dir)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_merge_snapshot(root, ["id"], order_col="seq")
        )
        .option("checkpointLocation", str(tmpdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(S._load(root)["snapshots"]) == n


def test_apply_changes_dv_equals_copy_on_write(spark, root):
    """apply_changes_dv == operators.upsert.apply_changes on the same
    feed (insert + update + delete), one commit, base files untouched;
    a delete-only feed appends nothing."""
    from e_commerce_lakehouse_spark.operators.upsert import apply_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    S.write_snapshot(base.repartition(2), root)
    feed = spark.createDataFrame(
        [
            (2, "B", "update_postimage"),
            (3, "c", "delete"),
            (4, "d", "insert"),
        ],
        "id long, v string, _change_type string",
    )
    before = _data_files(root)
    sid = D.apply_changes_dv(spark, root, feed, ["id"])
    got = sorted(tuple(r) for r in S.read_snapshot(spark, root).collect())
    want = sorted(
        tuple(r) for r in apply_changes(base, feed, ["id"]).collect()
    )
    assert got == want == [(1, "a"), (2, "B"), (4, "d")]
    entry = S._entry(S._load(root), sid)
    assert entry["op"] == "apply_changes_dv" and len(entry["dvs"]) == 1
    after = _data_files(root)
    for rel, stat in before.items():
        assert after[rel] == stat, rel
    # delete-only feed: DV only, no appended dir
    sid2 = D.apply_changes_dv(
        spark,
        root,
        spark.createDataFrame([(4, "d", "delete")], "id long, v string, _change_type string"),
        ["id"],
    )
    entry2 = S._entry(S._load(root), sid2)
    assert entry2["dirs"] == entry["dirs"]  # nothing appended
    assert len(entry2["dvs"]) == 2
    assert sorted(r.id for r in S.read_snapshot(spark, root).collect()) == [1, 2]


def test_streaming_apply_changes_sink_routes_merge_on_read(spark, root, tmpdir):
    import json as _json
    import os

    from e_commerce_lakehouse_spark.streaming.sinks import (
        foreach_batch_apply_changes,
    )

    S.write_snapshot(
        spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "id long, v string, seq long"),
        root,
    )
    D.set_delete_mode(root, "merge-on-read")
    src_dir = str(tmpdir / "src")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "b0.json"), "w") as fh:
        fh.write(_json.dumps({"id": 1, "v": None, "seq": 1, "_change_type": "delete"}) + "\n")
        fh.write(_json.dumps({"id": 2, "v": "B", "seq": 1, "_change_type": "update_postimage"}) + "\n")
    before = _data_files(root)
    schema = "id long, v string, seq long, _change_type string"
    stream = spark.readStream.schema(schema).json(src_dir)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_apply_changes(root, ["id"], order_col="seq")
        )
        .option("checkpointLocation", str(tmpdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.id: r.v for r in S.read_snapshot(spark, root).collect()}
    assert got == {2: "B"}
    entry = S._entry(S._load(root), S._load(root)["current"])
    assert entry["op"] == "apply_changes_dv"
    assert "stream_batch_id" in entry["meta"]
    after = _data_files(root)
    for rel, stat in before.items():
        assert after[rel] == stat, rel


def test_dv_writers_enforce_check_constraints(spark, root):
    """Review fix: merge-on-read appends pass the same CHECK gate as
    write_snapshot — flipping delete_mode must not become a constraint
    bypass."""
    S.write_snapshot(
        spark.createDataFrame([(1, 5)], "id long, n long"), root
    )
    S.set_constraint(root, "n_pos", "n >= 0")
    bad = spark.createDataFrame([(1, -1)], "id long, n long")
    with pytest.raises(Exception, match="n_pos|constraint"):
        D.merge_upsert_dv(spark, root, bad, ["id"])
    with pytest.raises(Exception, match="n_pos|constraint"):
        D.apply_changes_dv(
            spark, root,
            bad.withColumn("_change_type", F.lit("update_postimage")),
            ["id"],
        )
    # table unchanged; a valid merge still lands
    assert [tuple(r) for r in S.read_snapshot(spark, root).collect()] == [(1, 5)]
    D.merge_upsert_dv(
        spark, root, spark.createDataFrame([(1, 7)], "id long, n long"), ["id"]
    )
    assert [tuple(r) for r in S.read_snapshot(spark, root).collect()] == [(1, 7)]


def test_dv_overlapping_deletes_count_exact(spark, root):
    """Review fix: a second delete must not re-mark already-deleted
    positions — sidecar rows stay disjoint so table_stats' footer
    subtraction is exact."""
    _table(spark, root)
    D.delete_where_dv(spark, root, [("k", "=", 1)])      # 100 rows
    sid = D.delete_where_dv(spark, root, [("id", "<", 50)])  # 50, 5 overlap
    entry = S._entry(S._load(root), sid)
    assert entry["meta"]["n_deleted"] == 45  # only the NEW positions
    stats = S.table_stats(root)
    assert stats["n_deleted"] == 145
    assert stats["n_rows"] == 855 == S.read_snapshot(spark, root).count()


def test_dv_delete_toctou_conflict_replans(spark, root, monkeypatch):
    """Review fix: a commit landing between plan_scan's manifest load
    and the commit load must trigger a replay, not silently erase the
    concurrent commit's dirs."""
    _table(spark, root)
    orig_plan = S.plan_scan
    raced = {"done": False}

    def racing_plan(*a, **k):
        plan = orig_plan(*a, **k)
        if not raced["done"]:
            raced["done"] = True
            S.write_snapshot(
                spark.range(5000, 5100).select(
                    "id", (F.col("id") % 10).alias("k")
                ),
                root,
                mode="append",
            )
        return plan

    monkeypatch.setattr(S, "plan_scan", racing_plan)
    try:
        import e_commerce_lakehouse_spark.sources.deletes as D2

        monkeypatch.setattr(D2.S, "plan_scan", racing_plan)
        D.delete_where_dv(spark, root, [("id", "<", 100)])
    finally:
        monkeypatch.setattr(S, "plan_scan", orig_plan)
    got = S.read_snapshot(spark, root)
    assert got.filter("id >= 5000").count() == 100  # append survived
    assert got.filter("id < 100").count() == 0
    assert got.count() == 1000


def test_sql_merge_honors_merge_on_read(spark, root):
    """Review fix: SQL MERGE INTO must route through the DV path on a
    merge-on-read table — same result values as copy-on-write, one
    merge_dv-style commit, base files untouched; UPDATE SET * keeps
    whole-row-replace semantics (source NULLs land)."""
    from e_commerce_lakehouse_spark.sources import sql_dml

    S.write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ).repartition(2),
        root,
    )
    D.set_delete_mode(root, "merge-on-read")
    t = {"t": root}
    src = spark.createDataFrame([(2, None), (4, "d")], "id long, v string")
    before = _data_files(root)
    out = sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        t,
        sources={"s": src},
    )
    entry = S._entry(S._load(root), out["snapshot_id"])
    assert entry["op"] == "apply_changes_dv"
    got = sorted(
        (r.id, r.v) for r in S.read_snapshot(spark, root).collect()
    )
    # whole-row replace: id=2's v becomes NULL (not coalesced to 'b')
    assert got == [(1, "a"), (2, None), (3, "c"), (4, "d")]
    after = _data_files(root)
    for rel, stat in before.items():
        assert after[rel] == stat, rel
    # MATCHED DELETE shape
    sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE",
        t,
        sources={"s": spark.createDataFrame([(1,)], "id long")
                 .withColumn("v", F.lit(None).cast("string"))},
    )
    assert sorted(r.id for r in S.read_snapshot(spark, root).collect()) == [2, 3, 4]


def test_dv_read_plan_is_broadcast_anti_join(spark, root):
    """Plan gate: applying DVs must cost one map-side broadcast
    LEFT ANTI join — no shuffle joins in the read plan."""
    _table(spark, root)
    D.delete_where_dv(spark, root, [("k", "=", 3)])
    plan = (
        S.read_snapshot(spark, root)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_maintain_orders_purge_compact_vacuum(spark, root):
    """maintain() purges an over-threshold DV stack BEFORE compacting
    (compaction refuses DVs), then vacuums — one call, consistent
    results; a DV stack under the threshold skips both rewrite steps."""
    _table(spark, root, n=400, parts=8)
    for lo in range(0, 30, 10):
        D.delete_where_dv(spark, root, [("id", ">=", lo), ("id", "<", lo + 5)])
    assert len(S._entry(S._load(root), S._load(root)["current"])["dvs"]) == 3
    out = D.maintain(spark, root, target_bytes=1 << 30, keep_last=1,
                     older_than_s=0.0, max_dvs=2)
    assert "purged_snapshot" in out and "compact_snapshot" in out
    final = S._entry(S._load(root), S._load(root)["current"])
    assert "dvs" not in final
    got = S.read_snapshot(spark, root)
    assert got.count() == 400 - 15
    assert got.filter("id < 5").count() == 0
    # under threshold: no purge, compaction refused-path avoided, vacuum runs
    D.delete_where_dv(spark, root, [("id", "=", 100)])
    out = D.maintain(spark, root, keep_last=1, older_than_s=0.0, max_dvs=8)
    assert "purged_snapshot" not in out and "compact_snapshot" not in out
    assert S.read_snapshot(spark, root).count() == 400 - 16


def test_merge_upsert_dv_empty_batch_commits_no_empty_dir(spark, root):
    """An empty micro-batch (replayed foreachBatch edge) must still
    commit its exactly-once meta but reference no empty data dir and
    leave none on disk (mirrors apply_changes_dv's prune)."""
    _table(spark, root, n=100, parts=2)
    before = S._load(root)
    empty = spark.createDataFrame([], "id long, k long")
    sid = D.merge_upsert_dv(spark, root, empty, ["id"], meta={"stream_batch_id": 7})
    entry = S._entry(S._load(root), sid)
    assert entry["meta"]["stream_batch_id"] == 7
    assert entry["dirs"] == S._entry(before, before["current"])["dirs"]
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith("snap-") and os.path.isdir(p):
            assert os.listdir(p), f"empty dir {d} left behind"
    assert S.read_snapshot(spark, root).count() == 100


def _scattered_table(spark, root, n=3200, files=32):
    """Hash-scattered ids: every file's [min,max] spans the domain, so
    bounds prune nothing — only the bloom index can."""
    df = spark.range(n).select("id", (F.col("id") % 7).alias("k")).repartition(files)
    S.write_snapshot(df, root)
    S.set_bloom_index(root, ["id"])
    S.build_bloom_index(spark, root)


def test_merge_upsert_dv_keyscan_prunes_file_opens(
    spark, root, tmp_path, monkeypatch
):
    """Round-8 verdict top item: the merge-on-read READ side must be
    O(batch-touched files), not O(table) — a point-key batch routes the
    matched-scan through plan_scan + the bloom file index and opens a
    handful of the 32 files. Rows must be identical to the unpruned
    path (cap 0 forces the full scan) and the pruning is recorded on
    the commit."""
    _scattered_table(spark, root)
    batch = spark.createDataFrame([(42, 100), (9999, 1)], "id long, k long")
    sid = D.merge_upsert_dv(spark, root, batch, ["id"])
    scan = S._entry(S._load(root), sid)["meta"]["scan"]
    assert scan["keyscan"] == "pruned"
    assert scan["scan_candidates"] == 32
    assert scan["scan_kept"] <= 4  # bloom kills >= 28 of 32 file opens
    got = {r.id: r.k for r in S.read_snapshot(spark, root).collect()}
    assert got[42] == 100 and got[9999] == 1 and len(got) == 3201

    # twin table, same batch, pruning disabled: byte-identical outcome
    root2 = str(tmp_path / "tbl2")
    _scattered_table(spark, root2)
    monkeypatch.setattr(D, "MAX_KEYSCAN_KEYS", 0)
    sid2 = D.merge_upsert_dv(spark, root2, batch, ["id"])
    scan2 = S._entry(S._load(root2), sid2)["meta"]["scan"]
    assert scan2["keyscan"] == "full"
    got2 = {r.id: r.k for r in S.read_snapshot(spark, root2).collect()}
    assert got2 == got


def test_apply_changes_dv_keyscan_prunes_file_opens(spark, root, tmp_path):
    """Same read-side pruning for the CDC applier, including a DELETE;
    NULL feed keys fall back to the full scan (eqNullSafe matches NULLs,
    which no column stat can prune)."""
    _scattered_table(spark, root)
    feed = spark.createDataFrame(
        [(42, 0, "delete"), (77, 500, "update_postimage"), (9999, 1, "insert")],
        "id long, k long, _change_type string",
    )
    sid = D.apply_changes_dv(spark, root, feed, ["id"])
    scan = S._entry(S._load(root), sid)["meta"]["scan"]
    assert scan["keyscan"] == "pruned" and scan["scan_kept"] <= 6
    got = {r.id: r.k for r in S.read_snapshot(spark, root).collect()}
    assert 42 not in got and got[77] == 500 and got[9999] == 1
    assert len(got) == 3200  # 3200 - 1 delete + 1 insert

    # a NULL key in the feed: sound full-scan fallback, NULL row deleted
    root2 = str(tmp_path / "tbl2")
    df = spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "id long, k long"
    ).repartition(3)
    S.write_snapshot(df, root2)
    feed2 = spark.createDataFrame(
        [(None, 0, "delete")], "id long, k long, _change_type string"
    )
    sid2 = D.apply_changes_dv(spark, root2, feed2, ["id"])
    assert S._entry(S._load(root2), sid2)["meta"]["scan"]["keyscan"] == "full"
    assert {r.k for r in S.read_snapshot(spark, root2).collect()} == {10, 30}


def test_merge_upsert_dv_keyscan_conflict_gate(spark, root, monkeypatch):
    """plan_scan reloads the manifest; a commit sliding between the
    op's load and the plan must re-raise (and retry) instead of
    committing positions computed against a drifted file set."""
    _scattered_table(spark, root, n=100, files=2)
    orig, raced = S.plan_scan, {"n": 0}

    def racing_plan(r, preds, **kw):
        if raced["n"] == 0:
            raced["n"] += 1
            S.write_snapshot(
                spark.createDataFrame([(5000, 5)], "id long, k long"),
                root,
                mode="append",
            )
        return orig(r, preds, **kw)

    monkeypatch.setattr(S, "plan_scan", racing_plan)
    batch = spark.createDataFrame([(1, 99)], "id long, k long")
    sid = D.merge_upsert_dv(spark, root, batch, ["id"])
    monkeypatch.setattr(S, "plan_scan", orig)
    got = {r.id: r.k for r in S.read_snapshot(spark, root).collect()}
    assert got[1] == 99 and got[5000] == 5  # both the merge and the append
    assert len(got) == 101


def test_rewrite_deletes_threshold_spares_lightly_marked_files(spark, root):
    """Round-8 verdict item 3: a 1-row delete in a large file must not
    trigger a full-file rewrite at the next maintain() — the file
    survives un-rewritten (same inode) with its mark consolidated into
    one sidecar; crossing the threshold finally rewrites it. Reads,
    stats and time travel stay exact throughout."""
    df = spark.range(100_000).select("id", (F.col("id") % 5).alias("k"))
    S.write_snapshot(df.repartition(1), root)
    # ten single-row deletes -> DV stack depth 10 (> max_dvs=8)
    for i in range(10):
        D.delete_where_dv(spark, root, [("id", "=", i)])
    pre = S._load(root)
    assert len(S._entry(pre, pre["current"])["dvs"]) == 10
    before = _data_files(root)

    out = D.maintain(spark, root, older_than_s=3600.0)
    assert "purged_snapshot" in out
    m = S._load(root)
    entry = S._entry(m, m["current"])
    # 10 rows of 100k is 0.01% < 10%: file kept, stack consolidated to 1
    assert [d for d in entry["dirs"] if "purge" in d] == []
    assert len(entry["dvs"]) == 1
    assert S._entry(m, m["current"])["meta"]["rewritten"] == []
    after = _data_files(root)
    for rel, stat in before.items():
        assert after[rel] == stat, f"{rel} was rewritten"
    assert S.read_snapshot(spark, root).count() == 99_990
    assert S.table_stats(root)["n_rows"] == 99_990
    # time travel: the pre-purge snapshot still shows its own DV state
    assert S.read_snapshot(spark, root, snapshot_id=pre["current"]).count() == 99_990

    # crossing the threshold (delete 20% of rows) purges for real
    D.delete_where_dv(spark, root, [("id", "<", 20_000)])
    sid = D.rewrite_deletes(spark, root, min_deleted_frac=0.1)
    entry = S._entry(S._load(root), sid)
    assert "dvs" not in entry and entry["meta"]["rewritten"] != []
    got = S.read_snapshot(spark, root)
    assert got.count() == 80_000  # ids 0..19999 all deleted
    assert got.filter("id < 20000").count() == 0


def test_rewrite_deletes_threshold_noop_and_reorg_unconditional(spark, root):
    """Below-threshold marks with an already-minimal stack are a
    no-op (no new snapshot); the SQL REORG PURGE route stays
    unconditional (min_deleted_frac=0.0 purges everything)."""
    from e_commerce_lakehouse_spark.sources import sql_dml

    S.write_snapshot(spark.range(10_000).select("id").repartition(1), root)
    D.delete_where_dv(spark, root, [("id", "=", 7)])
    cur = S._load(root)["current"]
    assert D.rewrite_deletes(spark, root, min_deleted_frac=0.1) == cur  # no-op
    out = sql_dml.execute_dml(spark, "REORG TABLE t APPLY (PURGE)", {"t": root})
    entry = S._entry(S._load(root), out["snapshot_id"])
    assert "dvs" not in entry  # unconditional purge cleared the state
    assert S.read_snapshot(spark, root).count() == 9_999


def _counted_batch(spark, rows, schema):
    """A batch over a Python RDD (what ``createDataFrame`` of local rows
    and a foreachBatch source are) and an accumulator counting the
    source rows computed: every read of such a batch recomputes the
    whole RDD, whatever columns the read keeps."""
    computed = spark.sparkContext.accumulator(0)

    def tick(r):
        computed.add(1)
        return r

    rdd = spark.sparkContext.parallelize(rows, 4).map(tick)
    return spark.createDataFrame(rdd, schema), computed


def test_dv_writers_compute_batch_once_and_release_it(spark, root):
    """merge_upsert_dv and apply_changes_dv each read their batch three
    times (the key collect, the matched join, the appended rows) but
    compute it once, and leave no persisted block behind — also when
    the write fails."""
    from e_commerce_lakehouse_spark.operators.parallelize import (
        _persistent_rdd_ids,
    )

    _table(spark, root)  # ids 0..999
    before = _persistent_rdd_ids(spark)
    # 250 keys, 143 of them matched (multiples of 7 below 1000)
    src, computed = _counted_batch(
        spark, [(i * 7, 10 + i % 3) for i in range(250)], "id long, k long"
    )
    D.merge_upsert_dv(spark, root, src, ["id"])
    assert computed.value == 250
    assert not _persistent_rdd_ids(spark) - before
    got = {r.id: r.k for r in S.read_snapshot(spark, root).collect()}
    assert len(got) == 1000 + 250 - 143
    assert got[7] == 11 and got[1743] == 10 and got[1] == 1

    feed, computed = _counted_batch(
        spark,
        [(i * 7, 20, "update_postimage") for i in range(250)],
        "id long, k long, _change_type string",
    )
    D.apply_changes_dv(spark, root, feed, ["id"])
    assert computed.value == 250
    assert not _persistent_rdd_ids(spark) - before
    got = {r.id: r.k for r in S.read_snapshot(spark, root).collect()}
    assert len(got) == 1000 + 250 - 143 and got[7] == 20

    S.set_constraint(root, "k_small", "k < 100")
    bad, _ = _counted_batch(
        spark, [(i * 7, 100) for i in range(250)], "id long, k long"
    )
    with pytest.raises(Exception, match="k_small|constraint"):
        D.merge_upsert_dv(spark, root, bad, ["id"])
    assert not _persistent_rdd_ids(spark) - before
    with pytest.raises(Exception, match="k_small|constraint"):
        D.apply_changes_dv(
            spark, root, bad.withColumn("_change_type", F.lit("insert")), ["id"]
        )
    assert not _persistent_rdd_ids(spark) - before


def test_nested_conflict_retries_only_in_the_outermost_cycle(spark, root, monkeypatch):
    """A DV writer called inside a retried sink cycle re-raises its
    CommitConflict to that cycle instead of retrying itself: a
    persistent conflict costs COMMIT_RETRIES writer attempts (each one
    re-checking the batch id), not COMMIT_RETRIES squared."""
    import time

    from e_commerce_lakehouse_spark.streaming.sinks import (
        foreach_batch_merge_snapshot,
    )

    S.write_snapshot(spark.createDataFrame([(1, 1)], "id long, k long"), root)
    attempts = {"n": 0}

    def conflicted(r, op):
        attempts["n"] += 1
        raise S.CommitConflict("simulated concurrent commit")

    monkeypatch.setattr(D, "_load_guarded", conflicted)
    monkeypatch.setattr(time, "sleep", lambda s: None)
    batch = spark.createDataFrame([(1, 2)], "id long, k long")
    with pytest.raises(S.CommitConflict, match="simulated"):
        foreach_batch_merge_snapshot(root, ["id"])(batch, 0)
    assert attempts["n"] == S.COMMIT_RETRIES
