"""Conditional multi-clause MERGE (sources/sql_dml.py _merge, the one
MERGE executor): WHEN [NOT] MATCHED [AND <cond>] THEN UPDATE SET
c = expr / DELETE / INSERT (cols) VALUES (exprs) — the full
Delta/Iceberg clause surface. Semantics pinned:
first-match-wins clause order, unassigned UPDATE columns keep target
values, unlisted INSERT columns are NULL, unmatched-by-any-clause rows
are untouched; identical results on copy-on-write and merge-on-read
routes; read-modify-write freshness gated against concurrent commits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.sources import deletes as D
from e_commerce_lakehouse_spark.sources import snapshots as S
from e_commerce_lakehouse_spark.sources import sql_dml


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _target(spark):
    # (id, qty, status, note)
    return spark.createDataFrame(
        [
            (1, 10, "open", "a"),
            (2, 20, "open", "b"),
            (3, 30, "closed", "c"),
            (4, 40, "open", "d"),
        ],
        "id long, qty long, status string, note string",
    )


def _source(spark):
    # id=1 small qty (update), id=2 zero qty (delete), id=3 matched but
    # closed (untouched), id=5 big qty (insert), id=6 tiny qty (skipped)
    return spark.createDataFrame(
        [
            (1, 5, "open", "s1"),
            (2, 0, "open", "s2"),
            (3, 99, "open", "s3"),
            (5, 50, "new", "s5"),
            (6, 1, "new", "s6"),
        ],
        "id long, qty long, status string, note string",
    )


MERGE = (
    "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
    "WHEN MATCHED AND s.qty = 0 THEN DELETE "
    "WHEN MATCHED AND t.status = 'open' THEN "
    "UPDATE SET qty = t.qty + s.qty, note = s.note "
    "WHEN NOT MATCHED AND s.qty >= 10 THEN "
    "INSERT (id, qty, status) VALUES (s.id, s.qty, upper(s.status))"
)

EXPECTED = {
    # id 1: second MATCHED clause -> qty 10+5, note s1, status kept
    (1, 15, "open", "s1"),
    # id 2: first MATCHED clause (qty=0) -> deleted
    # id 3: matched, no clause applies (closed, qty!=0) -> untouched
    (3, 30, "closed", "c"),
    # id 4: not in source -> untouched
    (4, 40, "open", "d"),
    # id 5: NOT MATCHED, qty>=10 -> inserted, note NULL, status uppered
    (5, 50, "NEW", None),
    # id 6: NOT MATCHED, qty<10 -> no clause -> ignored
}


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_conditional_merge_semantics(spark, root, mode):
    S.write_snapshot(_target(spark), root)
    sql_dml.execute_dml(
        spark,
        f"ALTER TABLE tbl SET TBLPROPERTIES ('write.delete.mode'='{mode}')",
        {"tbl": root},
    )
    out = sql_dml.execute_dml(
        spark, MERGE, {"tbl": root}, sources={"src": _source(spark)}
    )
    assert out["op"] == "merge"
    got = {tuple(r) for r in S.read_snapshot(spark, root).collect()}
    assert got == EXPECTED


def test_merge_on_read_route_writes_o_batch(spark, root):
    """The MoR route must not rewrite untouched files: the commit's
    entry carries the parent's dirs plus one delta dir + DV sidecar."""
    S.write_snapshot(_target(spark).repartition(4), root)
    D.set_delete_mode(root, "merge-on-read")
    sql_dml.execute_dml(
        spark, MERGE, {"tbl": root}, sources={"src": _source(spark)}
    )
    manifest = S._load(root)
    entry = S._entry(manifest, manifest["current"])
    assert entry["op"] == "apply_changes_dv"
    parent = S._entry(manifest, entry["parent"])
    assert set(parent["dirs"]) <= set(entry["dirs"])  # nothing rewritten
    assert entry.get("dvs")  # matched rows deleted by position


def test_update_set_expression_uses_both_aliases(spark, root):
    S.write_snapshot(_target(spark), root)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET note = concat(t.note, '+', s.note)",
        {"tbl": root},
        sources={"src": _source(spark)},
    )
    got = {r.id: r.note for r in S.read_snapshot(spark, root).collect()}
    assert got[1] == "a+s1" and got[2] == "b+s2" and got[3] == "c+s3"
    assert got[4] == "d"  # unmatched target row untouched


def test_first_match_wins_not_last(spark, root):
    """A row matching BOTH conditions takes the FIRST clause."""
    S.write_snapshot(
        spark.createDataFrame([(1, 10)], "id long, qty long"), root
    )
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.qty > 0 THEN UPDATE SET qty = s.qty "
        "WHEN MATCHED THEN DELETE",
        {"tbl": root},
        sources={"src": spark.createDataFrame([(1, 7)], "id long, qty long")},
    )
    got = [(r.id, r.qty) for r in S.read_snapshot(spark, root).collect()]
    assert got == [(1, 7)]  # updated, not deleted


def test_grammar_rejections(spark, root):
    S.write_snapshot(_target(spark), root)
    src = {"src": _target(spark)}
    # unreachable clause: conditioned AFTER unconditioned
    with pytest.raises(ValueError, match="unreachable"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED AND s.qty = 0 THEN UPDATE SET qty = s.qty",
            {"tbl": root},
            sources=src,
        )
    # two unconditioned clauses of one head
    with pytest.raises(ValueError, match="duplicate"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE WHEN MATCHED THEN UPDATE SET *",
            {"tbl": root},
            sources=src,
        )
    # unqualified column reference in a condition
    with pytest.raises(ValueError, match="unqualified column"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED AND qty = 0 THEN DELETE",
            {"tbl": root},
            sources=src,
        )
    # NOT MATCHED condition referencing the target alias
    with pytest.raises(ValueError, match="target alias"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN NOT MATCHED AND t.qty = 0 THEN INSERT *",
            {"tbl": root},
            sources=src,
        )
    # assigning a merge key
    with pytest.raises(ValueError, match="merge key"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET id = s.id",
            {"tbl": root},
            sources=src,
        )
    # INSERT column list missing a key column
    with pytest.raises(ValueError, match="key"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (qty) VALUES (s.qty)",
            {"tbl": root},
            sources=src,
        )


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_concurrent_commit_not_lost(spark, root, mode, monkeypatch):
    """The feed is a read-modify-write (SET qty = t.qty + s.qty reads
    the target): a concurrent append landing mid-merge must be retried
    into the result on BOTH routes, never erased by a stale feed."""
    S.write_snapshot(
        spark.createDataFrame([(1, 10)], "id long, qty long"), root
    )
    D.set_delete_mode(root, mode)
    orig, raced = S._commit, {"done": False}

    def racing(r, m):
        if not raced["done"]:
            raced["done"] = True
            S.write_snapshot(
                spark.createDataFrame([(9, 90)], "id long, qty long"),
                root,
                mode="append",
            )
        orig(r, m)

    monkeypatch.setattr(S, "_commit", racing)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.qty > 0 THEN UPDATE SET qty = t.qty + s.qty "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": root},
        sources={"src": spark.createDataFrame([(1, 5), (9, 1)], "id long, qty long")},
    )
    monkeypatch.setattr(S, "_commit", orig)
    got = {r.id: r.qty for r in S.read_snapshot(spark, root).collect()}
    # the raced append (9, 90) must be MATCHED by the recomputed feed:
    # 90 + 1, not an insert of 1 and not erased
    assert got == {1: 15, 9: 91}


def test_merge_on_read_matched_scan_is_pruned(spark, root):
    """O(batch) read side: with many files and a 1-key batch, the
    committed scan meta must show pruned candidates (the Bloom-index
    keyscan), not a full-table read."""
    S.write_snapshot(
        spark.range(0, 10_000)
        .select(F.col("id"), (F.col("id") % 97).alias("qty"))
        .repartitionByRange(16, "id"),
        root,
    )
    D.set_delete_mode(root, "merge-on-read")
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.qty >= 0 THEN UPDATE SET qty = t.qty + s.qty",
        {"tbl": root},
        sources={"src": spark.createDataFrame([(42, 1)], "id long, qty long")},
    )
    manifest = S._load(root)
    entry = S._entry(manifest, manifest["current"])
    scan = entry["meta"]["scan"]
    assert scan["keyscan"] == "pruned"
    assert scan["scan_kept"] < scan["scan_candidates"]
    got = {r.id: r.qty for r in
           S.read_snapshot(spark, root).where(F.col("id") == 42).collect()}
    assert got == {42: (42 % 97) + 1}


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_concurrent_conditional_merges_all_land(spark, root, mode):
    """Four genuinely concurrent conditional MERGEs on disjoint key
    ranges: every writer's read-modify-write effect must land — the
    expected_base gate turns each lost race into a recompute, never a
    lost update, on BOTH commit routes."""
    import threading

    base = spark.range(0, 40).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("qty")
    )
    S.write_snapshot(base, root)
    D.set_delete_mode(root, mode)
    errs = []
    barrier = threading.Barrier(4)

    def writer(i):
        try:
            barrier.wait(timeout=60)
            src = spark.range(i * 10, i * 10 + 12).select(
                F.col("id").alias("k"),
                F.lit(i + 1).cast("long").alias("qty"),
            )
            sql_dml.execute_dml(
                spark,
                "MERGE INTO tbl AS t USING src AS s ON t.k = s.k "
                "WHEN MATCHED AND s.qty > 0 THEN "
                "UPDATE SET qty = t.qty + s.qty "
                "WHEN NOT MATCHED THEN INSERT *",
                {"tbl": root},
                sources={"src": src},
            )
        except Exception as e:  # pragma: no cover
            errs.append((i, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in threads]
    [t.join(timeout=600) for t in threads]
    assert not errs, errs
    got = {r.k: r.qty for r in S.read_snapshot(spark, root).collect()}
    # writer i touches keys [10i, 10i+12): overlap of 2 keys with the
    # next writer — both increments must survive on the overlap
    want = {}
    for k in range(42):
        want[k] = sum(
            i + 1 for i in range(4) if i * 10 <= k < i * 10 + 12
        ) or 0
    want = {k: v for k, v in want.items() if k < 40 or v > 0}
    assert got == want


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_duplicate_source_keys_matched_raise(spark, root, mode):
    """Two source rows matching ONE target row must raise the MERGE
    cardinality error (Delta/Iceberg 'single target row matched
    multiple source rows'), not silently commit both post-images —
    on both commit routes, conditional and unconditioned clause shapes."""
    S.write_snapshot(
        spark.createDataFrame([(1, 10)], "id long, qty long"), root
    )
    D.set_delete_mode(root, mode)
    dup = spark.createDataFrame(
        [(1, 100), (1, 200)], "id long, qty long"
    )
    # conditional clause
    with pytest.raises(Exception, match="matched multiple source"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED AND s.qty > 0 THEN UPDATE SET qty = s.qty",
            {"tbl": root},
            sources={"src": dup},
        )
    # unconditioned UPDATE SET *
    with pytest.raises(Exception, match="matched multiple source"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET *",
            {"tbl": root},
            sources={"src": dup},
        )
    # unconditioned DELETE
    with pytest.raises(Exception, match="matched multiple source"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE",
            {"tbl": root},
            sources={"src": dup},
        )
    # nothing committed by any failed attempt
    got = [(r.id, r.qty) for r in S.read_snapshot(spark, root).collect()]
    assert got == [(1, 10)]


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_duplicate_unmatched_keys_insert_all(spark, root, mode):
    """Duplicate source keys that match NO target row are legal — each
    row takes its NOT MATCHED clause and both insert (Delta/Iceberg
    semantics: the cardinality error is about matched target rows)."""
    from collections import Counter

    S.write_snapshot(
        spark.createDataFrame([(1, 10)], "id long, qty long"), root
    )
    D.set_delete_mode(root, mode)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.qty > 0 THEN UPDATE SET qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": root},
        sources={
            "src": spark.createDataFrame(
                [(7, 70), (7, 71)], "id long, qty long"
            )
        },
    )
    got = Counter(
        (r.id, r.qty) for r in S.read_snapshot(spark, root).collect()
    )
    assert got == Counter([(1, 10), (7, 70), (7, 71)])


def test_decimal_literal_in_merge_condition(spark, root):
    """A float literal in a MERGE condition or SET expression must not
    be mis-parsed as an alias reference ('12.5' -> alias '12')."""
    S.write_snapshot(
        spark.createDataFrame(
            [(1, 10.0), (2, 1.0)], "id long, price double"
        ),
        root,
    )
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.price > 12.5 THEN "
        "UPDATE SET price = s.price * 0.5",
        {"tbl": root},
        sources={
            "src": spark.createDataFrame(
                [(1, 100.0), (2, 2.0)], "id long, price double"
            )
        },
    )
    got = {r.id: r.price for r in S.read_snapshot(spark, root).collect()}
    assert got == {1: 50.0, 2: 1.0}


def test_concurrent_add_column_survives_cow_retry(spark, root, monkeypatch):
    """A concurrent metadata-only ADD COLUMN landing between the feed
    derivation and the copy-on-write retry must SURVIVE: the retry
    re-derives the schema from the fresh head, so the overwrite commits
    the widened column set instead of silently erasing the DDL."""
    S.write_snapshot(
        spark.createDataFrame([(1, 10)], "id long, qty long"), root
    )
    orig, raced = S._commit, {"done": False}

    def racing(r, m):
        if not raced["done"]:
            raced["done"] = True
            S.add_column(root, "extra", "string")
        orig(r, m)

    monkeypatch.setattr(S, "_commit", racing)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.qty > 0 THEN UPDATE SET qty = t.qty + s.qty",
        {"tbl": root},
        sources={"src": spark.createDataFrame([(1, 5)], "id long, qty long")},
    )
    monkeypatch.setattr(S, "_commit", orig)
    out = S.read_snapshot(spark, root)
    assert "extra" in out.columns  # the DDL was not erased
    got = [(r.id, r.qty, r.extra) for r in out.collect()]
    assert got == [(1, 15, None)]


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_conditional_dedup_merge_is_legal(spark, root, mode):
    """Delta/Iceberg error only when multiple source rows actually
    MODIFY the same target row. With every matched clause conditional,
    duplicate source keys whose conditions disambiguate to one
    modifying row are LEGAL — the `WHEN MATCHED AND s.seq = 1` dedup
    pattern — while duplicates that BOTH satisfy a clause still raise."""
    S.write_snapshot(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, qty long"),
        root,
    )
    D.set_delete_mode(root, mode)
    # seq column rides the source only (not a target column)
    legal = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2), (2, 0, 1)],
        "id long, qty long, seq long",
    )
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.seq = 1 AND s.qty = 0 THEN DELETE "
        "WHEN MATCHED AND s.seq = 1 THEN UPDATE SET qty = s.qty",
        {"tbl": root},
        sources={"src": legal},
    )
    got = sorted(
        (r.id, r.qty) for r in S.read_snapshot(spark, root).collect()
    )
    assert got == [(1, 100)]  # seq=1 applied, seq=2 ignored, id=2 deleted
    # ...but two rows with seq=1 for one matched key still raise
    bad = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 1)], "id long, qty long, seq long"
    )
    with pytest.raises(Exception, match="matched multiple source"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED AND s.seq = 1 THEN UPDATE SET qty = s.qty",
            {"tbl": root},
            sources={"src": bad},
        )
    # duplicates whose conditions reference TARGET columns are judged
    # against the matched pair (t.qty decides, not s-side data alone)
    tgt_cond = spark.createDataFrame(
        [(1, 7, 1), (1, 8, 2)], "id long, qty long, seq long"
    )
    with pytest.raises(Exception, match="matched multiple source"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED AND t.qty >= 100 THEN UPDATE SET qty = s.qty "
            "WHEN MATCHED AND s.qty < 100 THEN UPDATE SET qty = s.qty",
            {"tbl": root},
            sources={"src": tgt_cond},
        )
    # nothing committed by the failed attempts
    assert sorted(
        (r.id, r.qty) for r in S.read_snapshot(spark, root).collect()
    ) == [(1, 100)]


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_duplicate_key_target_rowwise_semantics(spark, root, mode):
    """Delta counts MERGE cardinality per TARGET ROW, not per source
    key: with a duplicate-key TARGET, duplicate-key source rows whose
    conditions each pick a DIFFERENT target row are LEGAL (one
    post-image per target row), and target rows of a modified key that
    matched no clause survive (the feed carries them across the
    key-addressed applier). Two sources modifying the SAME target row
    still raise."""
    S.write_snapshot(
        spark.createDataFrame(
            [(1, 10), (1, 150), (1, 200), (2, 20)], "id long, qty long"
        ),
        root,
    )
    D.set_delete_mode(root, mode)
    src = spark.createDataFrame(
        [(1, 50, 1), (1, 500, 2)], "id long, qty long, seq long"
    )
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND t.qty < 100 AND s.seq = 1 THEN UPDATE SET qty = s.qty "
        "WHEN MATCHED AND t.qty >= 160 AND s.seq = 2 THEN UPDATE SET qty = s.qty",
        {"tbl": root},
        sources={"src": src},
    )
    got = sorted((r.id, r.qty) for r in S.read_snapshot(spark, root).collect())
    # 10 -> 50 (seq=1 picked the small row), 200 -> 500 (seq=2 picked
    # the big row), 150 untouched AND NOT LOST, id=2 untouched
    assert got == [(1, 50), (1, 150), (1, 500), (2, 20)]
    # ...but two sources whose conditions land on ONE target row raise
    bad = spark.createDataFrame(
        [(1, 7, 1), (1, 8, 2)], "id long, qty long, seq long"
    )
    with pytest.raises(Exception, match="matched multiple source"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED AND t.qty <= 50 THEN UPDATE SET qty = s.qty",
            {"tbl": root},
            sources={"src": bad},
        )
    # nothing committed by the failed attempt
    assert sorted(
        (r.id, r.qty) for r in S.read_snapshot(spark, root).collect()
    ) == got


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_unmodified_key_rows_not_churned(spark, root, mode):
    """A matched key where NO pair satisfies any clause stays entirely
    out of the feed: its rows are untouched (no carry churn, no
    spurious CDF update) — only keys with at least one modifying pair
    re-commit their unmodified sibling rows."""
    S.write_snapshot(
        spark.createDataFrame(
            [(1, 500), (1, 600), (2, 20)], "id long, qty long"
        ),
        root,
    )
    D.set_delete_mode(root, mode)
    head = S._load(root)["current"]
    src = spark.createDataFrame([(1, 9, 1)], "id long, qty long, seq long")
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND t.qty < 100 THEN UPDATE SET qty = s.qty",
        {"tbl": root},
        sources={"src": src},
    )
    assert sorted(
        (r.id, r.qty) for r in S.read_snapshot(spark, root).collect()
    ) == [(1, 500), (1, 600), (2, 20)]
    summary = S._load(root)["snapshots"][-1].get("summary", {})
    # merge-on-read: the no-op feed must not have marked any rows
    if mode == "merge-on-read" and S._load(root)["current"] != head:
        assert summary.get("dv_marked_rows", 0) == 0
