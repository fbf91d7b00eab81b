"""SQL DML strings over snapshot tables (sources/sql_dml.py): each
statement must equal the API it routes to on the same inputs, keep
file-granular behavior (verbatim carry-over of provably-untouched
files), and reject out-of-grammar SQL loudly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.sources import snapshots as S
from e_commerce_lakehouse_spark.sources import sql_dml


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _orders(spark):
    return (
        spark.range(0, 1000)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("user_id"),
            (F.col("id") % 50 + 1).cast("double").alias("price"),
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 90).cast("int")).alias("d"),
        )
        .repartitionByRange(8, "id")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delete_equals_replace_where_api(spark, root, tmp_path):
    df = _orders(spark)
    S.write_snapshot(df, root)
    api_root = str(tmp_path / "api")
    S.write_snapshot(df, api_root)

    out = sql_dml.execute_dml(
        spark, "DELETE FROM orders WHERE id >= 750", {"orders": root}
    )
    assert out["op"] == "delete"
    S.replace_where(
        spark, api_root, spark.createDataFrame([], df.schema), [("id", ">=", 750)]
    )
    assert _rows(S.read_snapshot(spark, root)) == _rows(
        S.read_snapshot(spark, api_root)
    )
    assert S.read_snapshot(spark, root).count() == 750


def test_update_where_file_granular_and_old_row_scoping(spark, root):
    df = _orders(spark)
    S.write_snapshot(df, root)
    m = S._load(root)
    d1 = S._entry(m, 1)["dirs"][0]
    sizes_before = {
        f: os.path.getsize(os.path.join(root, d1, f))
        for f in S._dir_files(root, m, d1)
    }

    out = sql_dml.execute_dml(
        spark,
        "UPDATE orders SET price = price * 2, user_id = user_id + 1 WHERE id >= 900",
        {"orders": root},
    )
    assert out["op"] == "update"
    got = S.read_snapshot(spark, root)
    want = df.select(
        "id",
        F.when(F.col("id") >= 900, F.col("user_id") + 1).otherwise(F.col("user_id")).alias("user_id"),
        F.when(F.col("id") >= 900, F.col("price") * 2).otherwise(F.col("price")).alias("price"),
        "d",
    )
    assert _rows(got) == _rows(want)
    # file granularity: range files provably below 900 carried verbatim
    entry = S._entry(S._load(root), out["snapshot_id"])
    carried = [f for d, f in S._entry_units(root, S._load(root), entry) if d == d1]
    assert carried, "expected untouched range files to carry over"
    for f in carried:
        assert os.path.getsize(os.path.join(root, d1, f)) == sizes_before[f]
    # an update may move rows OUT of the WHERE range (no scope guard):
    sql_dml.execute_dml(
        spark, "UPDATE orders SET price = 0 WHERE price > 40", {"orders": root}
    )
    assert S.read_snapshot(spark, root).filter("price > 40").count() == 0


def test_update_all_assignments_see_old_values(spark, root):
    S.write_snapshot(
        spark.createDataFrame([(1, 10, 100)], "id long, a long, b long"), root
    )
    sql_dml.execute_dml(
        spark, "UPDATE t SET a = b, b = a WHERE id = 1", {"t": root}
    )
    r = S.read_snapshot(spark, root).first()
    assert (r.a, r.b) == (100, 10)  # swap, not b,b


def test_merge_upsert_and_delete_routes(spark, root, tmp_path):
    from e_commerce_lakehouse_spark.operators import upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, v string, x double"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id long, v string, x double"
    )
    S.write_snapshot(target, root)
    out = sql_dml.execute_dml(
        spark,
        """MERGE INTO tbl AS t USING src AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
        {"tbl": root},
        sources={"src": source},
    )
    assert out["op"] == "merge"
    got = S.read_snapshot(spark, root)
    want = upsert.merge_upsert(target, source, ["id"])
    assert _rows(got) == _rows(want)

    # WHEN MATCHED THEN DELETE
    root2 = str(tmp_path / "t2")
    S.write_snapshot(target, root2)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl USING src ON tbl.id = src.id WHEN MATCHED THEN DELETE",
        {"tbl": root2},
        sources={"src": source},
    )
    assert _rows(S.read_snapshot(spark, root2)) == _rows(
        target.filter(~F.col("id").isin(2, 4))
    )


def test_merge_update_only_and_insert_only(spark, root, tmp_path):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    source = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    S.write_snapshot(target, root)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE SET *",
        {"t": root},
        sources={"s": source},
    )
    assert _rows(S.read_snapshot(spark, root)) == [(1, "a"), (2, "B")]

    root2 = str(tmp_path / "ins")
    S.write_snapshot(target, root2)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id WHEN NOT MATCHED THEN INSERT *",
        {"t": root2},
        sources={"s": source},
    )
    assert _rows(S.read_snapshot(spark, root2)) == [(1, "a"), (2, "b"), (3, "c")]


def test_temporal_literals_parse_and_prune(spark, root):
    df = _orders(spark).repartitionByRange(6, "d")
    S.write_snapshot(df, root)
    n_before = S.read_snapshot(spark, root).count()
    out = sql_dml.execute_dml(
        spark, "DELETE FROM t WHERE d >= DATE '2024-03-01'", {"t": root}
    )
    got = S.read_snapshot(spark, root)
    assert got.count() == df.filter(F.col("d") < F.lit("2024-03-01")).count() < n_before
    # the delete pruned: some pre-cut range files carried over verbatim
    entry = S._entry(S._load(root), out["snapshot_id"])
    assert any(d.startswith("snap-00000001") for d in entry["dirs"])


def test_grammar_rejections(spark, root):
    S.write_snapshot(spark.range(5), root)
    with pytest.raises(ValueError, match="AND"):
        sql_dml.execute_dml(spark, "DELETE FROM t WHERE id = 1 OR id = 2", {"t": root})
    with pytest.raises(ValueError, match="unsupported WHERE"):
        sql_dml.execute_dml(spark, "DELETE FROM t WHERE abs(id) = 1", {"t": root})
    with pytest.raises(KeyError, match="unknown snapshot table"):
        sql_dml.execute_dml(spark, "DELETE FROM nope WHERE id = 1", {"t": root})
    with pytest.raises(ValueError, match="MERGE ON"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO t USING s ON t.id = s.other WHEN MATCHED THEN DELETE",
            {"t": root},
            sources={"s": spark.range(1)},
        )
    # UPDATE SET <assignments> is grammar since the conditional-MERGE
    # extension — but assigning a column the target doesn't have is not
    with pytest.raises(ValueError, match="unknown column"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = 1",
            {"t": root},
            sources={"s": spark.range(1)},
        )
    with pytest.raises(ValueError, match="unsupported MERGE"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN TRUNCATE",
            {"t": root},
            sources={"s": spark.range(1)},
        )
    with pytest.raises(ValueError, match="unsupported statement"):
        sql_dml.execute_dml(spark, "GRANT SELECT ON t TO alice", {"t": root})
    with pytest.raises(ValueError, match="IS NULL"):
        sql_dml.parse_where("x = NULL")
    # UPDATE SET * / INSERT * need every target column on the source
    wide = root + "_wide"
    S.write_snapshot(spark.createDataFrame([(1, "a")], "id long, v string"), wide)
    with pytest.raises(ValueError, match="missing target columns"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE SET *",
            {"t": wide},
            sources={"s": spark.range(1)},
        )


def test_merge_update_star_writes_source_nulls(spark, root):
    """Review fix: UPDATE SET * replaces every column with the source
    value, NULLs included — not coalesce-keep-old."""
    target = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    source = spark.createDataFrame([(1, None)], "id long, v string")
    S.write_snapshot(target, root)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE SET *",
        {"t": root},
        sources={"s": source},
    )
    rows = {r.id: r.v for r in S.read_snapshot(spark, root).collect()}
    assert rows == {1: None, 2: "b"}


def test_merge_rejects_duplicate_matched_clauses(spark, root):
    S.write_snapshot(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    with pytest.raises(ValueError, match="duplicate"):
        sql_dml.execute_dml(
            spark,
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE WHEN MATCHED THEN UPDATE SET *",
            {"t": root},
            sources={"s": spark.createDataFrame([(1, "x")], "id long, v string")},
        )


def test_where_keywords_inside_string_literals(spark, root):
    """Review fix: AND/OR inside a quoted literal are data, not
    conjunction syntax."""
    df = spark.createDataFrame(
        [(1, "BLACK AND DECKER"), (2, "x OR y"), (3, "plain")], "id long, name string"
    )
    S.write_snapshot(df, root)
    sql_dml.execute_dml(
        spark, "DELETE FROM t WHERE name = 'BLACK AND DECKER'", {"t": root}
    )
    assert {r.name for r in S.read_snapshot(spark, root).collect()} == {"x OR y", "plain"}
    preds = sql_dml.parse_where("name = 'x OR y' AND id >= 2")
    assert preds == [("name", "=", "x OR y"), ("id", ">=", 2)]


def test_select_time_travel_and_where(spark, root):
    """SELECT surface: latest, VERSION AS OF, TIMESTAMP AS OF, TAG,
    and WHERE (scan_snapshot file-skipping) all route correctly."""
    S.write_snapshot(spark.range(0, 100).select("id"), root)
    S.tag_snapshot(root, "v1cut")
    ts_after_v1 = S.history(root)[-1]["ts"]
    S.write_snapshot(spark.range(0, 250).select("id"), root)  # overwrite
    t = {"t": root}

    assert sql_dml.execute_dml(spark, "SELECT * FROM t", t)["df"].count() == 250
    assert (
        sql_dml.execute_dml(spark, "SELECT * FROM t VERSION AS OF 1", t)["df"].count()
        == 100
    )
    assert (
        sql_dml.execute_dml(spark, "SELECT * FROM t FOR TAG 'v1cut'", t)["df"].count()
        == 100
    )
    import datetime as dt

    # nudge past the commit ts: isoformat truncates to microseconds,
    # which can round BELOW the float commit time
    iso = dt.datetime.fromtimestamp(ts_after_v1 + 0.001).isoformat()
    assert (
        sql_dml.execute_dml(
            spark, f"SELECT * FROM t TIMESTAMP AS OF '{iso}'", t
        )["df"].count()
        == 100
    )
    got = sql_dml.execute_dml(
        spark, "SELECT * FROM t WHERE id >= 200 AND id < 210", t
    )["df"]
    assert sorted(r.id for r in got.collect()) == list(range(200, 210))


def test_vacuum_combines_expire_and_orphans(spark, root):
    import os

    S.write_snapshot(spark.range(10), root)
    S.write_snapshot(spark.range(20), root)  # overwrite; snap1 now dead
    os.makedirs(os.path.join(root, "snap-99999999-orphan"))
    removed = S.vacuum(root, keep_last=1, older_than_s=0.0)
    assert any(d.startswith("snap-00000001") for d in removed)
    assert "snap-99999999-orphan" in removed
    assert S.read_snapshot(spark, root).count() == 20


def test_maintenance_sql_surface(spark, root):
    """OPTIMIZE / OPTIMIZE ZORDER BY / VACUUM / DESCRIBE HISTORY /
    TABLE_CHANGES all route onto the snapshot maintenance ops."""
    S.write_snapshot(spark.range(0, 50).select("id").repartition(6), root)
    S.write_snapshot(
        spark.range(50, 60).select("id").repartition(1), root, mode="append"
    )
    t = {"t": root}

    changes = sql_dml.execute_dml(
        spark, "SELECT * FROM TABLE_CHANGES(t, 1, 2) KEYS (id)", t
    )["df"]
    by_type = {
        r._change_type: r.n
        for r in changes.groupBy("_change_type").count().withColumnRenamed("count", "n").collect()
    }
    assert by_type == {"insert": 10}  # 50..59 new, 40..49 unchanged

    r = sql_dml.execute_dml(spark, "OPTIMIZE t", t)
    assert r["op"] == "optimize"
    assert S.read_snapshot(spark, root).count() == 60

    r = sql_dml.execute_dml(spark, "OPTIMIZE t ZORDER BY (id)", t)
    assert r["snapshot_id"] > 2
    assert S.read_snapshot(spark, root).count() == 60

    hist = sql_dml.execute_dml(spark, "DESCRIBE HISTORY t", t)["df"]
    hrows = hist.orderBy("version").collect()
    versions = [row.version for row in hrows]
    assert versions[0] == 1 and versions[-1] == r["snapshot_id"]
    # maintenance-vs-data audit column (Delta's dataChange): the two
    # OPTIMIZE commits are False, every data commit True — in DESCRIBE
    # HISTORY, history(), and the t.snapshots inspection table alike
    dc = {row.version: row.data_change for row in hrows}
    assert dc[1] is True and dc[2] is True
    assert dc[versions[-2]] is False and dc[versions[-1]] is False
    assert {
        h["id"]: h["data_change"] for h in S.history(root)
    } == dc
    snap_tbl = S.metadata_table(spark, root, "snapshots")
    assert {r.id: r.data_change for r in snap_tbl.collect()} == dc

    removed = sql_dml.execute_dml(spark, "VACUUM t RETAIN 1 SNAPSHOTS", t)
    assert removed["op"] == "vacuum" and removed["removed"]
    assert S.read_snapshot(spark, root).count() == 60

    import pytest as _pytest

    with _pytest.raises(ValueError, match="KEYS"):
        sql_dml.execute_dml(spark, "SELECT * FROM TABLE_CHANGES(t, 1, 2) KEYS ()", t)
    with _pytest.raises(ValueError, match="ZORDER"):
        sql_dml.execute_dml(spark, "OPTIMIZE t ZORDER BY ()", t)


def test_ctas_and_insert_into(spark, root, tmp_path):
    """CREATE [OR REPLACE] TABLE AS / INSERT INTO SELECT route onto
    write_snapshot; WHERE filters apply; re-CREATE without OR REPLACE
    is rejected."""
    src_root = str(tmp_path / "src")
    S.write_snapshot(spark.range(0, 100).select("id"), src_root)
    t = {"dst": root, "src": src_root}

    out = sql_dml.execute_dml(
        spark, "CREATE TABLE dst AS SELECT * FROM src WHERE id < 40", t
    )
    assert out["op"] == "ctas"
    assert S.read_snapshot(spark, root).count() == 40
    with pytest.raises(ValueError, match="OR REPLACE"):
        sql_dml.execute_dml(spark, "CREATE TABLE dst AS SELECT * FROM src", t)
    sql_dml.execute_dml(
        spark, "CREATE OR REPLACE TABLE dst AS SELECT * FROM src WHERE id < 10", t
    )
    assert S.read_snapshot(spark, root).count() == 10
    out = sql_dml.execute_dml(
        spark, "INSERT INTO dst SELECT * FROM src WHERE id >= 90", t
    )
    assert out["op"] == "insert"
    got = sorted(r.id for r in S.read_snapshot(spark, root).collect())
    assert got == list(range(10)) + list(range(90, 100))
    # a provided DataFrame works as the source too
    sql_dml.execute_dml(
        spark,
        "INSERT INTO dst SELECT * FROM extra",
        t,
        sources={"extra": spark.createDataFrame([(555,)], "id long")},
    )
    assert S.read_snapshot(spark, root).count() == 21
    with pytest.raises(KeyError, match="neither"):
        sql_dml.execute_dml(spark, "INSERT INTO dst SELECT * FROM nope", t)


def test_views_describe_show_tables(spark, root, tmp_path):
    """register_snapshot_views exposes tables to FULL Spark SQL;
    DESCRIBE TABLE lists the committed schema; SHOW TABLES lists the
    registry; DESCRIBE HISTORY still routes to history."""
    other = str(tmp_path / "o")
    S.write_snapshot(
        spark.createDataFrame([(1, "a", 2.5)], "id long, v string, x double"),
        root,
    )
    S.write_snapshot(spark.range(3).selectExpr("id AS id2"), other)
    t = {"t": root, "o": other}

    sql_dml.register_snapshot_views(spark, t)
    got = spark.sql(
        "SELECT t.id, v, id2 FROM t JOIN o ON t.id = o.id2 + 1"
    ).collect()
    assert [(r.id, r.v, r.id2) for r in got] == [(1, "a", 0)]

    desc = sql_dml.execute_dml(spark, "DESCRIBE TABLE t", t)["df"]
    assert [(r.col_name, r.data_type) for r in desc.collect()] == [
        ("id", "long"), ("v", "string"), ("x", "double"),
    ]
    st = sql_dml.execute_dml(spark, "SHOW TABLES", t)["df"]
    assert {r.table for r in st.collect()} == {"t", "o"}
    hist = sql_dml.execute_dml(spark, "DESCRIBE HISTORY t", t)["df"]
    assert hist.count() == 1  # still the history route, not DESCRIBE

    # snapshot isolation: the view pins the registration-time snapshot
    S.write_snapshot(spark.createDataFrame(
        [(9, "z", 0.0)], "id long, v string, x double"), root)
    assert spark.sql("SELECT count(*) AS n FROM t").first().n == 1
    sql_dml.register_snapshot_views(spark, t)  # explicit refresh
    assert spark.sql("SELECT count(*) AS n FROM t").first().n == 1
    assert spark.sql("SELECT v FROM t").first().v == "z"


def test_show_stats_zero_scan(spark, root):
    """SHOW STATS FOR t answers ANALYZE-style totals from the manifest
    alone — rows/files/bytes/null counts with no data read (values
    equal a real scan)."""
    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"v{i}") for i in range(100)],
        "id long, v string",
    ).repartition(4)
    S.write_snapshot(df, root)
    S.write_snapshot(
        spark.createDataFrame([(100, None)], "id long, v string").repartition(1),
        root,
        mode="append",
    )
    out = sql_dml.execute_dml(spark, "SHOW STATS FOR t", {"t": root})
    stats = out["stats"]
    assert stats["n_rows"] == 101
    assert stats["n_files"] >= 5
    assert stats["n_bytes"] > 0
    assert stats["null_counts"]["v"] == 21  # 20 + the appended row
    assert stats["null_counts"]["id"] == 0
    got = {(r.stat, r.column): r.value for r in out["df"].collect()}
    assert got[("n_rows", None)] == 101
    assert got[("null_count", "v")] == 21


def test_select_branch(spark, root):
    S.write_snapshot(spark.range(10), root)
    S.create_branch(root, "stage")
    S.write_snapshot(spark.range(25), root, branch="stage")
    t = {"t": root}
    assert sql_dml.execute_dml(spark, "SELECT * FROM t", t)["df"].count() == 10
    assert (
        sql_dml.execute_dml(spark, "SELECT * FROM t BRANCH 'stage'", t)["df"].count()
        == 25
    )
    got = sql_dml.execute_dml(
        spark, "SELECT * FROM t FOR BRANCH 'stage' WHERE id >= 20", t
    )["df"]
    assert got.count() == 5


def test_timestamp_as_of_naive_literal_uses_session_tz(spark, root):
    """Round-7 advice: a NAIVE TIMESTAMP AS OF literal must resolve in
    the SESSION timezone, not the driver OS zone. With the session on
    Asia/Kolkata (+05:30) and the OS on UTC, the old .timestamp() path
    shifts the instant 5h30m forward and silently picks the newer
    snapshot."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    S.write_snapshot(spark.range(0, 100).select("id"), root)
    ts1 = S.history(root)[-1]["ts"]
    S.write_snapshot(spark.range(0, 250).select("id"), root)
    t = {"t": root}
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        # wall clock of (just after snap 1) in the SESSION zone, naive
        iso = dt.datetime.fromtimestamp(
            ts1 + 0.001, tz=ZoneInfo("Asia/Kolkata")
        ).replace(tzinfo=None).isoformat()
        got = sql_dml.execute_dml(
            spark, f"SELECT * FROM t TIMESTAMP AS OF '{iso}'", t
        )["df"]
        assert got.count() == 100  # snap 1, not the newer 250-row snap
        # offset-qualified literals resolve by their own offset
        iso_z = dt.datetime.fromtimestamp(
            ts1 + 0.001, tz=dt.timezone.utc
        ).isoformat().replace("+00:00", "Z")
        got = sql_dml.execute_dml(
            spark, f"SELECT * FROM t TIMESTAMP AS OF '{iso_z}'", t
        )["df"]
        assert got.count() == 100
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_insert_into_rejects_type_drift(spark, root):
    """Round-7 advice: INSERT INTO's schema gate must compare TYPES,
    not just names — a same-named string column appended into a bigint
    target would silently flip the committed schema."""
    S.write_snapshot(spark.range(0, 10).select("id"), root)  # id: bigint
    t = {"dst": root}
    bad = spark.createDataFrame([("7",)], "id string")
    with pytest.raises(ValueError, match="types differ"):
        sql_dml.execute_dml(
            spark, "INSERT INTO dst SELECT * FROM s", t, sources={"s": bad}
        )
    # same-typed source still appends
    ok = spark.createDataFrame([(7,)], "id long")
    sql_dml.execute_dml(
        spark, "INSERT INTO dst SELECT * FROM s", t, sources={"s": ok}
    )
    assert S.read_snapshot(spark, root).count() == 11


def test_wap_cycle_pure_sql(spark, root, tmp_path):
    """A full Write-Audit-Publish cycle driven ONLY by SQL strings:
    CREATE BRANCH -> INSERT INTO ... BRANCH (staged, main blind) ->
    SELECT FOR BRANCH (audit) -> FAST FORWARD (publish) -> DROP
    BRANCH. Round-7 verdict item 7."""
    src_root = str(tmp_path / "src")
    S.write_snapshot(spark.range(100, 130).select("id"), src_root)
    S.write_snapshot(spark.range(0, 100).select("id"), root)
    t = {"t": root, "src": src_root}

    out = sql_dml.execute_dml(spark, "ALTER TABLE t CREATE BRANCH 'stage'", t)
    assert out["op"] == "create_branch" and out["snapshot_id"] == 1

    out = sql_dml.execute_dml(
        spark, "INSERT INTO t BRANCH 'stage' SELECT * FROM src", t
    )
    assert out["op"] == "insert"
    # main readers blind to the staged append; branch readers see it
    assert sql_dml.execute_dml(spark, "SELECT * FROM t", t)["df"].count() == 100
    audit = sql_dml.execute_dml(
        spark, "SELECT * FROM t FOR BRANCH 'stage'", t
    )["df"]
    assert audit.count() == 130  # the audit read

    out = sql_dml.execute_dml(
        spark, "ALTER TABLE t FAST FORWARD TO BRANCH 'stage'", t
    )
    assert out["op"] == "fast_forward"
    assert sql_dml.execute_dml(spark, "SELECT * FROM t", t)["df"].count() == 130
    sql_dml.execute_dml(spark, "ALTER TABLE t DROP BRANCH 'stage'", t)
    assert "stage" not in S._load(root).get("branches", {})

    # guards: branch insert onto a missing ref; ff of a missing ref;
    # type-drifted staged insert hits the same loud schema gate
    with pytest.raises(KeyError, match="unknown branch"):
        sql_dml.execute_dml(
            spark, "INSERT INTO t BRANCH 'nope' SELECT * FROM src", t
        )
    with pytest.raises(KeyError, match="unknown branch"):
        sql_dml.execute_dml(spark, "ALTER TABLE t FAST FORWARD TO BRANCH 'x'", t)
    sql_dml.execute_dml(spark, "ALTER TABLE t CREATE BRANCH 'b2'", t)
    bad = spark.createDataFrame([("7",)], "id string")
    with pytest.raises(ValueError, match="types differ"):
        sql_dml.execute_dml(
            spark, "INSERT INTO t BRANCH 'b2' SELECT * FROM s", t,
            sources={"s": bad},
        )
    # CREATE BRANCH AS OF VERSION pins the ref at a historic snapshot
    out = sql_dml.execute_dml(
        spark, "ALTER TABLE t CREATE BRANCH 'old' AS OF VERSION 1", t
    )
    assert out["snapshot_id"] == 1
    assert (
        sql_dml.execute_dml(spark, "SELECT * FROM t FOR BRANCH 'old'", t)[
            "df"
        ].count()
        == 100
    )


def test_delete_mode_routes_dv_and_reorg_purge(spark, root):
    """write.delete.mode='merge-on-read' routes SQL DELETE through a
    deletion vector (no data-file rewrites); REORG TABLE ... APPLY
    (PURGE) materializes and clears it; copy-on-write stays default."""
    import os

    S.write_snapshot(
        spark.range(1000).select("id", (F.col("id") % 10).alias("k"))
        .repartitionByRange(4, "id"),
        root,
    )
    t = {"t": root}
    out = sql_dml.execute_dml(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')",
        t,
    )
    assert out["op"] == "set_tblproperties"
    files_before = {
        d: sorted(os.listdir(os.path.join(root, d)))
        for d in os.listdir(root)
        if d.startswith("snap-") and os.path.isdir(os.path.join(root, d))
    }
    out = sql_dml.execute_dml(spark, "DELETE FROM t WHERE k = 3", t)
    entry = S._entry(S._load(root), out["snapshot_id"])
    assert entry["op"] == "delete_dv" and len(entry["dvs"]) == 1
    assert sql_dml.execute_dml(spark, "SELECT * FROM t", t)["df"].count() == 900
    for d, fs in files_before.items():  # no data file rewritten
        assert sorted(os.listdir(os.path.join(root, d))) == fs
    out = sql_dml.execute_dml(spark, "REORG TABLE t APPLY (PURGE)", t)
    assert out["op"] == "reorg_purge"
    assert "dvs" not in S._entry(S._load(root), out["snapshot_id"])
    assert sql_dml.execute_dml(spark, "SELECT * FROM t", t)["df"].count() == 900
    # unsupported property stays loud
    with pytest.raises(ValueError, match="unsupported table property"):
        sql_dml.execute_dml(
            spark, "ALTER TABLE t SET TBLPROPERTIES ('x'='y')", t
        )


def test_merge_on_read_update_after_delete(spark, root):
    """On a merge-on-read table SQL DELETE, UPDATE and MERGE each commit
    a deletion-vector entry (UPDATE follows ``write.delete.mode`` too,
    also once the table holds a DV) and rewrite no data file."""
    S.write_snapshot(
        spark.range(1000).select("id", (F.col("id") % 10).alias("k"))
        .repartitionByRange(4, "id"),
        root,
    )
    t = {"t": root}
    sql_dml.execute_dml(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')",
        t,
    )
    files_before = {
        d: sorted(os.listdir(os.path.join(root, d)))
        for d in os.listdir(root)
        if d.startswith("snap-") and os.path.isdir(os.path.join(root, d))
    }
    want = {i: i % 10 for i in range(1000) if i % 10 != 3}
    src = spark.createDataFrame([(7, 70), (2000, 1)], "id long, k long")
    for stmt, n_dvs in (
        ("DELETE FROM t WHERE k = 3", 1),
        ("UPDATE t SET k = k + 100 WHERE id < 20", 2),
        ("MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
         "WHEN NOT MATCHED THEN INSERT *", 3),
    ):
        out = sql_dml.execute_dml(spark, stmt, t, sources={"s": src})
        entry = S._entry(S._load(root), out["snapshot_id"])
        assert entry["op"].endswith("_dv") and len(entry["dvs"]) == n_dvs, stmt
    want.update({i: i % 10 + 100 for i in range(20) if i % 10 != 3})
    want.update({7: 70, 2000: 1})
    assert {r.id: r.k for r in S.read_snapshot(spark, root).collect()} == want
    for d, fs in files_before.items():  # no data file rewritten
        assert sorted(os.listdir(os.path.join(root, d))) == fs


def test_cow_change_on_a_dv_table_purges_every_mark(spark, root):
    """A copy-on-write change on a table that holds deletion vectors (a
    merge-on-read sink fed it; SQL's unset mode is copy-on-write) lifts
    every mark: a file the stats prove all-match drops unread, a
    touched file is rewritten minus its marks, and an untouched marked
    file is purged; no deleted row comes back. A change that matches
    nothing commits nothing and keeps the marks."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    for lo in (0, 1000, 2000):  # three files with disjoint id ranges
        S.write_snapshot(
            spark.range(lo, lo + 1000).select("id", (F.col("id") % 10).alias("k"))
            .repartition(1),
            root, mode="append",
        )
    t = {"t": root}
    want = {i: i % 10 for i in range(3000)}

    def marks(ids):
        D.delete_where_dv(spark, root, [("id", "in", ids)])
        for i in ids:
            del want[i]

    def check(stmt, n_dvs):
        out = sql_dml.execute_dml(spark, stmt, t)
        m = S._load(root)
        assert len(S._entry(m, m["current"]).get("dvs", [])) == n_dvs, stmt
        assert {r.id: r.k for r in S.read_snapshot(spark, root).collect()} == want, stmt
        assert S.table_stats(root)["n_rows"] == len(want), stmt
        return out

    marks([5, 1500, 2500])
    sid = S._load(root)["current"]
    assert check("DELETE FROM t WHERE id = 99999", 1)["snapshot_id"] == sid
    for i in range(1000):
        want.pop(i, None)
    check("DELETE FROM t WHERE id < 1000", 0)  # the 0-999 file drops unread
    marks([1600, 2600])
    want[1200] = -1
    check("UPDATE t SET k = -1 WHERE id = 1200", 0)


def test_merge_rejects_mispaired_clause_actions(spark, root):
    """'WHEN MATCHED THEN INSERT *' parses lexically but is nonsense —
    on the merge-on-read route it used to crash with IndexError (no
    parts) and on copy-on-write it silently became insert-only. Both
    mispairings must raise loudly, on BOTH delete-mode routes."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    S.write_snapshot(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    src = {"s": spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")}
    bad = [
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN INSERT *",
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN INSERT * WHEN NOT MATCHED THEN INSERT *",
        "MERGE INTO t USING s ON t.id = s.id WHEN NOT MATCHED THEN DELETE",
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED THEN UPDATE SET *",
    ]
    for mode in ("copy-on-write", "merge-on-read"):
        D.set_delete_mode(root, mode)
        for stmt in bad:
            with pytest.raises(ValueError, match="unsupported MERGE clause"):
                sql_dml.execute_dml(spark, stmt, {"t": root}, sources=src)
    # the table is untouched by any of the rejected statements
    assert S.read_snapshot(spark, root).count() == 1


def _race_one_append(spark, root, monkeypatch):
    """Make the next ``_commit`` land a concurrent append of (9, 'z')
    first — the writer's own commit then loses the CAS."""
    orig, raced = S._commit, {"done": False}

    def racing(r, m):
        if not raced["done"]:
            raced["done"] = True
            S.write_snapshot(
                spark.createDataFrame([(9, "z")], "id long, v string"),
                root,
                mode="append",
            )
        orig(r, m)

    monkeypatch.setattr(S, "_commit", racing)


def test_merge_cow_concurrent_commit_not_lost(spark, root, monkeypatch):
    """ADVICE round-8 (medium): SQL MERGE's copy-on-write route derives
    the whole new table state from a target read — a concurrent append
    landing before its commit must be retried into the result, never
    erased by a metadata rebase."""
    S.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    _race_one_append(spark, root, monkeypatch)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        {"t": root},
        sources={"s": spark.createDataFrame([(1, "A"), (3, "c")], "id long, v string")},
    )
    monkeypatch.undo()
    got = {r.id: r.v for r in S.read_snapshot(spark, root).collect()}
    assert got == {1: "A", 2: "b", 3: "c", 9: "z"}  # append survived


MODES = ["copy-on-write", "merge-on-read"]


@pytest.mark.parametrize("mode", MODES)
def test_merge_insert_only_keeps_raced_append(spark, root, monkeypatch, mode):
    """An insert-only MERGE raced by an append of a key the source also
    inserts: the retry recomputes against the append, so the raced row
    wins the key (the serial order append-then-merge), on both modes."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    S.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    D.set_delete_mode(root, mode)
    _race_one_append(spark, root, monkeypatch)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id WHEN NOT MATCHED THEN INSERT *",
        {"t": root},
        sources={"s": spark.createDataFrame([(9, "S9"), (3, "c")], "id long, v string")},
    )
    monkeypatch.undo()
    got = sorted((r.id, r.v) for r in S.read_snapshot(spark, root).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (9, "z")]


@pytest.mark.parametrize("mode", MODES)
def test_merge_update_star_duplicate_key_target_rowwise(spark, root, mode):
    """An unconditional UPDATE SET * updates EVERY target row of a
    matched key: a duplicate-key target keeps both rows, updated."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    S.write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
        ),
        root,
    )
    D.set_delete_mode(root, mode)
    sql_dml.execute_dml(
        spark,
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN UPDATE SET *",
        {"t": root},
        sources={"s": spark.createDataFrame([(1, "X")], "id long, v string")},
    )
    got = sorted((r.id, r.v) for r in S.read_snapshot(spark, root).collect())
    assert got == [(1, "X"), (1, "X"), (2, "c")]


@pytest.mark.parametrize("mode", MODES)
def test_merge_insert_leaves_same_key_target_rows(spark, tmp_path, mode):
    """An INSERT touches no target row, even one sharing its key:
    ``t.id = s.id`` never matches a NULL key, so a NULL-key source row
    inserts beside the target's NULL-key row, and an INSERT VALUES
    expression may produce a key the target already holds, also in a
    file the source keys prune away."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    on = "MERGE INTO t USING s ON t.id = s.id "
    star = "WHEN NOT MATCHED THEN INSERT *"
    plus1 = "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id + 1, 'new')"
    src = [(None, "S"), (1, "B"), (0, "Z")]
    kept = [(None, "a"), (1000, "f")]
    cases = [
        (src, star, kept + [(1, "b"), (None, "S"), (0, "Z")]),
        (src, "WHEN MATCHED THEN UPDATE SET * " + star,
         kept + [(1, "B"), (None, "S"), (0, "Z")]),
        (src, "WHEN MATCHED THEN DELETE " + star,
         kept + [(None, "S"), (0, "Z")]),
        (src, plus1, kept + [(1, "b"), (None, "new"), (1, "new")]),
        (src, "WHEN MATCHED THEN UPDATE SET * " + plus1,
         kept + [(1, "B"), (None, "new"), (1, "new")]),
        (
            [(0, "Z")],
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id + 1000, 'new')",
            kept + [(1, "b"), (1000, "new")],
        ),
    ]
    schema = "id long, v string"
    for i, (rows, clauses, want) in enumerate(cases):
        root = str(tmp_path / f"t{i}")
        S.write_snapshot(
            spark.createDataFrame([(None, "a"), (1, "b")], schema), root
        )
        S.write_snapshot(
            spark.createDataFrame([(1000, "f")], schema), root, mode="append"
        )
        D.set_delete_mode(root, mode)
        sql_dml.execute_dml(
            spark, on + clauses, {"t": root},
            sources={"s": spark.createDataFrame(rows, schema)},
        )
        got = sorted(
            (tuple(r) for r in S.read_snapshot(spark, root).collect()), key=repr
        )
        assert got == sorted(want, key=repr), clauses


@pytest.mark.parametrize("mode", MODES)
def test_merge_two_manifest_loads(spark, tmp_path, monkeypatch, mode):
    """Every uncontended MERGE shape loads the manifest exactly twice:
    the executor attempt's own load and the committing writer's, and
    runs one keyscan, which the writer reuses. A DELETE-only MERGE
    needs only the key columns on its source."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    src = spark.createDataFrame([(1, "S1"), (3, "S3")], "id long, v string")
    on = "MERGE INTO t USING s ON t.id = s.id "
    upsert = "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    shapes = [
        (on + upsert, src, [(1, "S1"), (2, "b"), (3, "S3")]),
        (on + "WHEN MATCHED THEN DELETE", src.select("id"), [(2, "b")]),
        (on + "WHEN NOT MATCHED THEN INSERT *", src, [(1, "a"), (2, "b"), (3, "S3")]),
        (
            on + "WHEN MATCHED AND s.v = 'S1' THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 'new')",
            src,
            [(1, "S1"), (2, "b"), (3, "new")],
        ),
        (
            "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.id = s.id " + upsert,
            src.withColumn("tag", F.col("v")),
            [(1, "S1", "S1"), (2, "b", None), (3, "S3", "S3")],
        ),
    ]
    orig, calls = S._load, {"n": 0}
    orig_keys, keyscans = D._batch_key_predicates, {"n": 0}

    def counting(r):
        calls["n"] += 1
        return orig(r)

    def counting_keys(*a, **k):
        keyscans["n"] += 1
        return orig_keys(*a, **k)

    monkeypatch.setattr(D, "_batch_key_predicates", counting_keys)
    for i, (stmt, source, want) in enumerate(shapes):
        root = str(tmp_path / f"t{i}")
        S.write_snapshot(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
        )
        D.set_delete_mode(root, mode)
        monkeypatch.setattr(S, "_load", counting)
        calls["n"] = keyscans["n"] = 0
        sql_dml.execute_dml(spark, stmt, {"t": root}, sources={"s": source})
        monkeypatch.setattr(S, "_load", orig)
        assert calls["n"] == 2, stmt
        assert keyscans["n"] == 1, stmt
        assert _rows(S.read_snapshot(spark, root)) == want, stmt


def test_call_procedures_route_to_maintenance_ops(spark, root):
    """CALL system.<proc>(...) — Iceberg Spark-procedure parity: each
    call must equal the API it routes to, with named-argument mapping
    and loud rejection of unknown procedures/arguments."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string"
    )
    S.write_snapshot(df.repartition(4), root)
    S.write_snapshot(df.where("id >= 90"), root, mode="append")

    # rewrite_data_files = binpack compaction (new snapshot id)
    out = sql_dml.execute_dml(
        spark, "CALL system.rewrite_data_files('t')", {"t": root}
    )
    assert out["procedure"] == "rewrite_data_files"
    assert out["snapshot_id"] == S._load(root)["current"]

    # rollback_to_snapshot: positional id
    head = S._load(root)["current"]
    out = sql_dml.execute_dml(
        spark, "CALL rollback_to_snapshot('t', 1)", {"t": root}
    )
    assert out["snapshot_id"] == S._load(root)["current"] != head
    assert sorted(r.id for r in S.read_snapshot(spark, root).collect()) == list(range(100))

    # rewrite_position_delete_files after a DV delete
    D.set_delete_mode(root, "merge-on-read")
    sql_dml.execute_dml(spark, "DELETE FROM t WHERE id < 5", {"t": root})
    assert S._entry(S._load(root), S._load(root)["current"]).get("dvs")
    out = sql_dml.execute_dml(
        spark,
        "CALL catalog.system.rewrite_position_delete_files('t', min_deleted_frac => 0.0)",
        {"t": root},
    )
    assert not S._entry(S._load(root), out["snapshot_id"]).get("dvs")
    assert S.read_snapshot(spark, root).count() == 95

    # expire + orphan GC with named retention
    out = sql_dml.execute_dml(
        spark, "CALL expire_snapshots('t', retain_last => 1)", {"t": root}
    )
    assert isinstance(out["deleted"], list)
    out = sql_dml.execute_dml(
        spark, "CALL remove_orphan_files('t', older_than => 0)", {"t": root}
    )
    assert isinstance(out["removed"], list)

    # maintain with mapped kwargs
    out = sql_dml.execute_dml(
        spark,
        "CALL maintain('t', retain_last => 1, older_than => 0, purge_min_frac => 0.5)",
        {"t": root},
    )
    assert "vacuumed" in out["result"]


def test_call_rejections(spark, root):
    S.write_snapshot(spark.range(5), root)
    with pytest.raises(ValueError, match="unknown procedure"):
        sql_dml.execute_dml(spark, "CALL explode_table('t')", {"t": root})
    with pytest.raises(ValueError, match="unknown CALL argument"):
        sql_dml.execute_dml(
            spark, "CALL expire_snapshots('t', keep => 3)", {"t": root}
        )
    with pytest.raises(ValueError, match="table name"):
        sql_dml.execute_dml(spark, "CALL expire_snapshots()", {"t": root})
    with pytest.raises(ValueError, match="positional CALL argument"):
        sql_dml.execute_dml(
            spark,
            "CALL rollback_to_snapshot(table => 't', 1)",
            {"t": root},
        )
    with pytest.raises(KeyError, match="unknown snapshot table"):
        sql_dml.execute_dml(spark, "CALL expire_snapshots('nope')", {"t": root})


def test_truncate_table_keeps_schema_and_history(spark, root):
    S.write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, v string"), root
    )
    out = sql_dml.execute_dml(spark, "TRUNCATE TABLE t", {"t": root})
    assert out["op"] == "truncate"
    got = S.read_snapshot(spark, root)
    assert got.count() == 0 and got.columns == ["id", "v"]
    # prior snapshot still time-travel readable
    old = S.read_snapshot(spark, root, snapshot_id=1)
    assert [tuple(r) for r in old.collect()] == [(1, "a")]


def test_metadata_select_and_describe_detail(spark, root):
    """Read-only inspection surface: SELECT * FROM t.snapshots/files/
    tags (manifest-only, no data file opened) + DESCRIBE DETAIL."""
    S.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    S.write_snapshot(
        spark.createDataFrame([(3, "c")], "id long, v string"), root,
        mode="append",
    )
    S.tag_snapshot(root, "v1", 1)
    snaps = sql_dml.execute_dml(spark, "SELECT * FROM t.snapshots", {"t": root})
    assert snaps["op"] == "metadata"
    assert [r.id for r in snaps["df"].collect()] == [1, 2]
    files = sql_dml.execute_dml(spark, "SELECT * FROM t.files", {"t": root})
    assert files["df"].count() >= 2
    tags = sql_dml.execute_dml(spark, "SELECT * FROM t.tags", {"t": root})
    assert [(r.tag, r.snapshot_id) for r in tags["df"].collect()] == [("v1", 1)]
    out = sql_dml.execute_dml(spark, "DESCRIBE DETAIL t", {"t": root})
    d = out["detail"]
    assert d["current_snapshot_id"] == 2 and d["location"] == root
    assert d["delete_mode"] in ("copy-on-write", "merge-on-read")


def test_describe_detail_reports_metadata_footprint(spark, tmp_path):
    root = str(tmp_path / "t")
    S.write_snapshot(spark.range(5), root)
    S.write_snapshot(spark.range(5, 9), root, mode="append")
    out = sql_dml.execute_dml(spark, "DESCRIBE DETAIL t", {"t": root})
    meta = out["detail"]["metadata"]
    assert meta["n_versions"] == 2 and meta["version_bytes"] > 0
    assert meta["n_ref_files"] >= 4  # 2 entry files + 2 stats files
    assert meta["ref_bytes"] > 0
    # round-12 commit-log health: head/base/tail + checkpoint stats
    assert meta["head_version"] == 2
    assert meta["replay_base_version"] == 0  # young table: no ckpt yet
    assert meta["log_tail_length"] == 2
    assert meta["checkpoint_interval"] == S._CHECKPOINT_INTERVAL
    assert meta["n_checkpoints"] == 0 and meta["checkpoint_bytes"] == 0
    # drive past the cadence: a checkpoint lands and the tail resets
    for i in range(S._CHECKPOINT_INTERVAL):
        S.rollback(root := str(tmp_path / "t"), 1)
    out = sql_dml.execute_dml(spark, "DESCRIBE DETAIL t", {"t": root})
    meta = out["detail"]["metadata"]
    assert meta["n_checkpoints"] >= 1 and meta["checkpoint_bytes"] > 0
    assert meta["log_tail_length"] <= S._CHECKPOINT_INTERVAL


def test_pushdown_batch_reader_prunes_files(spark, root):
    """Unit gate on the filter-pushdown batch reader (the DataSource
    behind register_snapshot_views): pushed conjunctive predicates
    route into plan_scan and partitions() plans ONLY may-match files;
    every filter is returned to Spark for residual evaluation."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, In, IsNotNull, StringStartsWith,
    )

    from e_commerce_lakehouse_spark.streaming.table_source import (
        _TablePruningBatchReader,
    )

    # 4 single-file commits with disjoint id ranges -> tight bounds
    S.write_snapshot(spark.range(0, 10).repartition(1), root)
    for lo in (10, 20, 30):
        S.write_snapshot(
            spark.range(lo, lo + 10).repartition(1), root, mode="append"
        )
    opts = {"path": root, "pushdown": "true"}
    r = _TablePruningBatchReader(opts)
    assert len(r.partitions()) == 4  # unfiltered: every file

    r = _TablePruningBatchReader(opts)
    returned = list(r.pushFilters([
        IsNotNull(("id",)), GreaterThan(("id",), 24),
    ]))
    assert len(returned) == 2  # all filters handed back to Spark
    assert len(r.partitions()) == 2  # files [20,30) and [30,40)

    r = _TablePruningBatchReader(opts)
    list(r.pushFilters([EqualTo(("id",), 5), In(("id",), (5, 7))]))
    assert len(r.partitions()) == 1

    # unsupported filter shapes are returned un-pushed -> no pruning
    r = _TablePruningBatchReader(opts)
    rem = list(r.pushFilters([StringStartsWith(("id",), "x")]))
    assert len(rem) == 1 and len(r.partitions()) == 4


def test_spark_sql_over_registered_view_gets_file_skipping(spark, root):
    """register_snapshot_views (pushdown default): arbitrary spark.sql
    WHERE over the view is hash-equal to the unpruned read — on a
    table with DVs, a rename, and an added-with-DEFAULT column — and
    non-prunable predicates still answer correctly (fallback)."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    S.write_snapshot(
        spark.createDataFrame(
            [(i, i * 10, f"s{i}") for i in range(20)],
            "id long, qty long, name string",
        ).repartition(1),
        root,
    )
    S.write_snapshot(
        spark.createDataFrame(
            [(i, i * 10, f"s{i}") for i in range(20, 40)],
            "id long, qty long, name string",
        ).repartition(1),
        root,
        mode="append",
    )
    D.set_delete_mode(root, "merge-on-read")
    D.delete_where_dv(spark, root, [("id", "in", [3, 25])])
    S.rename_column(root, "qty", "amount")
    S.add_column(root, "tier", "string", default="basic")
    t = {"t": root}
    sql_dml.register_snapshot_views(spark, t)

    want = sorted(
        map(tuple, S.read_snapshot(spark, root)
            .filter("id >= 18 AND id < 30").collect())
    )
    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM t WHERE id >= 18 AND id < 30").collect()))
    assert got == want and len(got) == 11  # 25 DV-deleted
    # renamed column prunes via the physical-name translation
    assert spark.sql(
        "SELECT count(*) AS n FROM t WHERE amount = 100"
    ).first().n == 1
    # DEFAULT column: pre-ADD rows read 'basic' through the view
    assert spark.sql(
        "SELECT count(*) AS n FROM t WHERE tier = 'basic'"
    ).first().n == 38
    # non-prunable shapes (OR, expression on the column) stay correct
    assert spark.sql(
        "SELECT count(*) AS n FROM t WHERE id % 10 = 0 OR amount > 380"
    ).first().n == 4 + 0 + 1  # 0,10,20,30 and 39


def test_unpinned_datasource_plan_is_frozen_engine_fact(spark, root):
    """Engine fact (rebuts 'just stop pinning snapshotId for live
    views'): Spark 4.1 freezes a Python DataSource's planned
    partitions into the relation — an UNPINNED snapshot_table
    DataFrame keeps returning its first-execution contents after new
    commits, and even spark.sql REFRESH TABLE over the bound view
    does not reach the cached scan. Liveness therefore must be an
    explicit re-bind (refresh_snapshot_views / the routed REFRESH
    TABLE), which the next test gates."""
    from e_commerce_lakehouse_spark.streaming.table_source import (
        TableStreamDataSource,
    )

    S.write_snapshot(spark.range(4).selectExpr("id", "id*2 AS v"), root)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TableStreamDataSource)
    df = (
        spark.read.format("snapshot_table")
        .option("path", root).option("pushdown", "true").load()
    )
    df.createOrReplaceTempView("frozen_t")
    assert df.count() == 4
    S.write_snapshot(
        spark.range(4, 10).selectExpr("id", "id*2 AS v"), root,
        mode="append",
    )
    assert df.count() == 4  # frozen: unpinned is NOT live
    assert spark.sql("SELECT count(*) AS n FROM frozen_t").first().n == 4
    spark.sql("REFRESH TABLE frozen_t")  # raw Spark refresh: no effect
    assert spark.sql("SELECT count(*) AS n FROM frozen_t").first().n == 4
    # a FRESH load sees the append — re-binding is what refreshes
    df2 = (
        spark.read.format("snapshot_table")
        .option("path", root).option("pushdown", "true").load()
    )
    assert df2.count() == 10


def test_refresh_snapshot_views_and_refresh_table_route(spark, root, tmp_path):
    """Pinned views + explicit liveness: registered views keep the
    bind-time snapshot (isolation); refresh_snapshot_views(spark)
    re-binds EVERY registered view in one call with no table dict;
    the routed REFRESH TABLE statement does the same for one view.
    Time-travel views keep their pinned position across refresh."""
    other = str(tmp_path / "o2")
    S.write_snapshot(spark.range(4).selectExpr("id", "id*2 AS v"), root)
    S.write_snapshot(spark.range(3).selectExpr("id AS k"), other)
    out = sql_dml.register_snapshot_views(spark, {"rt": root, "ro": other})
    assert out["bound"] == {"rt": 1, "ro": 1}
    assert out["python_filter_pushdown_was"] in ("false", "true")
    sql_dml.register_time_travel_view(spark, "rt_v1", root, snapshot_id=1)
    S.write_snapshot(
        spark.range(4, 10).selectExpr("id", "id*2 AS v"), root,
        mode="append",
    )
    S.write_snapshot(
        spark.range(3, 5).selectExpr("id AS k"), other, mode="append"
    )
    # isolation until refreshed
    assert spark.sql("SELECT count(*) AS n FROM rt").first().n == 4
    # one call, no table dict: every view advances; time travel stays
    refreshed = sql_dml.refresh_snapshot_views(spark)
    assert refreshed["rt"] == 2 and refreshed["ro"] == 2
    assert refreshed["rt_v1"] == 1
    assert spark.sql("SELECT count(*) AS n FROM rt").first().n == 10
    assert spark.sql("SELECT count(*) AS n FROM ro").first().n == 5
    assert spark.sql("SELECT count(*) AS n FROM rt_v1").first().n == 4
    # the routed REFRESH TABLE statement re-binds one view
    S.write_snapshot(
        spark.range(10, 12).selectExpr("id", "id*2 AS v"), root,
        mode="append",
    )
    assert spark.sql("SELECT count(*) AS n FROM rt").first().n == 10
    got = sql_dml.execute_dml(spark, "REFRESH TABLE rt", {"rt": root})
    assert got == {"op": "refresh", "table": "rt", "snapshot_id": 3}
    assert spark.sql("SELECT count(*) AS n FROM rt").first().n == 12
    # pushdown still correct on a refreshed view
    assert spark.sql(
        "SELECT count(*) AS n FROM rt WHERE id >= 10"
    ).first().n == 2


def test_time_travel_views_match_routed_version_as_of(spark, root):
    """register_time_travel_view pins a view at a snapshot id / tag /
    timestamp so FULL spark.sql reads history; the result is
    row-identical to the routed SELECT ... VERSION AS OF grammar."""
    import datetime as _dt

    S.write_snapshot(spark.range(3).selectExpr("id", "id*2 AS v"), root)
    S.tag_snapshot(root, "cut")
    t_between = _dt.datetime.now(_dt.timezone.utc).isoformat()
    import time as _time

    _time.sleep(0.05)
    S.write_snapshot(
        spark.range(3, 8).selectExpr("id", "id*2 AS v"), root,
        mode="append",
    )
    t = {"t": root}
    # by snapshot id
    sid = sql_dml.register_time_travel_view(spark, "t_v1", root, snapshot_id=1)
    assert sid == 1
    routed = sql_dml.execute_dml(
        spark, "SELECT * FROM t VERSION AS OF 1", t
    )["df"]
    want = sorted(map(tuple, routed.collect()))
    got = sorted(map(tuple, spark.sql("SELECT * FROM t_v1").collect()))
    assert got == want and len(got) == 3
    # by tag and by timestamp resolve the same position
    assert sql_dml.register_time_travel_view(
        spark, "t_cut", root, tag="cut"
    ) == 1
    assert sql_dml.register_time_travel_view(
        spark, "t_asof", root, timestamp=t_between
    ) == 1
    assert spark.sql("SELECT count(*) AS n FROM t_cut").first().n == 3
    assert spark.sql("SELECT count(*) AS n FROM t_asof").first().n == 3
    # historical views predicate-prune correctly too
    assert spark.sql(
        "SELECT count(*) AS n FROM t_v1 WHERE id >= 2"
    ).first().n == 1
    with pytest.raises(ValueError, match="exactly one"):
        sql_dml.register_time_travel_view(
            spark, "bad", root, snapshot_id=1, tag="cut"
        )


def test_alter_table_constraint_routes(spark, root):
    """ALTER TABLE ADD/DROP CONSTRAINT route onto set_constraint /
    drop_constraint (routing equality) — guarded writes reject, drop
    lifts, inspection lists them; out-of-grammar forms stay loud."""
    S.write_snapshot(
        spark.createDataFrame([(1, 10)], "id long, qty long"), root
    )
    t = {"t": root}
    out = sql_dml.execute_dml(
        spark, "ALTER TABLE t ADD CONSTRAINT qty_pos CHECK (qty > 0)", t
    )
    assert out["op"] == "add_constraint"
    assert S.table_constraints(root) == {"qty_pos": "qty > 0"}
    # guarded write rejects, exactly like the function-level surface
    with pytest.raises(Exception, match="qty_pos|CHECK|constraint"):
        S.write_snapshot(
            spark.createDataFrame([(2, -5)], "id long, qty long"),
            root, mode="append",
        )
    # inspection table lists it; SQL metadata route agrees
    cons = sql_dml.execute_dml(spark, "SELECT * FROM t.constraints", t)["df"]
    assert [(r.name, r.condition) for r in cons.collect()] == [
        ("qty_pos", "qty > 0")
    ]
    sql_dml.execute_dml(spark, "ALTER TABLE t DROP CONSTRAINT qty_pos", t)
    assert S.table_constraints(root) == {}
    S.write_snapshot(
        spark.createDataFrame([(2, -5)], "id long, qty long"),
        root, mode="append",
    )
    assert S.read_snapshot(spark, root).count() == 2
    with pytest.raises(KeyError):
        sql_dml.execute_dml(spark, "ALTER TABLE t DROP CONSTRAINT nope", t)


def test_rewrite_summaries_carry_removed_and_dv_metrics(spark, root):
    """Operation metrics completeness (DESCRIBE HISTORY audit): a
    replace_where rewrite reports removed_files/removed_rows, a DV
    delete reports dv_marked_rows, and maintenance commits carry
    data_change=False in their summary."""
    from e_commerce_lakehouse_spark.sources import deletes as D

    S.write_snapshot(
        spark.range(0, 100).selectExpr("id", "id * 2 AS v")
        .repartitionByRange(4, "id"),
        root,
    )
    # rewrite: delete a range -> boundary files rewritten, summary
    # counts the files and rows that left
    S.replace_where(
        spark, root,
        spark.createDataFrame([], "id long, v long"),
        [("id", ">=", 90)],
    )
    h = {x["id"]: x for x in S.history(root)}
    sid = S._load(root)["current"]
    summ = h[sid]["summary"]
    assert summ.get("removed_files", 0) >= 1
    assert summ.get("removed_rows") == 25  # the top range file's rows
    # DV delete: marked-row count in the summary
    D.set_delete_mode(root, "merge-on-read")
    D.delete_where_dv(spark, root, [("id", "in", [1, 2, 3])])
    h = {x["id"]: x for x in S.history(root)}
    assert h[S._load(root)["current"]]["summary"]["dv_marked_rows"] == 3
    # maintenance commit: data_change=False rides the summary too
    D.rewrite_deletes(spark, root)
    S.compact_files(spark, root)
    h = {x["id"]: x for x in S.history(root)}
    assert h[S._load(root)["current"]]["summary"].get("data_change") is False


def test_vacuum_dry_run_and_restore_table(spark, root):
    """VACUUM ... DRY RUN reports would-be deletions without touching
    anything; RESTORE TABLE TO VERSION/TIMESTAMP AS OF routes onto
    rollback (new auditable snapshot, data unchanged on disk)."""
    import time as _t

    S.write_snapshot(spark.range(0, 10).repartition(1), root)
    t_after_v1 = _t.time()
    S.write_snapshot(spark.range(10, 20).repartition(1), root)  # overwrite
    S.write_snapshot(spark.range(20, 25).repartition(1), root,
                     mode="append")
    t = {"t": root}

    out = sql_dml.execute_dml(spark, "VACUUM t RETAIN 1 SNAPSHOTS DRY RUN", t)
    assert out["dry_run"] is True and out["removed"]
    # nothing actually deleted or committed
    assert S.read_snapshot(spark, root, snapshot_id=1).count() == 10
    assert len(S.history(root)) == 3
    for rel in out["removed"]:
        assert os.path.exists(os.path.join(root, rel)), rel
    # the real run deletes exactly what the dry run promised (the
    # extra entries are the expire commits' own metadata churn)
    real = sql_dml.execute_dml(spark, "VACUUM t RETAIN 1 SNAPSHOTS", t)
    assert set(out["removed"]) <= set(real["removed"]) | set()
    assert not os.path.exists(os.path.join(root, out["removed"][0]))

    # rebuild for RESTORE checks
    root2 = root + "_r"
    S.write_snapshot(spark.range(0, 10).repartition(1), root2)
    S.write_snapshot(spark.range(0, 3).repartition(1), root2)
    t2 = {"t": root2}
    out = sql_dml.execute_dml(
        spark, "RESTORE TABLE t TO VERSION AS OF 1", t2
    )
    assert out["op"] == "restore" and out["restored_to"] == 1
    assert S.read_snapshot(spark, root2).count() == 10
    # timestamp form resolves on main ancestry (session tz is UTC)
    import datetime as _dt

    root3 = root + "_ts"
    S.write_snapshot(spark.range(0, 7).repartition(1), root3)
    cut = _t.time()
    iso = _dt.datetime.fromtimestamp(cut, _dt.timezone.utc).isoformat()
    S.write_snapshot(spark.range(0, 2).repartition(1), root3)
    out = sql_dml.execute_dml(
        spark, f"RESTORE TABLE t TO TIMESTAMP AS OF '{iso}'", {"t": root3}
    )
    assert out["restored_to"] == 1
    assert S.read_snapshot(spark, root3).count() == 7
    assert t_after_v1 > 0  # first-table marker kept for readability


def test_naive_timestamp_literal_without_session_zone_is_refused(spark, root, monkeypatch):
    """Every TIMESTAMP-literal route (SELECT and RESTORE ... AS OF, CALL
    expire_snapshots older_than, register_time_travel_view) refuses a
    naive literal when no session zone is known, instead of reading it
    in the driver OS zone."""
    S.write_snapshot(spark.range(3), root)
    monkeypatch.setattr(S, "_session_tzinfo", lambda: None)
    t, iso = {"t": root}, "2024-01-01T00:00:00"
    for sql in (
        f"SELECT * FROM t TIMESTAMP AS OF '{iso}'",
        f"RESTORE TABLE t TO TIMESTAMP AS OF '{iso}'",
        f"CALL expire_snapshots('t', older_than => '{iso}')",
    ):
        with pytest.raises(ValueError, match="naive"):
            sql_dml.execute_dml(spark, sql, t)
    with pytest.raises(ValueError, match="naive"):
        sql_dml.register_time_travel_view(spark, "t_v", root, timestamp=iso)
    assert len(S.history(root)) == 1  # nothing restored or expired
