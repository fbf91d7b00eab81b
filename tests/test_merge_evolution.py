"""MERGE WITH SCHEMA EVOLUTION (sources/sql_dml.py _merge
evolve=True): Delta autoMerge parity — source columns absent from the
target widen the schema ATOMICALLY inside the merge commit (a failed
merge leaves the schema untouched), pre-existing rows read NULL,
identical results on copy-on-write and merge-on-read routes, and a
plain MERGE (no evolution clause) keeps ignoring extra source
columns."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.sources import deletes as D
from e_commerce_lakehouse_spark.sources import snapshots as S
from e_commerce_lakehouse_spark.sources import sql_dml


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _seed(spark, root, mode):
    S.write_snapshot(
        spark.createDataFrame(
            [(1, 10), (2, 20)], "id long, qty long"
        ),
        root,
    )
    D.set_delete_mode(root, mode)


def _src(spark):
    # carries a NEW column `tag` the target lacks
    return spark.createDataFrame(
        [(1, 11, "a"), (3, 30, "c")], "id long, qty long, tag string"
    )


EVOLVE_MERGE = (
    "MERGE WITH SCHEMA EVOLUTION INTO tbl AS t USING src AS s "
    "ON t.id = s.id "
    "WHEN MATCHED THEN UPDATE SET * "
    "WHEN NOT MATCHED THEN INSERT *"
)


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_schema_evolution_adds_source_columns(spark, root, mode):
    _seed(spark, root, mode)
    sql_dml.execute_dml(
        spark, EVOLVE_MERGE, {"tbl": root}, sources={"src": _src(spark)}
    )
    out = S.read_snapshot(spark, root)
    assert out.columns == ["id", "qty", "tag"]
    got = {(r.id, r.qty, r.tag) for r in out.collect()}
    # matched row updated with the new column, unmatched inserted with
    # it, untouched pre-existing row reads NULL
    assert got == {(1, 11, "a"), (2, 20, None), (3, 30, "c")}
    # ATOMIC evolution (Delta autoMerge): no separate add_column
    # commit — exactly ONE commit landed after the seed write, and its
    # snapshot schema carries the new column
    hist = S.history(root)
    assert len(hist) == 2
    assert not any(h["op"].startswith("add_column") for h in hist)


def test_schema_evolution_routes_agree(spark, root, tmp_path):
    """Hash-stable parity: both commit routes produce identical rows
    AND identical schemas for the same evolving merge."""
    results = {}
    for mode in ("copy-on-write", "merge-on-read"):
        r = str(tmp_path / mode)
        _seed(spark, r, mode)
        sql_dml.execute_dml(
            spark, EVOLVE_MERGE, {"tbl": r}, sources={"src": _src(spark)}
        )
        df = S.read_snapshot(spark, r)
        results[mode] = (
            df.schema.simpleString(),
            sorted(map(tuple, df.collect())),
        )
    assert results["copy-on-write"] == results["merge-on-read"]


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_evolution_with_explicit_insert_values(spark, root, mode):
    """INSERT (cols) VALUES may reference the evolved column — it is a
    real target column by the time clauses validate."""
    _seed(spark, root, mode)
    sql_dml.execute_dml(
        spark,
        "MERGE WITH SCHEMA EVOLUTION INTO tbl AS t USING src AS s "
        "ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, qty, tag) "
        "VALUES (s.id, s.qty, upper(s.tag))",
        {"tbl": root},
        sources={"src": _src(spark)},
    )
    got = {(r.id, r.qty, r.tag) for r in S.read_snapshot(spark, root).collect()}
    assert got == {(1, 10, None), (2, 20, None), (3, 30, "C")}


def test_plain_merge_still_ignores_extra_columns(spark, root):
    """Without WITH SCHEMA EVOLUTION, extra source columns neither land
    nor error — the target schema is authoritative (pinned behavior)."""
    _seed(spark, root, "copy-on-write")
    sql_dml.execute_dml(
        spark,
        "MERGE INTO tbl AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": root},
        sources={"src": _src(spark)},
    )
    out = S.read_snapshot(spark, root)
    assert out.columns == ["id", "qty"]
    assert {(r.id, r.qty) for r in out.collect()} == {(1, 11), (2, 20), (3, 30)}


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_evolution_noop_without_new_columns(spark, root, mode):
    """The clause is inert when the source adds nothing: no extra
    commits, plain merge result."""
    _seed(spark, root, mode)
    sql_dml.execute_dml(
        spark,
        "MERGE WITH SCHEMA EVOLUTION INTO tbl AS t USING src AS s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET *",
        {"tbl": root},
        sources={
            "src": spark.createDataFrame([(1, 99)], "id long, qty long")
        },
    )
    assert not any(
        h["op"].startswith("add_column") for h in S.history(root)
    )
    got = {(r.id, r.qty) for r in S.read_snapshot(spark, root).collect()}
    assert got == {(1, 99), (2, 20)}


def test_evolution_survives_hash_stable_reread(spark, root):
    """Reads after evolution are stable across reloads (the projection
    pads the evolved column deterministically, dir membership not
    value-coalescing)."""
    _seed(spark, root, "merge-on-read")
    sql_dml.execute_dml(
        spark, EVOLVE_MERGE, {"tbl": root}, sources={"src": _src(spark)}
    )
    a = sorted(map(tuple, S.read_snapshot(spark, root).collect()))
    b = sorted(map(tuple, S.read_snapshot(spark, root).collect()))
    assert a == b
    # and the evolved column appends normally afterwards
    S.write_snapshot(
        spark.createDataFrame([(9, 90, "z")], "id long, qty long, tag string"),
        root,
        mode="append",
    )
    assert S.read_snapshot(spark, root).filter(F.col("id") == 9).collect()[0].tag == "z"


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_failed_evolving_merge_leaves_schema_untouched(spark, root, mode):
    """Atomicity (the Delta autoMerge contract): a merge that FAILS —
    here on the cardinality error — must not leave the target with the
    evolved schema or any extra commit."""
    _seed(spark, root, mode)
    before = S.history(root)
    dup = spark.createDataFrame(
        [(1, 100, "x"), (1, 200, "y")], "id long, qty long, tag string"
    )
    with pytest.raises(Exception, match="matched multiple source"):
        sql_dml.execute_dml(
            spark, EVOLVE_MERGE, {"tbl": root}, sources={"src": dup}
        )
    assert S.history(root) == before  # no commit of any kind
    assert S.read_snapshot(spark, root).columns == ["id", "qty"]


def test_evolution_refuses_resurrecting_dropped_column(spark, root):
    """A previously DROPPED column's physical bytes linger in old files;
    widening-by-name would resurrect them on merge-on-read paths —
    refused with a pointer at explicit ADD COLUMN (fresh storage)."""
    _seed(spark, root, "merge-on-read")
    S.add_column(root, "tag", "string")
    S.drop_column(root, "tag")
    with pytest.raises(ValueError, match="previously dropped|add_column|ADD COLUMN"):
        sql_dml.execute_dml(
            spark, EVOLVE_MERGE, {"tbl": root}, sources={"src": _src(spark)}
        )
