"""Merge/upsert (Delta MERGE INTO semantics on plain parquet).

The reference is append-only (SURVEY §2.9: never updates rows); a real
lakehouse needs upsert. Without the Delta runtime in this container,
MERGE is expressed relationally — a full-outer join where the source
wins on conflict.

Scale notes: one shuffle on the merge key (or zero if both sides are
bucketed on it). These are the reference model of the values: snapshot
tables write them through ``sources.deletes``' one row-level change
writer in either delete mode (``merge_upsert_dv`` /
``apply_changes_dv``, pytest-pinned to them).
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """WHEN MATCHED THEN UPDATE (source wins) / WHEN NOT MATCHED THEN
    INSERT. Columns = target's columns; source must carry them all."""
    cols = target.columns
    t = target.alias("t")
    s = source.alias("s")
    cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
    joined = t.join(s, cond, "full_outer")
    picked = [
        F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in cols
    ]
    return joined.select(*picked)


def cdc_diff(old: DataFrame, new: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Change-data-feed between two versions of a keyed table — Delta
    CDF's row classification (`_change_type` in insert / delete /
    update_preimage / update_postimage) computed relationally, since
    plain parquet has no change log to read back.

    One null-safe full-outer join on ``keys``, then a single map-side
    pass: each joined row explodes into its change rows (0 for
    unchanged rows — the explode of an empty array IS the suppression
    filter, no second scan). Scale: one shuffle per side on the key
    (zero if both sides are bucketed on it); everything after the join
    is narrow. Value comparison is null-safe per column, so NULL→NULL
    is unchanged and NULL→x is an update.

    Reference parity: the reference pipeline is append-only
    (SURVEY §2.9) and has no CDC; this is the lakehouse feature a
    downstream incremental consumer needs (Delta CDF / Iceberg
    changelog scan).
    """
    cols = old.columns
    if set(new.columns) != set(cols):
        raise ValueError(
            f"cdc_diff requires identical columns; old={cols} new={new.columns}"
        )
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"keys {missing} not in columns {cols}")
    o = old.select(
        F.lit(True).alias("_o_present"), *[F.col(c).alias(f"_o_{c}") for c in cols]
    )
    n = new.select(
        F.lit(True).alias("_n_present"), *[F.col(c).alias(f"_n_{c}") for c in cols]
    )
    cond = functools.reduce(
        operator.and_,
        [F.col(f"_o_{k}").eqNullSafe(F.col(f"_n_{k}")) for k in keys],
    )
    value_cols = [c for c in cols if c not in keys]
    changed = (
        functools.reduce(
            operator.or_,
            [~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")) for c in value_cols],
        )
        if value_cols
        else F.lit(False)
    )
    change_types = (
        F.when(F.col("_o_present").isNull(), F.array(F.lit("insert")))
        .when(F.col("_n_present").isNull(), F.array(F.lit("delete")))
        .when(
            changed,
            F.array(F.lit("update_preimage"), F.lit("update_postimage")),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    j = o.join(n, cond, "full_outer").withColumn(
        "_change_type", F.explode(change_types)
    )
    from_old = F.col("_change_type").isin("delete", "update_preimage")
    return j.select(
        *[
            F.when(from_old, F.col(f"_o_{c}")).otherwise(F.col(f"_n_{c}")).alias(c)
            for c in cols
        ],
        "_change_type",
    )


def apply_changes(
    target: DataFrame, changes: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Apply a CDC feed back onto a table state (DLT ``APPLY CHANGES
    INTO`` / the consume side of Delta CDF) — the inverse of
    :func:`cdc_diff`, and the first merge path here that supports
    DELETE (plain ``merge_upsert`` cannot drop rows).

    ``changes`` carries the table's columns plus ``_change_type``;
    rows typed delete / update_preimage remove their key from the
    target, insert / update_postimage rows are the new versions. By
    the feed contract each key appears with at most one post-state.

    Scale: one distinct on the change keys (small — the feed, not the
    table), one anti-join shuffle on the key, one union. The target is
    scanned once.
    """
    if "_change_type" not in changes.columns:
        raise ValueError("changes must carry _change_type (see cdc_diff)")
    cols = target.columns
    missing = [c for c in cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes missing target columns {missing}")
    changed_keys = changes.select(*keys).distinct()
    post = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*cols)
    kept = target.join(
        changed_keys,
        functools.reduce(
            operator.and_,
            [target[k].eqNullSafe(changed_keys[k]) for k in keys],
        ),
        "left_anti",
    )
    return kept.unionByName(post)
