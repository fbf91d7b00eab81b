"""Cleaning / normalization operators (SURVEY §2.2, §2.6).

Silver-layer hygiene re-expressed on the testdata schema. The reference
normalizes emails with lower∘trim, builds full_name (with a `+`-on-
Columns bug — we implement the intent via concat_ws), validates ranges,
and dedups by key (reference: silver_clean_transform.py:85-95,
:74,88,105,117-118).

All expressions are built-in Column functions — JVM-side, inside
whole-stage codegen; no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col: Column | str) -> Column:
    """lower(trim(x)) — the reference's email normalization
    (silver_clean_transform.py:89)."""
    return F.lower(F.trim(F.col(col) if isinstance(col, str) else col))


def full_name(first: Column | str, last: Column | str) -> Column:
    """concat_ws(' ', trim(first), trim(last)).

    The reference writes `trim(first) + " " + trim(last)`
    (silver_clean_transform.py:90) which is numeric addition on string
    Columns and yields NULL — we implement the documented intent.
    """
    first = F.col(first) if isinstance(first, str) else first
    last = F.col(last) if isinstance(last, str) else last
    return F.concat_ws(" ", F.trim(first), F.trim(last))


def positive(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """(quantity > 0) & (price > 0) guards (silver_clean_transform.py:105)."""
    pred = F.lit(True)
    for c in cols:
        pred = pred & (F.col(c) > 0)
    return df.filter(pred)


def dedup_by_key(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Non-deterministic first-row dedup — the reference's
    dropDuplicates([...]) (silver_clean_transform.py:74,88). Prefer
    :func:`dedup_latest` when a tiebreak ordering exists."""
    return df.dropDuplicates(list(keys))


def dedup_latest(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """Deterministic keep-latest dedup: row_number over a window
    partitioned by ``keys`` ordered by ``order_cols`` (desc ts + unique
    tiebreak), keep rank 1 (SURVEY P10 deterministic variant).

    Scale: one shuffle on ``keys``; with AQE skew handling hot keys
    split. For 100 TB, this beats dropDuplicates because the window sort
    is per-key and spills gracefully.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: one
    validity interval per (key, change), valid_to = next change's ts
    (NULL while current). Built with lead() over the per-key timeline —
    one shuffle on the key (engine extension; the reference drops and
    recreates dims wholesale each run instead of versioning them).
    """
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    out = df.withColumn("valid_from", F.col(ts_col)).withColumn(
        "valid_to", F.lead(ts_col).over(w)
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())


def fill_defaults(df: DataFrame, defaults: dict[str, object]) -> DataFrame:
    """coalesce-based null repair (reference imports coalesce but never
    uses it — silver_clean_transform.py:7; realized here)."""
    for c, v in defaults.items():
        df = df.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
    return df


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tracked_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Incremental SCD2 maintenance: apply ONE batch of per-key change
    rows to an existing type-2 dimension (built by :func:`scd2` or a
    previous merge) — close the changed keys' current versions at the
    update's ``ts_col`` and open new current versions, leave everything
    else untouched. The standard Delta "merge into SCD2 dim" recipe,
    expressed as one null-safe equi-join plus a map-side explode (the
    same 0/1/2-rows-per-match trick as ``cdc_diff`` — no second scan,
    no window).

    Contract: ``updates`` has at most one row per key (a compacted CDC
    batch) and carries every dim payload column; an update whose ts is
    NOT strictly newer than the key's current ``valid_from`` fails the
    job in-plan (raise_error) — silently reordering history is the one
    thing an SCD2 table must never do. A matched update whose
    ``tracked_cols`` all equal the current version is a no-op row.

    Scale: one shuffle per side on the key; history rows (is_current =
    false) pass through untouched — with the dim stored partitioned or
    clustered by ``is_current`` the merge never rewrites closed
    versions (on the snapshot log: write history once, merge the
    current slice).
    """
    meta = ("valid_from", "valid_to", "is_current")
    for m in meta:
        if m not in dim.columns:
            raise ValueError(f"dim lacks SCD2 column {m!r} (build with scd2())")
    payload = [c for c in dim.columns if c not in meta]
    missing = [c for c in payload if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing dim payload columns {missing}")
    tracked = list(tracked_cols) if tracked_cols is not None else [
        c for c in payload if c not in key_cols and c != ts_col
    ]
    hist = dim.filter(~F.col("is_current"))
    cur = dim.filter(F.col("is_current")).select(
        F.lit(True).alias("_c_present"),
        *[F.col(c).alias(f"_c_{c}") for c in payload],
        F.col("valid_from").alias("_c_valid_from"),
        F.col("valid_to").alias("_c_valid_to"),
    )
    u = updates.select(
        F.lit(True).alias("_u_present"),
        *[F.col(c).alias(f"_u_{c}") for c in payload],
    )
    import functools as _ft
    import operator as _op

    cond = _ft.reduce(
        _op.and_,
        [F.col(f"_c_{k}").eqNullSafe(F.col(f"_u_{k}")) for k in key_cols],
    )
    changed = (
        _ft.reduce(
            _op.or_,
            [~F.col(f"_c_{c}").eqNullSafe(F.col(f"_u_{c}")) for c in tracked],
        )
        if tracked
        else F.lit(False)
    )
    u_ts = F.col(f"_u_{ts_col}")
    # loud out-of-order guard: a matched update must advance the
    # timeline. The alarm lives INSIDE the roles array the explode
    # consumes — row multiplicity depends on it, so EVERY consumer
    # evaluates it, including a bare count() that prunes all columns
    # (the DID-NOT-RAISE pruning lesson, twice over; pinned in
    # tests/test_medallion_incremental.py). Unmatched inserts have
    # NULL _c_valid_from and never trip it; a stale NO-OP update
    # (unchanged values) is harmless and stays a keep.
    stale = u_ts <= F.col("_c_valid_from")
    alarm_roles = F.raise_error(
        F.concat(
            F.lit("scd2_merge: out-of-order update for key at ts "),
            u_ts.cast("string"),
            F.lit(" <= current valid_from "),
            F.col("_c_valid_from").cast("string"),
        )
    ).cast("array<string>")
    roles = (
        F.when(F.col("_c_present").isNull(), F.array(F.lit("insert")))
        .when(F.col("_u_present").isNull(), F.array(F.lit("keep")))
        .when(
            changed,
            F.when(stale, alarm_roles).otherwise(
                F.array(F.lit("close"), F.lit("insert"))
            ),
        )
        .otherwise(F.array(F.lit("keep")))
    )
    j = cur.join(u, cond, "full_outer").withColumn("_role", F.explode(roles))
    from_cur = F.col("_role").isin("keep", "close")
    merged = j.select(
        *[
            F.when(from_cur, F.col(f"_c_{c}")).otherwise(F.col(f"_u_{c}")).alias(c)
            for c in payload
        ],
        F.when(from_cur, F.col("_c_valid_from"))
        .otherwise(u_ts.cast(dim.schema["valid_from"].dataType.simpleString()))
        .alias("valid_from"),
        F.when(
            F.col("_role") == "close",
            u_ts.cast(dim.schema["valid_to"].dataType.simpleString()),
        )
        .otherwise(F.lit(None).cast(dim.schema["valid_to"].dataType.simpleString()))
        .alias("valid_to"),
        (F.col("_role") != "close").alias("is_current"),
    )
    return hist.unionByName(merged)
