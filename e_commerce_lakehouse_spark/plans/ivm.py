"""Incremental gold refresh — IVM × CDC, end-to-end.

The reference recomputes its gold tables from the full silver fact on
every run (gold_transfrom.py:59-94, createOrReplace); so did this
repo's ``plans/medallion.py`` until round 7. This module wires the
existing parts into an O(delta) maintenance loop over the snapshot
log:

  1. the silver fact lives in a snapshot-log table
     (``sources/snapshots.py``) — every batch is a commit;
  2. the gold STATE is itself a snapshot table holding per-key
     distributive partials (sums + a signed row count), with the fact
     snapshot id it reflects recorded in the commit ``meta`` — state
     and watermark move ATOMICALLY, so a crashed refresh can only be
     retried, never double-applied;
  3. a refresh reads ONLY the files that changed between the
     watermark and the fact's current snapshot
     (:func:`~e_commerce_lakehouse_spark.sources.snapshots.
     snapshot_file_changes` — manifest set-difference, no diff join,
     no scan of shared files), turns them into SIGNED partial
     aggregates (+1 insert, −1 delete), and folds them with
     :func:`~e_commerce_lakehouse_spark.operators.aggregates.
     merge_partial_aggregates`;
  4. groups whose signed count reaches zero vanish, exactly as a
     rebuild would drop them.

At 100 TB the nightly refresh therefore costs O(new + rewritten
files) + one gold-sized merge join — never O(base fact). Descriptive
columns functionally dependent on the group key (product_name etc.)
are NOT stored in the state; they are broadcast-attached from the
CURRENT dim at read time, which also keeps dim renames from
invalidating fact-side state (the reference's gold stores them
denormalized and would re-derive them in its full recompute).

Measure algebra: only DISTRIBUTIVE measures are maintained (sum /
count; avg as sum+count divided at read — the same decomposition
``review_summary`` already uses). Signed folding makes deletes and
replace_where rewrites exact: a row carried verbatim through a
rewritten file contributes an offsetting −1/+1 pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import merge_partial_aggregates
from ..sources import deletes, snapshots

# ---------------------------------------------------------------------------
# Gold specs: SQL-string expressions over the silver fact row, rendered
# with F.expr — serializable, session-independent, and readable in one
# place. ``group`` maps state key -> expr, ``sums`` maps measure ->
# per-row expr (summed signed), ``count_col`` is the signed row count.
# ---------------------------------------------------------------------------

SALES_SPEC: dict = {
    # fact_purchase_event rows (plans/medallion.py:69): order_id,
    # user_id, event_time, product_id, quantity, price
    "group": {
        "year": "year(event_time)",
        "month": "month(event_time)",
        "product_id": "product_id",
    },
    # exact cents per functions/money.py — identical op order to the
    # full-rebuild path so fold == rebuild bit-for-bit
    "sums": {
        "total_quantity": "quantity",
        "cents": "quantity * CAST(floor(price * 100.0 + 0.5) AS BIGINT)",
    },
    "count_col": "num_purchases",
}

REVIEW_SPEC: dict = {
    # fact_reviews rows (plans/medallion.py:86): review_id, user_id,
    # product_id, rating, review_text, event_time
    "group": {
        "year": "year(event_time)",
        "month": "month(event_time)",
        "product_id": "product_id",
    },
    "sums": {"rating_sum": "rating"},
    "count_col": "num_reviews",
}


def full_state_aggregate(fact: DataFrame, spec: dict) -> DataFrame:
    """The bootstrap / rebuild aggregate: one partial-agg'd groupBy of
    the fact into the state schema (keys + sums + count)."""
    rows = fact.select(
        *[F.expr(e).alias(k) for k, e in spec["group"].items()],
        *[F.expr(e).cast("long").alias(c) for c, e in spec["sums"].items()],
    )
    return rows.groupBy(*spec["group"]).agg(
        *[F.sum(c).alias(c) for c in spec["sums"]],
        F.count(F.lit(1)).alias(spec["count_col"]),
    )


def _change_weight() -> Column:
    """A CDC row's IVM weight: +1 for insert/update_postimage, −1 for
    delete/update_preimage; an unknown ``_change_type`` raises
    in-plan."""
    return (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(
            F.expr("CAST(raise_error('ivm: unknown _change_type') AS INT)")
        )
        .cast("long")
    )


def signed_delta_aggregate(changes: DataFrame, spec: dict) -> DataFrame:
    """Per-key SIGNED partials of a CDC feed: weight +1 for
    insert/update_postimage rows, −1 for delete/update_preimage rows
    (exactly the counting algebra of incremental view maintenance).
    One map-side-combinable groupBy of the delta — the feed's text or
    payload columns never ride past the first select. An unknown
    ``_change_type`` raises in-plan, inside the weight every measure
    consumes, so it cannot be pruned."""
    w = _change_weight()
    rows = changes.select(
        *[F.expr(e).alias(k) for k, e in spec["group"].items()],
        *[
            (w * F.expr(e).cast("long")).alias(c)
            for c, e in spec["sums"].items()
        ],
        w.alias("_w"),
    )
    return rows.groupBy(*spec["group"]).agg(
        *[F.sum(c).alias(c) for c in spec["sums"]],
        F.sum("_w").alias(spec["count_col"]),
    )


def fold_signed_delta(state: DataFrame, delta: DataFrame, spec: dict) -> DataFrame:
    """merge(state, signed delta) with vanished groups dropped: one
    null-safe full-outer join on the gold key (gold-sized, never
    fact-sized), then ``count > 0``. fold(agg(base), signed_agg(feed))
    == agg(base ∪ feed-applied) for distributive measures."""
    merged = merge_partial_aggregates(
        state,
        delta,
        keys=list(spec["group"]),
        sum_cols=[*spec["sums"], spec["count_col"]],
    )
    return merged.filter(F.col(spec["count_col"]) > 0)


def refresh_gold_incremental(
    spark: SparkSession,
    fact_root: str,
    state_root: str,
    spec: dict,
) -> dict:
    """One maintenance step: bring the gold state table at
    ``state_root`` up to the CURRENT snapshot of the silver fact table
    at ``fact_root``.

    - no state yet  -> bootstrap: full aggregate of the current fact
      snapshot (the only time the base is ever scanned);
    - watermark == current -> no-op, nothing read;
    - otherwise -> fold the file-granular feed between watermark and
      current. ``info["files_read"]`` lists exactly the delta files
      the refresh touched (the no-base-scan plan gate asserts on it
      AND on ``feed.inputFiles()``).

    The new state commits with ``meta={"fact_snapshot_id": K}`` —
    watermark and rows in one atomic manifest swap (same exactly-once
    shape as streaming/sinks.py's MERGE sink batch ids).
    """
    fact_manifest = snapshots._load(fact_root)
    k = fact_manifest["current"]
    if k is None:
        raise KeyError(f"fact table {fact_root} has no snapshots")
    state_manifest = snapshots._load(state_root)
    if state_manifest["current"] is None:
        base = snapshots.read_snapshot(spark, fact_root, snapshot_id=k)
        sid = snapshots.write_snapshot(
            full_state_aggregate(base, spec),
            state_root,
            meta={"fact_snapshot_id": k},
        )
        return {
            "mode": "bootstrap",
            "fact_snapshot_id": k,
            "state_snapshot_id": sid,
            "files_read": None,
        }
    entry = snapshots._entry(state_manifest, state_manifest["current"])
    j = entry["meta"].get("fact_snapshot_id")
    if j is None:
        raise ValueError(
            f"state table {state_root} has no fact_snapshot_id watermark; "
            "was it written by refresh_gold_incremental?"
        )
    if j == k:
        return {
            "mode": "noop",
            "fact_snapshot_id": k,
            "state_snapshot_id": state_manifest["current"],
            "files_read": [],
        }
    feed, info = snapshots.snapshot_file_changes(spark, fact_root, j, k)
    delta = signed_delta_aggregate(feed, spec)
    state = snapshots.read_snapshot(spark, state_root)
    sid = snapshots.write_snapshot(
        fold_signed_delta(state, delta, spec),
        state_root,
        meta={"fact_snapshot_id": k},
    )
    return {
        "mode": "incremental",
        "fact_snapshot_id": k,
        "state_snapshot_id": sid,
        "files_read": info["added"] + info["removed"],
        "feed_files": info,
    }


# ---------------------------------------------------------------------------
# Read-side views: state ⟕ broadcast(current dim) -> the reference gold
# schema. Descriptors are functionally dependent on product_id in the
# dedup'd dim, so attaching them at read time is equivalent to the
# reference's denormalized groupBy — and a dim rename needs no
# fact-side maintenance at all.
# ---------------------------------------------------------------------------


def read_sales_summary(
    spark: SparkSession, state_root: str, dim_products_df: DataFrame
) -> DataFrame:
    """Reference gold ``sales_summary`` schema (plans/medallion.py:107)
    from the incremental state."""
    from ..functions.money import money_from_cents

    state = snapshots.read_snapshot(spark, state_root)
    return state.join(
        F.broadcast(
            dim_products_df.select(
                "product_id", "product_name", "category_id", "category_name"
            )
        ),
        "product_id",
        "left",
    ).select(
        "year",
        "month",
        "product_id",
        "product_name",
        "category_id",
        "category_name",
        "total_quantity",
        money_from_cents("cents").alias("total_sales"),
        "num_purchases",
    )


def commit_fact_increment(
    spark: SparkSession, fact: DataFrame, root: str, time_col: str
) -> dict:
    """High-watermark commit of a silver fact into its snapshot table:
    first run writes the full fact; later runs APPEND only rows
    strictly newer than the stored watermark (the reference's
    bronze_batch_load.py:66-67 policy, landing in the snapshot log so
    downstream gold refreshes get an O(new-files) feed). The watermark
    rides the commit ``meta`` — rows and watermark move atomically,
    and a re-run with an unchanged source appends nothing (no empty
    commit)."""
    manifest = snapshots._load(root)
    if manifest["current"] is None:
        wm = fact.agg(F.max(time_col)).first()[0]
        sid = snapshots.write_snapshot(
            fact, root, meta={"watermark": _iso(wm)}
        )
        return {"mode": "full", "snapshot_id": sid, "rows": None}
    # the newest commit CARRYING a watermark key — maintenance commits
    # (OPTIMIZE / ZORDER / replace_where) do not carry one, and
    # falling back to "append everything" would silently duplicate
    # the whole fact (doubling every gold aggregate). A PRESENT key
    # holding None is ours too: it means "bootstrapped empty, nothing
    # loaded yet", not "foreign table" — treated as append-all below.
    wm, found, mode = None, False, "incremental"
    for s in reversed(manifest["snapshots"]):
        if s["id"] <= manifest["current"] and "watermark" in s.get("meta", {}):
            wm, found = s["meta"]["watermark"], True
            break
    if not found:
        # expire_snapshots can trim every watermark-bearing entry
        # (maintenance commits survive, loads don't). Recover from the
        # DATA: the stored watermark always equals max(time_col) of
        # the table contents at its commit under the append-only
        # high-watermark policy (the reference's bronze_batch_load
        # model). Caveat, documented: if rows at the high end were
        # replace_where-deleted since, the recovered mark is lower and
        # still-present source rows in that gap re-append.
        wm = (
            snapshots.read_snapshot(spark, root).agg(F.max(time_col)).first()[0]
        )
        mode = "recovered"
        if wm is None:
            raise ValueError(
                f"fact table {root} has snapshots but no watermark in "
                "any commit meta and no rows to recover one from — not "
                "a commit_fact_increment table; refusing to append the "
                "full fact on top of existing rows"
            )
    new_rows = (
        fact.filter(F.col(time_col) > F.lit(wm)) if wm is not None else fact
    )
    # one aggregate answers both "anything new?" and the new mark; the
    # count decides emptiness (rows with a NULL time_col still append)
    n, new_wm = new_rows.agg(F.count(F.lit(1)), F.max(time_col)).first()
    if n == 0:
        return {"mode": "noop", "snapshot_id": manifest["current"], "rows": 0}
    sid = snapshots.write_snapshot(
        new_rows, root, mode="append", meta={"watermark": _iso(new_wm)}
    )
    return {"mode": mode, "snapshot_id": sid, "rows": None}


def _iso(v):
    import datetime as _dt

    return v.isoformat() if isinstance(v, (_dt.datetime, _dt.date)) else v


def _same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two frames in ONE aggregate: each distinct
    row's count in ``a`` minus its count in ``b`` must be zero (grouping
    is null-safe and duplicates count). Frames with different column
    lists are unequal."""
    if a.columns != b.columns:
        return False
    w = "__same_rows_w"
    return (
        a.select("*", F.lit(1).alias(w))
        .unionByName(b.select("*", F.lit(-1).alias(w)))
        .groupBy(*a.columns)
        .agg(F.sum(w).alias(w))
        .filter(F.col(w) != 0)
        .isEmpty()
    )


def run_incremental_pipeline(
    spark: SparkSession, csv_dir: str, warehouse: str
) -> dict:
    """The end-to-end incremental medallion: CSV bronze -> silver
    snapshot commits (dims overwritten — they are small and
    functionally attached at gold read time; facts high-watermark
    APPENDED) -> O(delta) gold refresh via the file-granular feed.
    Re-running against an unchanged source is a complete no-op at
    every layer. This replaces :func:`medallion.run_batch_pipeline`'s
    full gold recompute (the reference's createOrReplace,
    gold_transfrom.py:59-94) with maintenance proportional to the new
    data.

    The four tables share no data, so their chains run concurrently
    from driver threads (:func:`~e_commerce_lakehouse_spark.operators.
    parallelize.overlap`): ``dim_products`` and ``dim_users`` (no-op
    probe, then overwrite), and ``fact_purchase_event -> sales_summary``
    and ``fact_reviews -> review_summary`` (:func:`commit_fact_increment`
    then :func:`refresh_gold_incremental`). Each chain keeps its own
    order; the lazy bronze frames are shared read-only. Every chain is
    a series of small jobs separated by driver-side barriers (a probe
    or watermark aggregate, a commit's metadata I/O), and overlapping
    them lets one chain's tasks fill the cores another chain leaves
    idle. The jobs inherit the caller's job group.

    Failure semantics: each table commit is atomic on its own, and the
    chains write disjoint roots. A failing chain does not stop the
    others: they run to completion and commit, and the first error in
    chain order is re-raised after all of them finish. A re-run is
    idempotent — it completes the failed chain and no-ops the tables
    that already committed."""
    import os

    from .. import schemas
    from ..operators.parallelize import overlap
    from ..sources.csv import read_csv
    from . import medallion

    bronze = {
        name: read_csv(spark, os.path.join(csv_dir, f"{name}.csv"), schema)
        for name, schema in schemas.ECOM_TABLES.items()
    }

    def dim_chain(name: str, df: DataFrame) -> dict:
        droot = os.path.join(warehouse, "silver", name)
        # overwrite only when the content actually changed, so an
        # unchanged re-run stays a no-op at EVERY layer (no spurious
        # snapshot/dir growth between vacuums)
        if snapshots._load(droot)["current"] is None or not _same_rows(
            snapshots.read_snapshot(spark, droot), df
        ):
            snapshots.write_snapshot(df, droot)
        return {}

    def fact_chain(
        fname: str, fact: DataFrame, tcol: str, spec: dict, gold: str
    ) -> dict:
        froot = os.path.join(warehouse, "silver", fname)
        committed = commit_fact_increment(spark, fact, froot, tcol)
        return {
            fname: committed,
            gold: refresh_gold_incremental(
                spark, froot, os.path.join(warehouse, "gold", gold), spec
            ),
        }

    chains = overlap(
        spark,
        lambda: dim_chain(
            "dim_products",
            medallion.dim_products(bronze["products"], bronze["categories"]),
        ),
        lambda: dim_chain("dim_users", medallion.dim_users(bronze["users"])),
        lambda: fact_chain(
            "fact_purchase_event",
            medallion.fact_purchase_event(bronze["orders"], bronze["order_items"]),
            "event_time",
            SALES_SPEC,
            "sales_summary",
        ),
        lambda: fact_chain(
            "fact_reviews",
            medallion.fact_reviews(bronze["reviews"]),
            "event_time",
            REVIEW_SPEC,
            "review_summary",
        ),
    )
    out: dict = {}
    for c in chains:
        out.update(c)
    return out


def read_review_summary(
    spark: SparkSession, state_root: str, dim_products_df: DataFrame
) -> DataFrame:
    """Reference gold ``review_summary`` schema (plans/medallion.py:153):
    avg_rating derived from the maintained sum+count decomposition."""
    state = snapshots.read_snapshot(spark, state_root)
    return state.join(
        F.broadcast(
            dim_products_df.select("product_id", "product_name", "category_name")
        ),
        "product_id",
        "left",
    ).select(
        "year",
        "month",
        "product_id",
        "product_name",
        "category_name",
        "num_reviews",
        (F.col("rating_sum").cast("double") / F.col("num_reviews")).alias(
            "avg_rating"
        ),
    )


# ---------------------------------------------------------------------------
# Equi-JOIN view maintenance: the classic delta-join algebra (Blakeley,
# Larson & Tompa 1986; the counting algorithm of Gupta-Mumick). The
# aggregate IVM above attaches dims FUNCTIONALLY at read time and so
# never has to maintain a join; this tier maintains a materialized
# A ⋈ B itself, under CHANGES TO EITHER SIDE — the piece a pipeline
# needs when the joined view (not an aggregate of it) is the product,
# e.g. an enriched fact handed to a training-data exporter.
# ---------------------------------------------------------------------------


def _signed(df: DataFrame) -> DataFrame:
    """CDC frame -> payload + ``_w`` (+1 insert/postimage, -1
    delete/preimage), :func:`signed_delta_aggregate`'s in-plan-guarded
    weight."""
    cols = [c for c in df.columns if not c.startswith("_")]
    return df.select(*cols, _change_weight().alias("_w"))


def _check_disjoint(a: DataFrame, b: DataFrame, keys: list[str]) -> None:
    # underscore-prefixed payload is reserved: _signed strips it from
    # CDC feeds (CDC metadata) and _w/_cnt are the weight/count
    # sentinels — such a column would bootstrap fine, then break (or
    # silently collide) on the first incremental refresh
    reserved = [
        c
        for c in set(a.columns) | set(b.columns)
        if c.startswith("_") and c not in ("_w", "_cnt")
    ]
    bad = [c for c in (set(a.columns) | set(b.columns)) if c in ("_w", "_cnt")]
    if reserved or bad:
        raise ValueError(
            f"join view payload columns may not start with '_' "
            f"(reserved for CDC metadata / the _w/_cnt sentinels); "
            f"rename {sorted(reserved + bad)}"
        )
    clash = (set(a.columns) & set(b.columns)) - set(keys)
    if clash:
        raise ValueError(
            f"join view payload columns must be disjoint outside the "
            f"keys; rename {sorted(clash)}"
        )


def join_view_full(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Bootstrap/rebuild state of the materialized equi-join: the BAG
    A ⋈ B stored as distinct rows + ``_cnt`` multiplicity (the
    counting representation deletes need)."""
    _check_disjoint(a, b, keys)
    j = a.join(b, keys)
    return j.groupBy(*j.columns).agg(F.count(F.lit(1)).alias("_cnt"))


def join_view_delta(
    a_new: DataFrame,
    b_new: DataFrame,
    delta_a: DataFrame,
    delta_b: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Signed feed of the join view given both tables' NEW states and
    their CDC feeds (updates as preimage/postimage pairs):

        Δ(A ⋈ B) = ΔA ⋈ B_new  +  A_new ⋈ ΔB  −  ΔA ⋈ ΔB

    (expand A_new·B_new − (A_new−ΔA)(B_new−ΔB) per key — exact over
    signed multiplicities, bag semantics included). Joined weights
    multiply; the third term re-enters with a flipped sign.

    100 TB shape: each term joins a DELTA against at most one full
    side — AQE broadcasts the (small) delta, so the base table
    shuffles zero rows for typical batch sizes; the base ⋈ base join
    never runs. An empty delta frame on one side is fine (that term
    vanishes), covering the common fact-moves/dims-still case."""
    _check_disjoint(a_new, b_new, keys)
    da, db = _signed(delta_a), _signed(delta_b)
    a1 = a_new.select(*a_new.columns, F.lit(1).cast("long").alias("_w"))
    b1 = b_new.select(*b_new.columns, F.lit(1).cast("long").alias("_w"))

    def term(x: DataFrame, y: DataFrame, flip: bool) -> DataFrame:
        xa = x.withColumnRenamed("_w", "_wa")
        yb = y.withColumnRenamed("_w", "_wb")
        sign = -1 if flip else 1
        j = xa.join(yb, keys)
        payload = [c for c in j.columns if c not in ("_wa", "_wb")]
        return j.select(
            *payload,
            (F.col("_wa") * F.col("_wb") * sign).alias("_w"),
        )

    return (
        term(da, b1, flip=False)
        .unionByName(term(a1, db, flip=False))
        .unionByName(term(da, db, flip=True))
    )


def fold_join_view(state: DataFrame, feed: DataFrame) -> DataFrame:
    """Fold a signed feed into the counting state: group on the full
    payload, sum multiplicities, drop rows reaching zero. fold(
    join_view_full(A_old, B_old), join_view_delta(...)) equals
    join_view_full(A_new, B_new) exactly (pytest-pinned across
    random insert/delete/update batches on both sides)."""
    payload = [c for c in state.columns if c != "_cnt"]
    both = state.select(*payload, F.col("_cnt").alias("_w")).unionByName(
        feed.select(*payload, "_w")
    )
    return (
        both.groupBy(*payload)
        .agg(F.sum("_w").alias("_cnt"))
        .filter(F.col("_cnt") > 0)
    )


def refresh_join_view(
    spark: SparkSession,
    a_root: str,
    b_root: str,
    state_root: str,
    join_keys: list[str],
) -> dict:
    """Bring a PERSISTED materialized equi-join view up to the current
    snapshots of its two source snapshot tables — the delta-join
    algebra above made operational with the same exactly-once shape as
    :func:`refresh_gold_incremental`:

    - no state yet -> bootstrap join_view_full over both current
      snapshots (the only time base ⋈ base ever runs);
    - both watermarks current -> no-op, nothing read;
    - otherwise -> derive each changed side's signed feed with
      :func:`~e_commerce_lakehouse_spark.sources.snapshots.
      snapshot_file_changes` — the O(changed-files) manifest
      set-difference, NOT snapshot_changes' O(table) full-outer diff;
      rows carried verbatim through a rewritten file arrive as
      offsetting delete+insert pairs, which the linear signed algebra
      nets to zero — build the signed join feed, fold, and commit the
      new state with BOTH source snapshot ids in the meta: state and
      watermarks move in one atomic manifest swap, so a crashed
      refresh can only be retried, never double-applied. Each delta is
      localCheckpointed before use — it feeds up to three join terms
      plus the key-prune collect, and must not re-read its files per
      consumer.

    Each feed term joins a delta against at most one full side; AQE
    broadcasts the (small) delta so the unchanged base shuffles
    nothing. The base SCAN is pruned too: when the delta's distinct
    join-key set is small (``deletes.MAX_KEYSCAN_KEYS``, single join
    key), the opposite base is read through
    :func:`~e_commerce_lakehouse_spark.sources.snapshots.scan_snapshot`
    with an ``IN`` predicate — the manifest min/max stats and (if
    built) the Bloom file index skip every file holding none of the
    touched keys, so a narrow dim change against a 100 TB fact opens
    only the matching fact files.
    The IN filter is semantically free: rows with other keys cannot
    join the delta anyway."""
    a_cur = snapshots._load(a_root)["current"]
    b_cur = snapshots._load(b_root)["current"]
    if a_cur is None or b_cur is None:
        raise KeyError("both source tables need at least one snapshot")
    state_manifest = snapshots._load(state_root)
    if state_manifest["current"] is None:
        a = snapshots.read_snapshot(spark, a_root, snapshot_id=a_cur)
        b = snapshots.read_snapshot(spark, b_root, snapshot_id=b_cur)
        sid = snapshots.write_snapshot(
            join_view_full(a, b, join_keys),
            state_root,
            meta={"a_snapshot_id": a_cur, "b_snapshot_id": b_cur},
        )
        return {"mode": "bootstrap", "state_snapshot_id": sid}
    meta = snapshots._entry(state_manifest, state_manifest["current"])["meta"]
    a_wm, b_wm = meta.get("a_snapshot_id"), meta.get("b_snapshot_id")
    if a_wm is None or b_wm is None:
        raise ValueError(
            f"state table {state_root} lacks a_snapshot_id/b_snapshot_id "
            "watermarks; was it written by refresh_join_view?"
        )
    if a_wm == a_cur and b_wm == b_cur:
        return {
            "mode": "noop",
            "state_snapshot_id": state_manifest["current"],
        }

    def feed_for(root, wm, cur, template):
        if wm == cur:
            return template.limit(0).withColumn(
                "_change_type", F.lit("insert")
            )
        feed, _info = snapshots.snapshot_file_changes(spark, root, wm, cur)
        # consumed by up to 3 join terms + the key-prune collect —
        # materialize once instead of re-reading the delta files per
        # consumer
        return feed.localCheckpoint(eager=False)

    def base_for(root, cur, delta, self_changed):
        """The NEW base snapshot, file-skipped to the delta's touched
        join keys when possible. A side that itself changed must be
        read in full (its own delta term joins the OTHER side's
        delta's keys, but the third term needs its full delta only —
        base reads stay key-prunable ONLY for the unchanged side)."""
        if not self_changed and delta is not None and len(join_keys) == 1:
            keys = [
                r[0]
                for r in delta.select(join_keys[0]).distinct().limit(
                    deletes.MAX_KEYSCAN_KEYS + 1
                ).collect()
            ]
            if len(keys) <= deletes.MAX_KEYSCAN_KEYS and keys:
                return (
                    snapshots.scan_snapshot(
                        spark, root, [(join_keys[0], "in", keys)],
                        snapshot_id=cur,
                    ),
                    True,
                )
        return snapshots.read_snapshot(spark, root, snapshot_id=cur), False

    a_changed, b_changed = a_wm != a_cur, b_wm != b_cur
    a_tmpl = snapshots.read_snapshot(spark, a_root, snapshot_id=a_cur)
    b_tmpl = snapshots.read_snapshot(spark, b_root, snapshot_id=b_cur)
    da = feed_for(a_root, a_wm, a_cur, a_tmpl)
    db = feed_for(b_root, b_wm, b_cur, b_tmpl)
    a_new, a_pruned = base_for(a_root, a_cur, db if b_changed else None, a_changed)
    b_new, b_pruned = base_for(b_root, b_cur, da if a_changed else None, b_changed)
    feed = join_view_delta(a_new, b_new, da, db, join_keys)
    state = snapshots.read_snapshot(spark, state_root)
    sid = snapshots.write_snapshot(
        fold_join_view(state, feed),
        state_root,
        meta={"a_snapshot_id": a_cur, "b_snapshot_id": b_cur},
    )
    return {
        "mode": "incremental",
        "state_snapshot_id": sid,
        "a_base_keyscan": a_pruned,
        "b_base_keyscan": b_pruned,
    }
