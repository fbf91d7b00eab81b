"""Row-level changes — DELETE / UPDATE / MERGE / CDC apply — for the
snapshot tables in both of Iceberg's ``write.delete.mode``s (engine
extension — the reference pins Iceberg format-version 1 with no
row-level delete story at all, silver_clean_transform.py:77-79).

SQL DELETE, UPDATE and MERGE, ``snapshots.replace_where`` /
``update_where``, CDC APPLY and both streaming sinks all go through
ONE writer, :func:`_write_changes` (Delta's two-phase MERGE/UPDATE,
Armbrust et al., VLDB 2020). A route gives it a file plan (the stats
prune for predicates, the keyscan for keys), a row matcher and a
post-state builder; the writer marks the matched rows' POSITIONS once
and the delete mode picks the commit half:

- merge-on-read (:func:`_commit_change`): the marks go to a KB-scale
  ``(file, pos)`` deletion-vector sidecar and the post-states append
  as one dir — O(changed rows) written, no data file rewritten; reads
  pay one broadcast anti-join (``snapshots._apply_dvs``);
- copy-on-write (:func:`_commit_purge`): only the files holding a
  mark are re-read, and their unmatched rows written with the
  post-states into one dir; stats-proven all-match files drop
  unread, the rest carry over verbatim. A change that commits also
  purges the files the entry's DVs mark (the purge
  :func:`rewrite_deletes` runs), so the entry never carries a DV.

Contract with the rest of the lakehouse tier:

- positions come from the parquet scanner's own ``_metadata.row_index``
  (stable for immutable files) keyed by ``dir/file`` so a relocated
  table root keeps its DVs valid;
- marks skip the snapshot's PRIOR DVs, so a position is deleted at
  most once across sidecars and ``table_stats`` subtracts footer row
  counts exactly;
- stored CHECK constraints guard every appended row in both modes;
- every commit goes through the one commit path, so appends,
  rollbacks and schema DDL CARRY active DVs, expire/remove_orphans GC
  sidecar dirs like data dirs, and time travel reads each snapshot
  with ITS dvs; a change that marks, appends and drops nothing and
  keeps the schema commits nothing, except a sink's batch record;
- compact_files, snapshot_file_changes and the public copy-on-write
  APIs (replace_where, update_where) REFUSE while DVs are active
  (``_guard_no_dvs``) until :func:`rewrite_deletes` materializes them.

Deletion vectors win when changes are sparse relative to file size
(the CDC/MERGE/GDPR shape). Copy-on-write reads the candidate files
once to find the touched ones and the touched ones once more to
rewrite them (Delta's two phases): choose it when readers must never
pay the anti-join, or when the stats leave many more files than a
change touches.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import snapshots as S

MOR, COW = "merge-on-read", "copy-on-write"


def _tag_positions(df: DataFrame) -> DataFrame:
    """Input columns + (_file, _pos) off the RAW scan — parquet
    ``_metadata`` only resolves on the scan relation."""
    return df.select(
        "*",
        S._rel_file_col().alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    )


def _minus_prior_dvs(
    spark: SparkSession, root: str, entry: dict, tagged: DataFrame
) -> DataFrame:
    """Drop rows already DV-deleted at ``entry`` — keeps every writer's
    marks disjoint across sidecars (so footer-count arithmetic stays
    exact) and keeps already-deleted rows out of merge/apply values."""
    dvs = entry.get("dvs")
    if not dvs:
        return tagged
    olddv = S._read_dvs(spark, root, dvs)
    return tagged.join(
        F.broadcast(olddv),
        (tagged._file == olddv.file) & (tagged._pos == olddv.pos),
        "left_anti",
    )


def _purged(
    spark: SparkSession,
    root: str,
    entry: dict,
    rel_files: list[str],
    rest: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The copy-on-write purge: the rows of ``rel_files`` (root-relative
    files of ``entry``) minus the positions ``entry``'s DVs mark, read
    once off the raw scan; ``rest`` (a change's unmatched side) keeps
    only the rows the change leaves."""
    live = S._apply_dvs(spark, root, entry, S._scan_entry_files(
        spark, entry, [os.path.join(root, p) for p in rel_files]
    ))
    return live if rest is None else rest(live)


def _write_dv_sidecar(
    root: str, snap_id: int, positions: DataFrame
) -> tuple[str | None, int]:
    """Write one commit's (file, pos) sidecar; sorted so the positions
    delta-encode tightly, one parquet file so counting is a single
    footer read. Returns (dv_dir, n_marked); an empty mark set removes
    the claimed dir and returns (None, 0)."""
    dv_dir = S._claim_data_dir(root, snap_id, "dv")
    positions.select(
        F.col("_file").alias("file"), F.col("_pos").alias("pos")
    ).repartition(1).sortWithinPartitions("file", "pos").write.mode(
        "append"
    ).parquet(os.path.join(root, dv_dir))
    n = S._parquet_dir_rows(root, dv_dir)
    if n == 0:
        shutil.rmtree(os.path.join(root, dv_dir), ignore_errors=True)
        return None, 0
    return dv_dir, n


#: driver-side cap on the batch-key IN-list used to prune the
#: matched-scan (the keyscan pattern): below it, the merge/apply read
#: side is O(batch-touched files) via plan_scan + the Bloom file index;
#: above it, fall back to the full snapshot scan. The one keyscan cap:
#: sql_dml's MERGE and plans.ivm's join-view refresh read it too
MAX_KEYSCAN_KEYS = 1000


def _batch_key_predicates(
    source: DataFrame, keys: list[str]
) -> tuple[list[tuple] | None, bool]:
    """Per-column ``(key, "in", values)`` predicates over the batch's
    key values, for manifest file pruning of the matched-scan. The
    per-column cross product is a SUPERSET of the true composite-key
    match set, so pruning with them is sound; the exact match is still
    the join downstream. Returns ``(predicates, batch_is_empty)``;
    predicates is None when the batch has more than
    :data:`MAX_KEYSCAN_KEYS` keys (fall back to the full scan). A
    column whose batch values include NULL is skipped — the change
    writer matches NULL keys via eqNullSafe, which bounds/bloom stats
    cannot prune on that column (fewer conjuncts = strictly more
    conservative, never wrong)."""
    rows = source.select(*keys).distinct().limit(MAX_KEYSCAN_KEYS + 1).collect()
    if not rows:
        return None, True
    if len(rows) > MAX_KEYSCAN_KEYS:
        return None, False
    preds = []
    for k in keys:
        vals = {r[k] for r in rows}
        if None in vals:
            continue
        preds.append((k, "in", sorted(vals)))
    return (preds or None), False


def _plan_matched_scan(
    manifest: dict, root: str, source: DataFrame, keys: list[str]
) -> tuple[list[str] | None, dict]:
    """File list for the matched-position scan, pruned to the batch's
    keys when the batch is keyscan-small (the round-8 verdict's top
    item: without this the READ side is O(table) per batch even though
    the write side is O(batch)). Returns ``(rel_files | None,
    scan_meta)`` — None means 'scan everything' (keyscan over the
    cap); [] means the batch is empty or every file was pruned.
    Planned on the writer's own ``manifest``, so the commit's CAS
    covers the plan too."""
    preds, empty = _batch_key_predicates(source, keys)
    if empty:
        return [], {"keyscan": "empty_batch"}
    if preds is None:
        # over the cap, or every key column had NULL batch values
        return None, {"keyscan": "full"}
    plan = S.plan_scan(root, preds, manifest=manifest)
    return plan["files"], {
        "keyscan": "pruned",
        "scan_candidates": plan["candidates"],
        "scan_kept": len(plan["files"]),
    }


def _guarded(df: DataFrame, manifest: dict) -> DataFrame:
    """Stored CHECK constraints apply to every row the writer APPENDS
    (same gate write_snapshot uses) — no delete mode may be the route
    that sneaks a violating row past them."""
    stored = manifest.get("constraints", {})
    if not stored:
        return df
    from ..operators.constraints import guard_constraints

    return guard_constraints(df, stored)


def _load_guarded(root: str, op: str) -> tuple[dict, dict]:
    """The manifest and its current entry, for an op that scans data
    files by position: refuses an empty table and the layouts such a
    raw scan cannot read (renamed columns, initial defaults, mixed
    physical widths)."""
    manifest = S._load(root)
    if manifest["current"] is None:
        raise KeyError(f"table {root} has no snapshots; write_snapshot first")
    entry = S._entry(manifest, manifest["current"])
    S._guard_raw_layout(entry, op)
    return manifest, entry


def _commit_change(
    root: str,
    manifest: dict,
    entry: dict,
    op: str,
    meta: dict,
    marked: DataFrame | None,
    appended: DataFrame | None,
) -> int:
    """The merge-on-read half of the writer: ``marked``'s ``(_file,
    _pos)`` go to one sidecar, ``appended`` to one data dir, and ONE
    entry on top of ``entry`` carries both — atomic, through the one
    commit path, no data file rewritten. The entry's schema widens by
    any column ``appended`` carries beyond the table's
    (:func:`_changes`' evolve_schema). A change that marks and
    appends nothing and keeps the schema commits nothing and returns
    ``entry``'s id, unless ``meta`` is a sink's batch record."""
    dvs = list(entry.get("dvs", []))
    n_marked = 0
    if marked is not None:
        dv_dir, n_marked = _write_dv_sidecar(root, S._next_id(manifest), marked)
        if dv_dir is not None:
            dvs.append(dv_dir)
    schema, data_dir = entry["schema"], None
    if appended is not None:
        table_cols = {f["name"] for f in json.loads(schema)["fields"]}
        if set(appended.columns) - table_cols:
            schema = S._merge_append_schema(schema, appended.schema)
        data_dir = S._write_rows_dir(appended, root, manifest, op)
    if not (n_marked or data_dir or schema != entry["schema"] or S._is_batch_record(meta)):
        return entry["id"]
    return S._commit_entry(root, manifest, S._child_entry(
        manifest, op, entry, add_dir=data_dir, dvs=dvs, schema=schema,
        meta={**meta, "n_deleted": n_marked},
    ))


def _commit_purge(
    spark: SparkSession,
    root: str,
    manifest: dict,
    entry: dict,
    op: str,
    meta: dict,
    marked: DataFrame | None,
    appended: DataFrame | None,
    dropped: set[str],
    rest: Callable[[DataFrame], DataFrame],
) -> int:
    """The copy-on-write half of the writer: the files holding a
    ``marked`` row are read once more and their ``rest`` rows (the
    matcher's unmatched side) written with ``appended`` into one dir
    (:func:`_purged`), the ``dropped`` files leave unread and the rest
    carry over, through :func:`snapshots._commit_rewrite`. A change
    that commits also purges the carried files the entry's DVs mark
    (``_commit_rewrite``'s ``purge``): the entry carries no DV."""
    rewrite = set()
    if marked is not None:
        rewrite = {r[0] for r in marked.select("_file").distinct().collect()}
    rows = _purged(spark, root, entry, sorted(rewrite), rest) if rewrite else None
    if appended is not None:
        rows = appended if rows is None else rows.unionByName(
            appended, allowMissingColumns=True
        )
    keep: dict[str, list[str]] = {}
    for d, f in S._entry_units(root, manifest, entry):
        if (rel := os.path.join(d, f)) not in rewrite and rel not in dropped:
            keep.setdefault(d, []).append(f)

    def purge(keep: dict[str, list[str]]) -> DataFrame | None:
        old = S._read_dvs(spark, root, entry["dvs"])
        hit = {r[0] for r in old.select("file").distinct().collect()}
        files = [
            os.path.join(d, f) for d, fs in keep.items() for f in fs
            if os.path.join(d, f) in hit
        ]
        for rel in files:
            keep[os.path.dirname(rel)].remove(os.path.basename(rel))
        return _purged(spark, root, entry, files) if files else None

    dvs = entry.get("dvs") or []
    return S._commit_rewrite(
        root, manifest, entry, op, op, rows, keep,
        {**meta, "rewritten": sorted(rewrite), "dropped": len(dropped)},
        dvs=dvs, purge=purge if dvs else None,
    )


@S._retry_conflicts
def _write_changes(
    spark: SparkSession,
    root: str,
    mode: str,
    op: str,
    plan: Callable[[dict, dict, DataFrame | None], tuple],
    match: Callable[[DataFrame, DataFrame | None, str], DataFrame],
    post_state: Callable[[DataFrame | None, DataFrame | None], DataFrame] | None = None,
    batch: DataFrame | None = None,
    meta: dict | None = None,
    prepare: Callable[[dict, dict, list[str]], list[str]] | None = None,
) -> int:
    """The one row-level change writer (module docstring), on ONE
    manifest load per OCC attempt; the entry is named ``<op>_dv`` on
    merge-on-read, ``<op>`` on copy-on-write. ``prepare(manifest,
    entry, table_cols)`` checks the attempt and returns the ``batch``
    columns; ``plan(manifest, entry, batch)`` returns the files to scan
    (None: all), those the stats prove all-match (copy-on-write drops
    them unread) and the plan's commit meta; ``match(tagged, batch,
    how)`` keeps the matched rows of a scan (``how`` ``left_semi``; the
    writer's scan is position-tagged) or the rest (``left_anti``: the
    rows a copy-on-write rewrite keeps); ``post_state(matched, batch)`` builds the appended rows.
    The batch and, when a post-state reads them, the matched rows stay
    persisted for the call."""
    entry_op = f"{op}_dv" if mode == MOR else op
    manifest, entry = _load_guarded(root, entry_op)
    cols = [f["name"] for f in json.loads(entry["schema"])["fields"]]
    if prepare is not None:
        cols = prepare(manifest, entry, cols)
    src = None if batch is None else batch.select(*cols).persist()
    matched = None
    try:
        files, dropped, plan_meta = plan(manifest, entry, src)
        if files is None:
            files = [os.path.join(d, f) for d, f in S._entry_units(root, manifest, entry)]
        dropped = dropped if mode == COW else set()
        files = [f for f in files if f not in dropped]
        if files:
            raw = S._scan_entry_files(spark, entry, [os.path.join(root, f) for f in files])
            tagged = _minus_prior_dvs(spark, root, entry, _tag_positions(raw))
            matched = match(tagged, src, "left_semi")
            if post_state is not None:
                matched = matched.persist()
        appended = None
        if post_state is not None:
            appended = _guarded(post_state(matched, src), manifest)
        meta = {**(meta or {}), **plan_meta}
        if mode == MOR:
            return _commit_change(root, manifest, entry, entry_op, meta, matched, appended)
        return _commit_purge(
            spark, root, manifest, entry, entry_op, meta, matched, appended, dropped,
            lambda tagged: match(tagged, src, "left_anti"),
        )
    finally:
        if matched is not None:
            matched.unpersist()
        if src is not None:
            src.unpersist()


def _where(root: str, predicates: list[tuple], drop_all_match: bool = False) -> dict:
    """The predicate route's plan and matcher: the manifest stats prune
    the files, rows satisfying the conjunction match (NULL satisfies
    none). ``drop_all_match`` (a DELETE or replace, whose post-states
    read no matched row): files the stats prove all-match drop."""
    if not predicates:
        raise ValueError("predicates must be non-empty")

    def plan(manifest: dict, entry: dict, src) -> tuple:
        files = S.plan_scan(root, predicates, manifest=manifest)["files"]
        stats = manifest["dir_stats"]
        dropped = {
            rel for rel in files if drop_all_match and all(
                S._file_all_match(
                    stats.get(os.path.dirname(rel), {}).get(os.path.basename(rel), {}),
                    q[0], q[1], q[2] if len(q) == 3 else None,
                )
                for q in predicates
            )
        }
        return files, dropped, {
            "predicates": [S._json_safe_predicate(q) for q in predicates]
        }

    def match(tagged: DataFrame, src, how: str) -> DataFrame:
        hit = F.coalesce(S._conjunction(predicates), F.lit(False))
        return tagged.filter(hit if how == "left_semi" else ~hit)

    return {"plan": plan, "match": match}


def _update(
    root: str,
    predicates: list[tuple],
    set_exprs: dict[str, str],
    refuse_dvs: bool = False,
) -> dict:
    """The UPDATE ... SET ``set_exprs`` WHERE ``predicates`` route:
    every assignment evaluates against the OLD row (standard UPDATE
    semantics), cast to the column's type. ``refuse_dvs``: refuse an
    entry with deletion vectors (``snapshots.update_where``)."""
    unknown = [c for c in set_exprs if not c.isidentifier()]
    if not set_exprs or unknown:
        raise ValueError(f"set_exprs must be non-empty column->expr ({unknown=})")

    def prepare(manifest: dict, entry: dict, cols: list[str]) -> list[str]:
        if refuse_dvs:
            S._guard_no_dvs(entry, "update_where")
        # an all-files-pruned predicate must not let a typo'd column
        # name pass as a silent no-op
        bad = [c for c in set_exprs if c not in cols]
        if bad:
            raise ValueError(f"update_where: unknown columns {bad}")
        return cols

    def post_state(matched: DataFrame | None, src) -> DataFrame | None:
        if matched is None:
            return None
        rows = matched.drop("_file", "_pos")
        return rows.select(*[
            F.expr(set_exprs[c]).cast(rows.schema[c].dataType).alias(c)
            if c in set_exprs else F.col(c)
            for c in rows.columns
        ])

    return {
        **_where(root, predicates), "post_state": post_state,
        "prepare": prepare, "meta": {"set": dict(set_exprs)},
    }


def _keyed(
    root: str,
    keys: list[str],
    batch: DataFrame,
    match_keys: Callable[[DataFrame], DataFrame],
    post_state: Callable[[DataFrame | None, DataFrame], DataFrame],
    planned: tuple[list[str] | None, dict] | None = None,
) -> dict:
    """A keyed batch's route: target rows match ``match_keys(batch)``
    null-safe, in the keyscan's files (:func:`_plan_matched_scan`) or
    ``planned``'s, a keyscan the caller ran on the same snapshot."""

    def plan(manifest: dict, entry: dict, src: DataFrame) -> tuple:
        files, scan = planned or _plan_matched_scan(manifest, root, match_keys(src), keys)
        return files, set(), {"scan": scan}

    def match(tagged: DataFrame, src: DataFrame, how: str) -> DataFrame:
        kf = F.broadcast(match_keys(src))
        cond = functools.reduce(
            operator.and_, [tagged[k].eqNullSafe(kf[k]) for k in keys]
        )
        return tagged.join(kf, cond, how)

    return {"plan": plan, "match": match, "post_state": post_state, "batch": batch}


def delete_where_dv(
    spark: SparkSession, root: str, predicates: list[tuple]
) -> int:
    """Row-level DELETE as a deletion vector: mark every row matching
    ``predicates`` (the :func:`snapshots.plan_scan` conjunction
    grammar) deleted WITHOUT rewriting any data file. Only files the
    manifest stats cannot prune are even scanned, and only their
    matching positions are written. Already-deleted positions are
    never re-marked. Returns the new snapshot id (the unchanged
    current id when nothing matched — a no-op commits nothing)."""
    return _write_changes(spark, root, MOR, "delete", **_where(root, predicates))


@S._retry_conflicts
def rewrite_deletes(
    spark: SparkSession, root: str, min_deleted_frac: float = 0.0
) -> int:
    """Materialize the current snapshot's deletion vectors copy-on-write
    (Delta ``REORG TABLE ... APPLY (PURGE)``): files with NO deleted
    positions carry over VERBATIM (file-granular entry, zero I/O);
    files with deletes are read once, their surviving rows rewritten
    into one new dir (:func:`_purged`, the copy-on-write writer's
    purge). At the default ``min_deleted_frac=0.0`` every marked file
    purges and the committed entry carries no ``dvs`` — the
    raw-reading ops (replace_where & co.) work again.

    ``min_deleted_frac`` gates WHICH files rewrite (the Delta/Iceberg
    compaction threshold): only files whose deleted-row fraction is at
    least the threshold are rewritten — a single-row delete in a 100k-
    row file must not trigger a full-file rewrite at the next REORG.
    Surviving marks are consolidated into ONE fresh sidecar (so a
    thresholded run still collapses a deep DV stack to depth 1), and
    the entry keeps ``dvs``. A file with no recorded row count rewrites
    unconditionally (conservative: the threshold is an optimization).

    Returns the new snapshot id; unchanged current when no DVs are
    active, or when nothing crosses the threshold and the stack is
    already depth <= 1 (a no-op commits nothing)."""
    manifest, entry = _load_guarded(root, "rewrite_deletes")
    dvs = entry.get("dvs")
    if not dvs:
        return entry["id"]

    dv = S._read_dvs(spark, root, dvs)
    # per-file deleted counts are manifest-scale, not data-scale: one
    # groupBy over the KB sidecars
    per_file_deleted = {
        r["file"]: r["cnt"]
        for r in dv.groupBy("file").agg(F.count("*").alias("cnt")).collect()
    }

    dir_stats = manifest["dir_stats"]
    keep: dict[str, list[str]] = {}
    rewrite: list[str] = []
    keep_marked: list[str] = []  # marked files below the threshold
    for d, f in S._entry_units(root, manifest, entry):
        rel = os.path.join(d, f)
        n_del = per_file_deleted.get(rel, 0)
        if n_del:
            rows = S._file_rows(dir_stats.get(d, {}).get(f))
            if rows is None or rows <= 0 or n_del >= min_deleted_frac * rows:
                rewrite.append(rel)
                continue
            keep_marked.append(rel)
        keep.setdefault(d, []).append(f)

    if not rewrite and len(dvs) <= 1:
        return entry["id"]  # nothing to purge, stack already minimal

    survivors = _purged(spark, root, entry, rewrite) if rewrite else None

    new_dvs: list[str] = []
    if keep_marked:
        # consolidate the surviving marks into one sidecar for the new
        # snapshot (all marked positions of rewritten files are dropped
        # with their files)
        remaining = dv.filter(F.col("file").isin(keep_marked)).select(
            F.col("file").alias("_file"), F.col("pos").alias("_pos")
        )
        dv_dir, _n = _write_dv_sidecar(root, S._next_id(manifest), remaining)
        if dv_dir is not None:
            new_dvs = [dv_dir]

    meta = {
        "purged_dvs": list(dvs),
        "rewritten": sorted(rewrite),
        "kept_marked": len(keep_marked),
    }
    # row-preserving by construction (Delta marks REORG PURGE
    # dataChange=false too): every visible row of the parent is either
    # carried verbatim, rewritten minus ALREADY-DELETED positions, or
    # still marked by the consolidated sidecar — streams skip this
    # commit instead of refusing/re-emitting, which together with
    # compact's flag makes the whole maintain() choreography safe under
    # live consumers. Identity mapping is guarded above, so a skipping
    # stream's pinned projection stays valid.
    return S._commit_rewrite(
        root, manifest, entry, "rewrite_deletes", "purge", survivors, keep,
        meta, dvs=new_dvs, data_change=False,
    )


@S._retry_conflicts
def set_delete_mode(root: str, mode: str) -> None:
    """Table property choosing how row-level writes execute (Iceberg's
    ``write.delete.mode``): ``copy-on-write`` (rewrite the files a
    change touches) or ``merge-on-read`` (deletion vectors). Read by
    the SQL DELETE, UPDATE and MERGE routes (unset: copy-on-write) and
    by the streaming MERGE / APPLY CHANGES sinks (unset:
    merge-on-read); the Python APIs stay explicit."""
    if mode not in (COW, MOR):
        raise ValueError(
            f"delete mode must be copy-on-write|merge-on-read, got {mode!r}"
        )
    manifest = S._load(root)
    manifest["delete_mode"] = mode
    S._commit(root, manifest)


def delete_mode(root: str) -> str:
    return _mode_of(S._load(root))


def _mode_of(manifest: dict, default: str = COW) -> str:
    """:func:`delete_mode` read off an already-loaded ``manifest``;
    ``default`` when the property is unset."""
    return manifest.get("delete_mode", default)


def _merged_rows(
    matched: DataFrame | None, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """MERGE's post-state: per-column ``coalesce(source, target)`` for
    the batch's matched keys (``operators.upsert.merge_upsert``'s
    values: a source NULL keeps the target value), the batch row as-is
    for the rest. The matched target rows are what the batch bounds,
    so they are the broadcast side — a left outer join can build its
    right side, where a right outer join could not build the batch."""
    if matched is None:
        return batch
    cols = batch.columns
    t = matched.select(*cols).alias("t")
    s = batch.alias("s")
    cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
    return s.join(F.broadcast(t), cond, "left_outer").select(
        *[F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in cols]
    )


def merge_upsert_dv(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    meta: dict | None = None,
) -> int:
    """MERGE (WHEN MATCHED UPDATE source-wins-per-column / WHEN NOT
    MATCHED INSERT) as ONE merge-on-read commit: matched target rows
    are DV-deleted by position, their merged replacements plus the new
    keys append as one delta dir, and a single manifest entry carries
    both — atomic, exactly like ``operators.upsert.merge_upsert``'s
    values (per-column ``coalesce(source, target)``, pytest-pinned)
    but O(batch) writes and O(batch-touched files) reads. A NULL
    source key matches nothing (merge_upsert's equi-join), so its row
    inserts. ``meta`` rides the commit (the streaming sink's
    exactly-once batch id); the commit's ``meta["scan"]`` records
    candidates/kept so the pruning is observable per batch.

    Source must carry every table column and at most one row per key
    (pre-dedup by sequence column upstream, as the MERGE sink does)."""
    return _write_changes(
        spark, root, MOR, "merge", meta=meta, **_upsert(root, source, keys)
    )


def _upsert(root: str, source: DataFrame, keys: list[str]) -> dict:
    """:func:`merge_upsert_dv`'s route (also the MERGE sink's)."""
    return _keyed(
        root, keys, source,
        lambda b: b.select(*keys).dropna(subset=keys),
        lambda matched, b: _merged_rows(matched, b, keys),
    )


def _post_states(changes: DataFrame) -> DataFrame:
    """A CDC feed's post-state rows (insert / update_postimage),
    without ``_change_type`` — what the applier appends."""
    return changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")


def apply_changes_dv(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    keys: list[str],
    meta: dict | None = None,
    expected_base: int | None = None,
    evolve_schema: bool = False,
) -> int:
    """``operators.upsert.apply_changes`` (DLT APPLY CHANGES INTO —
    the CDC consumer that can DELETE) as one merge-on-read commit:
    every changed key's current row is DV-deleted by position (NULL
    keys match null-safe, apply_changes' anti-join contract), the
    feed's post-state rows (insert / update_postimage) append as one
    delta dir, and a single manifest entry carries both. O(feed)
    writes and O(feed-touched files) reads, like
    :func:`merge_upsert_dv`. Feed contract unchanged: table columns +
    ``_change_type``, at most one post-state per key. The arguments
    are :func:`_changes`'."""
    return _write_changes(
        spark, root, MOR, "apply_changes", meta=meta,
        **_changes(root, changes, keys, expected_base, evolve_schema),
    )


def _changes(
    root: str,
    changes: DataFrame,
    keys: list[str],
    expected_base: int | None = None,
    evolve_schema: bool = False,
    planned: tuple[list[str] | None, dict] | None = None,
) -> dict:
    """The CDC apply route (:func:`apply_changes_dv`, the SQL MERGE
    executor, the APPLY CHANGES sink).

    ``expected_base``: the snapshot the FEED's values were derived from
    (the SQL MERGE executor's ``SET c = t.c + 1`` reads the target).
    The commit refuses with :class:`~.snapshots.CommitConflict` when
    the head moved past it, since a stale-derived post-state would
    erase the concurrent commit; the caller must be a retry cycle that
    recomputes the feed each attempt. Leave None for an externally
    sourced feed (a CDC stream): the writer's own OCC retry is correct.
    ``planned``: that caller's keyscan (:func:`_keyed`).

    ``evolve_schema=True`` (Delta autoMerge): feed columns absent from
    the target WIDEN its schema in this same commit; pre-existing rows
    read NULL. Names whose physical storage lingers in old files
    (dropped or hidden partition columns) are refused — they need an
    explicit add_column's fresh physical name."""
    if "_change_type" not in changes.columns:
        raise ValueError("changes must carry _change_type (see cdc_diff)")

    def prepare(manifest: dict, entry: dict, cols: list[str]) -> list[str]:
        if expected_base is not None and manifest["current"] != expected_base:
            # gated on the manifest this attempt commits with, so
            # _commit's CAS covers the whole window
            raise S.CommitConflict(
                f"apply_changes: feed derived from snapshot "
                f"{expected_base} but current is {manifest['current']}; "
                "recompute the feed and retry"
            )
        extra = [
            c for c in changes.columns
            if evolve_schema and c not in cols and c != "_change_type"
        ]
        bad = [
            c for c in extra
            if c in set(manifest.get("retired_physical", []))
            or c in S._hidden_set(manifest)
        ]
        if bad:
            raise ValueError(
                f"apply_changes: cannot evolve schema with {bad} — "
                "their physical storage lingers in old files; "
                "add_column first (fresh physical name)"
            )
        missing = [c for c in cols if c not in changes.columns]
        if missing:
            raise ValueError(f"changes missing target columns {missing}")
        return cols + extra + ["_change_type"]

    return {
        **_keyed(
            root, keys, changes,
            lambda b: b.select(*keys).distinct(),
            lambda matched, b: _post_states(b),
            planned,
        ),
        "prepare": prepare,
    }


def maintain(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    keep_last: int = 2,
    older_than_s: float = 3 * 86400.0,
    max_dvs: int = 8,
    purge_min_frac: float = 0.1,
) -> dict:
    """One nightly table-maintenance call in DEPENDENCY order — the
    composition a pipeline owner schedules instead of remembering the
    choreography:

    1. ``rewrite_deletes`` when the DV stack exceeds ``max_dvs``
       (every read pays one union of all sidecars; the cost that grows
       is sidecar count and the footer reads, and compaction below
       REQUIRES a DV-free snapshot) — THRESHOLDED at
       ``purge_min_frac``: only files whose deleted fraction crosses it
       are rewritten (a 1-row delete in a 100k-row file must not cost a
       full-file rewrite), the rest keep their marks in ONE
       consolidated sidecar. Pass ``purge_min_frac=0.0`` for the
       unconditional REORG PURGE behavior;
    2. ``compact_files`` (binpack small files — guarded against DVs,
       hence the ordering; skipped while thresholded marks remain);
    3. ``vacuum`` (expire + orphan GC — runs last so the artifacts the
       earlier steps superseded are collectible immediately).

    Steps that don't apply (no DVs, nothing small, nothing expired)
    no-op. Returns what each step did. Every step is individually
    OCC-retried; a conflict mid-sequence leaves a consistent table."""
    out: dict = {}
    manifest = S._load(root)
    if manifest["current"] is not None:
        entry = S._entry(manifest, manifest["current"])
        if len(entry.get("dvs", [])) > max_dvs:
            out["purged_snapshot"] = rewrite_deletes(
                spark, root, min_deleted_frac=purge_min_frac
            )
        # ONE load for the compact gate: two loads in one expression
        # race a concurrent commit into _entry(old_manifest, new_id)
        fresh = S._load(root)
        if not S._entry(fresh, fresh["current"]).get("dvs"):
            out["compact_snapshot"] = S.compact_files(
                spark, root, target_bytes=target_bytes
            )
    out["vacuumed"] = S.vacuum(
        root, keep_last=keep_last, older_than_s=older_than_s
    )
    return out
