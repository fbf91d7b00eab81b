"""Streaming TABLE source: ``spark.readStream`` over a snapshot
table's commit log — Delta's streaming-table source / Iceberg's
incremental read, built on PySpark 4's Python DataSource API.

The reference's streaming job tails a Kafka topic and MERGEs into the
lakehouse (streaming_flow.py:170-238); the missing half of that story
is reading a lakehouse TABLE as a stream, so a downstream gold job can
tail the silver table itself instead of re-subscribing to the broker.
This module provides it for the repo's snapshot tables:

    df = read_table_stream(spark, root)          # helper, or
    spark.dataSource.register(TableStreamDataSource)
    df = (spark.readStream.format("snapshot_table")
          .option("path", root).load())

Semantics (Delta streaming-source parity):

- The FIRST micro-batch emits the table's full contents as of the
  stream's start (deletion vectors applied — a DV-deleted row is not
  resurrected); every later batch emits exactly the files APPENDED by
  each subsequent commit, walked along the main-branch ancestry.
  Offsets are ``{"snapshot_id": N}`` — checkpointed by Spark, so a
  restart resumes after the last committed snapshot, exactly once.
- ``startingSnapshotId``: consume only commits AFTER this snapshot
  (exclusive base — the "tail only" mode; Delta's ``startingVersion``
  shifted by one). The id must be on the main ancestry.
- A commit marked ``data_change=False`` (compact_files /
  optimize_zorder — row-preserving maintenance rewrites, Delta's
  ``dataChange=false``) is SKIPPED silently in every mode: it changes
  file layout, never the visible row multiset, so there is nothing to
  emit and nothing to refuse — OPTIMIZE is safe under live consumers.
  Any other commit that REMOVES files (replace_where, overwrite,
  rollback) is not an append: the stream REFUSES with the offending
  snapshot id unless ``ignoreChanges=true`` (then its added files
  still emit — rewritten rows re-appear, exactly Delta's documented
  ignoreChanges contract). A commit that only adds deletion vectors is
  a row-level DELETE: refused unless ``ignoreDeletes=true`` (or
  ignoreChanges, which implies it). Either way the stream never
  silently drops or duplicates an APPEND.
- DVs committed in the SAME snapshot as an added file (a writer
  marking rows of its own delta) are applied to that file at read
  time, never refused — they delete rows the stream has not emitted.
- ``maxCommitsPerTrigger``: at most N commits per micro-batch, from
  the SECOND trigger of a run onward — the Python DataSource offset
  API has no admission control (Spark calls ``latestOffset()`` before
  ``initialOffset()`` and never passes the consumed position), so the
  first tailing batch of a RESTART is unthrottled; capping it against
  a guessed base could plan an offset BEHIND the checkpoint and
  corrupt the stream. A steady-state tailer is throttled on every
  batch.
- ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``: split the INITIAL
  snapshot across triggers, at most N files (and/or ~N bytes — the
  file that crosses the budget is included, and every trigger advances
  at least one file) per micro-batch (Delta's options, scoped here to
  the backfill phase — the batch that would otherwise emit 100 TB in
  one go). With skewed file sizes the byte budget is the meaningful
  cap; the two compose (whichever limits first). Offsets during the phase carry ``init_files`` (how many of the
  snapshot's canonically-ordered files are consumed); a restart
  resumes mid-phase exactly-once. Safe on the FIRST trigger too, by
  PROOF rather than guesswork: on probed Spark versions the engine
  call order (pinned by tests/test_table_stream.py —
  latestOffset->initialOffset on a fresh stream,
  partitions(checkpoint)->latestOffset on a restart) makes an unset
  reader base at latestOffset-time prove a fresh stream; on ANY other
  version, duplicate the query's ``checkpointLocation`` into the
  READER options and the source probes the offset WAL directly — no
  entries proves fresh (slice trigger 1), a parseable newest entry
  proves the restart position (throttle even the restart's first
  batch). With neither proof the first trigger falls back to the full
  snapshot — always safe, merely unsliced — and warns once. Tailing
  commits stay whole-commit granular (throttle those with
  maxCommitsPerTrigger).
- ``readChangeFeed=true``: changelog mode (Delta CDF streaming /
  ``table_changes`` parity, keyless file-granular semantics): every
  batch emits ``_change_type`` rows — the initial snapshot and
  appended files as ``'insert'``, rows marked by NEW deletion vectors
  on already-emitted files as ``'delete'`` (their pre-delete values,
  read by position), so a merge-on-read upsert arrives as the
  delete+insert pair whose multiset equals the batch
  ``snapshot_changes`` feed on the same commit. File-REMOVING commits
  that change data (replace_where / overwrite / rollback) refuse
  regardless of ignore options — a rewrite has no file-granular
  changelog; use batch ``snapshot_changes`` across it or restart the
  feed. ``data_change=False`` maintenance commits skip silently here
  too (their changelog is empty by definition).
  ``_commit_version`` is always included in this mode.
- ``withCommitVersion=true`` appends a ``_commit_version`` long column
  (which snapshot added each row — the changelog join key downstream
  IVM consumers use).

Scale design: planning is manifest-only (no data I/O on the driver
beyond KB-scale DV sidecars); each micro-batch becomes one
InputPartition PER FILE, read executor-side with pyarrow and shipped
to the JVM as Arrow batches — no Python row loop, and a 10k-file
backfill fans out across the cluster like any parquet scan. Schema is
the CURRENT table schema: older files missing later-added columns pad
nulls (the snapshot read contract); dropped/hidden partition columns
in the files are pruned before the batch leaves the worker.

Vacuum interplay: offsets pin snapshots, but ``vacuum``/``expire`` can
GC a lagging stream's unread files — the read then fails loudly
(FileNotFoundError), never returns partial data. Keep ``keep_last``
above the consumer lag, as with Delta's checkpoint-retention rule.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..sources import snapshots as S

_COMMIT_COL = "_commit_version"
_CHANGE_COL = "_change_type"


#: Spark major.minor versions whose Python-DataSource streaming call
#: order has been PROBED and pinned by tests/test_table_stream.py:
#: fresh stream = latestOffset -> initialOffset -> partitions, restart
#: = partitions(checkpoint) -> latestOffset. Only under that order does
#: "reader base unset at latestOffset-time" PROVE a fresh stream — the
#: soundness condition for throttling the very first trigger's
#: initial-snapshot slice (maxFilesPerTrigger).
_PROBED_CALL_ORDER_SPARK = frozenset({"4.1"})


def _trigger1_slice_safe() -> bool:
    """May the reader start a maxFilesPerTrigger initial-snapshot slice
    from an UNSET base on call-order grounds alone? True only on Spark
    versions whose engine call order is probed/pinned. On other
    versions the reader still slices trigger 1 when it can PROVE the
    stream state instead: pass the query's ``checkpointLocation`` as a
    reader option and :meth:`_TableStreamReader._resolve_unknown_base`
    inspects the offset WAL directly — no committed offsets proves a
    fresh stream, a parseable newest entry proves the restart position.
    Only when neither proof is available does the first trigger stay
    unthrottled (safe: a full-snapshot offset can never plan behind a
    restart checkpoint, while a mis-guessed init slice could)."""
    import pyspark

    return ".".join(
        pyspark.__version__.split(".")[:2]
    ) in _PROBED_CALL_ORDER_SPARK


def _last_checkpoint_offset(ckpt_loc: str):
    """Inspect a Structured Streaming checkpoint's offset WAL (the
    ``offsets/`` HDFSMetadataLog) for this source's newest planned
    offset. Returns:

    - ``"empty"`` — no WAL entries at all: PROVEN fresh stream;
    - an offset dict — exactly one ``snapshot_id`` offset line in the
      newest entry: the PROVEN stream position (if that batch is
      uncommitted the engine replays it to exactly this end first, so
      planning forward from it is sound either way);
    - ``None`` — unreadable or ambiguous (several snapshot_table
      sources in one query): caller must fall back to the unthrottled
      first batch.

    WAL entry format (stable across 3.x/4.x): line 1 the ``v1``
    version header, line 2 the batch metadata JSON, then one offset
    line per source."""
    odir = os.path.join(ckpt_loc, "offsets")
    try:
        names = [n for n in os.listdir(odir) if n.isdigit()]
    except (FileNotFoundError, NotADirectoryError):
        return "empty"
    except OSError:
        return None
    if not names:
        return "empty"
    try:
        with open(os.path.join(odir, max(names, key=int))) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
    except OSError:
        return None
    cands = []
    for ln in lines[1:]:
        if "snapshot_id" not in ln:
            continue
        try:
            obj = json.loads(ln)
            if isinstance(obj, str):  # doubly-encoded offset payload
                obj = json.loads(obj)
        except ValueError:
            continue
        if isinstance(obj, dict) and "snapshot_id" in obj:
            cands.append(obj)
    return cands[0] if len(cands) == 1 else None


def _opt(options, name, default=None):
    """Python-DataSource options arrive lower-cased through the JVM
    option path; accept either spelling."""
    for k in (name, name.lower()):
        if k in options:
            return options[k]
    return default


def _root_opt(options):
    """The table root. ``tableRoot`` wins over ``path``: for CATALOG
    tables (``CREATE TABLE ... USING snapshot_table``) Spark injects
    its own ``path`` option pointing at the warehouse location, so the
    root must ride a name Spark does not own."""
    return _opt(options, "tableRoot") or _opt(options, "path")


def _bool_opt(options, name) -> bool:
    return str(_opt(options, name, "false")).strip().lower() in (
        "true", "1", "yes",
    )


def _current_mapping(manifest: dict) -> dict:
    if manifest["current"] is None:
        return {}
    return dict(S._entry(manifest, manifest["current"]).get("mapping", {}))


def _entry_defaults(entry: dict) -> dict:
    """{logical name: (initial_default, frozenset(default_dirs))} for
    ADD COLUMN ... DEFAULT fields — rows in pre-ADD dirs read the
    default (see snapshots.add_column)."""
    out = {}
    for f in json.loads(entry["schema"])["fields"]:
        meta = f.get("metadata") or {}
        if "initial_default" in meta:
            out[f["name"]] = (
                meta["initial_default"],
                frozenset(meta.get("default_dirs", [])),
            )
    return out


def _current_defaults(manifest: dict) -> dict:
    if manifest["current"] is None:
        return {}
    return _entry_defaults(S._entry(manifest, manifest["current"]))


def _table_schema(
    manifest: dict,
    with_commit_version: bool,
    with_change_type: bool = False,
) -> T.StructType:
    if manifest["current"] is None:
        raise ValueError("cannot stream an empty table: no snapshots yet")
    entry = S._entry(manifest, manifest["current"])
    struct = T.StructType.fromJson(json.loads(entry["schema"]))
    hidden = S._hidden_set(manifest)
    fields = [f for f in struct.fields if f.name not in hidden]
    if with_change_type:
        fields.append(T.StructField(_CHANGE_COL, T.StringType(), False))
    if with_commit_version:
        fields.append(T.StructField(_COMMIT_COL, T.LongType(), False))
    return T.StructType(fields)


def _chain(manifest: dict, start_id, end_id: int) -> list[dict]:
    """Manifest entries from just after ``start_id`` up to ``end_id``,
    oldest first, walked via parent pointers (committed ancestry is
    immutable, so any two offsets from one stream resolve the same
    chain forever)."""
    by_id = {s["id"]: s for s in manifest["snapshots"]}
    out, cur = [], end_id
    while cur is not None and cur != start_id:
        if cur not in by_id:
            raise ValueError(
                f"snapshot {cur} is not in the manifest (expired under a "
                "lagging stream, or offset from a different table)"
            )
        out.append(by_id[cur])
        cur = by_id[cur].get("parent")
    if cur != start_id:
        raise ValueError(
            f"offset snapshot {start_id} is not an ancestor of {end_id}; "
            "the table history was rewritten under the stream"
        )
    out.reverse()
    return out


def _dv_positions(root: str, dv_dirs: list[str]) -> dict[str, list[int]]:
    """(file -> deleted positions) from DV sidecar dirs. Sidecars are
    KB-scale by design (sources/deletes.py) — a driver-side read."""
    pos: dict[str, list[int]] = {}
    for d in dv_dirs:
        full = os.path.join(root, d)
        names = [n for n in os.listdir(full) if n.endswith(".parquet")]
        if not names:
            continue
        tbl = pq.read_table(
            [os.path.join(full, n) for n in names], columns=["file", "pos"]
        )
        for f, p in zip(
            tbl.column("file").to_pylist(), tbl.column("pos").to_pylist()
        ):
            pos.setdefault(f, []).append(p)
    return pos


class _FilePartition(InputPartition):
    """One data file of one commit: absolute path, the commit id that
    added it, and the positions its snapshot's DVs mark deleted.
    ``change_type``: ``'insert'`` emits the file's rows MINUS
    ``deleted_pos``; ``'delete'`` (changelog mode) emits exactly the
    rows AT ``emit_pos`` — the newly DV-deleted positions of an
    already-emitted file, carrying their pre-delete values."""

    def __init__(
        self,
        path: str,
        commit_id: int,
        deleted_pos: list[int],
        change_type: str = "insert",
        emit_pos: list[int] | None = None,
    ):
        self.path = path
        self.commit_id = commit_id
        self.deleted_pos = deleted_pos
        self.change_type = change_type
        self.emit_pos = emit_pos


class _TableStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.root = _root_opt(options)
        if not self.root:
            raise ValueError("snapshot_table requires .option('path', root)")
        self.ignore_changes = _bool_opt(options, "ignoreChanges")
        self.ignore_deletes = self.ignore_changes or _bool_opt(
            options, "ignoreDeletes"
        )
        self.change_feed = _bool_opt(options, "readChangeFeed")
        self.with_commit = self.change_feed or _bool_opt(
            options, "withCommitVersion"
        )
        raw = _opt(options, "maxCommitsPerTrigger")
        self.max_commits = int(raw) if raw is not None else None
        if self.max_commits is not None and self.max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        raw = _opt(options, "maxFilesPerTrigger")
        self.max_files = int(raw) if raw is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        raw = _opt(options, "maxBytesPerTrigger")
        self.max_bytes = int(raw) if raw is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        # the query's checkpoint location, duplicated into the READER
        # options: lets an unset base resolve by PROOF (offset-WAL
        # probe) instead of by engine-call-order inference — the
        # version-independent path to a throttled first trigger
        self.ckpt_loc = _opt(options, "checkpointLocation")
        self._warned_unsliced = False
        start = _opt(options, "startingSnapshotId")
        # arrow target for executor-side alignment (picklable, tiny);
        # the column mapping pins logical->physical file names as of
        # stream start (physical names are stable across renames)
        manifest = S._load(self.root)
        if start is not None and str(start).strip().lower() == "latest":
            # Delta's startingVersion=latest: skip the table's existing
            # contents, tail only commits made after the stream starts.
            # Resolved ONCE here; the checkpoint then owns the position.
            self.starting_id = manifest["current"]
        else:
            self.starting_id = int(start) if start is not None else None
        if self.starting_id is not None:
            _chain(manifest, None, self.starting_id)  # must be ancestry
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema = to_arrow_schema(
            _table_schema(manifest, self.with_commit, self.change_feed)
        )
        self._physical = _current_mapping(manifest)
        self._defaults = _current_defaults(manifest)

    # -- offsets ------------------------------------------------------
    #: Throttles live in latestOffset (never in partitions: Spark
    #: checkpoints the END offset latestOffset returned, so shrinking
    #: the plan there would skip data forever). The reader tracks the
    #: last offset it planned (``_planned``). Engine call order, pinned
    #: by tests: a FRESH stream goes latestOffset -> initialOffset ->
    #: partitions, a RESTART goes partitions(checkpoint) ->
    #: latestOffset — so an UNSET base at latestOffset-time proves the
    #: base is this reader's own initial offset, which makes the
    #: initial-snapshot slice (maxFilesPerTrigger) safe on the very
    #: first trigger. The first TAILING batch after a restart stays
    #: unthrottled by maxCommitsPerTrigger only when partitions was
    #: not replayed first (not observed); exactly-once holds
    #: regardless.
    _UNKNOWN = object()

    def initialOffset(self):
        self._planned = {"snapshot_id": self.starting_id}
        return {"snapshot_id": self.starting_id}

    def _init_units(self, manifest: dict, sid: int) -> list:
        """The pinned initial snapshot's (dir, file) units in canonical
        order — the SAME order partitions() slices — cached per sid so
        byte-budget walks don't re-sort every trigger."""
        cached = getattr(self, "_init_cache", None)
        if cached is not None and cached[0] == sid:
            return cached[1]
        units = sorted(
            S._entry_units(self.root, manifest, S._entry(manifest, sid))
        )
        self._init_cache = (sid, units)
        return units

    def _resolve_unknown_base(self):
        """Interpret an UNSET reader base at latestOffset-time.
        Returns ``(base, proven)``; ``proven=False`` means neither the
        engine call order nor a checkpoint probe could establish the
        stream state, so throttling must not start an init slice (a
        mis-guessed slice could plan an offset BEHIND a restart's
        checkpoint — the one unsound outcome).

        Proof sources, in order: (1) the probed engine call order
        (unset-at-latestOffset == fresh on pinned Spark versions);
        (2) the query's offset WAL via the ``checkpointLocation``
        reader option — no entries proves FRESH, a parseable newest
        entry proves the exact restart position (and then even the
        restart's first batch throttles, which call-order proof alone
        cannot offer)."""
        initial = {"snapshot_id": self.starting_id}
        if _trigger1_slice_safe():
            return initial, True
        if self.ckpt_loc:
            off = _last_checkpoint_offset(self.ckpt_loc)
            if off == "empty":
                return initial, True
            if isinstance(off, dict):
                return off, True
        return initial, False

    def latestOffset(self):
        manifest = S._load(self.root)
        cur = manifest["current"]
        if cur is None:
            return {"snapshot_id": self.starting_id}
        base = getattr(self, "_planned", self._UNKNOWN)
        unproven_fresh = False
        if base is self._UNKNOWN:
            base, proven = self._resolve_unknown_base()
            unproven_fresh = not proven
        base_sid = base["snapshot_id"]
        in_init = base_sid is None or "init_files" in base
        throttled_init = (
            self.max_files is not None or self.max_bytes is not None
        )
        if (
            throttled_init and in_init and unproven_fresh
            and not self._warned_unsliced
        ):
            # the silent behavior cliff on unprobed Spark versions,
            # made observable (one-time): the FIRST batch will emit
            # the whole initial snapshot despite max*PerTrigger
            import warnings

            warnings.warn(
                "snapshot_table: cannot prove this stream is fresh "
                "(engine call order unprobed on this Spark version and "
                "no usable checkpointLocation reader option), so "
                "maxFilesPerTrigger/maxBytesPerTrigger will NOT slice "
                "the first trigger — it emits the full initial "
                "snapshot. Pass the query's checkpointLocation as a "
                "READER option to restore first-trigger slicing.",
                stacklevel=2,
            )
            self._warned_unsliced = True
        if throttled_init and in_init and not unproven_fresh:
            # initial-snapshot slicing: the phase pins ONE snapshot and
            # walks its canonical file order in maxFilesPerTrigger /
            # maxBytesPerTrigger steps (whichever caps first; the file
            # that crosses the byte budget is included, and every
            # trigger advances >= 1 file); tail commits plan only after
            # the phase completes
            sid = base_sid if base_sid is not None else cur
            units = self._init_units(manifest, sid)
            total = len(units)
            done = base.get("init_files", 0)
            k = (
                total
                if self.max_files is None
                else min(done + self.max_files, total)
            )
            if self.max_bytes is not None:
                budget, j = self.max_bytes, done
                while j < k:
                    try:
                        sz = os.path.getsize(
                            os.path.join(self.root, *units[j])
                        )
                    except OSError:
                        sz = 0
                    budget -= sz
                    j += 1
                    if budget <= 0:
                        break
                k = max(j, min(done + 1, total))
            if k < total:
                return {"snapshot_id": sid, "init_files": k}
            return {"snapshot_id": sid}
        if (
            self.max_commits is not None
            and base_sid is not None
            and not in_init
            and base_sid != cur
        ):
            try:
                chain = _chain(manifest, base_sid, cur)
            except ValueError:
                return {"snapshot_id": cur}  # partitions() raises loudly
            cur = chain[min(self.max_commits, len(chain)) - 1]["id"]
        return {"snapshot_id": cur}

    # -- planning (driver) --------------------------------------------
    def partitions(self, start, end):
        start_id, end_id = start["snapshot_id"], end["snapshot_id"]
        self._planned = dict(end)
        if end_id is None or start == end:
            return []
        manifest = S._load(self.root)
        parts: list[_FilePartition] = []
        # initial-snapshot phase: files [init_from:hi] of the pinned
        # snapshot in canonical order (a maxFilesPerTrigger slice, or
        # the whole snapshot when unthrottled)
        pinned = None
        init_from = 0
        if start_id is None:
            pinned = end_id
        elif "init_files" in start:
            pinned = start_id
            init_from = start["init_files"]
        if pinned is not None:
            entry = S._entry(manifest, pinned)
            units = sorted(S._entry_units(self.root, manifest, entry))
            hi = (
                end["init_files"]
                if end_id == pinned and "init_files" in end
                else len(units)
            )
            dv_pos = _dv_positions(self.root, entry.get("dvs", []))
            for d, f in units[init_from:hi]:
                key = f"{d}/{f}"
                parts.append(_FilePartition(
                    os.path.join(self.root, d, f), pinned,
                    sorted(dv_pos.get(key, [])),
                ))
            if end_id == pinned:
                return parts
            start_id = pinned  # phase done; tail pinned -> end below
        for parent, entry in _pairwise_chain(manifest, start_id, end_id):
            if entry.get("data_change", True) is False:
                # row-preserving maintenance rewrite (compact / ZORDER,
                # Delta's dataChange=false): the visible row multiset is
                # the parent's exactly, so BOTH modes skip it silently —
                # nothing to emit, nothing to refuse. Later commits diff
                # against ITS file set (the generator already advanced
                # parent), so rewritten rows never re-emit. This is what
                # lets OPTIMIZE run under live consumers.
                continue
            old = set(S._entry_units(self.root, manifest, parent))
            new = set(S._entry_units(self.root, manifest, entry))
            removed = old - new
            if removed and (self.change_feed or not self.ignore_changes):
                hint = (
                    "the changelog cannot express a file rewrite — read "
                    "across it with batch snapshot_changes, or restart "
                    "the feed from a fresh checkpoint"
                    if self.change_feed
                    else "Restart from a fresh checkpoint, or set "
                    ".option('ignoreChanges','true') to keep tailing "
                    "appends (rewritten rows will re-appear)."
                )
                raise ValueError(
                    f"snapshot {entry['id']} (op={entry.get('op')!r}) "
                    f"removed {len(removed)} file(s) — not an append. "
                    + hint
                )
            added = sorted(new - old)
            added_keys = {f"{d}/{f}" for d, f in added}
            new_dvs = [
                d for d in entry.get("dvs", [])
                if d not in parent.get("dvs", [])
            ]
            dv_pos: dict[str, list[int]] = {}
            if new_dvs:
                dv_pos = _dv_positions(self.root, new_dvs)
                outside = [k for k in dv_pos if k not in added_keys]
                if outside and self.change_feed:
                    # changelog mode: DV-deleted rows of already-emitted
                    # files EMIT as 'delete' rows (pre-delete values,
                    # read by position) instead of refusing
                    for key in sorted(outside):
                        d, f = key.split("/", 1)
                        parts.append(_FilePartition(
                            os.path.join(self.root, d, f), entry["id"],
                            [], change_type="delete",
                            emit_pos=sorted(dv_pos[key]),
                        ))
                elif outside and not self.ignore_deletes:
                    raise ValueError(
                        f"snapshot {entry['id']} (op={entry.get('op')!r}) "
                        f"deleted rows from {len(outside)} already-"
                        "emitted file(s) via deletion vectors. Set "
                        ".option('ignoreDeletes','true') to keep "
                        "tailing appends past row-level deletes."
                    )
            for d, f in added:
                key = f"{d}/{f}"
                parts.append(_FilePartition(
                    os.path.join(self.root, d, f), entry["id"],
                    sorted(dv_pos.get(key, [])),
                ))
        return parts

    # -- execution (workers) ------------------------------------------
    def read(self, partition):
        if partition is None:
            # Spark plans one None partition when partitions() returns
            # none: an entry with no files, or every file pruned
            return
        tbl = pq.read_table(partition.path)
        if getattr(partition, "emit_pos", None) is not None:
            # changelog 'delete' partition: emit exactly the rows at
            # the newly DV-marked positions (their pre-delete values —
            # sound because writers anti-join prior DVs, so a marked
            # position was visible until this commit)
            tbl = tbl.take(pa.array(partition.emit_pos, type=pa.int64()))
        elif partition.deleted_pos:
            import numpy as np

            mask = np.ones(len(tbl), dtype=bool)
            mask[np.asarray(partition.deleted_pos, dtype=np.int64)] = False
            tbl = tbl.filter(pa.array(mask))
        cols = []
        for field in self._arrow_schema:
            if field.name == _COMMIT_COL:
                cols.append(pa.array(
                    [partition.commit_id] * len(tbl), type=field.type
                ))
            elif field.name == _CHANGE_COL:
                cols.append(pa.array(
                    [getattr(partition, "change_type", "insert")] * len(tbl),
                    type=field.type,
                ))
            elif (phys := self._physical.get(field.name, field.name)) in tbl.column_names:
                cols.append(tbl.column(phys).cast(field.type))
            else:  # column added after this file was written
                dflt = getattr(self, "_defaults", {}).get(field.name)
                file_dir = os.path.basename(os.path.dirname(partition.path))
                if dflt is not None and file_dir in dflt[1]:
                    cols.append(
                        pa.array([dflt[0]] * len(tbl)).cast(field.type)
                    )
                else:
                    cols.append(pa.nulls(len(tbl), type=field.type))
        yield from pa.table(
            cols, schema=self._arrow_schema
        ).to_batches(max_chunksize=1 << 16)

    def commit(self, end):
        pass  # offsets live in Spark's checkpoint; nothing table-side


def _pairwise_chain(manifest, start_id, end_id):
    chain = _chain(manifest, start_id, end_id)
    parent = S._entry(manifest, start_id)
    for entry in chain:
        yield parent, entry
        parent = entry


class _TableBatchReader(DataSourceReader):
    """Batch read through the same per-file Arrow partitions: the
    snapshot pinned by ``snapshotId`` (default current), DVs applied —
    ``spark.read.format("snapshot_table")`` parity so one registration
    serves both engines. ``read_snapshot`` stays the native batch path;
    this exists so DataSource-API consumers see one format name."""

    def __init__(self, options):
        self.root = _root_opt(options)
        if not self.root:
            raise ValueError("snapshot_table requires .option('path', root)")
        if _bool_opt(options, "withCommitVersion"):
            raise ValueError(
                "withCommitVersion is a streaming option; batch reads "
                "have no per-row commit attribution"
            )
        if _bool_opt(options, "readChangeFeed"):
            raise ValueError(
                "readChangeFeed is a streaming option; for a batch "
                "changelog use snapshots.snapshot_changes / "
                "TABLE_CHANGES(t, from, to)"
            )
        raw = _opt(options, "snapshotId")
        self.snapshot_id = int(raw) if raw is not None else None
        manifest = S._load(self.root)
        from pyspark.sql.pandas.types import to_arrow_schema

        if self.snapshot_id is not None:
            entry = S._entry(manifest, self.snapshot_id)
            import pyspark.sql.types as _T

            struct = _T.StructType.fromJson(json.loads(entry["schema"]))
            hidden = S._hidden_set(manifest)
            struct = _T.StructType(
                [f for f in struct.fields if f.name not in hidden]
            )
            self._arrow_schema = to_arrow_schema(struct)
            self._physical = dict(entry.get("mapping", {}))
            self._defaults = _entry_defaults(entry)
        else:
            self._arrow_schema = to_arrow_schema(_table_schema(manifest, False))
            self._physical = _current_mapping(manifest)
            self._defaults = _current_defaults(manifest)

    def partitions(self):
        manifest = S._load(self.root)
        sid = self.snapshot_id or manifest["current"]
        entry = S._entry(manifest, sid)
        dv_pos = _dv_positions(self.root, entry.get("dvs", []))
        return [
            _FilePartition(
                os.path.join(self.root, d, f), sid,
                sorted(dv_pos.get(f"{d}/{f}", [])),
            )
            for d, f in S._entry_units(self.root, manifest, entry)
        ]

    read = _TableStreamReader.read  # same file->aligned-Arrow kernel


class _TablePruningBatchReader(_TableBatchReader):
    """Batch reader with Python-DataSource filter pushdown (Spark
    4.1's ``pushFilters``): conjunctive predicates on top-level
    columns route into :func:`snapshots.plan_scan`'s manifest-stats +
    Bloom-index file pruning, so ARBITRARY ``spark.sql`` over a
    registered snapshot view opens only may-match files — the file
    skipping previously reserved for the routed ``SELECT ... WHERE``
    grammar. Every filter is returned to Spark for re-evaluation on
    the surviving rows (pruning is the sound superset the
    manifest-stats contract guarantees), so unsupported or partially
    usable predicates are never wrong, just unpruned.

    Selected via ``.option('pushdown', 'true')`` — implementing
    ``pushFilters`` makes Spark REFUSE reads unless
    ``spark.sql.python.filterPushdown.enabled`` is on (default off in
    4.1), so the plain reader stays the default and
    ``register_snapshot_views`` sets the conf when it binds these."""

    #: Spark Filter class name -> plan_scan op
    _OP_MAP = {
        "EqualTo": "=",
        "GreaterThan": ">",
        "GreaterThanOrEqual": ">=",
        "LessThan": "<",
        "LessThanOrEqual": "<=",
    }

    def __init__(self, options):
        super().__init__(options)
        self._pushed: list[tuple] = []

    @staticmethod
    def _usable_value(v) -> bool:
        import datetime as _dt

        # bool excluded (int subclass; footer-stats bounds don't order
        # it usefully and the bloom probe would type-mismatch)
        return not isinstance(v, bool) and isinstance(
            v, (int, float, str, _dt.date, _dt.datetime)
        )

    def pushFilters(self, filters):
        for f in filters:
            name = type(f).__name__
            attr = getattr(f, "attribute", None)
            if isinstance(attr, tuple) and len(attr) == 1:
                # physical name: footer stats are recorded under the
                # file's column names (identity unless renamed)
                col = self._physical.get(attr[0], attr[0])
                if name in self._OP_MAP and self._usable_value(
                    getattr(f, "value", None)
                ):
                    self._pushed.append((col, self._OP_MAP[name], f.value))
                elif name == "In" and all(
                    self._usable_value(v) for v in (f.value or ())
                ) and f.value:
                    self._pushed.append((col, "in", list(f.value)))
                elif name == "IsNull":
                    self._pushed.append((col, "is_null"))
                elif name == "IsNotNull":
                    self._pushed.append((col, "not_null"))
            yield f  # Spark evaluates everything; we only prune files

    def partitions(self):
        if not self._pushed:
            return super().partitions()
        manifest = S._load(self.root)
        sid = self.snapshot_id or manifest["current"]
        plan = S.plan_scan(self.root, self._pushed, snapshot_id=sid, manifest=manifest)
        keep = set(plan["files"])
        entry = S._entry(manifest, sid)
        dv_pos = _dv_positions(self.root, entry.get("dvs", []))
        return [
            _FilePartition(
                os.path.join(self.root, d, f), sid,
                sorted(dv_pos.get(f"{d}/{f}", [])),
            )
            for d, f in S._entry_units(self.root, manifest, entry)
            if os.path.join(d, f) in keep
        ]


class TableStreamDataSource(DataSource):
    """``format("snapshot_table")`` — see module docstring for the
    option surface (path, startingSnapshotId, ignoreDeletes,
    ignoreChanges, maxCommitsPerTrigger, withCommitVersion; batch reads
    take ``snapshotId``)."""

    @classmethod
    def name(cls):
        return "snapshot_table"

    def schema(self):
        root = _root_opt(self.options)
        if not root:
            raise ValueError("snapshot_table requires .option('path', root)")
        change_feed = _bool_opt(self.options, "readChangeFeed")
        return _table_schema(
            S._load(root),
            change_feed or _bool_opt(self.options, "withCommitVersion"),
            change_feed,
        )

    def reader(self, schema):
        if _bool_opt(self.options, "pushdown"):
            return _TablePruningBatchReader(self.options)
        return _TableBatchReader(self.options)

    def streamReader(self, schema):
        return _TableStreamReader(self.options)


def read_table_stream(
    spark: SparkSession, root: str, **options
) -> DataFrame:
    """Register the source and open the stream:
    ``read_table_stream(spark, root, ignoreDeletes="true")``."""
    spark.dataSource.register(TableStreamDataSource)
    reader = spark.readStream.format("snapshot_table").option("path", root)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
