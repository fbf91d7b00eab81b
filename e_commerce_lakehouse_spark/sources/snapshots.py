"""Snapshot / time-travel table layout (reference table-maintenance
surface: silver_clean_transform.py:77-79 pins Iceberg
``tableProperty("format-version","1")`` — the format whose contract is
snapshot isolation, time travel, and rollback).

The parquet+catalog stand-in elsewhere in this package has no snapshot
story; this module supplies one with Iceberg's METADATA model rather
than data copies:

- a table root holds immutable data directories (``snap-N-<op>/``) and
  an APPEND-ONLY commit log (``_manifests/vN.json`` — one O(batch)
  record per commit, Delta's ``_delta_log`` model) with periodic full
  checkpoints (``ckpt-vN.json``) readers replay the tail onto;
- every snapshot entry lists the data dirs that compose it, so an
  APPEND commit is manifest-entry + one new delta dir — the parent's
  data is never rewritten or copied (Iceberg fast-append);
- OVERWRITE starts a fresh dir list; old snapshots stay readable;
- ROLLBACK is a new manifest entry whose dir list is the target
  snapshot's — a pointer swap, zero data movement;
- EXPIRE retains the last N snapshots and deletes only data dirs no
  retained snapshot references (Iceberg expire_snapshots +
  remove_orphan_files in one step).

The commit point is the CREATE-EXCLUSIVE appearance of the next
version-named manifest file (``_manifests/vN.json``): two writers that
both loaded version N-1 race to create vN and exactly one wins — the
rename itself is the compare-and-swap, so the protocol needs no lock
file and is correct across processes AND hosts (Iceberg's
HadoopCatalog file-commit protocol; the reference's real deployment
delegates the same CAS to a Nessie REST catalog,
silver_clean_transform.py:32-39). Readers never lock: they resolve the
newest version (advisory hint file + gapless upward probe) and then
read immutable dirs.

At 100 TB nothing here scales with data size: the manifest carries
directory names, not file lists or row data, and every operation other
than the actual parquet write is O(#snapshots). The manifest's schema
is authoritative: every scan reads its files under the snapshot's
recorded physical schema and never reads a footer to learn it, so
building a read launches no Spark job. Files written before a column
existed read it as NULL (or its initial default), which gives
schema evolution across snapshots the ``catalog.append_evolve``
write-side semantics.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import operator
import os
import re
import shutil
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_VERSION_HINT = "_version_hint.text"
_VERSION_RE = re.compile(r"^v(\d{10})\.json$")

#: bounded rebase/re-run attempts on commit conflict (Iceberg's
#: commit.retry.num-retries idea; generous because retries are cheap —
#: metadata-only — and contention in tests is deliberately high)
COMMIT_RETRIES = 20


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's manifest read and
    its commit attempt (optimistic-concurrency check failed). Retryable:
    re-read the manifest, re-apply the change, commit again."""


def _manifest_dir(root: str) -> str:
    return os.path.join(root, _MANIFEST_DIR)


def _version_path(root: str, v: int) -> str:
    return os.path.join(_manifest_dir(root), f"v{v:010d}.json")


def _latest_version(root: str) -> int | None:
    """Newest committed manifest version, or None when the table has no
    versioned manifests yet. Fast path: the advisory version-hint file
    plus a gapless upward probe — version N+1 is only ever created by a
    writer that loaded version N, so probing existence from any
    committed version reaches the head in O(versions-behind) stat
    calls, never a listing (the property that makes this O(1) on an
    object store). Falls back to one directory listing when the hint is
    missing or stale-deleted (a crash between the version link and the
    hint write leaves a stale-LOW hint, which the probe walks past)."""
    mdir = _manifest_dir(root)
    v = None
    try:
        with open(os.path.join(mdir, _VERSION_HINT)) as fh:
            hint = int(fh.read().strip())
        if os.path.exists(_version_path(root, hint)):
            v = hint
    except (OSError, ValueError):
        pass
    if v is None:
        try:
            names = os.listdir(mdir)
        except (FileNotFoundError, NotADirectoryError):
            return None
        found = [
            int(m.group(1)) for nm in names if (m := _VERSION_RE.match(nm))
        ]
        if not found:
            return None
        v = max(found)
    while os.path.exists(_version_path(root, v + 1)):
        v += 1
    return v


#: entry keys stored in the per-snapshot entry FILE, not the version
#: manifest: O(#dirs)/O(#files) payload that must not be rewritten per
#: commit. Accessing any of them on a lazy entry hydrates the payload.
_HEAVY_ENTRY_KEYS = frozenset(("dirs", "files", "dvs", "schema", "mapping"))

#: Max delta-chain length for entry payloads before a FULL payload is
#: written again. Entry files normally store only the diff vs the
#: parent's payload (dirs added/removed, changed per-dir file refs,
#: changed schema/dvs/mapping) — O(this commit's changes) bytes, which
#: bounds the old O(#dirs)-per-commit cumulative-list term at
#: per-minute streaming-commit cadence. The periodic full payload
#: bounds hydration to <= this many (cached) ref reads and amortizes
#: its O(#dirs) cost over the window — Iceberg's manifest-list
#: rewrite cadence, fixed instead of size-triggered.
_ENTRY_DELTA_MAX_DEPTH = 32

#: Metadata protocol version (Delta's reader/writer protocol, Iceberg's
#: format-version): every commit record and checkpoint is stamped with
#: it. Format 3 is the only layout this engine reads or writes: each
#: ``vN.json`` is an O(batch) commit-log record replayed onto the newest
#: ``ckpt-vN.json`` checkpoint at or below it (or the empty state).
#: Older layouts (absent/1 = monolithic or full-payload split
#: manifests, 2 = full delta-encoded heads) and newer ones are REFUSED
#: loudly — a clear error beats a KeyError deep in hydration.
_FORMAT_VERSION = 3

#: Commit-log checkpoint cadence (Delta's checkpointInterval): a log
#: tail longer than this triggers a full-state ``ckpt-vN.json`` write
#: right after the winning commit, so ``_load`` replays at most this
#: many O(batch) records. Amortizes the one O(#snapshots) serialization
#: over the window; a crash between commit and checkpoint just means a
#: longer tail until the next committer crosses the threshold again.
_CHECKPOINT_INTERVAL = 32

_CKPT_RE = re.compile(r"^ckpt-v(\d{10})\.json$")

#: manifest keys that are NOT part of the diffable top-level table
#: state (they are storage-layer bookkeeping, re-derived per commit)
_TOP_EXCLUDE = frozenset(
    ("snapshots", "dir_stats", "dir_stats_refs", "version", "format_version")
)


def _ckpt_path(root: str, v: int) -> str:
    return os.path.join(_manifest_dir(root), f"ckpt-v{v:010d}.json")


def _check_format_version(root: str, rec: dict) -> None:
    fv = rec.get("format_version")
    if fv == _FORMAT_VERSION:
        return
    if isinstance(fv, int) and fv > _FORMAT_VERSION:
        raise RuntimeError(
            f"{root}: table metadata format_version {fv} exceeds "
            f"this engine's supported {_FORMAT_VERSION}; upgrade "
            "the engine before reading (a newer writer committed "
            "metadata this version cannot interpret)"
        )
    raise RuntimeError(
        f"{root}: table metadata format_version {fv} is an older "
        f"layout; this engine reads only format_version "
        f"{_FORMAT_VERSION} (commit log + checkpoints)"
    )


def _apply_log_records(base: dict, records_desc: list[dict]) -> dict:
    """Replay commit-log records (newest-first, as the backward walk
    collected them) onto a full base state — the Delta
    checkpoint-plus-tail read path. Each record's ``log`` body carries
    only that commit's changes: light entries added/removed/replaced,
    top-level keys set/unset (full new values), and per-dir stats-ref
    pointer changes."""
    state = base
    snaps = list(state.get("snapshots", []))
    dsr = dict(state.get("dir_stats_refs", {}))
    for rec in reversed(records_desc):
        lg = rec["log"]
        for k, v in lg.get("set", {}).items():
            state[k] = v
        for k in lg.get("unset", ()):
            state.pop(k, None)
        rm = set(lg.get("remove", ()))
        rep = {e["id"]: e for e in lg.get("replace", ())}
        if rm or rep:
            snaps = [
                rep.get(s["id"], s) for s in snaps if s["id"] not in rm
            ]
        snaps.extend(lg.get("add", ()))
        for d in lg.get("stats_del", ()):
            dsr.pop(d, None)
        dsr.update(lg.get("stats_set", {}))
    state["snapshots"] = snaps
    state["dir_stats_refs"] = dsr
    return state


def _resolve_state(root: str, head: int) -> tuple[dict, int]:
    """Full table state at version ``head``: walk backwards collecting
    log records until a checkpoint file at that version, then replay
    the tail onto it. Returns ``(state, base_version)``. The walk is
    bounded by :data:`_CHECKPOINT_INTERVAL` on any table that has
    crossed the cadence once (plus crash slack); a table with no
    checkpoint yet replays its whole (short) log from the implicit
    empty state at version 0."""
    records: list[dict] = []
    v = head
    while v > 0:
        cp = _ckpt_path(root, v)
        if os.path.exists(cp):
            with open(cp) as fh:
                base = json.load(fh)
            _check_format_version(root, base)
            return _apply_log_records(base, records), v
        with open(_version_path(root, v)) as fh:
            rec = json.load(fh)
        _check_format_version(root, rec)
        records.append(rec)
        v -= 1
    return (
        _apply_log_records(
            {"current": None, "snapshots": [],
             "format_version": _FORMAT_VERSION},
            records,
        ),
        0,
    )


def _rebase_log_tracking(manifest: dict) -> None:
    """(Re)record the baseline the NEXT commit's log record diffs
    against: a JSON-independent copy of the top-level table state, the
    snapshot id order, and the per-dir stats-ref pointer map. Called at
    load and after every successful commit (a second commit on the same
    loaded manifest — expire's two-phase — must diff against what it
    just committed, not the originally loaded state)."""
    top = {
        k: v
        for k, v in manifest.items()
        if not k.startswith("_") and k not in _TOP_EXCLUDE
    }
    order = [s["id"] for s in manifest["snapshots"]]
    manifest["_log_base"] = {
        # json round-trip: ops mutate top-level values (tags, branches,
        # pending_delete) IN PLACE — the baseline must not alias them
        "top": json.loads(json.dumps(top)),
        "order": order,
        "ids": set(order),
        "stats": dict(manifest["dir_stats"]._refs),
    }


def _resolve_entry_payload(store: "_RefStore", payload: dict) -> dict:
    """Fold a delta-encoded entry payload chain into the effective full
    form ``{dirs, schema, [dvs], [mapping], [file_refs]}``. A delta
    payload carries ``base_ref`` (the parent entry's payload file) plus
    diffs; the chain ends at a full payload within
    :data:`_ENTRY_DELTA_MAX_DEPTH` hops, every hop served from the
    store's cache after first load."""
    if "base_ref" not in payload:
        return payload
    chain = [payload]
    while "base_ref" in chain[-1]:
        chain.append(store.load(chain[-1]["base_ref"]))
    eff = dict(chain[-1])  # the full base
    for p in reversed(chain[:-1]):
        if "dirs_full" in p:
            eff["dirs"] = list(p["dirs_full"])
        else:
            rm = set(p.get("dirs_remove", ()))
            eff["dirs"] = [
                d for d in eff["dirs"] if d not in rm
            ] + list(p.get("dirs_add", ()))
        for k in ("schema", "dvs", "mapping"):
            if k in p:  # changed at this hop; else inherit
                if k != "schema" and not p[k]:
                    # cleared (rewrite_deletes / materialize_schema):
                    # normalize to ABSENT, the full-form invariant
                    eff.pop(k, None)
                else:
                    eff[k] = p[k]
        if p.get("has_files"):
            fr = dict(eff.get("file_refs") or {})
            for d in p.get("file_refs_del", ()):
                fr.pop(d, None)
            fr.update(p.get("file_refs_set", {}))
            eff["file_refs"] = fr
        else:
            eff.pop("file_refs", None)
    for k in ("base_ref", "depth", "dirs_add", "dirs_remove",
              "dirs_full", "has_files", "file_refs_set", "file_refs_del"):
        eff.pop(k, None)
    return eff


class _RefStore:
    """Loader/writer for the immutable metadata ref files under
    ``_manifests/`` (the Iceberg manifest-file tier): per-snapshot
    entry payloads (``entry-*.json``), per-dir kept-file lists
    (``files-*.json``, content-deduplicated so consecutive snapshots
    SHARE them — an append adds one ref string, not a file-list copy),
    and per-dir footer stats (``stats-*.json``, written once per data
    dir). Ref files are write-once: a new name per write, so a CAS
    loser's files are orphans (GC'd by :func:`_gc_ref_files`), never
    torn or overwritten."""

    __slots__ = ("root", "cache", "_by_content")

    def __init__(self, root: str):
        self.root = root
        self.cache: dict = {}          # ref name -> loaded object
        self._by_content: dict = {}    # tuple(file list) -> ref name

    def _path(self, ref: str) -> str:
        return os.path.join(_manifest_dir(self.root), ref)

    def load(self, ref: str):
        obj = self.cache.get(ref)
        if obj is None:
            try:
                with open(self._path(ref)) as fh:
                    obj = json.load(fh)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"{self.root}: metadata ref file {ref!r} is missing "
                    "(vacuumed under a live reader, or partial copy of "
                    "the _manifests dir)"
                ) from None
            self.cache[ref] = obj
            if isinstance(obj, list):
                self._by_content.setdefault(tuple(obj), ref)
        return obj

    def write(self, prefix: str, obj) -> str:
        import uuid

        mdir = _manifest_dir(self.root)
        os.makedirs(mdir, exist_ok=True)
        ref = f"{prefix}-{uuid.uuid4().hex[:16]}.json"
        tmp = self._path("." + ref)
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, self._path(ref))  # unique name: never contended
        self.cache[ref] = obj
        if isinstance(obj, list):
            self._by_content.setdefault(tuple(obj), ref)
        return ref

    def files_ref(self, lst: list) -> str:
        """Ref for one dir's kept-file list, REUSING an existing ref
        with identical content (the structural sharing that keeps an
        inheriting commit's metadata O(changed dirs), not O(files))."""
        ref = self._by_content.get(tuple(lst))
        return ref if ref is not None else self.write("files", list(lst))


class _SnapEntry(dict):
    """One committed snapshot entry, lazily hydrated: the version
    manifest carries only the light fields (id/op/ts/parent/meta/
    summary + the ``entry_ref`` pointer); first access to a heavy key
    (dirs/files/dvs/schema/mapping) loads the immutable entry file.
    Committed entries are never mutated (every op builds a NEW plain
    dict entry), so hydration is the only state change.

    ``_file_refs`` records the effective ``{dir: files-ref}`` pointer
    map after hydration (None for dir-granular entries) — a child
    commit's serialization diffs against it to delta-encode its own
    payload without re-deriving ref names."""

    __slots__ = ("_store", "_hydrated", "_file_refs")

    def __init__(self, light: dict, store: _RefStore):
        super().__init__(light)
        self._store = store
        self._hydrated = False
        self._file_refs = None

    def _hydrate(self) -> None:
        if self._hydrated:
            return
        payload = _resolve_entry_payload(
            self._store, self._store.load(dict.__getitem__(self, "entry_ref"))
        )
        for k, v in payload.items():
            if k == "file_refs":
                self._file_refs = dict(v)
                dict.__setitem__(
                    self,
                    "files",
                    {d: self._store.load(r) for d, r in v.items()},
                )
            elif not dict.__contains__(self, k):
                dict.__setitem__(self, k, v)
        self._hydrated = True

    def __getitem__(self, k):
        if k in _HEAVY_ENTRY_KEYS:
            self._hydrate()
        return dict.__getitem__(self, k)

    def get(self, k, default=None):
        if k in _HEAVY_ENTRY_KEYS:
            self._hydrate()
        return dict.get(self, k, default)

    def __contains__(self, k):
        if k in _HEAVY_ENTRY_KEYS:
            self._hydrate()
        return dict.__contains__(self, k)

    def light(self) -> dict:
        """The serializable light form (heavy keys stay in the entry
        file this entry already points at)."""
        return {
            k: v
            for k, v in dict.items(self)
            if k not in _HEAVY_ENTRY_KEYS
        }


class _LazyDirStats(dict):
    """``manifest["dir_stats"]`` as a lazy per-dir mapping: the version
    manifest stores only ``{dir: stats-ref}`` pointers; a dir's
    per-file footer stats hydrate from its immutable stats file on
    first access. Mutations (new dir, per-file pop, in-place bloom
    attach via :meth:`mark_dirty`) are tracked and re-externalized as
    NEW stats files at the next commit — so a commit writes O(changed
    dirs) stats bytes, never the table's."""

    __slots__ = ("_store", "_refs", "_dirty")

    def __init__(self, store: _RefStore, refs: dict):
        super().__init__()
        self._store = store
        self._refs = dict(refs)
        self._dirty: set = set()

    def _hydrate(self, d) -> None:
        if not dict.__contains__(self, d) and d in self._refs:
            dict.__setitem__(self, d, self._store.load(self._refs[d]))

    def __getitem__(self, d):
        self._hydrate(d)
        return dict.__getitem__(self, d)

    def get(self, d, default=None):
        self._hydrate(d)
        return dict.get(self, d, default)

    def peek(self, d):
        """Hydrated-or-new stats for ``d`` WITHOUT triggering a ref
        read — None when the dir's stats are on disk only (summary
        computation must stay O(new dirs))."""
        return dict.get(self, d)

    def __contains__(self, d):
        return dict.__contains__(self, d) or d in self._refs

    def __setitem__(self, d, v):
        dict.__setitem__(self, d, v)
        self._dirty.add(d)

    def setdefault(self, d, default=None):
        self._hydrate(d)
        if not dict.__contains__(self, d):
            dict.__setitem__(self, d, default)
            self._dirty.add(d)
        return dict.__getitem__(self, d)

    def pop(self, d, *default):
        self._hydrate(d)
        self._refs.pop(d, None)
        self._dirty.discard(d)
        return dict.pop(self, d, *default)

    def mark_dirty(self, d) -> None:
        """Record an in-place mutation of an already-hydrated dir's
        nested stats (the bloom-index build) so the next commit writes
        a fresh stats file for it."""
        self._dirty.add(d)

    def __iter__(self):
        seen = set(dict.keys(self))
        yield from seen
        for d in self._refs:
            if d not in seen:
                yield d

    def __len__(self):
        return len(set(dict.keys(self)) | set(self._refs))

    def keys(self):
        return list(self)

    def _hydrate_all(self) -> None:
        for d in list(self._refs):
            self._hydrate(d)

    def items(self):
        self._hydrate_all()
        return dict.items(self)

    def values(self):
        self._hydrate_all()
        return dict.values(self)

    def serialize(self) -> dict:
        """Write dirty dirs' stats as new ref files; return the full
        ``{dir: ref}`` pointer map for the version manifest. Dirty
        state clears so a second commit on the same loaded manifest
        (expire's two-phase) rewrites nothing unchanged."""
        for d in sorted(self._dirty):
            if dict.__contains__(self, d):
                self._refs[d] = self._store.write(
                    "stats", dict.__getitem__(self, d)
                )
        self._dirty.clear()
        return dict(self._refs)


def _materialize_manifest(manifest: dict) -> dict:
    """Fully hydrated, ref-free plain-dict dump of a loaded manifest,
    for debugging and tests. No reader accepts it as a table layout,
    and the commit path never materializes (that would be the O(table)
    rewrite the split removed)."""
    out = {
        k: v
        for k, v in manifest.items()
        if not k.startswith("_") and k not in ("snapshots", "dir_stats")
    }
    snaps = []
    for s in manifest["snapshots"]:
        if isinstance(s, _SnapEntry):
            s._hydrate()
        snaps.append(
            {k: v for k, v in dict.items(s) if k != "entry_ref"}
        )
    out["snapshots"] = snaps
    ds = manifest["dir_stats"]
    ds._hydrate_all()
    out["dir_stats"] = {d: dict.__getitem__(ds, d) for d in dict.keys(ds)}
    return out


def _wire_lazy(root: str, manifest: dict) -> dict:
    """Install the lazy metadata tier onto a replayed state: every
    light entry becomes a :class:`_SnapEntry`, the ``dir_stats_refs``
    pointer map becomes :class:`_LazyDirStats`."""
    store = _RefStore(root)
    manifest["_store"] = store
    manifest["snapshots"] = [_SnapEntry(s, store) for s in manifest["snapshots"]]
    manifest["dir_stats"] = _LazyDirStats(store, manifest.pop("dir_stats_refs"))
    return manifest


def _load(root: str) -> dict:
    """The table state at its newest version (the empty state at
    version 0 when nothing is committed), wired lazily and tracked for
    the next commit's log record."""
    last_err = None
    for _ in range(3):
        v = _latest_version(root) or 0
        try:
            state, base_v = _resolve_state(root, v)
        except FileNotFoundError as e:
            # raced a vacuum pruning versions off a stale hint —
            # re-resolve (the head and its replay base are never pruned)
            last_err = e
            continue
        state["version"] = v  # the path is authoritative
        manifest = _wire_lazy(root, state)
        manifest["_replay_base_version"] = base_v
        _rebase_log_tracking(manifest)
        return manifest
    raise last_err  # three races in a row: surface, don't read empty


def _entry_summary(manifest: dict, s: dict) -> dict:
    """Delta/Iceberg-style commit summary for a NEW entry, computed
    from state already in memory (the op hydrated its parent; a new
    dir's stats are the dirty in-memory ones — no ref file is read):
    dir/file/row/byte deltas vs the parent plus totals. Unknowable
    counts are simply omitted — the summary is an observability
    surface, never a correctness input."""
    by_id = {e["id"]: e for e in manifest["snapshots"]}
    parent = by_id.get(s.get("parent"))
    pdirs = set(parent["dirs"]) if parent is not None else set()
    pdvs = set(parent.get("dvs") or []) if parent is not None else set()
    dirs = s.get("dirs", [])
    added = [d for d in dirs if d not in pdirs]
    out = {
        "n_dirs": len(dirs),
        "added_dirs": len(added),
        "removed_dirs": len(pdirs - set(dirs)),
    }
    dvs = set(s.get("dvs") or [])
    if dvs or pdvs:
        out["added_dvs"] = len(dvs - pdvs)
        out["n_dvs"] = len(dvs)
    peek = manifest["dir_stats"].peek
    n_files = n_rows = n_bytes = 0
    known = bool(added)
    for d in added:
        st = peek(d)
        if not isinstance(st, dict):
            known = False
            break
        fnames = s["files"].get(d, list(st)) if "files" in s else list(st)
        n_files += len(fnames)
        for f in fnames:
            rows = _file_rows(st.get(f))
            if rows is None:
                known = False
            else:
                n_rows += rows
            try:
                n_bytes += os.path.getsize(
                    os.path.join(manifest["_store"].root, d, f)
                )
            except (OSError, KeyError):
                pass
    if added:
        out["added_files"] = n_files
        out["added_bytes"] = n_bytes
        if known:
            out["added_rows"] = n_rows
    # removed files/rows for REWRITES (replace_where / compact / zorder
    # / update_where — the child is file-granular): diff vs the
    # parent's per-dir lists. A file-granular parent has them in
    # memory (shallow-copied unchanged lists short-circuit on
    # identity); a dir-granular parent's lists come from the dirs'
    # stats the op hydrated for its triage. Anything unknowable makes
    # the whole pair OMIT rather than under-count.
    if parent is not None and "files" in s:
        p_files = parent["files"] if "files" in parent else None

        def _parent_list(d):
            if p_files is not None:
                return p_files.get(d)
            st = peek(d)
            return sorted(st) if isinstance(st, dict) else None

        rm_files, rm_rows = 0, 0
        files_known = rows_known = True
        dset = set(dirs)  # hoisted: per-dir set builds made this O(#dirs^2)
        for d in pdirs:
            lst = _parent_list(d)
            cur = s["files"].get(d) if d in dset else []
            if lst is None:  # parent list unknowable in-memory
                files_known = False
                break
            if cur is lst or cur == lst:
                continue
            cset = set(cur or ())
            gone = [f for f in lst if f not in cset]
            rm_files += len(gone)
            st = peek(d)
            for f in gone:
                rows = _file_rows(st.get(f)) if isinstance(st, dict) else None
                if rows is None:
                    rows_known = False
                else:
                    rm_rows += rows
        if files_known and rm_files:
            out["removed_files"] = rm_files
            if rows_known:
                out["removed_rows"] = rm_rows
    # row-level DELETE/MERGE observability: rows newly marked by this
    # commit's deletion vectors (footer counts of the NEW dv dirs —
    # KB-scale sidecars, no data read)
    new_dvs = sorted(dvs - pdvs)
    if new_dvs:
        try:
            out["dv_marked_rows"] = sum(
                _parquet_dir_rows(manifest["_store"].root, d)
                for d in new_dvs
            )
        except (OSError, KeyError):  # pragma: no cover - observability
            pass
    if s.get("data_change", True) is False:
        out["data_change"] = False
    return out


def _serialize(manifest: dict, want_full: bool = False):
    """Externalize heavy payload as immutable ref files (per-snapshot
    entry files, per-dir file lists with content sharing, per-dir
    stats), then build the commit record(s). Returns ``(full,
    log_body)``:

    - ``log_body`` — the O(this commit's changes) log-record body
      (entries added/removed/replaced as LIGHT dicts, changed top-level
      keys, changed stats-ref pointers), diffed against the load
      tracking :func:`_rebase_log_tracking` recorded.
    - ``full`` — the complete manifest state (checkpoint shape), built
      only when ``want_full``; else None.

    New plain entries are replaced in-memory by hydrated lazy entries
    so a second commit on the same loaded manifest re-serializes
    pointers, not payload."""
    store = manifest["_store"]
    top = {
        k: v
        for k, v in manifest.items()
        if not k.startswith("_") and k not in _TOP_EXCLUDE
    }
    base = manifest["_log_base"]
    adds: list = []
    replaces: list = []
    by_id: dict = {}
    for i, s in enumerate(manifest["snapshots"]):
        if isinstance(s, _SnapEntry):
            by_id[s["id"]] = s
            continue
        child_refs = None
        if "files" in s:
            child_refs = {
                d: store.files_ref(lst) for d, lst in s["files"].items()
            }
        # delta-encode vs the parent's payload when the chain allows:
        # O(this commit's changes) bytes instead of the cumulative
        # dirs list + full per-dir pointer map (see
        # _ENTRY_DELTA_MAX_DEPTH). Root entries and parents no longer
        # in the manifest list (expired) get the full form.
        parent = by_id.get(s.get("parent"))
        depth = 0
        payload: dict = {}
        if (
            parent is not None
            and dict.get(parent, "entry_depth", 0) < _ENTRY_DELTA_MAX_DEPTH
        ):
            parent._hydrate()
            depth = dict.get(parent, "entry_depth", 0) + 1
            payload["base_ref"] = dict.__getitem__(parent, "entry_ref")
            payload["depth"] = depth
            p_dirs = parent["dirs"]
            p_set, s_set = set(p_dirs), set(s["dirs"])
            add = [d for d in s["dirs"] if d not in p_set]
            recon = [d for d in p_dirs if d in s_set] + add
            if recon == list(s["dirs"]):
                payload["dirs_add"] = add
                payload["dirs_remove"] = [
                    d for d in p_dirs if d not in s_set
                ]
            else:  # order diverged (sorted rewrite lists): store whole
                payload["dirs_full"] = list(s["dirs"])
            if s["schema"] != parent["schema"]:
                payload["schema"] = s["schema"]
            if list(s.get("dvs") or []) != list(parent.get("dvs") or []):
                payload["dvs"] = list(s.get("dvs") or [])
            if (s.get("mapping") or {}) != (parent.get("mapping") or {}):
                payload["mapping"] = dict(s.get("mapping") or {})
            if child_refs is not None:
                payload["has_files"] = True
                p_refs = (
                    parent._file_refs
                    if parent._file_refs is not None
                    else {}
                )
                payload["file_refs_set"] = {
                    d: r
                    for d, r in child_refs.items()
                    if p_refs.get(d) != r
                }
                payload["file_refs_del"] = sorted(
                    d for d in p_refs if d not in child_refs
                )
            else:
                payload["has_files"] = False
        else:
            payload = {
                k: s[k]
                for k in ("dirs", "schema", "dvs", "mapping")
                if k in s
            }
            if child_refs is not None:
                payload["file_refs"] = child_refs
        light = {
            k: v for k, v in s.items() if k not in _HEAVY_ENTRY_KEYS
        }
        if "summary" not in light:
            light["summary"] = _entry_summary(manifest, s)
        light["entry_depth"] = depth
        light["entry_ref"] = store.write("entry", payload)
        lazy = _SnapEntry(light, store)
        for k in _HEAVY_ENTRY_KEYS:
            if k in s:
                dict.__setitem__(lazy, k, s[k])
        lazy._hydrated = True
        lazy._file_refs = child_refs
        by_id[lazy["id"]] = lazy
        manifest["snapshots"][i] = lazy
        (replaces if s["id"] in base["ids"] else adds).append(light)
    refs_map = manifest["dir_stats"].serialize()
    # the record must reconstruct the exact snapshot order on replay
    # (base order minus removals, replacements in place, additions
    # appended); no op reorders snapshots, so a divergence is a bug
    cur_order = [s["id"] for s in manifest["snapshots"]]
    cur_ids = set(cur_order)
    removed = [i for i in base["order"] if i not in cur_ids]
    expected = [i for i in base["order"] if i in cur_ids] + [
        e["id"] for e in adds
    ]
    if expected != cur_order:
        raise RuntimeError(
            "snapshot order change is not expressible as a commit-log "
            f"record: loaded {base['order']}, committing {cur_order}"
        )
    bstats = base["stats"]
    log_body: dict = {}
    if adds:
        log_body["add"] = adds
    if removed:
        log_body["remove"] = removed
    if replaces:
        log_body["replace"] = replaces
    set_d = {
        k: v
        for k, v in top.items()
        if k not in base["top"] or base["top"][k] != v
    }
    unset = sorted(k for k in base["top"] if k not in top)
    if set_d:
        log_body["set"] = set_d
    if unset:
        log_body["unset"] = unset
    stats_set = {d: r for d, r in refs_map.items() if bstats.get(d) != r}
    stats_del = sorted(d for d in bstats if d not in refs_map)
    if stats_set:
        log_body["stats_set"] = stats_set
    if stats_del:
        log_body["stats_del"] = stats_del
    full = None
    if want_full:
        full = dict(top)
        full["snapshots"] = [s.light() for s in manifest["snapshots"]]
        full["dir_stats_refs"] = refs_map
        full["format_version"] = _FORMAT_VERSION
    return full, log_body


def _commit(root: str, manifest: dict) -> None:
    """Multi-host atomic commit, Delta ``_delta_log`` model: heavy
    payload (per-snapshot dirs/files/dvs/schema, per-dir footer stats)
    is first written as immutable ref files — O(this commit's changes)
    bytes — then ONE log record (this commit's light entries +
    changed top-level keys + changed stats pointers, also O(batch))
    is written to a temp file and hard-linked to
    ``_manifests/v{N+1}.json``. The log record is the CAS object: the
    link either creates the version file ATOMICALLY with complete
    content or fails EEXIST; two writers that both loaded version N
    race to create vN+1 and exactly one wins; the loser gets
    :class:`CommitConflict`, and its ref files are unreferenced
    orphans collected by :func:`_gc_ref_files`. No lock file, no
    flock — correct across processes and HOSTS on any filesystem with
    atomic link/create-exclusive semantics (Iceberg's HadoopCatalog
    protocol). Readers can never observe a torn manifest: every ref
    file is complete before the version name exists.

    Every :data:`_CHECKPOINT_INTERVAL` commits the winner also
    materializes ``ckpt-vN.json`` — the full light state — so
    :func:`_load` replays checkpoint + tail instead of the whole log
    (Delta's checkpoint + ``_last_checkpoint`` idea; here the
    bounded backward probe replaces the pointer file). ``manifest``
    must come from :func:`_load`. The version-hint write afterwards is
    advisory only."""
    mdir = _manifest_dir(root)
    os.makedirs(mdir, exist_ok=True)
    target_v = manifest["version"] + 1
    ckpt_due = (
        target_v - manifest["_replay_base_version"] >= _CHECKPOINT_INTERVAL
    )
    full, log_body = _serialize(manifest, want_full=ckpt_due)
    out = {
        "format_version": _FORMAT_VERSION,
        "version": target_v,
        "log": log_body,
    }
    manifest["version"] = target_v
    import tempfile

    fd, tmp = tempfile.mkstemp(prefix=f".commit-v{target_v}-", dir=mdir)
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(out, fh, indent=1)
        try:
            os.link(tmp, _version_path(root, target_v))
        except FileExistsError:
            manifest["version"] = target_v - 1  # restore the loaded version
            raise CommitConflict(
                f"{root}: manifest v{target_v} was committed by a concurrent "
                f"writer since this writer loaded v{target_v - 1}; reload "
                "and retry"
            ) from None
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    if ckpt_due:
        # materialize the checkpoint AFTER the winning commit (Delta's
        # post-commit checkpoint write): best-effort — a crash or IO
        # error here just leaves a longer tail until the next committer
        # crosses the cadence again. Only this version's winner writes
        # ckpt-v{target_v}, so the name is never contended.
        try:
            cp = dict(full)
            cp["version"] = target_v
            ftmp = os.path.join(mdir, f".ckpt-v{target_v}-{os.getpid()}")
            with open(ftmp, "w") as fh:
                json.dump(cp, fh, indent=1)
            os.replace(ftmp, _ckpt_path(root, target_v))
            manifest["_replay_base_version"] = target_v
        except OSError:  # pragma: no cover - best-effort amortization
            pass
    _rebase_log_tracking(manifest)
    _write_version_hint(root, target_v)


def _write_version_hint(root: str, v: int) -> None:
    """Best-effort advisory pointer so readers resolve the head in O(1)
    instead of a listing. Crash-safe by construction: a stale-LOW hint
    is walked past by the probe; the hint can never be higher than an
    existing version because it is written only after the version file
    landed."""
    try:
        tmp = os.path.join(_manifest_dir(root), f".hint-{os.getpid()}")
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, os.path.join(_manifest_dir(root), _VERSION_HINT))
    except OSError:  # pragma: no cover - advisory only
        pass


def _prune_manifest_versions(root: str, keep_versions: int = 10) -> list[str]:
    """GC superseded manifest version files, retaining the newest
    ``keep_versions`` (Iceberg's write.metadata.previous-versions-max).
    The head is always retained; the hint is refreshed first so a
    reader's fast path cannot land on a pruned version.

    Log-model safety: a version file at or above the newest replay
    BASE (checkpoint) is load-bearing — readers replay the tail
    ``(base, head]`` — so pruning only ever removes versions strictly
    BELOW the base, however old they are. Superseded checkpoints prune
    under the same rule."""
    head = _latest_version(root)
    if head is None:
        return []
    _write_version_hint(root, head)
    # newest replay base at or below head (same walk as _resolve_state,
    # one stat per version); with none, the whole history replays from
    # the empty state: keep all
    base_v, v = 1, head
    while v > 0:
        if os.path.exists(_ckpt_path(root, v)):
            base_v = v
            break
        if not os.path.exists(_version_path(root, v)):
            # already-pruned region: nothing at or below v is needed
            base_v = v + 1
            break
        v -= 1
    removed = []
    for nm in sorted(os.listdir(_manifest_dir(root))):
        m = _VERSION_RE.match(nm) or _CKPT_RE.match(nm)
        if m and int(m.group(1)) <= head - keep_versions and int(
            m.group(1)
        ) < base_v:
            try:
                os.unlink(os.path.join(_manifest_dir(root), nm))
                removed.append(os.path.join(_MANIFEST_DIR, nm))
            except FileNotFoundError:  # concurrent vacuum
                pass
    return removed


def _gc_ref_files(root: str, older_than_s: float = 3600.0) -> list[str]:
    """Delete metadata ref files (``entry-*``/``files-*``/``stats-*``)
    referenced by NO retained version manifest — CAS losers' writes,
    superseded stats revisions (bloom rebuilds, per-file GC), and refs
    of pruned manifest versions. Age-guarded like orphan-dir GC: an
    in-flight commit writes its ref files BEFORE its version CAS, so a
    zero cutoff is only safe with no concurrent writer (the documented
    vacuum contract). Liveness is computed from every version manifest
    still on disk, so time travel through retained versions keeps
    every ref it needs.

    FAIL-CLOSED: the sweep runs only on a COMPLETE live set. A version
    manifest that vanished mid-listing (a racing prune — versions are
    the only ref class deleted by another GC) is tolerated; any OTHER
    read failure (EIO/EMFILE/torn JSON) aborts the whole sweep — an
    under-populated live set would unlink still-live refs and
    permanently break the table's metadata tier, while skipping a
    sweep merely defers space reclamation to the next vacuum. A LIVE
    entry ref that fails to read (even FileNotFoundError) aborts too:
    entry refs are never individually pruned, so a missing one is
    corruption, not a race."""
    mdir = _manifest_dir(root)
    try:
        names = os.listdir(mdir)
    except (FileNotFoundError, NotADirectoryError):
        return []
    live: set[str] = set()
    for nm in names:
        if not _VERSION_RE.match(nm) and not _CKPT_RE.match(nm):
            continue
        try:
            with open(os.path.join(mdir, nm)) as fh:
                m = json.load(fh)
        except FileNotFoundError:
            continue  # racing _prune_manifest_versions: ref-free by now
        except (OSError, ValueError):
            return []  # fail closed: incomplete live set -> no sweep
        lg = m.get("log")
        if lg is not None:
            # log record: only this commit's light entries + changed
            # stats pointers carry refs
            entries = list(lg.get("add", ())) + list(lg.get("replace", ()))
            live.update((lg.get("stats_set") or {}).values())
        else:  # checkpoint: the full light state
            entries = m.get("snapshots", [])
            live.update(m.get("dir_stats_refs", {}).values())
        for s in entries:
            ref = s.get("entry_ref")
            # delta payloads chain to their base entry files (possibly
            # of EXPIRED snapshots no manifest lists anymore) — walk
            # the chain so hydration always finds its bases
            while ref and ref not in live:
                live.add(ref)
                try:
                    with open(os.path.join(mdir, ref)) as fh:
                        payload = json.load(fh)
                except (OSError, ValueError):
                    return []  # a live entry ref must be readable
                live.update(payload.get("file_refs", {}).values())
                live.update(payload.get("file_refs_set", {}).values())
                ref = payload.get("base_ref")
    now = time.time()
    removed = []
    for nm in sorted(names):
        # '.'-prefixed temps are _RefStore.write / _commit staging files
        # leaked by a crash between create and rename — never referenced
        # by anything, collected past the same age cutoff
        is_temp = nm.startswith(
            (".entry-", ".files-", ".stats-", ".commit-v", ".hint-",
             ".ckpt-v")
        )
        if not is_temp and (
            not nm.startswith(("entry-", "files-", "stats-")) or nm in live
        ):
            continue
        p = os.path.join(mdir, nm)
        try:
            if now - os.path.getmtime(p) < older_than_s:
                continue
            os.unlink(p)
            removed.append(os.path.join(_MANIFEST_DIR, nm))
        except FileNotFoundError:
            pass
    return removed


_retrying = threading.local()  # set while a thread's outermost retry runs


def _retry_conflicts(fn):
    """Re-run a whole table operation on :class:`CommitConflict` (up to
    :data:`COMMIT_RETRIES`). Correct for every decorated op because each
    re-executes from a FRESH ``_load`` — the retry recomputes against
    the winning writer's state rather than blindly replaying a stale
    plan. A data dir written by a failed attempt is an orphan that
    :func:`remove_orphans` collects. ``write_snapshot`` is NOT decorated:
    it rebases manually so the (expensive) data write happens once.

    Only the OUTERMOST decorated call on a thread retries: a nested one
    (a streaming sink's batch cycle around a DV writer, the conditional
    MERGE executor around the change writer) re-raises to it, so every attempt
    re-runs the whole outer cycle — its batch-id or ``expected_base``
    check included — and a persistent conflict costs COMMIT_RETRIES
    attempts, not COMMIT_RETRIES squared."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if getattr(_retrying, "active", False):
            return fn(*args, **kwargs)
        _retrying.active = True
        try:
            for attempt in range(COMMIT_RETRIES):
                try:
                    return fn(*args, **kwargs)
                except CommitConflict:
                    if attempt == COMMIT_RETRIES - 1:
                        raise
                    time.sleep(0.005 * (attempt + 1))
        finally:
            _retrying.active = False
        raise AssertionError("unreachable")

    return wrapper


def _claim_data_dir(root: str, snap_id: int, op: str) -> str:
    """Claim a unique, empty data directory for one write attempt.
    The deterministic ``snap-NNNNNNNN-op`` name is kept when free
    (single-writer fast path); under contention — two writers planning
    from the same manifest version would pick the SAME name and
    interleave files — the claim fails (``mkdir`` is atomic) and a
    pid-suffixed name is taken instead. Dir names are cosmetic: every
    reader resolves dirs through the committed manifest entry."""
    base = f"snap-{snap_id:08d}-{op}"
    name, n = base, 0
    while True:
        try:
            os.makedirs(os.path.join(root, name))
            return name
        except FileExistsError:
            n += 1
            name = f"{base}-w{os.getpid()}-{n}"


def _spec_shape(spec):
    """Partition spec minus the per-write ``dtype`` stamps — the shape
    two writers must agree on for an append rebase to be sound."""
    if not spec:
        return None
    return [{k: v for k, v in t.items() if k != "dtype"} for t in spec]


def _main_ancestors(manifest: dict) -> set:
    """Snapshot ids reachable from ``current`` via parent pointers —
    the PUBLISHED history. as_of time travel resolves over this set
    only: staged branch commits are not ancestors of main until
    fast_forward publishes them (at which point the whole branch
    lineage becomes main history, exactly Iceberg's model)."""
    by_id = {s["id"]: s for s in manifest["snapshots"]}
    out, cur = set(), manifest["current"]
    while cur is not None and cur in by_id and cur not in out:
        out.add(cur)
        cur = by_id[cur].get("parent")
    return out


def _pin(
    manifest: dict,
    snapshot_id: int | None = None,
    as_of: float | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> dict:
    """The entry a snapshot ref names on the caller's loaded
    ``manifest`` — the one reading of the refs every read, scan,
    RESTORE and pinned view shares: a ``snapshot_id``, a ``tag`` or a
    ``branch`` head (at most one), else the newest published snapshot
    committed at/before ``as_of`` (unix seconds), else the current
    snapshot."""
    if sum(x is not None for x in (snapshot_id, tag, branch)) > 1:
        raise ValueError("pass at most one of snapshot_id / tag / branch")
    root = manifest["_store"].root
    if tag is not None:
        tags = manifest.get("tags", {})
        if tag not in tags:
            raise KeyError(f"no tag {tag!r} on table {root}; tags: {sorted(tags)}")
        snapshot_id = tags[tag]
    if branch is not None:
        branches = manifest.get("branches", {})
        if branch not in branches:
            raise KeyError(
                f"unknown branch {branch!r}; existing: {sorted(branches)}"
            )
        snapshot_id = branches[branch]
    if snapshot_id is None and as_of is not None:
        anc = _main_ancestors(manifest)
        eligible = [
            s for s in manifest["snapshots"]
            if s["ts"] <= as_of and s["id"] in anc
        ]
        if not eligible:
            raise KeyError(f"no snapshot at or before {as_of}")
        snapshot_id = eligible[-1]["id"]
    if snapshot_id is None:
        snapshot_id = manifest["current"]
    if snapshot_id is None:
        raise KeyError(f"table {root} has no snapshots")
    return _entry(manifest, snapshot_id)


def _entry(manifest: dict, snapshot_id: int) -> dict:
    for s in manifest["snapshots"]:
        if s["id"] == snapshot_id:
            return s
    raise KeyError(f"no snapshot {snapshot_id}")


def _stat_value(v):
    """JSON-encode a footer min/max so ordering survives the round
    trip: ints/floats/bools/strs as-is, date/timestamp as ISO-8601
    (lexicographic ISO order == temporal order), anything else (bytes,
    decimal, nested) -> None meaning 'no usable bound'."""
    if isinstance(v, bool) or v is None:
        return v if not isinstance(v, bool) else bool(v)
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    item = getattr(v, "item", None)  # numpy scalars
    if item is not None:
        try:
            return _stat_value(item())
        except (TypeError, ValueError):
            return None
    return None


def _file_rows(fstats: dict | None) -> int | None:
    """Footer row count for one file from its recorded stats (every
    column of a file shares it); None when unrecorded."""
    first = next(iter((fstats or {}).values()), None)
    return first.get("rows") if isinstance(first, dict) else None


def _collect_dir_stats(
    root: str, data_dir: str, stats_cols=None
) -> tuple[dict, int]:
    """Per-file column stats and the total row count of one freshly
    written data dir, from ONE pass over its parquet FOOTERS (pyarrow
    metadata — zero data pages touched, the same place Iceberg's write
    path gets its manifest stats). The stats are {relative_file: {col:
    {"mn","mx","nulls","rows"}}} with ``mn``/``mx`` absent when the
    footer carries no usable bound. A 0-row file (an empty write task)
    is removed from the dir instead: its stats would be empty."""
    import pyarrow.parquet as pq

    out: dict = {}
    n_rows = 0
    dpath = os.path.join(root, data_dir)
    for name in sorted(os.listdir(dpath)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(dpath, name)).metadata
        rows = md.num_rows
        if not rows:
            for junk in (name, f".{name}.crc"):
                if os.path.exists(os.path.join(dpath, junk)):
                    os.remove(os.path.join(dpath, junk))
            continue
        n_rows += rows
        cols: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                col = c.path_in_schema
                if "." in col:  # nested leaf — no top-level bound
                    continue
                if stats_cols is not None and col not in stats_cols:
                    continue
                st = c.statistics
                cur = cols.setdefault(col, {"nulls": 0, "rows": rows})
                if st is None:
                    cur.pop("mn", None)
                    cur.pop("mx", None)
                    cur["no_bounds"] = True
                    cur["nulls"] = None
                    continue
                if cur["nulls"] is not None:
                    cur["nulls"] = (
                        None
                        if st.null_count is None
                        else cur["nulls"] + st.null_count
                    )
                if not st.has_min_max:
                    cur.pop("mn", None)
                    cur.pop("mx", None)
                    cur["no_bounds"] = True
                    continue
                mn, mx = _stat_value(st.min), _stat_value(st.max)
                if mn is None or mx is None or cur.get("no_bounds"):
                    cur["no_bounds"] = True
                    cur.pop("mn", None)
                    cur.pop("mx", None)
                    continue
                if rg == 0 or "mn" not in cur:
                    cur["mn"], cur["mx"] = mn, mx
                else:
                    cur["mn"] = min(cur["mn"], mn)
                    cur["mx"] = max(cur["mx"], mx)
        for c in cols.values():
            c.pop("no_bounds", None)
        out[name] = cols
    return out, n_rows


#: per-session [active writers, the caller's value] of the parquet
#: timestamp type while snapshot writes run (see _micros_timestamps)
_TS_TYPE_KEY = "spark.sql.parquet.outputTimestampType"
_ts_type_lock = threading.Lock()
_ts_type_writers: dict[int, list] = {}


@contextmanager
def _micros_timestamps(spark: SparkSession):
    """Pin TIMESTAMP_MICROS for the duration of a data-dir write. The
    setting is SESSION state and writes may run concurrently from
    driver threads (the overlapped pipeline chains), so a per-write
    save/restore would let one writer's restore land in the middle of
    another's write (INT96 files, no time stats). The first active
    writer of a session saves the caller's value and pins MICROS; the
    last one restores it."""
    conf, sid = spark.conf, id(spark)
    with _ts_type_lock:
        state = _ts_type_writers.setdefault(sid, [0, None])
        if state[0] == 0:
            state[1] = conf.get(_TS_TYPE_KEY, None)
            conf.set(_TS_TYPE_KEY, "TIMESTAMP_MICROS")
        state[0] += 1
    try:
        yield
    finally:
        with _ts_type_lock:
            state[0] -= 1
            if state[0] == 0:
                del _ts_type_writers[sid]
                if state[1] is not None:
                    conf.set(_TS_TYPE_KEY, state[1])
                else:
                    conf.unset(_TS_TYPE_KEY)


def _write_data_dir(
    df: DataFrame, root: str, data_dir: str, manifest: dict | None = None
) -> None:
    """Write one immutable data dir. Spark's default INT96 timestamps
    carry NO footer statistics; snapshot tables pin TIMESTAMP_MICROS
    (the Iceberg/Delta physical type) so time columns are skippable
    like everything else. A failed (e.g. constraint-violating) write
    never reaches the manifest commit and leaves no partial dir.

    When the table declares a partition spec, the transform values are
    (re)computed as hidden ``_p_*`` columns and the rows are
    range-clustered on them — keeping the CALLER's partition count, so
    a compaction's ceil(total/target) layout or an append's incoming
    parallelism is clustered, never re-fragmented — and the footer
    stats make every file prunable by the derived predicates.
    Recorded hidden columns read back from older files during a
    rewrite are dropped first so a rewrite under an evolved spec
    re-derives, never stales; any OTHER ``_p_``-prefixed column is a
    reserved-prefix violation and the write fails loudly instead of
    silently dropping user data.

    ``manifest`` is the caller's loaded (soon-to-be-committed) copy:
    applied spec entries are stamped with the source column's dtype
    (the soundness gate for bucket-literal derivation) and the hidden
    names are recorded in ``manifest["hidden_cols"]`` — both persist
    in the caller's commit, atomically with the data."""
    if manifest is None:
        manifest = _load(root)
    recorded = set(manifest.get("hidden_cols", []))
    bad = [
        c for c in df.columns if c.startswith("_p_") and c not in recorded
    ]
    if bad:
        raise ValueError(
            f"column names starting with '_p_' are reserved for hidden "
            f"partition transforms: {bad}"
        )
    df = _strip_hidden(df, recorded)
    spec = [
        t
        for t in manifest.get("partition_spec", [])
        if t["col"] in df.columns
    ]
    if spec:
        dtypes = dict(df.dtypes)
        hidden_names = []
        for t in spec:
            t["dtype"] = dtypes[t["col"]]
            name = _hidden_name(t)
            hidden_names.append(name)
            if name not in recorded:
                manifest.setdefault("hidden_cols", []).append(name)
        n_parts = max(1, df.rdd.getNumPartitions())
        df = df.select(
            "*",
            *[
                _transform_column(t, dtypes[t["col"]]).alias(_hidden_name(t))
                for t in spec
            ],
        ).repartitionByRange(n_parts, *hidden_names)
    with _micros_timestamps(df.sparkSession):
        try:
            # append, NOT overwrite: every caller writes into a directory
            # _claim_data_dir just created atomically (empty -> identical
            # result), and overwrite semantics would DELETE+recreate the
            # claimed dir, reopening the same-name interleaving window the
            # claim exists to close (a concurrent writer's mkdir landing in
            # the delete window would "claim" the same name)
            os.makedirs(os.path.join(root, data_dir), exist_ok=True)
            df.write.mode("append").parquet(os.path.join(root, data_dir))
        except Exception:
            shutil.rmtree(os.path.join(root, data_dir), ignore_errors=True)
            raise


def _next_id(manifest: dict) -> int:
    """The id the next committed entry takes (ids are globally
    monotonic across refs)."""
    return (manifest["snapshots"][-1]["id"] + 1) if manifest["snapshots"] else 1


def _write_rows_dir(
    df: DataFrame, root: str, manifest: dict, op: str, stats_cols=None
) -> str | None:
    """Claim the next snapshot's data dir (``op`` names it), write
    ``df`` into it and read its footers ONCE: the per-file stats land
    in ``manifest["dir_stats"]`` and the dir is returned. Each 0-row
    file is removed, and a dir whose footers hold no rows is removed
    and None returned — no entry ever references a 0-row file (its
    stats would be empty, which hides the table's row count and can
    never be pruned)."""
    data_dir = _claim_data_dir(root, _next_id(manifest), op)
    _write_data_dir(df, root, data_dir, manifest)
    stats, n_rows = _collect_dir_stats(root, data_dir, stats_cols)
    if not n_rows:
        shutil.rmtree(os.path.join(root, data_dir), ignore_errors=True)
        return None
    manifest["dir_stats"][data_dir] = stats
    return data_dir


def _child_entry(
    manifest: dict,
    op: str,
    src: dict | None = None,
    add_dir: str | None = None,
    **fields,
) -> dict:
    """The one builder of a new snapshot entry (next id, ``op``, now):
    its content — dirs, per-dir file lists, deletion vectors, column
    mapping, schema — is ``src``'s (None: no data), with ``fields``
    replacing any of it (and setting ``meta`` / ``data_change``), plus
    ``add_dir``, a data dir this commit wrote (None: it wrote no rows).
    Passing ``files`` makes a file-granular entry whose dirs are that
    map's. ``files`` appears only on file-granular entries, and the
    new dir joins their file lists; an absent or empty ``dvs`` or
    ``mapping`` stays absent; ``data_change`` is recorded only when
    False. The parent is set by :func:`_commit_entry`."""
    entry: dict = {"id": _next_id(manifest), "op": op, "ts": time.time(), "meta": {}}
    if src is not None:
        entry["dirs"], entry["schema"] = list(src["dirs"]), src["schema"]
        if "files" in src:
            entry["files"] = dict(src["files"])
        if src.get("dvs"):
            entry["dvs"] = list(src["dvs"])
        if src.get("mapping"):
            entry["mapping"] = dict(src["mapping"])
    entry.update(fields)
    if "files" in fields:
        entry["dirs"] = sorted(entry["files"])
    entry.setdefault("dirs", [])
    if add_dir is not None:
        entry["dirs"] = entry["dirs"] + [add_dir]
        if "files" in entry:
            entry["files"] = {
                **entry["files"], add_dir: sorted(manifest["dir_stats"][add_dir])
            }
    for k in ("dvs", "mapping"):
        if not entry.get(k):
            entry.pop(k, None)
    if entry.get("data_change", True):
        entry.pop("data_change", None)
    return entry


def _commit_entry(
    root: str, manifest: dict, entry: dict, branch: str | None = None
) -> int:
    """The one commit path of a new snapshot entry: its parent is the
    head of the ref it advances (``branch``, else main's ``current``);
    it is appended, the ref moves to it, and :func:`_commit`'s version
    CAS publishes both at once or raises :class:`CommitConflict`.
    Returns the entry's id."""
    if branch is None:
        entry["parent"] = manifest["current"]
        manifest["current"] = entry["id"]
    else:
        entry["parent"] = manifest["branches"][branch]
        manifest["branches"][branch] = entry["id"]
    manifest["snapshots"].append(entry)
    _commit(root, manifest)
    return entry["id"]


@_retry_conflicts
def set_constraint(root: str, name: str, sql_condition: str) -> None:
    """Store a CHECK constraint (Delta ``ALTER TABLE ADD CONSTRAINT``):
    a SQL boolean expression every FUTURE :func:`write_snapshot` row
    must satisfy (NULL satisfies, only FALSE violates — ANSI CHECK).
    Enforcement is in-plan at write time via
    :func:`~e_commerce_lakehouse_spark.operators.constraints.
    guard_constraints`; a violating write fails BEFORE the manifest
    commit, so the table never exposes a bad snapshot."""
    manifest = _load(root)
    manifest.setdefault("constraints", {})[name] = sql_condition
    _commit(root, manifest)


@_retry_conflicts
def drop_constraint(root: str, name: str) -> None:
    manifest = _load(root)
    if name not in manifest.get("constraints", {}):
        raise KeyError(f"no constraint {name!r} on table {root}")
    del manifest["constraints"][name]
    _commit(root, manifest)


def table_constraints(root: str) -> dict[str, str]:
    return dict(_load(root).get("constraints", {}))


# ---------------------------------------------------------------------------
# Hidden partition transforms (Iceberg partition specs): the table
# declares ``days(ts)`` / ``bucket(n, col)`` / ``truncate(w, col)``
# once; every later write derives the transform value as a hidden
# ``_p_*`` column, range-clusters files on it, and lets the ordinary
# footer-stats machinery record tight per-file bounds. Queries keep
# filtering on the SOURCE column — plan_scan derives the implied
# transform predicate itself (that is what makes the partitioning
# "hidden"). Hidden columns never surface on any read path.
# ---------------------------------------------------------------------------


@_retry_conflicts
def set_partition_spec(root: str, spec: list[tuple]) -> None:
    """Declare the table's partition transforms, e.g.
    ``[("days", "ts"), ("bucket", 16, "user_id"), ("truncate", 4,
    "code")]``. Applies to every SUBSEQUENT write (existing files keep
    their layout and simply have no transform stats — pruning stays
    sound either way, exactly like evolving an Iceberg spec)."""
    norm = []
    for t in spec:
        if t and t[0] == "days" and len(t) == 2:
            norm.append({"transform": "days", "col": t[1]})
        elif t and t[0] in ("bucket", "truncate") and len(t) == 3:
            if not isinstance(t[1], int) or t[1] <= 0:
                raise ValueError(f"{t[0]} parameter must be a positive int: {t!r}")
            norm.append({"transform": t[0], "param": t[1], "col": t[2]})
        else:
            raise ValueError(
                f"unsupported transform {t!r}; use ('days', col), "
                "('bucket', n, col), ('truncate', w, col)"
            )
    os.makedirs(root, exist_ok=True)  # spec may precede the first write
    manifest = _load(root)
    manifest["partition_spec"] = norm
    _commit(root, manifest)


def partition_spec(root: str) -> list[dict]:
    return [dict(t) for t in _load(root).get("partition_spec", [])]


_INT_DTYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}


def _hidden_name(t: dict) -> str:
    return f"_p_{t['transform']}_{t['col']}"


def _transform_column(t: dict, dtype: str) -> Column:
    """The write-side transform expression. ``bucket`` hashes the
    value's STRING rendering with crc32 so the Python literal
    derivation in :func:`_transform_value` can reproduce it exactly."""
    c = F.col(t["col"])
    kind = t["transform"]
    if kind == "days":
        return F.datediff(
            F.to_date(c), F.lit("1970-01-01").cast("date")
        ).cast("int")
    if kind == "bucket":
        return F.pmod(F.crc32(c.cast("string").cast("binary")), F.lit(t["param"])).cast(
            "int"
        )
    if kind == "truncate":
        if dtype == "string":
            return F.substring(c, 1, t["param"])
        return (c - F.pmod(c, F.lit(t["param"]))).cast("long")
    raise ValueError(f"unknown transform {kind!r}")


def _transform_value(t: dict, v):
    """Python-side transform of a predicate literal — must agree with
    :func:`_transform_column` bit-for-bit, so only value types with an
    unambiguous cross-engine rendering participate; anything else
    returns None and the derived predicate is simply not added
    (pruning stays sound, just less sharp)."""
    kind = t["transform"]
    if kind == "days":
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                tz = _session_tzinfo()
                if tz is None:
                    return None
                v = v.astimezone(tz)
            v = v.date()
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        return None
    if kind == "bucket":
        import zlib

        # bucket hashes Spark's CAST(col AS STRING) rendering, so the
        # literal's Python rendering must provably match it — which
        # requires knowing the COLUMN dtype (stamped into the spec at
        # write time): an int literal against a DOUBLE column renders
        # "42" vs "42.0", and a numeric literal against a padded
        # STRING column ("042") equals under Spark's comparison cast
        # but hashes differently. No stamped dtype, or a literal type
        # that doesn't exactly match it -> no derived predicate.
        dtype = t.get("dtype")
        ok = (
            (dtype in _INT_DTYPES and isinstance(v, int) and not isinstance(v, bool))
            or (dtype == "string" and isinstance(v, str))
            or (
                dtype == "date"
                and isinstance(v, _dt.date)
                and not isinstance(v, _dt.datetime)
            )
        )
        if not ok:
            return None
        return zlib.crc32(str(v).encode("utf-8")) % t["param"]
    if kind == "truncate":
        if isinstance(v, str):
            return v[: t["param"]]
        if isinstance(v, int) and not isinstance(v, bool):
            return v - (v % t["param"])  # Python % floors like pmod
        return None
    return None


def _derived_predicates(spec: list[dict], predicates: list[tuple]) -> list[tuple]:
    """Implied hidden-column predicates for pruning ONLY (never applied
    as residual filters). Monotone transforms (days, truncate) weaken
    strict bounds to inclusive ones — row satisfies (col < v) implies
    transform(col) <= transform(v); bucket derives equality/IN."""
    out: list[tuple] = []
    for p in predicates:
        col, op = p[0], p[1]
        if op in ("is_null", "not_null"):
            continue
        for t in spec:
            if t["col"] != col:
                continue
            h = _hidden_name(t)
            if op == "in":
                tvs = [_transform_value(t, v) for v in p[2]]
                if all(tv is not None for tv in tvs):
                    out.append((h, "in", tvs))
                continue
            if t["transform"] == "bucket" and op != "=":
                continue  # hash is not monotone
            tv = _transform_value(t, p[2])
            if tv is None:
                continue
            if op == "=":
                out.append((h, "=", tv))
            elif op in ("<", "<="):
                out.append((h, "<=", tv))
            elif op in (">", ">="):
                out.append((h, ">=", tv))
    return out


def _strip_hidden(df: DataFrame, hidden: set[str]) -> DataFrame:
    """Drop RECORDED hidden transform columns only — a user column
    that merely starts with ``_p_`` on a legacy table is data, not
    metadata, and must never be silently removed (new writes reject
    the prefix instead)."""
    hid = [c for c in df.columns if c in hidden]
    return df.drop(*hid) if hid else df


def _hidden_set(manifest: dict) -> set[str]:
    return set(manifest.get("hidden_cols", []))


def _scan_entry_files(spark: SparkSession, entry: dict, paths: list[str]) -> DataFrame:
    """Raw scan of a snapshot's files under the entry's PHYSICAL schema:
    the recorded fields, named through the column mapping, every one
    nullable. The manifest's schema is authoritative — no footer is
    read to plan the scan, so building the frame launches no Spark
    job. Files missing a column read it as NULL, file columns outside
    the schema (dropped or hidden transform columns) are pruned, and a
    metadata-widened column's narrow files up-cast losslessly (Spark
    4's type-widening parquet reads). ``_metadata`` still resolves on
    the scan relation."""
    import pyspark.sql.types as T

    mapping = entry.get("mapping", {})
    phys = T.StructType(
        [
            T.StructField(mapping.get(f.name, f.name), f.dataType, True)
            for f in _struct_of(entry["schema"]).fields
        ]
    )
    return spark.read.schema(phys).parquet(*paths)


@functools.lru_cache(maxsize=128)
def _struct_of(schema_json: str):
    """A recorded schema JSON as a StructType, parsed once per distinct
    schema — read-only: callers build new types, never mutate it."""
    import pyspark.sql.types as T

    return T.StructType.fromJson(json.loads(schema_json))


def _entry_frame(
    spark: SparkSession,
    root: str,
    manifest: dict,
    entry: dict,
    rel_files: list[str] | None = None,
) -> DataFrame:
    """The merge-on-read frame of one snapshot entry — the one read
    frame builder. Scans ``rel_files`` (root-relative, e.g. a
    :func:`plan_scan` survivor list; default: every file of the entry)
    with :func:`_scan_entry_files`, anti-joins the entry's deletion
    vectors, and makes the entry's recorded schema authoritative: each
    logical column resolves to its physical file column through the
    column mapping (stable physical names survive renames), an
    initial-default column reads its default on rows of the dirs that
    predate it, and dropped or hidden columns never surface. This is
    what makes schema evolution a manifest edit instead of a data
    rewrite — the Iceberg/Delta read contract. With no file to read the
    frame is empty, with that schema, and touches no storage."""
    import pyspark.sql.types as T

    hidden = _hidden_set(manifest)
    fields = [f for f in _struct_of(entry["schema"]).fields if f.name not in hidden]
    if rel_files is not None:
        paths = [os.path.join(root, f) for f in rel_files]
    elif "files" in entry:
        paths = [os.path.join(root, d, f) for d, f in _entry_units(root, manifest, entry)]
    else:
        paths = [os.path.join(root, d) for d in entry["dirs"]]
    if not paths:  # every file pruned, or replace_where deleted every row
        return spark.createDataFrame([], T.StructType(fields))
    df = _scan_entry_files(spark, entry, paths)
    if any("initial_default" in (f.metadata or {}) for f in fields):
        # each row's source DIR, off the raw scan's _metadata: it
        # resolves only on the scan relation, so tag before the DV join
        df = df.withColumn(
            "__src_dir",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2),
        )
    df = _apply_dvs(spark, root, entry, df)
    mapping = entry.get("mapping", {})
    cols = []
    for f in fields:
        meta = f.metadata or {}
        col = F.col(mapping.get(f.name, f.name))
        if "initial_default" in meta:
            # rows from dirs that predate the ADD read the default (the
            # column did not exist there); every later write reads back
            # exactly what it wrote, explicit NULLs included — dir
            # membership, not value-coalescing
            col = F.when(
                F.col("__src_dir").isin(list(meta.get("default_dirs", []))),
                F.lit(meta["initial_default"]).cast(f.dataType),
            ).otherwise(col)
        cols.append(col.alias(f.name))
    return df.select(*cols)


def _read_dvs(spark: SparkSession, root: str, dvs: list[str]) -> DataFrame:
    """The (file, pos) rows of ``dvs`` sidecar dirs, read under the
    sidecars' fixed schema (no footer inference)."""
    return spark.read.schema("file STRING, pos BIGINT").parquet(
        *[os.path.join(root, d) for d in dvs]
    )


def _merge_rewrite_schema(manifest: dict, parent_schema_json: str, frame_schema) -> str:
    """Schema a REWRITE commit (replace_where / update_where / compact)
    records: the parent's fields win — a metadata-only added column not
    yet present in any data file must survive the rewrite — plus any
    genuinely new fields the written frame introduces. Hidden transform
    columns and retired (dropped) physical names must never re-enter
    the logical schema: a caller's replacement rows may carry them, and
    old files still hold their data."""
    import pyspark.sql.types as T

    skip = _hidden_set(manifest) | set(manifest.get("retired_physical", []))
    kept = T.StructType(
        [f for f in frame_schema.fields if f.name not in skip]
    )
    return _merge_append_schema(parent_schema_json, kept)


def _merge_append_schema(parent_schema_json: str, appended) -> str:
    """Schema an append commit records: the parent's fields (their
    order and types win) plus any NEW trailing fields the appended
    StructType introduces — so a narrow append never shrinks the
    logical table and a widening append IS the schema evolution. A
    same-name type conflict is refused loudly (silent coercion would
    corrupt the column for every older file)."""
    import pyspark.sql.types as T

    parent = T.StructType.fromJson(json.loads(parent_schema_json))
    by_name = {f.name: f for f in parent.fields}
    fields = list(parent.fields)
    for f in appended.fields:
        old = by_name.get(f.name)
        if old is None:
            fields.append(T.StructField(f.name, f.dataType, True))
        elif old.dataType != f.dataType:
            raise ValueError(
                f"append schema conflict on {f.name!r}: table has "
                f"{old.dataType.simpleString()}, append has "
                f"{f.dataType.simpleString()}"
            )
    return T.StructType(fields).json()


#: sentinel for write_snapshot.expected_base: "no expectation — rebase
#: freely" (None is a real value meaning "I derived from an EMPTY table")
_ANY_BASE = object()


def write_snapshot(
    df: DataFrame,
    root: str,
    mode: str = "overwrite",
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    branch: str | None = None,
    expected_base=_ANY_BASE,
    data_change: bool = True,
) -> int:
    """Commit ``df`` as a new snapshot; returns the snapshot id.

    ``data_change=False`` marks the commit as a row-preserving
    maintenance rewrite (Delta's ``dataChange=false`` — OPTIMIZE and
    the like): the visible row multiset is IDENTICAL to the parent's,
    only the file layout changed. Streaming table readers skip such
    commits silently. Callers own the row-identity guarantee — pass it
    only for rewrites of the parent snapshot's exact contents.

    ``mode="overwrite"`` replaces the visible table contents;
    ``mode="append"`` adds a delta dir on top of the current
    snapshot's dirs (the parent data is referenced, never rewritten).
    Either way every prior snapshot remains time-travel readable until
    expired. ``meta`` (JSON-serializable) rides the manifest entry —
    committed ATOMICALLY with the data at the manifest swap, which is
    what lets sinks store their exactly-once watermark (e.g. a stream
    batch id) in the same transaction as the rows it covers.

    Every commit also records per-file column min/max/null stats read
    from the freshly-written parquet FOOTERS (no data re-read) under
    ``manifest["dir_stats"][data_dir]`` — the Iceberg manifest-stats
    model that makes :func:`scan_snapshot` prune files before Spark
    opens them. Data dirs are immutable, so append commits inherit the
    parent dirs' stats for free. ``stats_cols`` restricts which
    columns get bounds (default: every primitive leaf) — at 100 TB the
    manifest grows O(#files x #stats_cols), so wide tables should pin
    it to their cluster/filter columns just as Iceberg's
    ``write.metadata.metrics`` properties do.

    ``expected_base``: the snapshot id ``df``'s contents were DERIVED
    from, for read-modify-write overwrite callers (copy-on-write MERGE,
    OPTIMIZE rewrites, streaming CoW sinks). When passed, the commit
    refuses — raises :class:`CommitConflict` instead of rebasing — if
    the target ref's head is no longer ``expected_base``: rebasing
    stale-derived data would silently ERASE the concurrent writer's
    commit (the classic lost update). Callers that pass it must sit
    behind a retry that RECOMPUTES ``df`` from the fresh head. ``None``
    means "derived from an empty table". Appends and blind overwrites
    (derived from nothing) omit it and rebase freely.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    os.makedirs(root, exist_ok=True)
    manifest = _load(root)
    # Iceberg-style branch write (the Write-Audit-Publish staging
    # half): commits build on the BRANCH head and advance only the
    # branch pointer — ``current`` (main) is untouched until
    # :func:`fast_forward` publishes. Snapshot ids stay globally
    # monotonic across refs.
    if branch is not None and branch not in manifest.get("branches", {}):
        raise KeyError(
            f"unknown branch {branch!r}; create_branch first "
            f"(existing: {sorted(manifest.get('branches', {}))})"
        )
    base_id = (
        manifest["branches"][branch] if branch is not None
        else manifest["current"]
    )
    if expected_base is not _ANY_BASE and base_id != expected_base:
        # cheap early abort BEFORE the data write: the state this df
        # was derived from is already gone
        raise CommitConflict(
            f"{root}: derived from snapshot {expected_base} but the ref "
            f"head is {base_id}; recompute and retry"
        )
    stored = manifest.get("constraints", {})
    if stored:
        from ..operators.constraints import guard_constraints

        df = guard_constraints(df, stored)
    if stats_cols is not None and manifest.get("partition_spec"):
        # a stats_cols restriction must not blind the hidden transform
        # columns or the spec would stop pruning
        stats_cols = list(stats_cols) + [
            _hidden_name(t) for t in manifest["partition_spec"]
        ]
    logical_schema = df.schema
    if mode == "append" and base_id is not None:
        # the caller writes LOGICAL column names; files always store the
        # stable PHYSICAL names (column mapping — identity until a
        # rename), so a post-rename append lands next to pre-rename
        # files without any reader-side per-dir special-casing
        cmap = _entry(manifest, base_id).get("mapping", {})
        if cmap:
            df = df.select(
                *[F.col(c).alias(cmap.get(c, c)) for c in df.columns]
            )
    # an empty write still commits (a stream batch's entry is its
    # exactly-once record) but references no data dir
    data_dir = _write_rows_dir(df, root, manifest, mode, stats_cols)
    op = mode if branch is None else f"{mode}@{branch}"

    # Optimistic-concurrency commit loop (Iceberg's retryable fast
    # append): the parquet write above happened ONCE; a conflicting
    # concurrent commit only forces re-deriving the entry (id, parent,
    # dir lists) against the winner's manifest. Drift this writer
    # validated or derived from — constraints (df was guarded under
    # them) and the partition spec (the data was clustered under it) —
    # cannot be rebased and re-raises the conflict instead.
    for attempt in range(COMMIT_RETRIES):
        # an append carries the parent's content (file lists, deletion
        # vectors, column mapping — or dropped and DV-deleted rows
        # resurrect) and never SHRINKS the logical table: parent fields
        # win (order/type), new fields append — schema evolution by
        # widening write (re-merged per rebase: a concurrent append may
        # have widened the parent first)
        parent = (
            _entry(manifest, base_id)
            if mode == "append" and base_id is not None else None
        )
        entry = _child_entry(
            manifest, op, parent, add_dir=data_dir,
            schema=(
                _merge_append_schema(parent["schema"], logical_schema)
                if parent is not None else logical_schema.json()
            ),
            meta=meta or {}, data_change=data_change,
        )
        try:
            return _commit_entry(root, manifest, entry, branch)
        except CommitConflict:
            if attempt == COMMIT_RETRIES - 1:
                raise
            fresh = _load(root)
            if fresh.get("constraints", {}) != stored:
                raise
            if _spec_shape(fresh.get("partition_spec")) != _spec_shape(
                manifest.get("partition_spec")
            ):
                raise
            if mode == "append" and base_id is not None:
                # a concurrent RENAME/DROP cannot be rebased: the data
                # was written under the old mapping, and re-merging the
                # old logical names into the new schema would re-add a
                # renamed/dropped field pointing at live physical data.
                # Concurrent APPENDS (same or widened schema) rebase
                # fine — the next attempt re-merges against the fresh parent.
                old_parent = _entry(manifest, base_id)
                new_base = (
                    fresh.get("branches", {}).get(branch)
                    if branch is not None
                    else fresh["current"]
                )  # dropped-branch case: the handler below raises cleanly
                if new_base is not None:
                    new_parent = _entry(fresh, new_base)
                    if new_parent.get("mapping", {}) != old_parent.get(
                        "mapping", {}
                    ):
                        raise
                    old_fields = {
                        f["name"]
                        for f in json.loads(old_parent["schema"])["fields"]
                    }
                    new_fields = {
                        f["name"]
                        for f in json.loads(new_parent["schema"])["fields"]
                    }
                    if old_fields - new_fields:  # a drop slid in
                        raise
            # carry this write's stats, dtype stamps and hidden-col
            # registrations
            if data_dir is not None:
                fresh["dir_stats"][data_dir] = manifest["dir_stats"][data_dir]
            if manifest.get("partition_spec"):
                fresh["partition_spec"] = manifest["partition_spec"]
            hidden = set(fresh.get("hidden_cols", [])) | set(
                manifest.get("hidden_cols", [])
            )
            if hidden:
                fresh["hidden_cols"] = sorted(hidden)
            if branch is not None:
                if branch not in fresh.get("branches", {}):
                    raise KeyError(
                        f"branch {branch!r} was dropped concurrently"
                    ) from None
                base_id = fresh["branches"][branch]
            else:
                base_id = fresh["current"]
            if expected_base is not _ANY_BASE and base_id != expected_base:
                # the ref moved: a rebase would commit stale-derived
                # contents over the concurrent writer's — re-raise so
                # the caller's retry recomputes from the fresh head
                raise
            manifest = fresh
            time.sleep(0.005 * (attempt + 1))
    raise AssertionError("unreachable")


def _parquet_dir_rows(root: str, d: str) -> int:
    """Total rows of one dir's parquet files from FOOTERS only (no
    data read) — the single counting helper for DV sidecars and
    table_stats' deleted-row adjustment."""
    import pyarrow.parquet as pq

    dp = os.path.join(root, d)
    return sum(
        pq.read_metadata(os.path.join(dp, f)).num_rows
        for f in os.listdir(dp)
        if f.endswith(".parquet")
    )


def _dir_files(root: str, manifest: dict, d: str) -> list[str]:
    """Parquet file names of one data dir — from recorded stats when
    present (no listing), else a directory listing."""
    stats = manifest["dir_stats"].get(d)
    if stats is not None:
        return sorted(stats)
    return sorted(
        f
        for f in os.listdir(os.path.join(root, d))
        if f.endswith(".parquet")
    )


def _entry_units(root: str, manifest: dict, entry: dict):
    """Yield ``(dir, file)`` pairs composing a snapshot. Entries
    written by :func:`replace_where` carry a per-dir kept-file list
    under ``entry["files"]`` (Iceberg's manifest-file granularity);
    plain entries own every file of their dirs."""
    file_filter = entry.get("files", {})
    for d in entry["dirs"]:
        names = file_filter.get(d)
        if names is None:
            names = _dir_files(root, manifest, d)
        for f in names:
            yield d, f


def _rel_file_col() -> Column:
    """'dir/name' of the source file of each row, from the hidden
    parquet ``_metadata`` struct — the join key deletion vectors use.
    Last two path components, so the reference survives a table-root
    move (a full-path key would not)."""
    parts = F.split(F.col("_metadata.file_path"), "/")
    return F.concat_ws(
        "/", F.element_at(parts, -2), F.element_at(parts, -1)
    )


def _apply_dvs(spark: SparkSession, root: str, entry: dict, df: DataFrame) -> DataFrame:
    """Merge-on-read: anti-join the snapshot's active deletion vectors
    (Delta DV / Iceberg positional-delete model). The DV sidecars are
    KB-scale (file, pos) parquet — broadcast, so the read plan gains
    one map-side anti-join and no shuffle. Rows of files not covered
    by any DV pass through untouched; a DV row whose file was dropped
    by a later commit simply matches nothing (sound)."""
    dvs = entry.get("dvs")
    if not dvs:
        return df
    dv = _read_dvs(spark, root, dvs)
    tagged = df.select(
        "*",
        _rel_file_col().alias("_dv_file"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )
    return (
        tagged.join(
            F.broadcast(dv),
            (tagged._dv_file == dv.file) & (tagged._dv_pos == dv.pos),
            "left_anti",
        )
        .drop("_dv_file", "_dv_pos")
    )


def _guard_no_dvs(entry: dict, op: str) -> None:
    """Ops that read data FILES raw (rewrites, changelog diffs) would
    resurrect DV-deleted rows; refuse loudly instead of silently
    returning them. rewrite_deletes materializes the DVs and clears
    the state."""
    if entry.get("dvs"):
        raise ValueError(
            f"{op}: snapshot {entry['id']} has active deletion vectors "
            f"({len(entry['dvs'])}); run deletes.rewrite_deletes() "
            "first — this operation reads data files raw and would "
            "resurrect deleted rows"
        )


def _guard_raw_layout(entry: dict, op: str) -> None:
    """Ops that read data FILES raw refuse the three metadata-only
    schema states such a read gets silently wrong, each with the fix
    spelled out (:func:`materialize_schema` rewrites the table out of
    all three):

    - renamed columns: the files keep their physical names, so the op
      would mis-resolve columns (or rewrite files without the mapping,
      losing the rename for every later reader);
    - initial defaults: pre-ADD rows would surface as NULL, and a
      rewrite would move them out of the recorded default dirs;
    - metadata-widened columns: files sit at mixed physical widths
      (the scan reads them, but the rewrite and changelog semantics
      stay single-width)."""
    if entry.get("mapping"):
        raise ValueError(
            f"{op}: snapshot {entry['id']} has renamed columns "
            f"(column mapping {entry['mapping']}); this operation "
            "reads data files raw by physical name — run "
            "materialize_schema() first"
        )
    fields = json.loads(entry["schema"])["fields"]
    defaulted = [
        f["name"] for f in fields
        if "initial_default" in (f.get("metadata") or {})
    ]
    if defaulted:
        raise ValueError(
            f"{op}: snapshot {entry['id']} has columns with initial "
            f"defaults {defaulted}; this operation reads data files "
            "raw (pre-ADD rows would surface as NULL) — run "
            "materialize_schema() first"
        )
    if any("widened_from" in (f.get("metadata") or {}) for f in fields):
        raise ValueError(
            f"{op}: snapshot {entry['id']} has metadata-widened columns "
            "(files at mixed physical widths); run materialize_schema() "
            "first"
        )


# ---------------------------------------------------------------------------
# Schema evolution (Iceberg ALTER TABLE ... ADD/RENAME/DROP COLUMN):
# metadata-only commits. Files always store STABLE physical column
# names; the entry's logical schema plus a logical->physical "mapping"
# (present only for renamed columns — Delta's column-mapping model)
# drive every read through _entry_frame. No data file is
# touched by any of these, whatever the table size.
# ---------------------------------------------------------------------------


def _schema_ddl_commit(root: str, op: str, mutate) -> int:
    """One OCC-retried metadata-only commit: ``mutate(fields, mapping,
    manifest)`` edits the logical field list / mapping in place and the
    new entry carries the current snapshot's data unchanged."""
    import pyspark.sql.types as T

    @_retry_conflicts
    def _run() -> int:
        manifest = _load(root)
        if manifest["current"] is None:
            raise KeyError(f"table {root} has no snapshots")
        entry = _entry(manifest, manifest["current"])
        struct = T.StructType.fromJson(json.loads(entry["schema"]))
        fields = list(struct.fields)
        mapping = dict(entry.get("mapping", {}))
        mutate(fields, mapping, manifest)
        return _commit_entry(root, manifest, _child_entry(
            manifest, op, entry,
            schema=T.StructType(fields).json(), mapping=mapping,
        ))

    return _run()


def _guard_column_referenced(manifest: dict, col: str, op: str) -> None:
    """A rename/drop must not orphan a reference the engine itself
    evaluates by name: partition transforms, CHECK constraints, the
    bloom-index spec."""
    for t in manifest.get("partition_spec", []):
        if t["col"] == col:
            raise ValueError(
                f"{op}: column {col!r} is used by partition transform "
                f"{t}; drop the spec first"
            )
    for cname, cond in manifest.get("constraints", {}).items():
        if re.search(rf"\b{re.escape(col)}\b", cond):
            raise ValueError(
                f"{op}: column {col!r} is referenced by CHECK "
                f"constraint {cname!r} ({cond}); drop it first"
            )
    spec = manifest.get("bloom_spec")
    if spec and col in spec.get("cols", []):
        raise ValueError(
            f"{op}: column {col!r} is in the bloom-index spec; "
            "re-declare the index without it first"
        )


def _parse_ddl_type(dtype: str):
    """DDL type string -> DataType. The full Spark grammar needs an
    active session; fall back to the atomic types + decimal so the
    metadata-only DDL ops work without one."""
    import re as _re

    import pyspark.sql.types as T

    try:
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(dtype)
    except Exception:
        pass
    s = dtype.strip().lower()
    atomic = {
        "string": T.StringType(), "long": T.LongType(),
        "bigint": T.LongType(), "int": T.IntegerType(),
        "integer": T.IntegerType(), "short": T.ShortType(),
        "byte": T.ByteType(), "double": T.DoubleType(),
        "float": T.FloatType(), "boolean": T.BooleanType(),
        "date": T.DateType(), "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(), "binary": T.BinaryType(),
    }
    if s in atomic:
        return atomic[s]
    if (m := _re.match(r"^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", s)):
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    raise ValueError(
        f"cannot parse DDL type {dtype!r} without an active SparkSession"
    )


def add_column(root: str, name: str, dtype: str, default=None) -> int:
    """Metadata-only ADD COLUMN (nullable; older files read back NULL).
    ``dtype`` is a DDL string (``"string"``, ``"decimal(12,2)"``...).
    If the name was ever used before (a dropped column's physical data
    lingers in old files), the new column gets a FRESH physical name so
    the old values can never resurrect under the new column.

    ``default`` (a plain literal) is the INITIAL default — Iceberg v3 /
    Delta semantics: rows written BEFORE the column existed read back
    this value instead of NULL (per-file: a file simply lacking the
    physical column fills the default); rows written after, including
    explicit NULLs, read back exactly what was written. Stored in the
    field metadata, applied by the read projection — still zero data
    I/O."""
    dt = _parse_ddl_type(dtype)
    import pyspark.sql.types as T

    def mutate(fields, mapping, manifest):
        if any(f.name == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        if not name.isidentifier():
            raise ValueError(f"invalid column name {name!r}")
        taken = (
            set(mapping.values())
            | {mapping.get(f.name, f.name) for f in fields}
            | set(manifest.get("retired_physical", []))
            | _hidden_set(manifest)  # transform columns live in files
        )
        if name in taken:
            phys = f"{name}__c{_next_id(manifest)}"
            mapping[name] = phys
        meta = {}
        if default is not None:
            # the default applies to rows that PREDATE the column —
            # i.e. rows in the dirs committed so far. Record them: a
            # scan under the manifest schema cannot tell "file lacks
            # the column" from "file has it with NULLs", but dir
            # membership is exact and immutable.
            cur = _entry(manifest, manifest["current"])
            meta = {
                "initial_default": default,
                "default_dirs": sorted(cur["dirs"]),
            }
        fields.append(T.StructField(name, dt, True, metadata=meta))

    return _schema_ddl_commit(root, f"add_column:{name}", mutate)


#: type promotions a metadata-only ALTER COLUMN TYPE may make — the
#: Iceberg v2 widening set: every old value is exactly representable in
#: the new type, so old files read through a lossless cast
_WIDENINGS = {  # keyed by DataType.simpleString()
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def alter_column_type(root: str, name: str, dtype: str) -> int:
    """Metadata-only ALTER COLUMN TYPE, restricted to LOSSLESS
    widenings (int->long, float->double, decimal precision growth at
    fixed scale — Iceberg's promotion rules): old files keep their
    narrow physical type and the scan reads them at the widened type
    (`_scan_entry_files` up-casts losslessly). Anything lossy is refused — it would need a
    rewrite, not a manifest edit."""
    new_dt = _parse_ddl_type(dtype)
    import pyspark.sql.types as T

    def mutate(fields, mapping, manifest):
        names = [f.name for f in fields]
        if name not in names:
            raise KeyError(f"no column {name!r}; columns: {names}")
        i = names.index(name)
        old_dt = fields[i].dataType
        ok = (old_dt.simpleString(), new_dt.simpleString()) in _WIDENINGS
        if (
            isinstance(old_dt, T.DecimalType)
            and isinstance(new_dt, T.DecimalType)
            and new_dt.scale == old_dt.scale
            and new_dt.precision >= old_dt.precision
        ):
            ok = True
        if old_dt == new_dt:
            raise ValueError(f"column {name!r} is already {dtype}")
        if not ok:
            raise ValueError(
                f"cannot widen {name!r} from {old_dt.simpleString()} to "
                f"{new_dt.simpleString()}; metadata-only ALTER supports "
                "lossless promotions only (byte/short/int->long, "
                "float->double, decimal precision growth at fixed scale)"
            )
        meta = dict(fields[i].metadata or {})
        meta["widened_from"] = old_dt.simpleString()
        fields[i] = T.StructField(
            name, new_dt, fields[i].nullable, metadata=meta
        )

    return _schema_ddl_commit(root, f"alter_column_type:{name}", mutate)


def rename_column(root: str, old: str, new: str) -> int:
    """Metadata-only RENAME COLUMN: the physical file name never
    changes (that is what makes it O(0) at 100 TB); only the logical
    name and the mapping move. Guarded against references the engine
    evaluates by name (partition spec, constraints, bloom spec)."""

    def mutate(fields, mapping, manifest):
        names = [f.name for f in fields]
        if old not in names:
            raise KeyError(f"no column {old!r}; columns: {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if not new.isidentifier():
            raise ValueError(f"invalid column name {new!r}")
        _guard_column_referenced(manifest, old, "rename_column")
        mapping[new] = mapping.pop(old, old)
        i = names.index(old)
        f = fields[i]
        import pyspark.sql.types as T

        fields[i] = T.StructField(new, f.dataType, f.nullable)

    return _schema_ddl_commit(root, f"rename_column:{old}->{new}", mutate)


def drop_column(root: str, name: str) -> int:
    """Metadata-only DROP COLUMN: the physical data stays in the files
    (time travel to before the drop still reads it) but no current
    read surfaces it. The physical name is RETIRED so a later
    add_column of the same name maps to fresh storage."""

    def mutate(fields, mapping, manifest):
        names = [f.name for f in fields]
        if name not in names:
            raise KeyError(f"no column {name!r}; columns: {names}")
        if len(fields) == 1:
            raise ValueError("cannot drop the last column")
        _guard_column_referenced(manifest, name, "drop_column")
        retired = set(manifest.get("retired_physical", []))
        retired.add(mapping.pop(name, name))
        manifest["retired_physical"] = sorted(retired)
        del fields[names.index(name)]

    return _schema_ddl_commit(root, f"drop_column:{name}", mutate)


def materialize_schema(spark: SparkSession, root: str) -> int:
    """Rewrite the table copy-on-write so physical names == logical
    names again (clears the column mapping), re-enabling the raw-file
    ops `_guard_raw_layout` blocks. The analog of
    rewrite_deletes for the schema tier; O(table) by nature — schedule
    it like compaction, not per rename."""
    base = _load(root)["current"]
    df = read_snapshot(spark, root)
    return write_snapshot(df, root, mode="overwrite", expected_base=base)


def read_snapshot(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    as_of: float | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read the table: latest by default, a pinned ``snapshot_id``, a
    named ``tag`` (see :func:`tag_snapshot`), a ``branch`` head (the
    WAP audit read), or time travel to the newest snapshot committed
    at/before ``as_of`` (unix seconds). The snapshot's recorded schema
    is the read schema (no footer is consulted): rows of files written
    before a column was added read it back as NULL, or as its initial
    default."""
    manifest = _load(root)
    entry = _pin(manifest, snapshot_id, as_of=as_of, tag=tag, branch=branch)
    return _entry_frame(spark, root, manifest, entry)


def snapshot_changes(
    spark: SparkSession,
    root: str,
    keys: list[str],
    from_id: int,
    to_id: int,
) -> DataFrame:
    """Changelog scan between two committed snapshots (Delta CDF's
    ``table_changes`` / Iceberg's ``create_changelog_view``): every row
    inserted / deleted / updated going from ``from_id`` to ``to_id``,
    classified in ``_change_type`` with ``_commit_version = to_id``.

    The snapshot log stores full table states (not per-commit deltas),
    so the feed is derived by :func:`~e_commerce_lakehouse_spark.
    operators.upsert.cdc_diff` — one null-safe full-outer join on the
    key. Unchanged rows are suppressed, so an append-only table's feed
    is exactly its appended rows."""
    from ..operators.upsert import cdc_diff

    if from_id == to_id:
        raise ValueError("from_id and to_id must differ")
    old = read_snapshot(spark, root, snapshot_id=from_id)
    new = read_snapshot(spark, root, snapshot_id=to_id)
    return cdc_diff(old, new, keys).withColumn(
        "_commit_version", F.lit(to_id).cast("long")
    )


def snapshot_file_changes(
    spark: SparkSession,
    root: str,
    from_id: int,
    to_id: int,
) -> tuple[DataFrame, dict]:
    """O(changed-files) changelog between two snapshots, derived from
    the MANIFEST alone: rows in files referenced by ``to_id`` but not
    ``from_id`` come back as ``_change_type='insert'``, rows in files
    only ``from_id`` references as ``'delete'``. No join, no scan of
    any file both snapshots share — an append commit's feed reads
    exactly the appended dirs, a replace_where commit's feed reads the
    boundary files it rewrote. This is what makes downstream
    incremental maintenance O(delta) at 100 TB (see plans/ivm.py),
    where :func:`snapshot_changes`'s full-outer diff is O(table).

    Contract difference vs :func:`snapshot_changes`: rows carried
    verbatim THROUGH a rewritten file appear as an offsetting
    delete+insert pair, and updates are not paired into
    pre/post-images. Exact for signed-aggregation consumers (every
    pair nets to zero); use :func:`snapshot_changes` when a minimal
    row-level feed matters more than delta-sized I/O.

    Returns ``(feed, info)`` with ``info = {"added": [...],
    "removed": [...]}`` (paths relative to ``root``) so callers and
    plan gates can assert exactly which files the feed touches.

    ``data_change=False`` maintenance commits (compact / ZORDER /
    REORG PURGE) are row-multiset IDENTITY, so the range's endpoints
    SLIDE past them (leading and trailing): a maintenance-only range
    yields the EMPTY feed without reading a single file, and an IVM
    refresh that lands right after nightly compaction no longer pays
    an offsetting full-rewrite read for a net-zero delta. Interior
    maintenance between two data commits still shows as offsetting
    pairs (signed consumers net them to zero, the documented
    contract). ``info["effective"]`` records the slid endpoints."""
    if from_id == to_id:
        raise ValueError("from_id and to_id must differ")
    manifest = _load(root)
    by_id = {s["id"]: s for s in manifest["snapshots"]}
    chain, cur = [], to_id
    while cur is not None and cur != from_id:
        if cur not in by_id:
            raise KeyError(f"no snapshot {cur}")
        chain.append(by_id[cur])
        cur = by_id[cur].get("parent")
    if cur != from_id:
        raise ValueError(
            f"snapshot {from_id} is not an ancestor of {to_id}; "
            "file-granular changelogs walk one parent chain"
        )
    chain.reverse()
    while chain and chain[-1].get("data_change", True) is False:
        chain.pop()  # trailing maintenance: identity on rows
    i = 0
    while i < len(chain) and chain[i].get("data_change", True) is False:
        i += 1  # leading maintenance right after from_id: identity
    from_id = chain[i - 1]["id"] if i else from_id
    to_id = chain[-1]["id"] if chain else from_id
    if from_id == to_id:  # maintenance-only range: empty feed
        entry = _entry(manifest, to_id)
        import pyspark.sql.types as T

        feed = spark.createDataFrame(
            [], T.StructType.fromJson(json.loads(entry["schema"]))
        ).withColumn("_change_type", F.lit("insert")).withColumn(
            "_commit_version", F.lit(to_id).cast("long")
        )
        return feed, {
            "added": [], "removed": [], "effective": [from_id, to_id],
        }
    # a DV delete changes ROWS without changing the file set, so the
    # file-granular feed cannot see it (and raw reads would resurrect
    # earlier DV deletes) — refuse; snapshot_changes (read_snapshot
    # based) is DV-correct, or rewrite_deletes first
    from_entry, to_entry = _entry(manifest, from_id), _entry(manifest, to_id)
    for e in (from_entry, to_entry):
        _guard_no_dvs(e, "snapshot_file_changes")
        _guard_raw_layout(e, "snapshot_file_changes")
    old = set(_entry_units(root, manifest, from_entry))
    new = set(_entry_units(root, manifest, to_entry))
    added = sorted(os.path.join(d, f) for d, f in new - old)
    removed = sorted(os.path.join(d, f) for d, f in old - new)

    def _read(entry, paths, change_type):
        # added files read under the NEW snapshot's schema, removed
        # ones under the OLD one's: each side as its snapshot saw it
        df = _scan_entry_files(
            spark, entry, [os.path.join(root, p) for p in paths]
        )
        return df.withColumn("_change_type", F.lit(change_type))

    if added and removed:
        feed = _read(to_entry, added, "insert").unionByName(
            _read(from_entry, removed, "delete"), allowMissingColumns=True
        )
    elif added:
        feed = _read(to_entry, added, "insert")
    elif removed:
        feed = _read(from_entry, removed, "delete")
    else:
        entry = _entry(manifest, to_id)
        schema = json.loads(entry["schema"])
        import pyspark.sql.types as T

        feed = spark.createDataFrame([], T.StructType.fromJson(schema)).withColumn(
            "_change_type", F.lit("insert")
        )
    feed = feed.withColumn("_commit_version", F.lit(to_id).cast("long"))
    return feed, {
        "added": added,
        "removed": removed,
        "effective": [from_id, to_id],
    }


@_retry_conflicts
def rollback(root: str, snapshot_id: int) -> int:
    """Roll the table back: a NEW snapshot whose dir list is the
    target's (Iceberg ``rollback_to_snapshot`` — history is preserved,
    the rollback itself is auditable, no data moves)."""
    manifest = _load(root)
    # row-identical: the target's file lists, column mapping and
    # deletion vectors come along with its dirs and schema
    target = _entry(manifest, snapshot_id)
    return _commit_entry(
        root, manifest, _child_entry(manifest, f"rollback->{snapshot_id}", target)
    )


def history(root: str) -> list[dict]:
    """Snapshot log (id, op, ts, parent, meta, summary) — Iceberg's
    ``.history``/Delta's DESCRIBE HISTORY surface, without the dir
    payload (light fields only: no entry file is ever read). ``meta``
    is the commit's sink metadata ({} for plain writes and pre-meta
    manifests); ``summary`` is the commit-time operation metrics
    (added/removed dirs, added files/rows/bytes, DV counts — {} for
    entries committed before summaries existed); ``data_change`` is
    False for row-preserving maintenance rewrites (compact / ZORDER —
    Delta's dataChange flag), so consumers can audit maintenance vs
    data commits."""
    return [
        {k: s[k] for k in ("id", "op", "ts", "parent")}
        | {
            "meta": s.get("meta", {}),
            "summary": s.get("summary", {}),
            "data_change": s.get("data_change", True),
        }
        for s in _load(root)["snapshots"]
    ]


@_retry_conflicts
def expire_snapshots(
    root: str,
    keep_last: int = 2,
    older_than: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Retain the newest ``keep_last`` snapshots (the current one and
    every TAGGED snapshot are always retained) and delete data dirs —
    plus, within surviving dirs, individual files no retained entry
    references (replace_where/compact leftovers). Returns the deleted
    dir names and file paths. ALL manifest trimming commits BEFORE any
    deletion (two-phase): the trimmed manifest carries the file-level
    dead list as ``pending_delete``, then files are unlinked and a
    second commit clears the list. A crash at any point leaves either
    orphan dirs (remove_orphans collects them) or a pending_delete
    list the next expire retries — never a manifest entry pointing at
    deleted data.

    ``older_than`` (unix seconds — Iceberg ``expire_snapshots``'
    ``older_than`` timestamp): snapshots committed AT OR AFTER the
    cutoff are retained even beyond ``keep_last``, so a time-based
    retention SLA ("keep a week of history") composes with the
    count-based floor (at least ``keep_last`` always survive).

    ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``): report the dirs
    and files that WOULD be deleted under this retention, committing
    and deleting nothing."""
    manifest = _load(root)
    snaps = manifest["snapshots"]
    if not snaps:
        return []
    keep = {s["id"] for s in snaps[-keep_last:]} if keep_last > 0 else set()
    if older_than is not None:
        keep.update(s["id"] for s in snaps if s["ts"] >= older_than)
    keep.add(manifest["current"])
    keep.update(manifest.get("tags", {}).values())
    # branch heads are live refs: their dirs must survive like tags'
    keep.update(manifest.get("branches", {}).values())
    # ...and each branch head's PARENT CHAIN down to main's head must
    # survive: fast_forward's publish guard walks head->parent->... to
    # prove main's head is an ancestor, so trimming ANY intermediate
    # of that chain leaves a gap that permanently refuses a legitimate
    # WAP publish ("main advanced") even though nothing advanced. The
    # walk must NOT stop at an already-kept intermediate (a
    # kept-by-recency node can hide unkept ancestors below it); it
    # stops only at main's head — nodes below it are irrelevant to the
    # guard, and when main is not an ancestor the publish is refused
    # with or without retention. Bounded by branch length.
    by_id = {s["id"]: s for s in snaps}
    for head in list(manifest.get("branches", {}).values()):
        chain: list = []
        cur, seen = by_id.get(head, {}).get("parent"), set()
        while cur is not None and cur in by_id and cur not in seen:
            if cur == manifest["current"]:
                keep.update(chain)
                break
            seen.add(cur)
            chain.append(cur)
            cur = by_id[cur].get("parent")
    retained = [s for s in snaps if s["id"] in keep]
    # deletion-vector sidecar dirs GC exactly like data dirs: dead
    # when no retained entry lists them under "dvs"
    live_dirs = {
        d for s in retained for d in (s["dirs"] + s.get("dvs", []))
    }
    dead_dirs = {
        d for s in snaps for d in (s["dirs"] + s.get("dvs", []))
    } - live_dirs
    # FILE-granular GC within surviving dirs: a file referenced by no
    # retained entry (dropped by replace_where/compact, kept on disk
    # only for now-expired snapshots' time travel) is dead too —
    # without this, steady-state replace/compact maintenance leaks
    # unreferenced files forever. A retained entry WITHOUT a file list
    # owns every file of its dirs, so those dirs are never trimmed.
    whole_dirs = set()
    live_files: dict[str, set] = {}
    for s in retained:
        file_filter = s.get("files")
        for d in s["dirs"]:
            if file_filter is None or d not in file_filter:
                whole_dirs.add(d)
            else:
                live_files.setdefault(d, set()).update(file_filter[d])
    # Two-phase file-level GC: commit the TRIMMED manifest first with
    # the dead-file list recorded as pending_delete, THEN unlink, then
    # commit again with the list cleared. A crash between unlink and
    # commit can therefore never leave a manifest entry referencing a
    # deleted file (no retained entry references pending_delete files
    # by construction); a crash before the unlinks leaves the list for
    # the NEXT expire run to drain. Stats entries are dropped only
    # after a successful (or already-done) unlink so a failed unlink
    # keeps its stats and is retried. Dirs keep commit-then-delete: an
    # orphaned whole dir is still caught by remove_orphans.
    dead_files = set(manifest.get("pending_delete", []))  # prior crash
    for d, owned in live_files.items():
        if d in whole_dirs or d in dead_dirs:
            continue
        for f in _dir_files(root, manifest, d):
            if f not in owned:
                dead_files.add(os.path.join(d, f))
    # Flatten retained entries (Iceberg rewrite_manifests analog):
    # delta-encoded entry payloads chain through their ANCESTORS' entry
    # files, so without this the trimmed snapshots' metadata would stay
    # live as bases forever. Hydrating and re-externalizing the (few)
    # retained entries re-roots their chains inside the retained set —
    # the next ref GC then collects the expired history's entry files.
    # Older version manifests still referencing the old refs keep them
    # alive until pruned (time travel through retained versions).
    flat = []
    for s in retained:
        s._hydrate()
        flat.append({
            k: v
            for k, v in dict.items(s)
            if k not in ("entry_ref", "entry_depth")
        })
    manifest["snapshots"] = flat
    for d in dead_dirs:
        manifest["dir_stats"].pop(d, None)
    dead_files = sorted(f for f in dead_files if f.split(os.sep, 1)[0] not in dead_dirs)
    if dry_run:
        return sorted(dead_dirs) + dead_files
    manifest["pending_delete"] = dead_files
    _commit(root, manifest)
    removed_files, remaining = [], []
    for rel in dead_files:
        try:
            os.remove(os.path.join(root, rel))
        except FileNotFoundError:
            pass  # a prior crashed expire already unlinked it
        except OSError:
            remaining.append(rel)  # stats stay; next expire retries
            continue
        d, f = os.path.split(rel)
        ds = manifest["dir_stats"]
        fstats = ds.get(d)
        if fstats is not None and fstats.pop(f, None) is not None:
            # nested in-place edit: flag the dir so the next commit
            # writes a fresh stats ref for it
            ds.mark_dirty(d)
        removed_files.append(rel)
    manifest["pending_delete"] = remaining
    _commit(root, manifest)
    for d in sorted(dead_dirs):
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return sorted(dead_dirs) + sorted(removed_files)


def vacuum(
    root: str,
    keep_last: int = 2,
    older_than_s: float = 3 * 86400.0,
    dry_run: bool = False,
) -> list[str]:
    """Delta ``VACUUM`` / Iceberg maintenance in one call:
    :func:`expire_snapshots` (retain the newest ``keep_last`` + every
    tagged snapshot, two-phase file GC) followed by
    :func:`remove_orphans` (never-committed dirs past the cutoff).
    Returns everything deleted.

    ``older_than_s`` defaults to 3 days (Iceberg's orphan cutoff):
    a write in flight has already created its data dir but not yet
    committed the manifest, so a zero cutoff on a live table would
    delete the dir out from under the writer and the subsequent
    commit would reference missing files. Pass 0 only in tests with
    no concurrent writer.

    ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``): list the DATA
    dirs/files the run would delete, touching nothing — no commit, no
    unlink. Metadata-tier GC (version pruning, ref files) is excluded
    from the dry-run report; it only ever collects unreferenced
    metadata."""
    if dry_run:
        return expire_snapshots(
            root, keep_last=keep_last, dry_run=True
        ) + remove_orphans(root, older_than_s=older_than_s, dry_run=True)
    removed = expire_snapshots(root, keep_last=keep_last)
    removed += remove_orphans(root, older_than_s=older_than_s)
    # version files prune FIRST so their refs become unreferenced, then
    # the ref-file GC sweeps entry/files/stats files no retained
    # version manifest points at (same age contract as orphan dirs)
    removed += _prune_manifest_versions(root)
    return removed + _gc_ref_files(root, older_than_s=older_than_s)


@_retry_conflicts
def tag_snapshot(root: str, name: str, snapshot_id: int | None = None) -> None:
    """Name a snapshot (Iceberg tag): an immutable alias like
    ``v1.2-training-cut`` that :func:`read_snapshot`'s ``tag=`` resolves
    forever, surviving later writes — the reproducibility handle a
    training run records instead of a raw id. Defaults to the current
    snapshot. Tags pin their snapshot against expiry."""
    manifest = _load(root)
    sid = snapshot_id if snapshot_id is not None else manifest["current"]
    if sid is None:
        raise KeyError(f"table {root} has no snapshots")
    _entry(manifest, sid)  # must exist
    tags = manifest.setdefault("tags", {})
    if name in tags:
        raise ValueError(f"tag {name!r} already points at snapshot {tags[name]}")
    if name in manifest.get("branches", {}):
        # refs share one namespace (create_branch enforces the other
        # direction) — a tag and branch with one name would resolve
        # the same ref ambiguously
        raise ValueError(f"ref {name!r} already exists as a branch")
    tags[name] = sid
    _commit(root, manifest)


@_retry_conflicts
def drop_tag(root: str, name: str) -> None:
    manifest = _load(root)
    if name not in manifest.get("tags", {}):
        raise KeyError(f"no tag {name!r} on table {root}")
    del manifest["tags"][name]
    _commit(root, manifest)


def resolve_tag(root: str, name: str) -> int:
    return _pin(_load(root), tag=name)["id"]


def metadata_table(spark: SparkSession, root: str, kind: str) -> DataFrame:
    """Iceberg-style metadata tables as DataFrames — the inspection
    surface (``SELECT * FROM tbl.files``) without a catalog:

    - ``"snapshots"``: one row per snapshot (id, op, ts, parent,
      n_dirs, meta JSON);
    - ``"files"``: one row per data file of the CURRENT snapshot
      (dir, file, bytes, plus per-column min/max/null stats as JSON);
    - ``"tags"``: one row per tag;
    - ``"partitions"``: one row per data dir of the CURRENT snapshot
      (file/row/byte totals + hidden-transform min/max bounds).

    Everything comes from the manifest (KBs) — no data file is opened,
    so these stay O(metadata) at any table size."""
    manifest = _load(root)
    if kind == "snapshots":
        rows = []
        for s in manifest["snapshots"]:
            summary = s.get("summary") or {}
            # n_dirs from the light summary when present — the whole
            # inspection stays O(light manifest), no entry file read;
            # pre-summary entries fall back to hydrating their dirs
            n_dirs = summary.get("n_dirs")
            if n_dirs is None:
                n_dirs = len(s["dirs"])
            rows.append(
                (
                    s["id"],
                    s["op"],
                    float(s["ts"]),
                    s["parent"],
                    n_dirs,
                    bool(s.get("data_change", True)),
                    json.dumps(s.get("meta", {}), sort_keys=True),
                    json.dumps(summary, sort_keys=True),
                )
            )
        return spark.createDataFrame(
            rows,
            "id long, op string, ts double, parent long, n_dirs long, "
            "data_change boolean, meta string, summary string",
        )
    if kind == "files":
        if manifest["current"] is None:
            raise KeyError(f"table {root} has no snapshots")
        entry = _entry(manifest, manifest["current"])
        dir_stats = manifest["dir_stats"]
        rows = []
        for d, f in _entry_units(root, manifest, entry):
            rows.append(
                (
                    d,
                    f,
                    os.path.getsize(os.path.join(root, d, f)),
                    json.dumps(dir_stats.get(d, {}).get(f, {}), sort_keys=True),
                )
            )
        return spark.createDataFrame(
            rows, "dir string, file string, bytes long, stats string"
        )
    if kind == "partitions":
        # Iceberg's .partitions inspection: one row per data DIR of the
        # CURRENT snapshot with file/row/byte totals and, when the
        # table declares hidden partition transforms, each transform
        # column's min/max over the dir's footer stats — all from the
        # manifest tier, zero data pages
        if manifest["current"] is None:
            raise KeyError(f"table {root} has no snapshots")
        entry = _entry(manifest, manifest["current"])
        dir_stats = manifest["dir_stats"]
        spec_cols = [
            _hidden_name(t) for t in manifest.get("partition_spec", [])
        ]
        per_dir: dict[str, list[str]] = {}
        for d, f in _entry_units(root, manifest, entry):
            per_dir.setdefault(d, []).append(f)
        rows = []
        for d, fnames in sorted(per_dir.items()):
            st = dir_stats.get(d, {})
            n_rows, rows_known, n_bytes = 0, True, 0
            bounds: dict[str, list] = {c: [None, None] for c in spec_cols}
            for f in fnames:
                p = os.path.join(root, d, f)
                if os.path.exists(p):
                    n_bytes += os.path.getsize(p)
                fst = st.get(f) or {}
                r = _file_rows(fst)
                if r is None:
                    rows_known = False
                else:
                    n_rows += r
                for c in spec_cols:
                    cs = fst.get(c) or {}
                    mn, mx = cs.get("mn"), cs.get("mx")
                    if mn is not None:
                        b = bounds[c]
                        b[0] = mn if b[0] is None else min(b[0], mn)
                        b[1] = mx if b[1] is None else max(b[1], mx)
            rows.append(
                (
                    d,
                    len(fnames),
                    n_rows if rows_known else None,
                    n_bytes,
                    json.dumps(
                        {c: bounds[c] for c in spec_cols}, sort_keys=True
                    ),
                )
            )
        return spark.createDataFrame(
            rows,
            "dir string, n_files long, n_rows long, n_bytes long, "
            "transform_bounds string",
        )
    if kind == "tags":
        rows = sorted(manifest.get("tags", {}).items())
        return spark.createDataFrame(rows, "tag string, snapshot_id long")
    if kind == "branches":
        rows = sorted(manifest.get("branches", {}).items())
        return spark.createDataFrame(rows, "branch string, snapshot_id long")
    if kind == "constraints":
        rows = sorted(manifest.get("constraints", {}).items())
        return spark.createDataFrame(rows, "name string, condition string")
    raise ValueError(
        f"kind must be snapshots|files|tags|branches|constraints|partitions, got {kind!r}"
    )


def remove_orphans(
    root: str, older_than_s: float = 0.0, dry_run: bool = False
) -> list[str]:
    """Delete data dirs referenced by NO snapshot in the log — debris
    from writes that failed before their manifest commit (Iceberg's
    ``remove_orphan_files``). ``older_than_s`` keeps dirs younger than
    the cutoff (in production an in-flight writer's dir exists before
    its commit; Iceberg defaults to 3 days — the 0 default here is for
    tests where no writer is concurrent). Returns the removed dirs.
    ``dry_run=True`` reports them without deleting."""
    manifest = _load(root)
    live = {
        d
        for s in manifest["snapshots"]
        for d in (s["dirs"] + s.get("dvs", []))
    }
    now = time.time()
    removed = []
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        if not name.startswith("snap-") or not os.path.isdir(p) or name in live:
            continue
        if now - os.path.getmtime(p) < older_than_s:
            continue
        if not dry_run:
            shutil.rmtree(p, ignore_errors=True)
        removed.append(name)
    if removed and not dry_run:
        # The deletions are done; the stats-prune commit retries with a
        # FRESH load on conflict (a whole-function re-run would find the
        # dirs already gone, skip the commit, and leak their dir_stats
        # entries forever while reporting removed=[]).
        for attempt in range(COMMIT_RETRIES):
            for name in removed:
                manifest["dir_stats"].pop(name, None)
            try:
                _commit(root, manifest)
                break
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                manifest = _load(root)
                time.sleep(0.005 * (attempt + 1))
    return removed


_OPS = ("=", "<", "<=", ">", ">=", "in", "is_null", "not_null")


_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_ISO_DT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}")
_ISO_TZ_RE = re.compile(r"(Z|[+-]\d{2}:?\d{2})$")


def _temporal_shape(s: str):
    """Classify an ISO-ish string: 'date' (date-only), 'datetime' /
    'datetime+tz', or None (not temporal). Lexicographic order on two
    ISO strings only agrees with temporal order when BOTH have the
    same shape — '2024-03-01' < '2024-03-01T00:00:00' lexically even
    though they denote the same instant, and naive-vs-aware strings
    aren't comparable at all."""
    if _ISO_DATE_RE.match(s):
        return "date"
    if _ISO_DT_RE.match(s):
        return "datetime+tz" if _ISO_TZ_RE.search(s) else "datetime"
    return None


def _session_tzinfo():
    """tzinfo of the active Spark session (``spark.sql.session.timeZone``)
    — the zone Spark uses to interpret a NAIVE datetime literal against
    a TIMESTAMP column, so it is the only sound zone for localizing a
    naive predicate value before comparing it with the footer's
    UTC-adjusted bounds. None when no session / unparseable zone."""
    try:
        s = SparkSession.getActiveSession()
        if s is None:
            return None
        return _parse_tz(s.conf.get("spark.sql.session.timeZone"))
    except Exception:
        return None


def _parse_tz(zone: str):
    """Spark accepts region IDs ('Asia/Kolkata') AND zone-offset forms
    ('+08:00', 'UTC+8', 'GMT+05:30') for spark.sql.session.timeZone —
    ZoneInfo only knows the former, so offset forms must parse to a
    fixed-offset tzinfo or a legitimately configured session would be
    treated as 'no timezone'. None when unparseable."""
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(zone)
    except Exception:
        pass
    m = re.match(
        r"^(?:UTC|GMT)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?$", zone
    )
    if m is None:
        return None
    sign = 1 if m.group(1) == "+" else -1
    hh, mm, ss = int(m.group(2)), int(m.group(3) or 0), int(m.group(4) or 0)
    if hh > 18 or mm > 59 or ss > 59:
        return None
    return _dt.timezone(
        sign * _dt.timedelta(hours=hh, minutes=mm, seconds=ss)
    )


def _canon_dt(s: str, naive_tz) -> str:
    """ISO datetime string -> canonical naive-UTC ISO string. Aware
    inputs convert via their own offset (two '+00:00' and '+05:30'
    strings are NOT lexicographically comparable with each other);
    naive inputs localize in ``naive_tz``. Raises on unparseable."""
    t = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if t.tzinfo is None:
        if naive_tz is None:
            raise ValueError("naive datetime without a session timezone")
        t = t.replace(tzinfo=naive_tz)
    return t.astimezone(_dt.timezone.utc).replace(tzinfo=None).isoformat()


def _align_bounds(mn, mx, vals):
    """Normalize footer bounds + predicate values into ONE soundly
    orderable domain, or return None ('can't say' — KEEP the file in
    may-match, REWRITE in all-match). Numeric-with-numeric passes
    through (bool is an int in Python; matches parquet's BOOLEAN
    order). Strings compare lexicographically only when that agrees
    with their semantics:

    - plain strings, date-with-date, naive-with-naive (TIMESTAMP_NTZ
      wall-clock): as-is;
    - tz-aware bounds (parquet TIMESTAMP — pyarrow yields UTC-adjusted
      datetimes): every side is canonicalized to naive-UTC; naive
      predicate values localize in the SESSION timezone, exactly how
      Spark's residual filter will interpret them — no session, no
      pruning;
    - date-vs-datetime, naive-NTZ-bounds-vs-aware-value, or any other
      mixed shape: None ('2024-03-01' < '2024-03-01T00:00:00'
      lexically even though the instants coincide)."""
    num = (int, float)
    if (
        isinstance(mn, num)
        and isinstance(mx, num)
        and all(isinstance(v, num) for v in vals)
    ):
        return mn, mx, vals
    if not (
        isinstance(mn, str)
        and isinstance(mx, str)
        and all(isinstance(v, str) for v in vals)
    ):
        return None
    bshape = _temporal_shape(mn)
    if _temporal_shape(mx) != bshape:
        return None
    vshapes = {_temporal_shape(v) for v in vals}
    if bshape in (None, "date", "datetime") and vshapes <= {bshape}:
        return mn, mx, vals
    if bshape == "datetime+tz" and vshapes <= {"datetime", "datetime+tz"}:
        tz = _session_tzinfo() if "datetime" in vshapes else None
        if "datetime" in vshapes and tz is None:
            return None
        try:
            cmn, cmx = _canon_dt(mn, None), _canon_dt(mx, None)
            cvals = [_canon_dt(v, tz) for v in vals]
        except ValueError:
            return None
        return cmn, cmx, cvals
    return None


def _file_may_match(stats: dict, col: str, op: str, val) -> bool:
    """True unless the footer bounds PROVE no row in the file can
    satisfy ``col op val``. Missing stats, type mismatches, and
    unusable bounds all return True — pruning is an optimization and
    must stay conservative."""
    s = stats.get(col)
    if s is None:
        return True
    nulls, rows = s.get("nulls"), s.get("rows")
    if op == "is_null":
        return nulls is None or nulls > 0
    if op == "not_null":
        return nulls is None or rows is None or nulls < rows
    # comparison predicates: an all-null file satisfies none of them
    if nulls is not None and rows is not None and nulls == rows and rows > 0:
        return False
    if op in ("=", "in"):
        bl = s.get("bloom")
        if bl is not None:
            vals0 = list(val) if op == "in" else [val]
            # only consult the bloom when every probe value's Python
            # type matches the indexed column's recorded class ("i"
            # int / "s" string): a numeric literal against a string
            # column coerces in the residual Spark filter ("0123" =
            # 123 matches) but str(123) would bloom-miss the stored
            # "0123" — the same padded-literal hazard the bucket
            # transform guards with its stamped dtype
            tcls = bl.get("t")
            # a bloom persisted without the type stamp cannot be
            # probed soundly in either direction — bypass it (bounds
            # still apply); rebuilds stamp it
            if tcls in ("i", "s"):
                want = int if tcls == "i" else str
                if all(
                    isinstance(v, want) and not isinstance(v, bool)
                    for v in vals0
                ) and not any(
                    _bloom_file_member(bl, str(v)) for v in vals0
                ):
                    return False  # k misses everywhere: provably absent
    mn, mx = s.get("mn"), s.get("mx")
    if mn is None or mx is None:
        return True
    vals = [
        v.isoformat() if isinstance(v, (_dt.datetime, _dt.date)) else v
        for v in (list(val) if op == "in" else [val])
    ]
    aligned = _align_bounds(mn, mx, vals)
    if aligned is None:
        return True
    mn, mx, vals = aligned
    if op == "in":
        return any(mn <= v <= mx for v in vals)
    val = vals[0]
    if op == "=":
        return mn <= val <= mx
    if op == "<":
        return mn < val
    if op == "<=":
        return mn <= val
    if op == ">":
        return mx > val
    if op == ">=":
        return mx >= val
    raise ValueError(f"op must be one of {_OPS}, got {op!r}")


def plan_scan(
    root: str,
    predicates: list[tuple],
    snapshot_id: int | None = None,
    as_of: float | None = None,
    tag: str | None = None,
    manifest: dict | None = None,
) -> dict:
    """File-pruning plan for a predicate scan: which data files the
    manifest stats prove irrelevant, without opening ANY of them.

    ``predicates`` is a conjunction of ``(col, op, value)`` triples,
    ``op`` in ``= < <= > >= in is_null not_null``. Returns
    ``{"files": [kept], "pruned": [skipped], "candidates": n}`` with
    paths relative to ``root``. Files with no recorded stats are
    always kept — stats skipping is sound-or-silent, never wrong.

    This is the scan half of Iceberg/Delta data skipping: at 100 TB a
    time-range or key-range query touches the manifest (KBs) and the
    surviving files only; combined with :func:`optimize_zorder` the
    bounds are tight on every clustered column.

    ``manifest`` is the caller's loaded manifest (default: a fresh
    load): an op that plans and commits on ONE load needs no freshness
    check beyond :func:`_commit`'s CAS.
    """
    for p in predicates:
        if len(p) < 2 or p[1] not in _OPS:
            raise ValueError(f"bad predicate {p!r}; ops: {_OPS}")
        need = 2 if p[1] in ("is_null", "not_null") else 3
        if len(p) != need:
            raise ValueError(
                f"predicate {p!r}: op {p[1]!r} takes {need - 2} value(s)"
            )
    if manifest is None:
        manifest = _load(root)
    entry = _pin(manifest, snapshot_id, as_of=as_of, tag=tag)
    dir_stats = manifest["dir_stats"]
    # hidden-partition pruning: predicates on a transformed source
    # column imply predicates on the hidden transform column, whose
    # per-file bounds are tight because writes range-cluster on it
    augmented = list(predicates) + _derived_predicates(
        manifest.get("partition_spec", []), predicates
    )
    kept, pruned, total = [], [], 0
    for d, fname in _entry_units(root, manifest, entry):
        stats = dir_stats.get(d, {}).get(fname, {})
        total += 1
        rel = os.path.join(d, fname)
        ok = all(
            _file_may_match(stats, p[0], p[1], p[2] if len(p) == 3 else None)
            for p in augmented
        )
        (kept if ok else pruned).append(rel)
    return {
        "files": kept,
        "pruned": pruned,
        "candidates": total,
        "snapshot_id": entry["id"],
    }


def _file_all_match(stats: dict, col: str, op: str, val) -> bool:
    """True only when the footer bounds PROVE every row satisfies
    ``col op val`` — the dual of :func:`_file_may_match`, used by the
    copy-on-write DELETE and replace (``deletes._where``) to DROP whole
    files without reading them. Conservative the other way round:
    missing stats / nulls / type
    mismatches return False (the file gets rewritten, never wrongly
    dropped)."""
    s = stats.get(col)
    if s is None:
        return False
    nulls, rows = s.get("nulls"), s.get("rows")
    if op == "not_null":
        return nulls == 0
    if op == "is_null":
        return nulls is not None and nulls == rows
    if nulls is None or nulls > 0:
        return False  # a null row satisfies no comparison
    mn, mx = s.get("mn"), s.get("mx")
    if mn is None or mx is None:
        return False
    vals = [
        v.isoformat() if isinstance(v, (_dt.datetime, _dt.date)) else v
        for v in (list(val) if op == "in" else [val])
    ]
    aligned = _align_bounds(mn, mx, vals)
    if aligned is None:
        return False
    mn, mx, vals = aligned
    if op == "in":
        return any(v <= mn and mx <= v for v in vals)  # mn==mx==v
    val = vals[0]
    if op == "=":
        return val <= mn and mx <= val
    if op == "<":
        return mx < val
    if op == "<=":
        return mx <= val
    if op == ">":
        return mn > val
    if op == ">=":
        return mn >= val
    raise ValueError(f"op must be one of {_OPS}, got {op!r}")


def _json_safe_predicate(p: tuple) -> list:
    """Predicate triple -> JSON-serializable list for manifest meta:
    date/datetime values become ISO strings, 'in' lists element-wise."""

    def enc(v):
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        if isinstance(v, (list, tuple, set)):
            return [enc(x) for x in v]
        return v

    return [p[0], p[1], *([enc(p[2])] if len(p) == 3 else [])]


def _predicate_col(p: tuple) -> Column:
    col, op = F.col(p[0]), p[1]
    if op == "is_null":
        return col.isNull()
    if op == "not_null":
        return col.isNotNull()
    val = p[2]
    if op == "in":
        return col.isin(list(val))
    return {"=": col == val, "<": col < val, "<=": col <= val,
            ">": col > val, ">=": col >= val}[op]


def scan_snapshot(
    spark: SparkSession,
    root: str,
    predicates: list[tuple],
    snapshot_id: int | None = None,
    as_of: float | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Predicate scan with manifest-stats file skipping: prune via
    :func:`plan_scan`, read ONLY the surviving files, then apply the
    same predicates as Spark filters (the stats prune is a superset
    guarantee, the filter is the correctness boundary — exactly the
    Iceberg split between manifest evaluation and residual filters).
    An all-files-pruned scan returns an empty frame with the
    snapshot's schema instead of touching storage. The snapshot refs
    are :func:`read_snapshot`'s."""
    manifest = _load(root)
    entry = _pin(manifest, snapshot_id, as_of=as_of, tag=tag, branch=branch)
    # predicates name LOGICAL columns; manifest stats key PHYSICAL file
    # columns — translate through the PINNED entry's column mapping for
    # the prune (a missed translation only KEEPS files, never drops one:
    # the residual filter is the correctness boundary)
    mapping = entry.get("mapping", {})
    plan = plan_scan(
        root, [(mapping.get(p[0], p[0]), *p[1:]) for p in predicates],
        snapshot_id=entry["id"], manifest=manifest,
    )
    df = _entry_frame(spark, root, manifest, entry, plan["files"])
    return df.where(_conjunction(predicates)) if predicates else df


def _conjunction(predicates: list[tuple]) -> Column:
    return functools.reduce(operator.and_, map(_predicate_col, predicates))


def _is_batch_record(meta: dict) -> bool:
    """A streaming sink's commit carries its micro-batch id: the entry
    is the batch's exactly-once record, so it commits even when the
    batch changes nothing."""
    return "stream_batch_id" in meta


def _commit_rewrite(
    root: str,
    manifest: dict,
    entry: dict,
    op: str,
    dir_op: str,
    rows: DataFrame | None,
    keep: dict[str, list[str]],
    meta: dict,
    dvs: list[str] = (),
    data_change: bool = True,
    purge: Callable[[dict[str, list[str]]], DataFrame | None] | None = None,
) -> int:
    """The commit half every file-granular rewrite shares (the
    copy-on-write half of ``deletes._write_changes``,
    :func:`compact_files`, :func:`optimize_zorder` WHERE,
    ``deletes.rewrite_deletes``): the
    new entry references the ``keep`` files ``{dir: [file]}`` of
    ``entry`` verbatim plus one new data dir (``dir_op`` names it)
    holding ``rows`` (None: nothing to write), at FILE granularity —
    Iceberg's manifest-file model. Its schema is ``entry``'s merged
    with the written frame's (:func:`_merge_rewrite_schema`: a
    metadata-only added column survives the rewrite) and its deletion
    vectors are ``dvs``. A rewrite that drops no file, adds no row and
    leaves the deletion vectors and the schema as they were commits
    nothing and returns ``entry``'s id, unless ``meta`` is a streaming
    sink's batch record (:func:`_is_batch_record`).

    ``purge`` (the copy-on-write writer's) lifts ``entry``'s deletion
    vectors once the rewrite is known to commit: ``purge(keep)`` takes
    the files they mark out of ``keep`` and returns those files' rows
    minus the marks (None: no such file), written into a second
    ``purge`` dir; the entry then carries no deletion vector."""
    data_dir, schema = None, entry["schema"]
    if rows is not None:
        data_dir = _write_rows_dir(rows, root, manifest, dir_op)
        schema = _merge_rewrite_schema(manifest, schema, rows.schema)
    n_kept = sum(map(len, keep.values()))
    if (
        data_dir is None
        and n_kept == sum(1 for _ in _entry_units(root, manifest, entry))
        and list(dvs) == list(entry.get("dvs") or [])
        and json.loads(schema) == json.loads(entry["schema"])
        and not _is_batch_record(meta)
    ):
        return entry["id"]
    if purge is not None:
        if data_dir is not None:
            keep[data_dir] = list(manifest["dir_stats"][data_dir])
        purged, dvs = purge(keep), []
        data_dir = None if purged is None else _write_rows_dir(
            purged, root, manifest, "purge"
        )
    return _commit_entry(root, manifest, _child_entry(
        manifest, op, entry, add_dir=data_dir,
        files={d: sorted(fs) for d, fs in keep.items() if fs},
        dvs=list(dvs), schema=schema, meta=meta, data_change=data_change,
    ))


def replace_where(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    predicates: list[tuple],
) -> int:
    """Selective overwrite (Delta ``replaceWhere`` / Iceberg
    ``overwrite(filter)``): atomically replace exactly the rows
    matching ``predicates`` (the :func:`plan_scan` conjunction grammar)
    with ``df`` — a copy-on-write change through
    ``deletes._write_changes``, so only the files holding a matching
    row are rewritten (stats-proven all-match files drop unread, every
    other file carries over verbatim at FILE granularity). Refuses a
    snapshot with deletion vectors.

    ``df`` must itself satisfy the predicates — enforced in-plan
    (raise_error) exactly like a CHECK constraint, so a mis-scoped
    backfill fails before the commit instead of silently leaking rows
    into ranges it claimed not to touch. An empty ``df`` makes this
    ``DELETE WHERE``. Returns the new snapshot id — the current one
    when the replace drops no file and writes no row (a no-op commits
    nothing).
    """
    from ..operators.constraints import guard_constraints
    from . import deletes

    if not predicates:
        # An empty conjunction is vacuously true for every file ("all
        # rows match -> drop"), i.e. TRUNCATE-then-insert semantics —
        # almost never what a replaceWhere caller meant. Demand an
        # explicit scope; use write_snapshot(op="overwrite") for a
        # deliberate full replacement.
        raise ValueError(
            "replace_where: predicates must be non-empty (an empty "
            "conjunction would replace the whole table; use "
            "write_snapshot(op='overwrite') for that)"
        )

    # NULL must VIOLATE the scope (a null row would leak outside it) —
    # unlike ANSI CHECK's null-satisfies; the writer adds the stored
    # CHECK constraints
    return deletes._write_changes(
        spark, root, deletes.COW, "replace",
        post_state=lambda matched, src: guard_constraints(df, {
            "replace_where_scope": F.coalesce(_conjunction(predicates), F.lit(False))
        }),
        prepare=lambda manifest, entry, cols: (
            _guard_no_dvs(entry, "replace_where") or cols
        ),
        **deletes._where(root, predicates, True),
    )


def update_where(
    spark: SparkSession,
    root: str,
    predicates: list[tuple],
    set_exprs: dict[str, str],
) -> int:
    """``UPDATE ... SET ... WHERE ...`` copy-on-write through
    ``deletes._write_changes``: only the files holding a matching row
    are rewritten. Unlike :func:`replace_where` there is no scope guard
    — an update may move a row OUT of the predicate's range (``SET
    price = 0 WHERE price > 100``); stored CHECK constraints still gate
    the updated rows in-plan. Refuses a snapshot with deletion vectors.

    ``set_exprs`` maps column -> SQL expression evaluated against the
    pre-update row (all assignments see the OLD values). Returns the
    new snapshot id (the current one when no row matches: a no-op
    commits nothing)."""
    from . import deletes

    return deletes._write_changes(
        spark, root, deletes.COW, "update",
        **deletes._update(root, predicates, set_exprs, refuse_dvs=True),
    )


@_retry_conflicts
def compact_files(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    predicates: list[tuple] | None = None,
) -> int:
    """Small-file binpack compaction (Iceberg ``rewrite_data_files``
    binpack strategy): files already at/above ``target_bytes`` are
    carried over VERBATIM (file-granular entry, zero I/O); the small
    ones are read together and rewritten as ceil(total/target) files
    in the new commit's dir. A no-op (returns the current id, no new
    snapshot) when fewer than two small files exist — nothing to bin.

    ``predicates`` scopes the job (Iceberg's ``rewrite_data_files``
    filter / Delta's ``OPTIMIZE ... WHERE``): only files the manifest
    stats CANNOT prune on the conjunction participate; everything else
    carries over verbatim regardless of size. Row-preserving either
    way — the predicate selects FILES, it never filters rows. This is
    the 100 TB steady-state shape: compact yesterday's ingest
    partition, not the table.

    At 100 TB this is the maintenance job after streaming appends:
    each run's cost is proportional to the SMALL-file bytes in scope,
    never the table, and the commit is the same atomic manifest swap
    as every other write."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be > 0, got {target_bytes}")
    manifest = _load(root)
    in_scope = None
    if predicates:  # validates the grammar
        in_scope = set(plan_scan(root, predicates, manifest=manifest)["files"])
    if manifest["current"] is None:
        raise KeyError(f"table {root} has no snapshots")
    entry = _entry(manifest, manifest["current"])
    _guard_no_dvs(entry, "compact_files")
    _guard_raw_layout(entry, "compact_files")

    keep: dict[str, list[str]] = {}
    small: list[tuple[str, str, int]] = []
    for d, f in _entry_units(root, manifest, entry):
        size = os.path.getsize(os.path.join(root, d, f))
        rel = os.path.join(d, f)
        if (in_scope is not None and rel not in in_scope) or size >= target_bytes:
            keep.setdefault(d, []).append(f)
        else:
            small.append((d, f, size))
    if len(small) < 2:
        return manifest["current"]

    total = sum(s for _, _, s in small)
    n_out = max(1, -(-total // target_bytes))  # ceil
    merged = _scan_entry_files(
        spark, entry, [os.path.join(root, d, f) for d, f, _ in small]
    ).repartition(n_out)
    meta = {"compacted_files": len(small), "out_files": int(n_out)}
    if predicates:
        meta["predicates"] = [_json_safe_predicate(p) for p in predicates]
    # Delta's dataChange=false: this commit rearranges bytes but
    # preserves the visible row multiset exactly (the predicate selects
    # FILES, never rows, and the DV/layout guards above hold
    # row-identity) — streaming table readers skip it silently instead
    # of refusing/re-emitting, which is what makes OPTIMIZE safe under
    # live consumers
    return _commit_rewrite(
        root, manifest, entry, "compact", "compact", merged, keep, meta,
        data_change=False,
    )


@_retry_conflicts
def optimize_zorder(
    spark: SparkSession,
    root: str,
    cluster_cols: list[str],
    num_files: int = 8,
    bits: int = 21,
    predicates: list[tuple] | None = None,
) -> int:
    """Delta/Iceberg ``OPTIMIZE ... ZORDER BY`` for the snapshot
    table: rewrite the CURRENT snapshot's rows in Z-order
    (operators/layout.zorder_layout — every output file bounds a
    Morton hyper-rectangle, so footer stats prune on ANY clustered
    column) and commit the rewrite as a new OVERWRITE snapshot.
    Row-identical by construction (a layout change, not a data
    change); every prior snapshot stays time-travel readable until
    expired — an OPTIMIZE that goes wrong is one :func:`rollback`
    away, the property that makes table maintenance safe to automate.
    Returns the new snapshot id.

    Read-modify-write: the rewrite is pinned to the snapshot it read
    and committed with ``expected_base`` — a concurrent commit raises
    :class:`CommitConflict` (instead of the rebase silently erasing it)
    and the whole rewrite re-runs against the fresh head.

    ``predicates`` scopes the job (Delta's ``OPTIMIZE ... WHERE``):
    only files the manifest stats cannot prune on the conjunction are
    read and re-clustered; everything else carries over VERBATIM at
    file granularity — the 100 TB shape where yesterday's partition is
    re-laid-out without touching the other 99.9%. Row-preserving: the
    predicate selects files, never filters rows."""
    from ..operators.layout import zorder_layout

    if predicates:
        manifest = _load(root)
        plan = plan_scan(root, predicates, manifest=manifest)  # validates grammar
        entry = _entry(manifest, plan["snapshot_id"])
        _guard_no_dvs(entry, "optimize_zorder")
        _guard_raw_layout(entry, "optimize_zorder")
        if not plan["files"]:
            return manifest["current"]  # nothing in scope
        pruned = set(plan["pruned"])
        keep: dict[str, list[str]] = {}
        for d, f in _entry_units(root, manifest, entry):
            if os.path.join(d, f) in pruned:
                keep.setdefault(d, []).append(f)
        rows = _scan_entry_files(
            spark, entry, [os.path.join(root, f) for f in plan["files"]]
        )
        clustered = zorder_layout(
            rows, cluster_cols, num_files=num_files, bits=bits
        )
        meta = {
            "cluster_cols": list(cluster_cols),
            "rewritten": len(plan["files"]),
            "predicates": [_json_safe_predicate(p) for p in predicates],
        }
        # row-preserving layout rewrite: Delta's dataChange=false
        return _commit_rewrite(
            root, manifest, entry, "zorder_where", "zorder", clustered,
            keep, meta, data_change=False,
        )

    manifest0 = _load(root)
    base = manifest0["current"]
    if base is None:
        raise KeyError(f"table {root} has no snapshots")
    # dataChange=false only while the logical->physical column mapping
    # is identity: this overwrite rewrites files under LOGICAL names
    # (clearing any mapping), and a live stream that skipped the commit
    # would keep projecting the OLD physical names onto the new files
    # (silent nulls). Renamed tables keep data_change=True, so streams
    # refuse loudly and restart with the fresh mapping.
    row_preserving = not _entry(manifest0, base).get("mapping")
    return write_snapshot(
        zorder_layout(
            read_snapshot(spark, root, snapshot_id=base),
            cluster_cols, num_files=num_files, bits=bits,
        ),
        root,
        mode="overwrite",
        expected_base=base,
        # read_snapshot(base) -> layout-only rewrite: row-identical to
        # the snapshot this overwrite replaces (dataChange=false)
        data_change=not row_preserving,
    )


# ---------------------------------------------------------------------------
# File-level Bloom-filter index (Delta bloom-filter-index / Iceberg puffin
# analog): equality pruning on high-cardinality columns whose values are
# scattered across files, where min/max bounds prune nothing. Reference
# parity note: the reference has no data-skipping tier at all (its scans are
# full-table parquet reads, e.g. gold_transfrom.py); this extends the
# manifest-stats model the way Delta's bloom index extends footer stats.
# ---------------------------------------------------------------------------

_BLOOM_SEED = "bfidx:"
_BLOOM_DTYPES = _INT_DTYPES | {"string"}


import functools as _functools


@_functools.lru_cache(maxsize=65536)
def _bloom_positions_py(s: str, m: int, k: int) -> list[int]:
    """k bit positions from ONE md5, 7-hex-digit slices
    (Kirsch-Mitzenmacher single-hash derivation — the same spec the
    Spark build side renders as conv(substring(md5(..)))). k <= 4.
    Memoized: an IN-list plan probes the SAME values against every
    file's bloom (m/k are index-level config), so the md5 work is
    O(values), not O(values x files) — the merge-on-read keyscan sends
    batches of keys through here. Callers must not mutate the list."""
    import hashlib

    h = hashlib.md5((_BLOOM_SEED + s).encode()).hexdigest()
    return [int(h[7 * i : 7 * i + 7], 16) % m for i in range(k)]


def _bloom_file_member(bl: dict, s: str) -> bool:
    """May ``s`` be present given a file's stored bloom words? False
    positives possible (pruning stays sound); false negatives never."""
    m, k, words = bl["m"], bl["k"], bl["w"]
    for pos in _bloom_positions_py(s, m, k):
        if not (words[pos // 64] >> (pos % 64)) & 1:
            return False
    return True


@_retry_conflicts
def set_bloom_index(
    root: str, cols: list[str], m: int = 8192, k: int = 3
) -> None:
    """Declare a Bloom-filter file index on ``cols`` (int/string
    columns; the probe compares str(value) against the column cast to
    string, so other dtypes are rejected at build). ``m`` bits and
    ``k`` hashes per file per column — 1 KB per file per column at the
    default, carried in the manifest like Iceberg puffin blobs.
    Declaring only records the spec; :func:`build_bloom_index`
    materializes it. Files without a built bloom are simply kept by
    the scan planner (sound-or-silent, like every stats path here)."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if m % 64 or m <= 0 or not (1 <= k <= 4):
        raise ValueError("m must be a positive multiple of 64, 1 <= k <= 4")
    manifest = _load(root)
    manifest["bloom_spec"] = {"cols": list(cols), "m": int(m), "k": int(k)}
    _commit(root, manifest)


@_retry_conflicts
def build_bloom_index(spark: SparkSession, root: str) -> int:
    """Build per-file Bloom filters for every (file, column) of the
    CURRENT snapshot still missing one, and commit the updated
    manifest. Returns the number of files indexed.

    Data dirs are immutable, so a built bloom never goes stale — new
    appends add unindexed files that the planner keeps until the next
    build (run it like OPTIMIZE, after ingest batches).

    100 TB shape: each dir is scanned ONCE for all indexed columns
    (stacked melt -> distinct -> k md5-slice positions -> per-word
    bit_or), shuffling only (file, col, value) distincts and then
    (file, col, word) rows — the collected artifact is
    #files x #cols x m/64 longs, KBs per thousand files."""
    manifest = _load(root)
    spec = manifest.get("bloom_spec")
    if spec is None:
        raise ValueError("no bloom_spec; call set_bloom_index first")
    cols, m, k = spec["cols"], spec["m"], spec["k"]
    if manifest["current"] is None:
        return 0
    entry = _entry(manifest, manifest["current"])
    dir_stats = manifest["dir_stats"]
    # dirs with at least one (file, col) missing its bloom
    todo: dict[str, set[str]] = {}
    for d, fname in _entry_units(root, manifest, entry):
        fstats = dir_stats.setdefault(d, {}).setdefault(fname, {})
        if any("bloom" not in fstats.get(c, {}) for c in cols):
            todo.setdefault(d, set()).add(fname)
    n_indexed = 0
    for d, fnames in sorted(todo.items()):
        df = spark.read.parquet(os.path.join(root, d))
        dtypes = dict(df.dtypes)
        present = [c for c in cols if c in dtypes]
        bad = [c for c in present if dtypes[c] not in _BLOOM_DTYPES]
        if bad:
            raise ValueError(
                f"bloom index supports int/string columns only, got "
                f"{[(c, dtypes[c]) for c in bad]}"
            )
        if not present:
            continue
        stacked = (
            df.select(
                F.input_file_name().alias("f"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("c"),
                                F.col(c).cast("string").alias("v"),
                            )
                            for c in present
                        ]
                    )
                ).alias("s"),
            )
            .select("f", "s.c", "s.v")
            .where(F.col("v").isNotNull())
            .distinct()  # one md5 per distinct (file, col, value)
        )
        h = F.md5(F.concat(F.lit(_BLOOM_SEED), F.col("v")))
        pos = F.explode(
            F.array(
                *[
                    (
                        F.conv(F.substring(h, 1 + 7 * i, 7), 16, 10).cast(
                            "long"
                        )
                        % m
                    )
                    for i in range(k)
                ]
            )
        ).alias("pos")
        words = (
            stacked.select("f", "c", pos)
            .groupBy("f", "c", F.expr("pos div 64").alias("w"))
            .agg(
                F.bit_or(
                    F.call_function(
                        "shiftleft",
                        F.lit(1).cast("long"),
                        (F.col("pos") % 64).cast("int"),
                    )
                ).alias("word")
            )
            .collect()
        )
        built: dict[str, dict[str, list[int]]] = {}
        for r in words:
            fname = os.path.basename(r.f)
            built.setdefault(fname, {}).setdefault(
                r.c, [0] * (m // 64)
            )[r.w] = r.word
        # the bloom words below mutate nested dicts in place — flag
        # the dir so the commit externalizes a fresh stats ref
        dir_stats.mark_dirty(d)
        for fname in fnames:
            fstats = dir_stats[d].setdefault(fname, {})
            for c in present:
                arr = built.get(fname, {}).get(c, [0] * (m // 64))
                fstats.setdefault(c, {})["bloom"] = {
                    "m": m,
                    "k": k,
                    "w": arr,
                    # type class gates the probe: "i" columns only
                    # accept int literals, "s" only str — a cross-typed
                    # probe falls back to bounds (sound)
                    "t": "s" if dtypes[c] == "string" else "i",
                }
            n_indexed += 1
    if todo:
        _commit(root, manifest)
    return n_indexed


def table_stats(root: str, snapshot_id: int | None = None) -> dict:
    """Zero-scan table statistics from the manifest alone: total rows,
    file count, on-disk bytes, and per-column null counts summed over
    the snapshot's files (None when any file lacks the stat). The
    ANALYZE TABLE answer without reading a single data page — footer
    stats were collected at write time."""
    return _table_stats(_load(root), snapshot_id)


def _table_stats(manifest: dict, snapshot_id: int | None = None) -> dict:
    """:func:`table_stats` computed on the caller's loaded
    ``manifest``."""
    root = manifest["_store"].root
    sid = snapshot_id if snapshot_id is not None else manifest["current"]
    if sid is None:
        raise KeyError(f"table {root} has no snapshots")
    entry = _entry(manifest, sid)
    dir_stats = manifest["dir_stats"]
    units = list(_entry_units(root, manifest, entry))
    # a null count is exact only when EVERY file contributes the stat;
    # a file with no stats at all, or stats pinned to other columns
    # (stats_cols), makes that column's total unknowable -> None
    universe: set = set()
    per_file: list = []
    n_rows, n_files, n_bytes = 0, 0, 0
    rows_known = True
    for d, fname in units:
        n_files += 1
        p = os.path.join(root, d, fname)
        if os.path.exists(p):
            n_bytes += os.path.getsize(p)
        fstats = dir_stats.get(d, {}).get(fname) or {}
        per_file.append(fstats)
        for col, s in fstats.items():
            if not col.startswith("_p_") and isinstance(s, dict):
                universe.add(col)
        rows = _file_rows(fstats)
        if rows is None:
            rows_known = False
        else:
            n_rows += rows
    nulls: dict = {c: 0 for c in universe}
    for fstats in per_file:
        for col in universe:
            s = fstats.get(col)
            if nulls[col] is None:
                continue
            if not isinstance(s, dict) or s.get("nulls") is None:
                nulls[col] = None
            else:
                nulls[col] += s["nulls"]
    n_deleted = 0
    if entry.get("dvs"):
        # DV sidecar row counts from parquet FOOTERS only (zero data
        # read): each sidecar row is one deleted position (the writers
        # anti-join prior DVs, so positions never repeat across
        # sidecars), and the visible row count is footer rows minus DV
        # rows. Per-column null counts become unknowable without
        # reading the deleted rows — report None rather than an
        # overcount.
        for d in entry["dvs"]:
            n_deleted += _parquet_dir_rows(root, d)
        nulls = {c: None for c in nulls}
    return {
        "snapshot_id": sid,
        "n_rows": (n_rows - n_deleted) if rows_known else None,
        "n_files": n_files,
        "n_bytes": n_bytes,
        "null_counts": nulls,
        "n_deleted": n_deleted,
    }


# ---------------------------------------------------------------------------
# Branches (Iceberg refs): named MUTABLE pointers next to the immutable
# tags — the Write-Audit-Publish staging workflow. Stage commits on a
# branch (main readers never see them), audit the branch head (read it,
# run the DQ gates), then fast_forward publishes with one pointer swap.
# ---------------------------------------------------------------------------


@_retry_conflicts
def create_branch(
    root: str, name: str, snapshot_id: int | None = None
) -> None:
    """Branch off ``snapshot_id`` (default: current main). Rejects
    collisions with existing branches and tags — refs share one
    namespace so read_snapshot(tag=...) vs branch=... can never
    ambiguously resolve."""
    manifest = _load(root)
    if name in manifest.get("branches", {}) or name in manifest.get("tags", {}):
        raise ValueError(f"ref {name!r} already exists")
    sid = snapshot_id if snapshot_id is not None else manifest["current"]
    if sid is None:
        raise KeyError(f"table {root} has no snapshots to branch from")
    _entry(manifest, sid)  # validates
    manifest.setdefault("branches", {})[name] = sid
    _commit(root, manifest)


@_retry_conflicts
def drop_branch(root: str, name: str) -> None:
    manifest = _load(root)
    if name not in manifest.get("branches", {}):
        raise KeyError(f"unknown branch {name!r}")
    del manifest["branches"][name]
    _commit(root, manifest)


def resolve_branch(root: str, name: str) -> int:
    return _pin(_load(root), branch=name)["id"]


@_retry_conflicts
def fast_forward(root: str, branch: str, drop: bool = False) -> int:
    """PUBLISH: point main at the branch head (one manifest pointer
    swap — the audited data was already written by the branch
    commits; nothing is copied or rewritten). ``drop=True`` removes
    the branch after publishing (the one-shot WAP pattern); keep it
    for a long-lived staging ref. Returns the published snapshot id."""
    manifest = _load(root)
    if branch not in manifest.get("branches", {}):
        raise KeyError(f"unknown branch {branch!r}")
    sid = manifest["branches"][branch]
    # a true FAST-forward: main's head must be an ancestor of the
    # branch head, or the swap would silently discard newer main
    # commits (and a later expire would GC their data) — Iceberg's
    # fastForward refuses the same way
    by_id = {s["id"]: s for s in manifest["snapshots"]}
    cur, seen = sid, set()
    while cur is not None and cur in by_id and cur not in seen:
        if cur == manifest["current"]:
            break
        seen.add(cur)
        cur = by_id[cur].get("parent")
    else:
        cur = None
    if manifest["current"] is not None and cur != manifest["current"]:
        raise ValueError(
            f"cannot fast-forward: main head {manifest['current']} is "
            f"not an ancestor of branch {branch!r} head {sid} — main "
            "advanced since the branch was cut; rebase (re-stage) or "
            "rollback main explicitly first"
        )
    manifest["current"] = sid
    if drop:
        del manifest["branches"][branch]
    _commit(root, manifest)
    return sid
