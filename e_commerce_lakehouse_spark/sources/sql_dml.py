"""SQL write-path strings over snapshot tables.

The reference exposes its tables to SQL users through Dremio/Superset
(scripts/utils.py:15-115 provisions them); its write path, however, is
code-only. This module gives the snapshot-log tables
(:mod:`~e_commerce_lakehouse_spark.sources.snapshots`) the SQL DML
surface such a user expects — each statement ROUTES onto the existing
transactional operators rather than re-implementing them:

=====================================  ================================
statement                              routed to
=====================================  ================================
``DELETE FROM t WHERE ...``            ``deletes._write_changes`` in
``UPDATE t SET ... WHERE ...``         the table's write.delete.mode:
``MERGE INTO t USING s ON ... WHEN``   deletion vectors, or a rewrite
                                       of only the touched files
                                       (copy-on-write, the default);
                                       ``_merge`` compiles every MERGE
                                       clause shape to one CDC feed
``SELECT * FROM t [VERSION AS OF n |   :func:`snapshots.read_snapshot`
TIMESTAMP AS OF 'iso' | TAG 'name']    / ``scan_snapshot`` (WHERE gets
[WHERE ...]``                          stats file-skipping; returns
                                       the DataFrame in ``"df"``)
``OPTIMIZE t [ZORDER BY (c, ...)]``    :func:`snapshots.compact_files`
                                       / ``optimize_zorder``
``VACUUM t [RETAIN n SNAPSHOTS]        :func:`snapshots.vacuum`
[DRY RUN]``                            (DRY RUN lists would-be
                                       deletions, touches nothing)
``RESTORE TABLE t TO VERSION AS OF n   :func:`snapshots.rollback` (a
| TIMESTAMP AS OF 'iso'``              new auditable snapshot)
``ALTER TABLE t ADD CONSTRAINT c       :func:`snapshots.set_constraint`
CHECK (cond) / DROP CONSTRAINT c``     / ``drop_constraint``
``DESCRIBE HISTORY t``                 :func:`snapshots.history` as a
                                       DataFrame in ``"df"``
``SELECT * FROM TABLE_CHANGES(t, a,    :func:`snapshots.
b) KEYS (k, ...)``                     snapshot_changes` (the KEYS
                                       clause names the row identity —
                                       the snapshot log stores states,
                                       so the feed is key-diffed)
``CREATE [OR REPLACE] TABLE t AS       :func:`snapshots.write_snapshot`
SELECT * FROM s [WHERE ...]``          overwrite (dest must be a
                                       registered root; source = table,
                                       provided DataFrame, or view)
``INSERT INTO t SELECT * FROM s        ``write_snapshot`` append
[WHERE ...]``                          (schema-gated vs the target)
``DESCRIBE [TABLE] t``                 committed snapshot schema as a
                                       DataFrame in ``"df"``
``SHOW TABLES``                        the registered name->root map
``MERGE WITH SCHEMA EVOLUTION INTO``   Delta autoMerge parity: source
                                       columns absent from the target
                                       widen the schema ATOMICALLY
                                       inside the merge commit (a
                                       failed merge leaves the schema
                                       untouched)
``CALL [cat.][system.]proc('t',        Iceberg Spark-procedure parity:
k => v, ...)``                         expire_snapshots /
                                       remove_orphan_files /
                                       rewrite_data_files /
                                       rewrite_position_delete_files /
                                       rollback_to_snapshot / maintain
                                       routed onto the maintenance ops
=====================================  ================================

For arbitrary read-side SQL (joins, windows, subqueries — the whole
Spark SQL surface), :func:`register_snapshot_views` binds each table's
CURRENT snapshot as a temp view for ``spark.sql`` (snapshot-isolated;
advance with :func:`refresh_snapshot_views` — one call per session —
or the routed ``REFRESH TABLE``); :func:`register_time_travel_view`
pins a view at a snapshot id / tag / timestamp so full ``spark.sql``
reads history too.

Deliberately small grammar, loudly rejected when exceeded (a clear
error beats a silently mis-parsed write): WHERE clauses are
conjunctions of ``col op literal`` (the exact predicate grammar
``plan_scan`` prunes with — so every SQL DELETE/UPDATE gets file
skipping for free), MERGE supports the full Delta/Iceberg clause
grammar (conditional multi-clause ``WHEN [NOT] MATCHED [AND <cond>]
THEN UPDATE SET c = expr / DELETE / INSERT (cols) VALUES (exprs)``,
plus ``WITH SCHEMA EVOLUTION``) on equi-key ON conditions, with the
standard cardinality error when one target row matches several source
rows. No OR, no subqueries, no expressions on the predicate column —
users needing those drop to the DataFrame API the statements route to
anyway.
"""

from __future__ import annotations

import datetime as _dt
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import snapshots

_LITERAL = re.compile(
    r"""^\s*(?:
        DATE\s*'(?P<date>[^']+)'
      | TIMESTAMP\s*'(?P<ts>[^']+)'
      | '(?P<str>[^']*)'
      | (?P<num>-?\d+(?:\.\d+)?)
      | (?P<bool>TRUE|FALSE)
      | (?P<null>NULL)
    )\s*$""",
    re.IGNORECASE | re.VERBOSE,
)


def _parse_literal(text: str):
    m = _LITERAL.match(text)
    if not m:
        raise ValueError(f"unsupported literal {text!r}")
    if m.group("date") is not None:
        return _dt.date.fromisoformat(m.group("date"))
    if m.group("ts") is not None:
        return _dt.datetime.fromisoformat(m.group("ts"))
    if m.group("str") is not None:
        return m.group("str")
    if m.group("bool") is not None:
        return m.group("bool").upper() == "TRUE"
    if m.group("null") is not None:
        raise ValueError("use IS NULL / IS NOT NULL, not = NULL")
    n = m.group("num")
    return float(n) if "." in n else int(n)


def _instant(literal: str) -> float:
    """Unix seconds of an ISO TIMESTAMP literal. A naive literal reads in
    the SESSION time zone (spark.sql.session.timeZone), not the driver
    OS zone: ``.timestamp()`` on a naive datetime uses the OS zone,
    which silently shifts the instant (and the snapshot it picks) when
    the two differ. Mirrors snapshots._canon_dt."""
    t = _dt.datetime.fromisoformat(literal.replace("Z", "+00:00"))
    if t.tzinfo is None:
        tz = snapshots._session_tzinfo()
        if tz is None:
            raise ValueError(
                "naive timestamp literal without an active Spark session "
                "timezone — pass an offset-qualified ISO string instead: "
                f"{literal!r}"
            )
        t = t.replace(tzinfo=tz)
    return t.timestamp()


_CMP = re.compile(r"^\s*(\w+)\s*(=|<=|>=|<|>)\s*(.+?)\s*$")
_ISNULL = re.compile(r"^\s*(\w+)\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE)
_IN = re.compile(r"^\s*(\w+)\s+IN\s*\(([^()]*)\)\s*$", re.IGNORECASE)


def parse_where(clause: str) -> list[tuple]:
    """WHERE conjunction -> the ``plan_scan`` predicate triples. Raises
    on anything outside the supported grammar (OR, parens, functions,
    column-vs-column) so a statement is never silently narrowed.
    Keyword detection masks quoted literals first — ``name = 'BLACK
    AND DECKER'`` is one term, not a malformed conjunction."""
    literals: list[str] = []

    def _mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    def _unmask(text: str) -> str:
        return re.sub(r"\x00(\d+)\x00", lambda m: literals[int(m.group(1))], text)

    masked = re.sub(r"'[^']*'", _mask, clause)
    if re.search(r"\bOR\b", masked, re.IGNORECASE):
        raise ValueError("only AND conjunctions are supported in WHERE")
    preds: list[tuple] = []
    for part in re.split(r"\bAND\b", masked, flags=re.IGNORECASE):
        part = _unmask(part).strip()
        if (m := _ISNULL.match(part)) is not None:
            preds.append((m.group(1), "not_null" if m.group(2) else "is_null"))
        elif (m := _IN.match(part)) is not None:
            vals = [_parse_literal(v) for v in m.group(2).split(",")]
            preds.append((m.group(1), "in", vals))
        elif (m := _CMP.match(part)) is not None:
            preds.append((m.group(1), m.group(2), _parse_literal(m.group(3))))
        else:
            raise ValueError(f"unsupported WHERE term {part!r}")
    if not preds:
        raise ValueError("empty WHERE clause")
    return preds


def _split_top_level_commas(text: str) -> list[str]:
    out, depth, cur, quoted = [], 0, [], False
    for ch in text:
        if ch == "'":
            quoted = not quoted
        elif not quoted:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
                continue
        cur.append(ch)
    out.append("".join(cur))
    return out


def parse_set(clause: str) -> dict[str, str]:
    """SET list -> {column: sql_expr}; expressions pass through to
    ``F.expr`` against the pre-update row (standard UPDATE scoping)."""
    sets: dict[str, str] = {}
    for part in _split_top_level_commas(clause):
        col, eq, expr = part.partition("=")
        col, expr = col.strip(), expr.strip()
        if not eq or not col.isidentifier() or not expr:
            raise ValueError(f"unsupported SET term {part!r}")
        if col in sets:
            raise ValueError(f"column {col} assigned twice")
        sets[col] = expr
    return sets


_METADATA_SELECT = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+(\w+)\s*\.\s*"
    r"(snapshots|files|tags|partitions|branches|constraints)\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_DETAIL = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_SELECT = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+(\w+)"
    r"(?:\s+(?:FOR\s+)?VERSION\s+AS\s+OF\s+(\d+)"
    r"|\s+(?:FOR\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'"
    r"|\s+(?:FOR\s+)?TAG\s+'([^']+)'"
    r"|\s+(?:FOR\s+)?BRANCH\s+'([^']+)')?"
    r"(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS = re.compile(
    r"^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+(\w+)\s+AS\s+"
    r"SELECT\s+\*\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)(?:\s+BRANCH\s+'([^']+)')?\s+"
    r"SELECT\s+\*\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_BRANCH = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+CREATE\s+BRANCH\s+'([^']+)'"
    r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_BRANCH = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+BRANCH\s+'([^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_FAST_FORWARD = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+FAST\s+FORWARD\s+TO\s+BRANCH\s+'([^']+)'"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_CHANGES = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+TABLE_CHANGES\s*\(\s*(\w+)\s*,\s*(\d+)\s*,"
    r"\s*(\d+)\s*\)\s+KEYS\s*\(([^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+(\w+)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+SNAPSHOTS)?"
    r"(\s+DRY\s+RUN)?\s*;?\s*$",
    re.IGNORECASE,
)
_RESTORE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(\w+)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_REFRESH = re.compile(
    r"^\s*REFRESH\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", re.IGNORECASE
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_COLUMN = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS?\s*"
    r"\(?\s*(\w+)\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"
    r"(?:\s+DEFAULT\s+(.+?))?\s*\)?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_COLUMN_TYPE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+"
    r"([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*;?\s*$",
    re.IGNORECASE,
)
_RENAME_COLUMN = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_COLUMN = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_SET_TBLPROP = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+SET\s+TBLPROPERTIES\s*\(\s*"
    r"'([^']+)'\s*=\s*'([^']+)'\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_ADD_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
    r"CHECK\s*\((.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_REORG = re.compile(
    r"^\s*REORG\s+TABLE\s+(\w+)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE = re.compile(
    r"^\s*MERGE\s+(WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?"
    r"\s+USING\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?"
    r"\s+ON\s+(.+?)\s+(WHEN\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# the full clause grammar (Delta/Iceberg conditional MERGE): optional
# AND <condition> per clause, explicit SET assignments, explicit
# INSERT column lists. The condition is non-greedy up to THEN; the
# action runs to the next WHEN or the end of the clause list.
_MERGE_CLAUSE_EXT = re.compile(
    r"WHEN\s+(MATCHED|NOT\s+MATCHED)"
    r"(?:\s+AND\s+(.+?))?"
    r"\s+THEN\s+"
    r"(UPDATE\s+SET\s+.+?|DELETE|INSERT\s+\*"
    r"|INSERT\s*\([^)]*\)\s*VALUES\s*\(.+?\))"
    r"\s*(?=WHEN\s|$)",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_VALUES = re.compile(
    r"^INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_merge_clauses(clauses_text: str) -> list[dict]:
    """WHEN clause list -> [{"head", "cond", "action", "payload"}]
    with the grammar rules enforced: full coverage, legal head/action
    pairing, and — for multi-clause groups — first-match-wins ordering
    (only the LAST clause of each head may omit AND <condition>;
    anything after an unconditioned clause is unreachable)."""
    found = list(_MERGE_CLAUSE_EXT.finditer(clauses_text))
    leftover = _MERGE_CLAUSE_EXT.sub("", clauses_text).strip()
    if not found or leftover:
        raise ValueError(
            f"unsupported MERGE clauses {leftover or clauses_text!r}; "
            "supported: WHEN [NOT] MATCHED [AND <cond>] THEN "
            "UPDATE SET * | UPDATE SET c = expr, ... | DELETE | "
            "INSERT * | INSERT (c, ...) VALUES (expr, ...)"
        )
    out = []
    for m in found:
        head = " ".join(m.group(1).upper().split())
        cond = m.group(2).strip() if m.group(2) else None
        action_text = m.group(3).strip()
        upper = " ".join(action_text.upper().split())
        if upper == "DELETE":
            action, payload = "delete", None
        elif upper == "UPDATE SET *":
            action, payload = "update_star", None
        elif upper.startswith("UPDATE SET"):
            action = "update_set"
            payload = parse_set(action_text[len("UPDATE SET"):])
        elif upper == "INSERT *":
            action, payload = "insert_star", None
        else:
            iv = _INSERT_VALUES.match(action_text)
            if iv is None:
                raise ValueError(
                    f"unsupported MERGE action {action_text!r}"
                )
            cols = [c.strip() for c in iv.group(1).split(",")]
            exprs = [e.strip() for e in _split_top_level_commas(iv.group(2))]
            if len(cols) != len(exprs) or not all(
                c.isidentifier() for c in cols
            ):
                raise ValueError(
                    f"MERGE INSERT column list {iv.group(1)!r} does not "
                    f"match its VALUES list {iv.group(2)!r}"
                )
            if len(set(cols)) != len(cols):
                raise ValueError("MERGE INSERT column assigned twice")
            action, payload = "insert_values", dict(zip(cols, exprs))
        legal = (
            ("update_star", "update_set", "delete")
            if head == "MATCHED"
            else ("insert_star", "insert_values")
        )
        if action not in legal:
            shown = (
                ("UPDATE SET *", "DELETE") if head == "MATCHED"
                else ("INSERT *",)
            )
            raise ValueError(
                f"unsupported MERGE clause 'WHEN {head} THEN {upper}'; "
                f"WHEN {head} supports: {' | '.join(shown)}"
            )
        out.append(
            {"head": head, "cond": cond, "action": action, "payload": payload}
        )
    for head in ("MATCHED", "NOT MATCHED"):
        group = [c for c in out if c["head"] == head]
        uncond = [i for i, c in enumerate(group) if c["cond"] is None]
        if len(uncond) > 1:
            raise ValueError(
                f"duplicate unconditioned WHEN {head} clauses in MERGE; "
                "every clause except the last of each type needs "
                "AND <condition>"
            )
        if uncond and uncond[0] != len(group) - 1:
            raise ValueError(
                f"WHEN {head} clause after an unconditioned WHEN {head} "
                "clause is unreachable (clauses apply first-match-wins); "
                "add AND <condition> or reorder"
            )
    return out


def _parse_merge_on(on: str, t_alias: str, s_alias: str) -> list[str]:
    keys = []
    for part in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
        m = re.match(
            rf"^\s*(?:{t_alias}|{s_alias})\.(\w+)\s*=\s*(?:{t_alias}|{s_alias})\.(\w+)\s*$",
            part.strip(),
            re.IGNORECASE,
        )
        if not m or m.group(1) != m.group(2):
            raise ValueError(
                f"MERGE ON must be equi-joins on the same column name "
                f"({t_alias}.k = {s_alias}.k); got {part.strip()!r}"
            )
        keys.append(m.group(1))
    return keys


_CALL = re.compile(
    r"^\s*CALL\s+(?:\w+\s*\.\s*)*(\w+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_call_args(argtext: str) -> tuple[list, dict]:
    """Iceberg procedure-call argument list: positional literals, then
    ``name => literal`` named arguments (Spark procedure syntax)."""
    pos, named = [], {}
    if argtext.strip():
        for part in _split_top_level_commas(argtext):
            part = part.strip()
            if (m := re.match(r"^(\w+)\s*=>\s*(.+)$", part, re.DOTALL)):
                key = m.group(1).lower()
                if key in named:
                    raise ValueError(f"CALL argument {key!r} given twice")
                named[key] = _parse_literal(m.group(2))
            else:
                if named:
                    raise ValueError(
                        "positional CALL argument after a named one"
                    )
                pos.append(_parse_literal(part))
    return pos, named


def _execute_call(
    spark: SparkSession, proc: str, argtext: str, tables: dict[str, str]
) -> dict:
    """Iceberg Spark-procedure parity (``CALL system.expire_snapshots
    ('t', retain_last => 3)``): each procedure routes onto the existing
    maintenance operator, so the SQL surface adds no second
    implementation. Any catalog/system qualifier prefix is accepted and
    ignored (the registry is flat). Unknown procedures and unknown
    arguments are rejected loudly — a silently-dropped retention
    argument is a data-loss bug waiting."""
    from . import deletes

    pos, named = _parse_call_args(argtext)
    table = named.pop("table", None)
    if table is None and pos:
        table = pos.pop(0)
    if not isinstance(table, str):
        raise ValueError(
            "CALL needs the table name as the first argument or table => 't'"
        )
    root = _resolve(tables, table)
    out = {"op": "call", "procedure": proc, "table": table}

    def _done(extra: dict) -> dict:
        if pos:
            raise ValueError(f"unexpected positional CALL arguments {pos}")
        if named:
            raise ValueError(
                f"unknown CALL argument(s) {sorted(named)} for {proc}"
            )
        out.update(extra)
        return out

    if proc == "expire_snapshots":
        keep = int(named.pop("retain_last", 2))
        older = named.pop("older_than", None)
        if isinstance(older, str):  # ISO timestamp (Iceberg's TIMESTAMP arg)
            older = _instant(older)
        return _done({
            "deleted": snapshots.expire_snapshots(
                root, keep_last=keep,
                older_than=float(older) if older is not None else None,
            )
        })
    if proc == "remove_orphan_files":
        cutoff = float(named.pop("older_than", 0.0))
        return _done({"removed": snapshots.remove_orphans(root, older_than_s=cutoff)})
    if proc == "rewrite_data_files":
        tb = int(named.pop("target_bytes", 128 * 1024 * 1024))
        w = named.pop("where", None)  # Iceberg's filter argument
        return _done({
            "snapshot_id": snapshots.compact_files(
                spark, root, target_bytes=tb,
                predicates=parse_where(w) if w else None,
            )
        })
    if proc == "rewrite_position_delete_files":
        frac = float(named.pop("min_deleted_frac", 0.0))
        return _done({"snapshot_id": deletes.rewrite_deletes(spark, root, min_deleted_frac=frac)})
    if proc == "rollback_to_snapshot":
        sid = named.pop("snapshot_id", None)
        if sid is None:
            if not pos:
                raise ValueError("rollback_to_snapshot needs a snapshot id")
            sid = pos.pop(0)
        return _done({"snapshot_id": snapshots.rollback(root, int(sid))})
    if proc == "maintain":
        kwargs = {}
        for arg, kw, cast in (
            ("target_bytes", "target_bytes", int),
            ("retain_last", "keep_last", int),
            ("older_than", "older_than_s", float),
            ("max_dvs", "max_dvs", int),
            ("purge_min_frac", "purge_min_frac", float),
        ):
            if arg in named:
                kwargs[kw] = cast(named.pop(arg))
        return _done({"result": deletes.maintain(spark, root, **kwargs)})
    raise ValueError(
        f"unknown procedure {proc!r}; supported: expire_snapshots, "
        "remove_orphan_files, rewrite_data_files, "
        "rewrite_position_delete_files, rollback_to_snapshot, maintain"
    )


_TPFX, _SPFX = "__t_", "__s_"

def _check_merge_cardinality(
    source: DataFrame,
    keys: list[str],
    target_keys: DataFrame,
    modifies=None,
    pair: tuple | None = None,
) -> None:
    """Raise the Delta/Iceberg MERGE cardinality error when more than
    one source row attempts to MODIFY the same target row — two
    post-images for one target row is nondeterministic MERGE by the
    standard, and committing both silently duplicates the row.

    ``modifies`` (with ``pair = (src_prefixed, tgt_prefixed, key_eq)``)
    is the OR of every WHEN MATCHED clause condition compiled onto the
    prefixed pair frame, passed only when EVERY matched clause is
    conditional: Delta/Iceberg error on source rows that actually
    modify a matched target row, so a dedup pattern like ``WHEN
    MATCHED AND s.seq = 1 THEN UPDATE`` is LEGAL with duplicate source
    keys — the conditions disambiguate to at most one modifying row.
    With any unconditional matched clause every matched pair modifies
    (the first-match chain always fires), so the cheaper key-only
    semi-join below is exact.

    Driver-side and batch-shaped on purpose: an in-plan raise_error
    guard is unsound here — when the guard's inputs are all
    source-side columns, Catalyst legally pushes the consuming filter
    BELOW the matched join and the guard fires for duplicate keys that
    match nothing (which are legal: each inserts). The common case
    (no duplicate source keys at all) costs one batch-sized groupBy
    and never touches the target; only when duplicates exist does a
    join against the target run, and ``limit(1)`` stops it at the
    first hit. Duplicate keys that match NO target row pass —
    Delta/Iceberg insert every applicable row."""
    dups = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select(*keys)
    )
    if not dups.limit(1).collect():
        return
    if modifies is None:
        hit = (
            dups.join(target_keys.select(*keys), keys, "left_semi")
            .limit(1)
            .collect()
        )
        if hit:
            kv = ", ".join(f"{k}={hit[0][k]!r}" for k in keys)
            raise ValueError(
                f"MERGE: a single target row matched multiple source "
                f"rows for key {kv}; deduplicate the source per key "
                "(e.g. keep the latest by a sequence column) before "
                "merging"
            )
        return
    src_p, tgt_p, key_eq = pair
    # duplicate-key source rows that satisfy at least one matched
    # clause against a matched target row are the ones that MODIFY it;
    # >1 of them per TARGET ROW is the real cardinality violation.
    # Counting per target-row identity (not per source key) matters
    # when the target itself has duplicate keys: two duplicate-key
    # source rows whose conditions each pick a DIFFERENT target row
    # are legal (one post-image per target row), while one target row
    # receiving two modifying sources is not — Delta's exact rule.
    # One source row modifying several target rows is likewise fine.
    # Cost is O(dup-key rows) joined against the (possibly key-pruned)
    # target; the id column is assigned in-plan, used only within this
    # single count query.
    dup_p = src_p.join(
        dups.select([F.col(k).alias(_SPFX + k) for k in keys]),
        [_SPFX + k for k in keys],
        "left_semi",
    )
    tgt_id = tgt_p.withColumn("__tid", F.monotonically_increasing_id())
    pairs = dup_p.join(tgt_id, key_eq & modifies, "inner")
    hit = (
        pairs.groupBy("__tid")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.first(_SPFX + k).alias(_SPFX + k) for k in keys],
        )
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if hit:
        kv = ", ".join(f"{k}={hit[0][_SPFX + k]!r}" for k in keys)
        raise ValueError(
            f"MERGE: a single target row matched multiple source rows "
            f"that attempt to modify it for key {kv} (the WHEN MATCHED "
            "conditions do not disambiguate); deduplicate the source "
            "per key or tighten the clause conditions"
        )


def _qualify_expr(
    expr: str,
    t_alias: str,
    s_alias: str,
    known_cols: set[str],
    allow_target: bool = True,
    what: str = "expression",
) -> str:
    """Rewrite ``t.col`` / ``s.col`` references in a MERGE condition or
    assignment onto the prefixed pair-frame columns. Every column
    reference must be alias-qualified — a bare reference to a known
    column is rejected rather than silently resolving to either side
    (standard MERGE ambiguity rule, enforced instead of guessed)."""
    literals: list[str] = []

    def _mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    masked = re.sub(r"'[^']*'", _mask, expr)

    def _repl(m: re.Match) -> str:
        alias, col = m.group(1), m.group(2)
        if alias.lower() == t_alias.lower():
            if not allow_target:
                raise ValueError(
                    f"{what} {expr.strip()!r} references target alias "
                    f"{alias!r}, but WHEN NOT MATCHED sees only source "
                    "rows (target columns are all NULL there)"
                )
            return _TPFX + col
        if alias.lower() == s_alias.lower():
            return _SPFX + col
        raise ValueError(
            f"unknown alias {alias!r} in {what} {expr.strip()!r}; "
            f"qualify columns with {t_alias!r} or {s_alias!r}"
        )

    # alias group anchored to identifiers: a decimal literal like 12.5
    # must not parse as alias "12" dot-member "5" (valid SQL rejected)
    masked = re.sub(r"\b([A-Za-z_]\w*)\s*\.\s*(\w+)", _repl, masked)
    for tok in re.findall(r"\b[A-Za-z_]\w*\b", masked):
        if tok in known_cols:
            raise ValueError(
                f"unqualified column reference {tok!r} in {what} "
                f"{expr.strip()!r}; qualify it with {t_alias!r} or "
                f"{s_alias!r}"
            )
    return re.sub(r"\x00(\d+)\x00", lambda m: literals[int(m.group(1))], masked)


def _merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    clauses: list[dict],
    t_alias: str,
    s_alias: str,
    evolve: bool = False,
) -> int:
    """The one SQL MERGE executor: every clause shape — the Delta/
    Iceberg conditional multi-clause surface (``WHEN MATCHED AND <cond>
    THEN UPDATE SET c = expr``; the reference pins Iceberg, whose Spark
    runtime supports exactly this) and its unconditioned special cases
    ``UPDATE SET *`` / ``DELETE`` / ``INSERT *`` alike. Clauses compile
    to ONE CDC feed — matched rows route through a first-match-wins
    ``when()`` chain into delete / post-image rows (UPDATE keeps
    unassigned columns at their target values), source rows matching
    no key take the first applicable NOT MATCHED clause and insert —
    and the feed commits through the row-level change writer
    (``deletes._changes``) in the table's ``write.delete.mode``:
    deletion vectors (merge-on-read) or a rewrite of only the files
    holding a changed row (copy-on-write). Both sides are O(batch):
    the target read opens only the files the batch's keys prune to,
    and the writer reuses that keyscan. Matching is row-wise: every
    target row of a matched key is updated, duplicate-key targets
    included. An INSERT touches no target row, even one sharing its
    key: a NULL key matches nothing, so its source row inserts beside
    the target's NULL-key rows.

    Each retry attempt loads the manifest ONCE and derives everything
    from it — the delete mode, the target columns and types, the
    clause validation, the ``evolve`` (``WITH SCHEMA EVOLUTION``)
    columns, the keyscan and the pinned target read; the committing
    writer's own load is the only other. Because UPDATE expressions
    read target values, the feed is a read-modify-write: the commit
    gates on the attempt's snapshot (``expected_base``), so a
    concurrent commit fails the attempt and the retry recomputes the
    feed — it is never erased by a stale one."""
    import functools
    import operator as _op

    from . import deletes

    def _target_schema(manifest: dict, entry: dict):
        """Target columns + types of ``entry``, widened by the evolving
        source columns (Delta autoMerge: they land ATOMICALLY inside
        the merge commit, so a failed merge leaves the schema
        untouched; pre-existing rows read NULL). A same-name column
        with a drifted type is not evolution and keeps the
        cast-to-target semantics every MERGE has."""
        hidden = snapshots._hidden_set(manifest)
        fields = snapshots._struct_of(entry["schema"]).fields
        t_cols = [f.name for f in fields if f.name not in hidden]
        dtypes = {f.name: f.dataType for f in fields}
        add = []
        retired = set(manifest.get("retired_physical", []))
        for f in source.schema.fields:
            if not evolve or f.name in dtypes:
                continue
            if f.name in retired or f.name in hidden:
                # the name's physical storage lingers in old files
                # (dropped column / hidden transform): widening-by-name
                # would resurrect stale values on merge-on-read paths.
                # add_column assigns a FRESH physical name for this.
                raise ValueError(
                    f"MERGE WITH SCHEMA EVOLUTION: column {f.name!r} "
                    "was previously dropped (or is a hidden partition "
                    "column); ALTER TABLE ... ADD COLUMN it explicitly "
                    "first (fresh physical storage), then merge"
                )
            if not f.name.isidentifier():
                raise ValueError(
                    f"MERGE WITH SCHEMA EVOLUTION: invalid new column "
                    f"name {f.name!r}"
                )
            add.append((f.name, f.dataType))
        return t_cols + [n for n, _ in add], {**dtypes, **dict(add)}, add

    def _compile(t_cols: list[str]) -> list[dict]:
        """Validate the clauses against the target columns, then
        compile each clause's condition (``"when"``) and assignments
        (``"exprs"``) to Columns — every grammar error surfaces before
        any data is read."""
        if any(c["action"] in ("update_star", "insert_star") for c in clauses):
            missing = [c for c in t_cols if c not in source.columns]
            if missing:
                raise ValueError(
                    f"MERGE source is missing target columns {missing} "
                    "required by UPDATE SET * / INSERT *"
                )
        for c in clauses:
            if c["action"] in ("update_set", "insert_values"):
                for col in c["payload"]:
                    if col not in t_cols:
                        raise ValueError(
                            f"MERGE assigns unknown column {col!r}; target "
                            f"columns: {t_cols}"
                        )
                    if col in keys and c["action"] == "update_set":
                        raise ValueError(
                            f"cannot UPDATE SET merge key column {col!r}"
                        )
            if c["action"] == "insert_values":
                for k in keys:
                    if k not in c["payload"]:
                        raise ValueError(
                            f"MERGE INSERT column list must include key "
                            f"column {k!r}"
                        )
        known = set(t_cols) | set(source.columns)

        def _expr(text: str, matched: bool, what: str):
            return F.expr(_qualify_expr(
                text, t_alias, s_alias, known, allow_target=matched, what=what,
            ))

        out = []
        for c in clauses:
            matched = c["head"] == "MATCHED"
            what = "SET expression" if matched else "INSERT expression"
            out.append({
                **c,
                "when": F.lit(True) if c["cond"] is None
                else _expr(c["cond"], matched, "MERGE condition"),
                "exprs": {col: _expr(e, matched, what)
                          for col, e in (c["payload"] or {}).items()},
            })
        return out

    def _first_match_idx(cond_cols: list) -> F.Column:
        branch = F.lit(None).cast("int")
        for i in range(len(cond_cols) - 1, -1, -1):
            branch = F.when(cond_cols[i], F.lit(i)).otherwise(branch)
        return branch

    def _build_feed(target: DataFrame, t_cols, dtypes, compiled):
        """``(changes, inserts)``: the matched side's key-addressed CDC
        rows, and the NOT MATCHED rows, which address no target row —
        either None when no clause of its kind exists."""
        matched_cl = [c for c in compiled if c["head"] == "MATCHED"]
        notm_cl = [c for c in compiled if c["head"] == "NOT MATCHED"]
        tgt = target.select([F.col(c).alias(_TPFX + c) for c in t_cols])
        src = source.select(
            [F.col(c).alias(_SPFX + c) for c in source.columns]
        )
        key_eq = functools.reduce(
            _op.and_,
            [F.col(_SPFX + k) == F.col(_TPFX + k) for k in keys],
        )
        if matched_cl:
            # MERGE cardinality rule, checked before any feed work:
            # >1 source row MODIFYING one target row must error, not
            # commit two post-images. When every matched clause is
            # conditional, only rows satisfying some clause count
            # (Delta semantics — s.seq=1 dedup merges stay legal).
            if any(c["cond"] is None for c in matched_cl):
                _check_merge_cardinality(
                    source, keys, target.select(*keys)
                )
            else:
                _check_merge_cardinality(
                    source,
                    keys,
                    target.select(*keys),
                    modifies=functools.reduce(
                        _op.or_, [c["when"] for c in matched_cl]
                    ),
                    pair=(src, tgt, key_eq),
                )
        parts: list[DataFrame] = []
        ins: list[DataFrame] = []
        # an unconditional matched clause fires for every pair, so no
        # matched target row goes unmodified and the duplicate-key carry
        # below is empty: it runs only when every matched clause has a
        # condition
        carry = bool(matched_cl) and all(c["cond"] is not None for c in matched_cl)
        if matched_cl:
            # __tid gives each target row an identity within this one
            # query (stable per scan), for the carry. Harmless extra
            # column for the clause selects.
            tgt_w = tgt.withColumn(
                "__tid", F.monotonically_increasing_id()
            ) if carry else tgt
            pairs = src.join(tgt_w, key_eq, "inner").withColumn(
                "__clause", _first_match_idx([c["when"] for c in matched_cl]),
            )
            for i, c in enumerate(matched_cl):
                sub = pairs.filter(F.col("__clause") == i)
                if c["action"] == "delete":
                    row = [
                        F.col(_TPFX + col).alias(col) for col in t_cols
                    ]
                    ct = "delete"
                elif c["action"] == "update_star":
                    # whole-row replace, source NULLs included (not
                    # merge_upsert's keep-target coalesce)
                    row = [
                        F.col(_SPFX + col).cast(dtypes[col]).alias(col)
                        for col in t_cols
                    ]
                    ct = "update_postimage"
                else:  # update_set: unassigned columns keep target values
                    row = [
                        (
                            c["exprs"][col].cast(dtypes[col])
                            if col in c["exprs"]
                            else F.col(_TPFX + col)
                        ).alias(col)
                        for col in t_cols
                    ]
                    ct = "update_postimage"
                parts.append(
                    sub.select(*row, F.lit(ct).alias("_change_type"))
                )
        if carry:
            # Row-completeness for DUPLICATE-KEY targets: the CDC
            # applier is key-addressed (it replaces every target row
            # of a fed key), so a target row
            # whose key IS modified by some pair but which itself
            # matched no clause must ride the feed as a carry
            # post-image, or it would silently vanish with its
            # siblings. Key-unique targets make this frame empty by
            # construction (every matched row of a fed key fed
            # something); the cost is one batch-shaped groupBy on the
            # pair frame. A carried row surfaces to CDF consumers as a
            # value-identical update — the honest trade for row-wise
            # MERGE semantics over a key-addressed applier.
            per_row = pairs.groupBy("__tid").agg(
                F.max(F.col("__clause").isNotNull().cast("int")).alias(
                    "__mod"
                ),
                *[F.first(_TPFX + c).alias(_TPFX + c) for c in t_cols],
            )
            carried = per_row.filter(F.col("__mod") == 0)
            key_mod = pairs.filter(F.col("__clause").isNotNull()).select(
                *[F.col(_TPFX + k).alias(k) for k in keys]
            ).distinct()
            carried = carried.join(
                key_mod.select(
                    *[F.col(k).alias(_TPFX + k) for k in keys]
                ),
                [_TPFX + k for k in keys],
                "left_semi",
            )
            parts.append(
                carried.select(
                    *[F.col(_TPFX + c).alias(c) for c in t_cols],
                    F.lit("update_postimage").alias("_change_type"),
                )
            )
        if notm_cl:
            anti = src.join(
                tgt.select([F.col(_TPFX + k) for k in keys]),
                key_eq,
                "left_anti",
            ).withColumn(
                "__clause", _first_match_idx([c["when"] for c in notm_cl]),
            )
            for i, c in enumerate(notm_cl):
                sub = anti.filter(F.col("__clause") == i)
                if c["action"] == "insert_star":
                    row = [
                        F.col(_SPFX + col).cast(dtypes[col]).alias(col)
                        for col in t_cols
                    ]
                else:  # insert_values: unlisted columns insert NULL
                    row = [
                        c["exprs"].get(col, F.lit(None))
                        .cast(dtypes[col]).alias(col)
                        for col in t_cols
                    ]
                ins.append(sub.select(*row))
        return tuple(
            functools.reduce(DataFrame.unionByName, f) if f else None
            for f in (parts, ins)
        )

    @snapshots._retry_conflicts
    def _run() -> int:
        # one load per attempt, and everything derives from it: a
        # concurrent commit (ADD COLUMN, a delete-mode flip, a racing
        # write) fails this attempt's commit and the retry re-derives
        manifest = snapshots._load(root)
        entry = snapshots._pin(manifest)
        t_cols, dtypes, add = _target_schema(manifest, entry)
        compiled = _compile(t_cols)
        # the target read opens only the files the manifest can't prune
        # on the batch's key IN-list (the change writer's keyscan, run
        # once and handed to it); the join is the exactness boundary,
        # the prune a superset — of every key the feed addresses only
        # while each inserted key is its source row's own: an INSERT
        # VALUES key expression or a key cast can land on a target row
        # outside it, which the carry below must see
        keys_pass = all(
            source.schema[k].dataType == dtypes[k] for k in keys
        ) and all(
            re.fullmatch(
                rf"{re.escape(s_alias)}\.{re.escape(k)}",
                c["payload"][k].strip(), re.IGNORECASE,
            )
            for c in compiled if c["action"] == "insert_values"
            for k in keys
        )
        planned = (
            deletes._plan_matched_scan(manifest, root, source, keys)
            if keys_pass else (None, {"keyscan": "full"})
        )
        target = snapshots._entry_frame(spark, root, manifest, entry, planned[0])
        for n, dt in add:
            # evolving columns don't exist on the target yet: NULL-pad
            # so the pair frame and UPDATE's keep-target-value branch
            # see them uniformly (Delta autoMerge read semantics)
            target = target.withColumn(n, F.lit(None).cast(dt))
        changes, inserts = _build_feed(target, t_cols, dtypes, compiled)
        target = target.select(*t_cols)
        feed = [] if changes is None else [changes]
        if inserts is not None:
            # the applier addresses every fed key null-safe (the CDC
            # contract), but an INSERT addresses no target row: a
            # target row sharing an inserted key (a NULL key, which
            # ``t.k = s.k`` never matches, or an INSERT VALUES
            # expression's) and untouched by the matched side rides the
            # feed unchanged, like the duplicate-key carry
            ik = inserts.select(*[F.col(k).alias(_SPFX + k) for k in keys])
            if keys_pass:
                # a non-NULL source key that is inserted matched no
                # target row — only a NULL-bearing one can share a key
                ik = ik.filter(functools.reduce(
                    _op.or_, [F.col(_SPFX + k).isNull() for k in keys]
                ))
            held = target.join(ik.distinct(), functools.reduce(_op.and_, [
                F.col(k).eqNullSafe(F.col(_SPFX + k)) for k in keys
            ]), "left_semi")
            if changes is not None and not keys_pass:
                # a modified key's rows are fed already (changed keys
                # come from the equi-join, so never share a NULL one)
                held = held.join(changes.select(*keys), keys, "left_anti")
            feed += [
                inserts.withColumn("_change_type", F.lit("insert")),
                held.withColumn("_change_type", F.lit("update_postimage")),
            ]
        return deletes._write_changes(
            spark, root, deletes._mode_of(manifest), "apply_changes",
            **deletes._changes(
                root, functools.reduce(DataFrame.unionByName, feed), keys,
                expected_base=entry["id"], evolve_schema=bool(add),
                planned=planned,
            ),
        )

    return _run()


def execute_dml(
    spark: SparkSession,
    sql: str,
    tables: dict[str, str],
    sources: dict[str, DataFrame] | None = None,
) -> dict:
    """Run one DML statement against registered snapshot tables.

    ``tables`` maps table name -> snapshot-table root directory;
    ``sources`` maps MERGE source names -> DataFrames (a registered
    temp view of the same name works too). Returns ``{"op", "table",
    "snapshot_id"}``. Every route commits through the snapshot
    manifest, so SQL writes get the same atomicity / time travel /
    CDC feed as the API they route to."""
    sources = sources or {}

    def _source_df(name: str, where: str | None) -> DataFrame:
        """A statement's read side: a registered snapshot table (WHERE
        routed through ``scan_snapshot`` so the manifest stats/bloom
        index file-skip, keeping the module's 'every SQL statement
        gets file skipping for free' promise), a provided DataFrame,
        or a temp view — in that priority."""
        if name in tables:
            if where:
                return snapshots.scan_snapshot(
                    spark, tables[name], parse_where(where)
                )
            return snapshots.read_snapshot(spark, tables[name])
        if name in sources:
            df = sources[name]
        else:
            try:
                df = spark.table(name)
            except Exception as exc:
                raise KeyError(
                    f"source {name!r} is neither a registered snapshot "
                    "table, a provided DataFrame, nor a view"
                ) from exc
        if where:
            df = df.where(snapshots._conjunction(parse_where(where)))
        return df

    if (m := _CTAS.match(sql)) is not None:
        or_replace, name, src, where = m.groups()
        root = _resolve(tables, name)
        if snapshots._load(root)["current"] is not None and not or_replace:
            raise ValueError(
                f"table {name!r} already has snapshots; use CREATE OR "
                "REPLACE TABLE to overwrite"
            )
        df = _source_df(src, where)
        sid = snapshots.write_snapshot(df, root, mode="overwrite")
        return {"op": "ctas", "table": name, "snapshot_id": sid}

    if (m := _CREATE_BRANCH.match(sql)) is not None:
        name, branch, version = m.groups()
        root = _resolve(tables, name)
        snapshots.create_branch(
            root, branch, int(version) if version is not None else None
        )
        return {
            "op": "create_branch",
            "table": name,
            "branch": branch,
            "snapshot_id": snapshots.resolve_branch(root, branch),
        }

    if (m := _DROP_BRANCH.match(sql)) is not None:
        name, branch = m.groups()
        root = _resolve(tables, name)
        snapshots.drop_branch(root, branch)
        return {"op": "drop_branch", "table": name, "branch": branch}

    if (m := _FAST_FORWARD.match(sql)) is not None:
        name, branch = m.groups()
        root = _resolve(tables, name)
        sid = snapshots.fast_forward(root, branch)
        return {
            "op": "fast_forward",
            "table": name,
            "branch": branch,
            "snapshot_id": sid,
        }

    if (m := _INSERT.match(sql)) is not None:
        name, branch, src, where = m.groups()
        root = _resolve(tables, name)
        df = _source_df(src, where)
        manifest = snapshots._load(root)
        # a branch insert appends onto the BRANCH head, so the schema
        # gate must compare against that head, not main's current —
        # resolved from the SAME loaded manifest as the schema lookup
        # below (a second load could see a concurrent branch commit and
        # hand _entry an id this manifest lacks)
        if branch is not None:
            if branch not in manifest.get("branches", {}):
                raise KeyError(
                    f"unknown branch {branch!r}; existing: "
                    f"{sorted(manifest.get('branches', {}))}"
                )
            gate_id = manifest["branches"][branch]
        else:
            gate_id = manifest["current"]
        if gate_id is not None:
            # loud schema gate: a mismatched source would otherwise
            # append silently AND flip the recorded snapshot schema
            import json as _json

            target_fields = _json.loads(
                snapshots._entry(manifest, gate_id)["schema"]
            ).get("fields", [])
            target_cols = [f["name"] for f in target_fields]
            if set(df.columns) != set(target_cols):
                raise ValueError(
                    f"INSERT INTO {name}: source columns "
                    f"{sorted(df.columns)} != target columns "
                    f"{sorted(target_cols)}"
                )
            # ...and TYPES: same-named columns with drifted types would
            # append silently and flip the committed entry's schema to
            # the source's — later reads of the old dirs under that
            # schema then fail or widen unexpectedly. Loud means types too.
            src_types = {f.name: f.dataType.jsonValue() for f in df.schema.fields}
            drift = [
                (f["name"], src_types[f["name"]], f["type"])
                for f in target_fields
                if src_types[f["name"]] != f["type"]
            ]
            if drift:
                raise ValueError(
                    f"INSERT INTO {name}: source column types differ from "
                    "target (col, source_type, target_type): "
                    + ", ".join(map(str, drift))
                )
            df = df.select(*target_cols)
        sid = snapshots.write_snapshot(
            df, root, mode="append", **({"branch": branch} if branch else {})
        )
        return {"op": "insert", "table": name, "snapshot_id": sid}

    if (m := _SHOW_STATS.match(sql)) is not None:
        name = m.group(1)
        root = _resolve(tables, name)
        stats = snapshots.table_stats(root)
        rows = [
            ("n_rows", None, stats["n_rows"]),
            ("n_files", None, stats["n_files"]),
            ("n_bytes", None, stats["n_bytes"]),
        ] + [
            ("null_count", c, v)
            for c, v in sorted(stats["null_counts"].items())
        ]
        df = spark.createDataFrame(
            rows, "stat string, column string, value long"
        )
        return {"op": "show_stats", "table": name, "df": df, "stats": stats}

    if _SHOW_TABLES.match(sql) is not None:
        df = spark.createDataFrame(
            [(n, r) for n, r in sorted(tables.items())],
            "table string, root string",
        )
        return {"op": "show_tables", "df": df}

    if (m := _DESCRIBE.match(sql)) is not None and not re.match(
        # only yield to the history route when a table name FOLLOWS
        # "HISTORY" — a table literally named history stays
        # describable as "DESCRIBE history"
        r"^\s*DESCRIBE\s+HISTORY\s+\w+", sql, re.IGNORECASE
    ):
        name = m.group(1)
        root = _resolve(tables, name)
        import json as _json

        manifest = snapshots._load(root)
        if manifest["current"] is None:
            raise KeyError(f"table {name!r} has no snapshots")
        fields = _json.loads(
            snapshots._entry(manifest, manifest["current"])["schema"]
        ).get("fields", [])
        df = spark.createDataFrame(
            [
                (
                    f["name"],
                    f["type"] if isinstance(f["type"], str) else str(f["type"]),
                    bool(f.get("nullable", True)),
                )
                for f in fields
            ],
            "col_name string, data_type string, nullable boolean",
        )
        return {"op": "describe", "table": name, "df": df}

    if (m := _CHANGES.match(sql)) is not None:
        name, from_id, to_id, keys_text = m.groups()
        root = _resolve(tables, name)
        keys = [k.strip() for k in keys_text.split(",") if k.strip()]
        if not keys:
            raise ValueError("TABLE_CHANGES needs a non-empty KEYS (...) list")
        df = snapshots.snapshot_changes(
            spark, root, keys, int(from_id), int(to_id)
        )
        return {"op": "table_changes", "table": name, "df": df}

    if (m := _OPTIMIZE.match(sql)) is not None:
        name, where, zorder_cols = m.groups()
        root = _resolve(tables, name)
        # Delta's OPTIMIZE t WHERE ... [ZORDER BY (...)]: the predicate
        # scopes which FILES the job rewrites (manifest-stats triage,
        # row-preserving); everything out of scope carries verbatim
        preds = parse_where(where) if where else None
        if zorder_cols is not None:
            cols = [c.strip() for c in zorder_cols.split(",") if c.strip()]
            if not cols:
                raise ValueError("ZORDER BY needs a non-empty column list")
            sid = snapshots.optimize_zorder(spark, root, cols, predicates=preds)
        else:
            sid = snapshots.compact_files(spark, root, predicates=preds)
        return {"op": "optimize", "table": name, "snapshot_id": sid}

    if (m := _REFRESH.match(sql)) is not None:
        # REFRESH TABLE v — re-bind a registered snapshot view to the
        # table's CURRENT snapshot (the Spark-SQL idiom users already
        # type for stale parquet tables; here it must re-bind because
        # Spark freezes a Python DataSource's planned partitions into
        # the stored view plan — see register_snapshot_views)
        name = m.group(1)
        key = (_session_key(spark), name)
        if key in _VIEW_REGISTRY:
            root, pushdown, pinned = _VIEW_REGISTRY[key]
            sid = (
                pinned if pinned is not None
                else snapshots._load(root)["current"]
            )
            _bind_view(spark, name, root, pushdown, sid)
            return {"op": "refresh", "table": name, "snapshot_id": sid}
        if name in tables:  # registered table, never bound as a view
            sid = snapshots._load(tables[name])["current"]
            return {"op": "refresh", "table": name, "snapshot_id": sid}
        raise KeyError(
            f"unknown view/table {name!r}; registered views: "
            f"{sorted(n for (sk, n) in _VIEW_REGISTRY if sk == _session_key(spark))}"
        )

    if (m := _VACUUM.match(sql)) is not None:
        name, retain, dry = m.groups()
        root = _resolve(tables, name)
        removed = snapshots.vacuum(
            root,
            keep_last=int(retain) if retain else 2,
            dry_run=dry is not None,
        )
        return {
            "op": "vacuum",
            "table": name,
            "removed": removed,
            "dry_run": dry is not None,
        }

    if (m := _RESTORE.match(sql)) is not None:
        # Delta's RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF: a NEW
        # rollback snapshot whose contents are the target's — history
        # preserved, the restore itself auditable
        name, version, as_of = m.groups()
        root = _resolve(tables, name)
        if version is not None:
            sid = int(version)
        else:
            sid = snapshots._pin(snapshots._load(root), as_of=_instant(as_of))["id"]
        new_id = snapshots.rollback(root, sid)
        return {
            "op": "restore",
            "table": name,
            "restored_to": sid,
            "snapshot_id": new_id,
        }

    if (m := _HISTORY.match(sql)) is not None:
        name = m.group(1)
        root = _resolve(tables, name)
        import json as _json

        rows = [
            (
                h["id"],
                h["op"],
                float(h["ts"]),
                h.get("parent"),
                bool(h.get("data_change", True)),
                _json.dumps(h.get("meta") or {}, sort_keys=True),
                # Delta's operationMetrics analog: commit-time
                # added/removed dir, file, row and byte counts
                _json.dumps(h.get("summary") or {}, sort_keys=True),
            )
            for h in snapshots.history(root)
        ]
        df = spark.createDataFrame(
            rows,
            "version long, operation string, ts double, parent long, "
            "data_change boolean, meta string, operation_metrics string",
        )
        return {"op": "history", "table": name, "df": df}

    if (m := _METADATA_SELECT.match(sql)) is not None:
        name, kind = m.groups()
        # Iceberg's inspection tables (SELECT * FROM t.files) — straight
        # from the manifest, no data file opened
        df = snapshots.metadata_table(spark, _resolve(tables, name), kind.lower())
        return {"op": "metadata", "table": name, "kind": kind.lower(), "df": df}

    if (m := _DESCRIBE_DETAIL.match(sql)) is not None:
        name = m.group(1)
        root = _resolve(tables, name)
        from . import deletes

        # one load: the stats and the detail fields describe one version
        manifest = snapshots._load(root)
        stats = snapshots._table_stats(manifest)
        # metadata-tier footprint: version-manifest count/bytes and ref
        # files (entry/files/stats) — the observability for the split
        # layout's O(batch) commit contract
        import os as _os

        meta_info = {"n_versions": 0, "version_bytes": 0,
                     "n_ref_files": 0, "ref_bytes": 0,
                     "n_checkpoints": 0, "checkpoint_bytes": 0}
        mdir = _os.path.join(root, "_manifests")
        try:
            for nm in _os.listdir(mdir):
                p = _os.path.join(mdir, nm)
                if snapshots._VERSION_RE.match(nm):
                    meta_info["n_versions"] += 1
                    meta_info["version_bytes"] += _os.path.getsize(p)
                elif snapshots._CKPT_RE.match(nm):
                    meta_info["n_checkpoints"] += 1
                    meta_info["checkpoint_bytes"] += _os.path.getsize(p)
                elif nm.startswith(("entry-", "files-", "stats-")):
                    meta_info["n_ref_files"] += 1
                    meta_info["ref_bytes"] += _os.path.getsize(p)
        except OSError:
            pass
        # commit-log health (round-12 layout): how long the replay
        # tail has grown past the newest base — when it nears the
        # checkpoint cadence, the next commit will re-checkpoint; a
        # persistently long tail means commits are failing their
        # best-effort checkpoint writes
        meta_info["head_version"] = manifest["version"]
        base_v = manifest["_replay_base_version"]
        meta_info["replay_base_version"] = base_v
        meta_info["log_tail_length"] = meta_info["head_version"] - base_v
        meta_info["checkpoint_interval"] = snapshots._CHECKPOINT_INTERVAL
        detail = {
            "format": "parquet",
            "location": root,
            "current_snapshot_id": manifest["current"],
            "delete_mode": deletes._mode_of(manifest),
            "partition_spec": manifest.get("partition_spec", []),
            "constraints": manifest.get("constraints", {}),
            "metadata": meta_info,
            **stats,
        }
        return {"op": "describe_detail", "table": name, "detail": detail}

    if (m := _SELECT.match(sql)) is not None:
        name, version, as_of, tag, br, where = m.groups()
        root = _resolve(tables, name)
        kwargs: dict = {}
        if version is not None:
            kwargs["snapshot_id"] = int(version)
        elif as_of is not None:
            kwargs["as_of"] = _instant(as_of)
        elif tag is not None:
            kwargs["tag"] = tag
        elif br is not None:
            kwargs["branch"] = br
        if where:
            df = snapshots.scan_snapshot(
                spark, root, parse_where(where), **kwargs
            )
        else:
            df = snapshots.read_snapshot(spark, root, **kwargs)
        return {"op": "select", "table": name, "df": df}

    if (m := _SET_TBLPROP.match(sql)) is not None:
        name, key, value = m.groups()
        root = _resolve(tables, name)
        if key != "write.delete.mode":
            raise ValueError(
                f"unsupported table property {key!r} "
                "(supported: write.delete.mode)"
            )
        from . import deletes

        deletes.set_delete_mode(root, value)
        return {"op": "set_tblproperties", "table": name, key: value}

    if (m := _ADD_CONSTRAINT.match(sql)) is not None:
        # Delta's ALTER TABLE ... ADD CONSTRAINT name CHECK (cond):
        # routes onto the stored-constraint tier — existing rows are
        # NOT validated (set_constraint's contract: writes from now on
        # are guarded), matching the function-level surface exactly
        name, cname, cond = m.groups()
        snapshots.set_constraint(_resolve(tables, name), cname, cond.strip())
        return {"op": "add_constraint", "table": name, "constraint": cname}

    if (m := _DROP_CONSTRAINT.match(sql)) is not None:
        name, cname = m.groups()
        snapshots.drop_constraint(_resolve(tables, name), cname)
        return {"op": "drop_constraint", "table": name, "constraint": cname}

    if (m := _ADD_COLUMN.match(sql)) is not None:
        name, col, dtype, default = m.groups()
        dv = _parse_literal(default) if default is not None else None
        sid = snapshots.add_column(_resolve(tables, name), col, dtype, default=dv)
        return {"op": "add_column", "table": name, "column": col,
                "snapshot_id": sid}

    if (m := _ALTER_COLUMN_TYPE.match(sql)) is not None:
        name, col, dtype = m.groups()
        sid = snapshots.alter_column_type(_resolve(tables, name), col, dtype)
        return {"op": "alter_column_type", "table": name, "column": col,
                "snapshot_id": sid}

    if (m := _RENAME_COLUMN.match(sql)) is not None:
        name, old_c, new_c = m.groups()
        sid = snapshots.rename_column(_resolve(tables, name), old_c, new_c)
        return {"op": "rename_column", "table": name, "column": new_c,
                "snapshot_id": sid}

    if (m := _DROP_COLUMN.match(sql)) is not None:
        name, col = m.groups()
        sid = snapshots.drop_column(_resolve(tables, name), col)
        return {"op": "drop_column", "table": name, "column": col,
                "snapshot_id": sid}

    if (m := _CALL.match(sql)) is not None:
        return _execute_call(spark, m.group(1).lower(), m.group(2), tables)

    if (m := _TRUNCATE.match(sql)) is not None:
        name = m.group(1)
        root = _resolve(tables, name)
        # one empty-overwrite commit: the schema survives, every prior
        # snapshot stays time-travel readable until expired (Delta's
        # TRUNCATE semantics over a transaction log)
        sid = snapshots.write_snapshot(_empty_like(spark, root), root)
        return {"op": "truncate", "table": name, "snapshot_id": sid}

    if (m := _REORG.match(sql)) is not None:
        name = m.group(1)
        root = _resolve(tables, name)
        from . import deletes

        sid = deletes.rewrite_deletes(spark, root)
        return {"op": "reorg_purge", "table": name, "snapshot_id": sid}

    if (m := _DELETE.match(sql)) is not None:
        name, where = m.groups()
        root = _resolve(tables, name)
        from . import deletes

        # Iceberg's write.delete.mode: merge-on-read marks positions in
        # a deletion vector (no file rewrites); copy-on-write (default)
        # rewrites only the files holding a matched row
        preds, mode = parse_where(where), deletes.delete_mode(root)
        if mode == deletes.MOR:
            sid = deletes.delete_where_dv(spark, root, preds)
        else:
            sid = deletes._write_changes(
                spark, root, mode, "delete", **deletes._where(root, preds, True)
            )
        return {"op": "delete", "table": name, "snapshot_id": sid}

    if (m := _UPDATE.match(sql)) is not None:
        name, set_clause, where = m.groups()
        root = _resolve(tables, name)
        from . import deletes

        sid = deletes._write_changes(
            spark, root, deletes.delete_mode(root), "update",
            **deletes._update(root, parse_where(where), parse_set(set_clause)),
        )
        return {"op": "update", "table": name, "snapshot_id": sid}

    if (m := _MERGE.match(sql)) is not None:
        evolve_kw, name, t_alias, src_name, s_alias, on, clauses_text = m.groups()
        root = _resolve(tables, name)
        t_alias, s_alias = t_alias or name, s_alias or src_name
        keys = _parse_merge_on(on, t_alias, s_alias)
        parsed = _parse_merge_clauses(clauses_text)
        if src_name in sources:
            source = sources[src_name]
        else:
            try:
                source = spark.table(src_name)
            except Exception as exc:
                raise KeyError(
                    f"MERGE source {src_name!r} is neither in sources nor a view"
                ) from exc
        sid = _merge(
            spark, root, source, keys, parsed, t_alias, s_alias,
            evolve=evolve_kw is not None,
        )
        return {"op": "merge", "table": name, "snapshot_id": sid}

    raise ValueError(
        "unsupported statement (supported: DELETE FROM..WHERE, "
        f"UPDATE..SET..WHERE, MERGE INTO..USING..ON..WHEN): {sql[:120]!r}"
    )


def _resolve(tables: dict[str, str], name: str) -> str:
    if name not in tables:
        raise KeyError(f"unknown snapshot table {name!r}; registered: {sorted(tables)}")
    return tables[name]


def _empty_like(spark: SparkSession, root: str) -> DataFrame:
    import json

    import pyspark.sql.types as T

    manifest = snapshots._load(root)
    if manifest["current"] is None:
        raise KeyError(f"table {root} has no snapshots")
    entry = snapshots._entry(manifest, manifest["current"])
    return spark.createDataFrame([], T.StructType.fromJson(json.loads(entry["schema"])))


#: views bound in this process by register_snapshot_views /
#: register_time_travel_view, keyed (session id, view name) — what
#: refresh_snapshot_views and the REFRESH TABLE route re-bind. Values:
#: (root, pushdown, pinned_snapshot_id_or_None); None means "current
#: at refresh time" (a plain table view), an int means a time-travel
#: view whose position is part of its identity (refresh re-binds the
#: SAME snapshot, only picking up metadata-tier changes).
_VIEW_REGISTRY: dict = {}


def _session_key(spark: SparkSession):
    return id(spark)


def _bind_view(
    spark: SparkSession, name: str, root: str, pushdown: bool, sid: int
) -> None:
    if not pushdown:
        snapshots.read_snapshot(
            spark, root, snapshot_id=sid
        ).createOrReplaceTempView(name)
        return
    from ..streaming.table_source import TableStreamDataSource

    _CONF = "spark.sql.python.filterPushdown.enabled"
    if str(spark.conf.get(_CONF, "false")).lower() != "true":
        spark.conf.set(_CONF, "true")
    spark.dataSource.register(TableStreamDataSource)
    (
        spark.read.format("snapshot_table")
        .option("path", root)
        .option("pushdown", "true")
        .option("snapshotId", str(sid))  # pin: snapshot isolation
        .load()
        .createOrReplaceTempView(name)
    )


def register_snapshot_views(
    spark: SparkSession, tables: dict[str, str], pushdown: bool = True
) -> dict:
    """Expose snapshot tables to FULL Spark SQL as temp views: after
    this, ``spark.sql("SELECT ... arbitrary joins/windows ... FROM
    t")`` works with the whole SQL surface — the Dremio-shaped read
    path the reference provisions (scripts/utils.py), minus the BI
    server. Views PIN the current snapshot at bind time (snapshot
    isolation for a long-lived session). Liveness is an explicit,
    cheap re-bind: :func:`refresh_snapshot_views` (one call for every
    view this session registered) or the routed ``REFRESH TABLE t``
    statement — NOT an unpinned reader, because Spark 4.1 freezes a
    Python DataSource's planned partitions into the stored view plan
    (``planInputPartitions`` is cached on the relation; even
    ``spark.sql("REFRESH TABLE ...")`` over the raw view does not
    reach it — pinned by
    ``test_unpinned_datasource_plan_is_frozen_engine_fact``), so an
    "unpinned" binding would silently freeze at first use anyway.

    ``pushdown=True`` (default) binds each view through the
    ``snapshot_table`` batch DataSource with filter pushdown: any
    ``spark.sql("... WHERE ...")`` over the view routes its
    conjunctive predicates into the manifest-stats + Bloom file
    pruning (``plan_scan``), so arbitrary SQL opens only may-match
    files — not just the routed ``SELECT`` grammar. Requires
    ``spark.sql.python.filterPushdown.enabled`` (a SESSION-global
    conf, default off — it affects every Python DataSource in the
    session): the previous effective value is recorded in the
    returned dict under ``"python_filter_pushdown_was"`` so callers
    can restore it; it is only written when not already ``true``.
    ``pushdown=False`` binds the materialized ``read_snapshot``
    DataFrame instead (no file skipping; no session conf touched)."""
    _CONF = "spark.sql.python.filterPushdown.enabled"
    prev = str(spark.conf.get(_CONF, "false")) if pushdown else None
    bound = {}
    for name, root in tables.items():
        sid = snapshots._load(root)["current"]
        if sid is None:
            raise KeyError(f"table {root} has no snapshots")
        _bind_view(spark, name, root, pushdown, sid)
        _VIEW_REGISTRY[(_session_key(spark), name)] = (root, pushdown, None)
        bound[name] = sid
    out = {"bound": bound}
    if pushdown:
        out["python_filter_pushdown_was"] = prev
    return out


def refresh_snapshot_views(spark: SparkSession) -> dict:
    """Re-bind every view this session registered via
    :func:`register_snapshot_views` / :func:`register_time_travel_view`
    to its table's CURRENT snapshot (time-travel views keep their
    pinned position — their identity IS the position). One call
    refreshes a whole BI session; returns ``{view: snapshot_id}``.
    This is the explicit-liveness half of the pinned-view contract —
    see register_snapshot_views for why liveness cannot ride an
    unpinned reader on Spark 4.1."""
    skey = _session_key(spark)
    out = {}
    for (sk, name), (root, pushdown, pinned) in list(_VIEW_REGISTRY.items()):
        if sk != skey:
            continue
        sid = pinned
        if sid is None:
            sid = snapshots._load(root)["current"]
            if sid is None:
                raise KeyError(f"table {root} has no snapshots")
        _bind_view(spark, name, root, pushdown, sid)
        out[name] = sid
    return out


def register_time_travel_view(
    spark: SparkSession,
    name: str,
    root: str,
    *,
    snapshot_id: int | None = None,
    tag: str | None = None,
    timestamp: str | None = None,
    pushdown: bool = True,
) -> int:
    """Register ``name`` as a temp view PINNED at a historical
    position — by snapshot id, tag, or timestamp (``TIMESTAMP AS OF``
    semantics: the newest main-ancestry snapshot at or before the
    instant) — so FULL ``spark.sql`` reads history, not just the
    routed ``SELECT ... VERSION AS OF`` grammar. Returns the resolved
    snapshot id. Convention for the view name: ``f"{t}_v{N}"``
    (temp-view names must be plain identifiers — ``t@v3`` is
    rejected by Spark), but any identifier works."""
    picked = [x for x in (snapshot_id, tag, timestamp) if x is not None]
    if len(picked) != 1:
        raise ValueError(
            "pass exactly one of snapshot_id=, tag=, timestamp="
        )
    sid = snapshots._pin(
        snapshots._load(root),
        None if snapshot_id is None else int(snapshot_id),
        as_of=None if timestamp is None else _instant(timestamp),
        tag=tag,
    )["id"]
    _bind_view(spark, name, root, pushdown, sid)
    _VIEW_REGISTRY[(_session_key(spark), name)] = (root, pushdown, sid)
    return sid


_DESCRIBE = re.compile(
    r"^\s*DESCRIBE\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_TABLES = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.IGNORECASE)
_SHOW_STATS = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
