"""Model-based test for conditional MERGE: random targets, sources and
clause lists run through BOTH commit routes and compared against an
independent pure-Python implementation of the MERGE contract
(first-match-wins clauses, SQL three-valued conditions where NULL
comparisons never match, a NULL merge key matches nothing, UPDATE keeps
unassigned columns, INSERT NULL-pads unlisted columns,
unmatched-by-any-clause rows untouched)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from e_commerce_lakehouse_spark.sources import deletes as D
from e_commerce_lakehouse_spark.sources import snapshots as S
from e_commerce_lakehouse_spark.sources import sql_dml

# rows are (k, a, b); k may be NULL (a NULL key matches nothing), a may
# be NULL (condition semantics), b may be NULL
_row = st.tuples(
    st.sampled_from([*range(10), None]),
    st.one_of(st.none(), st.integers(-5, 5)),
    st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
)


def _unique_by_key(rows):
    out = {}
    for r in rows:
        out[r[0]] = r
    return list(out.values())


_OPS = ["<", "<=", "=", ">=", ">"]
_cond = st.one_of(
    st.none(),
    st.tuples(st.sampled_from(["s.a", "t.a"]), st.sampled_from(_OPS),
              st.integers(-4, 4)),
)
_nm_cond = st.one_of(
    st.none(),
    st.tuples(st.just("s.a"), st.sampled_from(_OPS), st.integers(-4, 4)),
)
_m_action = st.sampled_from(
    ["DELETE", "UPDATE SET *", "UPDATE SET a = t.a + s.a",
     "UPDATE SET b = s.b"]
)
_nm_action = st.sampled_from(
    ["INSERT *", "INSERT (k, a) VALUES (s.k, s.a)"]
)


@st.composite
def _merge_case(draw):
    target = _unique_by_key(draw(st.lists(_row, min_size=0, max_size=8)))
    # source keys deliberately NOT deduplicated: a duplicate source key
    # matching a target row must raise the MERGE cardinality error
    # (Delta/Iceberg 'single target row matched multiple source rows'),
    # and duplicate UNMATCHED keys legally insert every applicable row
    source = draw(st.lists(_row, min_size=0, max_size=8))
    n_m = draw(st.integers(0, 2))
    n_nm = draw(st.integers(0, 2))
    if n_m + n_nm == 0:
        n_m = 1
    matched = []
    for i in range(n_m):
        cond = draw(_cond)
        if i < n_m - 1 and cond is None:  # non-last needs a condition
            cond = ("s.a", "=", draw(st.integers(-4, 4)))
        matched.append((cond, draw(_m_action)))
    not_matched = []
    for i in range(n_nm):
        cond = draw(_nm_cond)
        if i < n_nm - 1 and cond is None:
            cond = ("s.a", "=", draw(st.integers(-4, 4)))
        not_matched.append((cond, draw(_nm_action)))
    mode = draw(st.sampled_from(["copy-on-write", "merge-on-read"]))
    return target, source, matched, not_matched, mode


def _eval_cond(cond, t_row, s_row):
    if cond is None:
        return True
    ref, op, lit = cond
    v = (t_row if ref.startswith("t.") else s_row)[1]  # column a
    if v is None:
        return False  # SQL three-valued: NULL comparison never matches
    return {
        "<": v < lit, "<=": v <= lit, "=": v == lit,
        ">=": v >= lit, ">": v > lit,
    }[op]


def _model(target, source, matched, not_matched):
    """Expected result as a multiset of rows, or ``None`` meaning the
    engine must raise the MERGE cardinality error (some target row is
    matched by more than one source row while a MATCHED clause
    exists)."""
    from collections import Counter

    # `t.k = s.k` never matches a NULL key: NULL-key target rows are
    # untouched, NULL-key source rows go to the NOT MATCHED clauses
    tgt = {r[0]: r for r in target if r[0] is not None}
    kept = [r for r in target if r[0] is None]
    if matched:
        if any(cond is None for cond, _ in matched):
            # an unconditional clause means every matched pair
            # modifies: duplicate matched source keys error
            src_counts = Counter(s[0] for s in source)
            if any(n > 1 for k, n in src_counts.items() if k in tgt):
                return None
        else:
            # all clauses conditional (Delta/Iceberg): only source
            # rows that ACTUALLY modify the matched target row count —
            # the `WHEN MATCHED AND s.seq = 1` dedup pattern is legal
            mod_counts = Counter(
                s[0]
                for s in source
                if s[0] in tgt and any(
                    _eval_cond(c, tgt[s[0]], s) for c, _ in matched
                )
            )
            if any(n > 1 for n in mod_counts.values()):
                return None
    out = dict(tgt)
    inserts = []  # duplicate unmatched keys may each insert a row
    for s in source:
        t = tgt.get(s[0])
        if t is not None:
            for cond, action in matched:
                if not _eval_cond(cond, t, s):
                    continue
                if action == "DELETE":
                    out.pop(s[0], None)
                elif action == "UPDATE SET *":
                    out[s[0]] = s
                elif action == "UPDATE SET a = t.a + s.a":
                    a = None if (t[1] is None or s[1] is None) else t[1] + s[1]
                    out[s[0]] = (t[0], a, t[2])
                else:  # UPDATE SET b = s.b
                    out[s[0]] = (t[0], t[1], s[2])
                break  # first-match-wins
        else:
            for cond, action in not_matched:
                if not _eval_cond(cond, None, s):
                    continue
                if action == "INSERT *":
                    inserts.append(s)
                else:  # INSERT (k, a) VALUES (s.k, s.a)
                    inserts.append((s[0], s[1], None))
                break
    return Counter(list(out.values()) + kept + inserts)


def _render(matched, not_matched):
    parts = []
    for cond, action in matched:
        c = f" AND {cond[0]} {cond[1]} {cond[2]}" if cond else ""
        parts.append(f"WHEN MATCHED{c} THEN {action}")
    for cond, action in not_matched:
        c = f" AND {cond[0]} {cond[1]} {cond[2]}" if cond else ""
        parts.append(f"WHEN NOT MATCHED{c} THEN {action}")
    return (
        "MERGE INTO tbl AS t USING src AS s ON t.k = s.k " + " ".join(parts)
    )


@pytest.fixture(scope="module")
def mroot(tmp_path_factory):
    return tmp_path_factory.mktemp("merge_model")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_merge_case())
def test_conditional_merge_matches_model(spark, mroot, case):
    target, source, matched, not_matched, mode = case
    import uuid

    from collections import Counter

    root = str(mroot / uuid.uuid4().hex)
    schema = "k long, a long, b string"
    S.write_snapshot(spark.createDataFrame(target, schema), root)
    D.set_delete_mode(root, mode)
    expect = _model(target, source, matched, not_matched)
    if expect is None:
        with pytest.raises(Exception, match="matched multiple source"):
            sql_dml.execute_dml(
                spark,
                _render(matched, not_matched),
                {"tbl": root},
                sources={"src": spark.createDataFrame(source, schema)},
            )
        # the failed MERGE must not have committed anything
        got = Counter(tuple(r) for r in S.read_snapshot(spark, root).collect())
        assert got == Counter(map(tuple, target))
        return
    sql_dml.execute_dml(
        spark,
        _render(matched, not_matched),
        {"tbl": root},
        sources={"src": spark.createDataFrame(source, schema)},
    )
    got = Counter(tuple(r) for r in S.read_snapshot(spark, root).collect())
    assert got == expect
