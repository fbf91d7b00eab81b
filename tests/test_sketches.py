"""Count-min sketch (operators/sketches.py) vs an independent
pure-Python reference using the same md5 position spec."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators import sketches
from e_commerce_lakehouse_spark.sources import load_table
from tests.conftest import SF_SMALL

DEPTH, WIDTH = 4, 1024


def _pos(key: str, i: int) -> int:
    return int(hashlib.md5(f"cms{i}:{key}".encode()).hexdigest()[:15], 16) % WIDTH


def _ref_cms(values: list[str]):
    cells = [[0] * WIDTH for _ in range(DEPTH)]
    for v in values:
        for i in range(DEPTH):
            cells[i][_pos(v, i)] += 1
    return cells


def test_cms_matches_reference_and_is_one_sided(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_partkey")
    values = [str(r.l_partkey) for r in li.collect()]
    ref = _ref_cms(values)
    cells = {
        (r.row_idx, r.col_idx): r.c
        for r in sketches.countmin_cells(li, "l_partkey").collect()
    }
    for (i, j), c in cells.items():
        assert ref[i][j] == c, (i, j)
    assert sum(cells.values()) == DEPTH * len(values)  # every row counted

    from collections import Counter

    truth = Counter(values)
    keys = li.distinct()
    est = {
        str(r.l_partkey): r.cms_est
        for r in sketches.countmin_estimate(
            sketches.countmin_cells(li, "l_partkey"), keys, "l_partkey"
        ).collect()
    }
    for k, t in truth.items():
        assert est[k] >= t, k  # CMS never undercounts
        assert est[k] == min(ref[i][_pos(k, i)] for i in range(DEPTH)), k


def test_cms_absent_key_and_determinism(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_partkey")
    cells = sketches.countmin_cells(li, "l_partkey")
    ghost = spark.createDataFrame([(10**15,)], "l_partkey long")
    (row,) = sketches.countmin_estimate(cells, ghost, "l_partkey").collect()
    assert row.cms_est >= 0  # collision noise only; never negative
    a = sorted(map(tuple, sketches.countmin_cells(li, "l_partkey").collect()))
    b = sorted(
        map(tuple, sketches.countmin_cells(li.repartition(7), "l_partkey").collect())
    )
    assert a == b


# -- HyperLogLog --------------------------------------------------------------


def _ref_hll(values: list[str]) -> int:
    """Independent reference of the full estimator ladder, incl. the
    fixed-point-log2 linear-counting path (chain reference from
    tests/test_search.py)."""
    from tests.test_search import _fx64_ref

    m, cap = sketches.HLL_M, sketches.HLL_RANK_CAP
    M = [0] * m
    for v in values:
        h = int(hashlib.md5(f"hll:{v}".encode()).hexdigest()[:15], 16)
        idx, h2 = h % m, h // m
        blen = len(bin(h2)[2:]) if h2 > 0 else 1
        M[idx] = max(M[idx], min(55 - blen, cap))
    rm = max(M)
    n = sum(1 << (rm - mj) for mj in M)
    raw = (sketches.HLL_ALPHA_X1000 * m * m * (1 << rm)) // n
    v0 = sum(1 for mj in M if mj == 0)
    if v0 > 0 and raw <= 2500 * m:
        fl = _fx64_ref(m, v0)
        return (m * fl * sketches.LN2_X1E6) // (64 * 1000)
    return raw


def test_hll_matches_reference_both_ranges(spark):
    """Raw-range (distinct >> m) and linear-counting range (distinct
    ~ m/4) both match the pure-Python ladder exactly, and land within
    the published ~1.04/sqrt(m) error of the truth."""
    li = load_table(spark, SF_SMALL, "lineitem")
    est = {
        r.l_returnflag: r.hll_x1000
        for r in sketches.hll_estimate(li, "l_partkey", ["l_returnflag"]).collect()
    }
    truth: dict[str, set] = {}
    for r in li.select("l_returnflag", "l_partkey").collect():
        truth.setdefault(r.l_returnflag, set()).add(str(r.l_partkey))
    for g, vals in truth.items():
        assert est[g] == _ref_hll(sorted(vals)), g
        assert abs(est[g] / 1000 - len(vals)) <= 0.45 * len(vals), g

    # linear-counting range: 12 distinct keys over 64 registers
    small = spark.createDataFrame(
        [("g", i % 12) for i in range(100)], "grp string, k long"
    )
    (row,) = sketches.hll_estimate(small, "k", ["grp"]).collect()
    want = _ref_hll([str(i) for i in range(12)])
    assert row.hll_x1000 == want
    assert row.hll_empty_regs > 0  # genuinely exercised the lc branch
    assert abs(row.hll_x1000 / 1000 - 12) <= 4


def test_hll_deterministic(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    a = sorted(map(tuple, sketches.hll_estimate(li, "l_partkey", ["l_returnflag"]).collect()))
    b = sorted(
        map(
            tuple,
            sketches.hll_estimate(
                li.repartition(17), "l_partkey", ["l_returnflag"]
            ).collect(),
        )
    )
    assert a == b


def test_hll_merge_equals_direct(spark):
    """Register-max merge is the lossless HLL union: sub-sketches built
    over an ARBITRARY row split (orderkey parity — aligned to no
    grouping column) merge to exactly the direct estimate."""
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_partkey", "l_orderkey"
    )
    direct = {
        r.l_returnflag: r.hll_x1000
        for r in sketches.hll_estimate(li, "l_partkey", ["l_returnflag"]).collect()
    }
    split = li.withColumn("_half", (F.col("l_orderkey") % 2).cast("int"))
    merged = sketches.hll_estimate_from_registers(
        sketches.hll_merge_registers(
            sketches.hll_registers(split, "l_partkey", ["l_returnflag", "_half"]),
            ["l_returnflag"],
        ),
        ["l_returnflag"],
    )
    got = {r.l_returnflag: r.hll_x1000 for r in merged.collect()}
    assert got == direct and direct


def test_countmin_merge_equals_direct(spark):
    """Cell-wise sum is the lossless CMS union: sketches over an
    orderkey-parity split merge to exactly the direct cell table (and
    therefore identical point estimates)."""
    li = load_table(spark, SF_SMALL, "lineitem").select("l_partkey", "l_orderkey")
    direct = {
        (r.row_idx, r.col_idx): r.c
        for r in sketches.countmin_cells(li, "l_partkey").collect()
    }
    a = sketches.countmin_cells(li.filter(F.col("l_orderkey") % 2 == 0), "l_partkey")
    b = sketches.countmin_cells(li.filter(F.col("l_orderkey") % 2 == 1), "l_partkey")
    merged = {
        (r.row_idx, r.col_idx): r.c
        for r in sketches.countmin_merge(a, b).collect()
    }
    assert merged == direct and direct


def test_bloom_merge_equals_direct(spark):
    from e_commerce_lakehouse_spark.operators import dedup as dd

    grams = spark.createDataFrame(
        [(f"g{i}",) for i in range(300)], "gram string"
    )
    direct = dd.bloom_filter_build(grams, m_bits=1024)
    half_a = dd.bloom_filter_build(
        grams.filter(F.col("gram").substr(2, 10).cast("long") % 2 == 0),
        m_bits=1024,
    )
    half_b = dd.bloom_filter_build(
        grams.filter(F.col("gram").substr(2, 10).cast("long") % 2 == 1),
        m_bits=1024,
    )
    assert dd.bloom_merge(half_a, half_b) == direct
    import pytest as _pytest

    with _pytest.raises(ValueError, match="m_bits"):
        dd.bloom_merge(direct, dd.bloom_filter_build(grams, m_bits=512))


def test_ddsketch_accuracy_and_merge(spark):
    """DDSketch (s=4, gamma=2^(1/16)): every nearest-rank quantile
    representative sits within the published relative-error bound of
    the exact nearest-rank value (gamma bound + Q20/floor-chain slack
    => assert 3%), and merging disjoint-half sketches reproduces the
    whole-corpus cell frame EXACTLY."""
    import math
    import random

    from e_commerce_lakehouse_spark.operators import sketches as sk

    random.seed(11)
    vals = [int(math.exp(random.gauss(7, 2.5))) + 1 for _ in range(4000)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    cells = sk.ddsketch_cells(df, "v")
    got = {r.q_pct: r.rep for r in sk.ddsketch_quantiles(cells, (50, 90, 95, 99)).collect()}
    sv = sorted(vals)
    for q, rep in got.items():
        exact = sv[(len(sv) * q + 99) // 100 - 1]
        assert abs(rep - exact) / exact <= 0.03, (q, rep, exact)

    h1 = spark.createDataFrame([(v,) for v in vals[:2000]], ["v"])
    h2 = spark.createDataFrame([(v,) for v in vals[2000:]], ["v"])
    merged = sk.ddsketch_merge(sk.ddsketch_cells(h1, "v"), sk.ddsketch_cells(h2, "v"))
    assert {r.bucket: r.cnt for r in merged.collect()} == {
        r.bucket: r.cnt for r in cells.collect()
    }


def test_ddsketch_grouped_and_guard(spark):
    """Grouped cells keep group columns; a value < 1 raises IN-PLAN
    (the guard lives inside the chain input the aggregate consumes, so
    Catalyst cannot prune it)."""
    import pytest

    from e_commerce_lakehouse_spark.operators import sketches as sk

    df = spark.createDataFrame(
        [("a", 10), ("a", 1000), ("b", 7)], ["g", "v"]
    )
    cells = sk.ddsketch_cells(df, "v", group_cols=("g",))
    rows = cells.collect()
    assert {r.g for r in rows} == {"a", "b"}
    assert sum(r.cnt for r in rows) == 3

    bad = spark.createDataFrame([("a", 0)], ["g", "v"])
    with pytest.raises(Exception, match="ddsketch"):
        sk.ddsketch_cells(bad, "v", group_cols=("g",)).collect()


def test_ddsketch_value_domain_guard_and_top_of_domain(spark):
    """Round-7 advice fix: the Q20 log2 chain overflows int64 above
    ~2^43, so (a) the whole supported domain [1, 2^42] produces
    positive, relative-error-bounded representatives (the split-shift
    rep form — the naive (word << k) >> 20 wrapped near the top), and
    (b) values beyond the domain raise IN-PLAN with a clear message
    instead of a silent wrap or an opaque ANSI overflow."""
    import pytest

    from e_commerce_lakehouse_spark.operators import sketches as sk

    vals = [1, 2**20 + 3, 2**41 - 12345, 2**42 - 1, 2**42]
    for v in vals:
        one = sk.ddsketch_quantiles(
            sk.ddsketch_cells(spark.createDataFrame([(v,)], "v long"), "v"), (50,)
        ).collect()[0].rep
        assert one > 0
        assert abs(one - v) / v <= 0.05, (v, one)

    bad = spark.createDataFrame([(2**43,)], "v long")
    with pytest.raises(Exception, match="ddsketch"):
        sk.ddsketch_cells(bad, "v").collect()


# --- theta / KMV ------------------------------------------------------------


def _seg_df(spark, segs: dict[str, range]):
    rows = [(s, k) for s, r in segs.items() for k in r]
    return spark.createDataFrame(rows, "seg string, key long")


def test_theta_exact_mode_below_k(spark):
    """<= k distinct keys: the sketch IS the exact distinct count and
    set ops are exact too (theta = DOMAIN, nothing truncated)."""
    df = _seg_df(spark, {"a": range(0, 40), "b": range(20, 70)})
    sk = sketches.theta_sketch(df, "key", "seg", k=64)
    got = {r.segment: r for r in sk.collect()}
    assert got["a"].est == 40.0 and got["a"].theta == sketches.THETA_DOMAIN
    assert got["b"].est == 50.0
    ops = {
        (r.seg_a, r.seg_b, r.set_op): r.est
        for r in sketches.theta_pair_ops(sk).collect()
    }
    assert ops[("a", "b", "intersect")] == 20.0
    assert ops[("a", "b", "union")] == 70.0
    assert ops[("a", "b", "a_not_b")] == 20.0


def test_theta_estimates_within_bounds_and_salt_independent(spark):
    """Estimation mode: KMV relative error is ~1/sqrt(k-2); at k=256
    over planted 3000/2000-key segments with 1000 shared, demand 15%
    on every op. The salt count must not change ANY output (it is a
    selection-plan knob, not a spec parameter)."""
    df = _seg_df(spark, {"a": range(0, 3000), "b": range(2000, 4000)})
    sk = sketches.theta_sketch(df, "key", "seg", k=256, salts=16)
    got = {r.segment: r for r in sk.collect()}
    assert abs(got["a"].est - 3000) <= 450
    assert abs(got["b"].est - 2000) <= 300
    ops = {
        (r.seg_a, r.seg_b, r.set_op): r.est
        for r in sketches.theta_pair_ops(sk).collect()
    }
    assert abs(ops[("a", "b", "union")] - 4000) <= 600
    assert abs(ops[("a", "b", "intersect")] - 1000) <= 300
    assert abs(ops[("a", "b", "a_not_b")] - 2000) <= 450
    sk2 = sketches.theta_sketch(
        df.repartition(13), "key", "seg", k=256, salts=5
    )
    a = sorted(tuple(r) for r in sk.collect())
    b = sorted(tuple(r) for r in sk2.collect())
    assert a == b


def test_theta_python_reference_parity(spark):
    """The Spark sketch equals a direct single-node KMV over the same
    md5 spec (hash set, theta, estimate)."""
    import hashlib as _h

    df = _seg_df(spark, {"a": range(0, 500)})
    k = 32
    hashes = sorted(
        int(_h.md5(f"theta:{v}".encode()).hexdigest()[:15], 16)
        for v in range(0, 500)
    )
    want_below = hashes[:k]
    want_theta = hashes[k]
    want_est = float(k) * (float(sketches.THETA_DOMAIN) / float(want_theta))
    r = sketches.theta_sketch(df, "key", "seg", k=k).collect()[0]
    assert list(r.below) == want_below
    assert r.theta == want_theta
    assert r.est == want_est
