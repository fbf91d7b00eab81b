"""Layout management (compaction, clustered writes) and deterministic
sampling invariants."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators import layout, sampling
from e_commerce_lakehouse_spark.sources import load_table
from tests.conftest import SF_SMALL


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="layout_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_compact_parquet(spark, tmpdir):
    path = f"{tmpdir}/frag"
    li = load_table(spark, SF_SMALL, "lineitem")
    li.repartition(24).write.parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 20
    # the rewrite plan must SHUFFLE to target_files (round-robin), not
    # coalesce: coalesce would cap the scan itself at target_files
    # tasks, reading a wide directory narrow
    frame = layout._compaction_frame(spark.read.parquet(path), 2)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan
    # the scan keeps its natural width (split-packing decides — here
    # the session's parallelism floor); only the post-shuffle write
    # side narrows to target_files
    assert spark.read.parquet(path).rdd.getNumPartitions() > 2
    n_after = layout.compact_parquet(spark, path, target_files=2)
    assert n_after == 2
    assert spark.read.parquet(path).count() == li.count()


def test_clustered_write_prunes(spark, tmpdir):
    path = f"{tmpdir}/clustered"
    orders = load_table(spark, SF_SMALL, "orders")
    layout.clustered_write(orders, path, ["o_orderdate"], num_files=6)
    got = spark.read.parquet(path)
    assert got.count() == orders.count()
    # each file covers a narrow o_orderdate range: per-file min/max spans
    # must be (mostly) disjoint — the data-skipping property
    import pyarrow.parquet as pq

    spans = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderdate"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    overlaps = sum(1 for a, b in zip(spans, spans[1:]) if a[1] > b[0])
    assert overlaps == 0, f"range files must not overlap: {spans}"


def test_deterministic_sample_stable_across_partitioning(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    s1 = {r["doc_id"] for r in sampling.deterministic_sample(docs, "doc_id", 20).collect()}
    s2 = {
        r["doc_id"]
        for r in sampling.deterministic_sample(docs.repartition(13), "doc_id", 20).collect()
    }
    assert s1 == s2  # membership independent of physical layout
    assert 0 < len(s1) < docs.count()


def test_train_test_split_disjoint_total(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    train, test = sampling.train_test_split(docs, "doc_id", test_pct=10)
    n_train, n_test, n = train.count(), test.count(), docs.count()
    assert n_train + n_test == n
    assert train.join(test, "doc_id", "inner").count() == 0
    assert 0 < n_test < n // 2


def test_stratified_rates_direction(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    sampled = sampling.stratified_sample(
        docs, "doc_id", "lang", rates={"en": 80}, default_pct=5
    )
    rates = {
        r["lang"]: r["kept"] / r["total"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("total"))
        .join(
            sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("kept")), "lang"
        )
        .collect()
    }
    assert rates["en"] > 0.5  # ~80%
    for lang, r in rates.items():
        if lang != "en":
            assert r < 0.3  # ~5%


def test_pack_sequences_invariants(spark):
    """Packing layout invariants per source stream: starts are a
    contiguous token stream (next start = prev start + prev len),
    offsets stay inside the window, span counts are exact."""
    docs = load_table(spark, SF_SMALL, "documents")
    ctx = 512
    rows = sampling.pack_sequences(docs, ctx_len=ctx).collect()
    assert len(rows) == docs.count()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for src, rs in by_source.items():
        rs.sort(key=lambda r: r.doc_id)
        t = 0
        for r in rs:
            assert r.bin_id == t // ctx and r.bin_offset == t % ctx, (src, r)
            expect_span = (r.bin_offset + r.n_tokens + ctx - 1) // ctx
            assert r.n_bins_spanned == expect_span
            assert r.n_tokens >= 1
            t += r.n_tokens


def test_pack_sequences_sharded_equals_single_stream(spark):
    """Forcing many shards (shard_size=7) must reproduce the exact
    same layout as one big shard — the two-level cumsum is an
    implementation of the single-stream semantics, not a variant."""
    docs = load_table(spark, SF_SMALL, "documents")
    one = {r.doc_id: r for r in sampling.pack_sequences(docs, 512, shard_size=10**9).collect()}
    many = {r.doc_id: r for r in sampling.pack_sequences(docs, 512, shard_size=7).collect()}
    assert one.keys() == many.keys()
    for k in one:
        a, b = one[k], many[k]
        assert (a.bin_id, a.bin_offset, a.n_bins_spanned) == (
            b.bin_id, b.bin_offset, b.n_bins_spanned), k


def test_source_cap_keeps_longest_n(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    capped = sampling.source_cap(docs, n=5).collect()
    by_src = {}
    for r in capped:
        by_src.setdefault(r.source, []).append(r)
    full = docs.collect()
    for src, rs in by_src.items():
        assert len(rs) <= 5
        assert sorted(r.rk for r in rs) == list(range(1, len(rs) + 1))
        # the survivors ARE the 5 longest (ties by smaller doc_id)
        pool = sorted(
            (r for r in full if r.source == src),
            key=lambda r: (-r.n_chars, r.doc_id),
        )[:5]
        assert {r.doc_id for r in rs} == {r.doc_id for r in pool}


def test_importance_sample_deterministic_and_monotone(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    a = {r.doc_id for r in sampling.importance_sample(docs).collect()}
    b = {r.doc_id for r in sampling.importance_sample(docs.repartition(13)).collect()}
    assert a == b  # pure function of the row, not the partitioning
    # EXACT membership: every doc survives iff its md5 bucket is below
    # its clamp(n_chars div 10, 10, 90) weight — recomputed in Python
    import hashlib

    expect = set()
    for r in docs.select("doc_id", "n_chars").collect():
        w = max(10, min(90, r.n_chars // 10))
        bucket = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16) % 100
        if bucket < w:
            expect.add(r.doc_id)
    assert a == expect


def test_mixture_rates_hand_computed(spark):
    """Three sources, 10 tokens each, weights 5/3/1: the weight-richest
    source keeps 100%, the rest scale proportionally (60 / 20)."""
    rows = [(i, "t " * 9 + "t", f"s{i % 3}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.source: r
        for r in sampling.mixture_rates(docs, {"s0": 5, "s1": 3}).collect()
    }
    assert got["s0"].rate_pct == 100 and got["s0"].weight == 5
    assert got["s1"].rate_pct == 60
    assert got["s2"].rate_pct == 20 and got["s2"].weight == 1
    assert all(got[s].n_docs == 10 and got[s].total_tokens == 100 for s in got)


def test_mixture_rates_feed_importance_sample(spark):
    """The advertised composition: join rate_pct on source and filter
    deterministically — kept share tracks the rate per source."""
    docs = load_table(spark, SF_SMALL, "documents")
    rates = sampling.mixture_rates(docs, {"src0": 5})
    joined = docs.join(F.broadcast(rates.select("source", "rate_pct")), "source")
    kept = sampling.importance_sample(joined, weight_pct=F.col("rate_pct"))
    per = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per.get("src0", 0) > 0  # 100%-rate source keeps everything
    n_src0 = docs.filter(F.col("source") == "src0").count()
    assert per["src0"] == n_src0


def test_chunk_documents_windows(spark):
    # 10 tokens, chunk 4 / overlap 2 (stride 2): starts 0,2,4,6 ->
    # ceil((10-4)/2)+1 = 4 chunks, all full
    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, "a b"), (3, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        sampling.chunk_documents(docs, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: (r.doc_id, r.chunk_no),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    assert [(r.chunk_no, r.start_tok, r.n_chunk_tokens) for r in d1] == [
        (0, 0, 4), (1, 2, 4), (2, 4, 4), (3, 6, 4)
    ]
    assert d1[1].chunk_text == "t2 t3 t4 t5"
    # every consecutive pair overlaps by exactly `overlap` tokens
    for a, b in zip(d1, d1[1:]):
        assert a.chunk_text.split(" ")[2:] == b.chunk_text.split(" ")[:2]
    # short doc -> single (short) chunk; NULL text -> no rows
    d2 = [r for r in rows if r.doc_id == 2]
    assert [(r.chunk_no, r.n_chunk_tokens, r.chunk_text) for r in d2] == [(0, 2, "a b")]
    assert not [r for r in rows if r.doc_id == 3]


def test_chunk_documents_ragged_tail(spark):
    # 7 tokens, chunk 4 / overlap 2: starts 0,2,4 -> last chunk short (3)
    docs = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    rows = sorted(
        sampling.chunk_documents(docs, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r.chunk_no,
    )
    assert [(r.start_tok, r.n_chunk_tokens) for r in rows] == [(0, 4), (2, 4), (4, 3)]
    # union of chunks covers the doc exactly (each chunk adds stride new tokens)
    assert rows[-1].chunk_text == "e f g"


def test_chunk_documents_validates_overlap(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_shuffle_positions_is_permutation_and_stable(spark):
    docs = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = sampling.shuffle_positions(docs, buckets=8)
    rows = {r.doc_id: r.shuffle_pos for r in a.collect()}
    # a 0..n-1 permutation
    assert sorted(rows.values()) == list(range(200))
    # not the identity (it actually shuffles)
    assert any(rows[i] != i for i in range(200))
    # partitioning- and bucket-count-independent: two-level ranks equal
    # the global hash order regardless of layout
    b = {
        r.doc_id: r.shuffle_pos
        for r in sampling.shuffle_positions(
            docs.repartition(7), buckets=32
        ).collect()
    }
    assert rows == b
    # seed changes the permutation
    c = {
        r.doc_id: r.shuffle_pos
        for r in sampling.shuffle_positions(docs, seed=1).collect()
    }
    assert rows != c and sorted(c.values()) == list(range(200))


def _dsir_ref(rows, target_max=25, B=256, k=50):
    """Pure-Python DSIR reference: same hash, same Laplace smoothing,
    same fixed-point signed log2, same top-k order."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def fx64(p: int, q: int) -> int:
        m = (p // q).bit_length() - 1
        x = (p << 20) // (q << m)
        frac = 0
        for _ in range(6):
            x = (x * x) >> 20
            bit = 1 if x >= (1 << 21) else 0
            if bit:
                x >>= 1
            frac = (frac << 1) | bit
        return m * 64 + frac

    def grams(text):
        t = text.split(" ")
        return t + [" ".join(t[i:i + 2]) for i in range(len(t) - 1)]

    tgt, raw = {}, []
    for doc_id, lang, source, text in rows:
        bs = [h60(g) % B for g in grams(text)]
        if doc_id < target_max:
            for b in bs:
                tgt[b] = tgt.get(b, 0) + 1
        else:
            raw.append((doc_id, lang, source, bs))
    rawc = {}
    for _, _, _, bs in raw:
        for b in bs:
            rawc[b] = rawc.get(b, 0) + 1
    tt, tr = sum(tgt.values()), sum(rawc.values())
    w = {}
    for b, cr in rawc.items():
        num = (tgt.get(b, 0) + 1) * (tr + B)
        den = (cr + 1) * (tt + B)
        w[b] = fx64(num, den) if num >= den else -fx64(den, num)
    scored = [
        (doc_id, lang, source, len(bs), sum(w[b] for b in bs))
        for doc_id, lang, source, bs in raw
    ]
    scored.sort(key=lambda r: (-r[4], r[0]))
    return scored[:k]


def test_dsir_matches_reference_and_prefers_target_like_docs(spark):
    """dsir_select == the independent integer reference on a planted
    corpus, and docs written in the target's vocabulary outrank
    off-topic docs (the selection signal actually points at the
    target distribution)."""
    rows = (
        # target: "spark" corpus
        [(i, "en", "tgt", "spark shuffle partition broadcast join spark plan")
         for i in range(5)]
        # raw: 3 on-topic, 3 off-topic
        + [(30, "en", "raw", "spark join plan with broadcast shuffle"),
           (31, "en", "raw", "partition the spark plan and join"),
           (32, "en", "raw", "broadcast shuffle spark spark join"),
           (40, "en", "raw", "cats purr softly near warm windows"),
           (41, "en", "raw", "bread rises slowly in cold ovens"),
           (42, "en", "raw", "violet dusk settles over quiet hills")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    got = [
        (r.doc_id, r.lang, r.source, r.n_grams, r.weight_x64, r.rk)
        for r in sampling.dsir_select(docs).orderBy("rk").collect()
    ]
    ref = _dsir_ref(rows)
    assert [(g[:5]) for g in got] == [tuple(r) for r in ref]
    assert [g[5] for g in got] == list(range(1, len(ref) + 1))
    ranks = {doc_id: rk for doc_id, _, _, _, _, rk in got}
    assert max(ranks[d] for d in (30, 31, 32)) < min(ranks[d] for d in (40, 41, 42))
    # partitioning-independent (deterministic across cluster widths)
    again = [
        (r.doc_id, r.weight_x64)
        for r in sampling.dsir_select(docs.repartition(7)).orderBy("rk").collect()
    ]
    assert again == [(g[0], g[4]) for g in got]


def _morton_ref(vals, bits):
    out = 0
    n = len(vals)
    for i, v in enumerate(vals):
        for b in range(bits):
            out |= ((v >> b) & 1) << (b * n + i)
    return out


def test_zorder_key_matches_reference(spark):
    cases = [(0, 0), (1, 0), (0, 1), (5, 3), (2**20, 2**21 - 1), (123456, 654321)]
    df = spark.createDataFrame(cases, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", layout.zorder_key(["x", "y"])).collect()
    }
    for x, y in cases:
        assert got[(x, y)] == _morton_ref([x, y], 21), (x, y)
    # 3-D and argument validation
    d3 = spark.createDataFrame([(3, 5, 7)], "a long, b long, c long")
    assert d3.withColumn("z", layout.zorder_key(["a", "b", "c"])).first().z == _morton_ref([3, 5, 7], 21)
    with pytest.raises(ValueError):
        layout.zorder_key(["a"])
    with pytest.raises(ValueError):
        layout.zorder_key(["a", "b"], bits=32)


def test_zorder_write_bounds_every_dimension(spark, tmpdir):
    """Z-order vs single-column clustering on a 2-D grid: the linear
    sort leaves the second dimension unclustered (every file spans the
    full y range); the z-order layout bounds BOTH dimensions, so a 2-D
    box predicate touches strictly fewer files."""
    import random

    rng = random.Random(7)
    rows = [(x, y) for x in range(100) for y in range(100)]
    rng.shuffle(rows)
    # 64 files so the two layouts separate decisively: a linear x-sort
    # file spans ~1.6 columns (a 10-wide box overlaps ~7 of them, all
    # full-height), while a Morton segment of 156 cells sits in a
    # ~12-16 cell-wide quadrant region (box overlaps ~4). At 16 files
    # the margins are close enough that an unlucky equal-count range
    # cut (sampling seed varies with RDD id) can tie — observed flaky.
    df = spark.createDataFrame(rows, "x long, y long").repartition(8)
    zpath, lpath = f"{tmpdir}/zorder", f"{tmpdir}/linear"
    layout.zorder_write(df, zpath, ["x", "y"], num_files=64)
    layout.clustered_write(df, lpath, ["x"], num_files=64)

    from tests.conftest import file_spans

    # linear layout: y is unclustered — files span (nearly) all of y
    assert min(file_spans(lpath, "y")) > 90
    # z-order: the TYPICAL file's bounding box is narrow in BOTH
    # dimensions (range cuts that straddle a quadrant boundary can
    # leave a few wide boundary files — inherent to cutting the Morton
    # curve into equal-count segments, so assert the median, and that
    # wide files are the exception)
    for dim in ("x", "y"):
        spans = sorted(file_spans(zpath, dim))
        assert spans[len(spans) // 2] <= 32, (dim, spans)
        assert sum(1 for s in spans if s > 50) <= 4, (dim, spans)
    # the payoff: a 2-D box query touches fewer files (footer pruning
    # proxy: files that actually CONTAIN matching rows)
    box = "x BETWEEN 10 AND 19 AND y BETWEEN 70 AND 79"
    touched = {
        p: spark.read.parquet(p).filter(box)
            .select(F.input_file_name()).distinct().count()
        for p in (zpath, lpath)
    }
    assert touched[zpath] < touched[lpath], touched
    # and the rewrite is lossless
    assert spark.read.parquet(zpath).count() == 10000


def test_zorder_layout_guards(spark, tmpdir):
    """Review-fix gates: non-integral clustering columns are rejected
    up front (a silent NULL-rank layout would commit garbage); one
    column degenerates to the plain range-clustered layout; a value
    span past the affine multiply's int64 headroom raises IN-PLAN
    instead of wrapping."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "x long, s string, y long"
    )
    with pytest.raises(ValueError, match="integral"):
        layout.zorder_layout(df, ["x", "s"])
    with pytest.raises(ValueError, match="1-3"):
        layout.zorder_layout(df, [])
    # single column: valid layout, rows preserved
    out = layout.zorder_layout(df.select("x", "y"), ["x"], num_files=2)
    assert sorted((r.x, r.y) for r in out.collect()) == [(1, 10), (2, 20)]
    # span overflow: two longs 2^50 apart at bits=21 exceed headroom
    wide = spark.createDataFrame(
        [(0, 0), (1 << 50, 1)], "x long, y long"
    )
    with pytest.raises(Exception, match="headroom"):
        layout.zorder_layout(wide, ["x", "y"]).collect()
    # and the same data lays out fine at a narrower bit depth
    ok = layout.zorder_layout(wide, ["x", "y"], bits=12)
    assert ok.count() == 2


def _ref_priority_costs(keys_weights, seed=7):
    """Single-node mirror of priority_sample's race arithmetic:
    40-bit md5 draw, independent fixed-point log2 (pure-Python float
    mantissa walk is NOT used — we recompute the documented chain:
    integer part via bit_length, 6 bisection bits on a Q20 mantissa),
    cost = (2560 - fl)*PREC // w."""
    import hashlib

    from e_commerce_lakehouse_spark.operators.sampling import PRIORITY_PREC

    out = {}
    for k, w in keys_weights:
        h = int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:10], 16)
        p = h + 1
        m = p.bit_length() - 1
        x = (p * (1 << 20)) // (1 << m)
        fl = m * 64
        add = 32
        for _ in range(6):
            x = (x * x) >> 20
            if x >= (1 << 21):
                fl += add
                x >>= 1
            add //= 2
        out[k] = ((2560 - fl) * PRIORITY_PREC) // w
    return out


def test_priority_sample_matches_reference_and_guards(spark):
    from e_commerce_lakehouse_spark.operators import sampling as smp

    rows = [(i, 10 + (i * 37) % 500) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = smp.priority_sample(df, "doc_id", "w", n=20).collect()
    ref_costs = _ref_priority_costs(rows)
    want = sorted(rows, key=lambda t: (ref_costs[t[0]], t[0]))[:20]
    assert [(r.doc_id, r.weight) for r in sorted(got, key=lambda r: r.rk)] == want
    for r in got:
        assert r.cost_x == ref_costs[r.doc_id]
    # weight-proportional inclusion: winners are heavier on average
    import statistics

    assert statistics.mean(r.weight for r in got) > statistics.mean(
        w for _, w in rows
    )
    # nonpositive weights fail loudly in-plan
    bad = spark.createDataFrame([(1, 0)], "doc_id long, w long")
    with pytest.raises(Exception, match="weight must be > 0"):
        smp.priority_sample(bad, "doc_id", "w", n=5).collect()


def test_group_split_purity_and_stability(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    out = sampling.group_split(docs, "source", {"train": 80, "val": 10, "test": 10})
    assert out.count() == docs.count()  # pure assignment, no rows lost
    # leakage safety: every group lives in exactly one split
    per_group = out.groupBy("source").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.filter(F.col("n_splits") != 1).count() == 0
    # row-keyed split CAN split a group (what group_split exists to fix)
    # membership is stable under appends/subsets: recompute on half the
    # corpus, same groups get the same split
    half = sampling.group_split(
        docs.filter(F.col("doc_id") % 2 == 0),
        "source",
        {"train": 80, "val": 10, "test": 10},
    )
    a = {r.source: r.split for r in out.select("source", "split").distinct().collect()}
    b = {r.source: r.split for r in half.select("source", "split").distinct().collect()}
    assert all(a[s] == v for s, v in b.items())
    with pytest.raises(ValueError, match="sum to 100"):
        sampling.group_split(docs, "source", {"train": 90, "val": 5})


def test_token_budget_select_matches_single_window(spark):
    """Banded two-level cumsum == brute-force global window, and the
    selection is the maximal best-first prefix within budget."""
    docs = load_table(spark, SF_SMALL, "documents")
    budget = 60_000
    got = sampling.token_budget_select(
        docs, budget=budget, score_col="n_chars", token_col="n_chars"
    )
    rows = {r.doc_id: r.cum_tokens for r in got.collect()}
    ordered = sorted(
        docs.select("doc_id", "n_chars").collect(),
        key=lambda r: (-r.n_chars, r.doc_id),
    )
    cum, expect = 0, {}
    for r in ordered:
        cum += r.n_chars
        if cum > budget:
            break
        expect[r.doc_id] = cum
    assert rows == expect
    assert max(rows.values()) <= budget
    with pytest.raises(ValueError, match="budget"):
        sampling.token_budget_select(docs, 0, "n_chars", "n_chars")
    with pytest.raises(ValueError, match="band_width"):
        sampling.token_budget_select(docs, 1, "n_chars", "n_chars", band_width=0)


def test_token_budget_no_corpus_single_partition(spark):
    """Same discipline as shuffle_positions: the only SinglePartition
    exchange feeds the tiny per-band totals frame; the corpus cumsum
    window partitions by band."""
    docs = load_table(spark, SF_SMALL, "documents")
    out = sampling.token_budget_select(docs, 60_000, "n_chars", "n_chars")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(_b" in plan


def test_pack_documents_ffd_invariants(spark):
    """No bin overflows, every doc appears once whole, bins are dense,
    fills are consistent, and the hand example matches textbook FFD."""
    docs = load_table(spark, SF_SMALL, "documents")
    ctx = 600
    out = sampling.pack_documents_ffd(docs, ctx_len=ctx)
    rows = out.collect()
    assert len(rows) == docs.count()
    per_bin = {}
    for r in rows:
        per_bin.setdefault((r.source, r.bin_id), []).append(r)
    for (_, _), rs in per_bin.items():
        total = sum(r.n_tokens for r in rs)
        assert total <= ctx
        assert all(r.bin_fill == total for r in rs)
    for src in {r.source for r in rows}:
        bins = sorted({r.bin_id for r in rows if r.source == src})
        assert bins == list(range(len(bins)))  # dense, 0-based

    # textbook FFD: sizes 7,6,3,2,2 into cap 10 -> [7,3] [6,2,2]
    hand = spark.createDataFrame(
        [(i, "s", "w " * n) for i, n in enumerate([7, 6, 3, 2, 2])],
        "doc_id long, source string, text string",
    ).withColumn("text", F.rtrim("text"))
    got = {
        r.doc_id: r.bin_id
        for r in sampling.pack_documents_ffd(hand, ctx_len=10).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0, 3: 1, 4: 1}

    # an unpackable doc fails loudly
    import pyspark.errors as PE

    big = spark.createDataFrame(
        [(1, "s", "w " * 50)], "doc_id long, source string, text string"
    )
    with pytest.raises(PE.PySparkException, match="ctx_len"):
        sampling.pack_documents_ffd(big, ctx_len=10).collect()


def test_group_split_null_group_goes_to_last_split(spark):
    """Review fix: a NULL group quarantines in the LAST split (mirrors
    the oracle's CASE ELSE), never a silent NULL assignment."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "s")], "doc_id long, source string"
    )
    out = {
        r.doc_id: (r.split, r.split_bucket)
        for r in sampling.group_split(
            df, "source", {"train": 80, "val": 10, "test": 10}
        ).collect()
    }
    assert out[1] == ("test", None) and out[2] == ("test", None)
    assert out[3][0] in ("train", "val", "test") and out[3][1] is not None


def test_temperature_rates_alpha_half(spark):
    """alpha=0.5 sampling: the smallest source keeps 100%, kept-token
    shares tend to sqrt(t); alpha != 0.5 rejected loudly."""
    import pytest as _pytest

    from e_commerce_lakehouse_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "s_big", "w " * 99) for i in range(100)]
        + [(1000 + i, "s_small", "w " * 99) for i in range(4)],
        "doc_id long, source string, text string",
    ).selectExpr("doc_id", "source", "trim(text) AS text")
    got = {r.source: r for r in sampling.temperature_rates(docs).collect()}
    assert got["s_small"].rate_pct == 100
    # t_big = 25*t_small -> rate = floor(100/sqrt(25)) = 20
    assert got["s_big"].rate_pct == 20
    # realized token shares ∝ sqrt(t): big/small = sqrt(25) = 5
    kept_big = got["s_big"].total_tokens * got["s_big"].rate_pct
    kept_small = got["s_small"].total_tokens * got["s_small"].rate_pct
    assert round(kept_big / kept_small) == 5
    with _pytest.raises(ValueError, match="alpha=0.5"):
        sampling.temperature_rates(docs, alpha=0.3)


def test_dsir_caller_owned_feature_frame_is_identical(spark):
    """The ``docb`` override (the session-cache hook q34 uses) must be
    result-identical to the internally-materialized path — same rows,
    same exact-integer weights, same ranks."""
    from e_commerce_lakehouse_spark.operators import sampling

    rows = (
        [(i, "en", "tgt", "spark shuffle partition broadcast join spark plan")
         for i in range(5)]
        + [(30, "en", "raw", "spark join plan with broadcast shuffle"),
           (31, "en", "raw", "partition the spark plan and join"),
           (40, "en", "raw", "cats purr softly near warm windows"),
           (41, "en", "raw", "bread rises slowly in cold ovens")]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    internal = [
        tuple(r)
        for r in sampling.dsir_select(docs).orderBy("rk").collect()
    ]
    docb = sampling.dsir_doc_buckets_frame(docs).localCheckpoint()
    external = [
        tuple(r)
        for r in sampling.dsir_select(
            docs, docb=docb, docb_n_buckets=256
        ).orderBy("rk").collect()
    ]
    assert external == internal
    # the bucket-count coupling is enforced (round-12 ADVICE): an
    # undeclared or mismatched count raises instead of silently
    # skewing the Laplace smoothing terms
    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires docb_n_buckets"):
        sampling.dsir_select(docs, docb=docb)
    with _pytest.raises(ValueError, match="n_buckets=128"):
        sampling.dsir_select(docs, docb=docb, docb_n_buckets=128)
    # a bucket count without a docb frame describes nothing: refused
    with _pytest.raises(ValueError, match="without docb"):
        sampling.dsir_select(docs, docb_n_buckets=256)
