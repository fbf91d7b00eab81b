"""Deterministic integer sketches (engine extension).

Count-min sketch per Cormode & Muthukrishnan 2005 ("An improved data
stream summary: the count-min sketch and its applications") — the
heavy-hitter / frequency-estimation primitive for streams and
multi-pass-averse pipelines. Unlike the engine-specific HLL/KLL
sketches (q33's tolerance-gated branch), CMS is a PURE function of
the hash spec: every cell is an exact integer sum over md5-derived
positions, so estimates are bit-reproducible across engines and the
DuckDB oracle gates them exactly (including the one-sided overcount
error the sketch is defined by).

Scale shape: the build is ONE groupBy over depth x width cell keys —
partial aggregation collapses each task's contribution to at most
depth*width rows regardless of input size, and the final sketch is a
few-KB frame (broadcastable artifact). Estimation broadcasts the
cells onto the query keys. No driver-side counting anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _md5_hash64


def countmin_cells(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build the sketch: (row_idx, col_idx, c) cell counts, one row
    per NON-EMPTY cell (at most depth*width). Each input row
    increments one cell per hash row.

    Batch input: rows pre-aggregate to per-KEY weights first (a
    partial-agg groupBy on the key), and only the distinct keys pay
    the depth md5 hashes + explode — hashing work scales with
    |distinct keys|, not |rows| (q33's lineitem branch: 80k md5 calls
    instead of 9.6M at sf0.1). Identical cells by construction; when
    the key cardinality itself is huge the key groupBy still
    partial-aggs map-side and the cell groupBy stays bounded by
    depth*width.

    Streaming input (``df.isStreaming``): the direct one-level cell
    groupBy — a SINGLE stateful aggregation with state bounded by
    depth*width rows regardless of stream length (two chained
    stateful aggs would trip Spark's streaming correctness check).
    Cells are identical either way."""
    pos = F.array(
        *[
            F.struct(
                F.lit(i).alias("row_idx"),
                (_md5_hash64(F.col(key_col).cast("string"), f"cms{i}") % width).alias(
                    "col_idx"
                ),
            )
            for i in range(depth)
        ]
    )
    if df.isStreaming:
        keyed = df.select(F.col(key_col), F.lit(1).cast("long").alias("_w"))
    else:
        keyed = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_w"))
    return (
        keyed.select(F.explode(pos).alias("s"), "_w")
        .groupBy(F.col("s.row_idx").alias("row_idx"), F.col("s.col_idx").alias("col_idx"))
        .agg(F.sum("_w").alias("c"))
    )


def countmin_merge(cells: DataFrame, *more: DataFrame) -> DataFrame:
    """Union CMS sketches built over disjoint (or overlapping — counts
    add) row sets: cell-wise SUM is the lossless CMS merge, exactly the
    cell table the direct build over the unioned input produces (sums
    are associative; absent cells are the identity). The per-partition/
    per-day sketch algebra a 100 TB deployment runs: build small
    sketches close to the data, merge depth·width-bounded tables."""
    out = cells
    for m in more:
        out = out.unionByName(m)
    return out.groupBy("row_idx", "col_idx").agg(F.sum("c").alias("c"))


def countmin_estimate(
    cells: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each key row: est = min over hash
    rows of the key's cell count (0 for a never-touched cell — keys
    absent from the build). The cells frame BROADCASTS onto the keys
    (it is bounded by depth*width); output = keys + ``cms_est``.
    Guaranteed one-sided: cms_est >= the key's true count."""
    ex = keys.select(
        "*",
        F.posexplode(
            F.array(
                *[
                    (_md5_hash64(F.col(key_col).cast("string"), f"cms{i}") % width)
                    for i in range(depth)
                ]
            )
        ).alias("row_idx", "col_idx"),
    )
    joined = ex.join(F.broadcast(cells), ["row_idx", "col_idx"], "left")
    return (
        joined.groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog, from scratch and ENGINE-EXACT (Flajolet et al. 2007).
# Spark's approx_count_distinct and DuckDB's approx estimator are
# different implementations, so q33 gates the built-in sketch only by
# an in-row tolerance flag. This HLL is a pure function of the md5
# spec with an all-integer estimator ladder, so the ESTIMATE ITSELF
# hash-gates exactly: m=64 registers (h mod m), register value =
# leading-zero rank of the remaining 54 hash bits capped at
# RANK_CAP=40 (the cap binds only beyond ~m*2^40 ~ 7e13 distinct
# keys — documented bound, far past the 100 TB key space), raw
# estimate alpha*m^2/sum(2^-M_j) computed as the integer
# (709*m^2*2^Rm) div sum(2^(Rm-M_j)), and the small-range linear
# counting m*ln(m/V) rendered through the repo's fixed-point log2
# chain (operators/search.py) times an integer ln2 scale — no libm
# log anywhere, so both engines produce the identical estimate.
# ---------------------------------------------------------------------------

HLL_M = 64  # registers (p = 6)
HLL_ALPHA_X1000 = 709  # Flajolet alpha_64 * 1000
HLL_RANK_CAP = 40
LN2_X1E6 = 693147  # floor(ln 2 * 1e6) — shared integer spec


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group SPARSE register table (group_cols..., idx, mj) — THE
    mergeable HLL sketch state (absent idx ⇒ register 0). This is what
    a 100 TB deployment persists per partition/day: register max is
    the lossless HLL union, so sketches built independently merge
    without touching raw data (:func:`hll_merge_registers`)."""
    m = HLL_M
    h = _md5_hash64(F.col(key_col).cast("string"), "hll")
    keyed = df.select(*group_cols, h.alias("_h")).select(
        *group_cols,
        (F.col("_h") % m).alias("idx"),
        F.least(
            F.lit(55) - F.length(F.bin(F.expr(f"_h div {m}"))),
            F.lit(HLL_RANK_CAP),
        ).alias("rank"),
    )
    return keyed.groupBy(*group_cols, "idx").agg(F.max("rank").alias("mj"))


def hll_merge_registers(
    registers: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Union sub-sketches by dropping their finer grouping columns:
    max per surviving (group, idx) is exactly the register table the
    direct build over the union would produce (max is associative and
    absent registers are the identity), so the downstream estimate is
    bit-identical — the property q33's 'hll_merge' row hash-gates."""
    return registers.groupBy(*group_cols, "idx").agg(F.max("mj").alias("mj"))


def hll_estimate(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group HLL distinct estimate: (group_cols..., hll_x1000,
    hll_empty_regs). One register groupBy (m rows per group cross
    the cluster), a tiny grid join to materialize empty registers,
    and the integer estimator ladder — every step exact, so the
    DuckDB oracle reproduces the estimate bit-for-bit."""
    return hll_estimate_from_registers(
        hll_registers(df, key_col, group_cols), group_cols
    )


def hll_estimate_from_registers(
    maxes: DataFrame, group_cols: list[str]
) -> DataFrame:
    """The integer estimator ladder over a (sparse) register table —
    the second half of :func:`hll_estimate`, exposed so merged
    sketches (:func:`hll_merge_registers`) estimate through the
    identical arithmetic."""
    from .search import with_fixed_log2_x64

    m = HLL_M
    # ONE aggregation + pure array expressions: the sparse register
    # rows collapse to a per-group idx->mj map, densified to the full
    # m-slot register vector with transform(sequence(...)) (absent idx
    # => register 0). rm / v / n are then array folds over that vector
    # — bit-identical to the former groups x range(m) grid join, which
    # cost a distinct, a crossJoin, two joins and two more groupBys of
    # metadata-sized frames (4 extra exchanges / ~6 extra stages on
    # every estimate; same savings on a 100 TB cluster where each of
    # those stages is a scheduling round-trip on a tiny frame).
    per = maxes.groupBy(*group_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "mj"))).alias("_regs")
    )
    per = per.withColumn(
        "_full",
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda i: F.coalesce(
                F.element_at("_regs", i.cast("int")), F.lit(0)
            ).cast("long"),
        ),
    )
    agg = (
        per.withColumn("rm", F.array_max("_full"))
        .withColumn(
            "n",
            F.aggregate(
                "_full",
                F.lit(0).cast("long"),
                lambda acc, mj: acc
                + F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.col("rm") - mj).cast("int"),
                ),
            ),
        )
        .withColumn(
            "v", F.size(F.filter("_full", lambda mj: mj == 0)).cast("long")
        )
        .withColumn(
            "raw_x1000",
            F.expr(
                f"(CAST({HLL_ALPHA_X1000 * m * m} AS BIGINT)"
                " * shiftleft(CAST(1 AS BIGINT), CAST(rm AS INT))) div n"
            ),
        )
        .withColumn("hm", F.lit(m).cast("long"))
        .withColumn("hv", F.greatest(F.col("v"), F.lit(1)).cast("long"))
    )
    agg = with_fixed_log2_x64(agg, "hm", "hv", "fl")
    return agg.select(
        *group_cols,
        F.when(
            (F.col("v") > 0) & (F.col("raw_x1000") <= F.lit(2500 * m)),
            F.expr(f"(hm * fl * {LN2_X1E6}) div {64 * 1000}"),
        )
        .otherwise(F.col("raw_x1000"))
        .alias("hll_x1000"),
        F.col("v").alias("hll_empty_regs"),
    )


# ---------------------------------------------------------------------------
# DDSketch-style log-bucket quantile sketch (Masson, Rim & Lee, VLDB
# 2019, "DDSketch: a fast and fully-mergeable quantile sketch with
# relative-error guarantees") — base-2 variant: gamma = 2^(s/64), so
# the bucket index is a pure function of the engine's shared
# fixed-point floor-log2 chain and both engines agree bit-for-bit.
# ---------------------------------------------------------------------------

# 2^(r/64) in Q20 fixed point for r = 0..63 — the ONE table both the
# Spark expression and the DuckDB oracle render their bucket
# representatives from (same single-spec discipline as the NDCG
# discount constants). Generated once at import from Python doubles;
# determinism comes from both sides sharing THIS list, not from the
# float math.
POW2_64TH_X20 = [int(2 ** (r / 64) * (1 << 20)) for r in range(64)]


def _dd_rep_expr(bucket, s: int):
    """Integer representative (geometric mid) of bucket b: value units,
    rep = (POW2_64TH_X20[e mod 64] * 2^(e div 64)) >> 20 with
    e = b*s + s div 2. Pure Column math. The shift is split around the
    Q20 point so it never wraps: for k = e div 64 >= 20 the rep is
    word << (k-20) — exact, and < 2^63 for every int64 input (word <
    2^21, k <= 62) — while the naive (word << k) >> 20 form wraps at
    values >= ~2^43. For k < 20 both forms truncate identically."""
    e = bucket * s + s // 2
    tbl = F.array(*[F.lit(v).cast("long") for v in POW2_64TH_X20])
    word = F.element_at(tbl, (e % 64).cast("int") + 1)
    # e is small (<= 64·bit_length(value)), so float division is exact
    k = F.floor(e / 64).cast("int")
    return F.when(
        k >= 20, F.call_function("shiftleft", word, k - F.lit(20))
    ).otherwise(F.call_function("shiftright", word, F.lit(20) - k))


def ddsketch_cells(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    s: int = 4,
) -> DataFrame:
    """Build the sketch: one (group..., bucket) -> cnt frame with
    bucket = fl_x64(value) div s (fl_x64 = the shared 64·log2 chain).
    s=4 means gamma = 2^(4/64) ~ 1.0443 — ~2.2% max relative error at
    the geometric-mid representative, ~370 buckets across the whole
    int64 range, so the sketch is a few-KB artifact per group at ANY
    input size and the build is ONE partial-aggregated groupBy (the
    same scale shape as the CMS build above).

    Values must be in [1, 2^42] (integer cents, counts,
    latencies-in-micros…): the shared Q20 fixed-point log2 chain
    multiplies the value by 2^20, so anything above ~2^43 would
    overflow int64 mid-chain — the guard raises IN-PLAN, inside the
    chain input the aggregation consumes, so it cannot be pruned.
    2^42 cents is ~$44B per single value; re-scale units upstream if
    the domain is genuinely larger. DDSketch's separate zero/negative
    stores are out of scope — quantize upstream.
    """
    from .search import with_fixed_log2_x64

    guarded = F.when(
        (F.col(value_col) >= 1) & (F.col(value_col) <= F.lit(2**42)),
        F.col(value_col).cast("long"),
    ).otherwise(
        F.expr(
            "CAST(raise_error('ddsketch: values must be in [1, 2^42]"
            " (Q20 log2 chain int64 domain)') AS BIGINT)"
        )
    )
    base = df.select(*group_cols, guarded.alias("_ddv"))
    base = with_fixed_log2_x64(base, "_ddv", "1", "_fl")
    return (
        base.select(*group_cols, F.expr(f"_fl div {int(s)}").alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ddsketch_merge(cells: DataFrame, *more: DataFrame) -> DataFrame:
    """Lossless sketch union (same (group_cols, s) spec): bucket counts
    add. merge(sketch(A), sketch(B)) == sketch(A ∪ B) EXACTLY — the
    mergeability DDSketch is built for (map-side partial sketches,
    cross-shard rollups, snapshot compaction)."""
    out = cells
    for m in more:
        out = out.unionByName(m)
    group = [c for c in cells.columns if c not in ("cnt",)]
    return out.groupBy(*group).agg(F.sum("cnt").alias("cnt"))


def ddsketch_quantiles(
    cells: DataFrame,
    q_pcts: tuple[int, ...] = (50, 95, 99),
    group_cols: tuple[str, ...] = (),
    s: int = 4,
) -> DataFrame:
    """Quantile estimates from a cell frame: nearest-rank — the
    smallest bucket whose cumulative count reaches
    rank_q = ceil(N·q/100) = (N·q + 99) div 100 — then the exact
    integer geometric-mid representative of that bucket.

    Shape: the cell frame is tiny (<= ~370 rows per group), so the
    cumulative window and the per-(group, q) argmin are sketch-side
    work — the raw data was left behind at build time. Returns
    (group..., q_pct, bucket, rep) with rep in the value's own units.
    """
    gc = list(group_cols)
    w = (
        Window.partitionBy(*gc).orderBy("bucket")
        if gc
        else Window.partitionBy(F.lit(1)).orderBy("bucket")
    )
    cum = cells.withColumn("cum", F.sum("cnt").over(w))
    tot = cells.groupBy(*gc).agg(F.sum("cnt").alias("n"))
    qf = tot.select(
        *gc,
        "n",
        F.explode(F.array(*[F.lit(int(q)) for q in q_pcts])).alias("q_pct"),
    )
    pick = (
        cum.join(qf, gc)
        if gc
        else cum.crossJoin(F.broadcast(qf))
    )
    hit = pick.filter(F.col("cum") >= F.expr("(n * q_pct + 99) div 100"))
    agg = hit.groupBy(*gc, "q_pct").agg(F.min("bucket").alias("bucket"))
    return agg.select(
        *gc, "q_pct", "bucket", _dd_rep_expr(F.col("bucket"), int(s)).alias("rep")
    )


# ---------------------------------------------------------------------------
# Theta / KMV sketches (Beyer et al. 2007 "On Synopses for Distinct-Value
# Estimation"; the Apache DataSketches theta family): per-segment k-minimum-
# value sketches over a key column, with UNION / INTERSECTION / A-NOT-B
# estimates across segments — the audience-overlap algebra ("how many users
# both clicked and purchased?") that plain distinct-counting cannot answer
# from merged aggregates. Like the CMS/HLL/Bloom family here, the sketch is
# a pure function of the md5 hash spec, so every estimate (errors included)
# hash-gates EXACTLY against an oracle that replays the same construction.
# ---------------------------------------------------------------------------

#: _md5_hash64 takes the first 15 hex digits: domain [0, 16^15) = [0, 2^60).
THETA_DOMAIN = 1 << 60


def theta_sketch(
    df: DataFrame,
    key_col: str,
    segment_col: str,
    k: int = 64,
    salts: int = 16,
) -> DataFrame:
    """Per-segment KMV sketch: ``(segment, below, theta, n_below,
    est)`` where ``below`` is the sorted retained hash set strictly
    under ``theta``.

    Spec (deterministic, engine-portable): hash every distinct
    (segment, key) with the shared md5 spec; keep the k+1 smallest
    per segment. With at most k distinct keys the sketch is EXACT
    (theta = DOMAIN, below = all hashes, est = count). Otherwise
    theta = the (k+1)-th smallest hash and est = k * DOMAIN / theta
    (the (k+1)-th-order-statistic estimator), computed as one
    fixed-order double expression from exact integers.

    100 TB shape: the only corpus-wide shuffle is the distinct on
    (segment, hash) — uniform keys, map-side combinable. The k+1
    selection never sorts a whole segment: a first window inside
    (segment, hash % salts) salt buckets cuts each segment to at most
    salts*(k+1) candidates, and only those reach the per-segment
    window. The result is <= k+1 longs per segment — a mergeable,
    few-KB artifact."""
    h = _md5_hash64(F.col(key_col).cast("string"), "theta")
    d = (
        df.select(F.col(segment_col).alias("segment"), h.alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    w1 = Window.partitionBy("segment", F.col("h") % salts).orderBy("h")
    cand = (
        d.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k + 1)
        .drop("rn")
    )
    w2 = Window.partitionBy("segment").orderBy("h")
    sk = cand.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= k + 1
    )
    agg = sk.groupBy("segment").agg(
        F.max("rn").alias("_n"),
        F.sort_array(
            F.collect_list(F.when(F.col("rn") <= k, F.col("h")))
        ).alias("below"),
        F.max(F.when(F.col("rn") == k + 1, F.col("h"))).alias("_kp1"),
    )
    theta = F.coalesce(F.col("_kp1"), F.lit(THETA_DOMAIN)).alias("theta")
    est = (
        F.when(
            F.col("_kp1").isNull(), F.col("_n").cast("double")
        ).otherwise(
            F.lit(float(k))
            * (F.lit(float(THETA_DOMAIN)) / F.col("_kp1").cast("double"))
        )
    ).alias("est")
    return agg.select(
        "segment",
        "below",
        theta,
        F.size("below").cast("long").alias("n_below"),
        est,
    )


def theta_pair_ops(sketches: DataFrame) -> DataFrame:
    """All-pairs set-operation estimates between segment sketches:
    one row per (seg_a < seg_b, op) with op in union / intersect /
    a_not_b. Working under theta_m = min(theta_a, theta_b), the
    retained sets are re-filtered to hashes < theta_m and the
    estimate is |result set| * DOMAIN / theta_m — the standard theta
    set-algebra estimators. Results are ESTIMATES, not re-compactable
    sketches (no truncation back to k — document before chaining).
    The sketch frame is segments x (k+1) longs — the pair join is
    driver-trivial and broadcastable at any corpus size."""
    a = sketches.select(
        F.col("segment").alias("seg_a"),
        F.col("below").alias("ba"),
        F.col("theta").alias("ta"),
    )
    b = sketches.select(
        F.col("segment").alias("seg_b"),
        F.col("below").alias("bb"),
        F.col("theta").alias("tb"),
    )
    pairs = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b"))
    tm = F.least("ta", "tb")
    fa = F.filter("ba", lambda x: x < tm)
    fb = F.filter("bb", lambda x: x < tm)
    ops = [
        ("union", F.size(F.array_distinct(F.concat(fa, fb)))),
        ("intersect", F.size(F.array_intersect(fa, fb))),
        ("a_not_b", F.size(F.array_except(fa, fb))),
    ]
    out = None
    for name, cnt in ops:
        est = F.when(
            tm == THETA_DOMAIN, cnt.cast("double")
        ).otherwise(
            cnt.cast("double") * (F.lit(float(THETA_DOMAIN)) / tm.cast("double"))
        )
        row = pairs.select(
            "seg_a",
            "seg_b",
            F.lit(name).alias("set_op"),
            cnt.cast("long").alias("n_retained"),
            tm.alias("theta"),
            est.alias("est"),
        )
        out = row if out is None else out.unionByName(row)
    return out
