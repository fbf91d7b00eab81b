"""Similarity search over embedding columns (array<float>).

Two tiers:
  - brute-force cosine top-k: exact baseline, O(Q·N) — fine when the
    query set is bounded (probe queries, eval sets).
  - LSH-bucketed (random hyperplane sign) variant: the 100 TB scale
    path — candidates only within matching sign-sketch buckets.

Determinism: embeddings are quantized to integer micro-units
(floor(x·1e6 + 0.5)) before any arithmetic, so dot products and norms
are exact BIGINTs; the final cosine is one fixed-order double
expression — bit-identical across engines, shuffle orders, and reruns.

Vector math comes in two equivalent forms: built-in array expressions
(transform / zip_with / aggregate) for composability, and Arrow-batched
numpy kernels for the hot paths — Spark's higher-order functions are
CodegenFallback (interpreted per element), so pairwise math over many
candidates runs 10-100x faster as a vectorized pandas UDF doing the
same exact integer arithmetic (see the vectorized-kernels section).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import buckets
from .parallelize import spread_for_cpu

QUANT = 1_000_000  # micro-unit quantization for exact integer vector math


def quantized(col: Column | str) -> Column:
    """array<float> → array<long> micro-units: floor(x*1e6 + 0.5).
    float→double widening is exact; the floor grid is engine-portable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * F.lit(float(QUANT)) + F.lit(0.5)).cast("long")
    )


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors. Integer adds
    are associative — order never matters."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm_sq_q(a: Column) -> Column:
    return dot_q(a, a)


def cosine_q(dot: Column, norm_sq_a: Column, norm_sq_b: Column) -> Column:
    """cos = dot / (sqrt(|a|²) * sqrt(|b|²)) — one fixed-order double
    expression over exact integers."""
    return dot.cast("double") / (
        F.sqrt(norm_sq_a.cast("double")) * F.sqrt(norm_sq_b.cast("double"))
    )


def cosine_topk(
    embeddings: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector (vec_id <
    query_max_id) over the whole corpus.

    Plan: quantize both sides (map), broadcast the probe set, compute
    exact integer dot/norms per pair, rank per query with a window.
    At 100 TB the corpus side streams through executors once; only the
    (small) probe set is broadcast. Ties broken by neighbor id.
    """
    q = embeddings.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"), quantized("embedding").alias("q_vec")
    )
    # per-pair vector math happens on the corpus side — spread a small
    # scan so it isn't serialized onto one core
    c = spread_for_cpu(embeddings).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        quantized("embedding").alias("c_vec"),
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        cosine_q(
            dot_q(F.col("q_vec"), F.col("c_vec")),
            norm_sq_q(F.col("q_vec")),
            norm_sq_q(F.col("c_vec")),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


def hyperplane_sketch(
    embeddings: DataFrame, planes: int = 16, seed: int = 7, dim: int = 64
) -> DataFrame:
    """Random-hyperplane sign sketch (SimHash-for-vectors): bit i is the
    sign of <v, h_i> where h_i is a deterministic ±1 hyperplane derived
    from md5(seed, i, dim). Rows with equal sketches are ANN candidates.

    The hyperplanes are materialized as literal arrays (planes × dim is
    tiny); the sketch is `planes` fixed-order integer dot signs packed
    into one BIGINT — a pure map, shuffle-free.
    """
    # deterministic ±1 hyperplanes derived off-plan; the projection runs
    # as one Arrow-batched matmul kernel (band_codes_udf with a single
    # band packs all sign bits into one code — the sketch). An
    # equivalent per-row HOF expression runs interpreted
    # (CodegenFallback) and was the q26 hot spot.
    # ``dim`` is a parameter (callers know their embedding width) — no
    # driver-side probe job.
    planes_arr = hyperplanes(planes, dim, seed)
    codes = band_codes_udf(planes_arr, bands=1)
    return embeddings.select(
        "vec_id", "label", F.element_at(codes("embedding"), 1).alias("sketch")
    )


def ann_topk_lsh(
    embeddings: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
    planes: int = 8,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to equal-sketch buckets,
    then exact cosine rank within the bucket. Recall trades off with
    ``planes``; at scale, multiple sketch tables (OR-amplification)
    raise recall — this is the single-table baseline.

    ``dim`` is a parameter (callers know their embedding width) — no
    driver-side probe job. The sketch+vector side is computed in ONE
    select and materialized (localCheckpoint) because both the probe
    and corpus branches reference it: without the cut, the sketch
    kernel would evaluate twice over the corpus.
    """
    planes_arr = hyperplanes(planes, dim, seed)
    codes = band_codes_udf(planes_arr, bands=1)
    side = (
        spread_for_cpu(embeddings)
        .select(
            "vec_id",
            "label",
            quantized("embedding").alias("vec"),
            F.element_at(codes("embedding"), 1).alias("sketch"),
        )
        .localCheckpoint()
    )
    q = side.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("sketch").alias("q_sketch"),
        F.col("vec").alias("q_vec"),
    )
    c = side.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("sketch").alias("c_sketch"),
        F.col("vec").alias("c_vec"),
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("q_sketch") == F.col("c_sketch")) & (F.col("query_id") != F.col("neighbor_id")),
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        cosine_q(
            dot_q(F.col("q_vec"), F.col("c_vec")),
            norm_sq_q(F.col("q_vec")),
            norm_sq_q(F.col("c_vec")),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


def ann_topk_multi(
    embeddings: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
    planes: int = 8,
    tables: int = 3,
    base_seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """OR-amplified multi-table LSH ANN — the recall-raising construction
    ``ann_topk_lsh``'s docstring defers to (Indyk/Motwani LSH with L
    independent hash tables): a pair is a candidate if its sign-sketches
    collide in ANY of ``tables`` independent hyperplane sets; exact
    quantized cosine then ranks the candidate union per query.

    Plan: ONE Arrow matmul computes all ``tables`` sketches per vector
    (stacked plane matrix, one band per table — the sketch table is
    materialized once, exactly the index you'd persist at scale), then
    posexplode → (table, code) bucket join against the broadcast probe
    sketches → distinct candidate pairs → exact cosine → per-query rank.
    Only probe rows broadcast; the corpus streams once. Recall grows as
    1-(1-p^planes)^tables while the exact-verify cost stays proportional
    to the candidate union. ``dim`` is a parameter — no driver probe.
    """
    planes_all: list[list[int]] = []
    for t in range(tables):
        planes_all.extend(hyperplanes(planes, dim, seed=base_seed + t))
    codes = band_codes_udf(planes_all, bands=tables)
    # materialize the sketch+vector side ONCE: both the probe build and
    # the corpus side reference it, and a self-join on a UDF-derived
    # frame would otherwise evaluate the Arrow kernel twice
    side = (
        spread_for_cpu(embeddings)
        .select(
            "vec_id",
            "label",
            quantized("embedding").alias("vec"),
            codes("embedding").alias("codes"),
        )
        .localCheckpoint()
    )
    # the corpus side carries label+vector THROUGH the bucket join, so
    # the candidate union never re-joins the corpus: the old
    # cand.join(corpus, neighbor_id) shape shuffled the ENTIRE corpus
    # by neighbor_id to re-attach vectors the bucket probe already had
    # in hand — the worked-example trap of guide §8.4 (decide on small
    # rows, then accidentally shuffle the payload again). Dedup of
    # multi-table hits is a groupBy over CANDIDATE rows (hits × vec
    # bytes, ≪ corpus × vec bytes for any selective sketch).
    banded = side.select(
        "vec_id", "label", "vec", F.posexplode("codes").alias("tbl", "code")
    )
    qb = (
        side.filter(F.col("vec_id") < query_max_id)
        .select("vec_id", F.posexplode("codes").alias("tbl", "code"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("tbl").alias("q_tbl"),
            F.col("code").alias("q_code"),
        )
    )
    cand = (
        banded.join(
            F.broadcast(qb),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("code") == F.col("q_code"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        # per (query, neighbor) every hit row carries the same label
        # and vector — first() is value-deterministic here
        .agg(
            F.first("label").alias("neighbor_label"),
            F.first("vec").alias("c_vec"),
        )
    )
    # broadcast ONLY the probe vectors (the old unfiltered qv
    # broadcast shipped the whole corpus to every executor — the join
    # dropped the non-probe rows, but only after materializing them)
    qv = side.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("q_vec")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            cosine_q(
                dot_q(F.col("q_vec"), F.col("c_vec")),
                norm_sq_q(F.col("q_vec")),
                norm_sq_q(F.col("c_vec")),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


def hyperplanes(planes: int, dim: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5(seed:plane:dim) — the same
    family `hyperplane_sketch` uses. Exposed so oracle SQL generation
    can embed the identical constants."""
    import hashlib

    out = []
    for p in range(planes):
        out.append(
            [
                1 if int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
                for d in range(dim)
            ]
        )
    return out


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    planes: int = 32,
    bands: int = 4,
    seed: int = 7,
    dim: int = 64,
    hot_cap: int = buckets.DEFAULT_HOT_CAP,
    hot_mode: str = "star",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded sign-LSH blocking
    (candidates share ≥1 of `bands` sign-bit band codes) then an exact
    quantized-cosine >= threshold verify. The dedup tier the reference
    lacks; semantics mirror classic SimHash/MinHash banding but over
    dense vectors.

    Scale path: the band pairing shuffles on (band_idx, band_val).
    Real embedding spaces are CLUSTERED — a dense cluster (the normal
    near-dup case) lands its whole membership in one band bucket, so
    bucket sizes are not bounded by the ~N/2^(planes/bands) uniform
    estimate. Pairing therefore goes through
    ``buckets.bucket_mate_pairs``: exact all-pairs up to ``hot_cap``
    members per bucket, then connectivity-preserving star pairing (or
    exact grid-split with ``hot_mode="grid"``); over-cap buckets are
    reported by ``embedding_bucket_overflow``, never truncated
    silently. Candidate ids are deduped BEFORE vectors are re-attached,
    so wide vector payloads never ride through the LSH shuffle. At
    100 TB the two id→vector joins are plain shuffle-hash joins on
    vec_id.

    The threshold default (0.35) is tuned to the driver's synthetic
    corpus (max pairwise cosine ≈ 0.48); real near-dup corpora would
    use ~0.9+ (where fewer, more selective bands also cut candidates).

    Hot paths (band codes, pairwise cosine verify) run as Arrow-batched
    numpy kernels — same exact integer math as the HOF expressions, see
    the module's vectorized-kernels section.
    """
    sk = _banded_sign_codes(embeddings, planes, bands, seed, dim)
    cand = (
        buckets.bucket_mate_pairs(
            sk, ["band_idx", "band_val"], "vec_id", hot_cap=hot_cap, hot_mode=hot_mode
        )
        .withColumnsRenamed({"a": "id_a", "b": "id_b"})
        .distinct()
    )
    va = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    vb = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    return (
        pairs.withColumn("cosine", cosine_pair_udf()(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def embedding_bucket_overflow(
    embeddings: DataFrame,
    planes: int = 32,
    bands: int = 4,
    seed: int = 7,
    dim: int = 64,
    hot_cap: int = buckets.DEFAULT_HOT_CAP,
    hot_mode: str = "star",
) -> DataFrame:
    """Accounting report for ``embedding_neardup_pairs``'s over-cap
    sign-LSH buckets (band_idx, band_val, bucket_size, pairs_emitted,
    pairs_suppressed) — the dense-cluster report at scale."""
    return buckets.bucket_overflow_stats(
        _banded_sign_codes(embeddings, planes, bands, seed, dim),
        ["band_idx", "band_val"],
        "vec_id",
        hot_cap=hot_cap,
        hot_mode=hot_mode,
    )


def _banded_sign_codes(
    embeddings: DataFrame, planes: int, bands: int, seed: int, dim: int
) -> DataFrame:
    """(vec_id, band_idx, band_val) — one row per vector per sign-LSH
    band (Arrow-batched band-codes kernel)."""
    planes_arr = hyperplanes(planes, dim, seed)
    codes = band_codes_udf(planes_arr, bands)
    return embeddings.select(
        "vec_id", F.posexplode(codes("embedding")).alias("band_idx", "band_val")
    )


def ivf_topk(
    embeddings: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    query_max_id: int = 10,
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (seed centroids =
    vectors with vec_id < n_centroids) partitions the corpus into cells;
    each query probes its `nprobe` nearest cells and ranks exact cosine
    only within them.

    Scale path: centroids are tiny and broadcast; cell assignment is one
    broadcast-nested-loop over the corpus (a single pass, map-side);
    the probe table (queries × nprobe rows) is computed from the probe
    vectors ALONE (the assignment window partitions by vec_id, so
    pre-filtering to probe ids is exactly equivalent — not a second
    corpus pass) and BROADCAST onto the assigned corpus, so the corpus
    is never shuffled by centroid_id (which would also concentrate a
    popular cell's rows in one task). This is the standard IVF layout
    (Johnson et al., "Billion-scale similarity search with GPUs").

    ``centroids`` (columns: centroid_id, c_vec — quantized BIGINT
    arrays, e.g. derived from ``kmeans_assignments``'s trained cells)
    replaces the seed quantizer with the offline-trained one; default
    stays the seed variant the q52 oracle mirrors.
    """
    vec = spread_for_cpu(embeddings).select(
        "vec_id", F.col("label"), quantized("embedding").alias("vec")
    )
    cent = (
        centroids
        if centroids is not None
        else vec.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), F.col("vec").alias("c_vec")
        )
    )
    ccos = cosine_q(
        dot_q(F.col("vec"), F.col("c_vec")),
        norm_sq_q(F.col("vec")),
        norm_sq_q(F.col("c_vec")),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("centroid_id").asc())
    # nearest-cell assignment as a map-side-combining argmax instead
    # of a row_number window: the window Exchange+SORTED the full
    # corpus×n_centroids cross frame by vec_id; max_by partial-
    # aggregates each vector's n_centroids candidate rows down to ONE
    # before the shuffle (n_centroids× fewer bytes, no sort).
    # Ordering identity: argmax of (ccos, -centroid_id) ==
    # row_number 1 under (ccos DESC, centroid_id ASC) — ties on ccos
    # are broken by the unique centroid id, and Spark's max/greatest
    # NaN-is-largest double semantics match the DESC sort's NaN-first.
    assigned = (
        vec.crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .groupBy("vec_id", "label", "vec")
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("ccos"), (-F.col("centroid_id")).alias("_nc"))
            ).alias("centroid_id")
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.col("vec").alias("c_vec2"),
            "centroid_id",
        )
    )
    probes = (
        vec.filter(F.col("vec_id") < query_max_id)
        .crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("q_vec"),
            "centroid_id",
        )
    )
    pairs = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    out = pairs.select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        cosine_q(
            dot_q(F.col("q_vec"), F.col("c_vec2")),
            norm_sq_q(F.col("q_vec")),
            norm_sq_q(F.col("c_vec2")),
        ).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        out.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Vectorized (Arrow/numpy) kernels.
#
# Spark's higher-order functions (transform/aggregate/zip_with) are
# CodegenFallback — interpreted per element with lambda-variable
# overhead, ~20M ops/s/core. For pairwise vector math that's the
# bottleneck (a 64-dim cosine over 500k candidate pairs = ~100M ops).
# These pandas UDFs batch through Arrow and do the same EXACT integer
# math in numpy: floor(x*1e6+0.5) int64 quantization, int64 dot (no
# overflow: |q|≤~2e6 → 64·4e12 < 2^63), then one double divide over
# IEEE sqrt — bit-identical to the HOF path and the DuckDB oracle.
# ---------------------------------------------------------------------------


def _quantize_np(arrs):
    V = np.stack([np.asarray(a, dtype=np.float64) for a in arrs])
    return np.floor(V * 1_000_000.0 + 0.5).astype(np.int64)


def cosine_pair_udf():
    """(embedding_a, embedding_b) -> exact quantized cosine, vectorized."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_pair(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        Qa, Qb = _quantize_np(a.to_numpy()), _quantize_np(b.to_numpy())
        dot = (Qa * Qb).sum(axis=1).astype(np.float64)
        na = (Qa * Qa).sum(axis=1).astype(np.float64)
        nb = (Qb * Qb).sum(axis=1).astype(np.float64)
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    # deterministic in fact, but flagged nondeterministic so Catalyst
    # never duplicates the eval (filter+project each spawning their own
    # ArrowEvalPython doubles Python work AND worker-pool pressure) nor
    # pushes a re-evaluating filter below an exchange
    return cos_pair.asNondeterministic()


def band_codes_udf(planes_arr: list[list[int]], bands: int):
    """embedding -> array<long> of LSH band codes (sign-bit bands),
    one matmul per Arrow batch instead of planes× interpreted dots."""
    from pyspark.sql.functions import pandas_udf

    bpb = len(planes_arr) // bands

    @pandas_udf("array<long>")
    def codes(emb: pd.Series) -> pd.Series:
        P = np.array(planes_arr, dtype=np.int64)
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        Q = _quantize_np(emb.to_numpy())
        bits = (Q @ P.T > 0).astype(np.int64)  # n × planes
        pw = (1 << np.arange(bpb, dtype=np.int64))
        out = np.stack(
            [bits[:, b * bpb : (b + 1) * bpb] @ pw for b in range(bands)], axis=1
        )
        return pd.Series(list(out))

    return codes.asNondeterministic()  # see cosine_pair_udf note


# ---------------------------------------------------------------------------
# K-means training for the IVF coarse quantizer.
# ---------------------------------------------------------------------------



def kmeans_prep_frame(embeddings: DataFrame) -> DataFrame:
    """The UNmaterialized quantized vector frame `_kmeans_prep`
    checkpoints — exposed so a session cache (corpus_cache.shared_df)
    can materialize ONE copy shared by every trainer that scans it
    (coarse k-means / SemDeDup in q45, product quantization in q39)."""
    return spread_for_cpu(embeddings, cap=8).select(
        "vec_id", quantized("embedding").alias("vec")
    )


def _kmeans_prep(embeddings: DataFrame) -> DataFrame:
    """Quantized vector table, spread across cores and MATERIALIZED
    (localCheckpoint): the Lloyd loop references it once per assign and
    once per update — without the cut, every iteration re-runs the scan
    + repartition + quantize sub-DAG. Fan-out is capped: the Lloyd loop
    launches ~5 stages per round over this table, so task-count per
    stage matters more than per-core spread for a small input."""
    return kmeans_prep_frame(embeddings).localCheckpoint()


def _assign_to_matrix_udf(cells: list[int], cent):
    """vec -> struct<cell, d2>: nearest of the driver-held centroid
    matrix, exact int64 arithmetic, ties to the smaller cell id (cells
    are sorted ascending, argmin returns the first minimum)."""
    from pyspark.sql.functions import pandas_udf

    cellarr = np.asarray(cells, dtype=np.int64)
    C = np.asarray(cent, dtype=np.int64)  # (m, dim)

    @pandas_udf("struct<cell: long, d2: long>")
    def a(vec: pd.Series) -> pd.DataFrame:
        V = np.array(vec.tolist(), dtype=np.int64)  # (n, dim)
        diff = V[:, None, :] - C[None, :, :]
        d2 = np.einsum("nmd,nmd->nm", diff, diff)  # exact: < dim*(2*QUANT)^2 * n
        idx = d2.argmin(axis=1)
        return pd.DataFrame(
            {"cell": cellarr[idx], "d2": d2[np.arange(len(idx)), idx]}
        )

    return a.asNondeterministic()  # see minhash_sig_udf note in dedup.py


def _kmeans_train(v: DataFrame, k: int, iters: int):
    """Lloyd rounds over a prepped vector table → (cells, centroid
    matrix) held at the driver — the MLlib KMeans structure (see Spark's
    mllib clustering.KMeans.runAlgorithm): per round the ASSIGNMENT and
    the per-cell partial SUMS run distributed (one map + one groupBy
    over k·dim rows), and only the k·dim aggregated state crosses to
    the driver. One Spark job per round instead of a chain of
    checkpoint/broadcast jobs; the data-sized work never leaves the
    cluster. Empty cells drop (their rows simply don't appear in the
    grouped sums), matching the join-based formulation.

    Mean update is floor(sum_double / count) — the same double-division
    floor the SQL oracle computes (sums < 2^53, so the double is exact;
    the floor of the quotient is engine-portable).

    Driver-state ceiling: above :data:`KMEANS_DRIVER_STATE_MAX` k·dim
    components, the per-round collect + closure-broadcast pattern is
    swapped for :func:`kmeans_train_distributed` (DataFrame-resident
    rounds, equivalence-tested), and only the FINAL state is collected
    into the list shape this function returns. Callers that can
    consume a centroid DataFrame directly (e.g. ``ivf_topk``) should
    call ``kmeans_train_distributed`` and skip even that collect.
    """
    import math

    seed = (
        v.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    )
    cells = [int(r.vec_id) for r in seed]
    cent = [list(map(int, r.vec)) for r in seed]
    dim = len(cent[0]) if cent else 0
    if k * dim > KMEANS_DRIVER_STATE_MAX:
        final = kmeans_train_distributed(v, k, iters).orderBy("centroid_id")
        rows = final.collect()  # one k·dim transfer instead of per-round
        return [int(r.centroid_id) for r in rows], [
            list(map(int, r.c_vec)) for r in rows
        ]
    for _ in range(iters):
        # fused assignment + task-local partial sums (m=1 instance of
        # the PQ kernel): ≤ k·dim partial rows leave each task instead
        # of n·dim posexploded components through a corpus-wide
        # aggregate — identical math, identical first-minimum
        # tie-breaking (see _centroid_partial_sums)
        sums = _centroid_partial_sums(v, 1, k, [cells], [cent])
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cell.setdefault(int(r.cell), {})[int(r.p)] = (int(r.s), int(r.n))
        cells = sorted(by_cell)
        cent = [
            [
                math.floor(by_cell[c][p][0] / by_cell[c][p][1])
                for p in sorted(by_cell[c])
            ]
            for c in cells
        ]
    return cells, cent


# Above this many k·dim centroid components the driver-resident Lloyd
# loop (collect k·dim aggregate rows per round + re-broadcast the
# matrix in a UDF closure) becomes the bottleneck: at 1e5 cells × 768
# dims × 8 B that is ~0.6 GB of driver state PER ROUND. Beyond it,
# _kmeans_train iterates with DataFrame-resident centroids
# (kmeans_train_distributed) and collects nothing until the final
# state — and callers that never need driver lists should use
# kmeans_train_distributed directly.
KMEANS_DRIVER_STATE_MAX = 1 << 22  # 4M components ≈ 32 MB per round


def kmeans_train_distributed(
    v: DataFrame, k: int, iters: int
) -> DataFrame:
    """Lloyd rounds with the centroids living in a DATAFRAME between
    rounds — the path past :data:`KMEANS_DRIVER_STATE_MAX`: per round
    the corpus broadcast-joins the centroid frame (exact int64 L2 via
    zip_with/aggregate — identical arithmetic to the driver path's
    numpy kernel), takes the argmin with (d2 ASC, cell ASC)
    tie-breaking (same smaller-cell-id rule), and re-derives centroids
    as floor(sum/count) per component with one posexplode + groupBy —
    no k·dim state ever crosses to the driver. Returns (centroid_id,
    c_vec), the shape ``ivf_topk(centroids=...)`` consumes.

    Bit-for-bit equivalent to :func:`_kmeans_train` (equivalence-tested
    at small k): same vec_id<k seeding, same empty-cell drop, same
    exact integer distances, same floor(double-divide) mean (sums <
    2^53, so the double is exact)."""
    cent = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("vec").alias("c_vec")
    )
    d2 = F.expr(
        "aggregate(zip_with(vec, c_vec, (a, b) -> (a-b)*(a-b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_d2").asc(), F.col("cell").asc()
    )
    for _ in range(iters):
        assigned = (
            v.crossJoin(F.broadcast(cent))
            .withColumn("_d2", d2)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        cent = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cell",
                "pos",
                F.floor(F.col("s") / F.col("n")).cast("long").alias("m"),
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x.getField("m"),
                ).alias("c_vec")
            )
        )
        cent = cent.localCheckpoint(eager=False)
    return cent.select(F.col("cell").alias("centroid_id"), "c_vec")


def kmeans_centroids(embeddings: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """The trained coarse quantizer itself: (centroid_id, c_vec) after
    ``iters`` Lloyd rounds — the shape ``ivf_topk(centroids=...)``
    consumes."""
    spark = embeddings.sparkSession
    cells, cent = _kmeans_train(_kmeans_prep(embeddings), k, iters)
    return spark.createDataFrame(
        [(c, vec) for c, vec in zip(cells, cent)],
        "centroid_id long, c_vec array<bigint>",
    )


def kmeans_assignments(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """Deterministic Lloyd's k-means over quantized vectors: seeds are
    the vectors with vec_id < k; each round assigns every vector to the
    L2-nearest centroid (exact integer distance, ties to the smaller
    cell id) and recomputes centroids as the element-wise
    floor(mean) in micro-units. Returns the assignment under the final
    centroids: (vec_id, cell, d2).

    This is the offline training step `ivf_topk`'s docstring defers to:
    at 100 TB the assignment is a broadcast-nested-loop map over the
    corpus and the update is one posexplode + groupBy (k·dim rows) —
    the classic distributed Lloyd iteration, fully deterministic so the
    DuckDB oracle can unroll the same fixed number of rounds.

    All arithmetic is exact: d2 ≤ dim·(2·QUANT)² < 2^63; centroid sums
    stay < 2^53 so the floor(double-divide) mean is exact and
    engine-portable.
    """
    v = _kmeans_prep(embeddings)
    cells, cent = _kmeans_train(v, k, iters)
    a = _assign_to_matrix_udf(cells, cent)
    return v.select("vec_id", a("vec").alias("m")).select(
        "vec_id", F.col("m.cell").alias("cell"), F.col("m.d2").alias("d2")
    )


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.3,
    pair_block: int = 1024,
    prep: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication = k-means clustering + exact pairwise cosine WITHIN
    each cluster. The embedding-space analog of MinHash-LSH dedup for
    paraphrase-level duplicates that share no n-grams; the published
    pipeline step between exact dedup and quality filtering in
    LLM-corpus construction.

    Returns three frames sharing ONE training run and ONE checkpointed
    assignment (the clustering is the expensive pass at 100 TB — it
    must not re-run per consumer):

      assignments  (vec_id, cell, d2)  — final-round Lloyd assignment,
          identical to :func:`kmeans_assignments`;
      pairs        (a_id, b_id, cell, cosine)  — intra-cell pairs with
          quantized cosine >= ``threshold``, a_id < b_id;
      drops        (vec_id, cell)  — the member of each qualifying pair
          that sits CLOSER to its centroid (smaller d2, ties drop the
          larger vec_id): the paper keeps the member furthest from the
          centroid as the cluster's "most representative of the
          boundary" exemplar. Distinct — one row per dropped vector.

    Scale shape — the pairwise pass is the published matrix form, not a
    pair join: ONE shuffle groups each cell's (vec_id, vec, d2) rows
    and a per-cell Arrow kernel computes the gram matrix blockwise
    (``pair_block`` rows × cell int64 matmul — exact dot products, the
    same fixed-order sqrt·sqrt/divide cosine as ``cosine_q``) and emits
    ONLY qualifying pairs. Versus routing 250k+ candidate pairs through
    two vector joins and a per-pair kernel, nothing quadratic ever
    crosses the Python boundary or a shuffle. Per-task memory is
    O(cell·dim + pair_block·cell): bounded by the cluster width, which
    SemDeDup itself prescribes capping by raising k (paper: k ≈ N/1e4);
    the O(n_cell²) COMPUTE is inherent to the algorithm and stays
    inside one numpy matmul per block.
    """
    v = prep if prep is not None else _kmeans_prep(embeddings)
    cells, cent = _kmeans_train(v, k, iters)
    a = _assign_to_matrix_udf(cells, cent)
    # one checkpoint feeds the returned assignment and the cell-grouped
    # pairwise pass — without it the assign kernel re-runs per branch.
    assign_v = (
        v.select("vec_id", "vec", a("vec").alias("m"))
        .select(
            "vec_id", "vec", F.col("m.cell").alias("cell"), F.col("m.d2").alias("d2")
        )
        .localCheckpoint()
    )
    assign = assign_v.select("vec_id", "cell", "d2")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {"a_id": pd.Series([], dtype="int64"),
             "b_id": pd.Series([], dtype="int64"),
             "cell": pd.Series([], dtype="int64"),
             "cosine": pd.Series([], dtype="float64"),
             "drop_id": pd.Series([], dtype="int64")}
        )
        if n < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.array(pdf["vec"].tolist(), dtype=np.int64)[order]
        d2 = pdf["d2"].to_numpy()[order]
        cell = int(pdf["cell"].iloc[0])
        # sqrt each norm THEN multiply — the exact op order of
        # cosine_q / the oracle's sqrt(na)*sqrt(nb)
        rs = np.sqrt((V * V).sum(axis=1).astype(np.float64))
        out = []
        for s0 in range(0, n, pair_block):
            e0 = min(s0 + pair_block, n)
            dot = V[s0:e0] @ V.T  # exact int64: |dot| <= dim·QUANT²·1 < 2^63
            cos = dot.astype(np.float64) / (rs[s0:e0, None] * rs[None, :])
            bi, bj = np.nonzero(cos >= threshold)
            gi = bi + s0
            keep = gi < bj  # upper triangle: a_id < b_id (ids sorted)
            gi, bj = gi[keep], bj[keep]
            if len(gi):
                drop = np.where(
                    d2[gi] < d2[bj], ids[gi],
                    np.where(d2[bj] < d2[gi], ids[bj],
                             np.maximum(ids[gi], ids[bj])),
                )
                out.append(pd.DataFrame({
                    "a_id": ids[gi], "b_id": ids[bj],
                    "cell": np.full(len(gi), cell, dtype=np.int64),
                    "cosine": cos[bi[keep], bj],
                    "drop_id": drop,
                }))
        return pd.concat(out) if out else empty

    pairs_full = assign_v.groupBy("cell").applyInPandas(
        cell_pairs,
        "a_id long, b_id long, cell long, cosine double, drop_id long",
    ).localCheckpoint()
    pairs = pairs_full.select("a_id", "b_id", "cell", "cosine")
    drops = (
        pairs_full.select(F.col("drop_id").alias("vec_id"), "cell").distinct()
    )
    return assign, pairs, drops


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the FAISS IVFADC compression tier
# (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). Splits each vector into `m` subspaces, trains
# an independent `ks`-cell quantizer per subspace, and represents the
# corpus as m small codes (m·log2(ks) bits per vector — 4 bytes here
# vs 256 for the raw floats). Queries rank candidates by Asymmetric
# Distance Computation: per-subspace lookup tables of exact distances
# from the query subvector to every codeword, summed over subspaces.
# ---------------------------------------------------------------------------


def _pq_codes_udf(m: int, cells: list[list[int]], cent: list[list[list[int]]]):
    """vec -> array<long> of m per-subspace nearest-codeword cell ids.
    One numpy pass computes ALL subspaces (the codebooks are driver
    state, k·dim-sized like the k-means centroids). Ties to the
    smaller cell id (cells sorted ascending, argmin first-minimum)."""
    from pyspark.sql.functions import pandas_udf

    cellarrs = [np.asarray(c, dtype=np.int64) for c in cells]
    cents = [np.asarray(c, dtype=np.int64) for c in cent]  # per sub (ks_s, d0)

    @pandas_udf("array<long>")
    def codes(vec: pd.Series) -> pd.Series:
        V = np.array(vec.tolist(), dtype=np.int64)  # (n, dim)
        d0 = V.shape[1] // m
        out = np.empty((V.shape[0], m), dtype=np.int64)
        for s in range(m):
            sub = V[:, s * d0 : (s + 1) * d0]
            diff = sub[:, None, :] - cents[s][None, :, :]
            d2 = np.einsum("nkd,nkd->nk", diff, diff)
            out[:, s] = cellarrs[s][d2.argmin(axis=1)]
        return pd.Series(list(out))

    return codes.asNondeterministic()  # see minhash_sig_udf note in dedup.py


def _centroid_partial_sums(
    v: DataFrame, m: int, ks: int, cells: list[list[int]], cent
) -> list:
    """One Lloyd-update aggregation round, with the per-cell partial
    sums computed INSIDE the Arrow kernel (guide §2.3: aggregate
    before you shuffle — here before the Python→JVM boundary too):
    per task, one numpy pass assigns every vector of every batch to
    its per-subspace nearest codeword and accumulates the (sub, cell,
    component) sums + counts into a dense (m, ks, d0) buffer, then
    emits AT MOST m·ks·(dim/m) = ks·dim partial rows per task. The
    old shape shipped the assignment back through posexplode —
    n·dim exploded rows into a corpus-wide hash aggregate; this one
    shuffles ks·dim rows per task regardless of n. A tiny final
    groupBy folds the task partials (exact: int64 sums are
    associative/commutative, |val| ≤ 2·QUANT so a task's partial is
    < rows·2e6 ≪ 2^63) and the collect is the same k·dim driver
    transfer as before. Invariant: every cell id < ks (ids descend
    from the vec_id < ks seed filter and only ever shrink)."""
    import pandas as pd

    cellarrs = [np.asarray(c, dtype=np.int64) for c in cells]
    cents = [np.asarray(c, dtype=np.int64) for c in cent]
    d0s = [c.shape[1] for c in cents]

    def part(batches):
        sums = [np.zeros((ks, d), dtype=np.int64) for d in d0s]
        cnts = np.zeros((m, ks), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.int64)  # (n, dim)
            off = 0
            for s in range(m):
                d0 = d0s[s]
                sub = V[:, off : off + d0]
                off += d0
                diff = sub[:, None, :] - cents[s][None, :, :]
                d2 = np.einsum("nkd,nkd->nk", diff, diff)
                cid = cellarrs[s][d2.argmin(axis=1)]
                np.add.at(sums[s], cid, sub)
                np.add.at(cnts[s], cid, 1)
        rows: dict[str, list] = {"sub": [], "cell": [], "p": [], "s": [], "n": []}
        for s in range(m):
            for cell in np.nonzero(cnts[s])[0]:
                n = int(cnts[s][cell])
                for p in range(d0s[s]):
                    rows["sub"].append(s)
                    rows["cell"].append(int(cell))
                    rows["p"].append(p)
                    rows["s"].append(int(sums[s][cell, p]))
                    rows["n"].append(n)
        yield pd.DataFrame(rows)

    return (
        v.select("vec")
        .mapInPandas(part, "sub int, cell long, p int, s long, n long")
        .groupBy("sub", "cell", "p")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )


def _pq_train(v: DataFrame, m: int, ks: int, iters: int):
    """Joint Lloyd training of all m subspace quantizers in ONE loop:
    per round a single fused assignment+partial-sum kernel
    (:func:`_centroid_partial_sums`) codes every subspace and emits
    task-local (sub, cell, pos) partial sums (≤ ks·dim rows per task
    — the same k·dim driver state bound as `_kmeans_train`; the
    round-12 shape exploded every vector component through a
    corpus-wide aggregate instead), and the update is floor(sum/count)
    per component (sums < 2^53, so the double divide is exact and
    engine-portable). Seeds: subspace s of the vectors with
    vec_id < ks — the same deterministic seeding rule as the coarse
    quantizer, so the DuckDB oracle unrolls identical rounds. Empty
    cells drop per subspace, matching the grouped-sum formulation."""
    import math

    # ONE driver transfer bootstraps the loop: dim comes from the seed
    # rows themselves (a separate first()-probe job cost a full extra
    # scan-stage round-trip per pq_index call)
    seed = v.filter(F.col("vec_id") < ks).orderBy("vec_id").collect()
    if not seed:
        raise ValueError(f"pq train needs seed vectors with vec_id < {ks}")
    dim = len(seed[0].vec)
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d0 = dim // m
    cells = [[int(r.vec_id) for r in seed] for _ in range(m)]
    cent = [
        [[int(x) for x in r.vec[s * d0 : (s + 1) * d0]] for r in seed]
        for s in range(m)
    ]
    for _ in range(iters):
        sums = _centroid_partial_sums(v, m, ks, cells, cent)
        by_sub: dict[int, dict[int, dict[int, tuple[int, int]]]] = {}
        for r in sums:
            by_sub.setdefault(int(r.sub), {}).setdefault(int(r.cell), {})[
                int(r.p)
            ] = (int(r.s), int(r.n))
        cells = [sorted(by_sub.get(s, {})) for s in range(m)]
        cent = [
            [
                [
                    math.floor(by_sub[s][c][p][0] / by_sub[s][c][p][1])
                    for p in sorted(by_sub[s][c])
                ]
                for c in cells[s]
            ]
            for s in range(m)
        ]
    return cells, cent


def pq_index(
    embeddings: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    prep: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train a product quantizer ONCE and return both PQ surfaces over
    the shared run (the semdedup discipline — training is the
    expensive pass and must not repeat per consumer):

      codes  (vec_id, codes array<long>, pq_code BIGINT) — the corpus
          encoded as m per-subspace cell ids, also packed
          ceil(log2(ks)) bits per subspace into one BIGINT (the
          compressed representation a 100 TB index actually stores:
          32 bits/vector at the defaults, vs 8·64 bytes raw);
      topk   (query_id, neighbor_id, adc_d2, rank) — Asymmetric
          Distance Computation ANN: each query (vec_id <
          ``query_max_id``) ranks the WHOLE corpus by the sum of
          per-subspace exact distances from its subvector to each
          candidate's codeword — the memory-bound linear ADC scan of
          the PQ paper (sec. IV). rank 1..k by (adc_d2 ASC,
          neighbor_id ASC), self excluded.

    Scale shape: one `_kmeans_prep` checkpoint feeds training, encode,
    and the query tables; the encode map is CHECKPOINTED so the kernel
    runs once for both surfaces; queries (few) build their m×ks lookup
    tables in-frame (Arrow kernel over broadcast codebooks — no
    collect) and cross-join broadcast onto the code frame: distance is
    a pure zip_with/aggregate over m array lookups per (candidate,
    query) — map-side, zero shuffle until the final per-query top-k
    window. Exact int64: per-subspace d2 ≤ (dim/m)·(2·QUANT)², summed
    over m subs ≪ 2^63."""
    from pyspark.sql.functions import pandas_udf

    v = prep if prep is not None else _kmeans_prep(embeddings)
    cells, cent = _pq_train(v, m, ks, iters)
    codes = _pq_codes_udf(m, cells, cent)
    bits = max(1, (ks - 1).bit_length())
    packed = " + ".join(
        f"(element_at(codes, {s + 1}) * {1 << (bits * s)})" for s in range(m)
    )
    coded = (
        v.select("vec_id", codes("vec").alias("codes"))
        .withColumn("pq_code", F.expr(packed))
        .localCheckpoint()
    )

    cellarrs = [np.asarray(c, dtype=np.int64) for c in cells]
    cents = [np.asarray(c, dtype=np.int64) for c in cent]

    @pandas_udf("array<array<long>>")
    def qtab(vec: pd.Series) -> pd.Series:
        V = np.array(vec.tolist(), dtype=np.int64)
        d0 = V.shape[1] // m
        out = []
        for row in V:
            tabs = []
            for s in range(m):
                # dense ks-wide table indexed by CELL ID; ids of
                # dropped (empty) cells keep a 0 slot that no code
                # references
                t = np.zeros(ks, dtype=np.int64)
                diff = row[s * d0 : (s + 1) * d0][None, :] - cents[s]
                t[cellarrs[s]] = np.einsum("kd,kd->k", diff, diff)
                tabs.append(t.tolist())
            out.append(tabs)
        return pd.Series(out)

    queries = v.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"), qtab("vec").alias("qtab")
    )
    scored = (
        coded.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(codes, qtab, (c, t) ->"
                " element_at(t, CAST(c AS INT) + 1)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("adc_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )
    return coded, topk


def ranking_quality(
    approx: DataFrame, exact: DataFrame, k: int = 5
) -> DataFrame:
    """ANN quality evaluation — the measurement loop every approximate
    index deployment runs against a ground-truth sample: per query,
    recall@k (how many of the exact top-k the approximate ranking
    surfaced in ITS top-k) and MRR scaled x1e6 (10^6 div the first
    approximate rank that hits the exact set; 0 when none do — exact
    integer division, no float reciprocals, so the metric hash-gates
    against the oracle).

    Also NDCG@k ×1e6 (binary relevance): DCG = Σ_hits 1/log2(rank+1)
    with the reciprocal discounts rendered as integer constants from
    the repo's fixed-point log2 chain spec (:func:`dcg_discount_x` —
    ranks are 1..k, a fixed set, so the chain evaluates once in the
    renderer, not per row), normalized by the ideal DCG over ranks
    1..min(n_rel, k) — per query, since the ideal ranking holds at
    most as many relevant items as that query's ground truth — and
    floored to ×1e6. A perfect ranking scores exactly
    1_000_000; every step is integer, so the metric hash-gates.

    Inputs are two ranking frames with (query_id, neighbor_id, rank)
    — e.g. ``ann_topk_multi`` / ``pq_index`` top-k vs ``cosine_topk``.
    The query set is the exact frame's (every evaluated query has a
    ground-truth top-k). Both frames are per-query-bounded (Q·k rows),
    so every join here is broadcast-sized at any corpus scale — the
    evaluation costs nothing next to the rankings themselves."""
    rel = exact.select("query_id", "neighbor_id")
    disc = [dcg_discount_x(r) for r in range(1, k + 1)]
    # IDCG is PER QUERY: the ideal ranking can only place as many
    # relevant items as the ground truth holds, so a query with
    # n_rel < k exact neighbors (corpus ≤ k) normalizes by the prefix
    # sum over min(n_rel, k) ranks — otherwise a perfect approximate
    # ranking of a tiny corpus could never reach 1_000_000.
    prefix = [sum(disc[: i + 1]) for i in range(k)]
    disc_arr = F.array(*[F.lit(d).cast("long") for d in disc])
    prefix_arr = F.array(*[F.lit(p).cast("long") for p in prefix])
    # explicit broadcast hints: both frames are ≤ queries×k rows, but
    # a localCheckpoint-ed input has no size statistics, so the planner
    # would otherwise sort-merge these metadata-sized joins
    hits = (
        approx.filter(F.col("rank") <= k)
        .join(F.broadcast(rel), ["query_id", "neighbor_id"])
        .select("query_id", "rank", F.element_at(disc_arr, F.col("rank")).alias("_d"))
    )
    agg = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("rank").alias("_minrk"),
        F.sum("_d").alias("_dcg_x"),
    )
    base = rel.groupBy("query_id").agg(
        F.element_at(prefix_arr, F.least(F.count(F.lit(1)), F.lit(k)).cast("int"))
        .alias("_idcg_x")
    )
    return (
        base.join(F.broadcast(agg), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("int").alias("recall_at_k"),
            F.coalesce(
                F.expr("CAST(1000000 AS BIGINT) div _minrk"), F.lit(0)
            ).cast("long").alias("mrr_x1e6"),
            F.coalesce(
                F.expr("(_dcg_x * CAST(1000000 AS BIGINT)) div _idcg_x"),
                F.lit(0),
            ).cast("long").alias("ndcg_x1e6"),
        )
    )


def dcg_discount_x(rank: int) -> int:
    """Integer DCG discount for ``rank``: floor(2^26 / log2(rank+1))
    computed through the repo's fixed-point log2 chain (64·log2 with 6
    fractional bits — operators/search.py's spec, evaluated here in
    its pure-Python mirror since ranks are small constants):
    2^26 · 64 div fl(rank+1, 1). rank=1 → exactly 2^26 (log2(2)=1),
    so a perfect ranking's NDCG normalizes to exactly 1_000_000."""
    p = rank + 1
    m = p.bit_length() - 1
    x = (p << 20) // (1 << m)
    frac = 0
    for _ in range(6):
        x = (x * x) >> 20
        bit = 1 if x >= (1 << 21) else 0
        if bit:
            x >>= 1
        frac = (frac << 1) | bit
    fl = m * 64 + frac
    return ((1 << 26) * 64) // fl


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) + refine — the third compression tier next
# to IVF (coarse cells) and PQ (subspace codebooks).
# ---------------------------------------------------------------------------


def sq8_code_sql(x: str, mn: str, mx: str, dialect: str) -> str:
    """ONE rendered spec for the per-dimension SQ8 encoder, emitted for
    both engines so the oracle cannot drift (the search.py log2-chain
    discipline): code_d = (255 · (x_d − mn_d)) div (mx_d − mn_d),
    0 when the dimension is constant. x ∈ [mn, mx] makes the code land
    in [0, 255] with no clamp (x = mx hits exactly 255). ``mn``/``mx``
    are SQL expressions — integer literals on the Spark side (driver-
    collected train state, CASE folded by Catalyst), aggregate column
    refs on the oracle side."""
    div = "div" if dialect == "spark" else "//"
    return (
        f"(CASE WHEN ({mx}) = ({mn}) THEN CAST(0 AS BIGINT)"
        f" ELSE (255 * (({x}) - ({mn}))) {div} (({mx}) - ({mn})) END)"
    )


def sq8_dequant_sql(code: str, mn: str, mx: str, dialect: str) -> str:
    """Decoder mirror: x̂_d = mn_d + (code_d · (mx_d − mn_d)) div 255,
    exact integers in the shared micro-unit (QUANT) domain."""
    div = "div" if dialect == "spark" else "//"
    return (
        f"(CASE WHEN ({mx}) = ({mn}) THEN CAST(({mn}) AS BIGINT)"
        f" ELSE ({mn}) + ((({code}) * (({mx}) - ({mn}))) {div} 255) END)"
    )


def sq8_index(
    embeddings: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
    rerank: int = 4,
    prep: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Scalar-quantization ANN with exact refine (the Faiss
    SQ8+refine pipeline): per-dimension linear quantization of the
    micro-unit corpus to one byte per dimension (8x compression over
    int64 / float64 storage, 64 B/vector at dim 64), an asymmetric
    scan ranking candidates by exact-query-vs-dequantized distance,
    and an exact top-k rerank of the ``k·rerank`` ADC survivors.

    Returns (codes, topk):
      codes (vec_id, sq_codes array<long>, sq_code_hash) — the byte
          codes plus an md5 value-pin of the full code vector;
      topk  (query_id, neighbor_id, adc_d2, sq_d2, rank) — rank 1..k
          by EXACT distance (sq_d2) over the ADC-survivor set, ties to
          the smaller neighbor_id; adc_d2 carries the approximate
          distance that admitted the candidate.

    Every step is exact integer arithmetic on the shared QUANT
    micro-units, and the encoder/decoder expressions are rendered from
    one spec (:func:`sq8_code_sql` / :func:`sq8_dequant_sql`) for both
    Spark and the DuckDB oracle. Train state is the per-dimension
    (min, max) table — dim rows of driver state (the k·dim pattern),
    baked into the plan as literals.

    Scale shape: one posexplode pass computes the per-dim bounds
    (uniform dim keys, partial-aggregated); encode is map-side over
    the shared prep frame; queries broadcast onto the code frame and
    the only shuffles are the two per-query top-k windows (ADC cut,
    then exact rerank over Q·k·rerank rows). The refine join
    broadcasts the candidate list onto the corpus scan — the corpus
    never re-shuffles.
    """
    if rerank < 1:
        raise ValueError(f"rerank must be >= 1, got {rerank}")
    v = prep if prep is not None else _kmeans_prep(embeddings)
    bounds = (
        v.select(F.posexplode("vec").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mm = {int(r.d): (int(r.mn), int(r.mx)) for r in bounds}
    dim = len(mm)
    if dim == 0:
        raise ValueError("sq8_index: empty corpus — no per-dim bounds to train")
    code_arr = "array(" + ", ".join(
        sq8_code_sql(
            f"element_at(vec, {d + 1})", str(mm[d][0]), str(mm[d][1]), "spark"
        )
        for d in range(dim)
    ) + ")"
    codes = v.select(
        "vec_id",
        F.expr(code_arr).alias("sq_codes"),
    ).withColumn(
        "sq_code_hash",
        F.md5(
            F.array_join(
                F.transform("sq_codes", lambda x: x.cast("string")), "-"
            )
        ),
    )
    dequant_arr = "array(" + ", ".join(
        sq8_dequant_sql(
            f"element_at(sq_codes, {d + 1})", str(mm[d][0]), str(mm[d][1]), "spark"
        )
        for d in range(dim)
    ) + ")"
    xhat = codes.select("vec_id", F.expr(dequant_arr).alias("xhat"))
    queries = v.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    adc = (
        xhat.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(qvec, xhat, (a, b) -> (a-b)*(a-b)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("adc_d2"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    cands = adc.withColumn("_r", F.row_number().over(w_adc)).filter(
        F.col("_r") <= k * rerank
    ).drop("_r")
    # exact refine: candidate list is Q·k·rerank rows — broadcast it
    # onto the corpus scan for the true vectors, then score against
    # the (broadcast) query vectors
    exact = (
        v.join(F.broadcast(cands), v["vec_id"] == cands["neighbor_id"])
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_d2",
            F.expr(
                "aggregate(zip_with(qvec, vec, (a, b) -> (a-b)*(a-b)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("sq_d2"),
        )
    )
    w_fin = Window.partitionBy("query_id").orderBy(
        F.col("sq_d2").asc(), F.col("neighbor_id").asc()
    )
    topk = (
        exact.withColumn("rank", F.row_number().over(w_fin))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "sq_d2", "rank")
    )
    return codes, topk


def hard_negatives(
    embeddings: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR / SimCSE
    batch construction): for each anchor (vec_id < query_max_id), the
    k most-cosine-similar corpus vectors with a DIFFERENT label — the
    negatives that actually move a contrastive loss, vs. random
    negatives that are trivially far.

    Same plan as :func:`cosine_topk` — anchors broadcast, corpus
    streams through once — with the label-mismatch predicate fused
    into the broadcast join condition, so same-label pairs are
    discarded at the join, never scored. Anchors or candidates with a
    NULL label never pair (NULL != x is NULL): label your data or
    filter upstream.
    """
    q = embeddings.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        quantized("embedding").alias("q_vec"),
    )
    c = spread_for_cpu(embeddings).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        quantized("embedding").alias("c_vec"),
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("query_label") != F.col("neighbor_label")),
    )
    scored = pairs.select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        cosine_q(
            dot_q(F.col("q_vec"), F.col("c_vec")),
            norm_sq_q(F.col("q_vec")),
            norm_sq_q(F.col("c_vec")),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lexical_jaccard_topk(
    documents: DataFrame,
    query_max_id: int = 10,
    k: int = 20,
) -> DataFrame:
    """Exact lexical ranking: for each probe doc (doc_id <
    query_max_id), top-k candidate docs by distinct-token-set Jaccard.

    The score is kept as an exact integer — jx_x1e6 = (|∩| * 1e6) div
    |∪| — so the ordering (jx desc, cand_id asc) is engine-portable
    with no float comparison. Same 100 TB shape as :func:`cosine_topk`:
    the bounded probe set is broadcast, the corpus streams through
    once, and the per-query ranking window runs over ≤ corpus rows per
    probe. At scale the candidate side would be an LSH bucket
    (dedup.minhash_lsh_pairs); the exact ranking here is the fusion
    baseline.
    """
    from .text import tokens

    tset = F.array_distinct(tokens("text"))
    q = documents.filter(F.col("doc_id") < query_max_id).select(
        F.col("doc_id").alias("query_id"), tset.alias("q_set")
    )
    c = spread_for_cpu(documents).select(
        F.col("doc_id").alias("cand_id"), tset.alias("c_set")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
    inter = F.size(F.array_intersect("q_set", "c_set"))
    union = F.size("q_set") + F.size("c_set") - inter
    scored = pairs.select(
        "query_id",
        "cand_id",
        ((inter.cast("long") * F.lit(1_000_000)).cast("long")).alias("inter_sc"),
        union.cast("long").alias("union_c"),
    ).select(
        "query_id",
        "cand_id",
        F.expr("inter_sc div union_c").alias("jx_x1e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jx_x1e6").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "jx_x1e6", "rank")
    )


def hybrid_rrf_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
    pool: int = 20,
    rrf_k: int = 60,
    sem: DataFrame | None = None,
    sem_k: int | None = None,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009): fuse the exact semantic cosine ranking
    (:func:`cosine_topk` over the embedding column) with the exact
    lexical token-Jaccard ranking (:func:`lexical_jaccard_topk`) of
    the same ids (vec_id ↔ doc_id), by

        rrf_x1e6 = Σ_sys 1e6 div (rrf_k + rank_sys)

    over the systems that returned the candidate in their top-``pool``
    (a missing system contributes 0 — standard RRF over truncated
    runs). All-integer scoring; final order (rrf_x1e6 desc, id asc) is
    exact. This is the Elasticsearch/Vespa/Azure-AI-Search hybrid
    default, here with its measurement exactly reproducible.

    100 TB shape: both input rankings broadcast their bounded probe
    sets and stream the corpus once; the fusion itself joins two
    ≤ queries×pool frames — driver-trivial, broadcastable.

    ``sem`` overrides the internally-computed semantic ranking with a
    caller-owned :func:`cosine_topk` frame of the SAME query set and
    ``k >= pool`` (e.g. one the caller already materialized for its
    quality gate) — one corpus cosine pass instead of two; ranks
    beyond ``pool`` are cut here so fusion semantics are unchanged.
    The caller MUST declare the k its frame was built with via
    ``sem_k``: a frame with k < pool holds fewer candidates than the
    fusion assumes and would silently skew the RRF scores.
    """
    if sem is None:
        if sem_k is not None:
            raise ValueError(
                "sem_k was passed without sem: it declares the k of a "
                "caller-owned sem frame"
            )
        sem = cosine_topk(embeddings, query_max_id=query_max_id, k=pool)
    else:
        missing = {"query_id", "neighbor_id", "rank"} - set(sem.columns)
        if missing:
            raise ValueError(
                f"sem override is missing required columns {sorted(missing)}"
            )
        if sem_k is None:
            raise ValueError(
                "sem override requires sem_k (the k the frame was built "
                "with) so the pool contract is checkable"
            )
        if sem_k < pool:
            raise ValueError(
                f"sem override was built with k={sem_k} < pool={pool}: the "
                "rank <= pool cut would fuse a truncated candidate set"
            )
    sem = sem.filter(F.col("rank") <= pool).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("rank").alias("sem_rank"),
    )
    lex = lexical_jaccard_topk(documents, query_max_id=query_max_id, k=pool).select(
        "query_id", "cand_id", F.col("rank").alias("lex_rank")
    )
    fused = sem.join(lex, ["query_id", "cand_id"], "full_outer").select(
        "query_id",
        "cand_id",
        "sem_rank",
        "lex_rank",
        (
            F.coalesce(
                F.expr(f"1000000 div ({rrf_k} + sem_rank)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr(f"1000000 div ({rrf_k} + lex_rank)"), F.lit(0).cast("long")
            )
        ).alias("rrf_x1e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_x1e6").desc(), F.col("cand_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cand_id", "sem_rank", "lex_rank", "rrf_x1e6", "rank"
        )
    )
