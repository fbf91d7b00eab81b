"""Bounded bucket-mate pairing for LSH blocking (MinHash bands,
sign-LSH bands, SimHash byte-bands — any "same key => candidate pair"
scheme).

The naive plan — ``groupBy(bucket).agg(collect_list(id))`` + double
explode — is correct but has a 100 TB failure mode: a DEGENERATE bucket.
Web-scale corpora are full of boilerplate (empty pages, licence
headers, templated listings) whose members collide on EVERY band, so
one bucket holds the entire duplicate class; the collect_list then
materializes O(n) ids in a single task and the explode emits O(n²)
candidates. At a 10 M-row duplicate class that is one 10 M-element
array in one task and 10¹⁴ candidate rows — an OOM and a quadratic
blowup, not a slow query.

``bucket_mate_pairs`` keeps the cheap plan for normal buckets and
switches strategy per-bucket once size exceeds ``hot_cap``:

  small bucket (2..hot_cap rows)
      exact all-pairs via collect_list + double explode. Per-task
      memory is bounded by ``hot_cap`` elements by construction.

  hot bucket (> hot_cap rows), ``hot_mode="star"`` (default)
      connectivity-preserving STAR pairing: every member pairs with
      the bucket's minimum id — O(n) candidates instead of O(n²).
      Downstream exact verification still filters false positives, and
      connected-components clustering sees the SAME components (a star
      spans the bucket), so dedup semantics survive. What is lost is
      only the exhaustive within-bucket pair list — which for a
      degenerate bucket is exactly the output nobody can afford.

  hot bucket, ``hot_mode="grid"``
      EXACT all-pairs, still task-bounded: the bucket is split into
      ``ceil(n / hot_cap)`` deterministic cells by RANK (row_number
      over id, div hot_cap — a hard ≤ hot_cap guarantee per cell, not
      the in-expectation bound a hash assignment would give), the left
      side replicates across cells, and the pair (a, b) is emitted in
      cell(b) only. Every join group holds ≤ hot_cap build rows, so no
      task ever materializes the whole bucket; the O(n²) OUTPUT remains
      (that is what "exact" means) but it streams across the cluster
      instead of exploding in one task. Use when the caller genuinely
      needs every pair of a hot bucket and accepts the output volume.

Neither mode truncates silently: ``bucket_overflow_stats`` reports
every over-cap bucket (key, size, pairs emitted vs pairs suppressed) so
pipelines can log/account the degenerate classes — at 100 TB those
rows ARE the interesting dedup report.

The input frame is localCheckpoint-materialized first: both pairing
branches reference it and the upstream is typically an Arrow-batched
signature kernel that must not re-run per reference (see
tests/test_plans.py::test_arrow_kernels_evaluate_once). Bucket
size/min come from a window over the bucket key — one shuffle whose
hash partitioning the small-bucket groupBy then reuses, instead of a
groupBy+join that would re-shuffle the index three times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_HOT_CAP = 1024


def _bucket_stats(banded: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """One row per bucket with ≥2 members: size + min id. Partial-agg
    (map-side combine) safe — the agg itself cannot skew."""
    return (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bsz"), F.min(id_col).alias("_bmin"))
        .filter(F.col("_bsz") > 1)
    )


def bucket_mate_pairs(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    hot_cap: int = DEFAULT_HOT_CAP,
    hot_mode: str = "star",
    materialize_input: bool = True,
) -> DataFrame:
    """All candidate pairs (a, b), a < b, of rows sharing a bucket key,
    with per-task memory bounded by ``hot_cap`` regardless of bucket
    size (see module docstring for the small/star/grid strategies).

    Returns columns ``(a, b)``; callers typically ``.distinct()`` the
    result because the same pair can surface from several bands.

    ``materialize_input=False`` skips the internal localCheckpoint —
    pass it ONLY when ``banded`` is already materialized (a
    corpus_cache frame / persisted index); an unmaterialized kernel
    frame would re-run per pairing branch.
    """
    if hot_mode not in ("star", "grid"):
        raise ValueError(f"hot_mode must be star|grid, got {hot_mode!r}")
    if materialize_input:
        # Materialize: referenced by both pairing branches — without
        # this the upstream signature kernel would re-run per
        # reference. The checkpointed frame is the banded index (ids +
        # small keys), the cluster-scale analog of a persisted LSH
        # index.
        banded = banded.localCheckpoint()
    # Per-bucket size/min via a WINDOW, not a groupBy+join: one shuffle
    # on the bucket key instead of three join legs, and the downstream
    # small-bucket groupBy reuses the window's hash partitioning (no
    # second exchange). The window buffers one bucket per container —
    # rows here are (id, small key) only, and the container spills, so
    # even a 10M-row degenerate bucket is a slow spill, not an OOM; the
    # O(n^2) explode that made degenerate buckets FATAL is what the
    # hot path removes.
    w = Window.partitionBy(*key_cols)
    keyed = banded.select(
        *key_cols,
        F.col(id_col).alias("_id"),
        F.count(F.lit(1)).over(w).alias("_bsz"),
        F.min(id_col).over(w).alias("_bmin"),
    ).filter(F.col("_bsz") > 1)

    small = keyed.filter(F.col("_bsz") <= hot_cap)
    small_pairs = (
        small.groupBy(*key_cols)
        .agg(F.collect_list("_id").alias("_ids"))
        .select(F.explode("_ids").alias("a"), "_ids")
        .select("a", F.explode("_ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )

    hot = keyed.filter(F.col("_bsz") > hot_cap)
    if hot_mode == "star":
        # star spans the bucket: O(n) candidates, same connected
        # components as all-pairs; _bmin < id always, so a < b holds
        hot_pairs = hot.filter(F.col("_id") != F.col("_bmin")).select(
            F.col("_bmin").alias("a"), F.col("_id").alias("b")
        )
    else:
        ncell = F.ceil(F.col("_bsz") / F.lit(hot_cap)).cast("int")
        # pair (a, b) is emitted in cell(b): the build (right) side of
        # each (bucket, cell) join group holds ≤ hot_cap rows. Cells
        # are assigned by RANK within the bucket, not id-hash: a hash
        # draw only bounds cell size in expectation, while
        # (row_number - 1) div hot_cap is a deterministic ≤ hot_cap
        # guarantee. The row_number sort buffers one (hot) bucket of
        # (id, small key) rows per container and spills — the same
        # envelope as the stats window above, and sorting only the
        # over-cap slice.
        wn = Window.partitionBy(*key_cols).orderBy("_id")
        right = hot.select(
            *key_cols,
            F.col("_id").alias("b"),
            ((F.row_number().over(wn) - 1) / F.lit(hot_cap))
            .cast("int")
            .alias("_cell"),
        )
        left = hot.select(
            *key_cols,
            F.col("_id").alias("a"),
            F.explode(F.sequence(F.lit(0), ncell - 1)).alias("_cell"),
        )
        hot_pairs = (
            left.join(right, [*key_cols, "_cell"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
        )
    return small_pairs.select("a", "b").unionByName(hot_pairs)


def bucket_overflow_stats(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    hot_cap: int = DEFAULT_HOT_CAP,
    hot_mode: str = "star",
) -> DataFrame:
    """Accounting for the over-cap buckets — the explicit "what was not
    exhaustively paired" report (no silent truncation): one row per hot
    bucket with its size, the candidate pairs the chosen mode emits,
    and the all-pairs count a small bucket would have produced."""
    if hot_mode not in ("star", "grid"):
        raise ValueError(f"hot_mode must be star|grid, got {hot_mode!r}")
    all_pairs = (F.col("_bsz") * (F.col("_bsz") - 1) / 2).cast("long")
    emitted = (
        (F.col("_bsz") - 1).cast("long") if hot_mode == "star" else all_pairs
    )
    return (
        _bucket_stats(banded, key_cols, id_col)
        .filter(F.col("_bsz") > hot_cap)
        .select(
            *key_cols,
            F.col("_bsz").alias("bucket_size"),
            emitted.alias("pairs_emitted"),
            (all_pairs - emitted).alias("pairs_suppressed"),
        )
    )
