"""Distributed suffix ranks via prefix doubling (Manber & Myers 1990 /
the Karp-Miller-Rosenberg doubling scheme), Spark-first.

The suffix-array construction behind exact-substring training-data
dedup (Lee et al. 2022 EXACTSUBSTR): after round k every corpus
position (doc_id, pos) carries the DENSE RANK of its suffix's first
2^k characters in global lexicographic order — equal ranks ⟺ equal
2^k-char prefixes (shorter-suffix padding sorts first, the standard
'\\0'-terminator semantics). Round k+1 re-ranks the pair
(rank(pos), rank(pos + 2^k)) — O(log n) rounds to full suffix order.

Spark mapping, per round:
  - the "next-half rank" is a per-document window LEAD (suffixes never
    cross documents), bounded by document length — never a corpus-wide
    sort;
  - the global dense rank runs on the DISTINCT pair frame via the
    two-level scheme (sampling.shuffle_positions discipline):
    range-repartition the classes, rank locally per partition, add
    broadcast cumulative offsets from the tiny (partition, count)
    frame. No stage ever holds the corpus — or even the class table —
    in one task;
  - each round's state is localCheckpoint-tracked and the superseded
    round released as soon as the next materializes (the CC/PageRank
    loop discipline, operators/dedup.py:duplicate_clusters).

What this buys over the fixed-window detector
(dedup.substring_dup_stats): arbitrary-length repeat structure — e.g.
per-document "longest repeated substring ≥ 2^k" without picking the
window in advance — and the full SA order for LCP / binary-search
consumers. For the fixed-length removal rule itself, the two-shuffle
substring_dup_stats is the cheaper tool; both are exposed.

Correctness gates: brute-force single-node rank comparison and an
independent substring-counting oracle for the q18 branch
(repeated_prefix_lengths) — the oracle does NOT mirror the doubling,
it counts actual substrings, so a doubling bug cannot hide.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .parallelize import local_checkpoint_tracked, release_rdds, spread_for_cpu


def _dense_rank_on(df: DataFrame, cols: list[str], out: str) -> tuple[DataFrame, set[int]]:
    """Global dense rank of ``cols`` tuples WITHOUT a single-partition
    sort: distinct tuples → range-repartition (ordered, skew-sampled
    ranges) → per-partition local row_number + broadcast cumulative
    offsets over the tiny (partition, count) frame. The distinct class
    frame is checkpointed so the partition ids the offsets were counted
    from are frozen across the re-read. Returns (df ⋈ rank, pinned ids
    for the caller to release)."""
    keys = (
        df.select(*cols)
        .distinct()
        .repartitionByRange(*[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    keys, ids = local_checkpoint_tracked(keys)
    w_local = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in cols])
    local = keys.withColumn("_lr", F.row_number().over(w_local))
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    # single-partition window over ≤ shuffle-partition-count rows
    offs = counts.select(
        "_pid",
        (
            F.sum("_c").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("_c")
        ).alias("_off"),
    )
    ranked = local.join(F.broadcast(offs), "_pid").select(
        *cols, (F.col("_lr") + F.col("_off")).cast("long").alias(out)
    )
    return df.join(ranked, cols), ids


def corpus_positions(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, rem, ch): one row per character of every non-NULL
    document; pos is 1-based, rem the suffix length. Position explode
    + substring stay in one whole-stage-codegen map stage (a
    transform-lambda char array was the first shape — higher-order
    lambdas are CodegenFallback, interpreted per element, the round-5
    DSIR trap; text is duplicated only through the pipelined iterator,
    never shuffled)."""
    # the per-character explode + substring is the heaviest pre-shuffle
    # map in this module — an under-parallel scan (small file count)
    # would serialize it onto one core (spread is a no-op at scale)
    return (
        spread_for_cpu(documents.filter(F.col("text").isNotNull()))
        .select(
            "doc_id",
            "text",
            F.length("text").alias("_n"),
            F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            (F.col("_n") - F.col("pos") + 1).cast("long").alias("rem"),
            F.expr("substring(text, pos, 1)").alias("ch"),
        )
    )


def _rank_rounds(
    documents: DataFrame, rounds: int
) -> Iterator[tuple[int, DataFrame, set[int]]]:
    """Yield (k, state, pinned_ids) for k = 0..rounds where state is
    (doc_id, pos, rem, r) with r the dense 2^k-prefix rank. The caller
    owns the release lifecycle (it knows whether it still reads the
    yielded round)."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    spark = documents.sparkSession
    state, ids = _dense_rank_on(corpus_positions(documents), ["ch"], "r")
    state = state.select("doc_id", "pos", "rem", "r")
    state, cids = local_checkpoint_tracked(state)
    ids |= cids
    yield 0, state, ids
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    for k in range(1, rounds + 1):
        d = 1 << (k - 1)
        paired = state.withColumn(
            "r2", F.coalesce(F.lead("r", d).over(w_doc), F.lit(0).cast("long"))
        )
        nxt, nids = _dense_rank_on(paired, ["r", "r2"], "rn")
        nxt = nxt.select("doc_id", "pos", "rem", F.col("rn").alias("r"))
        nxt, cids = local_checkpoint_tracked(nxt)
        nids |= cids
        yield k, nxt, nids
        state = nxt


def suffix_ranks(documents: DataFrame, rounds: int = 5) -> DataFrame:
    """(doc_id, pos, rem, rank): dense global rank of each suffix's
    first 2^rounds characters. Intermediate rounds are released as they
    are superseded; the final round's blocks stay pinned for the
    result's lifetime (until the caller's sweep or GC)."""
    spark = documents.sparkSession
    prev_ids: set[int] | None = None
    state = None
    for _k, state, ids in _rank_rounds(documents, rounds):
        # each round's checkpoint is eager (already materialized when
        # yielded) — drop the superseded round immediately
        if prev_ids:
            release_rdds(spark, prev_ids)
        prev_ids = ids
    return state.select("doc_id", "pos", "rem", F.col("r").alias("rank"))


def prefix_label_frame(documents: DataFrame, rounds: int) -> DataFrame:
    """KMR fingerprint doubling (Karp, Miller & Rosenberg 1972), the
    rank-free sibling of :func:`suffix_ranks`: column h{k} is a 64-bit
    EQUALITY label of the 2^k-char prefix of the suffix at
    (doc_id, pos) — h{k} = xxhash64(h{k-1}(pos), h{k-1}(pos+2^{k-1})),
    where a missing second half (suffix shorter than 2^{k-1}) is a
    NULL that xxhash64 folds consistently: every short suffix of the
    same content maps to the same label and chance-level to anything
    else. Labels give equality classes without global order, which is
    all duplicate DETECTION needs — so the whole ladder is ONE frame:
    every lead() shares the same per-document window spec (one sort),
    every label is native codegen hashing, and no round shuffles,
    distincts, or checkpoints. Returns (doc_id, pos, rem,
    h0..h{rounds}).

    Native xxhash64 (not md5) is deliberate: labels never cross the
    engine boundary — q18's oracle counts actual substrings, an
    independent formulation — and the md5 form was measured 5x slower
    (hex-string construction per level; ~7.5M md5 calls at sf0.1).
    Collision odds stay chance-level (64-bit labels; detection-only —
    the ordered :func:`suffix_ranks` path is exact)."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    frame = corpus_positions(documents).withColumn(
        "h0", F.xxhash64("ch")
    ).drop("ch")
    for k in range(1, rounds + 1):
        d = 1 << (k - 1)
        frame = frame.withColumn(
            f"h{k}",
            F.xxhash64(F.col(f"h{k - 1}"), F.lead(f"h{k - 1}", d).over(w_doc)),
        )
    return frame


def repeated_prefix_lengths(documents: DataFrame, rounds: int = 5) -> DataFrame:
    """Per-document longest power-of-two repeated-substring length:
    sa_rep_len = max L ∈ {1, 2, 4, …, 2^rounds} such that some
    position of the doc (with ≥ L chars remaining) shares its exact
    L-char substring with ANY other corpus position (other doc or
    same doc — the Lee et al. repeat statistic, length-adaptive
    instead of fixed-window). 0 when even no single character
    repeats; NULL for NULL-text docs.

    Counted in LONG format with DIRECT substring labels: detection
    only needs within-level equality, and every counted row passes the
    rem ≥ 2^k filter (full-length substrings only), so
    h = xxhash64(substring(text, pos, 2^k)) yields exactly the
    equality classes of the KMR chain (:func:`prefix_label_frame`) —
    WITHOUT the chain's per-document window, i.e. without shuffling
    and sorting the corpus-wide char-exploded frame by doc_id at all
    (~30 B/char, the heaviest exchange of the old shape; the ladder is
    now pure map-side codegen off the scan, ≤ 63 hashed bytes per
    position). Within-doc repeats then collapse BEFORE the label
    shuffle: a (k, h, doc_id) groupBy with map-side partial
    aggregation dedups the long frame (level 0 is single chars —
    dozens of distinct labels per doc against thousands of positions),
    ONE window sum over (k, h) restores corpus-wide occurrence totals,
    and one per-doc groupBy takes the max satisfied level. Two
    deduped uniform-key shuffles + one doc-key shuffle, no joins, no
    sorts of the raw char frame, no iterative checkpoints."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    length = F.call_function("shiftleft", F.lit(1).cast("long"), F.col("k"))
    # spread: the char explode + per-level substring hashing is the
    # heavy map and runs before the first shuffle (no-op at scale)
    base = spread_for_cpu(documents.filter(F.col("text").isNotNull()))
    chars = base.select(
        "doc_id",
        "text",
        F.length("text").alias("_n"),
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
    )
    # when() guards keep truncated levels unhashed; the rem filter
    # below is what defines the counted set (identical to the old
    # shape's arithmetic, including the empty-text pos=0 edge row)
    rem = (F.col("_n") - F.col("pos") + 1).cast("long")
    arr = F.array(
        *[
            F.when(
                rem >= (1 << k),
                F.xxhash64(F.expr(f"substring(text, pos, {1 << k})")),
            )
            for k in range(rounds + 1)
        ]
    )
    long = (
        chars.select(
            "doc_id",
            rem.alias("rem"),
            F.posexplode(arr).alias("k", "h"),
        )
        .filter(F.col("rem") >= length)
        .select("doc_id", "k", "h")
    )
    per_doc = (
        long.groupBy("k", "h", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_t", F.sum("_c").over(Window.partitionBy("k", "h")))
        .filter(F.col("_t") > 1)
        .select("doc_id", length.alias("_l"))
        .groupBy("doc_id")
        .agg(F.max("_l").alias("sa_rep_len"))
    )
    return (
        documents.select(
            "doc_id", F.col("text").isNotNull().alias("_has_text")
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("_has_text"), F.coalesce(F.col("sa_rep_len"), F.lit(0))
            )
            .cast("long")
            .alias("sa_rep_len"),
        )
    )
