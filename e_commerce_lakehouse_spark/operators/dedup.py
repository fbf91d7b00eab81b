"""Deduplication operators for training-data pipelines.

Four tiers, increasing recall / cost:
  1. exact_dedup        — md5 of normalized text, keep min doc_id.
  2. ngram_jaccard_pairs— exact token-set Jaccard over a candidate set.
  3. minhash_lsh_pairs  — MinHash signatures + LSH banding: near-dup
                          candidates without the O(N²) cross join.
  4. simhash            — 64-bit SimHash fingerprint; near-dups differ
                          in few bits.

Determinism: every hash is derived from md5 (bit-identical across
engines and runs) — never engine-native hash(). All similarity scores
are exact-integer divisions.

Scale notes (100 TB):
  - exact_dedup: one shuffle on the 128-bit digest — the canonical
    map-side-combine groupBy; skew impossible (hash keys uniform).
  - minhash_lsh: per-row signature (cheap map) → explode bands (xB rows)
    → bounded bucket-mate pairing (operators/buckets.py) → exact
    Jaccard verification only on candidates. Band-hash keys are NOT
    uniformly small on real corpora (boilerplate classes collide on
    every band); over-cap buckets switch to star/grid pairing with
    explicit overflow accounting instead of a single-task collect_list.
  - ngram_jaccard_pairs on a full corpus is quadratic — use only on a
    bounded candidate set (LSH buckets or a sampled probe set).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import buckets
from .parallelize import spread_for_cpu
from .text import tokens

# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Group by md5(lower(trim(text))); keep the smallest doc_id as the
    canonical representative, count the duplicates."""
    return (
        documents.select(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Exact n-gram / token-set Jaccard
# ---------------------------------------------------------------------------


def token_set(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def ngram_set(col: Column | str, n: int) -> Column:
    """Distinct word n-grams as join(' ') strings. Built with
    transform over index positions — pure Column ops, no UDF. Docs
    shorter than ``n`` tokens yield [] (guarded: Spark's sequence(0,
    negative) would otherwise produce a DESCENDING range and feed
    slice() a 0 start, which errors)."""
    toks = tokens(col)
    if n == 1:
        return F.array_distinct(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays: |∩| / |∪| with
    integer sizes → one exact double division."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union.cast("double")


def ngram_jaccard_pairs(
    documents: DataFrame,
    probe_max_doc_id: int,
    threshold_pct: int = 50,
    n: int = 1,
) -> DataFrame:
    """Exact Jaccard similarity of every probe doc (doc_id <
    probe_max_doc_id) against every later doc, keeping pairs ≥
    threshold. The probe bound keeps this linear in corpus size; at
    scale the probe set is an LSH bucket, not an id range.

    threshold is integer percent so the filter is exact:
    100*|∩| ≥ t*|∪| avoids float comparison entirely.
    """
    setcol = token_set("text") if n == 1 else ngram_set("text", n)
    left = documents.filter(F.col("doc_id") < probe_max_doc_id).select(
        F.col("doc_id").alias("a_id"), setcol.alias("a_set")
    )
    # the corpus side does all the per-pair set work — make sure a
    # small scan doesn't serialize it onto one core
    right = spread_for_cpu(documents).select(
        F.col("doc_id").alias("b_id"), setcol.alias("b_set")
    )
    # broadcast the bounded probe side; the corpus side streams through once
    pairs = right.join(F.broadcast(left), F.col("a_id") < F.col("b_id"))
    inter = F.size(F.array_intersect(F.col("a_set"), F.col("b_set")))
    union = F.size("a_set") + F.size("b_set") - inter
    return (
        pairs.select(
            "a_id",
            "b_id",
            inter.alias("inter_size"),
            union.alias("union_size"),
        )
        .filter(F.col("inter_size") * 100 >= F.col("union_size") * threshold_pct)
        .select(
            "a_id",
            "b_id",
            (F.col("inter_size").cast("double") / F.col("union_size").cast("double")).alias(
                "jaccard"
            ),
        )
    )


# Published decontamination rules, exposed as presets. The GPT-3 paper
# (Brown et al. 2020, appendix C) filters on 13-gram collisions — ONE
# shared 13-gram flags the document; later reports (PaLM, GPT-4, Llama)
# use the same single-hit rule over 8–13-gram windows. The default
# (n=2, min_overlap=10) is this engine's exact-count mode — tighter
# grams but requiring substantial overlap.
DECONTAMINATION_PRESETS: dict[str, dict[str, int]] = {
    "gpt3_13gram": {"n": 13, "min_overlap": 1},
    "8gram_single_hit": {"n": 8, "min_overlap": 1},
}


def contamination_pairs(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 2,
    min_overlap: int = 10,
    preset: str | None = None,
) -> DataFrame:
    """Benchmark DECONTAMINATION — the train/eval-overlap gate every
    LLM data pipeline runs before training: flag corpus docs sharing at
    least ``min_overlap`` distinct word ``n``-grams with any benchmark
    doc. One row per contaminated (doc_id, bench_id) pair with the
    exact shared-gram count (both gram sets are distinct, so a plain
    count of gram-join hits IS |intersection|).

    ``preset`` overrides (n, min_overlap) with a published rule from
    :data:`DECONTAMINATION_PRESETS` — e.g. ``"gpt3_13gram"`` is the
    GPT-3/PaLM-style single-hit 13-gram filter: any one verbatim
    13-gram shared with an eval doc marks the pair.

    100 TB shape: the benchmark side is small by definition (eval sets)
    — its exploded gram table broadcasts; the corpus side explodes
    map-side and joins without shuffling the corpus; the only shuffle
    is the groupBy on matched (doc, bench) pairs, bounded by true
    overlap. No N x M document cross join at any scale.
    """
    if preset is not None:
        if preset not in DECONTAMINATION_PRESETS:
            raise ValueError(
                f"unknown preset {preset!r}; have {sorted(DECONTAMINATION_PRESETS)}"
            )
        cfg = DECONTAMINATION_PRESETS[preset]
        n, min_overlap = cfg["n"], cfg["min_overlap"]
    bg = benchmark.select(
        F.col("doc_id").alias("bench_id"),
        F.explode(ngram_set("text", n)).alias("gram"),
    )
    cg = documents.select("doc_id", F.explode(ngram_set("text", n)).alias("gram"))
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_overlap)
    )


def _bloom_positions(
    gram: Column, m_bits: int, k: int, spec: str = "md5"
) -> list[Column]:
    """The k bit positions of a gram under one of two specs:

    - ``"md5"`` (default): all positions from ONE md5
      (Kirsch-Mitzenmacher-style) — position i is hex digits
      [1+7i, 7+7i) of md5('bloom:' || gram) mod m_bits, 28 bits per
      slice, k <= 4. Engine-portable (DuckDB renders the identical
      chain), so it's the spec for ORACLE-gated filters (q19
      contamination, the streaming gate).
    - ``"xxh64"``: Kirsch-Mitzenmacher-style double hashing over two
      native xxhash64 draws combined with overflow-free bit math,
      pos_i = pmod(h1 XOR (h2 >> i), m_bits) — no add/mul, so ANSI
      mode can't trip. ~5x faster per row than md5+conv (conv
      dominates the md5 spec — the same measurement that drove the
      KMR label rewrite). NOT renderable in the oracle; for
      IDENTITY-gated uses where false positives die in an exact join
      (bloom_semi_join), the spec is free to be fast.
    """
    if spec == "md5":
        if not 1 <= k <= 4:
            raise ValueError(
                f"k must be in [1, 4] (positions are 7-hex slices of one md5), got {k}"
            )
        h = F.md5(F.concat(F.lit("bloom:"), gram))
        return [
            F.conv(F.substring(h, 1 + 7 * i, 7), 16, 10).cast("long") % m_bits
            for i in range(k)
        ]
    if spec == "xxh64":
        if not 1 <= k <= 63:
            # k=0 builds an empty predicate; k>63 wraps Java's shift
            # amount and silently duplicates positions
            raise ValueError(f"k must be in [1, 63] for the xxh64 spec, got {k}")
        h1 = F.xxhash64(F.lit("bloomA"), gram)
        h2 = F.xxhash64(F.lit("bloomB"), gram)
        return [
            F.pmod(
                h1.bitwiseXOR(F.shiftright(h2, i)), F.lit(m_bits)
            ).cast("long")
            for i in range(k)
        ]
    raise ValueError(f"spec must be md5|xxh64, got {spec!r}")


def bloom_filter_build(
    grams: DataFrame,
    gram_col: str = "gram",
    m_bits: int = 16384,
    k: int = 4,
    spec: str = "md5",
) -> list[int]:
    """Distributed Bloom-filter build over a gram frame: each gram sets
    ``k`` bit positions, all derived from ONE md5 per gram
    (:func:`_bloom_positions` — 7-hex slices of md5('bloom:'||gram),
    mod ``m_bits``); bits pack 64-per-word via
    one (word_idx → bit_or) groupBy — m_bits/64 rows cross to the
    driver regardless of input size. Returns the dense int64 word list
    (the m_bits/8-byte artifact — e.g. 2 KB at the defaults). m_bits
    must be a power of two (positions split as pos>>6 / pos&63)."""
    if m_bits & (m_bits - 1) or m_bits < 64:
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    pos = grams.select(
        F.explode(
            F.array(*_bloom_positions(F.col(gram_col), m_bits, k, spec))
        ).alias("pos")
    )
    words = (
        pos.select(
            F.shiftright("pos", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[int(r.w)] = int(r.bits)
    return arr


def bloom_merge(*blooms: list[int]) -> list[int]:
    """Union Bloom filters built with identical (m_bits, k): bitwise OR
    per word is the lossless Bloom union — membership of the merged
    filter equals membership of the filter built over the combined
    gram sets (OR is associative, 0-words the identity). Completes the
    sketch-merge algebra next to countmin_merge (cell sum) and
    hll_merge_registers (register max)."""
    if not blooms:
        raise ValueError("bloom_merge needs at least one filter")
    n = len(blooms[0])
    if any(len(b) != n for b in blooms):
        raise ValueError("bloom_merge: filters differ in m_bits")
    out = list(blooms[0])
    for b in blooms[1:]:
        for i, w in enumerate(b):
            out[i] |= w
    return out


def bloom_contaminated(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 2,
    m_bits: int = 16384,
    k: int = 4,
) -> DataFrame:
    """Constant-memory benchmark decontamination: flag corpus docs with
    at least one distinct ``n``-gram whose ``k`` Bloom bits are all
    set in the filter built from the benchmark's grams — the classic
    scale alternative to :func:`contamination_pairs`'s broadcast gram
    join when the "benchmark" side is itself large (e.g. a whole held-
    out corpus): the filter is m_bits/8 bytes REGARDLESS of its
    cardinality, rides the task closure as a literal array, and the
    membership test is pure Column bit arithmetic (codegen).

    Bloom semantics are honest and DETERMINISTIC: false positives are
    a fixed function of the hash spec, so the same spec rendered for
    the DuckDB oracle reproduces the flag set bit-for-bit (position
    membership against the benchmark's set-bit set). Returns
    (doc_id, n_flagged_grams) — one row per flagged doc; the only
    shuffle is the per-doc count, bounded by flagged grams."""
    bloom = bloom_filter_build(
        benchmark.select(F.explode(ngram_set("text", n)).alias("gram")),
        m_bits=m_bits,
        k=k,
    )
    cg = documents.select(
        "doc_id", F.explode(ngram_set("text", n)).alias("gram")
    )
    return (
        bloom_member(cg, "gram", bloom, m_bits=m_bits, k=k)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
    )


def bloom_hit(
    gram: Column,
    bloom: list[int],
    m_bits: int = 16384,
    k: int = 4,
    spec: str = "md5",
) -> Column:
    """Pure-Column Bloom membership predicate: true iff every one of
    ``gram``'s ``k`` bit positions is set in the literal filter array.
    STATELESS (the filter rides the expression as a literal), so it
    composes anywhere a Column does — batch filters, higher-order
    lambdas (``F.exists`` over a gram array), and Structured Streaming
    projections unchanged: the stream-side decontamination gate is
    this exact predicate on the parsed stream."""
    arr = F.lit([int(w) for w in bloom])  # true array Literal, not per-row CreateArray
    cond = None
    for pos in _bloom_positions(gram, m_bits, k, spec):
        word = F.element_at(arr, F.shiftright(pos, 6).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), pos.bitwiseAND(F.lit(63)).cast("int")
        )
        c = word.bitwiseAND(mask) != 0
        cond = c if cond is None else (cond & c)
    return cond


def bloom_member(
    df: DataFrame,
    col: str,
    bloom: list[int],
    m_bits: int = 16384,
    k: int = 4,
) -> DataFrame:
    """Keep the rows whose ``col`` value hits every one of its ``k``
    Bloom bits (:func:`bloom_hit` as a frame-level filter)."""
    return df.filter(bloom_hit(F.col(col), bloom, m_bits=m_bits, k=k))


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------


def _md5_hash64(col: Column, seed: int) -> Column:
    """Deterministic 64-bit-ish hash: first 15 hex digits of
    md5(seed || ':' || value) parsed base-16 (fits a signed long)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


MERSENNE61 = (1 << 61) - 1


def minhash_signature(
    documents: DataFrame, num_hashes: int = 16, shingle: int = 3
) -> DataFrame:
    """MinHash signature per document via double hashing: one md5 per
    shingle yields (h1, h2); family member i is (h1 + i·h2') mod M —
    the standard Broder construction, 1 digest instead of num_hashes
    digests per shingle (16× less hashing than seed-prefix minhash;
    that exact-seed variant remains in the q23 oracle query).

    Hashing is over word ``shingle``-grams (default 3), not unigrams:
    on small-vocabulary corpora unigram sets are all mutually similar,
    so LSH buckets degenerate toward O(N²) candidates; the shingle
    space is |V|^n and similarity concentrates on true near-dups.

    h2 is reduced mod 2^31 so i·h2' + h1 stays inside signed-64.
    """
    sm = minhash_sig_udf(num_hashes, shingle)
    return (
        documents.select("doc_id", sm("text").alias("signature"))
        .filter(F.size("signature") > 0)
    )


def _shingles(text: str, shingle: int) -> list[str]:
    """Distinct word n-grams, first-occurrence order — the Python
    mirror of ``ngram_set`` (tokens = split(text, ' ')). Docs shorter
    than ``shingle`` tokens yield [] (the explode plan dropped them)."""
    if text is None:
        return []  # null-propagate like the old SQL formulation (dirty corpora)
    toks = text.split(" ")
    if len(toks) < shingle:
        return []
    return list(
        dict.fromkeys(
            " ".join(toks[i : i + shingle]) for i in range(len(toks) - shingle + 1)
        )
    )


def minhash_sig_udf(num_hashes: int = 16, shingle: int = 3):
    """text -> array<long> Broder MinHash signature in ONE Arrow-batched
    pass — a pure map: no explode, no groupBy-mins shuffle, and only
    ``num_hashes`` longs per doc cross the Arrow boundary.

    Identical math to the SQL/oracle formulation (and to the previous
    explode+MIN plan): shingles = distinct n-gram join(' '); per shingle
    h1 = int(md5_hex[0:15], 16), h2 = int(md5_hex[16:31], 16) mod 2^31;
    member i = (h1 + i*h2) mod MERSENNE61; sig[i] = min over shingles.
    Python ints are exact and the int64 intermediates fit (h1 < 2^60,
    i*h2 < 2^36). The earlier JVM-side explode+16-column-MIN plan spent
    most of its time in interpreted higher-order-function shingle
    construction; this kernel batches through hashlib/numpy (C-backed).
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def sm(text: pd.Series) -> pd.Series:
        ks = np.arange(num_hashes, dtype=np.int64)
        # grams repeat heavily across documents (shared vocabulary), so
        # memoize gram -> (h1, h2) per Arrow batch: md5 + hex-parse run
        # once per DISTINCT gram, not once per occurrence
        cache: dict[str, tuple[int, int]] = {}
        sigs: list[list[int]] = []
        for t in text:
            grams = _shingles(t, shingle)
            if not grams:
                sigs.append([])
                continue
            h1 = np.empty(len(grams), dtype=np.int64)
            h2 = np.empty(len(grams), dtype=np.int64)
            for idx, g in enumerate(grams):
                v = cache.get(g)
                if v is None:
                    hx = hashlib.md5(g.encode()).hexdigest()
                    v = (int(hx[:15], 16), int(hx[16:31], 16) % (1 << 31))
                    cache[g] = v
                h1[idx], h2[idx] = v
            members = (h1[:, None] + ks[None, :] * h2[:, None]) % MERSENNE61
            sigs.append([int(v) for v in members.min(axis=0)])
        return pd.Series(sigs)

    # deterministic in fact — flagged nondeterministic so Catalyst never
    # duplicates the eval or pushes a re-evaluating filter below the
    # spread_for_cpu exchange (that re-runs the kernel single-partition)
    return sm.asNondeterministic()


def minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold_pct: int = 50,
    shingle: int = 3,
    sigs: DataFrame | None = None,
    hot_cap: int = buckets.DEFAULT_HOT_CAP,
    hot_mode: str = "star",
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via LSH banding + exact Jaccard verification.

    Pipeline: signature (map) → explode into ``bands`` band-keys
    (band index + md5 of that signature slice) → bounded bucket-mate
    pairing (operators/buckets.py) → exact Jaccard on candidates.

    At 100 TB this is THE near-dup plan: the only shuffles are on
    band-hash keys and candidate pairs are a tiny fraction of N².
    Band-hash buckets are NOT uniformly small on real corpora —
    boilerplate/near-identical documents collide on every band, so one
    bucket can hold an entire duplicate class. Pairing therefore goes
    through ``bucket_mate_pairs``: exact all-pairs up to ``hot_cap``
    members, then connectivity-preserving star pairing (or exact
    grid-split pairing with ``hot_mode="grid"``) with overflow
    accounting via ``lsh_bucket_overflow``.

    ``sigs`` lets callers pass a precomputed/persisted signature frame
    (doc_id, signature) — e.g. ``corpus_cache.shared_df`` — so several
    queries over the same corpus hash it once, not once each; ``banded``
    goes one step further and shares the MATERIALIZED band index itself.
    When ``banded`` is given, ``num_hashes``/``bands``/``sigs`` are
    IGNORED (the index fixes them) and the frame MUST already be
    checkpointed/cached — it is consumed by both pairing branches, and
    an unmaterialized kernel frame would re-run per branch.
    """
    documents = spread_for_cpu(documents)
    already_materialized = banded is not None
    if banded is None:
        if sigs is None:
            sigs = minhash_signature(documents, num_hashes, shingle)
        banded = _minhash_banded(sigs, num_hashes, bands)
    else:
        _check_banded_schema(banded)

    candidates = buckets.bucket_mate_pairs(
        banded,
        ["band", "band_key"],
        "doc_id",
        hot_cap=hot_cap,
        hot_mode=hot_mode,
        materialize_input=not already_materialized,
    ).withColumnsRenamed({"a": "a_id", "b": "b_id"}).distinct()

    # exact-verify side: join the candidate pairs (tiny at scale) back
    # to the two texts and compute shingle-set Jaccard per pair in one
    # Arrow kernel — candidates is referenced once, so the signature
    # pass over the full corpus runs exactly once.
    txt = documents.select("doc_id", "text")
    pairs = candidates.join(
        txt.withColumnsRenamed({"doc_id": "a_id", "text": "a_text"}), "a_id"
    ).join(txt.withColumnsRenamed({"doc_id": "b_id", "text": "b_text"}), "b_id")
    iu = jaccard_iu_udf(shingle)
    return (
        pairs.select("a_id", "b_id", iu("a_text", "b_text").alias("_iu"))
        .select("a_id", "b_id", F.col("_iu.i").alias("i"), F.col("_iu.u").alias("u"))
        .filter(F.col("i") * 100 >= F.col("u") * threshold_pct)
        .select(
            "a_id",
            "b_id",
            (F.col("i").cast("double") / F.col("u").cast("double")).alias("jaccard"),
        )
    )


def lsh_bucket_overflow(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    sigs: DataFrame | None = None,
    hot_cap: int = buckets.DEFAULT_HOT_CAP,
    hot_mode: str = "star",
) -> DataFrame:
    """Accounting report for ``minhash_lsh_pairs``'s over-cap buckets:
    one row per degenerate band bucket (band, band_key, bucket_size,
    pairs_emitted, pairs_suppressed). Empty on healthy corpora; at
    web scale these rows are the boilerplate-class dedup report."""
    if sigs is None:
        sigs = minhash_signature(spread_for_cpu(documents), num_hashes, shingle)
    return buckets.bucket_overflow_stats(
        _minhash_banded(sigs, num_hashes, bands),
        ["band", "band_key"],
        "doc_id",
        hot_cap=hot_cap,
        hot_mode=hot_mode,
    )


def _check_banded_schema(banded: DataFrame) -> None:
    """Cheap contract check for caller-supplied band indexes: the
    column shape must match ``_minhash_banded`` output. (Band-count/
    hash-count mismatches are not detectable without an action — the
    index fixes those parameters; see the ``banded`` docstrings.)"""
    missing = {"doc_id", "band", "band_key"} - set(banded.columns)
    if missing:
        raise ValueError(
            f"banded index is missing columns {sorted(missing)}; expected "
            "_minhash_banded output (doc_id, band, band_key)"
        )


def _minhash_banded(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, band_key) — one row per document per band; the
    band key is md5 of that signature slice."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("signature", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")


def minhash_lsh_incremental(
    documents: DataFrame,
    new_min_doc_id: int,
    num_hashes: int = 16,
    bands: int = 4,
    threshold_pct: int = 50,
    shingle: int = 3,
    sigs: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Delta-ingestion near-dup ADMISSION: every doc with doc_id ≥
    ``new_min_doc_id`` is "arriving" and is admitted iff no earlier doc
    (smaller doc_id — corpus OR an earlier arrival) is a near-dup at
    ``threshold_pct``. One row per new doc: (doc_id, n_dup_partners,
    best_match_id, best_jaccard, admitted).

    This is the 100 TB ingestion path the full-corpus pair join (q25)
    is NOT: the banded signature table is the persisted index
    (materialized once here via localCheckpoint — its real-world analog
    is a bucketed table), only NEW docs probe it, and old×old candidate
    pairs are never generated, so per-batch cost tracks the delta size,
    not the corpus size.

    Degenerate-corpus note: a new doc probing a boilerplate class
    yields O(class size) candidates because ``n_dup_partners`` COUNTS
    the verified partners — that is the requested semantics, and the
    downstream count/max aggregation is partial-agg safe (no
    collect_list, no single-task bucket materialization). Pipelines
    that only need admission (any partner exists) on clone-heavy
    corpora should pre-dedup the index with ``exact_dedup`` or the
    hot-capped ``minhash_lsh_pairs`` star path first.
    """
    documents = spread_for_cpu(documents)
    if banded is None:
        if sigs is None:
            sigs = minhash_signature(documents, num_hashes, shingle)
        # the index side and the probe side both read this — materialize
        # so the signature kernel runs once (a self-join on a UDF-derived
        # frame re-evaluates the subtree). Callers with a persisted/
        # cached band index (corpus_cache) pass it via ``banded``
        # (num_hashes/bands/sigs are then ignored — the index fixes them
        # — and the frame must already be materialized).
        banded = _minhash_banded(sigs, num_hashes, bands).localCheckpoint()
    else:
        _check_banded_schema(banded)
    probe = banded.filter(F.col("doc_id") >= new_min_doc_id).select(
        F.col("doc_id").alias("b_id"),
        F.col("band").alias("p_band"),
        F.col("band_key").alias("p_key"),
    )
    candidates = (
        banded.join(
            probe,
            (F.col("band") == F.col("p_band"))
            & (F.col("band_key") == F.col("p_key"))
            & (F.col("doc_id") < F.col("b_id")),
        )
        .select(F.col("doc_id").alias("a_id"), "b_id")
        .distinct()
    )
    txt = documents.select("doc_id", "text")
    iu = jaccard_iu_udf(shingle)
    pairs = (
        candidates.join(
            txt.withColumnsRenamed({"doc_id": "a_id", "text": "a_text"}), "a_id"
        )
        .join(txt.withColumnsRenamed({"doc_id": "b_id", "text": "b_text"}), "b_id")
        .select("a_id", "b_id", iu("a_text", "b_text").alias("_iu"))
        .select("a_id", "b_id", F.col("_iu.i").alias("i"), F.col("_iu.u").alias("u"))
        .filter(F.col("i") * 100 >= F.col("u") * threshold_pct)
        .select(
            "a_id",
            "b_id",
            (F.col("i").cast("double") / F.col("u").cast("double")).alias("jaccard"),
        )
    )
    verdicts = pairs.groupBy("b_id").agg(
        F.count(F.lit(1)).alias("n_dup_partners"),
        F.max_by(
            F.struct(F.col("a_id").alias("mid"), F.col("jaccard").alias("mj")),
            F.struct(F.col("jaccard").alias("j"), (-F.col("a_id")).alias("na")),
        ).alias("best"),
    )
    new_docs = documents.filter(F.col("doc_id") >= new_min_doc_id).select("doc_id")
    return (
        new_docs.join(verdicts, new_docs.doc_id == verdicts.b_id, "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_partners", F.lit(0)).alias("n_dup_partners"),
            F.col("best.mid").alias("best_match_id"),
            F.col("best.mj").alias("best_jaccard"),
            F.col("n_dup_partners").isNull().alias("admitted"),
        )
    )


def jaccard_iu_udf(shingle: int = 3):
    """(text_a, text_b) -> struct<i: long, u: long>: exact shingle-set
    intersection / union sizes (integer — the Jaccard itself is one
    exact double division JVM-side)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<i: long, u: long>")
    def iu(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        out_i, out_u = [], []
        for ta, tb in zip(a, b):
            sa, sb = set(_shingles(ta, shingle)), set(_shingles(tb, shingle))
            inter = len(sa & sb)
            out_i.append(inter)
            out_u.append(len(sa) + len(sb) - inter)
        return pd.DataFrame({"i": out_i, "u": out_u})

    return iu.asNondeterministic()  # see minhash_sig_udf note


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash over the token set: per bit, sum +1/-1 votes from each
    token's md5-derived hash; bit set iff the vote is positive.

    Expressed as aggregate over the token array per bit — stays in
    codegen. bits≤62 keeps the fingerprint in one signed BIGINT.
    """
    sh = simhash_udf(bits)
    return spread_for_cpu(documents).select("doc_id", sh("text").alias("simhash"))


def simhash_udf(bits: int = 32):
    """text -> BIGINT SimHash, Arrow-batched. Same math as the previous
    higher-order-function formulation (that one ran interpreted —
    CodegenFallback — at O(tokens × bits) lambda dispatches): per
    distinct token h = int(md5('0:'||tok)_hex[0:15], 16); vote_i is ±1
    on bit i of h; fingerprint bit i set iff Σ votes_i > 0."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sh(text: pd.Series) -> pd.Series:
        idx = np.arange(bits, dtype=np.int64)
        out = []
        for t in text:
            toks = set() if t is None else set(t.split(" "))
            h = np.fromiter(
                (
                    int(hashlib.md5(f"0:{tok}".encode()).hexdigest()[:15], 16)
                    for tok in toks
                ),
                dtype=np.int64,
                count=len(toks),
            )
            votes = (2 * ((h[:, None] >> idx) & 1) - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.int64) << idx).sum()))
        return pd.Series(out)

    return sh.asNondeterministic()  # see minhash_sig_udf note


def simhash_edit_pairs(
    documents: DataFrame,
    probe_max_doc_id: int = 20,
    bits: int = 32,
    band_bits: int = 8,
    threshold_pct: int = 30,
    max_edit: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Char-level near-dup pairs: SimHash byte-band blocking + exact
    Levenshtein verify — the edit-distance tier between whole-doc md5
    (q21) and token-set Jaccard (q22/q25). Probe docs (doc_id <
    ``probe_max_doc_id``) pair with any later doc sharing a
    ``band_bits``-wide SimHash slice (Hamming-LSH blocking: d Hamming
    errors corrupt at most d bands); kept iff lev(a,b)*100 <=
    threshold_pct*max(len). The probe bound keeps the verify linear in
    corpus size — at scale the probe set is a delta batch, as in
    ``minhash_lsh_incremental``.

    Verify-path cost controls (results unchanged, all codegen, no
    Python): a length prefilter (lev >= |len_a-len_b|, so wide-length
    pairs can't pass) runs before the DP, and the DP itself is Spark's
    banded 3-arg levenshtein, O(max_edit·len) per pair. ``max_edit``
    must be >= threshold_pct% of the longest doc (-1 sentinel rows are
    exactly the rows the threshold filter drops, so the bound never
    changes results). Default (None) derives the bound from the corpus:
    ceil(threshold_pct% · max doc length) via one scalar aggregate —
    aggregated state like the k-means driver scalars, not a data
    collect. A hardcoded bound would silently drop true pairs on a
    corpus with longer docs.
    """
    if max_edit is None:
        # n_chars metadata when present (cheap narrow scan); text length
        # otherwise. +1 guards the ceil boundary.
        length_col = (
            F.col("n_chars") if "n_chars" in documents.columns else F.length("text")
        )
        longest = documents.agg(F.max(length_col)).first()[0] or 0
        max_edit = -(-int(longest) * threshold_pct // 100) + 1
    bands = bits // band_bits
    mask = (1 << band_bits) - 1
    # ``sh`` lets callers pass a precomputed/persisted (doc_id, simhash)
    # frame — e.g. corpus_cache.shared_df — so the corpus-wide SimHash
    # kernel runs once per session, not once per query
    if sh is None:
        sh = simhash(documents, bits).localCheckpoint()  # index ≡ probe side
    banded = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("code"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.code")
    probe = banded.filter(F.col("doc_id") < probe_max_doc_id).select(
        F.col("doc_id").alias("a_id"),
        F.col("band").alias("p_band"),
        F.col("code").alias("p_code"),
    )
    candidates = (
        banded.join(
            F.broadcast(probe),
            (F.col("band") == F.col("p_band"))
            & (F.col("code") == F.col("p_code"))
            & (F.col("a_id") < F.col("doc_id")),
        )
        .select("a_id", F.col("doc_id").alias("b_id"))
        .distinct()
    )
    # Catalyst pushes the Levenshtein predicate into the text-join
    # stage (correct — it prunes earliest there), and AQE coalesces
    # the tiny candidate shuffle to ONE partition (right for row
    # count, wrong for a DP-heavy verify). Repartitioning the
    # candidates makes that fused join+verify stage wide. (A
    # broadcast-the-candidates variant that avoids shuffling the text
    # column was measured ~9x SLOWER here: the broadcast build
    # re-evaluates its join subtree eagerly and serially — keep the
    # shuffle joins.)
    candidates = candidates.repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    txt = documents.select("doc_id", "text")
    sized = (
        candidates.join(
            txt.withColumnsRenamed({"doc_id": "a_id", "text": "a_text"}), "a_id"
        )
        .join(txt.withColumnsRenamed({"doc_id": "b_id", "text": "b_text"}), "b_id")
        .withColumn(
            "max_len", F.greatest(F.length("a_text"), F.length("b_text"))
        )
        .filter(
            F.abs(F.length("a_text") - F.length("b_text")) * 100
            <= F.col("max_len") * threshold_pct
        )
    )
    return (
        sized.withColumn(
            "edit_distance", F.levenshtein("a_text", "b_text", max_edit)
        )
        .filter(
            (F.col("edit_distance") >= 0)
            & (F.col("edit_distance") * 100 <= F.col("max_len") * threshold_pct)
        )
        .select("a_id", "b_id", "edit_distance", "max_len")
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via the native ``bit_count`` (single codegen
    instruction — the earlier bin()+regexp formulation allocated a
    64-char string per row)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


# ---------------------------------------------------------------------------
# 5. Duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs (a_id, b_id) → one row
    per member: (doc_id, cluster_id) with cluster_id = min doc_id of the
    component. The "keep one per duplicate cluster" step after
    minhash_lsh_pairs — pairs alone can't dedup transitive chains
    (a~b, b~c ⇒ {a,b,c} is one cluster even if a≁c).

    Alternating star contraction (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC 2014): the state is an EDGE list
    (hi > lo), rewritten each iteration by

      large-star — for every node u with undirected neighborhood N(u),
        m = min(N(u) ∪ {u}); re-point each neighbor v > u at m;
      small-star — direct edges large→small, group by the large end,
        m = min of the group's small ends; attach the large end and
        every non-min small end to m.

    Both steps preserve connectivity and only ever move edge endpoints
    DOWNWARD, and the unique fixed point is the star forest rooted at
    each component's minimum — O(log n) iterations vs the O(diameter)
    rounds of min-label propagation, with strictly smaller per-round
    frames (edges shrink toward one-per-non-root-node; a label table
    carries every node every round).

    Each iteration is three exchanges (two whole-partition window mins +
    one distinct) and ONE job: the next state is lazily checkpointed and
    materialized by the stats witness. Convergence is witnessed in two
    tiers: a cheap (count, Σhi, Σlo) triple per iteration (decimal(38,0)
    sums — long sums over billions of 63-bit ids can wrap non-ANSI),
    and — only when the triple goes stable — one exact set-equality
    confirmation (counts equal + one-sided exceptAll empty ⇒ equal),
    so the exact check costs a single extra job per call, not per round.

    100 TB: no step keys by a component id, so a giant component never
    piles into one task — the window keys are node ids (bounded by node
    degree, and large-star caps high-degree stars immediately);
    superseded checkpoint blocks are released the moment the next
    round's witness materializes.
    """
    from .parallelize import local_checkpoint_tracked, release_rdds

    spark = pairs.sparkSession
    w_u = Window.partitionBy("u")
    w_hi = Window.partitionBy("hi")
    # Canonical (hi > lo) edges, deduped once: generators emit each
    # undirected pair once with a_id < b_id, but callers may hand us
    # anything. The checkpoint cuts the upstream pair pipeline (LSH /
    # Jaccard verify) out of every iteration's lineage. No repartition:
    # round 4 added a round-robin repartition here claiming ~20% — the
    # controlled A/B against the r3 shape showed it was a ~18%
    # REGRESSION (min 2.92 s vs 2.47 s at sf0.1); the distinct's hash
    # layout is already balanced (pair ids are near-uniform) and the
    # extra exchange + fatter checkpoint never paid for itself.
    # Self-pairs (a_id == b_id) — defensive input the generators never
    # emit — must not enter the contraction: an hi == lo edge is
    # silently dropped by large-star's v > u filter, and a node whose
    # ONLY edge was a self-pair would vanish from the output instead
    # of labelling itself (the behavior min-label propagation had).
    # The initial witness counts them in the SAME one-job pass that
    # materializes the checkpoint; only when some exist (the rare
    # defensive path) do the initial blocks stay pinned so the
    # singleton branch can read them at result time — the common case
    # keeps the r5 lifecycle exactly: every superseded round released,
    # one surviving checkpoint.
    canon, c_ids = local_checkpoint_tracked(
        pairs.select(
            F.greatest("a_id", "b_id").alias("hi"),
            F.least("a_id", "b_id").alias("lo"),
        ).distinct(),
        eager=False,
    )
    edges, e_ids = canon.filter(F.col("hi") != F.col("lo")), c_ids
    _stats = [
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("hi").cast("decimal(38,0)")).alias("s_hi"),
        F.sum(F.col("lo").cast("decimal(38,0)")).alias("s_lo"),
    ]
    # eager=False + this agg: checkpoint-write and witness are ONE job.
    _is_edge = F.col("hi") != F.col("lo")
    _first = canon.agg(
        F.count(F.when(_is_edge, F.lit(1))).alias("cnt"),
        F.sum(F.when(_is_edge, F.col("hi").cast("decimal(38,0)"))).alias("s_hi"),
        F.sum(F.when(_is_edge, F.col("lo").cast("decimal(38,0)"))).alias("s_lo"),
        F.count(F.when(~_is_edge, F.lit(1))).alias("n_loops"),
    ).first()
    prev = (_first.cnt, _first.s_hi, _first.s_lo)
    loops = canon.filter(~_is_edge) if _first.n_loops else None
    for _ in range(max_iter):
        # large-star: double the edges, take the whole-partition window
        # min per node, re-point strictly-larger neighbors at it. Output
        # stays canonical (v > u ≥ m). No distinct here — duplicates
        # don't change small-star's window min and the one distinct
        # below covers both steps.
        doubled = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        large = (
            doubled.withColumn("m", F.least(F.col("u"), F.min("v").over(w_u)))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        )
        # small-star: edges are already directed large→small; attach the
        # large end and every non-min small end to the group min.
        small = large.withColumn("m", F.min("lo").over(w_hi))
        nxt = (
            small.filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(small.select("hi", F.col("m").alias("lo")))
            .distinct()
        )
        new_edges, new_ids = local_checkpoint_tracked(nxt, eager=False)
        cur = tuple(new_edges.agg(*_stats).first())
        if cur == prev:
            # cheap stats stable — confirm exactly before stopping.
            # Endpoints only move downward, so equal (cnt, Σhi, Σlo)
            # almost always IS convergence; the exceptAll runs once.
            converged = new_edges.exceptAll(edges).isEmpty()
            if loops is None or e_ids is not c_ids:
                # pinned initial blocks feed `loops` (defensive path)
                release_rdds(spark, e_ids)
            edges, e_ids = new_edges, new_ids
            if converged:
                break
        else:
            # ORDER MATTERS with the lazy checkpoint: the witness agg
            # above is what materializes new_edges, and its plan still
            # reads the PREVIOUS iteration's blocks — release them only
            # after it returns. Without the release an N-round run pins
            # N copies of the edge list in storage memory.
            if loops is None or e_ids is not c_ids:
                # pinned initial blocks feed `loops` (defensive path)
                release_rdds(spark, e_ids)
            edges, e_ids = new_edges, new_ids
            prev = cur
    # At the fixed point the edge list IS the star forest (hi → its
    # component min); roots label themselves. The groupBy-min makes a
    # max_iter-truncated run degrade to best-known labels instead of
    # emitting conflicting rows.
    labels = edges.select(
        F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id")
    ).unionByName(
        edges.select(F.col("lo").alias("doc_id"), F.col("lo").alias("cluster_id"))
    )
    if loops is not None:
        # self-pair-only nodes label themselves (the min below resolves
        # nodes that ALSO had real edges to their true label).
        labels = labels.unionByName(
            loops.select(F.col("hi").alias("doc_id"), F.col("hi").alias("cluster_id"))
        )
    return labels.groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))


def dedup_by_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """The near-deduplicated corpus: drop every cluster member except
    the canonical (min doc_id) representative."""
    clusters = duplicate_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return documents.join(drop, "doc_id", "left_anti")


def span_dedup(documents: DataFrame, span_tokens: int = 10) -> DataFrame:
    """C4-style duplicate-SPAN removal (Raffel et al. 2020 §2.2 discard
    repeated three-sentence spans; here spans are fixed ``span_tokens``
    token windows since the corpus has no sentence punctuation): every
    occurrence of a span after its corpus-wide first occurrence is cut,
    and each document is reassembled from its surviving spans.

    First occurrence = lexicographic min (doc_id, pos) over all
    occurrences of the span text — deterministic, partitioning-
    independent. Within-doc repeats are cut by the same rule.

    Plan shape at 100 TB: spans explode off the corpus scan; the winner
    per span is a partial-aggregated groupBy on the span hash (min
    struct — NO window, so a boilerplate span occurring 10M times is
    map-side combined, never buffered in one task); survivors join back
    on the hash (uniform key) and re-group by doc_id to reassemble.
    Two shuffles total, both on uniform keys.

    Returns (doc_id, n_spans, n_spans_kept, clean_text); clean_text is
    NULL when every span was cut (and for NULL-text docs, which carry
    n_spans = NULL).

    Spans are grouped on a 128-bit key made of two xxhash64 digests of
    the span. The two halves are correlated (the second hashes the same
    span behind a constant prefix) and xxhash64 is not cryptographic,
    so the 2^-128 collision bound holds for non-adversarial input only:
    a corpus built to collide in both halves could cut a distinct span.
    """
    s = span_tokens
    spans = documents.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(split(text, ' ')) / {s}.0)) - 1), "
                f"i -> array_join(slice(split(text, ' '), i * {s} + 1, {s}), ' '))"
            )
        ).alias("pos", "span"),
    )
    # grouping-only key (first-occurrence needs span EQUALITY, and the
    # reassembly carries the span text itself). This operator performs
    # DESTRUCTIVE surgery — a colliding pair of distinct spans would
    # silently cut the loser from its document — so the removal path
    # keeps a 128-bit key: a struct of two xxhash64 labels (the second
    # seeded by a prepended constant — correlated, see the docstring's
    # non-adversarial caveat), 16 shuffle bytes
    # instead of md5's 32-char hex string. At the 100 TB design point
    # (~1e12 spans) 64-bit birthday collisions are expected in bulk;
    # 128 bits keeps them one-way 2^-128 events. Detection-only paths
    # (substring_dup_stats) may stay at 64 bits; removal must not.
    h = F.struct(
        F.xxhash64("span").alias("a"), F.xxhash64(F.lit(1), F.col("span")).alias("b")
    )
    winners = (
        spans.groupBy(h.alias("h"))
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        .select("h", F.col("w.doc_id").alias("w_doc"), F.col("w.pos").alias("w_pos"))
    )
    marked = spans.join(winners, h == F.col("h")).select(
        "doc_id",
        "pos",
        "span",
        ((F.col("doc_id") == F.col("w_doc")) & (F.col("pos") == F.col("w_pos"))).alias(
            "keep"
        ),
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_spans_kept"),
        F.array_sort(
            F.collect_list(F.when(F.col("keep"), F.struct("pos", "span")))
        ).alias("kept"),
    )
    clean = per_doc.select(
        "doc_id",
        "n_spans",
        "n_spans_kept",
        F.when(
            F.col("n_spans_kept") > 0,
            F.array_join(F.transform("kept", lambda x: x.span), " "),
        ).alias("clean_text"),
    )
    return (
        documents.select("doc_id")
        .join(clean, "doc_id", "left")
        .select("doc_id", "n_spans", "n_spans_kept", "clean_text")
    )


def substring_dup_stats(documents: DataFrame, win: int = 20) -> DataFrame:
    """Exact-substring duplicate coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    EXACTSUBSTR): every ``win``-char window of every document, corpus-
    wide first occurrence wins (lexicographic min (doc_id, pos)), and
    every LATER occurrence marks its [pos, pos+win) char span
    duplicated. Overlapping duplicated spans are merged per document
    (interval union), yielding the per-doc duplicated-character count —
    the statistic the paper's removal step cuts and the drop-policy
    fraction many pipelines filter on instead of performing surgery.

    Output: (doc_id, total_chars, n_dup_windows, dup_chars,
    dup_pct_x100) — dup_pct_x100 integer-exact (100·dup_chars div
    total_chars). NULL-text docs carry NULL stats; docs shorter than
    ``win`` carry 0 duplicated windows.

    Plan shape at 100 TB: position explode + substring + md5 run in
    ONE whole-stage-codegen map stage (the explode is pipelined — text
    is duplicated only through the in-memory iterator, never shuffled;
    only (doc_id, pos, md5) rows leave the stage). A transform-lambda
    formulation hashing before the explode was the first shape here
    and measured ~5x slower at sf0.1: higher-order-function lambdas
    are CodegenFallback (interpreted per element), the round-5 DSIR
    trap again. First-occurrence is ONE whole-partition window
    min-struct over the uniform hash key (a groupBy + join-back shape
    costs a second pass over the occurrence frame); the interval union
    runs per-doc windows bounded by document length. One uniform-key
    shuffle + one doc-key shuffle.

    The suffix-array formulation (operators/suffix.py) finds ARBITRARY-
    length maximal repeats; this fixed-window form is the detection
    rule actually used for removal (a repeat of length >= win exists
    iff some win-window repeats) and stays two-shuffle simple.
    """
    if win < 1:
        raise ValueError(f"win must be >= 1, got {win}")
    # the window explode + per-window md5 is the heavy map of this
    # operator and runs BEFORE any shuffle — an under-parallel scan
    # (small file count) would serialize it onto one core
    # (spread_for_cpu is a structural no-op at scale)
    base = spread_for_cpu(
        documents.filter(F.col("text").isNotNull() & (F.length("text") >= win))
    )
    occ = base.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - win + 1)).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        # grouping-only key (the oracle partitions by the RAW window
        # text): xxhash64 gives the same equality classes as md5 at 8
        # shuffle bytes instead of a 32-char hex string, with no hex
        # construction per window — the KMR-label discipline
        # (suffix.prefix_label_frame docstring). DETECTION-ONLY: this
        # operator emits statistics, never cuts text, so 64-bit
        # collisions only bias dup_chars/dup_pct UPWARD by ~n²/2^65
        # windows (odds-of-one-event at 1e12 windows ≈ 3%); a removal
        # path must use span_dedup's 128-bit composite key instead.
        F.xxhash64(F.expr(f"substring(text, pos, {win})")).alias("h"),
    )
    w_h = Window.partitionBy("h")
    dup_occ = (
        occ.withColumn("first", F.min(F.struct("doc_id", "pos")).over(w_h))
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos", (F.col("pos") + win).alias("end"))
    )
    # interval union per doc: gaps-and-islands — an island starts where
    # pos clears every earlier interval's end (running max)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = dup_occ.withColumn(
        "new_island",
        F.when(
            F.col("pos") > F.coalesce(F.max("end").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    per_doc = (
        marked.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            F.max("end").alias("e"),
            F.count(F.lit(1)).alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("e") - F.col("s")).alias("dup_chars"),
            F.sum("c").alias("n_dup_windows"),
        )
    )
    return (
        documents.select("doc_id", F.length("text").cast("long").alias("total_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "total_chars",
            F.when(
                F.col("total_chars").isNotNull(),
                F.coalesce(F.col("n_dup_windows"), F.lit(0)),
            ).cast("long").alias("n_dup_windows"),
            F.when(
                F.col("total_chars").isNotNull(),
                F.coalesce(F.col("dup_chars"), F.lit(0)),
            ).cast("long").alias("dup_chars"),
        )
        .withColumn(
            "dup_pct_x100",
            F.when(
                F.col("total_chars") > 0,
                F.expr("(100 * dup_chars) div total_chars"),
            ).cast("long"),
        )
    )


def optimal_lsh_params(
    threshold_pct: int,
    num_hashes: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick (bands, rows) for MinHash-LSH banding from a target Jaccard
    threshold — the S-curve tuning of Leskovec/Rajaraman/Ullman (MMDS
    ch. 3; the same integral-minimization datasketch ships): candidate
    probability at similarity s is P(s) = 1 − (1 − s^rows)^bands, and
    the chosen split minimizes

        fp_weight · ∫₀ᵗ P(s) ds  +  fn_weight · ∫ₜ¹ (1 − P(s)) ds

    over every (bands, rows) with bands·rows ≤ num_hashes. Driver-side
    planning math (a few hundred trapezoid evaluations) — feed the
    result straight to :func:`minhash_lsh_pairs`. Weights skew the
    trade: raising fn_weight favors recall (more bands, shorter rows).
    """
    if not 0 < threshold_pct < 100:
        raise ValueError(f"threshold_pct must be in (0, 100), got {threshold_pct}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    t = threshold_pct / 100.0
    steps = 200

    def integrals(b: int, r: int) -> tuple[float, float]:
        def p(s: float) -> float:
            return 1.0 - (1.0 - s**r) ** b

        fp = fn = 0.0
        dx_fp = t / steps
        dx_fn = (1.0 - t) / steps
        for i in range(steps):
            fp += (p(i * dx_fp) + p((i + 1) * dx_fp)) / 2.0 * dx_fp
            s0 = t + i * dx_fn
            fn += ((1 - p(s0)) + (1 - p(s0 + dx_fn))) / 2.0 * dx_fn
        return fp, fn

    best, best_err = (1, num_hashes), float("inf")
    for b in range(1, num_hashes + 1):
        r = num_hashes // b
        if r < 1:
            break
        fp, fn = integrals(b, r)
        err = fp_weight * fp + fn_weight * fn
        if err < best_err:
            best, best_err = (b, r), err
    return best
