"""Deterministic sampling for training-data pipelines.

`df.sample()` is seed-dependent per partitioning — unusable when runs
must be reproducible across cluster sizes. These samplers hash a stable
key (md5, engine-portable) so membership is a pure function of the row:
the same rows are selected on 1 executor or 1000, today or tomorrow.

Scale: pure filters — pushdown-friendly, no shuffle, no state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hash60(s: Column) -> Column:
    """md5 of a string column, first 15 hex digits as a 60-bit BIGINT —
    THE engine-portable hash value every sampler in this module orders
    or buckets by. One definition so the '15 hex digits = 60 bits'
    convention cannot drift between operators. SQL equivalent:
    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def hash_bucket(key: Column | str, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets): md5 of the key's string form,
    first 15 hex digits, mod buckets. SQL equivalent:
    CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) % buckets."""
    c = F.col(key) if isinstance(key, str) else key
    return _hash60(c.cast("string")) % F.lit(buckets)


def deterministic_sample(df: DataFrame, key: str, pct: int) -> DataFrame:
    """Keep rows whose hash bucket < pct (pct in integer percent)."""
    return df.filter(hash_bucket(key) < pct)


def stratified_sample(df: DataFrame, key: str, strata_col: str, rates: dict[str, int], default_pct: int) -> DataFrame:
    """Per-stratum deterministic rates (e.g. keep 50% of English docs,
    10% of the rest) — the corpus-balancing primitive."""
    rate = F.lit(default_pct)
    for value, pct in rates.items():
        rate = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(hash_bucket(key) < rate)


def train_test_split(df: DataFrame, key: str, test_pct: int = 10) -> tuple[DataFrame, DataFrame]:
    """Disjoint, reproducible split on the hashed key — membership
    never changes when data is appended elsewhere."""
    b = hash_bucket(key)
    return df.filter(b >= test_pct), df.filter(b < test_pct)


def pack_sequences(
    documents: DataFrame,
    ctx_len: int = 512,
    part_col: str = "source",
    order_col: str = "doc_id",
    shard_size: int = 100_000,
) -> DataFrame:
    """Sequence PACKING — map every document into the fixed-size
    context windows a pre-training run consumes (GPT-style contiguous
    stream): within each ``part_col`` stream, docs are concatenated in
    ``order_col`` order and each doc gets the bin (window index) and
    offset where its tokens start, plus how many windows it spans.
    Deterministic, exact, and invertible — the (bin, offset) layout is
    the shuffle-free description a downstream tokenizer-writer needs.

    Scale shape — TWO-LEVEL cumsum, because "one window per source" is
    not enough at 100 TB (one dominant source would serialize into a
    single giant window partition): docs cumsum WITHIN bounded
    ``shard_size`` id-range shards (parallel across shards), per-shard
    token totals (a tiny frame, one row per shard) cumsum across
    shards per source, and each doc's stream position is shard base +
    within-shard offset — exactly the single-stream positions, with no
    window partition ever exceeding ``shard_size`` rows. The shard
    frame broadcasts back. Shard keys are ``order_col div
    shard_size``, monotone in ``order_col``, so the two-level order
    equals the global per-source order.
    """
    from .text import tokens

    n_tok = F.size(tokens(F.col("text"))).cast("long")
    df = documents.select(
        order_col,
        part_col,
        n_tok.alias("n_tokens"),
        F.expr(f"{order_col} div {shard_size}").alias("_shard"),
    )
    w_in = (
        Window.partitionBy(part_col, "_shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn(
        "_local_start", F.sum("n_tokens").over(w_in) - F.col("n_tokens")
    )
    w_sh = (
        Window.partitionBy(part_col)
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_bases = (
        df.groupBy(part_col, "_shard")
        .agg(F.sum("n_tokens").alias("_shard_tokens"))
        .withColumn(
            "_shard_base", F.coalesce(F.sum("_shard_tokens").over(w_sh), F.lit(0))
        )
        .select(part_col, "_shard", "_shard_base")
    )
    placed = local.join(F.broadcast(shard_bases), [part_col, "_shard"]).withColumn(
        "_ts", F.col("_shard_base") + F.col("_local_start")
    )
    return placed.select(
        order_col,
        part_col,
        "n_tokens",
        F.expr(f"_ts div {ctx_len}").alias("bin_id"),
        (F.col("_ts") % ctx_len).alias("bin_offset"),
        # windows this doc touches: ceil((offset + n_tokens) / ctx)
        F.expr(f"((_ts % {ctx_len}) + n_tokens + {ctx_len} - 1) div {ctx_len}")
        .alias("n_bins_spanned"),
    )


def source_cap(
    df: DataFrame,
    n: int,
    part_col: str = "source",
    order_cols: list[Column] | None = None,
) -> DataFrame:
    """Per-source document cap (the C4/RefinedWeb domain-balancing
    step): keep at most ``n`` documents per ``part_col`` value, best
    first. Default order keeps the LONGEST docs (n_chars DESC, doc_id
    ASC tie-break) — deterministic, so membership is reproducible
    across cluster sizes like every sampler in this module.

    Returns the surviving rows plus their in-source rank ``rk``
    (1-based). One shuffle on the source key; the rank window buffers
    one source per task and spills, so a mega-domain degrades to a
    spilling sort, not an OOM — and at real scale the top-n per group
    is exactly the pattern AQE + the window TopK rewrite optimize."""
    order_cols = order_cols or [F.col("n_chars").desc(), F.col("doc_id").asc()]
    w = Window.partitionBy(part_col).orderBy(*order_cols)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
    )


def importance_sample(
    df: DataFrame,
    key: str = "doc_id",
    weight_pct: Column | None = None,
) -> DataFrame:
    """Quality-weighted deterministic sampling: keep each row with
    probability ``weight_pct``/100, decided by the stable md5 bucket of
    ``key`` — so higher-quality rows survive at higher rates but the
    selection stays a pure function of the row (reproducible,
    cluster-size-independent, append-stable).

    ``weight_pct`` is an integer-percent Column; the default derives a
    length-based proxy (longer docs keep more often): clamp(n_chars
    div 10, 10, 90). Pure filter — pushdown-friendly, no shuffle.

    Returns surviving rows plus the ``weight_pct`` they survived at."""
    if weight_pct is None:
        weight_pct = F.greatest(
            F.lit(10), F.least(F.lit(90), F.expr("n_chars div 10"))
        )
    return df.withColumn("weight_pct", weight_pct.cast("long")).filter(
        hash_bucket(key) < F.col("weight_pct")
    )


def mixture_rates(
    df: DataFrame,
    target: dict[str, int],
    default_weight: int = 1,
) -> DataFrame:
    """Data-MIXING rates (the Pile/DoReMi-style source reweighting):
    given integer mixture weights per source, compute the per-source
    acceptance rate that realizes the target token mixture as closely
    as a downsampling-only pass can — the source with the highest
    weight-per-token keeps 100% and every other source scales down
    proportionally (no upsampling; epochs are a trainer concern).

    rate_pct(s) = max(1, floor(100·w_s·t_m / (w_m·t_s)))  where m is
    the weight-richest source (argmax w_u/t_u, ties to the smaller
    source name) — EXACT integer arithmetic (no float ratio whose last
    ulp could floor the max source to 99), and floored at 1 so a
    positive-weight source is downsampled, never silently eliminated
    (hash_bucket < 0 keeps nothing).

    Feed the result to :func:`importance_sample` (join rate_pct on
    source as the weight column) for the actual filter pass.

    One partial-aggregated groupBy over the corpus; the rate math runs
    on the per-source frame (source cardinality is small at any data
    scale — the argmax broadcast is driver-trivial). The argmax itself
    compares one IEEE division per source (identical in any engine);
    every rate is then integer. Returns (source, n_docs, total_tokens,
    weight, rate_pct)."""
    w: Column = F.lit(default_weight)
    for src, wt in sorted(target.items()):
        w = F.when(F.col("source") == src, F.lit(wt)).otherwise(w)
    per = _per_source_tokens(df).withColumn("weight", w.cast("long"))
    ratio = F.col("weight").cast("double") / F.col("total_tokens").cast("double")
    top = (
        per.select(
            F.col("weight").alias("w_m"),
            F.col("total_tokens").alias("t_m"),
            ratio.alias("_r"),
            F.col("source").alias("_s"),
        )
        .orderBy(F.col("_r").desc(), F.col("_s").asc())
        .limit(1)
        .select("w_m", "t_m")
    )
    return per.crossJoin(F.broadcast(top)).select(
        "source",
        "n_docs",
        "total_tokens",
        "weight",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(100 * weight * t_m) div (w_m * total_tokens)"),
        ).alias("rate_pct"),
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 128, overlap: int = 32
) -> DataFrame:
    """Sliding-window document CHUNKING — the retrieval/RAG layout
    step: split each document into ``chunk_tokens``-token windows that
    overlap by ``overlap`` tokens (stride = chunk_tokens - overlap), so
    an answer span near a boundary is fully inside at least one chunk.

    Chunk grid: starts at token 0, stride, 2·stride, … — a doc of
    n tokens yields 1 chunk when n <= chunk_tokens, else
    ceil((n - chunk_tokens)/stride) + 1 (the final chunk may be short
    but always carries >= 1 token past the previous chunk's coverage).
    Deterministic and partitioning-independent by construction.

    Returns one row per chunk: (doc_id, chunk_no, start_tok,
    n_chunk_tokens, chunk_text). NULL-text docs yield no rows (they
    cannot be retrieved against). Pure per-row explode off the corpus
    scan — the text is tokenized ONCE and every derived quantity
    (window count, per-chunk token count) is arithmetic on the token
    count, not a re-split; no shuffle at any scale; downstream
    embedding/indexing consumes the chunk rows directly."""
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap {overlap} must be < chunk_tokens {chunk_tokens}")
    stride = chunk_tokens - overlap
    base = (
        documents.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("_toks"))
        .withColumn("_n", F.size("_toks"))
    )
    n_chunks = (
        F.when(F.col("_n") <= chunk_tokens, F.lit(1))
        .otherwise(
            # exact integer ceil-div (repo convention: no float division
            # in oracle-gated arithmetic)
            F.expr(f"(_n - {chunk_tokens} + {stride} - 1) div {stride} + 1")
        )
        .cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice("_toks", i * stride + 1, chunk_tokens), " "),
    )
    return base.select(
        "doc_id", "_n", F.posexplode(chunks).alias("chunk_no", "chunk_text")
    ).select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        (F.col("chunk_no") * stride).cast("long").alias("start_tok"),
        # chunk length from the slice bounds (min(chunk, n - start)) —
        # no chunk_text re-split; equals the oracle's split-count form
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("chunk_no") * stride)
        .cast("long")
        .alias("n_chunk_tokens"),
        "chunk_text",
    )


def shuffle_positions(
    df: DataFrame, key: str = "doc_id", seed: int = 0, buckets: int = 1024
) -> DataFrame:
    """Deterministic global SHUFFLE order for training-data writes:
    every row gets a stable position in a pseudorandom permutation of
    the corpus (the "shuffle the dataset before training" step, made
    reproducible across cluster sizes and reruns — same contract as the
    hash samplers above).

    ``key`` must be UNIQUE and NON-NULL (a primary key): duplicate or
    NULL keys collide on the hash AND the tie-break, and row_number
    over tied sort keys is partition-order dependent — the positions
    of the tied rows would change across reruns, breaking exactly the
    contract above. (A permutation is only well-defined over distinct
    identities in the first place.)

    Order = md5(seed ':' key) ascending (its 60-bit prefix, via the
    module's shared ``_hash60``), ties broken by key (a total order
    given a unique key, so the permutation is unique). Computed
    WITHOUT a global
    single-partition sort: rows hash into ``buckets`` ordered buckets
    (the hash prefix IS the bucket, so bucket id ascending + in-bucket
    hash ascending is exactly global hash order); in-bucket ranks come
    from per-bucket windows (~n/buckets rows per task — raise
    ``buckets`` with corpus size), and each bucket's global offset is a
    running sum over the tiny (bucket, count) frame, broadcast back.
    Two compact shuffles (window + broadcast join), no stage ever sees
    the corpus in one task.

    Returns the input plus ``shuffle_pos`` (0-based BIGINT). Writing
    sorted by (bucket, h) — e.g. repartitionByRange on shuffle_pos —
    materializes the shuffled corpus without ever totally sorting it."""
    # shared 60-bit hash; its high bits (div) are the bucket, so
    # bucket order == hash order
    hv = _hash60(
        F.concat_ws(":", F.lit(str(seed)), F.col(key).cast("string"))
    )
    span = (1 << 60) // buckets  # 15 hex digits = 60 bits
    out = df.withColumn("_h", hv).withColumn(
        "_b", F.expr(f"_h div {span}L")
    )
    within = F.row_number().over(
        Window.partitionBy("_b").orderBy(F.col("_h"), F.col(key))
    )
    counts = out.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
    offsets = counts.select(
        "_b",
        (
            F.sum("_c").over(
                Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("_c")
        ).alias("_off"),
    )
    return (
        out.withColumn("_w", within.cast("long"))
        .join(F.broadcast(offsets), "_b")
        .withColumn("shuffle_pos", F.col("_off") + F.col("_w") - 1)
        .drop("_h", "_b", "_w", "_off")
    )


def dsir_doc_buckets_frame(
    documents: DataFrame, n_buckets: int = 256
) -> DataFrame:
    """Per-document hashed n-gram feature vectors for DSIR (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): unigram + bigram OCCURRENCES hashed into
    ``n_buckets`` buckets via the module's engine-portable md5 hash —
    one compact row per (doc, bucket) with the occurrence count.

    This frame is THE intermediate every DSIR stage reads (target
    model, raw model, per-doc scoring), so callers materialize it
    once; at 100 TB it is the persisted document-feature matrix
    (≤ n_buckets rows per doc — orders of magnitude smaller than the
    exploded gram stream), built with one corpus explode and one
    map-side-combining groupBy on the uniform (doc_id, bucket) key.
    Returned UNmaterialized so a session cache (corpus_cache.shared_df)
    can hold ONE copy per (session, sf) instead of re-running the
    corpus explode per call — same contract as
    similarity.kmeans_prep_frame."""
    from .text import tokens

    # gram construction is pure codegen: one position explode, then
    # the unigram + a when-guarded bigram per position (concat_ws over
    # element_at lookups). The previous shape built the bigram array
    # with an F.transform lambda — higher-order functions are
    # CodegenFallback, interpreted per element — which dominated this
    # corpus explode (the q34 'dsir' cache line). Identical gram
    # multiset: every position emits its unigram, positions with a
    # successor emit the joined bigram, matching the old
    # concat(toks, bi) explode exactly (incl. the size<2 edge).
    pos_rows = documents.select(
        "doc_id",
        "lang",
        "source",
        tokens(F.col("text")).alias("_toks"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "_toks",
        F.explode(F.sequence(F.lit(1), F.size("_toks"))).alias("pos"),
    )
    gram_arr = F.array(
        F.expr("element_at(_toks, pos)"),
        F.when(
            F.col("pos") < F.size("_toks"),
            F.concat_ws(
                " ",
                F.expr("element_at(_toks, pos)"),
                F.expr("element_at(_toks, pos + 1)"),
            ),
        ),
    )
    return (
        pos_rows.select(
            "doc_id", "lang", "source", F.explode(gram_arr).alias("gram")
        )
        .filter(F.col("gram").isNotNull())
        .withColumn("bucket", _hash60(F.col("gram")) % n_buckets)
        .groupBy("doc_id", "lang", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_select(
    documents: DataFrame,
    target_max_doc_id: int = 25,
    n_buckets: int = 256,
    k: int = 50,
    docb: DataFrame | None = None,
    docb_n_buckets: int | None = None,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every raw document
    by its hashed-n-gram importance weight against a curated target
    corpus and keep the top ``k``. The published estimator, exact-
    integer end to end so the DuckDB oracle hashes it value-identical:

      log w(x) = Σ_b c_b(x) · (log p̂_b − log q̂_b)

    with Laplace-smoothed bag-of-hashed-grams models
    p̂_b = (ct_b + 1)/(T_t + B) (target), q̂_b = (cr_b + 1)/(T_r + B)
    (raw). Per bucket the log-ratio collapses to one integer ratio

      (ct_b + 1)·(T_r + B)  /  (cr_b + 1)·(T_t + B)

    whose log2 runs through the fixed-point chain shared with BM25
    (operators/search.py — rendered for Spark AND DuckDB from one
    spec), applied to (greatest, least) with the sign split out so
    both directions stay in the chain's p ≥ q domain. Selection is
    deterministic top-k (weight desc, doc_id) — the deterministic
    counterpart of the paper's Gumbel resampling, same contract as
    every sampler in this module.

    Here the target is docs with doc_id < ``target_max_doc_id`` (the
    probe convention shared with contamination_pairs); a deployment
    passes its curated corpus (Wikipedia-sized — the headroom analysis
    assumes bl(T_t) + bl(T_r) ≤ 62, which a small-by-construction
    target satisfies).

    Plan shape: the checkpointed doc-feature frame feeds three
    aggregates — two B-row count tables (map-side combine to B rows
    per task), then a broadcast join of the B-row weight table back
    onto the feature frame with one per-doc sum; the only corpus-wide
    shuffles are the feature groupBy and the per-doc sum, both on
    uniform keys. Top-k is TakeOrderedAndProject.

    ``docb`` overrides the internally-materialized doc-feature frame
    with a caller-owned one (e.g. a session-cached
    :func:`dsir_doc_buckets_frame` — the persisted feature-matrix
    analog, built once per (session, corpus) instead of per call);
    the caller owns its lifecycle. The frame is COUPLED to the bucket
    count it was hashed with: the Laplace smoothing terms use this
    function's ``n_buckets`` (ct+1 over tt+B), so a frame built with a
    different B yields silently wrong importance weights — the caller
    must declare its count via ``docb_n_buckets`` and it must match."""
    from .search import with_fixed_log2_x64

    if docb is None:
        if docb_n_buckets is not None:
            raise ValueError(
                "docb_n_buckets was passed without docb: it declares "
                "the bucket count of a caller-owned docb frame"
            )
        docb = dsir_doc_buckets_frame(documents, n_buckets).localCheckpoint()
    else:
        if docb_n_buckets is None:
            raise ValueError(
                "docb override requires docb_n_buckets (the bucket count "
                "the frame was hashed with) so the smoothing terms are "
                "checkable against n_buckets"
            )
        if docb_n_buckets != n_buckets:
            raise ValueError(
                f"docb was hashed with n_buckets={docb_n_buckets} but the "
                f"smoothing uses n_buckets={n_buckets}: the importance "
                "weights would be silently wrong"
            )
    # ONE pass builds BOTH bucket profiles (target ct, raw cr) as
    # conditional sums — the old shape scanned the feature frame once
    # per profile and joined the two B-row tables back together; the
    # fold halves the profile scans and removes that join outright
    # (guide §2.4). Identity: sum(when(cond, c)) over all rows ==
    # sum(c) over the cond-filtered rows (NULL when absent, exactly
    # like the old left join's miss side), and the totals are the same
    # sums with the NULL→0 coalesce.
    is_tgt = F.col("doc_id") < target_max_doc_id
    prof = docb.groupBy("bucket").agg(
        F.sum(F.when(is_tgt, F.col("c"))).alias("ct_n"),
        F.sum(F.when(~is_tgt, F.col("c"))).alias("cr"),
    )
    rawb = docb.filter(F.col("doc_id") >= target_max_doc_id)
    totals = prof.agg(
        F.coalesce(F.sum("ct_n"), F.lit(0)).alias("tt"),
        F.coalesce(F.sum("cr"), F.lit(0)).alias("tr"),
    )
    wt = (
        prof.filter(F.col("cr").isNotNull())
        .select("bucket", "cr", F.coalesce(F.col("ct_n"), F.lit(0)).alias("ct"))
        .crossJoin(F.broadcast(totals))
        .withColumn("num", (F.col("ct") + 1) * (F.col("tr") + n_buckets))
        .withColumn("den", (F.col("cr") + 1) * (F.col("tt") + n_buckets))
        .withColumn("hi", F.greatest("num", "den"))
        .withColumn("lo", F.least("num", "den"))
    )
    wt = with_fixed_log2_x64(wt, "hi", "lo", "fl")
    wt = wt.select(
        "bucket",
        (
            F.when(F.col("num") >= F.col("den"), F.lit(1)).otherwise(F.lit(-1))
            * F.col("fl")
        ).alias("w_x64"),
    )
    scored = (
        rawb.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("w_x64")).alias("weight_x64"),
        )
    )
    top = scored.orderBy(F.desc("weight_x64"), "doc_id").limit(k)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("weight_x64"), "doc_id"))
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis & Spirakis 2006)
# ---------------------------------------------------------------------------

PRIORITY_PREC = 1 << 26  # cost fixed-point: (2560 - fl) * PREC div w


def priority_sample(
    df: DataFrame,
    key: str,
    weight: Column | str,
    n: int,
    seed: int = 7,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the Efraimidis-Spirakis
    exponential-race (A-ES): each row draws u = uniform(0, 1] and the
    n rows with the largest u^(1/w) win, which realizes
    weight-proportional inclusion. Deterministic and engine-portable:
    u comes from a 40-bit md5 slice of (seed, key), and the log-domain
    race cost −log2(u)/w is computed on the repo's fixed-point log2
    chain (operators/search.py spec — the BM25/DSIR/HLL discipline),
    so selection is EXACT integer arithmetic: the same n rows win on 1
    executor or 1000, in Spark or in the DuckDB oracle.

        cost_x = ((2560 − fl64(h + 1)) · PRIORITY_PREC) div w

    (2560 = 40·64 is fl64 of the largest draw 2^40, so cost_x ≥ 0 and
    DECREASES as u grows or w grows; smallest n costs win, ties to the
    smaller key.) Weights must be positive integers — enforced IN-PLAN
    (raise_error), not as a docstring caveat.

    Scale shape: the race cost is a pure map over the scan; the winner
    cut is a global top-n by (cost_x, key) — Spark's
    TakeOrderedAndProject (per-partition heaps, no global sort, no
    single-partition shuffle until n rows). Returns (key, weight,
    cost_x, rk) with rk = 1..n in winning order."""
    kc = F.col(key).cast("string")
    w = (F.col(weight) if isinstance(weight, str) else weight).cast("long")
    guarded = F.when(w > 0, w).otherwise(
        F.expr(
            "CAST(raise_error('priority_sample: weight must be > 0') AS BIGINT)"
        )
    )
    base = df.select(
        F.col(key),
        guarded.alias("weight"),
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), kc)), 1, 10),
            16,
            10,
        )
        .cast("long")
        .alias("_h"),
    )
    from .search import with_fixed_log2_x64

    scored = with_fixed_log2_x64(base, "_h + 1", "1", "_fl").select(
        key,
        "weight",
        F.expr(f"((2560 - _fl) * CAST({PRIORITY_PREC} AS BIGINT)) div weight").alias(
            "cost_x"
        ),
    )
    top = scored.orderBy(F.col("cost_x").asc(), F.col(key).asc()).limit(n)
    w_rk = Window.orderBy(F.col("cost_x").asc(), F.col(key).asc())
    return top.withColumn("rk", F.row_number().over(w_rk).cast("long"))


def group_split(
    df: DataFrame, group_col: str, splits: dict[str, int] | None = None
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the hash bucket of the
    GROUP (source domain, author, url-host …), not the row, picks the
    split — every document of a group lands in the same split, the
    standard guard against near-duplicate train/eval contamination
    (the row-keyed :func:`train_test_split` cannot give this).

    ``splits`` maps name -> integer percent, summing to 100; cutoffs
    are cumulative in dict order. Adds ``split`` (the name) and
    ``split_bucket`` (the group's bucket in [0,100)). Pure map-side
    column work over the module's engine-portable md5 bucket — no
    shuffle, no state, reproducible across cluster sizes and appends.
    """
    splits = splits or {"train": 98, "val": 1, "test": 1}
    if sum(splits.values()) != 100 or any(v <= 0 for v in splits.values()):
        raise ValueError(f"split percents must be positive and sum to 100: {splits}")
    b = hash_bucket(group_col, 100)
    expr, lo = None, 0
    names = list(splits)
    for name, pct in splits.items():
        lo += pct
        expr = (
            F.when(b < lo, F.lit(name))
            if expr is None
            else expr.when(b < lo, F.lit(name))
        )
    # a NULL group hashes to a NULL bucket: all such rows land together
    # in the LAST split (unknown provenance quarantines as one group,
    # mirroring the oracle's CASE ... ELSE), never a silent NULL split
    return df.withColumn(
        "split", expr.otherwise(F.lit(names[-1]))
    ).withColumn("split_bucket", b)


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str,
    key: str = "doc_id",
    band_width: int = 256,
) -> DataFrame:
    """Greedy token-budget curation: rank the corpus best-first by
    ``score_col`` (ties by ``key``) and keep the prefix whose running
    ``token_col`` total stays within ``budget`` — "fill a 1T-token
    training budget with the highest-quality documents first".

    The running total is exact but computed WITHOUT a global
    single-partition sort (same discipline as
    :func:`shuffle_positions`): scores fall into fixed-width bands
    (``band = -floor(score / band_width)``, so band ascending is score
    descending), in-band cumulative sums run as per-band windows, and
    each band's global offset is a running sum over the tiny
    (band, total) frame broadcast back. At 100 TB no task ever holds
    more than one band's rows; shrink ``band_width`` if a single score
    band is hot. ``score_col`` must be non-null.

    Adds ``cum_tokens`` (running total INCLUDING the row, in selection
    order); rows whose inclusion would cross the budget are dropped,
    so a later row never outranks a better one.
    """
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    if band_width <= 0:
        raise ValueError(f"band_width must be > 0, got {band_width}")
    sc, tok = F.col(score_col).cast("long"), F.col(token_col).cast("long")
    out = df.withColumn("_b", -F.floor(sc / F.lit(band_width)).cast("long"))
    w = Window.partitionBy("_b").orderBy(sc.desc(), F.col(key).asc())
    out = out.withColumn(
        "_cum_in", F.sum(tok).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    totals = out.groupBy("_b").agg(F.sum(tok).alias("_t"))
    offsets = totals.select(
        "_b",
        (
            F.sum("_t").over(
                Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("_t")
        ).alias("_off"),
    )
    return (
        out.join(F.broadcast(offsets), "_b")
        .withColumn("cum_tokens", F.col("_off") + F.col("_cum_in"))
        .filter(F.col("cum_tokens") <= budget)
        .drop("_b", "_cum_in", "_off")
    )


def pack_documents_ffd(
    documents: DataFrame,
    ctx_len: int = 512,
    part_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Whole-document bin packing (SFT-style: documents are NEVER
    split across context windows, unlike :func:`pack_sequences`):
    first-fit-decreasing within each ``part_col`` stream — docs sorted
    longest-first, each placed into the lowest-indexed bin with room,
    new bin when none fits. FFD's classic guarantee (≤ 11/9·OPT + 1
    bins) is why it's the standard offline packer.

    A document longer than ``ctx_len`` fails the job loudly (it cannot
    be packed whole).

    Scale shape: FFD is inherently sequential PER STREAM, so the unit
    of parallelism is the ``part_col`` group (Arrow ``applyInPandas``,
    one pass, sort + linear scan with a per-bin fill array). Groups
    are source domains — bounded in practice; a pathological mega
    source should be pre-sharded into synthetic sub-streams (the same
    knob every sequential packer exposes). Deterministic: ties by
    ``key_col``, so reruns and repartitionings give identical bins.

    Returns one row per doc: key, part, n_tokens, bin_id (dense per
    stream, 0-based), bin_fill (the bin's total AFTER packing — every
    row of a bin carries the same value, handy for padding stats).
    """
    import pandas as pd

    from .text import tokens

    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be > 0, got {ctx_len}")

    n_tok = F.size(tokens(F.col("text"))).cast("long")
    slim = documents.select(
        F.col(key_col).alias("k"),
        F.col(part_col).alias("part"),
        n_tok.alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "k"], ascending=[False, True]
        ).reset_index(drop=True)
        too_big = pdf[pdf["n_tokens"] > ctx_len]
        if len(too_big):
            k = too_big.iloc[0]
            raise ValueError(
                f"pack_documents_ffd: doc {k['k']} has {k['n_tokens']} "
                f"tokens > ctx_len {ctx_len}; split or drop upstream"
            )
        fills: list[int] = []
        bin_ids = []
        for t in pdf["n_tokens"]:
            placed = None
            for i, f_ in enumerate(fills):
                if f_ + t <= ctx_len:
                    placed = i
                    break
            if placed is None:
                placed = len(fills)
                fills.append(0)
            fills[placed] += t
            bin_ids.append(placed)
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        pdf["bin_fill"] = pdf["bin_id"].map(lambda b: fills[b]).astype("int64")
        return pdf

    out = slim.groupBy("part").applyInPandas(
        pack, schema="k long, part string, n_tokens long, bin_id long, bin_fill long"
    )
    return out.select(
        F.col("k").alias(key_col),
        F.col("part").alias(part_col),
        "n_tokens",
        "bin_id",
        "bin_fill",
    )


def _per_source_tokens(df: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens): the shared per-source token
    aggregation both mixture-rate kinds hash-gate against — ONE
    definition so the tokenization rule cannot drift between them."""
    tc = F.size(F.split("text", " ")).cast("long")
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(tc).alias("total_tokens")
    )


def temperature_rates(df: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-scaled mixture rates (the multilingual-BERT/T5/XLM-R
    alpha-sampling rule): resample so post-sampling source shares are
    proportional to tokens^alpha — low-resource sources UP-weighted
    relative to their raw share. Downsampling-only realization:
    rate_pct(s) = floor(100 · sqrt(t_min) / sqrt(t_s)) (the smallest
    source keeps 100%), since kept-tokens ∝ t_s·t_s^(alpha-1) =
    t_s^alpha at alpha = 1/2.

    ``alpha`` is fixed at 0.5 — the exactness discipline: sqrt is
    correctly rounded by IEEE 754 in every engine, so the oracle
    hashes the rates exactly, while a general pow(t, alpha-1) is
    exp/log-based and may differ in the last ulp across libms. (0.5
    is also the most common published setting.) Same shape as
    :func:`mixture_rates`: one partial-agg groupBy, driver-trivial
    min broadcast. Returns (source, n_docs, total_tokens, rate_pct).
    """
    if alpha != 0.5:
        raise ValueError(
            "temperature_rates supports alpha=0.5 only (sqrt is the "
            "one correctly-rounded IEEE power; general pow is not "
            "engine-portable) — use mixture_rates for explicit weights"
        )
    per = _per_source_tokens(df)
    tmin = per.agg(F.min("total_tokens").alias("t_min"))
    return per.crossJoin(F.broadcast(tmin)).select(
        "source",
        "n_docs",
        "total_tokens",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                F.lit(100.0)
                * (
                    F.sqrt(F.col("t_min").cast("double"))
                    / F.sqrt(F.col("total_tokens").cast("double"))
                )
            ).cast("long"),
        ).alias("rate_pct"),
    )
