"""Text-analysis operators for large-scale training-data pipelines.

Engine extensions beyond the reference (BASELINE.json north star):
language-ID heuristics, quality scoring, token counting, document
fingerprinting — all over the `documents` table.

Everything here is built-in Column functions (JVM-side, codegen) — no
Python UDFs. Ratios are computed as exact-integer divisions at the end
so results are bit-identical across engines (see functions/money.py for
the rationale).

Scale notes: all operators are embarrassingly parallel per-row maps +
one optional group-by; no shuffle on the raw corpus except where a
rollup is requested. At 100 TB, these run at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny stopword set used by the quality/lang heuristics. Kept small and
# fixed so oracle SQL can inline it.
STOPWORDS = ("the", "a", "and", "of", "to")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization. Documents are single-space separated;
    split on a literal space so every engine agrees on edge semantics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def stopword_count(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Number of tokens that are stopwords — via array filter, not regex,
    so the count is unambiguous."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(sw, t)))


# Gopher / MassiveText document-quality rules (Rae et al. 2021,
# appendix A1.1), integer-exact so the oracle hashes them: each
# threshold comparison is cross-multiplied instead of computing a
# float ratio.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3
GOPHER_MAX_MEAN_WORD_LEN = 10
# fail-mask bit per rule (0 = document passes all six)
GOPHER_RULES = (
    "word_count",        # bit 0: 50 <= words <= 100000
    "mean_word_len",     # bit 1: 3 <= mean word length <= 10
    "symbol_ratio",      # bit 2: (# + ellipsis) <= 10% of words
    "line_shape",        # bit 3: <=10% bullet-start AND <=30% ellipsis-end lines
    "alpha_words",       # bit 4: >=80% of words contain a letter
    "stopword_presence", # bit 5: >=2 distinct Gopher stop words present
)


def gopher_fail_mask(col: Column | str = "text") -> Column:
    """Integer fail bitmask of the six Gopher rules (bit k set ⟺ rule
    GOPHER_RULES[k] FAILS; 0 = keep). NULL text → NULL. Every
    comparison is integer (cross-multiplied ratios), so the mask is
    engine-exact. One pure-Column expression — composes into any
    one-scan profile."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    n_words = F.size(toks)
    letters_total = F.length(c) - (n_words - 1)
    n_sym = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), 0))
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    # \x{hhhh} escapes: the one spelling java.regex and RE2/DuckDB share
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^([-*\x{2022}] )")))
    n_ell = F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|\x{2026})$")))
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    n_stop = sum(
        (
            F.when(F.array_contains(toks, F.lit(sw)), 1).otherwise(0)
            for sw in GOPHER_STOPWORDS
        ),
        F.lit(0),
    )
    fails = [
        (n_words < GOPHER_MIN_WORDS) | (n_words > GOPHER_MAX_WORDS),
        (letters_total < GOPHER_MIN_MEAN_WORD_LEN * n_words)
        | (letters_total > GOPHER_MAX_MEAN_WORD_LEN * n_words),
        n_sym * 10 > n_words,
        (n_bullet * 10 > n_lines) | (n_ell * 10 > n_lines * 3),
        n_alpha * 5 < n_words * 4,
        n_stop < 2,
    ]
    mask = F.lit(0)
    for bit, cond in enumerate(fails):
        mask = mask + F.when(cond, F.lit(1 << bit)).otherwise(F.lit(0))
    return F.when(c.isNotNull(), mask.cast("int"))


def gopher_quality(documents: DataFrame) -> DataFrame:
    """Per-doc Gopher rule verdict: (doc_id, gopher_fail_mask,
    gopher_pass). Standalone form of the columns doc_profile carries."""
    mask = gopher_fail_mask("text")
    return documents.select(
        "doc_id",
        mask.alias("gopher_fail_mask"),
        (mask == 0).alias("gopher_pass"),
    )


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document feature vector: token/char/distinct counts, stopword
    count, and exact-ratio derived scores.

    - ttr (type-token ratio): distinct_tokens / tokens — crude dedup/
      quality signal (low ⇒ repetitive doc).
    - stopword_ratio: stopwords / tokens — crude English-ness signal.
    - avg_token_len: (chars - (tokens-1)) / tokens (chars net of the
      single separators), exact integer arithmetic before one division.
    """
    toks = token_count("text")
    return documents.select(
        "doc_id",
        "lang",
        "source",
        toks.alias("n_tokens"),
        distinct_token_count("text").alias("n_distinct_tokens"),
        char_count("text").alias("n_chars_measured"),
        stopword_count("text").alias("n_stopwords"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "n_distinct_tokens",
        "n_chars_measured",
        "n_stopwords",
        (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias("ttr"),
        (F.col("n_stopwords").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
        (
            (F.col("n_chars_measured") - (F.col("n_tokens") - F.lit(1))).cast("double")
            / F.col("n_tokens")
        ).alias("avg_token_len"),
    )


def quality_filter(
    documents: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_ttr_pct: int = 20,
) -> DataFrame:
    """Keep documents passing simple quality gates (Gopher-rule style:
    length bounds + repetitiveness bound). Pure filter — pushdown-friendly."""
    stats = text_stats(documents)
    return stats.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("n_distinct_tokens") * 100 >= F.col("n_tokens") * min_ttr_pct)
    )


def lang_profile(documents: DataFrame) -> DataFrame:
    """Corpus rollup per claimed language: volume + heuristic scores.
    The stopword ratio per lang is a sanity check of the lang label
    (an n-gram language-ID stand-in that stays SQL-expressible)."""
    stats = text_stats(documents)
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_stopwords").alias("total_stopwords"),
            F.sum("n_distinct_tokens").alias("total_distinct_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            (F.col("total_stopwords").cast("double") / F.col("total_tokens")).alias(
                "stopword_ratio"
            ),
            (F.col("total_distinct_tokens").cast("double") / F.col("total_tokens")).alias(
                "avg_ttr"
            ),
        )
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text
    (lower+trim) — the exact-dedup key. md5 is bit-identical across
    engines, unlike engine-native hash() functions."""
    return documents.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )


def normalize_text(col: Column | str) -> Column:
    """Aggressive training-corpus normalization: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace runs, trim.
    Pure built-in string ops — codegen-friendly, no Python boundary.
    SQL mirror: trim(regexp_replace(regexp_replace(lower(x),
    '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )


def normalized_documents(documents: DataFrame) -> DataFrame:
    """doc_id + normalized text + token count of the normalized form —
    the canonicalization step that feeds exact/near dedup tiers."""
    norm = normalize_text("text")
    return documents.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).alias("n_norm_tokens"),
    )


def _winnow_chain(documents: DataFrame, k: int, window: int) -> DataFrame:
    """THE winnowing fingerprint spec, in one place: positional k-gram
    rolling hashes ('0:'-seed md5 family, shared with the DuckDB
    oracles) → per-doc ROWS window min. Returns the per-POSITION
    (doc_id, fp) frame, doc_id-partitioned by the window, WITH
    duplicates — the set consumer dedups via collect_set (zero extra
    exchange), the frame consumer via distinct. Every consumer must go
    through here so the spec cannot fork."""
    from pyspark.sql import Window

    from .dedup import _md5_hash64
    from .parallelize import spread_for_cpu

    # the gram build is the heavy pre-shuffle map — make sure a
    # single-file scan doesn't serialize it onto one core
    documents = spread_for_cpu(documents)
    # pure-codegen gram construction: position explode + concat_ws
    # over element_at lookups. The previous F.transform lambda shape
    # (higher-order functions are CodegenFallback, interpreted per
    # element) paid ~k lambda evals per token; identical (pos, gram)
    # pairs — pos is the same 0-based gram index posexplode produced.
    g = (
        documents.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
        .select(
            "doc_id",
            "_toks",
            F.explode(F.sequence(F.lit(0), F.size("_toks") - k)).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.concat_ws(
                " ", *[F.expr(f"element_at(_toks, pos + {j + 1})") for j in range(k)]
            ).alias("gram"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    return g.select(
        "doc_id", F.min(_md5_hash64(F.col("gram"), 0)).over(w).alias("fp")
    )


def winnowing_fp_frame(
    documents: DataFrame, k: int = 3, window: int = 4
) -> DataFrame:
    """The distinct (doc_id, fp) winnowing-fingerprint frame BOTH
    consumers read — per-doc fingerprint sets (winnowing_fingerprints)
    and pair matching (winnowing_pairs). Compute it once per corpus
    (session-cache / persist it) instead of re-running the gram+hash
    chain per consumer. The distinct adds NO exchange: the window
    already partitions by doc_id, which satisfies the (doc_id, fp)
    clustering.

    The build parameters are baked into the fingerprints, so the frame
    is SELF-DESCRIBING: (k, window) ride in the ``fp`` column's schema
    metadata (zero runtime cost — no extra columns, survives distinct /
    checkpoint / parquet round-trips) and every consumer asserts them
    against its own arguments instead of silently trusting the caller."""
    return (
        _winnow_chain(documents, k, window)
        .select(
            "doc_id",
            F.col("fp").alias(
                "fp", metadata={"winnow_k": k, "winnow_window": window}
            ),
        )
        .distinct()
    )


def _check_fp_frame(fps: DataFrame, k: int, window: int) -> DataFrame:
    """Raise unless ``fps`` declares it was built with exactly this
    (k, window) — fingerprints from different parameters are not
    comparable, and a silent mismatch yields wrong pairs/sets."""
    md = fps.schema["fp"].metadata
    got = (md.get("winnow_k"), md.get("winnow_window"))
    if got != (k, window):
        raise ValueError(
            f"winnowing fp frame declares (k, window)={got} but the call "
            f"expects ({k}, {window}); build the frame with "
            "winnowing_fp_frame(documents, k, window) so the parameters match"
        )
    return fps


def winnowing_fingerprints(
    documents: DataFrame, k: int = 3, window: int = 4, fps: DataFrame | None = None
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): positional k-gram rolling hashes, then the min hash of
    every length-``window`` sliding window, distinct per document.
    Robust to insertions/edits: any shared substring of length
    k + window - 1 guarantees a shared fingerprint.

    Plan: positional k-grams (map) → posexplode → md5-derived BIGINT
    hash (the '0:'-seed family shared with the DuckDB oracles) →
    per-doc ROWS window min → distinct → per-doc sorted fingerprint
    set. One shuffle on doc_id; at 100 TB the window runs inside each
    doc partition. Requires docs with ≥ k tokens (guaranteed by the
    corpus; shorter docs would hit Spark's descending-`sequence` edge).

    ``fps`` takes a precomputed/persisted :func:`winnowing_fp_frame`
    (e.g. corpus_cache.shared_df) so a query that also runs
    winnowing_pairs pays the gram+hash chain ONCE — the frame's
    schema-metadata (k, window) must MATCH this call's arguments
    (ValueError otherwise; fingerprints from different parameters are
    not comparable). None keeps the single-consumer zero-extra-exchange
    inline plan (collect_set over the window's own doc_id partitioning,
    no standalone distinct — a distinct in between would shuffle on
    (doc_id, fp) and break the partitioning reuse).
    """
    fp = (
        _check_fp_frame(fps, k, window)
        if fps is not None
        else _winnow_chain(documents, k, window)
    )
    return (
        fp.groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("fp")).alias("arr"))
        .select(
            "doc_id",
            F.array_join("arr", ",").alias("fps"),
            F.size("arr").alias("n_fps"),
        )
    )


# Character-trigram profiles for the n-gram language-ID heuristic.
# Deliberately tiny + literal so both engines (and the oracle SQL)
# inline the exact same constants; real deployments would learn these
# from per-language corpora offline.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "de": ("der", "ein", "ich", "und", "sch", "die", "cht", "gen"),
    "en": ("the", " th", "ing", "and", " of", "ion", " to", "ed "),
    "es": (" de", "que", "los", " la", "ión", "ado", " el", "nte"),
    "fr": (" le", "les", " de", "ent", "que", "une", "ais", "eur"),
}


def _occurrences(col: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal substring:
    size(split(text, needle)) - 1. split takes a regex — escape."""
    import re

    return F.size(F.split(col, re.escape(needle), -1)) - F.lit(1)


def lang_id(documents: DataFrame, profiles: dict[str, tuple[str, ...]] | None = None) -> DataFrame:
    """N-gram language-ID heuristic: score = total occurrences of each
    language's characteristic character trigrams; predict the argmax
    (ties broken alphabetically). Pure codegen string expressions — a
    per-row map that runs at scan speed at 100 TB.

    The `lang` column in the synthetic corpus is an arbitrary label
    (texts share one vocabulary), so accuracy there is meaningless —
    the mechanism is validated on planted multilingual text in
    tests/test_dedup_similarity.py; this operator's corpus output is
    value-gated against the DuckDB oracle instead.
    """
    scores, pred = _lang_scores(profiles or LANG_TRIGRAMS)
    langs = sorted(scores)
    return documents.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def sum_cols(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _lang_scores(profiles: dict[str, tuple[str, ...]]) -> tuple[dict[str, Column], Column]:
    """(per-language trigram score columns, argmax prediction with
    alphabetical tie-break) — shared by lang_id and doc_profile."""
    lowered = F.lower(F.col("text"))
    scores = {
        lang: sum_cols([_occurrences(lowered, t) for t in tgs])
        for lang, tgs in sorted(profiles.items())
    }
    langs = sorted(scores)
    pred = F.lit(langs[0])
    best = scores[langs[0]]
    for lang in langs[1:]:
        pred = F.when(scores[lang] > best, F.lit(lang)).otherwise(pred)
        best = F.when(scores[lang] > best, scores[lang]).otherwise(best)
    return scores, pred


def doc_profile(
    documents: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_ttr_pct: int = 20,
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """ONE-SCAN per-document profile: text stats ⊕ quality verdict ⊕
    BPE-ish token count ⊕ normalization ⊕ trigram language-ID. Each
    piece exists standalone (text_stats / quality_filter / lang_id /
    normalized_documents); pipelines that want several of them should
    use this composite — one corpus pass instead of one per feature,
    which at 100 TB is the whole game. The quality gate is emitted as a
    ``passes_quality`` flag (not a filter) so downstream stages choose
    drop vs route-to-review without a second scan.
    """
    from .parallelize import spread_for_cpu

    # the profile is pure per-row compute (higher-order bigram arrays,
    # 32 trigram splits, BPE regex) with no shuffle before the final
    # projection — a single-split scan would serialize all of it onto
    # one core; no-op when the scan is already wide
    documents = spread_for_cpu(documents)
    scores, pred = _lang_scores(profiles or LANG_TRIGRAMS)
    langs = sorted(scores)
    norm = normalize_text("text")
    toks = tokens("text")
    # distinct word bigrams (mirrors dedup.ngram_set(n=2) incl. the
    # short-doc guard) — feeds the repetition signal below. NULL text
    # propagates NULL explicitly: size(NULL)'s when-condition is NULL,
    # so without the isNull guard the otherwise(0) branch would fire
    # and diverge from SQL semantics (list ops over NULL → NULL) —
    # every other profile column null-propagates.
    distinct_bigrams = (
        F.when(F.col("text").isNull(), F.lit(None))
        .when(
            F.size(toks) >= 2,
            F.size(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - 2),
                        lambda i: F.array_join(F.slice(toks, i + 1, 2), " "),
                    )
                )
            ),
        )
        .otherwise(F.lit(0))
    )
    base = documents.select(
        "doc_id",
        "lang",
        "source",
        token_count("text").alias("n_tokens"),
        distinct_token_count("text").alias("n_distinct_tokens"),
        distinct_bigrams.cast("int").alias("n_distinct_bigrams"),
        char_count("text").alias("n_chars_measured"),
        stopword_count("text").alias("n_stopwords"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).alias("n_norm_tokens"),
        gopher_fail_mask("text").alias("gopher_fail_mask"),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )
    return base.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "n_distinct_tokens",
        "n_chars_measured",
        "n_stopwords",
        (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias("ttr"),
        (F.col("n_stopwords").cast("double") / F.col("n_tokens")).alias(
            "stopword_ratio"
        ),
        (
            (F.col("n_chars_measured") - (F.col("n_tokens") - F.lit(1))).cast("double")
            / F.col("n_tokens")
        ).alias("avg_token_len"),
        (
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("n_distinct_tokens") * 100 >= F.col("n_tokens") * min_ttr_pct)
        ).alias("passes_quality"),
        "n_distinct_bigrams",
        # repetition signal (the Gopher/MassiveText dup-ngram rule):
        # percent of bigram OCCURRENCES that are repeats of an earlier
        # bigram — boilerplate/looping text scores high. Exact integer
        # division for hash stability.
        F.when(
            F.col("n_tokens") > 1,
            F.expr(
                "((n_tokens - 1 - n_distinct_bigrams) * 100) div (n_tokens - 1)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("dup_bigram_pct"),
        "n_bpe_tokens",
        "norm_text",
        "n_norm_tokens",
        # Gopher/MassiveText A1.1 rule battery (fail bitmask; 0 = keep)
        "gopher_fail_mask",
        (F.col("gopher_fail_mask") == 0).alias("gopher_pass"),
        *[f"score_{lang}" for lang in langs],
        "pred_lang",
    )


def char_bigram_lm(documents: DataFrame) -> DataFrame:
    """Train a corpus-level character-bigram language model over
    NORMALIZED text: one row per bigram with its occurrence count and
    its integer surprisal in bits.

    The CCNet recipe (Wenzek et al. 2020) scores each document with a
    small LM trained on reference text and buckets the corpus by
    perplexity; this is that scorer's engine-exact stand-in. Surprisal
    is quantized to whole bits via exact integer floor-log2
    (length(bin(x)) - 1): bits(bigram) = floor_log2(total_occurrences)
    - floor_log2(count). Integer everywhere — no float log whose last
    ulp could differ between engines, so the scores are hash-stable.

    Returns (bg, c, bits). The frame is tiny (≤ |alphabet|² rows after
    normalization — letters+digits+space) and is meant to be broadcast
    or persisted; at 100 TB the train pass is one explode + one
    partial-aggregated groupBy over the corpus scan.
    """
    grams = _char_bigrams(documents)
    lm = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    tot = lm.agg(F.sum("c").alias("t"))
    return lm.crossJoin(F.broadcast(tot)).select(
        "bg",
        "c",
        (F.length(F.bin("t")) - F.length(F.bin("c"))).alias("bits"),
    )


def _char_bigrams(documents: DataFrame) -> DataFrame:
    """(doc_id, bg): every character-bigram OCCURRENCE of the
    normalized text, positions 1..len-1. NULL/short texts yield no
    rows (explode of empty/NULL array). The sequence is guarded — Spark
    generates DESCENDING sequences when start > stop, so len<2 must
    short-circuit to an empty array, not sequence(1, len-1)."""
    norm = normalize_text("text")
    n = documents.select("doc_id", norm.alias("norm"))
    grams = F.when(
        F.length("norm") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("norm") - 1),
            lambda i: F.substr(F.col("norm"), i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return n.select("doc_id", F.explode(grams).alias("bg"))


def doc_surprisal(documents: DataFrame, lm: DataFrame | None = None) -> DataFrame:
    """Per-document LM quality score: total and mean character-bigram
    surprisal under a corpus bigram LM (see :func:`char_bigram_lm`) —
    the perplexity-bucket signal of the CCNet pipeline, engine-exact.

    ``lm`` takes a pre-trained (persisted) model frame; None trains on
    ``documents`` itself (self-scoring — boilerplate scores LOW bits,
    rare/noisy text scores HIGH). The corpus is exploded and tokenized
    ONCE into checkpointed per-doc (doc_id, bigram, n) counts; the LM
    train (when self-scoring) and the score pass are both cheap
    aggregations over that frame — the train/score structure of the
    published pipeline without a second corpus pass. Docs with no
    bigrams (NULL/short text) emit NULL scores, not zeros, so the gate
    can distinguish "no signal" from "score 0".

    Out-of-vocabulary bigrams (possible only on the pre-trained-LM
    path — self-training covers its own vocabulary) score max-observed
    bits + 1: dropping them would INVERT the signal, crediting the
    noisiest text with the lowest perplexity. The left join + coalesce
    is a no-op for self-scoring, so the oracle mirror is unchanged.

    Returns (doc_id, n_bigrams, surprisal_bits, mean_bits_x100) with
    mean quantized to exact integer hundredths (``div`` semantics).
    """
    # ONE corpus explode: per-doc bigram counts feed BOTH the LM train
    # (self-scoring path — summing per-doc counts IS the global count)
    # and the score pass, so the explode+tokenize never runs twice.
    # Checkpointed because the two passes are separate jobs.
    counts = (
        _char_bigrams(documents)
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if lm is None:
        lmc = counts.groupBy("bg").agg(F.sum("n").alias("c"))
        tot = lmc.agg(F.sum("c").alias("t"))
        lm = lmc.crossJoin(F.broadcast(tot)).select(
            "bg", "c", (F.length(F.bin("t")) - F.length(F.bin("c"))).alias("bits")
        )
    oov = lm.agg((F.max("bits") + 1).alias("oov_bits"))
    scored = (
        counts.join(F.broadcast(lm.select("bg", "bits")), "bg", "left")
        .crossJoin(F.broadcast(oov))
        .withColumn("bits", F.coalesce(F.col("bits"), F.col("oov_bits")))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("bits").cast("long")).alias("surprisal_bits"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            "surprisal_bits",
            F.expr("(surprisal_bits * 100) div n_bigrams").alias("mean_bits_x100"),
        )
    )


def winnowing_pairs(
    documents: DataFrame,
    probe_max_doc_id: int = 50,
    min_shared: int = 2,
    k: int = 3,
    window: int = 4,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Winnowing PAIR MATCHING — what the fingerprints exist for
    (MOSS's actual detection step): flag document pairs sharing at
    least ``min_shared`` winnowing fingerprints, i.e. at least that
    many independent substring matches of length >= k + window - 1.
    The overlap-detection tier between whole-doc md5 (exact) and
    token-set Jaccard (order-blind): it localizes VERBATIM PASSAGES
    and survives insertions between them.

    Probe docs (doc_id < ``probe_max_doc_id``) match against all later
    docs — the same bounded-probe shape as ngram_jaccard_pairs /
    contamination_pairs: the probe fingerprint set broadcasts, the
    corpus side streams through once without shuffling, and the only
    shuffle is the groupBy on matched (a, b) pairs, bounded by true
    overlap. Per corpus fingerprint the join fans out to at most the
    probe docs sharing it, so a boilerplate fingerprint is bounded by
    the probe-set size, never by corpus frequency. At scale the probe
    set is a delta batch or an LSH bucket, as in the other pair tiers.

    ``fps`` takes a precomputed/persisted :func:`winnowing_fp_frame` —
    its schema-metadata (k, window) must MATCH this call's arguments
    (ValueError otherwise); None builds it inline. Returns
    (a_id, b_id, n_shared_fps), a_id < b_id.
    """
    if fps is None:
        fps = winnowing_fp_frame(documents, k=k, window=window)
    else:
        fps = _check_fp_frame(fps, k, window)
    probe = fps.filter(F.col("doc_id") < probe_max_doc_id).select(
        F.col("doc_id").alias("a_id"), F.col("fp").alias("a_fp")
    )
    return (
        fps.join(
            F.broadcast(probe),
            (F.col("a_fp") == F.col("fp")) & (F.col("a_id") < F.col("doc_id")),
        )
        .groupBy("a_id", F.col("doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def pmi_collocations(documents: DataFrame, min_count: int = 3) -> DataFrame:
    """Token-bigram collocations scored by pointwise mutual information
    (Church & Hanks 1990), exact-integer:

        PMI(a,b) = log2( p(a,b) / (p(a)·p(b)) )

    rendered in 1/64-bit fixed point via the engine's shared floor-log2
    chain (operators/search.py — the BM25/DSIR/HLL spec), decomposed as

        pmi_x64 = fl(T_uni, c_a) + fl(T_uni, c_b) − fl(T_bi, c_ab)

    where fl(p, q) = 64·log2(p/q). Each term is a ratio >= 1 (a count
    never exceeds its total), so every chain input satisfies the
    chain's p >= q >= 1 precondition, and no T² product is ever formed
    — nothing overflows int64 at any corpus size whose token count
    fits int64. The sum itself may be negative (anti-collocations);
    integer addition keeps it hash-stable.

    Distribution: ONE corpus scan — unigrams, bigrams, and a
    nonempty-doc marker ride a single tagged explode into a single
    partial-aggregated groupBy (the corpus is tokenized once, vs the
    naive 4-scan uni/bi/two-totals shape — measured 2x on this
    container); the ``min_count`` filter prunes the singleton tail
    BEFORE the two vocab joins (at web scale most bigrams are hapax —
    this is the knob that keeps the join frames small). Totals derive
    from the grouped frame itself: t_uni = sum of unigram counts,
    t_bi = t_uni − #nonempty docs (each doc with n >= 1 tokens has
    n − 1 bigrams), both tiny broadcast aggregates of the vocab frame
    — never a second corpus pass. No window, no skew-prone key: the
    hottest bigram key is pre-aggregated map-side.

    Returns (a, b, c_ab, pmi_x64) for every bigram with
    c_ab >= min_count.
    """
    from .search import with_fixed_log2_x64

    ns = F.lit(None).cast("string")
    t = documents.select(
        F.when(F.col("text").isNotNull(), tokens("text"))
        .otherwise(F.array().cast("array<string>"))
        .alias("toks")
    )
    # one tagged row stream: (a, NULL) per token, (a, b) per adjacent
    # pair, (NULL, NULL) once per nonempty doc
    tagged = t.select(
        F.explode(
            F.concat(
                F.transform(
                    "toks", lambda x: F.struct(x.alias("a"), ns.alias("b"))
                ),
                F.when(
                    F.size("toks") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.struct(
                            F.element_at("toks", i).alias("a"),
                            F.element_at("toks", i + F.lit(1)).alias("b"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>")),
                F.when(
                    F.size("toks") >= 1,
                    F.array(F.struct(ns.alias("a"), ns.alias("b"))),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>")),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    # the grouped vocab frame has FOUR consumers (uni twice, totals,
    # bigram slice) — checkpoint it so the corpus explode runs ONCE
    # (without this the union plan re-evaluates the explode per
    # consumer: measured 4s -> 10s on q17 before this landed)
    grouped = (
        tagged.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    )
    uni = grouped.filter(
        F.col("b").isNull() & F.col("a").isNotNull()
    ).select("a", F.col("c").alias("c_a"))
    t_uni = uni.agg(F.sum("c_a").alias("t_uni"))
    nonempty = grouped.filter(F.col("a").isNull()).select(
        F.col("c").alias("n_nonempty")
    )
    j = (
        grouped.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .select("a", "b", F.col("c").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
        .join(uni, "a")
        .join(
            uni.select(F.col("a").alias("b"), F.col("c_a").alias("c_b")), "b"
        )
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(nonempty))
        .withColumn("t_bi", F.col("t_uni") - F.col("n_nonempty"))
    )
    j = with_fixed_log2_x64(j, "t_uni", "c_a", "fl_a")
    j = with_fixed_log2_x64(j, "t_uni", "c_b", "fl_b")
    j = with_fixed_log2_x64(j, "t_bi", "c_ab", "fl_ab")
    return j.select(
        "a",
        "b",
        "c_ab",
        (F.col("fl_a") + F.col("fl_b") - F.col("fl_ab")).alias("pmi_x64"),
    )


def zipf_profile(documents: DataFrame, top_n: int = 50) -> DataFrame:
    """Zipf rank-frequency profile of the corpus vocabulary — the
    corpus-law sanity check a pipeline owner runs on every new source
    (natural text follows freq ∝ rank^(-s) with s ≈ 1; boilerplate,
    spam, and template farms bend the curve): the ``top_n``
    most-frequent tokens with (rank, freq), their fixed-point log-log
    coordinates, and the least-squares slope of the log-log fit — all
    EXACT integers via the shared 1/64-bit floor-log2 chain
    (operators/search.py, the same spec BM25/DSIR/HLL render for both
    engines), so the oracle hashes the law itself.

    Returns (token, freq, rank, lr_x64, lf_x64, slope_x64) with
    slope_x64 = 64·s repeated on every row (s is the NEGATED exponent,
    positive for natural text). Plan shape: one explode + one
    map-side-combined groupBy on the token (vocabulary-sized, not
    corpus-sized), TakeOrderedAndProject for the top-N heap, then
    windows over the N surviving rows only — the single-partition
    window is bounded by ``top_n``, never by data."""
    from pyspark.sql import Window

    from . import search

    tok = (
        documents.filter(F.col("text").isNotNull())
        .select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    top = freq.orderBy(F.col("freq").desc(), "token").limit(top_n)
    w = Window.orderBy(F.col("freq").desc(), "token")
    ranked = top.withColumn("rank", F.row_number().over(w).cast("long"))
    pts = search.with_fixed_log2_x64(ranked, "rank", "1", "lr_x64")
    pts = search.with_fixed_log2_x64(pts, "freq", "1", "lf_x64")
    ww = Window.partitionBy()
    pts = pts.select(
        "token",
        "freq",
        "rank",
        "lr_x64",
        "lf_x64",
        F.count(F.lit(1)).over(ww).alias("_n"),
        F.sum("lr_x64").over(ww).alias("_sx"),
        F.sum("lf_x64").over(ww).alias("_sy"),
        F.sum(F.col("lr_x64") * F.col("lf_x64")).over(ww).alias("_sxy"),
        F.sum(F.col("lr_x64") * F.col("lr_x64")).over(ww).alias("_sxx"),
    )
    # least squares on the fixed-point points; negated so natural text
    # scores POSITIVE ~64; integer div truncates identically in Spark
    # (div) and DuckDB (//)
    slope = F.expr(
        "CASE WHEN _n * _sxx - _sx * _sx = 0 THEN NULL "
        "ELSE ((_sx * _sy - _n * _sxy) * 64) div (_n * _sxx - _sx * _sx) END"
    )
    return pts.select(
        "token", "freq", "rank", "lr_x64", "lf_x64",
        slope.cast("long").alias("slope_x64"),
    )


REPETITION_THRESHOLDS = {2: 20, 3: 18, 4: 16}  # Gopher A1.1 top-n-gram %


def repetition_report(
    documents: DataFrame,
    thresholds: dict[int, int] = REPETITION_THRESHOLDS,
) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 appendix A1.1, the
    half of MassiveText filtering :func:`gopher_fail_mask` doesn't
    cover): a document fails the top-``n``-gram rule when the
    characters of its most common n-gram exceed ``thresholds[n]``
    percent of the text — template/boilerplate farms fail long before
    the six quality rules fire. Line/paragraph variants are omitted:
    this corpus is single-line (the rules would be vacuous).

    Most-common n-gram is deterministic where it matters: the winner
    is max(count, gram_chars) — grams tying on BOTH leave the verdict
    identical (the rule consumes only count × gram_chars), so no
    string tie-break is needed and the reduction stays a map-combined
    aggregate. The threshold compare is cross-multiplied integers
    (count × gram_chars × 100 > pct × doc_chars), so the verdict is
    exact.

    Returns one corpus row per n: (n, n_docs evaluated — docs with at
    least n tokens, n_fail). Plan shape: ONE explode over all n values
    (n rides the gram rows), one map-combined groupBy on (doc, n,
    gram), a map-combined max-struct per (doc, n) — no window, no
    sort — then a 3-group aggregate; nothing scales beyond the corpus
    token count."""
    ns = sorted(thresholds)

    toks = documents.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.split("text", " ").alias("_toks"),
    )
    # gram construction is pure codegen: one position explode, then
    # per n a when-guarded concat_ws over element_at lookups. The
    # previous shape built the gram arrays with F.transform lambdas —
    # higher-order functions are CodegenFallback (interpreted per
    # element, the round-5 DSIR trap), and at ~3 lambda evals per
    # token they were the dominant cost of this operator (same-session
    # A/B in OPTIMIZATION_r13.md). Identical gram strings: concat_ws
    # over the n never-null tokens == array_join(slice(...), ' '),
    # and the pos + n - 1 <= size guard reproduces the old
    # sequence(1, size-(n-1)) position set exactly.
    pos_rows = toks.select(
        "doc_id",
        "n_chars",
        "_toks",
        F.explode(F.sequence(F.lit(1), F.size("_toks"))).alias("pos"),
    )
    gram_structs = F.array(
        *[
            F.when(
                F.col("pos") + (n - 1) <= F.size("_toks"),
                F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(
                        " ", *[F.expr(f"element_at(_toks, pos + {j})") for j in range(n)]
                    ).alias("gram"),
                ),
            )
            for n in ns
        ]
    )
    grams = (
        pos_rows.select("doc_id", "n_chars", F.explode(gram_structs).alias("g"))
        .filter(F.col("g").isNotNull())
        .select("doc_id", "n_chars", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    counts = grams.groupBy("doc_id", "n_chars", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    # top gram per (doc, n) as a map-combined max(struct(count, gram
    # chars)) — NOT a window: grams tying on both count and length
    # yield the SAME verdict (the rule only consumes c x gram_chars),
    # so the winner's identity is irrelevant and the per-partition
    # sort a row_number window needs is pure cost
    top = counts.groupBy("doc_id", "n_chars", "n").agg(
        F.max(
            F.struct(F.col("c"), F.length("gram").alias("gl"))
        ).alias("t")
    )
    pct = F.create_map(
        *[F.lit(x) for kv in thresholds.items() for x in kv]
    )
    fails = top.select(
        "n",
        (
            F.col("t.c") * F.col("t.gl") * 100
            > pct[F.col("n")] * F.col("n_chars")
        ).cast("int").alias("fail"),
    )
    return fails.groupBy("n").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("fail").alias("n_fail"),
    )
