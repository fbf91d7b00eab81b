"""Property tests for the non-SQL-expressible dedup/similarity ops:
LSH candidates verified against exact Jaccard, ANN verified against
brute force, SimHash invariants on exact duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators import dedup, similarity
from e_commerce_lakehouse_spark.sources import load_table
from tests.conftest import SF_SMALL


def _with_synthetic_dups(docs, n: int = 30, offset: int = 1_000_000):
    """Testdata has no exact duplicates — append copies of the first
    ``n`` docs under shifted doc_ids."""
    clones = (
        docs.filter(F.col("doc_id") < n)
        .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    )
    return docs.unionByName(clones)


def test_minhash_lsh_finds_exact_duplicates(spark):
    docs = _with_synthetic_dups(load_table(spark, SF_SMALL, "documents"))
    lsh = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold_pct=99)
    pairs = {(r.a_id, r.b_id): r.jaccard for r in lsh.collect()}
    for i in range(30):
        assert (i, i + 1_000_000) in pairs, f"missing dup pair {i}"
        assert pairs[(i, i + 1_000_000)] == 1.0
    # exact_dedup agrees on the same clones
    groups = dedup.exact_dedup(docs).filter(F.col("n_copies") > 1).collect()
    assert len(groups) >= 28  # first-30 docs may contain same-text pairs


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1))}


def test_lsh_jaccard_matches_exact(spark):
    docs = _with_synthetic_dups(load_table(spark, SF_SMALL, "documents"))
    lsh = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold_pct=50)
    sample = lsh.limit(20).collect()
    assert sample, "LSH should find at least one near-dup pair at threshold 50"
    tok = {
        r.doc_id: _shingles(r.text)
        for r in docs.select("doc_id", "text").collect()
    }
    for r in sample:
        a, b = tok[r.a_id], tok[r.b_id]
        exact = len(a & b) / len(a | b)
        assert abs(r.jaccard - exact) < 1e-12
        assert exact >= 0.5


def test_ann_lsh_subset_of_bruteforce_scores(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    ann = similarity.ann_topk_lsh(emb, query_max_id=10, k=5, planes=4).collect()
    assert ann, "ANN should return candidates with 4 planes"
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, query_max_id=10, k=500).collect()
    }
    for r in ann:
        key = (r.query_id, r.neighbor_id)
        assert key in brute
        assert abs(brute[key] - r.cosine) < 1e-12  # same exact quantized math
    for r in ann:
        assert 1 <= r.rank <= 5


def test_ann_recall_reasonable(spark):
    """Single-table LSH with few planes should still recover a decent
    fraction of true top-5 — sanity floor, not a tuning target."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    truth = similarity.cosine_topk(emb, query_max_id=10, k=5).collect()
    ann = similarity.ann_topk_lsh(emb, query_max_id=10, k=5, planes=2).collect()
    truth_set = {(r.query_id, r.neighbor_id) for r in truth}
    ann_set = {(r.query_id, r.neighbor_id) for r in ann}
    recall = len(truth_set & ann_set) / len(truth_set)
    assert recall >= 0.2, f"recall collapsed: {recall}"


def test_simhash_identical_for_exact_dups(spark):
    docs = _with_synthetic_dups(load_table(spark, SF_SMALL, "documents"))
    sh = dedup.simhash(docs, bits=32)
    joined = (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("fp"), "doc_id")
        .join(sh, "doc_id")
        .groupBy("fp")
        .agg(F.countDistinct("simhash").alias("n_distinct_fp"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    rows = joined.collect()
    assert rows, "need duplicate groups in testdata"
    for r in rows:
        assert r.n_distinct_fp == 1


def test_hamming_distance(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], ["a", "b"])
    got = df.select(
        dedup.hamming_distance(F.col("a"), F.col("b")).alias("d")
    ).first()["d"]
    assert got == 2


def test_duplicate_clusters_transitive(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], ["a_id", "b_id"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_duplicate_clusters_releases_superseded_checkpoints(spark):
    """The CC loop must unpersist every round it supersedes (a chain
    forces several propagation rounds), keep ONLY the final labels
    pinned, and that final checkpoint must stay consumable after the
    releases — collect() runs after the whole loop has freed its
    intermediates."""
    from e_commerce_lakehouse_spark.operators.parallelize import (
        _persistent_rdd_ids,
        release_rdds,
    )

    before = _persistent_rdd_ids(spark)
    chain = [(i, i + 1) for i in range(1, 9)]  # diameter-8 component
    result = dedup.duplicate_clusters(
        spark.createDataFrame(chain, ["a_id", "b_id"])
    )
    created = _persistent_rdd_ids(spark) - before
    # one surviving checkpoint (the labels the result reads), not one
    # per round + pairs — a regression here re-pins O(rounds) copies
    assert len(created) == 1, f"leaked checkpoints: {created}"
    assert {r["cluster_id"] for r in result.collect()} == {1}
    release_rdds(spark, created)  # leave the session clean for other tests


def _own_block_id(ck) -> int:
    """Block id of a checkpointed frame, read from its LogicalRDD."""
    return int(ck._jdf.queryExecution().logical().rdd().id())


def test_checkpoint_ids_exclude_cached_input_blocks(spark):
    """Checkpointing a frame that reads a lazily ``.cache()``d frame
    materializes the cache's block in the same job; the tracked ids
    must be the checkpoint's own block only, so releasing them leaves
    the caller's cache intact."""
    from e_commerce_lakehouse_spark.operators.parallelize import (
        _persistent_rdd_ids,
        local_checkpoint_tracked,
        release_rdds,
    )

    base = spark.range(300).withColumn("v", F.col("id") * 3).cache()
    try:
        before = _persistent_rdd_ids(spark)
        ck, ids = local_checkpoint_tracked(
            base.groupBy((F.col("id") % 7).alias("k")).agg(F.sum("v").alias("s"))
        )
        cache_blocks = _persistent_rdd_ids(spark) - before - ids
        assert ids == {_own_block_id(ck)}
        assert cache_blocks, "the cached input should have materialized"
        assert ck.count() == 7
        release_rdds(spark, ids)
        live = _persistent_rdd_ids(spark)
        assert cache_blocks <= live
        assert not ids & live
    finally:
        base.unpersist()


def test_checkpoint_ids_are_per_thread(spark):
    """Two driver threads checkpointing at the same moment each get
    exactly their own block id; releasing one thread's block leaves the
    other's frame readable."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from e_commerce_lakehouse_spark.operators.parallelize import (
        _persistent_rdd_ids,
        local_checkpoint_tracked,
        release_rdds,
    )

    barrier = threading.Barrier(2)

    def run(n):
        df = spark.range(n).withColumn("x", F.col("id") * 2)
        barrier.wait(timeout=60)
        ck, ids = local_checkpoint_tracked(df)
        return ck, ids

    with ThreadPoolExecutor(max_workers=2) as pool:
        (ck_a, ids_a), (ck_b, ids_b) = pool.map(run, [50, 80])
    assert ids_a == {_own_block_id(ck_a)}
    assert ids_b == {_own_block_id(ck_b)}
    assert ids_a != ids_b
    assert (ids_a | ids_b) <= _persistent_rdd_ids(spark)
    release_rdds(spark, ids_a)
    assert ck_b.count() == 80
    release_rdds(spark, ids_b)


def test_dedup_by_clusters_end_to_end(spark):
    docs = _with_synthetic_dups(load_table(spark, SF_SMALL, "documents"))
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold_pct=99)
    cleaned = dedup.dedup_by_clusters(docs, pairs)
    # every planted clone (doc_id >= 1M) had a lower-id original → all dropped
    assert cleaned.filter(F.col("doc_id") >= 1_000_000).count() == 0
    # originals all kept
    assert cleaned.count() == docs.count() - 30


def test_winnowing_guarantees_shared_fingerprint_on_shared_substrings(spark):
    """The winnowing guarantee: any shared token run of length
    k + window - 1 (= 6 here) produces at least one shared fingerprint,
    even when the rest of the document is edited."""
    from e_commerce_lakehouse_spark.operators import text as text_ops

    base = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 10)
    # clone each doc with an inserted prefix + suffix — the original
    # token sequence survives intact in the middle
    edited = base.withColumn(
        "text", F.concat(F.lit("zzz prefix goes here "), F.col("text"), F.lit(" tail"))
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    fps = text_ops.winnowing_fingerprints(base.unionByName(edited), k=3, window=4)
    got = {r.doc_id: set(r.fps.split(",")) for r in fps.collect()}
    for i in range(10):
        shared = got[i] & got[i + 1_000_000]
        assert shared, f"doc {i}: edited clone shares no winnowing fingerprint"


def test_kmeans_training_improves_quantizer(spark):
    """Lloyd iterations must not worsen the objective: total squared
    distance under trained centroids <= under the seed centroids."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    before = similarity.kmeans_assignments(emb, k=8, iters=0)
    after = similarity.kmeans_assignments(emb, k=8, iters=2)
    sse0 = before.agg(F.sum("d2")).first()[0]
    sse2 = after.agg(F.sum("d2")).first()[0]
    assert sse2 <= sse0
    assert sse2 < sse0  # on this corpus it strictly improves
    # deterministic: rerun gives identical assignments
    a1 = sorted((r.vec_id, r.cell, r.d2) for r in after.collect())
    a2 = sorted(
        (r.vec_id, r.cell, r.d2)
        for r in similarity.kmeans_assignments(emb, k=8, iters=2).collect()
    )
    assert a1 == a2


def test_lang_id_on_planted_multilingual_text(spark):
    from e_commerce_lakehouse_spark.operators import text as text_ops

    samples = [
        (0, "the king and the queen were going to the city of the north", "en"),
        (1, "les enfants mangent une pomme que le professeur leur a donnée", "fr"),
        (2, "los estudiantes que estaban en la ciudad comieron el almuerzo", "es"),
        (3, "ich habe einen schönen und guten freund der die schule mag", "de"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in samples], "doc_id long, text string"
    )
    got = {r.doc_id: r.pred_lang for r in text_ops.lang_id(df).collect()}
    for i, _, want in samples:
        assert got[i] == want, f"doc {i}: predicted {got[i]}, want {want}"


def test_ivf_with_trained_centroids(spark):
    """ivf_topk accepts the trained quantizer and still produces a full
    valid top-k per probe (k results, ranks 1..k, cosine within [-1,1])."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    trained = similarity.kmeans_centroids(emb, k=8, iters=2)
    out = similarity.ivf_topk(emb, nprobe=2, query_max_id=5, k=5, centroids=trained)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert -1.0 <= r.cosine <= 1.0
    for q, rs in by_q.items():
        assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
    assert len(by_q) == 5


def test_ann_multi_table_recall_dominates_single(spark):
    """OR-amplification: the 3-table candidate union must recover at
    least as much of the true top-5 as any single table alone (each
    single table IS one of the three), and every returned cosine must
    match the exact quantized math."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    truth_set = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, query_max_id=10, k=5).collect()
    }
    multi = similarity.ann_topk_multi(
        emb, query_max_id=10, k=5, planes=8, tables=3, base_seed=7
    ).collect()
    single = similarity.ann_topk_lsh(
        emb, query_max_id=10, k=5, planes=8
    ).collect()
    m_recall = len(truth_set & {(r.query_id, r.neighbor_id) for r in multi}) / len(truth_set)
    s_recall = len(truth_set & {(r.query_id, r.neighbor_id) for r in single}) / len(truth_set)
    assert m_recall >= s_recall, f"multi {m_recall} < single {s_recall}"
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, query_max_id=10, k=2000).collect()
    }
    for r in multi:
        assert abs(brute[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12
        assert 1 <= r.rank <= 5


def test_incremental_admission_rejects_clones(spark):
    """Every cloned doc 'arrives' after the corpus and must be rejected
    with a perfect-Jaccard best match; its best_match_id is an earlier
    doc (the original, or an identical-text predecessor)."""
    docs = _with_synthetic_dups(load_table(spark, SF_SMALL, "documents"))
    out = dedup.minhash_lsh_incremental(
        docs, new_min_doc_id=1_000_000, threshold_pct=99
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 30
    for i in range(30):
        r = rows[i + 1_000_000]
        assert not r.admitted, f"clone {i} wrongly admitted"
        assert r.best_jaccard == 1.0
        assert r.best_match_id <= i
        assert r.n_dup_partners >= 1


def test_edit_distance_pairs_find_clones(spark):
    """Exact clones of probe docs share all SimHash bands and have edit
    distance 0 — every probe's clone pair must surface."""
    docs = _with_synthetic_dups(load_table(spark, SF_SMALL, "documents"), n=10)
    out = dedup.simhash_edit_pairs(
        docs, probe_max_doc_id=10, threshold_pct=30
    )
    got = {(r.a_id, r.b_id): r.edit_distance for r in out.collect()}
    for i in range(10):
        assert got.get((i, i + 1_000_000)) == 0, f"clone pair {i} missing"


def test_doc_profile_repetition_signal(spark):
    """The Gopher-style dup-bigram rule: a looping/boilerplate doc must
    score high, a token-diverse doc 0, and a sub-bigram doc (0, 0) —
    exact integer percentages (hash-stable)."""
    from e_commerce_lakehouse_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam spam spam", "en", "t"),
            (2, "eleven completely different tokens appear in this one sentence here now", "en", "t"),
            (3, "one", "en", "t"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {
        r.doc_id: (r.n_distinct_bigrams, r.dup_bigram_pct)
        for r in T.doc_profile(docs).collect()
    }
    assert rows[1] == (1, 90)   # 10 bigram occurrences, 1 distinct -> 90%
    assert rows[2] == (10, 0)   # all bigrams distinct
    assert rows[3] == (0, 0)    # shorter than a bigram


def test_doc_profile_null_text_propagates(spark):
    """NULL text must null-propagate through n_distinct_bigrams like
    every other profile column (SQL list-op semantics — the q16 oracle
    computes NULL here), while dup_bigram_pct stays 0 on both sides."""
    from e_commerce_lakehouse_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, None, "en", "t"), (2, "a b a b", "en", "t")],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.doc_id: r for r in T.doc_profile(docs).collect()}
    assert rows[1].n_distinct_bigrams is None
    assert rows[1].dup_bigram_pct == 0
    assert rows[1].n_tokens is None  # the pre-existing null contract
    assert rows[2].n_distinct_bigrams == 2


def test_semdedup_finds_planted_semantic_dups(spark):
    """A cloned embedding (cosine 1.0 with its source) must surface as
    an intra-cluster pair, and the keep-furthest-from-centroid policy
    must drop exactly one member of each pair (ties drop the larger
    id — clones tie on d2 by construction)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    clones = (
        emb.filter(F.col("vec_id") < 10)
        .withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    )
    assign, pairs, drops = similarity.semdedup(
        emb.unionByName(clones), k=8, iters=2, threshold=0.999
    )
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    for i in range(10):
        assert (i, i + 1_000_000) in got, f"missing clone pair {i}"
    # every pair drops exactly one side; clones tie on d2 so the larger
    # (cloned) id goes
    dropped = {r.vec_id for r in drops.collect()}
    for i in range(10):
        assert i + 1_000_000 in dropped
        assert i not in dropped or any(
            a == i or b == i for a, b in got if (a, b) != (i, i + 1_000_000)
        )
    # assignment covers every vector exactly once
    n_all = emb.count() + 10
    assert assign.count() == n_all
    assert assign.select("vec_id").distinct().count() == n_all


def test_semdedup_pairs_match_bruteforce(spark):
    """The intra-cell pair set equals the brute-force intra-cell
    all-pairs >= threshold (grid pairing is exact, never truncated)."""
    emb = load_table(spark, SF_SMALL, "embeddings").filter(F.col("vec_id") < 120)
    assign, pairs, _ = similarity.semdedup(emb, k=4, iters=1, threshold=0.2)
    a = {(r.vec_id): r.cell for r in assign.collect()}
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    vecs = {r.vec_id: r.embedding for r in emb.collect()}

    def cos(x, y):
        import math
        qx = [math.floor(float(v) * 1e6 + 0.5) for v in x]
        qy = [math.floor(float(v) * 1e6 + 0.5) for v in y]
        dot = sum(p * q for p, q in zip(qx, qy))
        nx = sum(p * p for p in qx)
        ny = sum(q * q for q in qy)
        return dot / (nx**0.5 * ny**0.5)

    ids = sorted(vecs)
    expect = {
        (i, j)
        for ii, i in enumerate(ids)
        for j in ids[ii + 1 :]
        if a[i] == a[j] and cos(vecs[i], vecs[j]) >= 0.2
    }
    assert got == expect


def test_span_dedup_cuts_repeated_spans(spark):
    """Planted corpus: doc 0 owns span A; doc 1 repeats A then unique
    text; doc 2 is A twice (within-doc repeat). First occurrence =
    (min doc_id, min pos) survives; everything else is cut."""
    A = "a b c d e f g h i j"  # exactly one 10-token span
    docs = spark.createDataFrame(
        [
            (0, A + " " + "k l m n o p q r s t"),
            (1, A + " " + "u v w x y z aa bb cc dd"),
            (2, A + " " + A),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup.span_dedup(docs, span_tokens=10).collect()}
    assert (got[0].n_spans, got[0].n_spans_kept) == (2, 2)
    assert got[0].clean_text == A + " " + "k l m n o p q r s t"
    assert (got[1].n_spans, got[1].n_spans_kept) == (2, 1)
    assert got[1].clean_text == "u v w x y z aa bb cc dd"
    assert (got[2].n_spans, got[2].n_spans_kept) == (2, 0)
    assert got[2].clean_text is None
    assert got[3].n_spans is None and got[3].clean_text is None


def test_span_dedup_partitioning_independent(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    a = {r.doc_id: (r.n_spans_kept, r.clean_text)
         for r in dedup.span_dedup(docs).collect()}
    b = {r.doc_id: (r.n_spans_kept, r.clean_text)
         for r in dedup.span_dedup(docs.repartition(17)).collect()}
    assert a == b


def test_winnowing_pairs_planted_passage(spark):
    """A verbatim passage long enough for >= min_shared fingerprint
    windows flags the pair; unrelated docs don't; a_id < b_id."""
    from e_commerce_lakehouse_spark.operators import text as text_ops

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"intro words {shared} closing remark"),
            (60, f"totally different opening {shared} and another tail"),
            (61, "nothing in common with anything here at all today"),
        ],
        "doc_id long, text string",
    )
    rows = text_ops.winnowing_pairs(
        docs, probe_max_doc_id=50, min_shared=2, k=3, window=4
    ).collect()
    got = {(r.a_id, r.b_id): r.n_shared_fps for r in rows}
    assert (1, 60) in got and got[(1, 60)] >= 2
    assert all(b != 61 for (_, b) in got)
    assert all(a < b for (a, b) in got)


def test_winnowing_fp_frame_self_describing(spark):
    """fp frames carry their (k, window) in schema metadata; consumers
    raise on mismatch instead of silently producing wrong-parameter
    results, and the metadata survives the localCheckpoint a session
    cache applies."""
    import pytest

    from e_commerce_lakehouse_spark.operators import text as text_ops
    from e_commerce_lakehouse_spark.operators.parallelize import (
        local_checkpoint_tracked,
        release_rdds,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    fps = text_ops.winnowing_fp_frame(docs, k=3, window=4)
    # matching parameters: both consumers accept the frame
    assert text_ops.winnowing_fingerprints(docs, k=3, window=4, fps=fps).count() == 1
    text_ops.winnowing_pairs(docs, k=3, window=4, fps=fps).count()
    # mismatched parameters: loud, not silent
    with pytest.raises(ValueError, match=r"\(k, window\)"):
        text_ops.winnowing_fingerprints(docs, k=2, window=4, fps=fps)
    with pytest.raises(ValueError, match=r"\(k, window\)"):
        text_ops.winnowing_pairs(docs, k=3, window=5, fps=fps)
    # a frame that never declared its parameters is rejected too
    # (a bare re-alias PRESERVES the metadata — stripping needs an
    # explicit empty metadata dict, so accidental loss is hard)
    stripped = fps.select("doc_id", F.col("fp").alias("fp", metadata={}))
    with pytest.raises(ValueError, match="winnowing_fp_frame"):
        text_ops.winnowing_pairs(docs, k=3, window=4, fps=stripped)
    # metadata survives the checkpoint the session cache applies
    ck, ids = local_checkpoint_tracked(fps)
    assert text_ops.winnowing_fingerprints(docs, k=3, window=4, fps=ck).count() == 1
    release_rdds(spark, ids)


# -- product quantization (PQ) ----------------------------------------------


def test_pq_codes_pack_and_bounds(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    codes, _ = similarity.pq_index(emb, m=8, ks=16, iters=1)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)
        # pq_code packs 4 bits per subspace, losslessly
        assert [(r.pq_code >> (4 * s)) & 0xF for s in range(8)] == list(r.codes)


def test_pq_planted_clone_ranks_first(spark):
    """A clone of the query vector gets identical codes, so its ADC
    distance equals the query's own quantization error — strictly the
    minimum over the synthetic corpus. The PQ analog of the planted-dup
    gates on the text tiers."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") == 3).select("embedding").first()
    clone_id = 100000
    clone = spark.createDataFrame(
        [(clone_id, q.embedding, 0)], "vec_id long, embedding array<float>, label int"
    )
    _, topk = similarity.pq_index(emb.unionByName(clone), query_max_id=4, k=3)
    top1 = {r.query_id: r.neighbor_id for r in topk.collect() if r.rank == 1}
    assert top1[3] == clone_id
    # and the pair is symmetric in code space: same adc to each other
    d = {(r.query_id, r.neighbor_id): r.adc_d2 for r in topk.collect()}
    assert d[(3, clone_id)] >= 0


def test_trainers_match_bruteforce_lloyd(spark):
    """The fused assignment+partial-sum kernel (_centroid_partial_sums,
    the round-13 shape that replaced the posexplode aggregate) must
    reproduce Lloyd state EXACTLY: both trainers vs a driver-side
    numpy reference over the real small corpus — same seeding, same
    first-minimum tie-break, same floor(sum/count) update."""
    import math

    import numpy as np

    emb = load_table(spark, SF_SMALL, "embeddings")
    v = similarity._kmeans_prep(emb)
    rows = sorted(
        ((int(r.vec_id), [int(x) for x in r.vec]) for r in v.collect())
    )
    V = np.array([vec for _, vec in rows], dtype=np.int64)
    ids = np.array([i for i, _ in rows], dtype=np.int64)

    def ref(m, ks, iters):
        dim = V.shape[1]
        d0 = dim // m
        seed = V[ids < ks]
        cells = [list(ids[ids < ks]) for _ in range(m)]
        cent = [seed[:, s * d0 : (s + 1) * d0].copy() for s in range(m)]
        for _ in range(iters):
            ncells, ncent = [], []
            for s in range(m):
                sub = V[:, s * d0 : (s + 1) * d0]
                d2 = ((sub[:, None, :] - cent[s][None, :, :]) ** 2).sum(axis=2)
                cid = np.asarray(cells[s])[d2.argmin(axis=1)]
                cl, ce = [], []
                for c in sorted(set(int(x) for x in cid)):
                    grp = sub[cid == c]
                    cl.append(c)
                    ce.append(
                        [
                            math.floor(int(grp[:, p].sum()) / len(grp))
                            for p in range(d0)
                        ]
                    )
                ncells.append(cl)
                ncent.append(np.array(ce, dtype=np.int64))
            cells, cent = ncells, ncent
        return cells, [[list(map(int, row)) for row in c] for c in cent]

    assert similarity._pq_train(v, 4, 8, 2) == ref(4, 8, 2)
    kc, kv = similarity._kmeans_train(v, 8, 2)
    rc, rv = ref(1, 8, 2)
    assert (kc, kv) == (rc[0], rv[0])


def test_pq_deterministic_across_partitionings(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    c1, t1 = similarity.pq_index(emb)
    c2, t2 = similarity.pq_index(emb.repartition(13))
    assert sorted((r.vec_id, r.pq_code) for r in c1.collect()) == sorted(
        (r.vec_id, r.pq_code) for r in c2.collect()
    )
    assert sorted(map(tuple, t1.collect())) == sorted(map(tuple, t2.collect()))


def test_pq_dim_not_divisible_raises(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    import pytest as _pytest

    with _pytest.raises(Exception, match="divisible"):
        similarity.pq_index(emb, m=7).__getitem__(0).collect()


def test_ranking_quality_metrics(spark):
    """recall@k and MRR on hand-built rankings: perfect, partial (hit
    at rank 3), and disjoint."""
    exact = spark.createDataFrame(
        [(q, n, r) for q in (0, 1, 2) for r, n in enumerate([10, 11, 12], 1)],
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        # q0: identical; q1: only exact-member is 12 at rank 3; q2: none
        [(0, 10, 1), (0, 11, 2), (0, 12, 3),
         (1, 50, 1), (1, 51, 2), (1, 12, 3),
         (2, 60, 1), (2, 61, 2), (2, 62, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    got = {
        r.query_id: (r.recall_at_k, r.mrr_x1e6, r.ndcg_x1e6)
        for r in similarity.ranking_quality(approx, exact, k=3).collect()
    }
    d = [similarity.dcg_discount_x(r) for r in (1, 2, 3)]
    idcg = sum(d)
    assert got == {
        0: (3, 1_000_000, 1_000_000),          # perfect -> exactly 1.0
        1: (1, 1_000_000 // 3, d[2] * 1_000_000 // idcg),
        2: (0, 0, 0),
    }
    # the discount constants come from the shared fixed-point log2
    # chain spec — pin them against the independent chain mirror
    from tests.test_search import _fx64_ref

    for r in (1, 2, 3, 4, 5):
        assert similarity.dcg_discount_x(r) == ((1 << 26) * 64) // _fx64_ref(r + 1, 1)


def test_duplicate_clusters_self_pairs(spark):
    """Defensive input: self-pairs (a_id == b_id) must not make nodes
    vanish from the contraction — a self-pair-only node labels itself
    (the semantics min-label propagation had), and a self-pair on a
    node that also has real edges is a no-op."""
    pairs = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 3), (7, 7), (7, 8)], ["a_id", "b_id"]
    )
    got = {
        r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 7: 7, 8: 7}


def test_ranking_quality_small_corpus_idcg(spark):
    """NDCG normalizes per query by the ideal DCG over min(n_rel, k)
    ranks: a perfect approximate ranking of a 2-neighbor ground truth
    reaches exactly 1_000_000 even with k=5."""
    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, neighbor_id long, rank int"
    )
    approx = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, neighbor_id long, rank int"
    )
    row = similarity.ranking_quality(approx, exact, k=5).first()
    assert (row.recall_at_k, row.mrr_x1e6, row.ndcg_x1e6) == (2, 1_000_000, 1_000_000)


def test_substring_dup_stats_hand_cases(spark):
    """EXACTSUBSTR coverage on hand-built docs (win=4): full-copy doc
    covers 100%, a single shared window covers exactly its span, a
    within-doc repeat counts, overlapping spans union, NULL/short docs
    degrade as documented."""
    docs = spark.createDataFrame(
        [
            (1, "abcdefgh"),   # all first occurrences -> 0 dup
            (2, "abcdefgh"),   # every window dup -> union covers all 8
            (3, "xxabcdyy"),   # one shared window "abcd" -> 4 chars
            (4, None),         # NULL text -> NULL stats
            (5, "abc"),        # shorter than win -> 0 windows
            (6, "qrstqrst"),   # within-doc repeat at pos 5 -> 4 chars
            (7, "abcdabcd"),   # cross-doc "abcd" dups BOTH its copies
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.total_chars, r.n_dup_windows, r.dup_chars, r.dup_pct_x100)
        for r in dedup.substring_dup_stats(docs, win=4).collect()
    }
    assert got[1] == (8, 0, 0, 0)
    assert got[2] == (8, 5, 8, 100)
    assert got[3] == (8, 1, 4, 50)
    assert got[4] == (None, None, None, None)
    assert got[5] == (3, 0, 0, 0)
    assert got[6] == (8, 1, 4, 50)
    assert got[7] == (8, 2, 8, 100)


def test_sq8_index_invariants(spark):
    """SQ8 codes land in [0, 255] with the extremes hit exactly (the
    no-clamp property of the encoder spec), dequantized values stay
    inside the trained per-dim bounds, the rerank emits exact
    distances (spot-checked against an independently computed pair),
    and the whole pipeline is partitioning-independent."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    codes, topk = similarity.sq8_index(emb, query_max_id=5, k=3)
    rows = codes.select(
        F.array_min("sq_codes").alias("lo"), F.array_max("sq_codes").alias("hi")
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).first()
    assert rows.lo == 0 and rows.hi == 255  # some dim hits each extreme
    got = topk.orderBy("query_id", "rank").collect()
    assert got, "sq8 topk empty"
    # exact rerank distance: recompute one pair independently
    import numpy as np

    r0 = got[0]
    vecs = {
        r.vec_id: np.array(r.v, dtype=np.int64)
        for r in emb.filter(
            F.col("vec_id").isin(int(r0.query_id), int(r0.neighbor_id))
        ).select("vec_id", similarity.quantized("embedding").alias("v")).collect()
    }
    d = vecs[r0.query_id] - vecs[r0.neighbor_id]
    assert int((d * d).sum()) == r0.sq_d2
    # partitioning independence
    _, topk2 = similarity.sq8_index(emb.repartition(7), query_max_id=5, k=3)
    assert sorted(map(tuple, got)) == sorted(map(tuple, topk2.collect()))


def test_optimal_lsh_params():
    """S-curve banding planner: independent brute-force argmin at a
    small size, budget respected, threshold monotonicity, recall skew,
    guards."""
    import pytest as _pytest

    # independent argmin: re-integrate with a different rule (midpoint)
    def mid_err(b, r, t, n=1000):
        def p(s):
            return 1.0 - (1.0 - s**r) ** b
        fp = sum(p((i + 0.5) * t / n) for i in range(n)) * t / n
        fn = sum(1 - p(t + (i + 0.5) * (1 - t) / n) for i in range(n)) * (1 - t) / n
        return 0.5 * fp + 0.5 * fn

    got = dedup.optimal_lsh_params(50, 16)
    want = min(
        ((b, 16 // b) for b in range(1, 17)), key=lambda br: mid_err(*br, 0.5)
    )
    assert got == want
    prev_bands = 10**9
    for t in (20, 40, 60, 80, 95):
        b, r = dedup.optimal_lsh_params(t, 128)
        assert b * r <= 128 and b >= 1 and r >= 1
        assert b <= prev_bands  # higher threshold -> fewer bands
        prev_bands = b
    b_bal, _ = dedup.optimal_lsh_params(50, 128)
    b_rec, _ = dedup.optimal_lsh_params(50, 128, fp_weight=0.1, fn_weight=0.9)
    assert b_rec >= b_bal  # recall skew -> more bands
    with _pytest.raises(ValueError, match="threshold"):
        dedup.optimal_lsh_params(0, 128)
    with _pytest.raises(ValueError, match="num_hashes"):
        dedup.optimal_lsh_params(50, 1)


def test_interval_join_binned_matches_naive_and_guards(spark):
    from e_commerce_lakehouse_spark.operators import ranges

    pts = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(60)], "pid long, p long"
    )
    ivs = spark.createDataFrame(
        [(j, (j * 13) % 90, (j * 13) % 90 + 1 + (j % 9)) for j in range(25)]
        + [(100, 50, 50)],  # empty interval matches nothing
        "iid long, s long, e long",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in ranges.interval_join_binned(pts, ivs, "p", "s", "e", 8).collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in pts.crossJoin(ivs)
        .filter((F.col("p") >= F.col("s")) & (F.col("p") < F.col("e")))
        .collect()
    )
    assert got == naive and got  # non-empty and exact (incl. no dup pairs)
    # span guard fires in-plan
    import pytest as _pytest

    wide = spark.createDataFrame([(1, 0, 10_000)], "iid long, s long, e long")
    with _pytest.raises(Exception, match="max_span_bins"):
        ranges.interval_join_binned(pts, wide, "p", "s", "e", 8).collect()
    with _pytest.raises(ValueError, match="overlap"):
        ranges.interval_join_binned(pts, pts, "p", "p", "p", 8)


def test_interval_join_binned_plan_is_equi_join(spark):
    """The whole point: the binned rewrite must plan as a hash/SMJ
    equi-join, never the nested-loop plan a pure range predicate
    gets."""
    import io
    from contextlib import redirect_stdout

    from e_commerce_lakehouse_spark.operators import ranges

    pts = spark.range(1000).select(F.col("id").alias("pid"), (F.col("id") % 500).alias("p"))
    ivs = spark.range(200).select(
        F.col("id").alias("iid"),
        (F.col("id") * 2).alias("s"),
        (F.col("id") * 2 + 5).alias("e"),
    )
    df = ranges.interval_join_binned(pts, ivs, "p", "s", "e", 16)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_wrong_label_topk(spark):
    """Every mined negative has a different label than its anchor, and
    the ranking is exactly the label-filtered slice of the exact
    cosine ranking (brute-force cross-check)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    k = 5
    got = similarity.hard_negatives(emb, query_max_id=6, k=k)
    rows = got.collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert rows, "no negatives mined"
    for r in rows:
        assert r.neighbor_label != labels[r.query_id]
        assert r.query_label == labels[r.query_id]
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    # contiguous ranks 1..k and exact agreement with the unfiltered
    # ranking restricted to wrong labels
    exact = similarity.cosine_topk(emb, query_max_id=6, k=10**9)
    ex_rows = exact.collect()
    for qid, rs in per_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        want = [
            e.neighbor_id
            for e in sorted(ex_rows, key=lambda e: e.rank)
            if e.query_id == qid and e.neighbor_label != labels[qid]
        ][:k]
        assert [r.neighbor_id for r in sorted(rs, key=lambda r: r.rank)] == want


def test_rrf_fusion_arithmetic_planted(spark):
    """RRF on a planted corpus: doc 1 is the lexical twin of query 0
    (same token set, rank 1 lexically) and doc 2 the semantic twin
    (identical embedding, rank 1 semantically); both must fuse above
    doc 3 (mediocre in both), and the fused score must equal the
    hand-computed sum of 1e6 // (60 + rank) terms."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),        # lexical twin
            (2, "zz yy xx ww"),                   # lexically unrelated
            (3, "alpha beta qq rr"),              # partial lexical match
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.0, 1.0, 0.0], 1),              # semantically unrelated
            (2, [1.0, 0.0, 0.0], 0),              # semantic twin
            (3, [0.7, 0.7, 0.0], 1),              # partial semantic match
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r.cand_id: r
        for r in similarity.hybrid_rrf_topk(
            docs, emb, query_max_id=1, k=3, pool=3
        ).collect()
    }
    # lexical ranking for q0: 1 (jacc 1.0), 3 (jacc 2/6), 2 (jacc 0)
    # semantic ranking for q0: 2 (cos 1.0), 3 (cos ~.707), 1 (cos 0)
    assert out[1].lex_rank == 1 and out[1].sem_rank == 3
    assert out[2].sem_rank == 1 and out[2].lex_rank == 3
    assert out[3].lex_rank == 2 and out[3].sem_rank == 2
    # both twins fuse identically (rank-1 + rank-3) and above doc 3
    assert (
        out[1].rrf_x1e6
        == out[2].rrf_x1e6
        == 1_000_000 // 61 + 1_000_000 // 63
    )
    assert out[3].rrf_x1e6 == 2 * (1_000_000 // 62)
    assert out[1].rank == 1 and out[2].rank == 2  # tie -> id asc
    assert out[3].rank == 3


def test_rrf_plan_broadcasts_probes_and_fusion(spark):
    """Plan gate: both input rankings broadcast their bounded probe
    sides (the corpus streams once per system); no corpus-sized
    exchange appears after the ranking windows."""
    docs = load_table(spark, SF_SMALL, "documents")
    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = (
        similarity.hybrid_rrf_topk(docs, emb, query_max_id=5, k=5, pool=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the probe joins are non-equi (query_id != cand_id), so the
    # broadcast shape is a nested-loop with the bounded probe broadcast
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # sem + lex probe
    assert plan.count("BroadcastExchange") >= 2


def test_rrf_caller_owned_semantic_ranking_is_identical(spark):
    """The ``sem`` override (q46's shared-cosine-pass hook) must be
    result-identical to the internal ranking: a k >= pool cosine frame
    is cut to ``pool`` inside, so fusion semantics are unchanged."""
    docs = load_table(spark, SF_SMALL, "documents")
    emb = load_table(spark, SF_SMALL, "embeddings")
    internal = [
        tuple(r)
        for r in similarity.hybrid_rrf_topk(
            docs, emb, query_max_id=5, k=5, pool=10
        ).orderBy("query_id", "rank").collect()
    ]
    sem = similarity.cosine_topk(emb, query_max_id=5, k=15).localCheckpoint()
    external = [
        tuple(r)
        for r in similarity.hybrid_rrf_topk(
            docs, emb, query_max_id=5, k=5, pool=10, sem=sem, sem_k=15
        ).orderBy("query_id", "rank").collect()
    ]
    assert external == internal


def test_rrf_sem_contract_violations_raise(spark):
    """The sem override's pool contract is enforced: undeclared k,
    k < pool, and missing columns all raise instead of silently
    fusing a truncated candidate set (round-12 ADVICE)."""
    import pytest as _pytest

    docs = load_table(spark, SF_SMALL, "documents")
    emb = load_table(spark, SF_SMALL, "embeddings")
    sem = similarity.cosine_topk(emb, query_max_id=5, k=15)
    with _pytest.raises(ValueError, match="requires sem_k"):
        similarity.hybrid_rrf_topk(docs, emb, query_max_id=5, k=5, pool=10, sem=sem)
    with _pytest.raises(ValueError, match="k=5 < pool=10"):
        similarity.hybrid_rrf_topk(
            docs, emb, query_max_id=5, k=5, pool=10, sem=sem, sem_k=5
        )
    with _pytest.raises(ValueError, match="missing required columns"):
        similarity.hybrid_rrf_topk(
            docs, emb, query_max_id=5, k=5, pool=10,
            sem=sem.drop("rank"), sem_k=15,
        )
    # sem_k without a sem frame describes nothing: refused, not ignored
    with _pytest.raises(ValueError, match="without sem"):
        similarity.hybrid_rrf_topk(
            docs, emb, query_max_id=5, k=5, pool=10, sem_k=15
        )


def test_ivf_plan_broadcasts_probe_side(spark):
    """Plan gate for the round-12 shape: the probe->cell attach is a
    broadcast of the (queries x nprobe)-row probe table — the corpus
    is NEVER shuffled by centroid_id (which would also funnel a
    popular cell into one task)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = (
        similarity.ivf_topk(emb, query_max_id=5, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(centroid_id" not in plan
