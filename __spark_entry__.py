"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke at sf0.001.
``queries()`` — one named query per implemented operator (SURVEY §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for the correctness gate.

Exactly 50 queries: the round-1 driver recorded correctness rows for
at most 50 queries, so the 66 round-1 entries were consolidated —
same-granularity queries merged (one scan, wider projection, or a
tagged union) so EVERY operator keeps a driver-checked row. The old →
new mapping is in COVERAGE.md.

Column names & types are aligned between both sides (DuckDB `year()`
returns BIGINT → cast to INT in the SQL; money aggregates rounded to a
fixed scale on both sides so double summation order can't flip the
hash). No query returns an array-typed column — the driver's
canonicalizer hashes scalars only (round-1 q44 lesson).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators import aggregates as agg
from e_commerce_lakehouse_spark.operators import ranges
from e_commerce_lakehouse_spark.operators import suffix as suffix_ops
from e_commerce_lakehouse_spark.functions import money
from e_commerce_lakehouse_spark.operators import (
    asof,
    buckets,
    cleaning,
    corpus_cache,
    dedup,
    dictionary,
    joins,
    multimodal,
    pii,
    quality,
    sampling,
    search,
    similarity,
    text,
    upsert,
    windows,
)
from e_commerce_lakehouse_spark.operators import graph as graph_ops
from e_commerce_lakehouse_spark.operators import sketches as sketch_ops
from e_commerce_lakehouse_spark.operators.parallelize import overlap, spread_for_cpu
from e_commerce_lakehouse_spark.session import tune_existing
from e_commerce_lakehouse_spark.streaming import events as stream_events
from e_commerce_lakehouse_spark.sources import load_table

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: gold sales_summary analog at sf0.001 (scan → join →
    broadcast-enrich → hash-agg)."""
    tune_existing(spark)
    return agg.sales_summary(
        load_table(spark, SF0001, "lineitem"),
        load_table(spark, SF0001, "orders"),
        load_table(spark, SF0001, "part"),
    )


# ---------------------------------------------------------------------------
# Shared intermediates (corpus_cache): the exact-Jaccard pair list feeds
# q19 AND q43's clustering; the MinHash signature frame feeds q21 AND
# q48. Cached per (session, sf) so the corpus is tokenized/hashed once —
# at 100 TB this is one pass instead of one per query.
# ---------------------------------------------------------------------------


def _shared_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return corpus_cache.shared_df(
        spark,
        ("jaccard_pairs", sf, 50, 30, 1),
        lambda: dedup.ngram_jaccard_pairs(
            load_table(spark, sf, "documents"), probe_max_doc_id=50, threshold_pct=30, n=1
        ),
    )


def _shared_minhash_sigs(spark: SparkSession, sf: str) -> DataFrame:
    return corpus_cache.shared_df(
        spark,
        ("minhash_sigs", sf, 16, 3),
        lambda: dedup.minhash_signature(
            spread_for_cpu(load_table(spark, sf, "documents")), num_hashes=16, shingle=3
        ),
    )


def _shared_banded(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized MinHash band index (doc_id, band, band_key) —
    the persisted LSH-index analog, banded once per session on top of
    the shared signature frame; q21's pairing and q48's incremental
    admission both probe it."""
    return corpus_cache.shared_df(
        spark,
        ("minhash_banded", sf, 16, 4),
        lambda: dedup._minhash_banded(_shared_minhash_sigs(spark, sf), 16, 4),
    )


def _shared_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide (doc_id, simhash) frame, hashed once per session —
    the persisted fingerprint-index analog; q49's blocking side."""
    return corpus_cache.shared_df(
        spark,
        ("simhash32", sf),
        lambda: dedup.simhash(
            spread_for_cpu(load_table(spark, sf, "documents")), bits=32
        ),
    )


def _shared_vec_prep(spark: SparkSession, sf: str) -> DataFrame:
    """Quantized embedding vector table, materialized once per
    (session, sf) — the shared training input of the coarse k-means /
    SemDeDup run (q45) and the product-quantization run (q39): each
    trainer scans it ~5 stages per Lloyd round, and without the shared
    frame every trainer would re-quantize + re-checkpoint the corpus."""
    return corpus_cache.shared_df(
        spark,
        ("vec_prep", sf),
        lambda: similarity.kmeans_prep_frame(load_table(spark, sf, "embeddings")),
    )


def _shared_dsir_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR hashed unigram+bigram doc-feature frame, materialized once
    per (session, sf) — the persisted document-feature-matrix analog
    (sampling.dsir_doc_buckets_frame docstring): every DSIR stage (target
    profile, raw profile, per-doc weight sum) reads it, and its build
    is the one corpus-wide gram explode of q34's dsir branch."""
    return corpus_cache.shared_df(
        spark,
        (sf, "dsir_doc_buckets", 256),
        lambda: sampling.dsir_doc_buckets_frame(
            spread_for_cpu(load_table(spark, sf, "documents")), 256
        ),
    )


def _shared_media(spark: SparkSession, sf: str, kind: str) -> DataFrame:
    """Synthesized media table (real PNG/WAV payloads), materialized
    once per (session, sf, kind) — the persisted-media-table analog.
    q50 consumes each frame more than once; without this
    checkpoint the encode kernels would re-run per consumer (the q22
    double-eval pattern the plan test pins)."""
    return corpus_cache.shared_df(
        spark,
        ("media", sf, kind),
        lambda: multimodal.synthesize_media(load_table(spark, sf, "documents"), kind),
    )


# ---------------------------------------------------------------------------
# Query implementations. Each takes (spark, sf_dir) -> DataFrame.
# ---------------------------------------------------------------------------


_Q01_IVM_SPEC = {
    "group": {"year": "year", "month": "month", "product_id": "product_id"},
    "sums": {"total_quantity": "l_quantity", "cents": "rev_cents"},
    "count_col": "num_purchases",
}


def _q01_sales_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Gold sales rollup, two kinds:

    - 'full': the reference gold_transfrom.py:59-75 aggregate;
    - 'ivm': the SAME rollup over the l_orderkey%3 ∈ {1,2} slice,
      computed as incremental view maintenance — state = aggregate of
      the %3 ∈ {0,1} slice, then a cdc_diff feed (deletes of the %3=0
      rows, inserts of the %3=2 rows) folded through
      plans/ivm.signed_delta_aggregate + fold_signed_delta
      (merge_partial_aggregates). The oracle computes the slice's
      aggregate directly, so a hash match proves fold(agg(old),
      signed_agg(feed)) == agg(new) value-exactly, deletes included.
      The O(delta) file-granular production path is pytest-gated in
      tests/test_ivm_gold.py (the driver only hands us parquet dirs,
      not snapshot logs).
    """
    from e_commerce_lakehouse_spark.plans import ivm

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    part = load_table(spark, sf, "part")
    full = agg.sales_summary(li, orders, part).select(
        F.lit("full").alias("kind"), "*"
    )

    enriched = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("long").alias("l_quantity"),
        money.revenue_cents().alias("rev_cents"),
    )
    # the state aggregate and BOTH cdc_diff sides scan this join; a
    # localCheckpoint cut was measured SLOWER (2.1 s vs 1.0 s warm at
    # sf0.01) — materializing the join costs more than re-running it.
    # RE-MEASURED round 13 under the same-session alternating protocol
    # at sf0.1 (results verified identical): no-ckpt min 1.67 / ckpt
    # min 2.18 over 6 alternated rounds — loses again; closed for good
    old = enriched.filter(F.col("l_orderkey") % 3 != 2)
    new = enriched.filter(F.col("l_orderkey") % 3 != 0)
    state = ivm.full_state_aggregate(old, _Q01_IVM_SPEC)
    feed = upsert.cdc_diff(old, new, ["l_orderkey", "l_linenumber"])
    folded = ivm.fold_signed_delta(
        state, ivm.signed_delta_aggregate(feed, _Q01_IVM_SPEC), _Q01_IVM_SPEC
    )
    ivm_branch = folded.join(
        F.broadcast(part.select("p_partkey", "p_name", "p_brand")),
        folded.product_id == F.col("p_partkey"),
    ).select(
        F.lit("ivm").alias("kind"),
        "year",
        "month",
        "product_id",
        F.col("p_name").alias("product_name"),
        F.col("p_brand").alias("brand"),
        F.col("total_quantity").cast("double").alias("total_quantity"),
        money.money_from_cents("cents").alias("total_sales"),
        "num_purchases",
    )
    return full.unionByName(ivm_branch)


def _q02_topk_products(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k surface, both W1 variants in one result: global top-20
    products (TakeOrderedAndProject — scope 'ALL', rank NULL) and
    per-brand top-3 (row_number window — scope = brand). One shared
    aggregate feeds both branches."""
    li, part = load_table(spark, sf, "lineitem"), load_table(spark, sf, "part")
    per_part = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_name", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy(
            F.col("l_partkey").alias("product_id"),
            F.col("p_name").alias("product_name"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(money.revenue_cents()).alias("cents"))
        .select(
            "brand",
            "product_id",
            "product_name",
            money.money_from_cents("cents").alias("total_sales"),
        )
    )
    global_top = windows.top_k(
        per_part, [F.col("total_sales").desc(), F.col("product_id").asc()], 20
    ).select(
        F.lit("ALL").alias("scope"),
        "product_id",
        "product_name",
        "total_sales",
        F.lit(None).cast("int").alias("rank"),
    )
    per_brand = windows.top_k_per_group(
        per_part, ["brand"], [F.col("total_sales").desc(), F.col("product_id").asc()], 3
    ).select(
        F.col("brand").alias("scope"),
        "product_id",
        "product_name",
        "total_sales",
        F.col("rank").cast("int").alias("rank"),
    )
    return global_top.unionByName(per_brand)


def _q03_brand_share(spark: SparkSession, sf: str) -> DataFrame:
    li, part = load_table(spark, sf, "lineitem"), load_table(spark, sf, "part")
    per_brand = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(money.revenue_cents()).alias("cents"))
    )
    return windows.share_of_total(per_brand, "cents", "share").select(
        "brand", money.money_from_cents("cents").alias("total_sales"), "share"
    )


def _q04_monthly_sales_mom(spark: SparkSession, sf: str) -> DataFrame:
    """Monthly time series ⊕ month-over-month lag ⊕ exact-integer
    truncated EWMA (windows.ewma, alpha=1/4, k=8 — weights and
    renormalizing partial sums generated by the ONE ewma_weights spec
    the oracle also renders, head rows unbiased)."""
    monthly = agg.monthly_sales(
        load_table(spark, sf, "lineitem"), load_table(spark, sf, "orders")
    )
    mm = windows.month_over_month(monthly, "total_sales", ["year", "month"])
    mm = mm.withColumn(
        "_cents", F.expr(money.CENTS_SQL.format(x="total_sales"))
    )
    mm = windows.ewma(mm, "_cents", ["year", "month"], out_col="_ewma_cents")
    return mm.select(
        "year",
        "month",
        "total_sales",
        "num_items",
        "prev_total_sales",
        "delta_total_sales",
        (F.col("_ewma_cents") / 100.0).alias("ewma_sales"),
    )


def _q05_event_summary(spark: SparkSession, sf: str) -> DataFrame:
    return agg.review_summary(load_table(spark, sf, "events"))


def _q06_supplier_geo(spark: SparkSession, sf: str) -> DataFrame:
    return joins.supplier_geography(
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "nation"),
        load_table(spark, sf, "region"),
    )


def _q07_scd2_user_events(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 validity intervals from the event stream; the latest-event-
    per-user view (old q07) is exactly the ``is_current`` slice, so one
    query carries both the P10 dedup-latest semantics and the SCD2
    versioning surface."""
    ev = load_table(spark, sf, "events")
    return cleaning.scd2(
        ev.select("user_id", "event_id", "event_type", "value", "ts"),
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_cols=["event_id"],
    ).select(
        "user_id", "event_id", "event_type", "value", "valid_from", "valid_to", "is_current"
    )


def _q08_urgent_lineitems(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-join surface, kind-tagged union:
      - kind='semi': plain left_semi of lineitem vs urgent orders;
      - kind='bloom_semi': the SAME rows through joins.bloom_semi_join
        — a deterministic runtime Bloom filter (distributed bit_or
        build, pure-Column probe inside the scan's codegen span)
        pre-prunes the probe side before its shuffle; false positives
        die in the final exact join, so the oracle is simply the semi
        join twice. The correctness gate here pins the IDENTITY
        (bloom-pruned == exact) that makes the filter safe at 100 TB."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"]
    semi = joins.semi_join(li, urgent, "l_orderkey").select(
        F.lit("semi").alias("kind"), *cols
    )
    bsemi = joins.bloom_semi_join(li, urgent, "l_orderkey").select(
        F.lit("bloom_semi").alias("kind"), *cols
    )
    return semi.unionByName(bsemi)


def _q09_customer_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Set-operation surface (INTERSECT / EXCEPT / UNION) ⊕ anti-join:
    machinery vs urgent-order membership, plus customers with no orders
    at all (left_anti) as a fourth tag. Round 9 adds two classic
    decision-support shapes as further tags: 'q22_prospect' (TPC-H Q22
    — positive-balance customers above the GLOBAL average balance with
    no orders; the scalar subquery decorrelates to a broadcast 1-row
    aggregate, and the threshold compares exact integer cents —
    ``bal*n > total`` — so no float average can flip a boundary row
    between engines) and 'big_order' (TPC-H Q18 — owners of an order
    whose lineitems sum past 300 units; groupBy-HAVING feeding a
    semi-join). Round 10 adds 'q21_contested' (TPC-H Q21's
    double-correlated EXISTS/NOT-EXISTS core, customer-keyed: owners
    of an order with >=2 distinct suppliers where the LAST ship date
    is achieved by >=2 of them — the contested complement of Q21's
    'sole blocking supplier' predicate, chosen because it is selective
    on this data (13 customers at sf0.01) where the sole-blocker case
    degenerates to every customer.
    The naive plan is two correlated self-joins of lineitem; here it
    DECORRELATES to one (orderkey, suppkey) aggregate plus an
    order-partitioned window on the reduced frame — lineitem is
    shuffled once, the self-joins never happen, which is the shape
    that survives 100 TB)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    lineitem = load_table(spark, sf, "lineitem")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    both = machinery.intersect(urgent).withColumn("membership", F.lit("both"))
    only_m = machinery.exceptAll(urgent).distinct().withColumn("membership", F.lit("machinery_only"))
    only_u = urgent.exceptAll(machinery).distinct().withColumn("membership", F.lit("urgent_only"))
    no_orders = (
        joins.anti_join(
            cust, orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
        )
        .select("c_custkey")
        .withColumn("membership", F.lit("no_orders"))
    )
    bal = cust.select("c_custkey", money.cents("c_acctbal").alias("bal_cents"))
    avg_row = (
        bal.filter(F.col("bal_cents") > 0)
        .agg(F.sum("bal_cents").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    prospects = (
        bal.crossJoin(F.broadcast(avg_row))
        .filter(F.col("bal_cents") * F.col("n") > F.col("total"))
        .select("c_custkey")
    )
    prospects = joins.anti_join(
        prospects, urgent, "c_custkey"
    ).withColumn("membership", F.lit("q22_prospect"))
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sumq"))
        .filter(F.col("sumq") > 300.0)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    big = (
        joins.semi_join(orders, big_orders, "o_orderkey")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("membership", F.lit("big_order"))
    )
    from pyspark.sql.window import Window

    per_os = lineitem.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supmax")
    )
    w = Window.partitionBy("l_orderkey")
    blocked_orders = (
        per_os.withColumn("maxship", F.max("supmax").over(w))
        .withColumn("nsupp", F.count(F.lit(1)).over(w))
        .groupBy("l_orderkey")
        .agg(
            F.first("nsupp").alias("nsupp"),
            F.count(F.when(F.col("supmax") == F.col("maxship"), 1)).alias(
                "n_at_max"
            ),
        )
        .filter((F.col("nsupp") >= 2) & (F.col("n_at_max") >= 2))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    blocked = (
        joins.semi_join(orders, blocked_orders, "o_orderkey")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("membership", F.lit("q21_contested"))
    )
    return (
        both.unionByName(only_m)
        .unionByName(only_u)
        .unionByName(no_orders)
        .unionByName(prospects)
        .unionByName(big)
        .unionByName(blocked)
    )


def _q10_incremental_load(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-load surface (SURVEY §2.9) in one tagged union:
    high-watermark delta rows (op='watermark_new'), MERGE-upsert
    output (op='merged' — source wins on conflict, both exclusives
    kept), and a CDC changelog (op='cdc_*' — Delta-CDF row
    classification between two table versions via upsert.cdc_diff;
    unchanged rows suppressed)."""
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    loaded = orders.filter(F.col("o_orderkey") % 3 == 0)
    wm = agg.watermark_max(loaded, "o_orderdate")
    fresh = orders.filter(F.col("o_orderdate") > F.lit(wm)).withColumn(
        "op", F.lit("watermark_new")
    )
    target = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0)
    merged = upsert.merge_upsert(target, source, ["o_orderkey"]).withColumn(
        "op", F.lit("merged")
    )
    cdc_old = orders.filter(F.col("o_orderkey") % 2 == 0)
    cdc_new = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    feed = upsert.cdc_diff(cdc_old, cdc_new, ["o_orderkey"])
    cdc = feed.withColumn(
        "op", F.concat(F.lit("cdc_"), F.col("_change_type"))
    ).drop("_change_type")
    # round-trip gate: applying the feed onto the old state must
    # reproduce the new state EXACTLY (oracle side is the new state)
    applied = upsert.apply_changes(cdc_old, feed, ["o_orderkey"]).withColumn(
        "op", F.lit("cdc_apply")
    )
    return fresh.unionByName(merged).unionByName(cdc).unionByName(applied)


def _q11_grouping_surface(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP (year, month) ⊕ CUBE (year, returnflag) as one tagged
    union — the §2.4 multi-level aggregation surface with grouping_id
    flags on both branches."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    r = agg.rollup_sales(li, orders).select(
        F.lit("rollup").alias("kind"),
        "year",
        "month",
        F.lit(None).cast("string").alias("returnflag"),
        "total_sales",
        "grouping_level",
    )
    base = li.join(
        orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).select(
        F.year("o_orderdate").alias("year"),
        F.col("l_returnflag").alias("returnflag"),
        money.revenue_cents().alias("rev_cents"),
    )
    c = (
        base.cube("year", "returnflag")
        .agg(F.sum("rev_cents").alias("cents"), F.grouping_id().alias("grouping_level"))
        .select(
            F.lit("cube").alias("kind"),
            "year",
            F.lit(None).cast("int").alias("month"),
            "returnflag",
            money.money_from_cents("cents").alias("total_sales"),
            "grouping_level",
        )
    )
    return r.unionByName(c)


def _q12_distinct_counts(spark: SparkSession, sf: str) -> DataFrame:
    return agg.distinct_counts(load_table(spark, sf, "lineitem"))


def _q13_clean_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Silver dim_users analog ⊕ null repair: normalized text, concat_ws
    display label (reference full_name bug fixed), and coalesce-defaulted
    positive balance in one projection."""
    cust = load_table(spark, sf, "customer")
    cleaned = cleaning.dedup_by_key(cust, ["c_custkey"]).withColumn(
        "acctbal_pos",
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal")),
    )
    return cleaning.fill_defaults(cleaned, {"acctbal_pos": 0.0}).select(
        "c_custkey",
        cleaning.normalize_text("c_name").alias("name_norm"),
        cleaning.full_name("c_name", "c_mktsegment").alias("display_name"),
        F.col("c_acctbal").alias("acctbal"),
        "acctbal_pos",
    )


def _q14_events_json(spark: SparkSession, sf: str) -> DataFrame:
    """from_json-style payload extraction (reference streaming_flow.py:190-193),
    batch form: pull props.k out of the JSON string column."""
    ev = load_table(spark, sf, "events")
    return (
        ev.select(
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        )
        .filter(F.col("prop_k").isNotNull())
    )


def _q15_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-dedup surface, kind-tagged union (keeps the registry at
    the driver's 50-row window):
      - kind='exact': whole-doc md5 groups (canonical id + copy count);
      - kind='span_dedup': C4-style duplicate-span removal
        (dedup.span_dedup) — 10-token spans, corpus-wide first
        occurrence wins, docs reassembled from surviving spans; the
        rebuilt text is value-pinned via its md5 in the fp column;
      - kind='substr_dup': EXACTSUBSTR coverage (Lee et al. 2022,
        dedup.substring_dup_stats) — 20-char windows, corpus-wide
        first occurrence wins, later occurrences' spans interval-
        unioned per doc into duplicated-char counts + integer dup
        percentage."""
    docs = load_table(spark, sf, "documents")
    nl = F.lit(None).cast("long")
    exact = dedup.exact_dedup(docs).select(
        F.lit("exact").alias("kind"), "fp", "canonical_doc_id", "n_copies",
        nl.alias("n_spans"), nl.alias("n_spans_kept"),
        nl.alias("total_chars"), nl.alias("n_dup_windows"),
        nl.alias("dup_chars"), nl.alias("dup_pct_x100"),
    )
    spans = dedup.span_dedup(spread_for_cpu(docs), span_tokens=10).select(
        F.lit("span_dedup").alias("kind"),
        F.md5("clean_text").alias("fp"),
        F.col("doc_id").alias("canonical_doc_id"),
        nl.alias("n_copies"),
        "n_spans",
        "n_spans_kept",
        nl.alias("total_chars"), nl.alias("n_dup_windows"),
        nl.alias("dup_chars"), nl.alias("dup_pct_x100"),
    )
    substr = dedup.substring_dup_stats(docs, win=20).select(
        F.lit("substr_dup").alias("kind"),
        F.lit(None).cast("string").alias("fp"),
        F.col("doc_id").alias("canonical_doc_id"),
        nl.alias("n_copies"), nl.alias("n_spans"), nl.alias("n_spans_kept"),
        "total_chars", "n_dup_windows", "dup_chars", "dup_pct_x100",
    )
    return exact.unionByName(spans).unionByName(substr)


def _q16_doc_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-scan per-doc profile: stats ⊕ quality flag ⊕ BPE-ish token
    count ⊕ normalization ⊕ trigram lang-ID (text.doc_profile), plus
    the round-7 linear-classifier scoring surface: ql_margin_q is the
    Q16 hashed-bigram dot product under classifier.SPEC_WEIGHT_SQL
    (dim 512) and ql_keep its sign — the oracle recomputes tokenize →
    md5-hash → tf-quantize → dot product, hash-gating the scoring
    machinery of operators/classifier.py (training is pytest-gated,
    the BPE precedent)."""
    from e_commerce_lakehouse_spark.operators import classifier as classifier_ops

    docs = load_table(spark, sf, "documents")
    prof = text.doc_profile(docs)
    ql = classifier_ops.spec_margins(
        classifier_ops.hashed_features(docs, dim=512)
    )
    return prof.join(ql, "doc_id", "left").select(
        *prof.columns,
        F.coalesce("ql_margin_q", F.lit(0)).alias("ql_margin_q"),
        (F.coalesce("ql_margin_q", F.lit(0)) >= 0).alias("ql_keep"),
    )


def _q17_lang_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-model surface, kind-tagged union (keeps the registry at
    the driver's 50-row window):
      - kind='lang': per-language rollup (volume + heuristic scores);
      - kind='surprisal': per-doc character-bigram LM quality score
        (text.doc_surprisal) — the CCNet perplexity-bucket signal,
        quantized to exact integer bits (floor-log2 counts) so the
        oracle hashes it value-exact;
      - kind='pmi': token-bigram collocations scored by exact-integer
        pointwise mutual information (text.pmi_collocations — the
        shared 1/64-bit floor-log2 chain, decomposed so no T² product
        can overflow int64);
      - kind='zipf': rank-frequency law profile (text.zipf_profile) —
        top-50 tokens with exact fixed-point log-log coordinates and
        the integer least-squares slope of the fit."""
    docs = load_table(spark, sf, "documents")
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    lang = text.lang_profile(docs).select(
        F.lit("lang").alias("kind"), "lang", "n_docs", "total_tokens",
        "stopword_ratio", "avg_ttr", nl.alias("doc_id"),
        nl.alias("n_bigrams"), nl.alias("surprisal_bits"),
        nl.alias("mean_bits_x100"),
    )
    # session-cache both model frames (the corpus_cache family
    # pattern): the surprisal scores and the PMI table are tiny
    # derived frames whose builds each cost a corpus explode — one
    # build per (session, sf), every later run reads the checkpoint
    surp_frame = corpus_cache.shared_df(
        spark,
        (sf, "surprisal_scores"),
        lambda: text.doc_surprisal(spread_for_cpu(docs)),
    )
    surp = surp_frame.select(
        F.lit("surprisal").alias("kind"), F.lit(None).cast("string").alias("lang"),
        nl.alias("n_docs"), nl.alias("total_tokens"), nd.alias("stopword_ratio"),
        nd.alias("avg_ttr"), "doc_id", "n_bigrams", "surprisal_bits",
        "mean_bits_x100",
    )
    lang = lang.withColumns({"a": ns, "b": ns, "c_ab": nl, "pmi_x64": nl})
    surp = surp.withColumns({"a": ns, "b": ns, "c_ab": nl, "pmi_x64": nl})
    pmi_frame = corpus_cache.shared_df(
        spark,
        (sf, "pmi_collocations", 3),
        lambda: text.pmi_collocations(spread_for_cpu(docs), min_count=3),
    )
    pmi = pmi_frame.select(
        F.lit("pmi").alias("kind"), ns.alias("lang"),
        nl.alias("n_docs"), nl.alias("total_tokens"), nd.alias("stopword_ratio"),
        nd.alias("avg_ttr"), nl.alias("doc_id"), nl.alias("n_bigrams"),
        nl.alias("surprisal_bits"), nl.alias("mean_bits_x100"),
        "a", "b", "c_ab", "pmi_x64",
    )
    # kind='zipf': rank-frequency law profile (text.zipf_profile) —
    # top-50 tokens with exact fixed-point log-log coordinates and the
    # least-squares slope (column map: a=token, c_ab=freq,
    # n_bigrams=rank, pmi_x64=lr_x64, surprisal_bits=lf_x64,
    # mean_bits_x100=slope_x64)
    zipf_frame = corpus_cache.shared_df(
        spark,
        (sf, "zipf_profile", 50),
        lambda: text.zipf_profile(spread_for_cpu(docs), top_n=50),
    )
    zipf = zipf_frame.select(
        F.lit("zipf").alias("kind"), ns.alias("lang"),
        nl.alias("n_docs"), nl.alias("total_tokens"),
        nd.alias("stopword_ratio"), nd.alias("avg_ttr"),
        nl.alias("doc_id"),
        F.col("rank").alias("n_bigrams"),
        F.col("lf_x64").alias("surprisal_bits"),
        F.col("slope_x64").alias("mean_bits_x100"),
        F.col("token").alias("a"), ns.alias("b"),
        F.col("freq").alias("c_ab"),
        F.col("lr_x64").alias("pmi_x64"),
    )
    return lang.unionByName(surp).unionByName(pmi).unionByName(zipf)


def _q18_doc_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc fingerprint battery: whole-doc md5, 32-bit SimHash
    (Arrow kernel), the 4-seed MinHash columns the DuckDB oracle
    mirrors hash-for-hash, and sa_rep_len — the longest power-of-two
    repeated-substring length from KMR fingerprint doubling
    (operators/suffix.py, the rank-free sibling of the suffix-array
    builder; the oracle counts actual substrings, an INDEPENDENT
    formulation, so a doubling bug cannot hide)."""
    docs = spread_for_cpu(load_table(spark, sf, "documents"))
    toks = dedup.token_set("text")

    def hash_with(seed):
        return lambda t: dedup._md5_hash64(t, seed)

    sh = dedup.simhash_udf(32)
    rep = suffix_ops.repeated_prefix_lengths(
        load_table(spark, sf, "documents"), rounds=5
    )
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        sh("text").alias("simhash"),
        *[
            F.array_min(F.transform(toks, hash_with(s))).alias(f"h{s}")
            for s in range(4)
        ],
    ).join(rep, "doc_id")


def _q19_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram overlap surface, kind-tagged union (keeps the registry at
    the driver's 50-row window — same consolidation shape as round 2):
      - kind='jaccard': exact token-set Jaccard pairs (probe-bounded;
        the session-cached frame q43's clustering also reads);
      - kind='contamination': benchmark decontamination — corpus docs
        (id >= 25) sharing >= 10 distinct bigrams with a benchmark doc
        (id < 25), exact shared-gram counts, benchmark grams broadcast
        so the corpus never shuffles (dedup.contamination_pairs);
      - kind='bloom': the constant-memory variant — docs with >= 1
        bigram hitting a 16384-bit/4-hash Bloom filter built from the
        benchmark grams (dedup.bloom_contaminated). False positives
        are a deterministic function of the hash spec, so the oracle
        reproduces the flag set exactly by testing the same positions
        against the benchmark's set-bit set."""
    pairs = _shared_jaccard_pairs(spark, sf).select(
        F.lit("jaccard").alias("kind"),
        "a_id",
        "b_id",
        "jaccard",
        F.lit(None).cast("long").alias("n_shared_grams"),
    )
    docs = load_table(spark, sf, "documents")
    cont = dedup.contamination_pairs(
        spread_for_cpu(docs.filter(F.col("doc_id") >= 25)),
        docs.filter(F.col("doc_id") < 25),
        n=2,
        min_overlap=10,
    ).select(
        F.lit("contamination").alias("kind"),
        F.col("doc_id").alias("a_id"),
        F.col("bench_id").alias("b_id"),
        F.lit(None).cast("double").alias("jaccard"),
        "n_shared_grams",
    )
    bloom = dedup.bloom_contaminated(
        spread_for_cpu(docs.filter(F.col("doc_id") >= 25)),
        docs.filter(F.col("doc_id") < 25),
        n=2,
    ).select(
        F.lit("bloom").alias("kind"),
        F.col("doc_id").alias("a_id"),
        F.lit(None).cast("long").alias("b_id"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("n_flagged_grams").alias("n_shared_grams"),
    )
    return pairs.unionByName(cont).unionByName(bloom)


def _q20_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.cosine_topk(
        load_table(spark, sf, "embeddings"), query_max_id=10, k=5
    )


def _q21_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf, "documents"),
        num_hashes=16,
        bands=4,
        threshold_pct=50,
        banded=_shared_banded(spark, sf),
    )


def _q22_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.ann_topk_lsh(
        load_table(spark, sf, "embeddings"), query_max_id=10, k=5, planes=8
    )


def _q23_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time windowed aggregation surface as one tagged union:
    tumbling 1 h (with exact value sums) ⊕ sliding 1 h / 30 min ⊕
    OHLC bars (windows.ohlc_resample — open/high/low/close per type
    per hour via associative struct min/max, one map-side-combinable
    groupBy, no sort window) ⊕ 15-minute gap-filled LOCF series
    (windows.gap_fill_locf — every bucket between each type's first
    and last bar materialized via sequence+explode, close carried
    forward across the ~50% empty buckets, counts zero-filled)."""
    ev = load_table(spark, sf, "events")
    nd = F.lit(None).cast("double")
    t = stream_events.tumbling_counts(ev, width="1 hour").select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        "total_value",
        nd.alias("open_v"),
        nd.alias("high_v"),
        nd.alias("low_v"),
        nd.alias("close_v"),
    )
    s = stream_events.sliding_counts(ev, width="1 hour", slide="30 minutes").select(
        F.lit("sliding").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        nd.alias("total_value"),
        nd.alias("open_v"),
        nd.alias("high_v"),
        nd.alias("low_v"),
        nd.alias("close_v"),
    )
    o = windows.ohlc_resample(ev).select(
        F.lit("ohlc").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        nd.alias("total_value"),
        "open_v",
        "high_v",
        "low_v",
        "close_v",
    )
    bars15 = windows.ohlc_resample(ev, width="15 minutes")
    gf = windows.gap_fill_locf(
        bars15,
        "window_start",
        ["event_type"],
        fill_cols=["close_v"],
        zero_cols=["n_events"],
        step="15 minutes",
    ).select(
        F.lit("gapfill").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        nd.alias("total_value"),
        nd.alias("open_v"),
        nd.alias("high_v"),
        nd.alias("low_v"),
        "close_v",
    )
    return t.unionByName(s).unionByName(o).unionByName(gf)


def _q24_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    return stream_events.session_stats(
        load_table(spark, sf, "events"), gap="30 minutes"
    )


def _q25_scalar_surface(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar function surface (SURVEY §2.6) — string ops on order
    status/priority ⊕ the calendar battery — in one orders projection."""
    orders = load_table(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_snake"),
        F.instr(F.col("o_orderpriority"), "-").alias("first_dash"),
        F.lpad(F.col("o_orderpriority"), 12, "#").alias("prio_padded"),
        F.length("o_orderpriority").alias("prio_len"),
        F.reverse(F.col("o_orderpriority")).alias("prio_rev"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).cast("long").alias("days_since_1992"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
    )


def _q26_user_activity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user activity: explicit-value pivot counts ⊕ sorted distinct
    event-type array ⊕ first/last timestamps. Pivot keeps the dedicated
    operator surface; the two per-user aggregates join on user_id."""
    ev = load_table(spark, sf, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = ev.groupBy("user_id").pivot("event_type", types).count()
    pivoted = pivoted.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )
    arrays = ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    return pivoted.join(arrays, "user_id")


def _q27_price_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CASE WHEN bucketing + grouped counts (dashboard histogram shape)."""
    part = load_table(spark, sf, "part")
    bucket = (
        F.when(F.col("p_retailprice") < 500, "lo")
        .when(F.col("p_retailprice") < 1200, "mid")
        .otherwise("hi")
    )
    return (
        part.select(bucket.alias("price_bucket"), "p_size")
        .groupBy("price_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_size").alias("total_size"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
    )


def _q28_orders_above_customer_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated-subquery shape (orders above that customer's average),
    decorrelated as an aggregate self-join — exact cents average."""
    orders = load_table(spark, sf, "orders")
    per_cust = (
        orders.select("o_custkey", money.cents("o_totalprice").alias("tp_cents"))
        .groupBy("o_custkey")
        .agg(F.sum("tp_cents").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "o_custkey",
            ((F.col("s").cast("double") / F.col("n")) / F.lit(100.0)).alias("cust_avg"),
        )
    )
    return (
        orders.join(per_cust, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


# dialect-portable SQL (runs verbatim on Spark SQL AND DuckDB) — the
# BI entry point (reference: Dremio SQL over gold tables, SURVEY §3.3)
PRICING_SUMMARY_SQL = """
    SELECT l_returnflag,
           l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_base_price,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def _q29_sql_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary through the spark.sql() entry
    point — the SQL text is dialect-portable and used VERBATIM as its
    own oracle."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(PRICING_SUMMARY_SQL)


def _q30_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids (k-means M-step shape): posexplode
    quantized vectors, exact integer per-dimension sums. One shuffle on
    (label, dim) with partial aggregation."""
    emb = load_table(spark, sf, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(similarity.quantized("embedding")).alias("dim", "qv")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim",
            ((F.col("s").cast("double") / F.col("n")) / F.lit(1000000.0)).alias("centroid"),
        )
    )


def _q31_purchase_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Event funnel via conditional min-timestamps (one shuffle on
    user_id) ⊕ weekly cohort retention matrix
    (aggregates.retention_cohorts — users bucketed by first-event
    week, counted per whole-week activity offset; cohort emitted as
    days-since-epoch for exact cross-engine hashing) ⊕ kind='ttc'
    time-to-convert percentiles (exact interpolated p50/p90 of the
    click->purchase delta in integer microseconds)."""
    ev = load_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    nl = F.lit(None).cast("long")
    funnel = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_click").alias("clicked"),
        F.sum(
            F.when(
                F.col("first_view") > F.col("first_click"), 1
            ).otherwise(0)
        ).alias("viewed_after_click"),
        F.sum(
            F.when(
                (F.col("first_view") > F.col("first_click"))
                & (F.col("first_purchase") > F.col("first_view")),
                1,
            ).otherwise(0)
        ).alias("purchased_after_view"),
    ).select(
        F.lit("funnel").alias("kind"),
        "n_users",
        "clicked",
        "viewed_after_click",
        "purchased_after_view",
        nl.alias("cohort_day"),
        nl.alias("week_offset"),
    )
    retention = agg.retention_cohorts(ev).select(
        F.lit("retention").alias("kind"),
        "n_users",
        nl.alias("clicked"),
        nl.alias("viewed_after_click"),
        nl.alias("purchased_after_view"),
        "cohort_day",
        "week_offset",
    )
    # kind='ttc': time-to-convert percentiles — exact interpolated
    # p50/p90 of first_click -> first_purchase deltas in integer
    # MICROSECONDS (q40's exact-percentile technique; DuckDB's
    # quantile_cont over the identical longs)
    ttc = (
        per_user.filter(F.col("first_purchase") > F.col("first_click"))
        .select(
            (
                F.unix_micros("first_purchase") - F.unix_micros("first_click")
            ).alias("d_us")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.expr("percentile(d_us, array(0.5, 0.9))").alias("_p"),
        )
        .select(
            F.lit("ttc").alias("kind"),
            "n_users",
            nl.alias("clicked"),
            nl.alias("viewed_after_click"),
            nl.alias("purchased_after_view"),
            nl.alias("cohort_day"),
            nl.alias("week_offset"),
            F.element_at("_p", 1).alias("p50_ttc_us"),
            F.element_at("_p", 2).alias("p90_ttc_us"),
        )
    )
    nd = F.lit(None).cast("double")
    pad = [nd.alias("p50_ttc_us"), nd.alias("p90_ttc_us")]
    return (
        funnel.select("*", *pad)
        .unionByName(retention.select("*", *pad))
        .unionByName(ttc)
    )


def _q32_full_outer_activity(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join surface: per-customer order activity keeping
    both unmatched sides (SURVEY §2.3: expose the whole join family)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    j = cust.alias("c").join(
        orders.alias("o"), F.col("c.c_custkey") == F.col("o.o_custkey"), "full_outer"
    )
    return j.groupBy(
        F.coalesce(F.col("c.c_custkey"), F.col("o.o_custkey")).alias("custkey"),
        F.col("c.c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count("o.o_orderkey").alias("n_orders"),
        (
            F.sum(money.cents("o.o_totalprice")).cast("double") / F.lit(100.0)
        ).alias("total_spend"),
    )


def _q33_approx_sketches(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate sketches (HLL distinct + quantile) with a
    HASH-VERIFIED driver row: sketch VALUES are engine-specific (HLL ≠
    DuckDB's estimator), so the hashed columns are the exact
    counterparts (exact distinct count + exact interpolated cents
    percentiles, q40's technique) plus ``sketch_ok`` — an in-row
    tolerance check that the sketches actually ran and landed within
    their error bounds (HLL rsd 5% → 10% gate; KLL accuracy 10000 → 2%
    value gate). The oracle emits the same exact columns and a
    constant 1, so a sketch regression flips the row red instead of
    hiding behind a rows-only check. Sketch-vs-exact tolerance is
    additionally property-tested in tests/test_properties.py.

    kind='cms' branch: count-min sketch (Cormode-Muthukrishnan 2005)
    frequency estimates for the top-5 parts by exact count — unlike
    HLL/KLL, CMS is a pure function of the md5 position spec, so the
    estimates (one-sided overcounts included) hash-gate EXACTLY
    against the oracle's identical cell construction
    (operators/sketches.py)."""
    li = load_table(spark, sf, "lineitem")
    p_cents = money.CENTS_SQL.format(x="l_extendedprice")
    # Every key-granular branch (exact distinct, top-5 parts, CMS, HLL
    # registers) aggregates lineitem directly. A shared checkpointed
    # (returnflag, linestatus, partkey) count frame would save scans,
    # but its eager barrier cost more than it saved at sf0.1
    # (same-session A/B: 5-scan 3.06 vs shared-frame 3.67 s min over
    # 8 alternated rounds).

    # exact distinct as a TWO-LEVEL group-by, not count(DISTINCT) in
    # the sketch agg: mixing a distinct aggregate with percentile
    # buffers forces Spark's Expand+sort-agg rewrite (~8x slower
    # measured, and a full-width row expansion at 100 TB); two hash
    # aggregates + a 3-row broadcast join stay partial-agg safe.
    exact_distinct = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    sketches = li.groupBy("l_returnflag").agg(
        # BOTH exact quantiles from ONE percentile buffer (array arg)
        # — two scalar percentile() calls would each buffer the whole
        # group's values
        F.expr(f"percentile({p_cents}, array(0.5, 0.95))").alias("_pcts"),
        F.approx_count_distinct("l_partkey").alias("_approx_parts"),
        F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("_pp"),
    )
    flags = (
        sketches.join(F.broadcast(exact_distinct), "l_returnflag")
        .withColumn("price_p50", F.element_at("_pcts", 1) / 100.0)
        .withColumn("price_p95", F.element_at("_pcts", 2) / 100.0)
        .select(
            F.lit("sketch").alias("kind"),
            "l_returnflag",
            "exact_parts",
            "price_p50",
            "price_p95",
            (
                (
                    F.abs(F.col("_approx_parts") - F.col("exact_parts")) * 10
                    <= F.col("exact_parts")
                )
                & (
                    F.abs(F.element_at("_pp", 1) - F.col("price_p50"))
                    <= F.col("price_p50") * 0.02
                )
                & (
                    F.abs(F.element_at("_pp", 2) - F.col("price_p95"))
                    <= F.col("price_p95") * 0.02
                )
            )
            .cast("int")
            .alias("sketch_ok"),
            F.lit(None).cast("long").alias("part_key"),
            F.lit(None).cast("long").alias("exact_cnt"),
            F.lit(None).cast("long").alias("cms_est"),
            F.lit(None).cast("long").alias("hll_x1000"),
        )
    )
    # ONE register build feeds BOTH hll rows: register max is the
    # lossless HLL union (sketches.hll_merge_registers — max is
    # associative, absent registers are the identity), so merging the
    # per-(returnflag, linestatus) registers down to returnflag is
    # bit-identical to the direct per-returnflag build while scanning
    # lineitem once instead of twice. The merge row keeps its gate:
    # the oracle still recomputes the DIRECT estimate independently.
    regs_fine = sketch_ops.hll_registers(
        li, "l_partkey", ["l_returnflag", "l_linestatus"]
    )
    hll_est = sketch_ops.hll_estimate_from_registers(
        sketch_ops.hll_merge_registers(regs_fine, ["l_returnflag"]),
        ["l_returnflag"],
    )
    hll = (
        hll_est
        .join(F.broadcast(exact_distinct), "l_returnflag")
        .select(
            F.lit("hll").alias("kind"),
            "l_returnflag",
            "exact_parts",
            F.lit(None).cast("double").alias("price_p50"),
            F.lit(None).cast("double").alias("price_p95"),
            F.lit(None).cast("int").alias("sketch_ok"),
            F.lit(None).cast("long").alias("part_key"),
            F.lit(None).cast("long").alias("exact_cnt"),
            F.lit(None).cast("long").alias("cms_est"),
            "hll_x1000",
        )
    )
    # mergeability row: per-(returnflag, linestatus) sub-sketches,
    # register-max merged down to returnflag — the value hash-gates
    # against the oracle's DIRECT per-returnflag estimate, so a merge
    # bug (losing registers, wrong identity) flips the row red
    hll_merged = (
        hll_est
        .join(F.broadcast(exact_distinct), "l_returnflag")
        .select(
            F.lit("hll_merge").alias("kind"),
            "l_returnflag",
            "exact_parts",
            F.lit(None).cast("double").alias("price_p50"),
            F.lit(None).cast("double").alias("price_p95"),
            F.lit(None).cast("int").alias("sketch_ok"),
            F.lit(None).cast("long").alias("part_key"),
            F.lit(None).cast("long").alias("exact_cnt"),
            F.lit(None).cast("long").alias("cms_est"),
            "hll_x1000",
        )
    )
    cms_cells = sketch_ops.countmin_cells(li.select("l_partkey"), "l_partkey")
    top_parts = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("l_partkey"))
        .limit(5)
    )
    cms = sketch_ops.countmin_estimate(cms_cells, top_parts, "l_partkey").select(
        F.lit("cms").alias("kind"),
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("long").alias("exact_parts"),
        F.lit(None).cast("double").alias("price_p50"),
        F.lit(None).cast("double").alias("price_p95"),
        F.lit(None).cast("int").alias("sketch_ok"),
        F.col("l_partkey").alias("part_key"),
        "exact_cnt",
        "cms_est",
        F.lit(None).cast("long").alias("hll_x1000"),
    )
    # kind='theta': KMV/theta set algebra (sketches.theta_sketch /
    # theta_pair_ops) over the "engaged audience" segments — distinct
    # high-value (value > 180) users per event type, k=32. Per-segment
    # estimator rows (set_op='est') plus all-pairs union / intersect /
    # a_not_b estimates; like CMS the whole construction is a pure
    # function of the md5 spec, so the oracle replays it exactly.
    ev = load_table(spark, sf, "events").filter(F.col("value") > 180)
    tsk = sketch_ops.theta_sketch(ev, "user_id", "event_type", k=32)
    ns = F.lit(None).cast("string")
    theta_cols = {
        "l_returnflag": ns,
        "exact_parts": F.lit(None).cast("long"),
        "price_p50": F.lit(None).cast("double"),
        "price_p95": F.lit(None).cast("double"),
        "sketch_ok": F.lit(None).cast("int"),
        "part_key": F.lit(None).cast("long"),
        "exact_cnt": F.lit(None).cast("long"),
        "cms_est": F.lit(None).cast("long"),
        "hll_x1000": F.lit(None).cast("long"),
    }
    theta_seg = tsk.select(
        F.lit("theta").alias("kind"),
        *[c.alias(n) for n, c in theta_cols.items()],
        F.col("segment").alias("seg_a"),
        ns.alias("seg_b"),
        F.lit("est").alias("set_op"),
        F.col("n_below").alias("n_retained"),
        "theta",
        F.col("est").alias("theta_est"),
    )
    theta_pairs = sketch_ops.theta_pair_ops(tsk).select(
        F.lit("theta").alias("kind"),
        *[c.alias(n) for n, c in theta_cols.items()],
        "seg_a",
        "seg_b",
        "set_op",
        "n_retained",
        "theta",
        F.col("est").alias("theta_est"),
    )
    base_null = [
        ns.alias("seg_a"),
        ns.alias("seg_b"),
        ns.alias("set_op"),
        F.lit(None).cast("long").alias("n_retained"),
        F.lit(None).cast("long").alias("theta"),
        F.lit(None).cast("double").alias("theta_est"),
    ]
    return (
        flags.select("*", *base_null)
        .unionByName(cms.select("*", *base_null))
        .unionByName(hll.select("*", *base_null))
        .unionByName(hll_merged.select("*", *base_null))
        .unionByName(theta_seg)
        .unionByName(theta_pairs)
    )


def _q34_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-construction surface, kind-tagged union (keeps the
    registry at the driver's 50-row window):
      - kind='sample': deterministic stratified sampling (md5-bucket
        membership is a pure function of doc_id — reproducible across
        cluster sizes);
      - kind='packing': per-source contiguous-stream sequence packing
        into 512-token context windows (window cumsum per source;
        streams pack in parallel — sampling.pack_sequences), the
        layout a pre-training tokenizer-writer consumes;
      - kind='source_cap': C4/RefinedWeb-style per-domain cap — keep
        the 20 longest docs per source (rank carried as rk);
      - kind='importance': quality-weighted deterministic sampling —
        md5-bucket survival at a per-doc integer rate (longer docs
        keep more often), reproducible across cluster sizes;
      - kind='mixture': Pile/DoReMi-style source reweighting
        (sampling.mixture_rates) — per-source acceptance rates that
        realize a target token mixture by downsampling (weight-richest
        source keeps 100%), rates floored from fixed-order IEEE
        ratios so the oracle hashes them exactly;
      - kind='mixture_temp': temperature alpha-sampling rates
        (sampling.temperature_rates, alpha=0.5 — sqrt is correctly
        rounded in every IEEE engine, so the oracle hashes exactly;
        the smallest source keeps 100%, kept shares ∝ tokens^0.5);
      - kind='chunk': RAG sliding-window chunking
        (sampling.chunk_documents, 32-token windows / 8-token
        overlap) — chunk content value-pinned via md5 in chunk_fp;
      - kind='shuffle': deterministic global shuffle order
        (sampling.shuffle_positions, two-level bucket ranks — no
        single-partition sort; position carried as rk), verified
        against the oracle's single-window global rank;
      - kind='priority': Efraimidis-Spirakis weighted sampling
        WITHOUT replacement (sampling.priority_sample) — top-50 docs
        by the exponential race -log2(u)/w over weight = n_chars,
        exact-integer via the shared fixed-point log2 chain; race
        cost carried as cost_x, winning order as rk;
      - kind='split': leakage-safe train/val/test assignment
        (sampling.group_split) — the SOURCE's md5 bucket picks the
        split so near-duplicates inside a domain can never straddle
        train/eval; per-(source, split) doc counts, bucket in rk,
        split name in chunk_fp;
      - kind='budget': greedy token-budget curation
        (sampling.token_budget_select) — best-first by n_chars, keep
        docs while the running total stays within 60k tokens; banded
        two-level cumsum (no single-partition sort), running total
        carried as weight;
      - kind='dsir': DSIR data selection (Xie et al. 2023,
        sampling.dsir_select) — hashed unigram+bigram importance
        weights of raw docs (id >= 25) against the target corpus
        (id < 25), exact-integer via the shared fixed-point log2
        chain; deterministic top-50 with the log-weight carried as
        weight and the selection rank as rk."""
    docs = load_table(spark, sf, "documents")
    nl = F.lit(None).cast("long")
    samp = sampling.stratified_sample(
        docs, key="doc_id", strata_col="lang", rates={"en": 50}, default_pct=10
    ).select(
        F.lit("sample").alias("kind"),
        "doc_id",
        "lang",
        "source",
        nl.alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        nl.alias("rk"),
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        nl.alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    pack = sampling.pack_sequences(docs, ctx_len=512).select(
        F.lit("packing").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        "source",
        "n_tokens",
        "bin_id",
        "bin_offset",
        "n_bins_spanned",
        nl.alias("rk"),
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        nl.alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    cap = sampling.source_cap(docs, n=20).select(
        F.lit("source_cap").alias("kind"),
        "doc_id",
        "lang",
        "source",
        nl.alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        F.col("rk").cast("long").alias("rk"),
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        nl.alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    imp = sampling.importance_sample(docs).select(
        F.lit("importance").alias("kind"),
        "doc_id",
        "lang",
        "source",
        nl.alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        nl.alias("rk"),
        "weight_pct",
        nl.alias("n_docs"),
        nl.alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    mix = sampling.mixture_rates(docs, {"src0": 5, "src1": 3}).select(
        F.lit("mixture").alias("kind"),
        nl.alias("doc_id"),
        F.lit(None).cast("string").alias("lang"),
        "source",
        F.col("total_tokens").alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        nl.alias("rk"),
        F.col("rate_pct").alias("weight_pct"),
        "n_docs",
        "weight",
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    # kind='mixture_temp': temperature alpha-sampling rates
    # (sampling.temperature_rates, alpha=0.5 — sqrt is the one
    # correctly-rounded IEEE power, so the oracle hashes exactly)
    mix_t = sampling.temperature_rates(docs).select(
        F.lit("mixture_temp").alias("kind"),
        nl.alias("doc_id"),
        F.lit(None).cast("string").alias("lang"),
        "source",
        F.col("total_tokens").alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        nl.alias("rk"),
        F.col("rate_pct").alias("weight_pct"),
        "n_docs",
        nl.alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    chunk = sampling.chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        F.lit("chunk").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.col("n_chunk_tokens").alias("n_tokens"),
        F.col("chunk_no").alias("bin_id"),
        F.col("start_tok").alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        nl.alias("rk"),
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        nl.alias("weight"),
        F.md5("chunk_text").alias("chunk_fp"),
    )
    shuf = sampling.shuffle_positions(
        docs.select("doc_id", "lang", "source"), key="doc_id", seed=0
    ).select(
        F.lit("shuffle").alias("kind"),
        "doc_id",
        "lang",
        "source",
        nl.alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        F.col("shuffle_pos").alias("rk"),
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        nl.alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    # the DSIR doc-feature matrix is session-cached (_shared_dsir_buckets,
    # the corpus_cache family pattern — q17's surprisal/pmi/zipf precedent)
    dsir = sampling.dsir_select(
        docs, docb=_shared_dsir_buckets(spark, sf), docb_n_buckets=256
    ).select(
        F.lit("dsir").alias("kind"),
        "doc_id",
        "lang",
        "source",
        F.col("n_grams").alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        F.col("rk").cast("long").alias("rk"),
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        F.col("weight_x64").alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    spl = (
        sampling.group_split(docs, "source", {"train": 80, "val": 10, "test": 10})
        .groupBy("source", "split", "split_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.lit("split").alias("kind"),
            nl.alias("doc_id"),
            F.lit(None).cast("string").alias("lang"),
            "source",
            nl.alias("n_tokens"),
            nl.alias("bin_id"),
            nl.alias("bin_offset"),
            nl.alias("n_bins_spanned"),
            F.col("split_bucket").alias("rk"),
            nl.alias("weight_pct"),
            "n_docs",
            nl.alias("weight"),
            F.col("split").alias("chunk_fp"),
        )
    )
    budget = sampling.token_budget_select(
        docs, budget=60_000, score_col="n_chars", token_col="n_chars"
    ).select(
        F.lit("budget").alias("kind"),
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        nl.alias("rk"),
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        F.col("cum_tokens").alias("weight"),
        F.lit(None).cast("string").alias("chunk_fp"),
    )
    prio = sampling.priority_sample(
        docs.filter(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)),
        key="doc_id",
        weight="n_chars",
        n=50,
    ).select(
        F.lit("priority").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        nl.alias("n_tokens"),
        nl.alias("bin_id"),
        nl.alias("bin_offset"),
        nl.alias("n_bins_spanned"),
        "rk",
        nl.alias("weight_pct"),
        nl.alias("n_docs"),
        "weight",
        F.lit(None).cast("string").alias("chunk_fp"),
        "cost_x",
    )
    return (
        samp.unionByName(pack)
        .unionByName(cap)
        .unionByName(imp)
        .unionByName(mix)
        .unionByName(mix_t)
        .unionByName(chunk)
        .unionByName(shuf)
        .unionByName(dsir)
        .unionByName(spl)
        .unionByName(budget)
        .withColumn("cost_x", nl)
        .unionByName(prio)
    )


def _ewma_oracle_expr() -> str:
    """q04's EWMA column — weights and renormalizing partial sums
    rendered from the SAME windows.ewma_weights spec the Spark side
    uses (alpha=1/4, k=8); expects a monthly frame with total_cents."""
    w, partial = windows.ewma_weights()
    k = len(w)
    over = "OVER (ORDER BY year, month)"
    terms = " + ".join(
        f"{wi} * coalesce(lag(total_cents, {i}) {over}, 0)"
        for i, wi in enumerate(w)
    )
    psums = ", ".join(str(p) for p in partial)
    return (
        f"CAST((({terms}) // (([{psums}])"
        f"[least(row_number() {over}, {k})])) AS DOUBLE) / 100.0"
    )


def _ddsketch_oracle_branch(s: int = 4) -> str:
    """The 'ddsketch' UNION branch of q40's oracle — mirrors
    sketches.ddsketch_cells + ddsketch_quantiles: bucket = fl_x64
    (cents) div s via the ONE fixed-point log2 spec, nearest-rank pick
    over the cumulative bucket counts, representative from the SAME
    Q20 2^(r/64) table (sketch_ops.POW2_64TH_X20) the Spark expression
    uses — the two sides share the constant list, so they cannot
    drift."""
    tbl = ", ".join(str(v) for v in sketch_ops.POW2_64TH_X20)
    fl = search.fixed_log2_sql_select(
        "cents", "1", "_fl", ["l_returnflag", "l_linestatus"], source="ddsrc"
    )
    e = f"(bucket * {s} + {s // 2})"
    # Same split-shift form as sketches._dd_rep_expr: word << (k-20)
    # when k >= 20 (exact, never wraps int64), word >> (20-k) below.
    word = f"CAST(LIST_VALUE({tbl})[({e} % 64) + 1] AS BIGINT)"
    k = f"CAST({e} // 64 AS INT)"
    rep = (
        f"(CASE WHEN {k} >= 20 THEN ({word} << ({k} - 20))"
        f" ELSE ({word} >> (20 - {k})) END)"
    )
    return f"""
            UNION ALL
            SELECT 'ddsketch' AS kind, l_returnflag, l_linestatus,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT),
                   CAST(q_pct AS BIGINT) AS q_pct,
                   CAST(bucket AS BIGINT) AS dd_bucket,
                   CAST({rep} AS BIGINT) AS dd_rep_cents
            FROM (
                WITH ddsrc AS (
                    SELECT l_returnflag, l_linestatus,
                           CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                               AS cents
                    FROM lineitem
                ),
                ddfl AS ({fl}),
                ddcell AS (
                    SELECT l_returnflag, l_linestatus, _fl // {s} AS bucket,
                           count(*) AS cnt
                    FROM ddfl GROUP BY 1, 2, 3
                ),
                ddcum AS (
                    SELECT *, sum(cnt) OVER (
                        PARTITION BY l_returnflag, l_linestatus
                        ORDER BY bucket) AS cum
                    FROM ddcell
                ),
                ddtot AS (
                    SELECT l_returnflag, l_linestatus, sum(cnt) AS n
                    FROM ddcell GROUP BY 1, 2
                ),
                ddq AS (
                    SELECT l_returnflag, l_linestatus, n,
                           unnest([50, 95, 99]) AS q_pct
                    FROM ddtot
                )
                SELECT c.l_returnflag, c.l_linestatus, q.q_pct,
                       min(c.bucket) AS bucket
                FROM ddcum c
                JOIN ddq q USING (l_returnflag, l_linestatus)
                WHERE c.cum >= (q.n * q.q_pct + 99) // 100
                GROUP BY 1, 2, 3
            )"""


def _zipf_oracle_branch(top_n: int = 50) -> str:
    """The 'zipf' UNION branch of q17's oracle — mirrors
    text.zipf_profile: top-N token frequencies, rank by (freq DESC,
    token), fixed-point 64·log2 coordinates via the shared chain spec
    (one nested level per step), integer least-squares slope. Spark
    ``div`` and DuckDB ``//`` both truncate toward zero, so the slope
    hashes exactly."""
    ranked = f"""(
        SELECT token, CAST(freq AS BIGINT) AS freq,
               CAST(row_number() OVER (ORDER BY freq DESC, token)
                    AS BIGINT) AS rank
        FROM (
            SELECT token, count(*) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents WHERE text IS NOT NULL)
            WHERE token <> ''
            GROUP BY token
        )
        ORDER BY freq DESC, token
        LIMIT {top_n}
    )"""
    s1 = search.fixed_log2_sql_select(
        "rank", "1", "lr_x64", ["token", "freq", "rank"], source=ranked
    )
    s2 = search.fixed_log2_sql_select(
        "freq", "1", "lf_x64",
        ["token", "freq", "rank", "lr_x64"], source=f"({s1})",
    )
    return f"""
            UNION ALL
            SELECT 'zipf', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
                   rank, lf_x64,
                   CASE WHEN _n * _sxx - _sx * _sx = 0 THEN NULL
                        ELSE CAST(((_sx * _sy - _n * _sxy) * 64)
                                  // (_n * _sxx - _sx * _sx) AS BIGINT)
                   END,
                   token, CAST(NULL AS VARCHAR), freq, lr_x64
            FROM (
                SELECT token, freq, rank, lr_x64, lf_x64,
                       count(*) OVER () AS _n,
                       sum(lr_x64) OVER () AS _sx,
                       sum(lf_x64) OVER () AS _sy,
                       sum(lr_x64 * lf_x64) OVER () AS _sxy,
                       sum(lr_x64 * lr_x64) OVER () AS _sxx
                FROM ({s2})
            )
    """


def _pmi_oracle_branch(min_count: int = 3) -> str:
    """The 'pmi' UNION branch of q17's oracle — mirrors
    text.pmi_collocations: whitespace token bigrams, c_ab >= min_count,
    pmi_x64 = fl(t_uni, c_a) + fl(t_uni, c_b) - fl(t_bi, c_ab) with all
    three chains rendered from the ONE fixed-point log2 spec
    (search.fixed_log2_sql_select), one nested level per step so the
    DuckDB expression tree stays linear."""
    carry = ["a", "b", "c_ab", "c_a", "c_b", "t_uni", "t_bi"]
    s1 = search.fixed_log2_sql_select("t_uni", "c_a", "fl_a", carry, source="pmij")
    s2 = search.fixed_log2_sql_select(
        "t_uni", "c_b", "fl_b", carry + ["fl_a"], source=f"({s1})"
    )
    s3 = search.fixed_log2_sql_select(
        "t_bi", "c_ab", "fl_ab", carry + ["fl_a", "fl_b"], source=f"({s2})"
    )
    return f"""
            UNION ALL
            SELECT 'pmi', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   a, b, CAST(c_ab AS BIGINT) AS c_ab,
                   CAST(fl_a + fl_b - fl_ab AS BIGINT) AS pmi_x64
            FROM (
                WITH ptk AS (
                    SELECT string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL
                ),
                puni AS (
                    SELECT t AS a, count(*) AS c_a
                    FROM (SELECT unnest(toks) AS t FROM ptk) GROUP BY t
                ),
                ptu AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS t_uni FROM ptk),
                ptb AS (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT)
                            AS t_bi FROM ptk),
                pbi AS (
                    SELECT toks[i] AS a, toks[i + 1] AS b
                    FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM ptk)
                ),
                pcab AS (SELECT a, b, count(*) AS c_ab FROM pbi GROUP BY a, b),
                pmij AS (
                    SELECT c.a, c.b, c.c_ab, ua.c_a, ub.c_a AS c_b,
                           ptu.t_uni, ptb.t_bi
                    FROM pcab c
                    JOIN puni ua ON ua.a = c.a
                    JOIN puni ub ON ub.a = c.b, ptu, ptb
                    WHERE c.c_ab >= {min_count}
                )
                {s3}
            )"""


def _dsir_oracle_branch() -> str:
    """The 'dsir' UNION branch of q34's oracle — the fixed-point log2
    select is rendered from the SAME chain spec the Spark side uses
    (search.fixed_log2_sql_select), so the idf-style arithmetic cannot
    drift between engines. Mirrors sampling.dsir_select exactly:
    hashed unigram+bigram buckets (B=256, md5-60bit), Laplace-smoothed
    target/raw models over docs split at id 25, signed fl chain over
    (greatest, least), per-doc c·w sum, top-50 by (weight desc, id)."""
    fl = search.fixed_log2_sql_select(
        "hi", "lo", "fl", ["bucket", "num", "den"], source="dwt2"
    )
    return f"""
            UNION ALL
            SELECT 'dsir', doc_id, lang, source, n_grams,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(row_number() OVER (ORDER BY weight_x64 DESC, doc_id)
                        AS BIGINT) AS rk,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   weight_x64,
                   CAST(NULL AS VARCHAR)
            FROM (
                WITH dt AS (
                    SELECT doc_id, lang, source,
                           string_split(text, ' ') AS toks
                    FROM documents
                ), dg AS (
                    SELECT doc_id, lang, source, unnest(
                        CASE WHEN len(toks) >= 2
                             THEN list_concat(toks,
                                 list_transform(range(1, len(toks)),
                                     i -> array_to_string(toks[i:i+1], ' ')))
                             ELSE toks END) AS gram
                    FROM dt
                ), db AS (
                    SELECT doc_id, lang, source,
                           CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                               % 256 AS bucket,
                           CAST(count(*) AS BIGINT) AS c
                    FROM dg GROUP BY 1, 2, 3, 4
                ), dtgt AS (
                    SELECT bucket, CAST(sum(c) AS BIGINT) AS ct
                    FROM db WHERE doc_id < 25 GROUP BY bucket
                ), draw AS (
                    SELECT * FROM db WHERE doc_id >= 25
                ), drawc AS (
                    SELECT bucket, CAST(sum(c) AS BIGINT) AS cr
                    FROM draw GROUP BY bucket
                ), dtot AS (
                    SELECT CAST((SELECT coalesce(sum(ct), 0) FROM dtgt)
                                AS BIGINT) AS tt,
                           CAST((SELECT coalesce(sum(cr), 0) FROM drawc)
                                AS BIGINT) AS tr
                ), dwt AS (
                    SELECT r.bucket,
                           (coalesce(t.ct, 0) + 1) * (dtot.tr + 256) AS num,
                           (r.cr + 1) * (dtot.tt + 256) AS den
                    FROM drawc r LEFT JOIN dtgt t USING (bucket), dtot
                ), dwt2 AS (
                    SELECT bucket, num, den,
                           greatest(num, den) AS hi, least(num, den) AS lo
                    FROM dwt
                ), dfl AS (
                    {fl}
                ), dw AS (
                    SELECT bucket,
                           (CASE WHEN num >= den THEN 1 ELSE -1 END) * fl
                               AS w_x64
                    FROM dfl
                ), dscored AS (
                    SELECT r.doc_id, r.lang, r.source,
                           CAST(sum(r.c) AS BIGINT) AS n_grams,
                           CAST(sum(r.c * w.w_x64) AS BIGINT) AS weight_x64
                    FROM draw r JOIN dw w USING (bucket)
                    GROUP BY 1, 2, 3
                )
                SELECT doc_id, lang, source, n_grams, weight_x64
                FROM dscored ORDER BY weight_x64 DESC, doc_id LIMIT 50
            )
    """


def _priority_oracle_branch() -> str:
    """The 'priority' UNION branch of q34's oracle — mirrors
    sampling.priority_sample exactly: 40-bit md5 draw over ('7', key),
    the fixed-point log2 chain rendered from the SAME spec
    (search.fixed_log2_sql_select), race cost
    (2560 − fl)·PRIORITY_PREC div weight, top-50 by (cost, doc_id)."""
    src = """(
                        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                               CAST('0x' || substr(md5('7:' ||
                                    CAST(doc_id AS VARCHAR)), 1, 10)
                                    AS BIGINT) AS _h
                        FROM documents
                        WHERE n_chars IS NOT NULL AND n_chars > 0
                    )"""
    fl = search.fixed_log2_sql_select(
        "_h + 1", "1", "_fl", ["doc_id", "weight"], source=src
    )
    prec = sampling.PRIORITY_PREC
    return f"""
            UNION ALL
            SELECT 'priority', doc_id, CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(row_number() OVER (ORDER BY cost_x ASC, doc_id ASC)
                        AS BIGINT) AS rk,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), weight,
                   CAST(NULL AS VARCHAR), cost_x
            FROM (
                SELECT doc_id, weight,
                       ((2560 - _fl) * CAST({prec} AS BIGINT)) // weight
                           AS cost_x
                FROM (
                    {fl}
                )
                ORDER BY cost_x ASC, doc_id ASC LIMIT 50
            )
    """


def _q35_asof_last_order(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal-join surface, kind-tagged union:
      - kind='asof': each event picks the user's most recent order at
        or before the event time (operators/asof.py; oracle = DuckDB's
        native ASOF JOIN). Order side deduped per (custkey, date);
      - kind='interval': PURE range join (no equi key) — events landing
        inside data-derived promo windows ([d, d+3) over dates whose
        order count exceeds 2x the per-date average), executed via
        operators/ranges.interval_join_binned (bin bucketization, the
        RANGE_JOIN-hint rewrite) instead of the nested-loop plan Spark
        would otherwise pick; oracle = the plain theta join."""
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf, "orders")
    orders_d = cleaning.dedup_latest(
        orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        keys=["o_custkey", "o_orderdate"],
        order_cols=[F.col("o_orderkey").desc()],
    ).withColumnRenamed("o_custkey", "user_id")
    ev_ntz = ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    nl = F.lit(None).cast("long")
    asof_rows = asof.asof_join_backward(
        ev_ntz,
        orders_d,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_payload=["o_orderkey", "o_orderdate", "o_totalprice"],
    ).select(
        F.lit("asof").alias("kind"),
        "event_id", "user_id", "ts",
        "o_orderkey", "o_orderdate", "o_totalprice",
        nl.alias("promo_start_day"), nl.alias("promo_end_day"),
        nl.alias("promo_orders"),
    )
    epoch = F.lit("1970-01-01")
    per_date = orders.groupBy("o_orderdate").agg(F.count(F.lit(1)).alias("_c"))
    tot = orders.agg(
        F.count(F.lit(1)).alias("_n_orders"),
        F.countDistinct("o_orderdate").alias("_n_dates"),
    )
    # hot date ⟺ c > 2·avg, cross-multiplied exact: c·n_dates > 2·n_orders
    hot = per_date.crossJoin(F.broadcast(tot)).filter(
        F.col("_c") * F.col("_n_dates") > 2 * F.col("_n_orders")
    )
    iv = hot.select(
        F.datediff("o_orderdate", epoch).cast("long").alias("promo_start_day"),
        (F.datediff("o_orderdate", epoch) + 3).cast("long").alias("promo_end_day"),
        F.col("_c").cast("long").alias("promo_orders"),
    )
    pts = ev_ntz.select(
        "event_id", "user_id", "ts",
        F.datediff(F.to_date("ts"), epoch).cast("long").alias("_day"),
    )
    interval_rows = ranges.interval_join_binned(
        pts, iv, "_day", "promo_start_day", "promo_end_day", bin_width=4
    ).select(
        F.lit("interval").alias("kind"),
        "event_id", "user_id", "ts",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("date").alias("o_orderdate"),
        F.lit(None).cast("double").alias("o_totalprice"),
        "promo_start_day", "promo_end_day", "promo_orders",
    )
    return asof_rows.unionByName(interval_rows)


def _q36_clicks_before_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-analytics surface, kind-tagged union:
      - kind='pairs': range (interval) self-join — clicks by the same
        user within the hour before each purchase (equality on user +
        time-range predicate, SMJ with residual condition);
      - kind='transition': first-order Markov transition matrix over
        per-user timelines (windows.event_transitions) — the
        flow/Sankey + next-event baseline; counts plus exact-integer
        row probabilities (x1e6 div), the normalizing window on the
        tiny |types|^2 counts frame;
      - kind='attribution': first/last-touch attribution per purchase
        (windows.touch_attribution) — the item of the same user's
        first and last click/view in the 2-hour lookback, min/max
        over (ts, event_id, item) structs (event_id totalizes the
        order, so the oracle's row_number mirror agrees exactly)."""
    ev = load_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (clicks.c_ts < purchases.p_ts),
        "left",
    )
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("long")
    pairs_rows = joined.groupBy("purchase_id", purchases.user_id, "p_ts").agg(
        F.count("c_ts").alias("clicks_last_hour")
    ).select(
        F.lit("pairs").alias("kind"),
        "purchase_id",
        "user_id",
        "p_ts",
        "clicks_last_hour",
        ns.alias("from_type"),
        ns.alias("to_type"),
        nl.alias("n_transitions"),
        nl.alias("prob_x1e6"),
    )
    trans = windows.event_transitions(ev).select(
        F.lit("transition").alias("kind"),
        nl.alias("purchase_id"),
        nl.alias("user_id"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        nl.alias("clicks_last_hour"),
        "from_type",
        "to_type",
        "n_transitions",
        "prob_x1e6",
    )
    attr = windows.touch_attribution(ev).select(
        F.lit("attribution").alias("kind"),
        "purchase_id",
        "user_id",
        "p_ts",
        nl.alias("clicks_last_hour"),
        ns.alias("from_type"),
        ns.alias("to_type"),
        nl.alias("n_transitions"),
        nl.alias("prob_x1e6"),
        "first_item",
        "last_item",
        "n_touches",
    )
    nulls_attr = [
        nl.alias("first_item"),
        nl.alias("last_item"),
        nl.alias("n_touches"),
    ]
    return (
        pairs_rows.select("*", *nulls_attr)
        .unionByName(trans.select("*", *nulls_attr))
        .unionByName(attr)
    )


def _q37_dq_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality surface, kind-tagged union (keeps the registry at
    the driver's 50-row window):
      - kind='dq_rule': violation counts per rule in one pass (the
        reference's unrealized pydeequ intent, SURVEY §5);
      - kind='lsh_overflow': the 100 TB dedup accounting report —
        buckets.bucket_overflow_stats over a planted banded index
        (documents bucketed by doc_id mod 7, hot_cap 16, star mode).
        Every over-cap bucket appears with its size (n_rows), the
        pairs star mode suppressed (n_violations), and the emitted /
        all-pairs ratio (pass_rate) — all exact closed-form functions
        of the bucket size, so the oracle predicts them arithmetically
        and silent truncation anywhere in the pairing path flips the
        row red;
      - kind='pii' / 'pii_redaction': the PII scrubbing gate
        (operators/pii.py) over documents — per detector class, total
        matches + clean-doc share, and the summed length of the
        redacted corpus (regexp_replace semantics value-pinned against
        DuckDB's RE2, not just counted);
      - kind='dictionary': Aho-Corasick blocklist tagging
        (operators/dictionary.py) — per DICT_PHRASES entry, docs
        containing it (n_rows), total occurrences (n_violations) and
        clean-doc share, one automaton pass over the corpus vs the
        oracle's per-phrase regex scans; zero-hit entries reported;
      - kind='profile': ANALYZE-style exact column stats over customer
        (quality.profile_columns, one stacked-melt shuffle);
      - kind='repetition': Gopher top-{2,3,4}-gram repetition rules
        (text.repetition_report) — corpus pass/fail per rule."""
    li = load_table(spark, sf, "lineitem")
    rules = quality.dq_report(
        li,
        [
            quality.not_null("l_orderkey"),
            quality.positive("l_quantity"),
            quality.in_range("l_discount", 0.0, 0.1),
            quality.not_null("l_shipdate"),
            quality.matches("l_returnflag", "^[ANR]$", "returnflag_valid"),
        ],
    ).select(F.lit("dq_rule").alias("kind"), "rule", "n_rows", "n_violations", "pass_rate")
    banded = load_table(spark, sf, "documents").select(
        F.pmod(F.col("doc_id"), F.lit(7)).alias("bucket"), "doc_id"
    )
    all_pairs = F.col("pairs_emitted") + F.col("pairs_suppressed")
    overflow = buckets.bucket_overflow_stats(
        banded, ["bucket"], "doc_id", hot_cap=16, hot_mode="star"
    ).select(
        F.lit("lsh_overflow").alias("kind"),
        F.concat(F.lit("bucket_"), F.col("bucket").cast("string")).alias("rule"),
        F.col("bucket_size").cast("long").alias("n_rows"),
        F.col("pairs_suppressed").cast("long").alias("n_violations"),
        (F.col("pairs_emitted").cast("double") / all_pairs).alias("pass_rate"),
    )
    pr = pii.pii_report(load_table(spark, sf, "documents"))
    pii_rows = pr.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("pii").alias("kind"),
                    F.concat(F.lit("pii_"), F.col("pii_type")).alias("rule"),
                    F.col("n_docs").cast("long").alias("n_rows"),
                    F.col("n_matches").cast("long").alias("n_violations"),
                    (
                        (F.col("n_docs") - F.col("n_docs_with")).cast("double")
                        / F.col("n_docs")
                    ).alias("pass_rate"),
                ),
                F.struct(
                    F.lit("pii_redaction").alias("kind"),
                    F.concat(F.lit("pii_"), F.col("pii_type")).alias("rule"),
                    F.col("n_docs").cast("long").alias("n_rows"),
                    F.col("redacted_len").cast("long").alias("n_violations"),
                    F.lit(None).cast("double").alias("pass_rate"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    docs = load_table(spark, sf, "documents")
    total = docs.agg(F.count(F.lit(1)).alias("_n"))
    dict_rows = (
        dictionary.dictionary_phrase_stats(docs, DICT_PHRASES)
        .crossJoin(F.broadcast(total))
        .select(
            F.lit("dictionary").alias("kind"),
            F.concat(F.lit("dict_"), F.col("phrase")).alias("rule"),
            F.col("docs_with").cast("long").alias("n_rows"),
            F.col("n_occurrences").cast("long").alias("n_violations"),
            (
                (F.col("_n") - F.col("docs_with")).cast("double") / F.col("_n")
            ).alias("pass_rate"),
        )
    )
    # kind='profile': ANALYZE-style exact column profile
    # (quality.profile_columns, one stacked-melt shuffle for all
    # columns) over customer — rule='col_<name>', n_rows=total,
    # n_violations=null count, pass_rate=NDV/rows (cardinality ratio)
    prof = quality.profile_columns(
        load_table(spark, sf, "customer"),
        ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    ).select(
        F.lit("profile").alias("kind"),
        F.concat(F.lit("col_"), F.col("column")).alias("rule"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_violations"),
        (F.col("n_distinct").cast("double") / F.col("n_rows")).alias(
            "pass_rate"
        ),
    )
    # kind='repetition': Gopher top-n-gram repetition rules
    # (text.repetition_report) over documents — rule='rep_top<n>gram',
    # n_rows = docs evaluated (>= n tokens), n_violations = docs whose
    # most common n-gram covers more than the Gopher threshold of the
    # text's characters, pass_rate = passing share
    rep_frame = corpus_cache.shared_df(
        spark,
        (sf, "repetition_report", 2, 3, 4, 20, 18, 16),
        lambda: text.repetition_report(
            spread_for_cpu(load_table(spark, sf, "documents"))
        ),
    )
    rep = rep_frame.select(
        F.lit("repetition").alias("kind"),
        F.concat(F.lit("rep_top"), F.col("n").cast("string"), F.lit("gram")).alias("rule"),
        F.col("n_docs").cast("long").alias("n_rows"),
        F.col("n_fail").cast("long").alias("n_violations"),
        (
            (F.col("n_docs") - F.col("n_fail")).cast("double")
            / F.col("n_docs")
        ).alias("pass_rate"),
    )
    return (
        rules.unionByName(overflow)
        .unionByName(pii_rows)
        .unionByName(dict_rows)
        .unionByName(prof)
        .unionByName(rep)
    )


def _q38_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded sign-LSH blocking + exact
    quantized-cosine verify (the 4th dedup tier alongside exact /
    MinHash-LSH / SimHash / n-gram Jaccard)."""
    return similarity.embedding_neardup_pairs(load_table(spark, sf, "embeddings"))


def _q39_ivf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Vector-index surface, kind-tagged union (50-row window):
      - kind='ivf': IVF coarse-quantizer ANN — nearest-cell assignment
        + nprobe-cell exact rank (the second scale path for similarity
        search next to q22's hyperplane LSH);
      - kind='pq_code': product-quantization corpus encoding (Jégou et
        al. 2011) — joint per-subspace Lloyd training, codes packed
        4 bits/subspace into one BIGINT (the compressed representation
        a 100 TB index stores);
      - kind='pq_topk': ADC ANN over the SAME training run — each
        query ranks the corpus by summed per-subspace codeword
        distances (exact int64, oracle unrolls identical rounds);
      - kind='sq8_code' / 'sq8_topk': scalar-quantization tier
        (similarity.sq8_index, the Faiss SQ8+refine pipeline) — per-
        dim linear byte codes (md5 value-pinned) and an exact top-k
        rerank of the ADC survivors, encoder/decoder rendered from
        one spec for both engines.
    One `pq_index` call shares training + a checkpointed code frame
    between the two PQ branches; sq8 shares the same session-cached
    quantized prep frame."""
    emb = load_table(spark, sf, "embeddings")
    ivf = similarity.ivf_topk(emb)
    # The two trainers are INDEPENDENT eager chains over the same
    # shared prep frame: PQ pays a seed collect + two Lloyd-round jobs
    # + the code-frame checkpoint, SQ8 pays its per-dim bounds job.
    # Submitting them from two driver threads lets the scheduler
    # back-fill one chain's barriers with the other's tasks (guide
    # §2.6 overlap-independent-jobs) instead of serializing ~5 small
    # jobs end to end. The prep frame is materialized ONCE up front so
    # the session cache is not raced.
    prep = _shared_vec_prep(spark, sf)
    (codes, ptk), (sq_codes, sq_topk) = overlap(
        spark,
        lambda: similarity.pq_index(emb, prep=prep),
        lambda: similarity.sq8_index(emb, prep=prep),
    )
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("int")  # label is int32 in the testdata schema
    ni = F.lit(None).cast("int")
    nstr = F.lit(None).cast("string")
    return (
        ivf.select(
            F.lit("ivf").alias("kind"), "query_id", "neighbor_id",
            "neighbor_label", "cosine", "rank",
            nl.alias("pq_code"), nl.alias("adc_d2"),
            nstr.alias("sq_code_hash"), nl.alias("sq_d2"),
        )
        .unionByName(
            codes.select(
                F.lit("pq_code").alias("kind"), nl.alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                ns.alias("neighbor_label"), nd.alias("cosine"),
                ni.alias("rank"), "pq_code", nl.alias("adc_d2"),
                nstr.alias("sq_code_hash"), nl.alias("sq_d2"),
            )
        )
        .unionByName(
            ptk.select(
                F.lit("pq_topk").alias("kind"), "query_id", "neighbor_id",
                ns.alias("neighbor_label"), nd.alias("cosine"), "rank",
                nl.alias("pq_code"), "adc_d2",
                nstr.alias("sq_code_hash"), nl.alias("sq_d2"),
            )
        )
        .unionByName(
            sq_codes.select(
                F.lit("sq8_code").alias("kind"), nl.alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                ns.alias("neighbor_label"), nd.alias("cosine"),
                ni.alias("rank"), nl.alias("pq_code"), nl.alias("adc_d2"),
                "sq_code_hash", nl.alias("sq_d2"),
            )
        )
        .unionByName(
            sq_topk.select(
                F.lit("sq8_topk").alias("kind"), "query_id", "neighbor_id",
                ns.alias("neighbor_label"), nd.alias("cosine"), "rank",
                nl.alias("pq_code"), "adc_d2",
                nstr.alias("sq_code_hash"), "sq_d2",
            )
        )
    )


def _q40_percentile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile surface, kind-tagged union:
      - kind='exact': exact interpolated median (percentile 0.5 over
        integer cents) plus avg/min/max per returnflag+linestatus;
      - kind='ddsketch': p50/p95/p99 from the mergeable log-bucket
        quantile sketch (sketches.ddsketch_cells/_quantiles — base-2
        DDSketch, gamma = 2^(1/16)); bucket index and representative
        are pure functions of the shared fixed-point log2 chain and a
        Q20 2^(r/64) table rendered for both engines from one spec, so
        the ESTIMATES hash-gate exactly (the same discipline as the
        CMS/HLL branches of q33)."""
    li = load_table(spark, sf, "lineitem")
    cents = money.cents("l_extendedprice")
    nl = F.lit(None).cast("long")
    gc = ("l_returnflag", "l_linestatus")
    exact = (
        li.groupBy(*gc)
        .agg(
            (F.expr(f"percentile({money.CENTS_SQL.format(x='l_extendedprice')}, 0.5)") / 100.0).alias("median_price"),
            (F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0).alias("avg_price"),
            money.money_from_cents(F.min(cents)).alias("min_price"),
            money.money_from_cents(F.max(cents)).alias("max_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.lit("exact").alias("kind"), *gc,
            "median_price", "avg_price", "min_price", "max_price", "n_items",
            nl.alias("q_pct"), nl.alias("dd_bucket"), nl.alias("dd_rep_cents"),
        )
    )
    cells = sketch_ops.ddsketch_cells(
        li.select(*gc, cents.alias("cents")), "cents", group_cols=gc
    )
    nd = F.lit(None).cast("double")
    dd = sketch_ops.ddsketch_quantiles(cells, (50, 95, 99), group_cols=gc).select(
        F.lit("ddsketch").alias("kind"), *gc,
        nd.alias("median_price"), nd.alias("avg_price"),
        nd.alias("min_price"), nd.alias("max_price"), nl.alias("n_items"),
        "q_pct", F.col("bucket").alias("dd_bucket"),
        F.col("rep").alias("dd_rep_cents"),
    )
    return exact.unionByName(dd)


def _q41_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than q11's rollup/cube): revenue
    by (year, segment), (year), and grand total, with grouping flags."""
    load_table(spark, sf, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        f"""
        SELECT CAST(year(o_orderdate) AS INT) AS year,
               c_mktsegment AS segment,
               CAST(grouping(year(o_orderdate)) AS INT) AS g_year,
               CAST(grouping(c_mktsegment) AS INT) AS g_segment,
               CAST(sum({money.CENTS_SQL.format(x='o_totalprice')}) AS DOUBLE) / 100.0
                   AS total_spend
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((year(o_orderdate), c_mktsegment),
                                (year(o_orderdate)), ())
        """
    )


def _q42_window_surface(spark: SparkSession, sf: str) -> DataFrame:
    """Window-function surface over 1995 orders, two specs in one
    projection: the full ranking battery (row_number / dense_rank /
    ntile / percent_rank / cume_dist per priority) ⊕ the event-time
    RANGE frame (per-customer trailing-7-day spend)."""
    orders = load_table(spark, sf, "orders").filter(F.year("o_orderdate") == 1995)
    w = Window.partitionBy("o_orderpriority").orderBy(
        money.cents("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w7 = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        F.row_number().over(w).alias("rn"),
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        money.money_from_cents(F.sum(money.cents("o_totalprice")).over(w7)).alias(
            "spend_7d"
        ),
    )


def _q43_jaccard_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTER FORMATION: connected components (alternating
    large-star/small-star contraction, Kiveris et al. SoCC'14 — lazy
    checkpoints, superseded-round block release, exact two-tier
    convergence witness) over q19's exact-Jaccard pair graph — the
    pair list comes from the session cache, so the corpus is tokenized
    once for both queries. Oracle: recursive-CTE reachability in
    DuckDB."""
    return dedup.duplicate_clusters(_shared_jaccard_pairs(spark, sf))


#: q44's BM25 branch: a mixed rare/common query over the corpus vocab
#: ('dup' is the planted low-df term, so the fixed-point idf spread is
#: actually exercised); shared with the oracle so the sides agree.
_BM25_TERMS = ("dup", "spark", "vector", "merge", "scan")


def _q44_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    """Fingerprint + retrieval surface, kind-tagged union (keeps the
    registry at the driver's 50-row window):
      - kind='winnow': rolling-hash document fingerprinting (MOSS
        winnowing);
      - kind='winnow_pair': winnowing PAIR MATCHING (MOSS's detection
        step) — doc pairs sharing >= 2 fingerprints, i.e. >= 2
        independent verbatim substring matches (text.winnowing_pairs,
        broadcast probe, corpus never shuffles);
      - kind='bm25': exact-integer BM25 top-10 keyword retrieval
        (operators/search.py — fixed-point log2 idf, no float log),
        over a mixed rare/common query-term set;
      - kind='posting': the inverted index itself (search.
        build_postings — one (term, doc_id, tf) row per posting, one
        uniform-key shuffle), exact-count-gated."""
    docs = load_table(spark, sf, "documents")
    nl = F.lit(None).cast("long")
    ns = F.lit(None).cast("string")
    # the fingerprint chain (gram explode + rolling hash + window min)
    # feeds BOTH the per-doc-set branch and the pair branch — compute
    # it once per session (corpus_cache), like the jaccard/minhash
    # families
    shared_fps = corpus_cache.shared_df(
        spark,
        ("winnow_fps", sf, 3, 4),
        lambda: text.winnowing_fp_frame(docs, k=3, window=4),
    )
    winnow = text.winnowing_fingerprints(docs, k=3, window=4, fps=shared_fps).select(
        F.lit("winnow").alias("kind"), "doc_id", "fps", "n_fps",
        nl.alias("b_id"), nl.alias("n_shared_fps"),
        nl.alias("n_terms"), nl.alias("score_x1000"), nl.alias("rank"),
    )
    wpairs = text.winnowing_pairs(
        docs, probe_max_doc_id=50, min_shared=2, k=3, window=4, fps=shared_fps
    ).select(
        F.lit("winnow_pair").alias("kind"),
        F.col("a_id").alias("doc_id"), ns.alias("fps"), nl.alias("n_fps"),
        "b_id", "n_shared_fps",
        nl.alias("n_terms"), nl.alias("score_x1000"), nl.alias("rank"),
    )
    bm25 = search.bm25_topk(docs, _BM25_TERMS, k=10).select(
        F.lit("bm25").alias("kind"), "doc_id",
        ns.alias("fps"), nl.alias("n_fps"),
        nl.alias("b_id"), nl.alias("n_shared_fps"),
        "n_terms", "score_x1000", F.col("rank").cast("long").alias("rank"),
        ns.alias("term"), nl.alias("tf"),
    )
    posting = search.build_postings(docs).select(
        F.lit("posting").alias("kind"), "doc_id",
        ns.alias("fps"), nl.alias("n_fps"),
        nl.alias("b_id"), nl.alias("n_shared_fps"),
        nl.alias("n_terms"), nl.alias("score_x1000"), nl.alias("rank"),
        "term", "tf",
    )
    winnow = winnow.withColumns({"term": ns, "tf": nl})
    wpairs = wpairs.withColumns({"term": ns, "tf": nl})
    return (
        winnow.unionByName(wpairs).unionByName(bm25).unionByName(posting)
    )


def _q45_kmeans_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Clustering surface, kind-tagged union (keeps the registry at the
    driver's 50-row window):
      - kind='assign': IVF coarse-quantizer TRAINING — two
        deterministic Lloyd's k-means rounds and the final cell
        assignment; oracle unrolls the same fixed iterations;
      - kind='semdup_pair' / 'semdup_drop': SemDeDup (Abbas et al.
        2023) on top of the SAME training run — intra-cluster exact
        quantized cosine >= 0.3 pairs, and the keep-furthest-from-
        centroid drop policy (similarity.semdedup). One checkpointed
        assignment feeds all three branches."""
    assign, pairs, drops = similarity.semdedup(
        load_table(spark, sf, "embeddings"), k=8, iters=2, threshold=0.3,
        prep=_shared_vec_prep(spark, sf),
    )
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    return (
        assign.select(
            F.lit("assign").alias("kind"), "vec_id", "cell", "d2",
            nl.alias("b_id"), nd.alias("cosine"),
        )
        .unionByName(
            pairs.select(
                F.lit("semdup_pair").alias("kind"),
                F.col("a_id").alias("vec_id"), "cell", nl.alias("d2"),
                "b_id", "cosine",
            )
        )
        .unionByName(
            drops.select(
                F.lit("semdup_drop").alias("kind"), "vec_id", "cell",
                nl.alias("d2"), nl.alias("b_id"), nd.alias("cosine"),
            )
        )
    )


def _q46_ann_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """ANN surface, kind-tagged union:
      - kind='ann': OR-amplified multi-table LSH ANN (Indyk/Motwani
        L-table scheme);
      - kind='quality': the evaluation loop closed — per-query
        recall@5 and MRR (x1e6, exact integer division) of that ANN
        ranking against the exact cosine ranking
        (similarity.ranking_quality). The oracle recomputes BOTH
        rankings and the same metric arithmetic, so a recall
        regression in the index flips rows red — approximate search
        with its measurement built in;
      - kind='hard_neg': hard-negative mining (similarity.
        hard_negatives) — per anchor, the top-5 most-similar
        WRONG-label vectors, the contrastive-training batch
        construction step (DPR/SimCSE); label mismatch fused into the
        broadcast join;
      - kind='rrf': hybrid retrieval by reciprocal-rank fusion
        (similarity.hybrid_rrf_topk, Cormack 2009) — exact semantic
        cosine ranking ⊕ exact lexical token-Jaccard ranking over the
        same ids (vec_id ↔ doc_id), fused all-integer as
        Σ 1e6 div (60 + rank) over each system's top-20 pool; the
        oracle recomputes both rankings and the fusion arithmetic."""
    emb = load_table(spark, sf, "embeddings")
    # ONE k=20 cosine pass feeds both the quality ground truth (rank
    # <= 5 prefix — identical rows to a k=5 run by construction) and
    # rrf's semantic arm. The two twice-referenced rankings (ann,
    # exact20) are NOT checkpointed: at sf0.1 the two materialization
    # barriers cost more than the re-run corpus passes they save
    # (same-session A/B: no-ckpt 2.46 vs ckpt 2.71 s min over 4
    # alternated rounds, results identical).
    ann = similarity.ann_topk_multi(emb, query_max_id=10, k=5, planes=8, tables=3)
    exact20 = similarity.cosine_topk(emb, query_max_id=10, k=20)
    exact = exact20.filter(F.col("rank") <= 5)
    quality = similarity.ranking_quality(ann, exact, k=5)
    hneg = similarity.hard_negatives(emb, query_max_id=10, k=5)
    rrf = similarity.hybrid_rrf_topk(
        load_table(spark, sf, "documents"),
        emb,
        query_max_id=10,
        k=5,
        pool=20,
        sem=exact20,
        sem_k=20,
    )
    ni = F.lit(None).cast("int")
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    return (
        ann.select(
            F.lit("ann").alias("kind"), "query_id", "neighbor_id",
            "neighbor_label", "cosine", "rank",
            ni.alias("recall_at_k"), nl.alias("mrr_x1e6"),
            nl.alias("ndcg_x1e6"),
            ni.alias("sem_rank"), ni.alias("lex_rank"), nl.alias("rrf_x1e6"),
        )
        .unionByName(
            quality.select(
                F.lit("quality").alias("kind"), "query_id",
                nl.alias("neighbor_id"), ni.alias("neighbor_label"),
                nd.alias("cosine"), ni.alias("rank"),
                "recall_at_k", "mrr_x1e6", "ndcg_x1e6",
                ni.alias("sem_rank"), ni.alias("lex_rank"), nl.alias("rrf_x1e6"),
            )
        )
        .unionByName(
            hneg.select(
                F.lit("hard_neg").alias("kind"), "query_id",
                "neighbor_id", "neighbor_label", "cosine", "rank",
                ni.alias("recall_at_k"), nl.alias("mrr_x1e6"),
                nl.alias("ndcg_x1e6"),
                ni.alias("sem_rank"), ni.alias("lex_rank"), nl.alias("rrf_x1e6"),
            )
        )
        .unionByName(
            rrf.select(
                F.lit("rrf").alias("kind"), "query_id",
                F.col("cand_id").alias("neighbor_id"),
                ni.alias("neighbor_label"), nd.alias("cosine"), "rank",
                ni.alias("recall_at_k"), nl.alias("mrr_x1e6"),
                nl.alias("ndcg_x1e6"),
                "sem_rank", "lex_rank", "rrf_x1e6",
            )
        )
    )


def _q47_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Graph tier over the clickstream item graph, kind-tagged union:
      - kind='pagerank': integer-exact damped PageRank (two fixed
        rounds in 1e-12 rank units; oracle = the rounds unrolled as
        chained CTEs);
      - kind='triangle': per-node triangle counts via degree-ordered
        edge orientation (Suri & Vassilvitskii 2011 — oriented
        out-degree is O(sqrt(m)) even on hub nodes, so the wedge
        self-join has no hot key).
    The edge frame is session-cached — both branches and repeated
    bench passes reuse one window scan of the event log."""
    edges = corpus_cache.shared_df(
        spark,
        ("click_edges", sf),
        lambda: graph_ops.click_edges(load_table(spark, sf, "events")),
    )
    nl = F.lit(None).cast("long")
    # pagerank's eager chain (edges/nodes/deg checkpoints + the node
    # count) and triangle's (undirected + oriented checkpoints) are
    # independent — submit them from two driver threads so one chain's
    # barriers back-fill the other's idle tail (guide §2.6).
    pr_raw, tri_raw = overlap(
        spark,
        lambda: graph_ops.pagerank(edges, iters=2),
        lambda: graph_ops.triangle_counts(edges),
    )
    pr = pr_raw.select(
        F.lit("pagerank").alias("kind"), "node", "rank_scaled", nl.alias("tri_count")
    )
    tri = tri_raw.select(
        F.lit("triangle").alias("kind"), "node", nl.alias("rank_scaled"), "tri_count"
    )
    # kind='reach': min-hop BFS frontier from the smallest item via a
    # RECURSIVE CTE (Spark 4 WITH RECURSIVE — the declarative
    # counterpart of the repo's iterative CC/PageRank loops; the depth
    # bound caps the UNION ALL path enumeration, and MIN(depth)
    # collapses it to the BFS answer). DuckDB runs the IDENTICAL text.
    # SCALE NOTE (pinned depth <= 2): UNION ALL enumerates PATHS, which
    # grows O(avg_degree^depth) — the scale-safe recursion shape is a
    # deduped frontier per level (UNION-recursion or the iterative
    # aggregate-per-level loops graph.connected_components/pagerank
    # use), but Spark 4 recursive CTEs accept UNION ALL only, and this
    # kind's oracle contract is byte-identical SQL on both engines. If
    # the depth bound ever rises, switch to the operators/graph.py
    # frontier loop and give the kind a rows-only oracle.
    edges.createOrReplaceTempView("q47_click_edges")
    reach = spark.sql(
        """
        WITH RECURSIVE reach(node, depth) AS (
            SELECT node, 0 FROM (SELECT MIN(src) AS node FROM q47_click_edges)
            UNION ALL
            SELECT e.dst, r.depth + 1
            FROM reach r JOIN q47_click_edges e ON e.src = r.node
            WHERE r.depth < 2
        )
        SELECT node, CAST(MIN(depth) AS BIGINT) AS d FROM reach GROUP BY node
        """
    ).select(
        F.lit("reach").alias("kind"),
        "node",
        F.col("d").alias("rank_scaled"),
        nl.alias("tri_count"),
    )
    return pr.unionByName(tri).unionByName(reach)


def _q48_incremental_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-ingestion near-dup admission (probe-vs-index; old×old pairs
    never generated). The band index is the session-cached one q21
    also probes — the persisted-index analog at cluster scale."""
    return dedup.minhash_lsh_incremental(
        load_table(spark, sf, "documents"),
        new_min_doc_id=400,
        num_hashes=16,
        bands=4,
        threshold_pct=50,
        shingle=3,
        banded=_shared_banded(spark, sf),
    )


def _q49_edit_distance_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Char-level near-dup tier: SimHash byte-band blocking (Hamming
    LSH) + exact banded Levenshtein verify (bound derived from corpus
    max length). Probe/threshold chosen so the driver corpus yields a
    NONZERO pair set at sf0.01 and sf0.001 — a 0=0 row match is valid
    but proves nothing about the Levenshtein kernel."""
    return dedup.simhash_edit_pairs(
        load_table(spark, sf, "documents"),
        probe_max_doc_id=50,
        bits=32,
        band_bits=16,
        threshold_pct=35,
        sh=_shared_simhash(spark, sf),
    )


def _q50_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal codec pipeline end-to-end with a HASH-VERIFIED
    manifest: synthesize real PNG, WAV, AND MJPEG-AVI payloads from the
    documents table, extract features via Arrow mapInPandas (magic-byte
    sniff incl. RIFF-subtype dispatch), decode the PNGs with the
    stdlib-zlib codec (real width/height/channels), the WAVs with the
    RIFF/PCM codec (real duration + frame count), and the AVIs with the
    RIFF walker + baseline JPEG codec (real per-frame decode,
    operators/multimodal.py sample_frames). Every projected column is a
    deterministic function of the synthesis parameters, so the oracle
    predicts them arithmetically (images/video frames are always 8x8
    gray; the image container cycles PNG / baseline JPEG / progressive
    JPEG by d[4] mod 3, so all three decode paths are hash-gated; WAV
    n_frames = 1600 + 16*d[1] at 16 kHz so duration_ms = 100 + d[1],
    channels = 1 + d[3] mod 2 with the codec cycling PCM/ADPCM by d[2]
    parity — so mono/stereo × PCM/ADPCM all hash-gate; AVI
    n_frames = 2 + d[3] mod 6, where d is the md5 of the text) —
    bit-rot anywhere in any codec direction, the sniffer, the AVI
    chunk walker, or the synthesis flips the row red. The
    non-predictable features (payload digest, n_bytes, RMS/ZCR) are
    still computed by the executed kernels and are pinned by
    tests/test_multimodal.py. The synthesized frames are
    checkpoint-materialized (_shared_media), so each encode kernel
    runs exactly ONCE despite two consumers per frame (the q22
    double-eval pattern, pinned by tests/test_plans.py). One row per
    (doc, modality), kind-tagged; modality columns null on the other
    kinds.

    Plan shape: the fused one-pass ``media_manifest`` kernel — at
    100 TB the payload column IS the table, and the composed form
    (extract_features ⊕ decode_images ⊕ extract_audio_features ⊕
    sample_frames + three metadata joins) scans payload bytes twice
    and shuffles three times; the fused kernel reads each payload
    ONCE, emits the finished row, and the whole query is a pure map
    over the three checkpointed media frames. The composed operators
    remain first-class (tests pin them equivalent to this kernel)."""
    images = _shared_media(spark, sf, "image")
    audio = _shared_media(spark, sf, "audio")
    videos = _shared_media(spark, sf, "video")
    manifest = multimodal.media_manifest(
        images.unionByName(audio).unionByName(videos)
    )
    # dhash gate: the manifest's native-resolution perceptual hash is
    # computed from DECODED pixels for every image; only the LOSSLESS
    # (PNG) containers are arithmetically predictable by the oracle
    # (JPEG decode is a real DCT round-trip — its dhash is pinned by
    # tests/test_multimodal.py instead), so the lossy rows mask to
    # NULL here. A PNG encode/decode/grayscale/hash drift anywhere
    # flips those rows red.
    return manifest.withColumn(
        "dhash",
        F.when(F.col("sniffed_mime") == "image/png", F.col("dhash")),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_sales_summary": _q01_sales_summary,
        "q02_topk_products": _q02_topk_products,
        "q03_brand_share": _q03_brand_share,
        "q04_monthly_sales_mom": _q04_monthly_sales_mom,
        "q05_event_summary": _q05_event_summary,
        "q06_supplier_geo": _q06_supplier_geo,
        "q07_scd2_user_events": _q07_scd2_user_events,
        "q08_urgent_lineitems": _q08_urgent_lineitems,
        "q09_customer_segments": _q09_customer_segments,
        "q10_incremental_load": _q10_incremental_load,
        "q11_grouping_surface": _q11_grouping_surface,
        "q12_distinct_counts": _q12_distinct_counts,
        "q13_clean_customers": _q13_clean_customers,
        "q14_events_json": _q14_events_json,
        "q15_exact_dedup": _q15_exact_dedup,
        "q16_doc_profile": _q16_doc_profile,
        "q17_lang_profile": _q17_lang_profile,
        "q18_doc_fingerprints": _q18_doc_fingerprints,
        "q19_ngram_jaccard": _q19_ngram_jaccard,
        "q20_cosine_topk": _q20_cosine_topk,
        "q21_minhash_lsh_pairs": _q21_minhash_lsh_pairs,
        "q22_ann_lsh": _q22_ann_lsh,
        "q23_window_counts": _q23_window_counts,
        "q24_session_windows": _q24_session_windows,
        "q25_scalar_surface": _q25_scalar_surface,
        "q26_user_activity": _q26_user_activity,
        "q27_price_buckets": _q27_price_buckets,
        "q28_orders_above_customer_avg": _q28_orders_above_customer_avg,
        "q29_sql_pricing_summary": _q29_sql_pricing_summary,
        "q30_label_centroids": _q30_label_centroids,
        "q31_purchase_funnel": _q31_purchase_funnel,
        "q32_full_outer_activity": _q32_full_outer_activity,
        "q33_approx_sketches": _q33_approx_sketches,
        "q34_stratified_sample": _q34_stratified_sample,
        "q35_asof_last_order": _q35_asof_last_order,
        "q36_clicks_before_purchase": _q36_clicks_before_purchase,
        "q37_dq_report": _q37_dq_report,
        "q38_embedding_neardup": _q38_embedding_neardup,
        "q39_ivf_ann": _q39_ivf_ann,
        "q40_percentile_stats": _q40_percentile_stats,
        "q41_grouping_sets": _q41_grouping_sets,
        "q42_window_surface": _q42_window_surface,
        "q43_jaccard_clusters": _q43_jaccard_clusters,
        "q44_winnowing": _q44_winnowing,
        "q45_kmeans_cells": _q45_kmeans_cells,
        "q46_ann_multiprobe": _q46_ann_multiprobe,
        "q47_pagerank": _q47_pagerank,
        "q48_incremental_neardup": _q48_incremental_neardup,
        "q49_edit_distance_pairs": _q49_edit_distance_pairs,
        "q50_multimodal_features": _q50_multimodal_features,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles. Tables pre-registered: region nation customer supplier
# part orders lineitem events documents embeddings.
# ---------------------------------------------------------------------------

# exact integer-cents fragments — see e_commerce_lakehouse_spark/functions/money.py
REVENUE_CENTS_SQL = "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)"


# exact quantized-vector fragments — mirror operators/similarity.py
def _qv_sql(col: str) -> str:
    return (
        f"list_transform({col}, x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
    )


def _dot_sql(a: str, b: str) -> str:
    return f"CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) AS BIGINT)"


def _normsq_sql(a: str) -> str:
    return f"CAST(list_sum(list_transform({a}, x -> x * x)) AS BIGINT)"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"CAST({_dot_sql(a, b)} AS DOUBLE) / "
        f"(sqrt(CAST({_normsq_sql(a)} AS DOUBLE)) * sqrt(CAST({_normsq_sql(b)} AS DOUBLE)))"
    )


# q37 dictionary-tagging branch: phrases chosen from the corpus vocab;
# each is literal [a-z ]+ (regex == literal) and cannot overlap itself
# (no proper border), so AC all-occurrence counts equal RE2's
# non-overlapping regexp_extract_all counts — see
# tests/test_quality.py for the overlap case where they differ.
DICT_PHRASES = ["table", "hash value", "merge batch", "slow fast", "zzz absent"]


def _dictionary_oracle_branch() -> str:
    """Generated mirror of the q37 'dictionary' branch — rendered from
    the SAME DICT_PHRASES list the Spark side tags with, so the two
    sides cannot drift."""
    import re as _re

    parts = []
    for p in DICT_PHRASES:
        assert _re.fullmatch(r"[a-z ]+", p), f"unsafe dictionary phrase {p!r}"
        n = f"len(regexp_extract_all(coalesce(text, ''), '{p}'))"
        parts.append(
            f"""
            UNION ALL
            SELECT 'dictionary' AS kind, 'dict_{p}' AS rule,
                   CAST(sum(CASE WHEN {n} > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_rows,
                   CAST(sum({n}) AS BIGINT) AS n_violations,
                   CAST(count(*) - sum(CASE WHEN {n} > 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS pass_rate
            FROM documents
            """
        )
    return "".join(parts)


def _pii_oracle_sql() -> str:
    """Generated mirror of operators/pii.py pii_report: the same
    regex patterns (RE2-compatible by construction) and redaction
    tokens, rendered as two UNION ALL rows per detector class.
    Generated from pii.PII_PATTERNS so the two sides cannot drift."""
    parts = []
    for kind, (pattern, token) in pii.PII_PATTERNS.items():
        n = f"len(regexp_extract_all(coalesce(text, ''), '{pattern}'))"
        red = f"length(regexp_replace(coalesce(text, ''), '{pattern}', '{token}', 'g'))"
        parts.append(
            f"""
            SELECT 'pii' AS kind, 'pii_{kind}' AS rule,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum({n}) AS BIGINT) AS n_violations,
                   CAST(count(*) - sum(CASE WHEN {n} > 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS pass_rate
            FROM documents
            UNION ALL
            SELECT 'pii_redaction', 'pii_{kind}',
                   CAST(count(*) AS BIGINT),
                   CAST(sum({red}) AS BIGINT),
                   CAST(NULL AS DOUBLE)
            FROM documents
            """
        )
    return " UNION ALL ".join(parts)


def _neardup_oracle_sql(threshold: float = 0.35, planes: int = 32, bands: int = 4) -> str:
    """Generated mirror of similarity.embedding_neardup_pairs: the same
    md5-derived ±1 hyperplane constants are embedded literally."""
    planes_arr = similarity.hyperplanes(planes, 64, seed=7)
    bpb = planes // bands
    band_selects = []
    for b in range(bands):
        terms = []
        for j in range(bpb):
            plane_lit = "[" + ", ".join(str(s) for s in planes_arr[b * bpb + j]) + "]"
            terms.append(
                f"(CASE WHEN {_dot_sql('vec', plane_lit)} > 0 THEN {1 << j} ELSE 0 END)"
            )
        band_selects.append(
            f"SELECT vec_id, {b} AS band_idx, ({' + '.join(terms)}) AS band_val FROM v"
        )
    sk = "\n                UNION ALL ".join(band_selects)
    return f"""
            WITH v AS (
                SELECT vec_id, {_qv_sql('embedding')} AS vec FROM embeddings
            ), sk AS (
                {sk}
            ), cand AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM sk a JOIN sk b
                  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.vec_id < b.vec_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, cosine FROM (
                SELECT c.id_a, c.id_b, {_cos_sql('va.vec', 'vb.vec')} AS cosine
                FROM cand c
                JOIN v va ON va.vec_id = c.id_a
                JOIN v vb ON vb.vec_id = c.id_b
            ) WHERE cosine >= {threshold}
        """


def _ann_lsh_oracle_sql(planes: int = 8, k: int = 5, query_max_id: int = 10) -> str:
    """Generated mirror of similarity.ann_topk_lsh: equal-sketch bucket
    candidates + exact quantized cosine + per-query rank."""
    planes_arr = similarity.hyperplanes(planes, 64, seed=7)
    terms = []
    for p, row in enumerate(planes_arr):
        plane_lit = "[" + ", ".join(str(s) for s in row) + "]"
        terms.append(
            f"(CASE WHEN {_dot_sql('vec', plane_lit)} > 0 THEN {1 << p} ELSE 0 END)"
        )
    sketch = " + ".join(terms)
    return f"""
            WITH v AS (
                SELECT vec_id, label, {_qv_sql('embedding')} AS vec FROM embeddings
            ), sk AS (
                SELECT vec_id, label, vec, CAST({sketch} AS BIGINT) AS sketch FROM v
            ), scored AS (
                SELECT q.vec_id AS query_id,
                       c.vec_id AS neighbor_id,
                       c.label AS neighbor_label,
                       {_cos_sql('q.vec', 'c.vec')} AS cosine
                FROM sk c JOIN sk q
                  ON q.sketch = c.sketch AND q.vec_id <> c.vec_id
                WHERE q.vec_id < {query_max_id}
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id ASC) AS rk
                FROM scored
            )
            SELECT query_id, neighbor_id, neighbor_label, cosine,
                   CAST(rk AS INT) AS rank
            FROM ranked WHERE rk <= {k}
        """


def _ann_multi_oracle_sql(
    planes: int = 8,
    k: int = 5,
    query_max_id: int = 10,
    tables: int = 3,
    base_seed: int = 7,
    pool: int = 20,
    rrf_k: int = 60,
) -> str:
    """Generated mirror of similarity.ann_topk_multi (kind='ann') plus
    the ranking_quality branch (kind='quality'): the oracle recomputes
    the exact cosine ranking AND the ANN ranking, joins them, and
    reproduces recall@k / MRR with the identical integer arithmetic.
    The kind='rrf' branch recomputes BOTH hybrid input rankings
    (exact cosine pool reused from exactr; lexical token-Jaccard pool
    from documents) and the all-integer reciprocal-rank-fusion score
    of similarity.hybrid_rrf_topk."""
    sketch_cols = []
    for t in range(tables):
        planes_arr = similarity.hyperplanes(planes, 64, seed=base_seed + t)
        terms = []
        for p, row in enumerate(planes_arr):
            plane_lit = "[" + ", ".join(str(s) for s in row) + "]"
            terms.append(
                f"(CASE WHEN {_dot_sql('vec', plane_lit)} > 0 THEN {1 << p} ELSE 0 END)"
            )
        sketch_cols.append(f"CAST({' + '.join(terms)} AS BIGINT) AS sk{t}")
    or_cond = " OR ".join(f"q.sk{t} = c.sk{t}" for t in range(tables))
    disc = [similarity.dcg_discount_x(r) for r in range(1, k + 1)]
    disc_list = "[" + ", ".join(str(d) for d in disc) + "]"
    # per-query IDCG prefix sums: normalize by min(n_rel, k) ranks,
    # mirroring similarity.ranking_quality
    prefix = [sum(disc[: i + 1]) for i in range(k)]
    prefix_list = "[" + ", ".join(str(p) for p in prefix) + "]"
    return f"""
            WITH v AS (
                SELECT vec_id, label, {_qv_sql('embedding')} AS vec FROM embeddings
            ), sk AS (
                SELECT vec_id, label, vec, {', '.join(sketch_cols)} FROM v
            ), scored AS (
                SELECT q.vec_id AS query_id,
                       c.vec_id AS neighbor_id,
                       c.label AS neighbor_label,
                       {_cos_sql('q.vec', 'c.vec')} AS cosine
                FROM sk c JOIN sk q
                  ON ({or_cond}) AND q.vec_id <> c.vec_id
                WHERE q.vec_id < {query_max_id}
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id ASC) AS rk
                FROM scored
            ), exactr AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_cos_sql('q.vec', 'c.vec')} DESC,
                                    c.vec_id ASC) AS erk
                FROM v q JOIN v c ON q.vec_id <> c.vec_id
                WHERE q.vec_id < {query_max_id}
            ), rel AS (
                SELECT query_id, neighbor_id FROM exactr WHERE erk <= {k}
            ), hits AS (
                SELECT r.query_id, r.rk,
                       ({disc_list})[r.rk] AS disc
                FROM ranked r JOIN rel USING (query_id, neighbor_id)
                WHERE r.rk <= {k}
            ), qm AS (
                SELECT qq.query_id,
                       CAST(coalesce(h.n, 0) AS INT) AS recall_at_k,
                       CAST(coalesce(1000000 // h.minrk, 0) AS BIGINT)
                           AS mrr_x1e6,
                       CAST(coalesce((h.dcg_x * 1000000) // qq.idcg_x, 0)
                            AS BIGINT) AS ndcg_x1e6
                FROM (SELECT query_id,
                             ({prefix_list})[least(count(*), {k})] AS idcg_x
                      FROM rel GROUP BY 1) qq
                LEFT JOIN (SELECT query_id, count(*) AS n, min(rk) AS minrk,
                                  sum(disc) AS dcg_x
                           FROM hits GROUP BY 1) h USING (query_id)
            )
            , lexsets AS (
                SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
                FROM documents
            ), lexr AS (
                SELECT * FROM (
                    SELECT query_id, cand_id,
                           row_number() OVER (PARTITION BY query_id
                               ORDER BY jx DESC, cand_id ASC) AS lrk
                    FROM (
                        SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
                               (CAST(len(list_intersect(q.tset, c.tset))
                                     AS BIGINT) * 1000000)
                               // (len(q.tset) + len(c.tset)
                                   - len(list_intersect(q.tset, c.tset))) AS jx
                        FROM lexsets q JOIN lexsets c
                          ON q.doc_id <> c.doc_id
                        WHERE q.doc_id < {query_max_id}
                    )
                ) WHERE lrk <= {pool}
            ), semr AS (
                SELECT query_id, neighbor_id AS cand_id, erk AS srk
                FROM exactr WHERE erk <= {pool}
            ), fused AS (
                SELECT coalesce(s.query_id, l.query_id) AS query_id,
                       coalesce(s.cand_id, l.cand_id) AS cand_id,
                       s.srk, l.lrk,
                       coalesce(1000000 // ({rrf_k} + s.srk), 0)
                       + coalesce(1000000 // ({rrf_k} + l.lrk), 0) AS rrf
                FROM semr s FULL JOIN lexr l
                  ON s.query_id = l.query_id AND s.cand_id = l.cand_id
            )
            SELECT 'ann' AS kind, query_id, neighbor_id, neighbor_label,
                   cosine, CAST(rk AS INT) AS rank,
                   CAST(NULL AS INT) AS recall_at_k,
                   CAST(NULL AS BIGINT) AS mrr_x1e6,
                   CAST(NULL AS BIGINT) AS ndcg_x1e6,
                   CAST(NULL AS INT) AS sem_rank,
                   CAST(NULL AS INT) AS lex_rank,
                   CAST(NULL AS BIGINT) AS rrf_x1e6
            FROM ranked WHERE rk <= {k}
            UNION ALL
            SELECT 'quality', query_id, CAST(NULL AS BIGINT),
                   CAST(NULL AS INT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS INT), recall_at_k, mrr_x1e6, ndcg_x1e6,
                   CAST(NULL AS INT), CAST(NULL AS INT),
                   CAST(NULL AS BIGINT)
            FROM qm
            UNION ALL
            SELECT 'hard_neg', query_id, neighbor_id, neighbor_label,
                   cosine, CAST(hrk AS INT),
                   CAST(NULL AS INT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(NULL AS INT), CAST(NULL AS INT),
                   CAST(NULL AS BIGINT)
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       c.label AS neighbor_label,
                       {_cos_sql('q.vec', 'c.vec')} AS cosine,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {_cos_sql('q.vec', 'c.vec')} DESC,
                                    c.vec_id ASC) AS hrk
                FROM v q JOIN v c
                  ON q.vec_id <> c.vec_id AND q.label <> c.label
                WHERE q.vec_id < {query_max_id}
            ) WHERE hrk <= {k}
            UNION ALL
            SELECT 'rrf', query_id, cand_id, CAST(NULL AS INT),
                   CAST(NULL AS DOUBLE), CAST(frk AS INT),
                   CAST(NULL AS INT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(srk AS INT), CAST(lrk AS INT),
                   CAST(rrf AS BIGINT)
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY rrf DESC, cand_id ASC) AS frk
                FROM fused
            ) WHERE frk <= {k}
        """


def _pagerank_oracle_sql(
    iters: int = 2,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> str:
    """Generated mirror of graph.pagerank over graph.click_edges: the
    same fixed damped rounds unrolled as chained CTEs, all-integer."""
    tele = f"({damp_den - damp_num} * {scale}) // ({damp_den} * (SELECT n FROM nn))"
    ctes = [
        f"""ev AS (
                SELECT user_id, event_id, ts,
                       CAST(props->>'$.k' AS BIGINT) AS item
                FROM events
            )""",
        """seq AS (
                SELECT item, lag(item) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev
                FROM ev
            )""",
        """edges AS (
                SELECT DISTINCT prev AS src, item AS dst FROM seq
                WHERE prev IS NOT NULL AND prev <> item
            )""",
        """nodes AS (
                SELECT src AS node FROM edges UNION SELECT dst FROM edges
            )""",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {scale} // (SELECT n FROM nn) AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
                SELECT e.dst, CAST(SUM(r{i - 1}.r // d.deg) AS BIGINT) AS s
                FROM edges e
                JOIN r{i - 1} ON r{i - 1}.node = e.src
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst
            )"""
        )
        ctes.append(
            f"""r{i} AS (
                SELECT nodes.node,
                       {tele} + ({damp_num} * COALESCE(c{i}.s, 0)) // {damp_den} AS r
                FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.node
            )"""
        )
    # triangle branch: degree-ordered orientation, mirroring
    # graph.triangle_counts step for step (UNION ALL degree count,
    # (deg, node) total order, wedge join, closing join, corner agg)
    ctes += [
        """und AS (
                SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
                FROM edges WHERE src <> dst
            )""",
        """udeg AS (
                SELECT node, COUNT(*) AS deg FROM (
                    SELECT lo AS node FROM und UNION ALL SELECT hi FROM und
                ) GROUP BY node
            )""",
        """ori AS (
                SELECT CASE WHEN fwd THEN lo ELSE hi END AS src,
                       CASE WHEN fwd THEN hi ELSE lo END AS dst,
                       CASE WHEN fwd THEN deg_hi ELSE deg_lo END AS deg_dst
                FROM (
                    SELECT u.lo, u.hi, dl.deg AS deg_lo, dh.deg AS deg_hi,
                           (dl.deg < dh.deg
                            OR (dl.deg = dh.deg AND u.lo < u.hi)) AS fwd
                    FROM und u
                    JOIN udeg dl ON dl.node = u.lo
                    JOIN udeg dh ON dh.node = u.hi
                )
            )""",
        """tris AS (
                SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                FROM ori e1
                JOIN ori e2 ON e1.src = e2.src
                 AND (e1.deg_dst < e2.deg_dst
                      OR (e1.deg_dst = e2.deg_dst AND e1.dst < e2.dst))
                JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst
            )""",
        """corners AS (
                SELECT node, COUNT(*) AS tri_count FROM (
                    SELECT a AS node FROM tris
                    UNION ALL SELECT b FROM tris
                    UNION ALL SELECT c FROM tris
                ) GROUP BY node
            )""",
    ]
    # the reach branch is a SELF-CONTAINED nested WITH RECURSIVE: a
    # top-level "WITH RECURSIVE" prefix silently corrupts DuckDB's
    # evaluation of the unrolled non-recursive pagerank chain (measured:
    # the r2 frame fans out 125x), so the recursion is quarantined in
    # its own derived table with the edge chain duplicated
    reach_sub = """(
        WITH RECURSIVE rev AS (
            SELECT user_id, event_id, ts,
                   CAST(props->>'$.k' AS BIGINT) AS item
            FROM events
        ), rseq AS (
            SELECT item, lag(item) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM rev
        ), redges AS (
            SELECT DISTINCT prev AS src, item AS dst FROM rseq
            WHERE prev IS NOT NULL AND prev <> item
        ), reach(node, depth) AS (
            SELECT node, 0 FROM (SELECT MIN(src) AS node FROM redges)
            UNION ALL
            SELECT e.dst, r.depth + 1
            FROM reach r JOIN redges e ON e.src = r.node
            WHERE r.depth < 2
        )
        SELECT node, depth FROM reach
    )"""
    return (
        "WITH "
        + ", ".join(ctes)
        + f""" SELECT 'pagerank' AS kind, node, CAST(r AS BIGINT) AS rank_scaled,
                      CAST(NULL AS BIGINT) AS tri_count
               FROM r{iters}
               UNION ALL
               SELECT 'triangle' AS kind, d.node,
                      CAST(NULL AS BIGINT) AS rank_scaled,
                      CAST(COALESCE(c.tri_count, 0) AS BIGINT) AS tri_count
               FROM udeg d LEFT JOIN corners c ON c.node = d.node
               UNION ALL
               SELECT 'reach' AS kind, node,
                      CAST(MIN(depth) AS BIGINT) AS rank_scaled,
                      CAST(NULL AS BIGINT) AS tri_count
               FROM {reach_sub} GROUP BY node"""
    )


def _kmeans_oracle_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Generated mirror of similarity.kmeans_assignments: the same fixed
    number of Lloyd rounds unrolled as chained CTEs."""

    def assign_cte(name: str, cent: str) -> str:
        d2 = (
            "CAST(list_sum(list_transform(list_zip(v.vec, c.cvec), "
            "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
        )
        return f"""{name} AS (
            SELECT vec_id, cell, d2 FROM (
                SELECT vec_id, cell, d2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2 ASC, cell ASC) AS rn
                FROM (SELECT v.vec_id, c.cell, {d2} AS d2
                      FROM v CROSS JOIN {cent} c)
            ) WHERE rn = 1)"""

    def update_cte(name: str, assign: str) -> str:
        return f"""{name} AS (
            SELECT cell, array_agg(m ORDER BY pos) AS cvec FROM (
                SELECT a.cell, p.pos,
                       CAST(floor(CAST(sum(v.vec[p.pos]) AS DOUBLE)
                                  / count(*)) AS BIGINT) AS m
                FROM {assign} a
                JOIN v ON v.vec_id = a.vec_id
                CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS pos) p
                GROUP BY a.cell, p.pos)
            GROUP BY cell)"""

    ctes = [
        f"v AS (SELECT vec_id, {_qv_sql('embedding')} AS vec FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cell, vec AS cvec FROM v WHERE vec_id < {k})",
    ]
    for i in range(iters):
        ctes.append(assign_cte(f"a{i}", f"c{i}"))
        ctes.append(update_cte(f"c{i + 1}", f"a{i}"))
    ctes.append(assign_cte(f"a{iters}", f"c{iters}"))
    # SemDeDup mirror (similarity.semdedup): intra-cell exact cosine
    # pairs over the final assignment + the keep-furthest-from-centroid
    # drop policy (smaller d2 drops; ties drop the larger id)
    fin = f"a{iters}"
    ctes.extend([
        f"""p AS (
            SELECT x.vec_id AS a_id, y.vec_id AS b_id, x.cell,
                   x.d2 AS d2_a, y.d2 AS d2_b,
                   {_cos_sql('va.vec', 'vb.vec')} AS cosine
            FROM {fin} x
            JOIN {fin} y ON x.cell = y.cell AND x.vec_id < y.vec_id
            JOIN v va ON va.vec_id = x.vec_id
            JOIN v vb ON vb.vec_id = y.vec_id)""",
        """q AS (SELECT a_id, b_id, cell, cosine,
                   CASE WHEN d2_a < d2_b THEN a_id
                        WHEN d2_b < d2_a THEN b_id
                        ELSE greatest(a_id, b_id) END AS drop_id
            FROM p WHERE cosine >= 0.3)""",
    ])
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT 'assign' AS kind, vec_id, cell, d2,
               CAST(NULL AS BIGINT) AS b_id, CAST(NULL AS DOUBLE) AS cosine
        FROM {fin}
        UNION ALL
        SELECT 'semdup_pair', a_id, cell, CAST(NULL AS BIGINT), b_id, cosine
        FROM q
        UNION ALL
        SELECT DISTINCT 'semdup_drop', drop_id, cell,
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        FROM q"""
    )


# DuckDB mirror of text.normalize_text (doubled backslashes -> \s etc.)
NORM_TEXT_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


def _doc_profile_oracle_sql() -> str:
    """Generated mirror of text.doc_profile: one per-doc SELECT carrying
    stats ⊕ quality flag ⊕ BPE count ⊕ normalization ⊕ the literal
    trigram lang-ID profiles (same constants as the Spark side)."""

    def occ(tg: str) -> str:
        esc = tg.replace("'", "''")
        return f"(len(string_split(lower(text), '{esc}')) - 1)"

    langs = sorted(text.LANG_TRIGRAMS)
    score_exprs = {
        lang: " + ".join(occ(t) for t in text.LANG_TRIGRAMS[lang]) for lang in langs
    }
    score_selects = [
        f"CAST({score_exprs[lang]} AS INT) AS score_{lang}" for lang in langs
    ]
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
            WITH s AS (
                SELECT doc_id, lang, source,
                       len(string_split(text, ' ')) AS n_tokens,
                       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                       length(text) AS n_chars_measured,
                       len(list_filter(string_split(text, ' '),
                           t -> list_contains(['the','a','and','of','to'], t))) AS n_stopwords,
                       CAST(len(list_distinct(list_transform(
                            range(1, len(string_split(text, ' '))),
                            i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))))
                            AS INT) AS n_distinct_bigrams,
                       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                            AS INT) AS n_bpe_tokens,
                       {NORM_TEXT_SQL} AS norm_text,
                       CAST(len(string_split({NORM_TEXT_SQL}, ' ')) AS INT)
                           AS n_norm_tokens,
                       {', '.join(score_selects)},
                       CASE WHEN text IS NOT NULL THEN CAST(
                           (CASE WHEN len(string_split(text, ' ')) < 50
                                   OR len(string_split(text, ' ')) > 100000
                                 THEN 1 ELSE 0 END)
                         + (CASE WHEN length(text) - (len(string_split(text, ' ')) - 1)
                                      < 3 * len(string_split(text, ' '))
                                   OR length(text) - (len(string_split(text, ' ')) - 1)
                                      > 10 * len(string_split(text, ' '))
                                 THEN 2 ELSE 0 END)
                         + (CASE WHEN len(regexp_extract_all(text, '#|\\.\\.\\.')) * 10
                                      > len(string_split(text, ' '))
                                 THEN 4 ELSE 0 END)
                         + (CASE WHEN len(list_filter(string_split(text, chr(10)),
                                        x -> regexp_matches(x, '^([-*\\x{{2022}}] )'))) * 10
                                      > len(string_split(text, chr(10)))
                                   OR len(list_filter(string_split(text, chr(10)),
                                        x -> regexp_matches(x, '(\\.\\.\\.|\\x{{2026}})$'))) * 10
                                      > len(string_split(text, chr(10))) * 3
                                 THEN 8 ELSE 0 END)
                         + (CASE WHEN len(list_filter(string_split(text, ' '),
                                        w -> regexp_matches(w, '[A-Za-z]'))) * 5
                                      < len(string_split(text, ' ')) * 4
                                 THEN 16 ELSE 0 END)
                         + (CASE WHEN len(list_filter(
                                        ['the','be','to','of','and','that','have','with'],
                                        sw -> list_contains(string_split(text, ' '), sw))) < 2
                                 THEN 32 ELSE 0 END)
                           AS INT) END AS gopher_fail_mask
                FROM documents
            )
            , qlg AS (
                SELECT doc_id,
                       list_concat(toks, list_transform(
                           range(1, len(toks)),
                           i -> toks[i] || '_' || toks[i+1])) AS grams
                FROM (SELECT doc_id,
                             list_filter(regexp_split_to_array(
                                 lower(coalesce(text, '')), '\\s+'),
                                 t -> t != '') AS toks
                      FROM documents)
            ),
            qlc AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 512 AS idx,
                       count(*) AS cnt
                FROM (SELECT doc_id, unnest(grams) AS g FROM qlg)
                GROUP BY 1, 2
            ),
            qlx AS (
                SELECT doc_id, idx,
                       (cnt * 65536) // (sum(cnt) OVER (PARTITION BY doc_id))
                           AS x_q
                FROM qlc
            ),
            ql AS (
                -- classifier.SPEC_WEIGHT_SQL dot product, Q16; both
                -- // here and Spark's div truncate toward zero
                SELECT doc_id,
                       CAST(SUM(((((idx * 2654435761) % 4096) - 2048) * x_q)
                                // 65536) AS BIGINT) AS ql_margin_q
                FROM qlx GROUP BY 1
            )
            SELECT s.doc_id, lang, source,
                   n_tokens, n_distinct_tokens, n_chars_measured, n_stopwords,
                   CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS ttr,
                   CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
                   CAST(n_chars_measured - (n_tokens - 1) AS DOUBLE) / n_tokens
                       AS avg_token_len,
                   (n_tokens >= 10 AND n_tokens <= 100000
                    AND n_distinct_tokens * 100 >= n_tokens * 20) AS passes_quality,
                   n_distinct_bigrams,
                   CASE WHEN n_tokens > 1
                        THEN CAST(((n_tokens - 1 - n_distinct_bigrams) * 100)
                                  // (n_tokens - 1) AS INT)
                        ELSE 0 END AS dup_bigram_pct,
                   n_bpe_tokens, norm_text, n_norm_tokens,
                   gopher_fail_mask,
                   (gopher_fail_mask = 0) AS gopher_pass,
                   {', '.join('score_' + lang for lang in langs)},
                   {pred} AS pred_lang,
                   COALESCE(ql.ql_margin_q, 0) AS ql_margin_q,
                   (COALESCE(ql.ql_margin_q, 0) >= 0) AS ql_keep
            FROM s LEFT JOIN ql ON s.doc_id = ql.doc_id
        """


TOTAL_SALES_SQL = f"CAST(sum({REVENUE_CENTS_SQL}) AS DOUBLE) / 100.0"


def _pq_oracle_sql(
    m: int = 8, ks: int = 16, iters: int = 2, dim: int = 64,
    q_max: int = 10, k: int = 5,
) -> tuple[str, str, str]:
    """Generated mirror of similarity.pq_index: the joint per-subspace
    Lloyd training unrolled as chained CTEs (the `_kmeans_oracle_sql`
    structure with a `sub` grouping key), then the packed-code and
    ADC top-k surfaces. Returns the CTE list + two SELECTs used by
    q39's union."""
    d0 = dim // m
    bits = max(1, (ks - 1).bit_length())
    d2 = (
        "CAST(list_sum(list_transform(list_zip(s.svec, c.cvec), "
        "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )

    def assign_cte(name: str, cent: str) -> str:
        return f"""{name} AS (
            SELECT vec_id, sub, cell, d2 FROM (
                SELECT vec_id, sub, cell, d2,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2 ASC, cell ASC) AS rn
                FROM (SELECT s.vec_id, s.sub, c.cell, {d2} AS d2
                      FROM sv s JOIN {cent} c ON c.sub = s.sub)
            ) WHERE rn = 1)"""

    def update_cte(name: str, assign: str) -> str:
        return f"""{name} AS (
            SELECT sub, cell, array_agg(mu ORDER BY p) AS cvec FROM (
                SELECT a.sub, a.cell, p.p,
                       CAST(floor(CAST(sum(s.svec[p.p]) AS DOUBLE)
                                  / count(*)) AS BIGINT) AS mu
                FROM {assign} a
                JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
                CROSS JOIN (SELECT unnest(range(1, {d0 + 1})) AS p) p
                GROUP BY a.sub, a.cell, p.p)
            GROUP BY sub, cell)"""

    ctes = [
        f"""sv AS (
            SELECT vec_id, sub,
                   list_slice(vec, sub * {d0} + 1, sub * {d0} + {d0}) AS svec
            FROM v CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) subs)""",
        f"pc0 AS (SELECT sub, vec_id AS cell, svec AS cvec FROM sv WHERE vec_id < {ks})",
    ]
    for i in range(iters):
        ctes.append(assign_cte(f"pa{i}", f"pc{i}"))
        ctes.append(update_cte(f"pc{i + 1}", f"pa{i}"))
    ctes.append(assign_cte(f"pa{iters}", f"pc{iters}"))
    fin = f"pa{iters}"
    ctes.append(f"""adc AS (
            SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   CAST(sum(list_sum(list_transform(list_zip(q.svec, c.cvec),
                            p -> (p[1]-p[2])*(p[1]-p[2])))) AS BIGINT) AS adc_d2
            FROM {fin} x
            JOIN pc{iters} c ON c.sub = x.sub AND c.cell = x.cell
            JOIN sv q ON q.sub = x.sub
            WHERE q.vec_id < {q_max} AND x.vec_id != q.vec_id
            GROUP BY q.vec_id, x.vec_id)""")
    code_select = f"""
            SELECT 'pq_code' AS kind, CAST(NULL AS BIGINT) AS query_id,
                   vec_id AS neighbor_id, CAST(NULL AS INT) AS neighbor_label,
                   CAST(NULL AS DOUBLE) AS cosine, CAST(NULL AS INT) AS rank,
                   CAST(sum(cell << ({bits} * sub)) AS BIGINT) AS pq_code,
                   CAST(NULL AS BIGINT) AS adc_d2,
                   CAST(NULL AS VARCHAR) AS sq_code_hash,
                   CAST(NULL AS BIGINT) AS sq_d2
            FROM {fin} GROUP BY vec_id"""
    topk_select = f"""
            SELECT 'pq_topk', query_id, neighbor_id, CAST(NULL AS INT),
                   CAST(NULL AS DOUBLE), CAST(rank AS INT),
                   CAST(NULL AS BIGINT), adc_d2,
                   CAST(NULL AS VARCHAR) AS sq_code_hash,
                   CAST(NULL AS BIGINT) AS sq_d2
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
                  FROM adc) WHERE rank <= {k}"""
    return ",\n".join(ctes), code_select, topk_select


_PQ_CTES, _PQ_CODE_SELECT, _PQ_TOPK_SELECT = _pq_oracle_sql()


def _sq8_oracle_sql(
    dim: int = 64, q_max: int = 10, k: int = 5, rerank: int = 4
) -> tuple[str, str, str]:
    """Generated mirror of similarity.sq8_index: per-dim (min, max)
    train state as one wide aggregate row, then the encode / dequant
    expressions rendered from the SAME spec functions the Spark side
    uses (similarity.sq8_code_sql / sq8_dequant_sql) — the two engines
    share one renderer, so the quantizer cannot drift."""
    mm_aggs = ", ".join(
        f"min(vec[{d}]) AS mn{d}, max(vec[{d}]) AS mx{d}"
        for d in range(1, dim + 1)
    )
    code_list = "[" + ", ".join(
        similarity.sq8_code_sql(f"vec[{d}]", f"mm.mn{d}", f"mm.mx{d}", "duckdb")
        for d in range(1, dim + 1)
    ) + "]"
    xhat_list = "[" + ", ".join(
        similarity.sq8_dequant_sql(
            f"sq_codes[{d}]", f"mm.mn{d}", f"mm.mx{d}", "duckdb"
        )
        for d in range(1, dim + 1)
    ) + "]"
    d2 = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    ctes = f"""sqmm AS (
                SELECT {mm_aggs} FROM v
            ), sqc AS (
                SELECT vec_id, {code_list} AS sq_codes
                FROM v CROSS JOIN sqmm mm
            ), sqx AS (
                SELECT vec_id, {xhat_list} AS xhat
                FROM sqc CROSS JOIN sqmm mm
            ), sqadc AS (
                SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                       {d2.format(a='q.vec', b='x.xhat')} AS adc_d2
                FROM sqx x JOIN v q ON q.vec_id < {q_max}
                                   AND x.vec_id != q.vec_id
            ), sqcand AS (
                SELECT query_id, neighbor_id, adc_d2 FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY adc_d2 ASC, neighbor_id ASC) AS rn
                    FROM sqadc
                ) WHERE rn <= {k * rerank}
            ), sqexact AS (
                SELECT c.query_id, c.neighbor_id, c.adc_d2,
                       {d2.format(a='q.vec', b='n.vec')} AS sq_d2
                FROM sqcand c
                JOIN v n ON n.vec_id = c.neighbor_id
                JOIN v q ON q.vec_id = c.query_id
            )"""
    code_select = """
            SELECT 'sq8_code' AS kind, CAST(NULL AS BIGINT) AS query_id,
                   vec_id AS neighbor_id, CAST(NULL AS INT) AS neighbor_label,
                   CAST(NULL AS DOUBLE) AS cosine, CAST(NULL AS INT) AS rank,
                   CAST(NULL AS BIGINT) AS pq_code,
                   CAST(NULL AS BIGINT) AS adc_d2,
                   md5(array_to_string(list_transform(sq_codes,
                       x -> CAST(x AS VARCHAR)), '-')) AS sq_code_hash,
                   CAST(NULL AS BIGINT) AS sq_d2
            FROM sqc"""
    topk_select = f"""
            SELECT 'sq8_topk', query_id, neighbor_id, CAST(NULL AS INT),
                   CAST(NULL AS DOUBLE), CAST(rank AS INT),
                   CAST(NULL AS BIGINT), adc_d2,
                   CAST(NULL AS VARCHAR), sq_d2
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY sq_d2 ASC, neighbor_id ASC) AS rank
                  FROM sqexact) WHERE rank <= {k}"""
    return ctes, code_select, topk_select


_SQ8_CTES, _SQ8_CODE_SELECT, _SQ8_TOPK_SELECT = _sq8_oracle_sql()

# HLL oracle constants/chain rendered from the one sketches-module spec
_HLL_AM2 = sketch_ops.HLL_ALPHA_X1000 * sketch_ops.HLL_M * sketch_ops.HLL_M
_HLL_LN2 = sketch_ops.LN2_X1E6
_HLL_FL_SELECT = search.fixed_log2_sql_select(
    "hm", "hv", "fl",
    ["l_returnflag", "rm", "n", "v", "raw_x1000", "hm", "hv"],
    source="hraw",
)


def _dhash56_oracle_sql() -> str:
    """Render q50's predicted native-resolution dHash for the PNG
    synthesis path as DuckDB SQL. The synthesized 8x8 pixel stream is
    (md5(text) * 4)[:64], so pixel (r, c) = digest byte (8r+c) mod 16;
    dHash bit (r, c) = 1 iff pixel(r, c+1) > pixel(r, c), packed at
    position r*7 + c (operators/multimodal.py dhash_bits). Rendered
    term-by-term from that one spec — the oracle gates the full PNG
    encode -> decode -> grayscale -> hash loop bit-for-bit."""

    def byte(i: int) -> str:
        return (
            f"CAST('0x' || substr(md5(coalesce(text, '')), {1 + 2 * i}, 2)"
            " AS BIGINT)"
        )

    terms = [
        f"CASE WHEN {byte((8 * r + c + 1) % 16)} > {byte((8 * r + c) % 16)}"
        f" THEN {1 << (r * 7 + c)} ELSE 0 END"
        for r in range(8)
        for c in range(7)
    ]
    return "(" + "\n                     + ".join(terms) + ")"


def oracle_sql() -> dict[str, str]:
    return {
        "q01_sales_summary": f"""
            SELECT 'full' AS kind,
                   CAST(year(o_orderdate) AS INT) AS year,
                   CAST(month(o_orderdate) AS INT) AS month,
                   l_partkey AS product_id,
                   p_name AS product_name,
                   p_brand AS brand,
                   sum(l_quantity) AS total_quantity,
                   {TOTAL_SALES_SQL} AS total_sales,
                   count(*) AS num_purchases
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2, 3, 4, 5, 6
            UNION ALL
            -- 'ivm' proves fold(agg(%3 in (0,1)), signed feed) ==
            -- agg(%3 in (1,2)) by computing the right side directly
            SELECT 'ivm' AS kind,
                   CAST(year(o_orderdate) AS INT) AS year,
                   CAST(month(o_orderdate) AS INT) AS month,
                   l_partkey AS product_id,
                   p_name AS product_name,
                   p_brand AS brand,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS total_quantity,
                   {TOTAL_SALES_SQL} AS total_sales,
                   count(*) AS num_purchases
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            WHERE l_orderkey % 3 <> 0
            GROUP BY 1, 2, 3, 4, 5, 6
        """,
        "q02_topk_products": f"""
            WITH per_part AS (
                SELECT p_brand AS brand,
                       l_partkey AS product_id,
                       p_name AS product_name,
                       {TOTAL_SALES_SQL} AS total_sales
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2, 3
            )
            SELECT 'ALL' AS scope, product_id, product_name, total_sales,
                   CAST(NULL AS INT) AS rank
            FROM (SELECT * FROM per_part
                  ORDER BY total_sales DESC, product_id ASC LIMIT 20)
            UNION ALL
            SELECT brand AS scope, product_id, product_name, total_sales,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT brand, product_id, product_name, total_sales,
                       row_number() OVER (
                           PARTITION BY brand
                           ORDER BY total_sales DESC, product_id ASC
                       ) AS rank
                FROM per_part
            ) WHERE rank <= 3
        """,
        "q03_brand_share": f"""
            WITH per_brand AS (
                SELECT p_brand AS brand,
                       CAST(sum({REVENUE_CENTS_SQL}) AS BIGINT) AS cents
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1
            )
            SELECT brand,
                   CAST(cents AS DOUBLE) / 100.0 AS total_sales,
                   CAST(cents AS DOUBLE) / CAST(sum(cents) OVER () AS DOUBLE) AS share
            FROM per_brand
        """,
        "q04_monthly_sales_mom": f"""
            WITH monthly AS (
                SELECT CAST(year(o_orderdate) AS INT) AS year,
                       CAST(month(o_orderdate) AS INT) AS month,
                       {TOTAL_SALES_SQL} AS total_sales,
                       count(*) AS num_items
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1, 2
            ),
            mc AS (
                SELECT *, CAST(floor(total_sales * 100.0 + 0.5) AS BIGINT)
                              AS total_cents
                FROM monthly
            )
            SELECT year, month, total_sales, num_items,
                   lag(total_sales) OVER (ORDER BY year, month) AS prev_total_sales,
                   total_sales - lag(total_sales) OVER (ORDER BY year, month)
                       AS delta_total_sales,
                   {_ewma_oracle_expr()} AS ewma_sales
            FROM mc
        """,
        "q05_event_summary": """
            SELECT CAST(year(ts) AS INT) AS year,
                   CAST(month(ts) AS INT) AS month,
                   event_type,
                   count(*) AS num_events,
                   (CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                        / count(*)) / 100.0 AS avg_value
            FROM events
            GROUP BY 1, 2, 3
        """,
        "q06_supplier_geo": """
            SELECT s_suppkey, s_name, s_acctbal,
                   n_name AS nation, r_name AS region
            FROM supplier
            LEFT JOIN nation ON s_nationkey = n_nationkey
            LEFT JOIN region ON n_regionkey = r_regionkey
        """,
        "q07_scd2_user_events": """
            SELECT user_id, event_id, event_type, value,
                   ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS valid_to,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       AS is_current
            FROM events
        """,
        "q08_urgent_lineitems": """
            WITH s AS (
                SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
                       l_extendedprice
                FROM lineitem
                WHERE l_orderkey IN (
                    SELECT o_orderkey FROM orders
                    WHERE o_orderpriority = '1-URGENT'
                )
            )
            SELECT 'semi' AS kind, * FROM s
            UNION ALL
            SELECT 'bloom_semi' AS kind, * FROM s
        """,
        "q09_customer_segments": """
            WITH machinery AS (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
            ), urgent AS (
                SELECT DISTINCT o_custkey AS c_custkey FROM orders
                WHERE o_orderpriority = '1-URGENT'
            )
            SELECT c_custkey, 'both' AS membership
            FROM (SELECT c_custkey FROM machinery INTERSECT SELECT c_custkey FROM urgent)
            UNION ALL
            SELECT c_custkey, 'machinery_only' AS membership
            FROM (SELECT c_custkey FROM machinery EXCEPT SELECT c_custkey FROM urgent)
            UNION ALL
            SELECT c_custkey, 'urgent_only' AS membership
            FROM (SELECT c_custkey FROM urgent EXCEPT SELECT c_custkey FROM machinery)
            UNION ALL
            SELECT c_custkey, 'no_orders' AS membership
            FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT b.c_custkey, 'q22_prospect' AS membership
            FROM (SELECT c_custkey,
                         CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents
                  FROM customer) b
            CROSS JOIN (SELECT CAST(SUM(bal_cents) AS BIGINT) AS total,
                               COUNT(*) AS n
                        FROM (SELECT CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
                                     AS bal_cents FROM customer)
                        WHERE bal_cents > 0) t
            WHERE b.bal_cents * t.n > t.total
              AND b.c_custkey NOT IN (SELECT o_custkey FROM orders
                                      WHERE o_orderpriority = '1-URGENT')
            UNION ALL
            SELECT DISTINCT o_custkey AS c_custkey, 'big_order' AS membership
            FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 GROUP BY l_orderkey
                                 HAVING SUM(l_quantity) > 300.0)
            UNION ALL
            SELECT DISTINCT o_custkey AS c_custkey, 'q21_contested' AS membership
            FROM orders
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM (
                    SELECT l_orderkey,
                           COUNT(*) AS nsupp,
                           COUNT(*) FILTER (WHERE supmax = maxship)
                               AS n_at_max
                    FROM (
                        SELECT l_orderkey, l_suppkey,
                               MAX(l_shipdate) AS supmax,
                               MAX(MAX(l_shipdate)) OVER (
                                   PARTITION BY l_orderkey) AS maxship
                        FROM lineitem
                        GROUP BY l_orderkey, l_suppkey
                    )
                    GROUP BY l_orderkey
                )
                WHERE nsupp >= 2 AND n_at_max >= 2
            )
        """,
        "q10_incremental_load": """
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                   'watermark_new' AS op
            FROM orders
            WHERE o_orderdate > (
                SELECT max(o_orderdate) FROM orders WHERE o_orderkey % 3 = 0
            )
            UNION ALL
            SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                   coalesce(s.o_custkey, t.o_custkey) AS o_custkey,
                   coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice,
                   coalesce(s.o_orderdate, t.o_orderdate) AS o_orderdate,
                   'merged' AS op
            FROM (
                SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice, o_orderdate
                FROM orders WHERE o_orderkey % 2 = 0
            ) t FULL JOIN (
                SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
                FROM orders WHERE o_orderkey % 3 = 0
            ) s ON t.o_orderkey = s.o_orderkey
            UNION ALL
            SELECT n.o_orderkey, n.o_custkey, n.o_totalprice, n.o_orderdate,
                   'cdc_insert' AS op
            FROM (SELECT o_orderkey, o_custkey,
                         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                              ELSE o_totalprice END AS o_totalprice,
                         o_orderdate
                  FROM orders WHERE o_orderkey % 3 = 0) n
            LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0) o
              ON n.o_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL
            UNION ALL
            SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderdate,
                   'cdc_delete' AS op
            FROM (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
                  FROM orders WHERE o_orderkey % 2 = 0) o
            LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0) n
              ON o.o_orderkey = n.o_orderkey
            WHERE n.o_orderkey IS NULL
            UNION ALL
            SELECT o.o_orderkey, o.o_custkey,
                   CASE WHEN img.side = 'pre' THEN o.o_totalprice
                        ELSE n.o_totalprice END AS o_totalprice,
                   o.o_orderdate,
                   'cdc_update_' || img.side || 'image' AS op
            FROM (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
                  FROM orders WHERE o_orderkey % 2 = 0) o
            JOIN (SELECT o_orderkey,
                         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                              ELSE o_totalprice END AS o_totalprice
                  FROM orders WHERE o_orderkey % 3 = 0) n
              ON o.o_orderkey = n.o_orderkey
            CROSS JOIN (SELECT 'pre' AS side UNION ALL SELECT 'post') img
            WHERE o.o_totalprice IS DISTINCT FROM n.o_totalprice
            UNION ALL
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate, 'cdc_apply' AS op
            FROM orders WHERE o_orderkey % 3 = 0
        """,
        "q11_grouping_surface": f"""
            SELECT 'rollup' AS kind,
                   CAST(year(o_orderdate) AS INT) AS year,
                   CAST(month(o_orderdate) AS INT) AS month,
                   CAST(NULL AS VARCHAR) AS returnflag,
                   {TOTAL_SALES_SQL} AS total_sales,
                   CAST(grouping(year(o_orderdate)) * 2 + grouping(month(o_orderdate)) AS BIGINT)
                       AS grouping_level
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
            UNION ALL
            SELECT 'cube' AS kind,
                   CAST(year(o_orderdate) AS INT) AS year,
                   CAST(NULL AS INT) AS month,
                   l_returnflag AS returnflag,
                   {TOTAL_SALES_SQL} AS total_sales,
                   CAST(grouping(year(o_orderdate)) * 2 + grouping(l_returnflag) AS BIGINT)
                       AS grouping_level
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY CUBE (year(o_orderdate), l_returnflag)
        """,
        "q12_distinct_counts": """
            SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS distinct_parts,
                   count(DISTINCT l_suppkey) AS distinct_suppliers,
                   count(*) AS num_rows
            FROM lineitem
            GROUP BY 1
        """,
        "q13_clean_customers": """
            SELECT c_custkey,
                   lower(trim(c_name)) AS name_norm,
                   concat_ws(' ', trim(c_name), trim(c_mktsegment)) AS display_name,
                   c_acctbal AS acctbal,
                   coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0)
                       AS acctbal_pos
            FROM (SELECT DISTINCT ON (c_custkey) * FROM customer)
        """,
        "q14_events_json": """
            SELECT event_id, event_type,
                   CAST(props->>'$.k' AS INT) AS prop_k
            FROM events
            WHERE CAST(props->>'$.k' AS INT) IS NOT NULL
        """,
        "q15_exact_dedup": """
            WITH sp AS (
                SELECT doc_id, i AS pos,
                       array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS span
                FROM (
                    SELECT doc_id, toks,
                           unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)))
                               AS i
                    FROM (SELECT doc_id, string_split(text, ' ') AS toks
                          FROM documents WHERE text IS NOT NULL)
                )
            ), marked AS (
                SELECT doc_id, pos, span,
                       row_number() OVER (PARTITION BY md5(span)
                                          ORDER BY doc_id, pos) = 1 AS keep
                FROM sp
            ), per_doc AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_spans,
                       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_spans_kept,
                       string_agg(span, ' ' ORDER BY pos)
                           FILTER (WHERE keep) AS clean_text
                FROM marked GROUP BY doc_id
            ), occ AS (
                SELECT doc_id, pos, substring(text, pos, 20) AS h
                FROM (
                    SELECT doc_id, text,
                           unnest(range(1, length(text) - 20 + 2)) AS pos
                    FROM documents
                    WHERE text IS NOT NULL AND length(text) >= 20
                )
            ), dup_occ AS (
                SELECT doc_id, pos, pos + 20 AS e
                FROM (
                    SELECT doc_id, pos,
                           row_number() OVER (PARTITION BY h
                                              ORDER BY doc_id, pos) AS rn
                    FROM occ
                ) WHERE rn > 1
            ), isl AS (
                SELECT doc_id, pos, e,
                       CASE WHEN pos > coalesce(max(e) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), -1)
                            THEN 1 ELSE 0 END AS nw
                FROM dup_occ
            ), isl2 AS (
                SELECT doc_id, pos, e,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS island
                FROM isl
            ), per_isl AS (
                SELECT doc_id, island, min(pos) AS s, max(e) AS mx,
                       count(*) AS c
                FROM isl2 GROUP BY 1, 2
            ), sub_doc AS (
                SELECT doc_id, CAST(sum(mx - s) AS BIGINT) AS dup_chars,
                       CAST(sum(c) AS BIGINT) AS n_dup_windows
                FROM per_isl GROUP BY 1
            )
            SELECT 'exact' AS kind,
                   md5(lower(trim(text))) AS fp,
                   min(doc_id) AS canonical_doc_id,
                   count(*) AS n_copies,
                   CAST(NULL AS BIGINT) AS n_spans,
                   CAST(NULL AS BIGINT) AS n_spans_kept,
                   CAST(NULL AS BIGINT) AS total_chars,
                   CAST(NULL AS BIGINT) AS n_dup_windows,
                   CAST(NULL AS BIGINT) AS dup_chars,
                   CAST(NULL AS BIGINT) AS dup_pct_x100
            FROM documents
            GROUP BY 2
            UNION ALL
            SELECT 'span_dedup', md5(p.clean_text), d.doc_id,
                   CAST(NULL AS BIGINT), p.n_spans, p.n_spans_kept,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
            FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
            UNION ALL
            SELECT 'substr_dup', CAST(NULL AS VARCHAR), d.doc_id,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(length(d.text) AS BIGINT),
                   CASE WHEN d.text IS NOT NULL
                        THEN coalesce(s.n_dup_windows, 0) END,
                   CASE WHEN d.text IS NOT NULL
                        THEN coalesce(s.dup_chars, 0) END,
                   CASE WHEN length(d.text) > 0
                        THEN (100 * coalesce(s.dup_chars, 0)) // length(d.text)
                   END
            FROM documents d LEFT JOIN sub_doc s ON s.doc_id = d.doc_id
        """,
        "q16_doc_profile": _doc_profile_oracle_sql(),
        "q17_lang_profile": f"""
            WITH s AS (
                SELECT lang,
                       len(string_split(text, ' ')) AS n_tokens,
                       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                       len(list_filter(string_split(text, ' '),
                           t -> list_contains(['the','a','and','of','to'], t))) AS n_stopwords
                FROM documents
            ),
            -- char-bigram LM surprisal mirror (text.doc_surprisal):
            -- integer floor-log2 surprisal over normalized-text bigrams
            nrm AS (SELECT doc_id, {NORM_TEXT_SQL} AS norm FROM documents),
            g AS (
                SELECT doc_id, substr(norm, i, 2) AS bg
                FROM (SELECT doc_id, norm,
                             unnest(range(1, length(norm))) AS i
                      FROM nrm)
            ),
            lm AS (SELECT bg, count(*) AS c FROM g GROUP BY bg),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM lm),
            bits AS (SELECT bg,
                            length(format('{{:b}}', t)) - length(format('{{:b}}', c))
                                AS bits
                     FROM lm, tot),
            sc AS (
                SELECT g.doc_id,
                       CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(sum(bits) AS BIGINT) AS surprisal_bits
                FROM g JOIN bits USING (bg)
                GROUP BY g.doc_id
            )
            SELECT 'lang' AS kind, lang,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(n_stopwords) AS DOUBLE) / CAST(sum(n_tokens) AS BIGINT)
                       AS stopword_ratio,
                   CAST(sum(n_distinct_tokens) AS DOUBLE) / CAST(sum(n_tokens) AS BIGINT)
                       AS avg_ttr,
                   CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS n_bigrams,
                   CAST(NULL AS BIGINT) AS surprisal_bits,
                   CAST(NULL AS BIGINT) AS mean_bits_x100,
                   CAST(NULL AS VARCHAR) AS a,
                   CAST(NULL AS VARCHAR) AS b,
                   CAST(NULL AS BIGINT) AS c_ab,
                   CAST(NULL AS BIGINT) AS pmi_x64
            FROM s
            GROUP BY lang
            UNION ALL
            SELECT 'surprisal', CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   d.doc_id, sc.n_bigrams, sc.surprisal_bits,
                   CAST((sc.surprisal_bits * 100) // sc.n_bigrams AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
            FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
            {_pmi_oracle_branch()}
            {_zipf_oracle_branch()}
        """,
        "q18_doc_fingerprints": """
            WITH t AS (
                SELECT doc_id, text,
                       list_distinct(string_split(text, ' ')) AS tset
                FROM documents
            ), h AS (
                SELECT doc_id, text, tset,
                       list_transform(tset,
                           s -> CAST('0x'||substr(md5('0:'||s),1,15) AS BIGINT)) AS hs
                FROM t
            ), ppos AS (
                SELECT doc_id, text,
                       unnest(range(1, length(text) + 1)) AS pos
                FROM documents WHERE text IS NOT NULL
            ), rep AS (
                SELECT doc_id, CAST(max(l) AS BIGINT) AS sa_rep_len FROM (
                    SELECT doc_id, 1 AS l FROM (
                        SELECT doc_id,
                               count(*) OVER (PARTITION BY
                                   substring(text, pos, 1)) AS c
                        FROM ppos WHERE pos + 0 <= length(text)
                    ) WHERE c > 1
                    UNION ALL
                    SELECT doc_id, 2 AS l FROM (
                        SELECT doc_id,
                               count(*) OVER (PARTITION BY
                                   substring(text, pos, 2)) AS c
                        FROM ppos WHERE pos + 1 <= length(text)
                    ) WHERE c > 1
                    UNION ALL
                    SELECT doc_id, 4 AS l FROM (
                        SELECT doc_id,
                               count(*) OVER (PARTITION BY
                                   substring(text, pos, 4)) AS c
                        FROM ppos WHERE pos + 3 <= length(text)
                    ) WHERE c > 1
                    UNION ALL
                    SELECT doc_id, 8 AS l FROM (
                        SELECT doc_id,
                               count(*) OVER (PARTITION BY
                                   substring(text, pos, 8)) AS c
                        FROM ppos WHERE pos + 7 <= length(text)
                    ) WHERE c > 1
                    UNION ALL
                    SELECT doc_id, 16 AS l FROM (
                        SELECT doc_id,
                               count(*) OVER (PARTITION BY
                                   substring(text, pos, 16)) AS c
                        FROM ppos WHERE pos + 15 <= length(text)
                    ) WHERE c > 1
                    UNION ALL
                    SELECT doc_id, 32 AS l FROM (
                        SELECT doc_id,
                               count(*) OVER (PARTITION BY
                                   substring(text, pos, 32)) AS c
                        FROM ppos WHERE pos + 31 <= length(text)
                    ) WHERE c > 1
                ) GROUP BY doc_id
            )
            SELECT doc_id,
                   md5(lower(trim(text))) AS fp,
                   CAST(list_sum(list_transform(range(0,32), i ->
                      CASE WHEN list_sum(list_transform(hs,
                             x -> CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                           THEN (CAST(1 AS BIGINT) << i)
                           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash,
                   list_min(hs) AS h0,
                   list_min(list_transform(tset,
                       s -> CAST('0x' || substr(md5('1:' || s), 1, 15) AS BIGINT))) AS h1,
                   list_min(list_transform(tset,
                       s -> CAST('0x' || substr(md5('2:' || s), 1, 15) AS BIGINT))) AS h2,
                   list_min(list_transform(tset,
                       s -> CAST('0x' || substr(md5('3:' || s), 1, 15) AS BIGINT))) AS h3,
                   CASE WHEN h.text IS NOT NULL
                        THEN coalesce(rep.sa_rep_len, 0) END AS sa_rep_len
            FROM h LEFT JOIN rep USING (doc_id)
        """,
        "q19_ngram_jaccard": """
            WITH t AS (
                SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
                FROM documents
            ), toks AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), g AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, len(toks)),
                           i -> array_to_string(toks[i:i+1], ' '))) AS grams
                FROM toks WHERE len(toks) >= 2
            ), bset AS (
                -- one md5 per gram; position i = hex digits [1+7i, 7+7i)
                -- (the Kirsch-Mitzenmacher single-hash derivation the
                -- Spark side uses)
                SELECT DISTINCT
                       CAST('0x'||substr(md5('bloom:'||gram), 1 + 7*i, 7) AS BIGINT)
                           % 16384 AS pos
                FROM (SELECT DISTINCT unnest(grams) AS gram
                      FROM g WHERE doc_id < 25)
                CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
            )
            SELECT 'jaccard' AS kind, a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                       / (len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset)))
                       AS jaccard,
                   CAST(NULL AS BIGINT) AS n_shared_grams
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE a.doc_id < 50
              AND len(list_intersect(a.tset, b.tset)) * 100
                  >= (len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset))) * 30
            UNION ALL
            SELECT 'contamination', c.doc_id, b.doc_id,
                   CAST(NULL AS DOUBLE),
                   CAST(len(list_intersect(c.grams, b.grams)) AS BIGINT)
            FROM g b JOIN g c ON b.doc_id < 25 AND c.doc_id >= 25
            WHERE len(list_intersect(c.grams, b.grams)) >= 10
            UNION ALL
            -- bloom: the Spark side packs the benchmark grams' k=4
            -- md5 positions into a real 16384-bit array and tests
            -- corpus grams with Column bit math; position membership
            -- against the benchmark's set-bit SET is the same
            -- function, false positives included
            SELECT 'bloom', c.doc_id, CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(count(*) AS BIGINT)
            FROM (SELECT doc_id, unnest(grams) AS gram
                  FROM g WHERE doc_id >= 25) c
            WHERE CAST('0x'||substr(md5('bloom:'||c.gram),1,7) AS BIGINT) % 16384
                      IN (SELECT pos FROM bset)
              AND CAST('0x'||substr(md5('bloom:'||c.gram),8,7) AS BIGINT) % 16384
                      IN (SELECT pos FROM bset)
              AND CAST('0x'||substr(md5('bloom:'||c.gram),15,7) AS BIGINT) % 16384
                      IN (SELECT pos FROM bset)
              AND CAST('0x'||substr(md5('bloom:'||c.gram),22,7) AS BIGINT) % 16384
                      IN (SELECT pos FROM bset)
            GROUP BY c.doc_id
        """,
        "q20_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id,
                       list_transform(embedding,
                           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
                FROM embeddings WHERE vec_id < 10
            ), c AS (
                SELECT vec_id AS neighbor_id, label AS neighbor_label,
                       list_transform(embedding,
                           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS cv
                FROM embeddings
            ), scored AS (
                SELECT query_id, neighbor_id, neighbor_label,
                       CAST(CAST(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
                       / (sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS DOUBLE))
                          * sqrt(CAST(CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS DOUBLE)))
                           AS cosine
                FROM c JOIN q ON query_id != neighbor_id
            )
            SELECT query_id, neighbor_id, neighbor_label, cosine, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
                ) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "q21_minhash_lsh_pairs": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), g AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, len(toks)-3+2),
                           i -> array_to_string(toks[i:i+2], ' '))) AS grams
                FROM t WHERE len(toks) >= 3
            ), sig AS (
                SELECT doc_id, grams,
                       list_transform(range(0,16), k ->
                          list_min(list_transform(grams, s ->
                             (CAST('0x'||substr(md5(s),1,15) AS BIGINT)
                              + k * (CAST('0x'||substr(md5(s),17,15) AS BIGINT)
                                     % 2147483648))
                             % 2305843009213693951))) AS sig
                FROM g
            ), banded AS (
                SELECT doc_id, b AS band,
                       md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_key
                FROM sig, (SELECT unnest(range(0,4)) AS b)
            ), cand AS (
                SELECT x.doc_id AS a_id, y.doc_id AS b_id
                FROM banded x JOIN banded y
                  ON x.band = y.band AND x.band_key = y.band_key
                 AND x.doc_id < y.doc_id
                GROUP BY 1,2
            )
            SELECT c.a_id, c.b_id,
                   CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                     / (len(ga.grams) + len(gb.grams)
                        - len(list_intersect(ga.grams, gb.grams))) AS jaccard
            FROM cand c
            JOIN g ga ON ga.doc_id = c.a_id
            JOIN g gb ON gb.doc_id = c.b_id
            WHERE len(list_intersect(ga.grams, gb.grams)) * 100
                  >= (len(ga.grams) + len(gb.grams)
                      - len(list_intersect(ga.grams, gb.grams))) * 50
        """,
        "q22_ann_lsh": _ann_lsh_oracle_sql(),
        "q23_window_counts": """
            WITH b AS (
                SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type
                FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes')
                           AS window_start, event_type
                FROM events
            )
            SELECT 'tumbling' AS kind,
                   time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
                       AS total_value,
                   CAST(NULL AS DOUBLE) AS open_v,
                   CAST(NULL AS DOUBLE) AS high_v,
                   CAST(NULL AS DOUBLE) AS low_v,
                   CAST(NULL AS DOUBLE) AS close_v
            FROM events
            GROUP BY 2, 3
            UNION ALL
            SELECT 'sliding' AS kind, window_start, event_type,
                   count(*) AS n_events, CAST(NULL AS DOUBLE) AS total_value,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM b GROUP BY 2, 3
            UNION ALL
            SELECT 'ohlc' AS kind, window_start, event_type,
                   count(*) AS n_events, CAST(NULL AS DOUBLE) AS total_value,
                   max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
                   max(value) AS high_v,
                   min(value) AS low_v,
                   max(CASE WHEN rn_d = 1 THEN value END) AS close_v
            FROM (
                SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                       event_type, value,
                       row_number() OVER (
                           PARTITION BY event_type,
                                        time_bucket(INTERVAL '1 hour', ts)
                           ORDER BY ts ASC, event_id ASC) AS rn_a,
                       row_number() OVER (
                           PARTITION BY event_type,
                                        time_bucket(INTERVAL '1 hour', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn_d
                FROM events
            ) GROUP BY 2, 3
            UNION ALL
            SELECT 'gapfill' AS kind, ws AS window_start, event_type,
                   n_events, CAST(NULL AS DOUBLE) AS total_value,
                   CAST(NULL AS DOUBLE) AS open_v,
                   CAST(NULL AS DOUBLE) AS high_v,
                   CAST(NULL AS DOUBLE) AS low_v,
                   close_v
            FROM (
                SELECT cal.event_type, cal.ws,
                       coalesce(b15.n_events, 0) AS n_events,
                       last_value(b15.close_v IGNORE NULLS) OVER (
                           PARTITION BY cal.event_type ORDER BY cal.ws
                           ROWS UNBOUNDED PRECEDING) AS close_v
                FROM (
                    SELECT event_type,
                           unnest(generate_series(mn, mx,
                                                  INTERVAL '15 minutes')) AS ws
                    FROM (SELECT event_type, min(ws) AS mn, max(ws) AS mx
                          FROM (SELECT event_type,
                                       time_bucket(INTERVAL '15 minutes', ts)
                                           AS ws
                                FROM events)
                          GROUP BY event_type)
                ) cal
                LEFT JOIN (
                    SELECT ws, event_type, count(*) AS n_events,
                           max(CASE WHEN rn_d = 1 THEN value END) AS close_v
                    FROM (
                        SELECT time_bucket(INTERVAL '15 minutes', ts) AS ws,
                               event_type, value,
                               row_number() OVER (
                                   PARTITION BY event_type,
                                       time_bucket(INTERVAL '15 minutes', ts)
                                   ORDER BY ts DESC, event_id DESC) AS rn_d
                        FROM events
                    ) GROUP BY 1, 2
                ) b15
                  ON cal.event_type = b15.event_type AND cal.ws = b15.ws
            )
        """,
        "q24_session_windows": """
            WITH marked AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                    >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
            ), sess AS (
                SELECT user_id, ts,
                       sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING
                       ) AS sid
                FROM marked
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL '30 minutes' AS session_end,
                   count(*) AS n_events
            FROM sess
            GROUP BY user_id, sid
        """,
        "q25_scalar_surface": """
            SELECT o_orderkey,
                   upper(o_orderstatus) AS status_upper,
                   substr(o_orderpriority, 1, 1) AS prio_code,
                   replace(o_orderpriority, '-', '_') AS prio_snake,
                   CAST(strpos(o_orderpriority, '-') AS INT) AS first_dash,
                   lpad(o_orderpriority, 12, '#') AS prio_padded,
                   CAST(length(o_orderpriority) AS INT) AS prio_len,
                   reverse(o_orderpriority) AS prio_rev,
                   CAST(quarter(o_orderdate) AS INT) AS q,
                   CAST(day(o_orderdate) AS INT) AS dom,
                   weekofyear(o_orderdate) AS iso_week,
                   date_trunc('month', o_orderdate) AS month_start,
                   datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                       AS days_since_1992,
                   CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end
            FROM orders
        """,
        "q26_user_activity": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'view') AS view,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'error') AS error,
                   array_to_string(list_sort(array_agg(DISTINCT event_type)), ',')
                       AS event_types,
                   count(*) AS n_events,
                   min(ts) AS first_ts,
                   max(ts) AS last_ts
            FROM events
            GROUP BY user_id
        """,
        "q27_price_buckets": """
            SELECT CASE WHEN p_retailprice < 500 THEN 'lo'
                        WHEN p_retailprice < 1200 THEN 'mid'
                        ELSE 'hi' END AS price_bucket,
                   count(*) AS n_parts,
                   CAST(sum(p_size) AS BIGINT) AS total_size,
                   min(p_size) AS min_size,
                   max(p_size) AS max_size
            FROM part
            GROUP BY 1
        """,
        "q28_orders_above_customer_avg": """
            WITH per_cust AS (
                SELECT o_custkey,
                       (CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                        / count(*)) / 100.0 AS cust_avg
                FROM orders GROUP BY o_custkey
            )
            SELECT o_orderkey, o.o_custkey, o_totalprice, cust_avg
            FROM orders o JOIN per_cust p ON o.o_custkey = p.o_custkey
            WHERE o_totalprice > cust_avg
        """,
        "q29_sql_pricing_summary": PRICING_SUMMARY_SQL,
        "q30_label_centroids": """
            SELECT label, CAST(r.range AS INT) AS dim,
                   (CAST(sum(CAST(floor(CAST(embedding[r.range + 1] AS DOUBLE)
                                        * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                    / count(*)) / 1000000.0 AS centroid
            FROM embeddings, range(64) r
            GROUP BY 1, 2
        """,
        "q31_purchase_funnel": """
            WITH per_user AS (
                SELECT user_id,
                       min(ts) FILTER (event_type = 'click') AS first_click,
                       min(ts) FILTER (event_type = 'view') AS first_view,
                       min(ts) FILTER (event_type = 'purchase') AS first_purchase
                FROM events GROUP BY user_id
            )
            SELECT 'funnel' AS kind,
                   count(*) AS n_users,
                   count(first_click) AS clicked,
                   CAST(sum(CASE WHEN first_view > first_click THEN 1 ELSE 0 END) AS BIGINT)
                       AS viewed_after_click,
                   CAST(sum(CASE WHEN first_view > first_click
                                  AND first_purchase > first_view THEN 1 ELSE 0 END) AS BIGINT)
                       AS purchased_after_view,
                   CAST(NULL AS BIGINT) AS cohort_day,
                   CAST(NULL AS BIGINT) AS week_offset,
                   CAST(NULL AS DOUBLE) AS p50_ttc_us,
                   CAST(NULL AS DOUBLE) AS p90_ttc_us
            FROM per_user
            UNION ALL
            SELECT 'retention', CAST(count(*) AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), cohort_day, week_offset,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM (
                SELECT DISTINCT e.user_id,
                       CAST(datediff('day', DATE '1970-01-01',
                                     date_trunc('week', f.first_ts)) AS BIGINT)
                           AS cohort_day,
                       CAST(datediff('day', date_trunc('week', f.first_ts),
                                     date_trunc('week', e.ts)) // 7 AS BIGINT)
                           AS week_offset
                FROM events e
                JOIN (SELECT user_id, min(ts) AS first_ts
                      FROM events GROUP BY user_id) f
                  ON e.user_id = f.user_id
            ) GROUP BY cohort_day, week_offset
            UNION ALL
            SELECT 'ttc', CAST(count(*) AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   quantile_cont(d_us, 0.5), quantile_cont(d_us, 0.9)
            FROM (
                SELECT epoch_us(first_purchase) - epoch_us(first_click)
                           AS d_us
                FROM per_user
                WHERE first_purchase > first_click
            )
        """,
        "q32_full_outer_activity": """
            SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
                   c.c_mktsegment AS mktsegment,
                   count(o.o_orderkey) AS n_orders,
                   CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
                       / 100.0 AS total_spend
            FROM customer c FULL JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        """,
        "q33_approx_sketches": f"""
            WITH cmsc AS (
                SELECT i, CAST('0x'||substr(md5('cms' || CAST(i AS VARCHAR) || ':'
                               || CAST(l_partkey AS VARCHAR)),1,15) AS BIGINT)
                              % 1024 AS pos,
                       count(*) AS c
                FROM lineitem CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
                GROUP BY 1, 2
            ), topp AS (
                SELECT l_partkey, count(*) AS exact_cnt
                FROM lineitem GROUP BY 1
                ORDER BY exact_cnt DESC, l_partkey ASC LIMIT 5
            ), hranks AS (
                SELECT l_returnflag,
                       h % 64 AS idx,
                       least(55 - length(format('{{:b}}', h // 64)), 40) AS rank
                FROM (SELECT l_returnflag,
                             CAST('0x'||substr(md5('hll:'||CAST(l_partkey AS VARCHAR)),
                                               1,15) AS BIGINT) AS h
                      FROM lineitem)
            ), hgrid AS (
                SELECT g.l_returnflag, i.idx, coalesce(hm.mj, 0) AS mj
                FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
                CROSS JOIN (SELECT unnest(range(0, 64)) AS idx) i
                LEFT JOIN (SELECT l_returnflag, idx, max(rank) AS mj
                           FROM hranks GROUP BY 1, 2) hm
                  ON hm.l_returnflag = g.l_returnflag AND hm.idx = i.idx
            ), hagg AS (
                SELECT g.l_returnflag, r.rm,
                       CAST(sum(CAST(1 AS BIGINT) << (r.rm - g.mj)) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN g.mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
                FROM hgrid g
                JOIN (SELECT l_returnflag, max(mj) AS rm
                      FROM hgrid GROUP BY 1) r USING (l_returnflag)
                GROUP BY 1, 2
            ), hraw AS (
                SELECT l_returnflag, rm, n, v,
                       (CAST({_HLL_AM2} AS BIGINT)
                        * (CAST(1 AS BIGINT) << CAST(rm AS INT))) // n AS raw_x1000,
                       CAST(64 AS BIGINT) AS hm,
                       CAST(greatest(v, 1) AS BIGINT) AS hv
                FROM hagg
            ), hfl AS (
                {_HLL_FL_SELECT}
            ), hexact AS (
                SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
                FROM lineitem GROUP BY 1
            ), th AS (
                -- theta/KMV spec: shared md5 hash over distinct
                -- high-value users per event-type segment, k = 32
                SELECT segment, h,
                       row_number() OVER (PARTITION BY segment
                                          ORDER BY h) AS rn
                FROM (SELECT DISTINCT event_type AS segment,
                             CAST('0x'||substr(md5('theta:'
                                  ||CAST(user_id AS VARCHAR)),1,15)
                                  AS BIGINT) AS h
                      FROM events
                      WHERE value > 180 AND user_id IS NOT NULL)
            ), tsk AS (
                SELECT segment, max(rn) AS n,
                       list_sort(list(h) FILTER (WHERE rn <= 32)) AS below,
                       max(CASE WHEN rn = 33 THEN h END) AS kp1
                FROM th WHERE rn <= 33 GROUP BY 1
            ), tfin AS (
                SELECT segment, below,
                       coalesce(kp1, 1152921504606846976) AS theta,
                       CAST(len(below) AS BIGINT) AS n_below,
                       CASE WHEN kp1 IS NULL THEN CAST(n AS DOUBLE)
                            ELSE 32.0 * (1152921504606846976.0
                                         / CAST(kp1 AS DOUBLE)) END AS est
                FROM tsk
            ), tpair AS (
                SELECT a.segment AS seg_a, b.segment AS seg_b,
                       least(a.theta, b.theta) AS tm,
                       list_filter(a.below,
                           x -> x < least(a.theta, b.theta)) AS fa,
                       list_filter(b.below,
                           x -> x < least(a.theta, b.theta)) AS fb
                FROM tfin a JOIN tfin b ON a.segment < b.segment
            ), tops AS (
                SELECT seg_a, seg_b, 'union' AS set_op,
                       CAST(len(list_distinct(list_concat(fa, fb)))
                            AS BIGINT) AS cnt, tm
                FROM tpair
                UNION ALL
                SELECT seg_a, seg_b, 'intersect',
                       CAST(len(list_intersect(fa, fb)) AS BIGINT), tm
                FROM tpair
                UNION ALL
                SELECT seg_a, seg_b, 'a_not_b',
                       CAST(len(list_filter(fa,
                            x -> NOT list_contains(fb, x))) AS BIGINT), tm
                FROM tpair
            )
            SELECT 'sketch' AS kind, l_returnflag,
                   count(DISTINCT l_partkey) AS exact_parts,
                   quantile_cont(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT),
                                 0.5) / 100.0 AS price_p50,
                   quantile_cont(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT),
                                 0.95) / 100.0 AS price_p95,
                   CAST(1 AS INT) AS sketch_ok,
                   CAST(NULL AS BIGINT) AS part_key,
                   CAST(NULL AS BIGINT) AS exact_cnt,
                   CAST(NULL AS BIGINT) AS cms_est,
                   CAST(NULL AS BIGINT) AS hll_x1000,
                   CAST(NULL AS VARCHAR) AS seg_a,
                   CAST(NULL AS VARCHAR) AS seg_b,
                   CAST(NULL AS VARCHAR) AS set_op,
                   CAST(NULL AS BIGINT) AS n_retained,
                   CAST(NULL AS BIGINT) AS theta,
                   CAST(NULL AS DOUBLE) AS theta_est
            FROM lineitem
            GROUP BY 2
            UNION ALL
            SELECT 'cms', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS INT),
                   t.l_partkey, t.exact_cnt, min(coalesce(cm.c, 0)),
                   CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
            FROM topp t
            CROSS JOIN (SELECT unnest(range(0, 4)) AS i) ii
            LEFT JOIN cmsc cm
              ON cm.i = ii.i
             AND cm.pos = CAST('0x'||substr(md5('cms' || CAST(ii.i AS VARCHAR)
                              || ':' || CAST(t.l_partkey AS VARCHAR)),1,15)
                              AS BIGINT) % 1024
            GROUP BY t.l_partkey, t.exact_cnt
            UNION ALL
            SELECT 'hll', f.l_returnflag, e.exact_parts,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS INT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(CASE WHEN f.v > 0 AND f.raw_x1000 <= {2500 * 64}
                        THEN (f.hm * f.fl * {_HLL_LN2}) // {64 * 1000}
                        ELSE f.raw_x1000 END AS BIGINT) AS hll_x1000,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
            FROM hfl f JOIN hexact e USING (l_returnflag)
            UNION ALL
            -- the merged-sub-sketch estimate must equal the direct one
            -- (register max is the lossless HLL union)
            SELECT 'hll_merge', f.l_returnflag, e.exact_parts,
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS INT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(CASE WHEN f.v > 0 AND f.raw_x1000 <= {2500 * 64}
                        THEN (f.hm * f.fl * {_HLL_LN2}) // {64 * 1000}
                        ELSE f.raw_x1000 END AS BIGINT) AS hll_x1000,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
            FROM hfl f JOIN hexact e USING (l_returnflag)
            UNION ALL
            SELECT 'theta', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS INT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   segment, CAST(NULL AS VARCHAR), 'est',
                   n_below, theta, est
            FROM tfin
            UNION ALL
            SELECT 'theta', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS INT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   seg_a, seg_b, set_op, cnt, tm,
                   CASE WHEN tm = 1152921504606846976
                        THEN CAST(cnt AS DOUBLE)
                        ELSE CAST(cnt AS DOUBLE)
                             * (1152921504606846976.0 / CAST(tm AS DOUBLE))
                        END
            FROM tops
        """,
        "q34_stratified_sample": """
            SELECT *, CAST(NULL AS BIGINT) AS cost_x FROM (
            SELECT 'sample' AS kind, doc_id, lang, source,
                   CAST(NULL AS BIGINT) AS n_tokens,
                   CAST(NULL AS BIGINT) AS bin_id,
                   CAST(NULL AS BIGINT) AS bin_offset,
                   CAST(NULL AS BIGINT) AS n_bins_spanned,
                   CAST(NULL AS BIGINT) AS rk,
                   CAST(NULL AS BIGINT) AS weight_pct,
                   CAST(NULL AS BIGINT) AS n_docs,
                   CAST(NULL AS BIGINT) AS weight,
                   CAST(NULL AS VARCHAR) AS chunk_fp
            FROM documents
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
                  < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
            UNION ALL
            SELECT 'packing', doc_id, CAST(NULL AS VARCHAR), source,
                   n_tokens, ts // 512, ts % 512,
                   ((ts % 512) + n_tokens + 511) // 512,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM (
                SELECT doc_id, source,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                       sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                           OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
                           - CAST(len(string_split(text, ' ')) AS BIGINT) AS ts
                FROM documents
            )
            UNION ALL
            SELECT 'source_cap', doc_id, lang, source,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(rk AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM (
                SELECT doc_id, lang, source,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id ASC) AS rk
                FROM documents
            ) WHERE rk <= 20
            UNION ALL
            SELECT 'importance', doc_id, lang, source,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(greatest(10, least(90, n_chars // 10)) AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM documents
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
                  < greatest(10, least(90, n_chars // 10))
            UNION ALL
            SELECT 'mixture_temp', CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR), source,
                   total_tokens, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   greatest(CAST(1 AS BIGINT),
                            CAST(floor(100.0 *
                                 (sqrt(CAST(t_min AS DOUBLE))
                                  / sqrt(CAST(total_tokens AS DOUBLE))))
                                 AS BIGINT)),
                   n_docs, CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                           AS total_tokens,
                       min(CAST(sum(len(string_split(text, ' '))) AS BIGINT))
                           OVER () AS t_min
                FROM documents GROUP BY source
            )
            UNION ALL
            SELECT 'mixture', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), source,
                   total_tokens, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   greatest(CAST(1 AS BIGINT),
                            (100 * weight * t_m) // (w_m * total_tokens)),
                   n_docs, weight,
                   CAST(NULL AS VARCHAR)
            FROM (
                SELECT source, n_docs, total_tokens, weight,
                       first(weight) OVER (
                           ORDER BY CAST(weight AS DOUBLE) /
                                    CAST(total_tokens AS DOUBLE) DESC,
                                    source ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING) AS w_m,
                       first(total_tokens) OVER (
                           ORDER BY CAST(weight AS DOUBLE) /
                                    CAST(total_tokens AS DOUBLE) DESC,
                                    source ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING) AS t_m
                FROM (
                    SELECT source,
                           CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                               AS total_tokens,
                           CAST(CASE WHEN source = 'src0' THEN 5
                                     WHEN source = 'src1' THEN 3
                                     ELSE 1 END AS BIGINT) AS weight
                    FROM documents GROUP BY source
                )
            )
            UNION ALL
            SELECT 'chunk', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(len(string_split(chunk_text, ' ')) AS BIGINT),
                   chunk_no, chunk_no * 24 AS bin_offset,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   md5(chunk_text)
            FROM (
                SELECT doc_id,
                       CAST(i AS BIGINT) AS chunk_no,
                       array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ')
                           AS chunk_text
                FROM (
                    SELECT doc_id, string_split(text, ' ') AS toks,
                           unnest(range(0,
                               CASE WHEN len(string_split(text, ' ')) <= 32 THEN 1
                                    ELSE (len(string_split(text, ' ')) - 32 + 23) // 24 + 1
                               END)) AS i
                    FROM documents WHERE text IS NOT NULL
                )
            )
            UNION ALL
            SELECT 'shuffle', doc_id, lang, source,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   row_number() OVER (ORDER BY hv, doc_id) - 1 AS rk,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
            FROM (
                SELECT doc_id, lang, source,
                       CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)),
                                           1, 15) AS BIGINT) AS hv
                FROM documents
            )
            UNION ALL
            SELECT 'split', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), source,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   b AS rk, CAST(NULL AS BIGINT),
                   CAST(count(*) AS BIGINT) AS n_docs, CAST(NULL AS BIGINT),
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val' ELSE 'test' END AS chunk_fp
            FROM (
                SELECT source,
                       CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 100
                           AS b
                FROM documents
            ) GROUP BY source, b
            UNION ALL
            SELECT 'budget', doc_id, lang, source,
                   CAST(n_chars AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), cum AS weight, CAST(NULL AS VARCHAR)
            FROM (
                SELECT doc_id, lang, source, n_chars,
                       sum(CAST(n_chars AS BIGINT)) OVER (
                           ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM documents
            ) WHERE cum <= 60000
        """ + _dsir_oracle_branch() + """
        ) """ + _priority_oracle_branch(),
        "q35_asof_last_order": """
            WITH orders_d AS (
                SELECT o_orderkey, o_custkey AS user_id, o_orderdate, o_totalprice
                FROM orders
                QUALIFY row_number() OVER (
                    PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC
                ) = 1
            ), per_date AS (
                SELECT o_orderdate AS d, count(*) AS c FROM orders GROUP BY 1
            ), tot AS (
                SELECT count(*) AS n_orders,
                       count(DISTINCT o_orderdate) AS n_dates
                FROM orders
            ), iv AS (
                SELECT CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT)
                           AS promo_start_day,
                       CAST(datediff('day', DATE '1970-01-01', d) + 3 AS BIGINT)
                           AS promo_end_day,
                       CAST(c AS BIGINT) AS promo_orders
                FROM per_date, tot WHERE c * n_dates > 2 * n_orders
            )
            SELECT 'asof' AS kind, e.event_id, e.user_id, e.ts,
                   o.o_orderkey, o.o_orderdate, o.o_totalprice,
                   CAST(NULL AS BIGINT) AS promo_start_day,
                   CAST(NULL AS BIGINT) AS promo_end_day,
                   CAST(NULL AS BIGINT) AS promo_orders
            FROM (SELECT event_id, user_id, ts FROM events) e
            ASOF LEFT JOIN orders_d o
              ON e.user_id = o.user_id AND o.o_orderdate <= e.ts
            UNION ALL
            SELECT 'interval', e.event_id, e.user_id, e.ts,
                   CAST(NULL AS BIGINT), CAST(NULL AS DATE),
                   CAST(NULL AS DOUBLE),
                   iv.promo_start_day, iv.promo_end_day, iv.promo_orders
            FROM (SELECT event_id, user_id, ts,
                         CAST(datediff('day', DATE '1970-01-01',
                                       CAST(ts AS DATE)) AS BIGINT) AS p
                  FROM events) e
            JOIN iv ON e.p >= iv.promo_start_day AND e.p < iv.promo_end_day
        """,
        "q36_clicks_before_purchase": """
            WITH p AS (
                SELECT event_id AS purchase_id, user_id, ts AS p_ts
                FROM events WHERE event_type = 'purchase'
            ), c AS (
                SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
            )
            SELECT 'pairs' AS kind, purchase_id, p.user_id, p_ts,
                   count(c_ts) AS clicks_last_hour,
                   CAST(NULL AS VARCHAR) AS from_type,
                   CAST(NULL AS VARCHAR) AS to_type,
                   CAST(NULL AS BIGINT) AS n_transitions,
                   CAST(NULL AS BIGINT) AS prob_x1e6,
                   CAST(NULL AS BIGINT) AS first_item,
                   CAST(NULL AS BIGINT) AS last_item,
                   CAST(NULL AS BIGINT) AS n_touches
            FROM p LEFT JOIN c
              ON p.user_id = c.user_id
             AND c.c_ts >= p.p_ts - INTERVAL '1 hour'
             AND c.c_ts < p.p_ts
            GROUP BY 2, 3, 4
            UNION ALL
            SELECT 'transition', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
                   from_type, to_type,
                   n_transitions,
                   (n_transitions * CAST(1000000 AS BIGINT))
                       // sum(n_transitions) OVER (PARTITION BY from_type)
                       AS prob_x1e6,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT)
            FROM (
                SELECT from_type, to_type, count(*) AS n_transitions
                FROM (
                    SELECT event_type AS from_type,
                           lead(event_type) OVER (
                               PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS to_type
                    FROM events
                )
                WHERE to_type IS NOT NULL
                GROUP BY 1, 2
            )
            UNION ALL
            -- attribution: first/last touch by (t_ts, t_id) total
            -- order — row_number mirror of the Spark struct min/max
            SELECT 'attribution', purchase_id, user_id, p_ts,
                   CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   max(CASE WHEN rn_first = 1 THEN item END) AS first_item,
                   max(CASE WHEN rn_last = 1 THEN item END) AS last_item,
                   count(t_id) AS n_touches
            FROM (
                SELECT p.purchase_id, p.user_id, p.p_ts, t.item, t.t_id,
                       row_number() OVER (
                           PARTITION BY p.purchase_id
                           ORDER BY t.t_ts ASC NULLS LAST,
                                    t.t_id ASC NULLS LAST) AS rn_first,
                       row_number() OVER (
                           PARTITION BY p.purchase_id
                           ORDER BY t.t_ts DESC NULLS LAST,
                                    t.t_id DESC NULLS LAST) AS rn_last
                FROM (
                    SELECT event_id AS purchase_id, user_id, ts AS p_ts
                    FROM events WHERE event_type = 'purchase'
                ) p
                LEFT JOIN (
                    SELECT user_id AS t_user, ts AS t_ts,
                           event_id AS t_id,
                           CAST(props->>'$.k' AS BIGINT) AS item
                    FROM events WHERE event_type IN ('click', 'view')
                ) t
                  ON p.user_id = t.t_user
                 AND t.t_ts < p.p_ts
                 AND t.t_ts >= p.p_ts - INTERVAL '2 hours'
            )
            GROUP BY 2, 3, 4
        """,
        "q37_dq_report": """
            WITH base AS (
                SELECT count(*) AS n_rows,
                       sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v1,
                       sum(CASE WHEN NOT (l_quantity > 0) OR l_quantity IS NULL
                                THEN 1 ELSE 0 END) AS v2,
                       sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
                                  OR l_discount IS NULL THEN 1 ELSE 0 END) AS v3,
                       sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v4,
                       sum(CASE WHEN NOT regexp_matches(l_returnflag, '^[ANR]$')
                                  OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS v5
                FROM lineitem
            )
            SELECT 'dq_rule' AS kind, rule, n_rows, n_violations,
                   CAST(n_rows - n_violations AS DOUBLE) / n_rows AS pass_rate
            FROM (
                SELECT 'l_orderkey_not_null' AS rule, n_rows, CAST(v1 AS BIGINT) AS n_violations FROM base
                UNION ALL SELECT 'l_quantity_positive', n_rows, CAST(v2 AS BIGINT) FROM base
                UNION ALL SELECT 'l_discount_between_0.0_0.1', n_rows, CAST(v3 AS BIGINT) FROM base
                UNION ALL SELECT 'l_shipdate_not_null', n_rows, CAST(v4 AS BIGINT) FROM base
                UNION ALL SELECT 'returnflag_valid', n_rows, CAST(v5 AS BIGINT) FROM base
            )
            UNION ALL
            -- lsh_overflow: star-mode pairing accounting over documents
            -- bucketed by doc_id % 7, hot_cap 16. Closed-form per
            -- bucket of size n: emitted = n - 1 (the star),
            -- suppressed = n(n-1)/2 - (n-1), pass_rate = emitted /
            -- all-pairs. The Spark side computes these from the actual
            -- bucket_overflow_stats operator - divergence anywhere in
            -- its accounting flips the hash red.
            SELECT 'lsh_overflow' AS kind,
                   'bucket_' || CAST(bucket AS VARCHAR) AS rule,
                   sz AS n_rows,
                   CAST(sz * (sz - 1) // 2 - (sz - 1) AS BIGINT) AS n_violations,
                   CAST(sz - 1 AS DOUBLE) / (sz * (sz - 1) // 2) AS pass_rate
            FROM (
                SELECT doc_id % 7 AS bucket, count(*) AS sz
                FROM documents GROUP BY 1 HAVING count(*) > 16
            )
            UNION ALL
        """
        + _pii_oracle_sql()
        + _dictionary_oracle_branch()
        + """
            UNION ALL
            -- profile: ANALYZE-style exact column stats over customer
            SELECT 'profile' AS kind, 'col_' || col AS rule,
                   n_rows, n_nulls AS n_violations,
                   CAST(n_distinct AS DOUBLE) / n_rows AS pass_rate
            FROM (
                SELECT 'c_custkey' AS col, count(*) AS n_rows,
                       count(*) - count(c_custkey) AS n_nulls,
                       count(DISTINCT c_custkey) AS n_distinct
                FROM customer
                UNION ALL
                SELECT 'c_name', count(*), count(*) - count(c_name),
                       count(DISTINCT c_name) FROM customer
                UNION ALL
                SELECT 'c_nationkey', count(*),
                       count(*) - count(c_nationkey),
                       count(DISTINCT c_nationkey) FROM customer
                UNION ALL
                SELECT 'c_mktsegment', count(*),
                       count(*) - count(c_mktsegment),
                       count(DISTINCT c_mktsegment) FROM customer
            )
            UNION ALL
            -- repetition: Gopher top-n-gram rules (text.repetition_report)
            -- most-common n-gram deterministic: count DESC, longest
            -- gram, lexicographic; threshold compare cross-multiplied
            SELECT 'repetition' AS kind,
                   'rep_top' || CAST(n AS VARCHAR) || 'gram' AS rule,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(fail) AS BIGINT) AS n_violations,
                   CAST(count(*) - sum(fail) AS DOUBLE) / count(*) AS pass_rate
            FROM (
                SELECT doc_id, n,
                       CASE WHEN t[1] * t[2] * 100 >
                                 (CASE n WHEN 2 THEN 20 WHEN 3 THEN 18
                                         ELSE 16 END) * n_chars
                            THEN 1 ELSE 0 END AS fail
                FROM (
                    SELECT doc_id, n, n_chars,
                           max(ROW(c, length(gram))) AS t
                    FROM (
                        SELECT doc_id, n_chars, n, gram, count(*) AS c
                        FROM (
                            SELECT doc_id, n_chars, n,
                                   array_to_string(
                                       list_slice(toks, i, i + n - 1), ' '
                                   ) AS gram
                            FROM (
                                SELECT doc_id, n_chars, toks, n,
                                       unnest(range(1, len(toks) - n + 2)) AS i
                                FROM (
                                    SELECT doc_id, length(text) AS n_chars,
                                           string_split(text, ' ') AS toks,
                                           unnest([2, 3, 4]) AS n
                                    FROM documents WHERE text IS NOT NULL
                                )
                                WHERE len(toks) >= n
                            )
                        )
                        GROUP BY 1, 2, 3, 4
                    )
                    GROUP BY 1, 2, 3
                )
            )
            GROUP BY n
        """,
        "q38_embedding_neardup": _neardup_oracle_sql(),
        "q39_ivf_ann": f"""
            WITH v AS (
                SELECT vec_id, label, {_qv_sql('embedding')} AS vec FROM embeddings
            ), scored AS (
                SELECT v.vec_id, v.label, v.vec, c.centroid_id, c.c_vec,
                       {_cos_sql('v.vec', 'c.c_vec')} AS ccos
                FROM v CROSS JOIN (
                    SELECT vec_id AS centroid_id, vec AS c_vec FROM v WHERE vec_id < 8
                ) c
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC
                ) AS crn
                FROM scored
            ), assigned AS (
                SELECT vec_id AS neighbor_id, label AS neighbor_label,
                       vec AS n_vec, centroid_id
                FROM ranked WHERE crn = 1
            ), probes AS (
                SELECT vec_id AS query_id, vec AS q_vec, centroid_id
                FROM ranked WHERE vec_id < 10 AND crn <= 2
            ), pairs AS (
                SELECT query_id, neighbor_id, neighbor_label,
                       {_cos_sql('q_vec', 'n_vec')} AS cosine
                FROM probes JOIN assigned USING (centroid_id)
                WHERE query_id != neighbor_id
            ),
            {_PQ_CTES},
            {_SQ8_CTES}
            SELECT 'ivf' AS kind, query_id, neighbor_id, neighbor_label,
                   cosine, CAST(rank AS INT) AS rank,
                   CAST(NULL AS BIGINT) AS pq_code,
                   CAST(NULL AS BIGINT) AS adc_d2,
                   CAST(NULL AS VARCHAR) AS sq_code_hash,
                   CAST(NULL AS BIGINT) AS sq_d2
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
                ) AS rank
                FROM pairs
            ) WHERE rank <= 5
            UNION ALL {_PQ_CODE_SELECT}
            UNION ALL {_PQ_TOPK_SELECT}
            UNION ALL {_SQ8_CODE_SELECT}
            UNION ALL {_SQ8_TOPK_SELECT}
        """,
        "q40_percentile_stats": f"""
            SELECT 'exact' AS kind, l_returnflag, l_linestatus,
                   quantile_cont(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT),
                                 0.5) / 100.0 AS median_price,
                   CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / count(*) / 100.0 AS avg_price,
                   CAST(min(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / 100.0 AS min_price,
                   CAST(max(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / 100.0 AS max_price,
                   count(*) AS n_items,
                   CAST(NULL AS BIGINT) AS q_pct,
                   CAST(NULL AS BIGINT) AS dd_bucket,
                   CAST(NULL AS BIGINT) AS dd_rep_cents
            FROM lineitem
            GROUP BY 1, 2, 3
            {_ddsketch_oracle_branch()}
        """,
        "q41_grouping_sets": """
            SELECT CAST(year(o_orderdate) AS INT) AS year,
                   c_mktsegment AS segment,
                   CAST(grouping(year(o_orderdate)) AS INT) AS g_year,
                   CAST(grouping(c_mktsegment) AS INT) AS g_segment,
                   CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / 100.0 AS total_spend
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY GROUPING SETS ((year(o_orderdate), c_mktsegment),
                                    (year(o_orderdate)), ())
        """,
        "q42_window_surface": """
            SELECT o_orderpriority, o_orderkey, o_custkey, o_totalprice, o_orderdate,
                   CAST(row_number() OVER w AS INT) AS rn,
                   CAST(dense_rank() OVER w AS INT) AS drank,
                   CAST(ntile(4) OVER w AS INT) AS quartile,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume,
                   CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) OVER w7
                        AS DOUBLE) / 100.0 AS spend_7d
            FROM orders
            WHERE year(o_orderdate) = 1995
            WINDOW w AS (
                PARTITION BY o_orderpriority
                ORDER BY CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) DESC,
                         o_orderkey ASC
            ), w7 AS (
                PARTITION BY o_custkey ORDER BY o_orderdate
                RANGE BETWEEN INTERVAL '6 days' PRECEDING AND CURRENT ROW
            )
        """,
        "q43_jaccard_clusters": """
            WITH RECURSIVE t AS (
                SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
                FROM documents
            ), p AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM t a JOIN t b ON a.doc_id < b.doc_id
                WHERE a.doc_id < 50
                  AND len(list_intersect(a.tset, b.tset)) * 100
                      >= (len(a.tset) + len(b.tset)
                          - len(list_intersect(a.tset, b.tset))) * 30
            ), edges AS (
                SELECT a_id AS s, b_id AS d FROM p
                UNION ALL
                SELECT b_id, a_id FROM p
            ), nodes AS (SELECT DISTINCT s AS node FROM edges),
            walk(node, label) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
            )
            SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
            FROM walk GROUP BY node
        """,
        "q44_winnowing": f"""
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), p AS (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) - 3 + 2)) AS pos
                FROM t
            ), g AS (
                SELECT doc_id, pos,
                       CAST('0x' || substr(md5('0:' ||
                           array_to_string(toks[pos:pos+2], ' ')), 1, 15)
                           AS BIGINT) AS h
                FROM p
            ), wmin AS (
                SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                           AS fp
                FROM g
            ), d AS (SELECT DISTINCT doc_id, fp FROM wmin)
            SELECT 'winnow' AS kind, doc_id,
                   array_to_string(list_sort(array_agg(fp)), ',') AS fps,
                   count(*) AS n_fps,
                   CAST(NULL AS BIGINT) AS b_id,
                   CAST(NULL AS BIGINT) AS n_shared_fps,
                   CAST(NULL AS BIGINT) AS n_terms,
                   CAST(NULL AS BIGINT) AS score_x1000,
                   CAST(NULL AS BIGINT) AS rank,
                   CAST(NULL AS VARCHAR) AS term,
                   CAST(NULL AS BIGINT) AS tf
            FROM d GROUP BY doc_id
            UNION ALL
            SELECT 'winnow_pair', a.doc_id, CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), b.doc_id, count(*),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
            FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
            WHERE a.doc_id < 50
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
            UNION ALL
            SELECT 'bm25', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   n_terms, score_x1000, rank,
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
            FROM ({search.bm25_oracle_sql(_BM25_TERMS, k=10)})
            UNION ALL
            SELECT 'posting', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   term, count(*) AS tf
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            )
            WHERE term <> ''
            GROUP BY doc_id, term
        """,
        "q45_kmeans_cells": _kmeans_oracle_sql(),
        "q46_ann_multiprobe": _ann_multi_oracle_sql(),
        "q47_pagerank": _pagerank_oracle_sql(),
        "q48_incremental_neardup": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), g AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, len(toks)-3+2),
                           i -> array_to_string(toks[i:i+2], ' '))) AS grams
                FROM t WHERE len(toks) >= 3
            ), sig AS (
                SELECT doc_id, grams,
                       list_transform(range(0,16), k ->
                          list_min(list_transform(grams, s ->
                             (CAST('0x'||substr(md5(s),1,15) AS BIGINT)
                              + k * (CAST('0x'||substr(md5(s),17,15) AS BIGINT)
                                     % 2147483648))
                             % 2305843009213693951))) AS sig
                FROM g
            ), banded AS (
                SELECT doc_id, b AS band,
                       md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_key
                FROM sig, (SELECT unnest(range(0,4)) AS b)
            ), cand AS (
                SELECT x.doc_id AS a_id, y.doc_id AS b_id
                FROM banded x JOIN banded y
                  ON x.band = y.band AND x.band_key = y.band_key
                 AND x.doc_id < y.doc_id
                WHERE y.doc_id >= 400
                GROUP BY 1,2
            ), pairs AS (
                SELECT c.a_id, c.b_id,
                       CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                         / (len(ga.grams) + len(gb.grams)
                            - len(list_intersect(ga.grams, gb.grams))) AS jaccard
                FROM cand c
                JOIN g ga ON ga.doc_id = c.a_id
                JOIN g gb ON gb.doc_id = c.b_id
                WHERE len(list_intersect(ga.grams, gb.grams)) * 100
                      >= (len(ga.grams) + len(gb.grams)
                          - len(list_intersect(ga.grams, gb.grams))) * 50
            ), best AS (
                SELECT b_id, a_id, jaccard,
                       row_number() OVER (PARTITION BY b_id
                                          ORDER BY jaccard DESC, a_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY b_id) AS n
                FROM pairs
            )
            SELECT d.doc_id,
                   CAST(COALESCE(best.n, 0) AS BIGINT) AS n_dup_partners,
                   best.a_id AS best_match_id,
                   best.jaccard AS best_jaccard,
                   best.b_id IS NULL AS admitted
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
            LEFT JOIN best ON best.b_id = d.doc_id AND best.rn = 1
        """,
        "q49_edit_distance_pairs": """
            WITH t AS (
                SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
                FROM documents
            ), h AS (
                SELECT doc_id,
                       list_transform(tset,
                           s -> CAST('0x'||substr(md5('0:'||s),1,15) AS BIGINT))
                           AS hs
                FROM t
            ), sh AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(range(0,32), i ->
                          CASE WHEN list_sum(list_transform(hs,
                                 x -> CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                               THEN (CAST(1 AS BIGINT) << i)
                               ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
                FROM h
            ), banded AS (
                SELECT doc_id, b AS band, (simhash >> (b*16)) & 65535 AS code
                FROM sh, (SELECT unnest(range(0,2)) AS b)
            ), cand AS (
                SELECT x.doc_id AS a_id, y.doc_id AS b_id
                FROM banded x JOIN banded y
                  ON x.band = y.band AND x.code = y.code
                 AND x.doc_id < y.doc_id
                WHERE x.doc_id < 50
                GROUP BY 1,2
            )
            SELECT c.a_id, c.b_id,
                   CAST(levenshtein(da.text, db.text) AS INT) AS edit_distance,
                   CAST(GREATEST(length(da.text), length(db.text)) AS INT) AS max_len
            FROM cand c
            JOIN documents da ON da.doc_id = c.a_id
            JOIN documents db ON db.doc_id = c.b_id
            WHERE levenshtein(da.text, db.text) * 100
                  <= GREATEST(length(da.text), length(db.text)) * 35
        """,
        # q50: the Spark side ENCODES real PNG / baseline-JPEG /
        # progressive-JPEG / WAV / MJPEG-AVI payloads, sniffs the magic
        # bytes (RIFF subtype dispatch), and DECODES them back; the
        # oracle predicts every manifest value arithmetically from the
        # synthesis parameters (images and video frames are constant
        # 8x8 gray; the image container cycles PNG / baseline JPEG /
        # progressive JPEG by d4 % 3; WAV frames = 1600 + 16*d1 at
        # 16 kHz, so duration_ms = 100 + d1; AVI frames = 2 + d3 % 6 —
        # d1/d3/d4 md5 bytes of the text). A mismatch anywhere in any
        # codec round-trip (incl. the progressive scan paths), the
        # sniffer, or the AVI chunk walker turns the row red. The
        # dhash column additionally gates the perceptual-hash kernel
        # over REAL decoded pixels on the lossless (PNG) subset —
        # _dhash56_oracle_sql renders the predicted hash from digest
        # arithmetic; lossy-container rows mask to NULL (their dhash
        # is pytest-pinned, JPEG decode being a real DCT round-trip).
        "q50_multimodal_features": f"""
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   CASE WHEN CAST('0x' || substr(md5(coalesce(text, '')), 9, 2)
                                  AS INT) % 3 = 0
                        THEN 'image/png' ELSE 'image/jpeg' END AS sniffed_mime,
                   CAST(8 AS INT) AS width,
                   CAST(8 AS INT) AS height,
                   CAST(1 AS INT) AS channels,
                   CAST(NULL AS INT) AS duration_ms,
                   CAST(NULL AS INT) AS n_frames,
                   CASE WHEN CAST('0x' || substr(md5(coalesce(text, '')), 9, 2)
                                  AS INT) % 3 = 0
                        THEN {_dhash56_oracle_sql()}
                        ELSE CAST(NULL AS BIGINT) END AS dhash
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'audio',
                   'audio/wav',
                   CAST(NULL AS INT),
                   CAST(NULL AS INT),
                   CAST(1 + CAST('0x' || substr(md5(coalesce(text, '')), 7, 2)
                                 AS INT) % 2 AS INT),
                   CAST(100 + CAST('0x' || substr(md5(coalesce(text, '')), 3, 2)
                                   AS INT) AS INT),
                   CAST(1600 + 16 * CAST('0x' || substr(md5(coalesce(text, '')), 3, 2)
                                         AS INT) AS INT),
                   CAST(NULL AS BIGINT)
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'video',
                   'video/avi',
                   CAST(8 AS INT),
                   CAST(8 AS INT),
                   CAST(1 AS INT),
                   CAST(NULL AS INT),
                   CAST(2 + CAST('0x' || substr(md5(coalesce(text, '')), 7, 2)
                                 AS INT) % 6 AS INT),
                   CAST(NULL AS BIGINT)
            FROM documents
        """,
    }
