"""Join operators (SURVEY §2.3).

The reference uses inner equi-joins for fact builds, left joins for dim
enrichment, and an inner-on-projected-keys pseudo-semi-join
(reference: silver_clean_transform.py:72,102-106; gold_transfrom.py:61,81;
bronze_batch_load.py:83-87). The engine exposes the full Spark join
surface plus broadcast-aware helpers.

Scale notes: dimension tables (region/nation/supplier/part at low SF;
region/nation always) are broadcast so fact tables never shuffle for
enrichment. Fact-fact joins shuffle on the join key — at 100 TB,
pre-bucketing both sides on the key (``bucketBy`` at write time) removes
that shuffle entirely; AQE skew-join splits hot keys at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def semi_join(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """Keep rows of ``df`` whose key appears in ``keys`` (reference J3,
    done there as inner-join-on-projected-keys which can duplicate rows —
    left_semi is the idiomatic, duplicate-free form)."""
    return df.join(keys, on, "left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """Rows of ``df`` with no match in ``keys`` (engine surface beyond
    the reference — needed for 'users with no orders' style BI queries)."""
    return df.join(keys, on, "left_anti")


def bloom_semi_join(
    df: DataFrame,
    keys: DataFrame,
    on: str,
    m_bits: int = 16384,
    k: int = 4,
) -> DataFrame:
    """Runtime-filtered semi-join: build a Bloom filter from the key
    side (the engine's distributed bit_or build — an m_bits/8-byte
    driver artifact regardless of key cardinality), pre-filter the
    probe side with the pure-Column membership predicate BEFORE its
    shuffle, then finish with the exact left_semi join.

    The result is EXACTLY ``semi_join(df, keys, on)`` — Bloom false
    positives survive the pre-filter but die in the final join; what
    the filter buys is SHUFFLE VOLUME: only the ~selectivity fraction
    of the probe ever crosses the wire. This is the DataFrame-level
    analog of Spark's AQE runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled), but explicit,
    deterministic (md5 position spec), and usable on any frame pair —
    e.g. when the key side is a subquery AQE won't inject a filter
    for. The probe predicate is stateless Column bit math (the filter
    rides the closure as a literal), so it runs inside the scan's
    WholeStageCodegen span — plan-gated by
    tests/test_plans.py::test_bloom_semi_join_filters_before_shuffle.

    ``on`` must be a single column name; keys are matched on their
    STRING form inside the filter (exact equality still decided by the
    typed join). Eager: the build collects m_bits/64 words.

    Hash spec: this join is IDENTITY-gated (false positives die in the
    exact join), so it uses the native ``xxh64`` position spec — ~5x
    faster per probed row than the md5 spec (conv dominates md5; same
    class of measurement as the KMR xxhash64 label rewrite). The md5
    spec stays the default elsewhere because the ORACLE renders it.
    """
    from .dedup import bloom_filter_build, bloom_hit

    bloom = bloom_filter_build(
        keys.select(F.col(on).cast("string").alias("gram")),
        m_bits=m_bits,
        k=k,
        spec="xxh64",
    )
    pruned = df.filter(
        bloom_hit(F.col(on).cast("string"), bloom, m_bits=m_bits, k=k, spec="xxh64")
    )
    return semi_join(pruned, keys, on)


def supplier_geography(supplier: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Dim-enrichment chain supplier ⟕ nation ⟕ region — the reference's
    products⟕categories pattern (silver_clean_transform.py:70-79) over
    the testdata geography dims. Both dims broadcast; plan has no
    shuffle at any scale."""
    return (
        supplier
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            "s_suppkey",
            "s_name",
            "s_acctbal",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )
