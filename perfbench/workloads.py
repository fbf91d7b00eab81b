"""The benchmark's three workloads.

Each workload generates its inputs from the seed, runs one untimed
warm-up pass (part of set-up), then timed passes of calls into the
engine's public functions, and finally checks the outputs outside the
timed region. A pass is a list of call records (see ``tracing.Tracer``).

- ``sql_dashboard``: gold-layer / star-schema ``queries()`` entries.
- ``corpus_curation``: six ``operators.corpus_cache`` lines built cold,
  then corpus ``queries()`` entries.
- ``ingest_merge``: rounds of bronze -> silver -> gold commits, a CDC
  MERGE through the streaming sink, a SQL DELETE, a gold read and
  point lookups on the snapshot tables.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import traceback

import gen

SQL_QUERIES = [
    "q01_sales_summary",
    "q04_monthly_sales_mom",
    "q12_distinct_counts",
    "q14_events_json",
    "q23_window_counts",
    "q29_sql_pricing_summary",
    "q41_grouping_sets",
]

CORPUS_QUERIES = [
    "q18_doc_fingerprints",
    "q49_edit_distance_pairs",
]


def cache_lines(em, spark, sf: str) -> list[tuple[str, object]]:
    """The text and vector ``operators.corpus_cache`` lines, in dependency
    order (``banded`` reads ``sigs``). The three synthesized-media lines
    are left out: a run has no time for them (see README)."""
    return [
        ("pairs", lambda: em._shared_jaccard_pairs(spark, sf)),
        ("sigs", lambda: em._shared_minhash_sigs(spark, sf)),
        ("banded", lambda: em._shared_banded(spark, sf)),
        ("simhash", lambda: em._shared_simhash(spark, sf)),
        ("vec", lambda: em._shared_vec_prep(spark, sf)),
        ("dsir", lambda: em._shared_dsir_buckets(spark, sf)),
    ]


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a query result: the oracle
    normalization (sorted columns and rows, unified datetime unit), then
    a hash over column names, dtypes and row hashes."""
    import pandas as pd
    from tests.oracle import normalize

    n = normalize(pdf)
    h = hashlib.sha1(repr((list(n.columns), [str(t) for t in n.dtypes], len(n))).encode())
    h.update(pd.util.hash_pandas_object(n, index=False).values.tobytes())
    return h.hexdigest()


def oracle_mismatch(got, want) -> str | None:
    """None when ``got`` (Spark) equals ``want`` (DuckDB) under the
    repository's oracle rules, else the reason."""
    import pandas as pd
    from tests.oracle import _dtype_class, normalize

    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    bad = [c for c in g.columns if _dtype_class(g[c].dtype) != _dtype_class(w[c].dtype)]
    if bad:
        return f"dtype class differs: {bad}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0][:200]
    return None


class Workload:
    """Shared call loop: ``self.call`` times one call, records a failure
    instead of raising, and keeps the record list of the current pass."""

    # None: the timed passes repeat the same work until --seconds have
    # elapsed; a number: each pass adds state, so a run does exactly
    # this many
    rounds: int | None = None

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.failures: list[str] = []
        self.attempted = 0
        self.recs: list[dict] = []

    def call(self, name: str, fn, kind: str = "call"):
        self.attempted += 1
        try:
            out, rec = self.tracer.call(name, fn, kind)
        except Exception:
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            self.recs.append({"name": name, "kind": kind, "wall_s": float("nan"), "failed": True})
            return None
        self.recs.append(rec)
        return out

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def start(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def run_pass(self, i: int) -> list[dict]:
        self.recs = []
        self.pass_body(i)
        return self.recs

    def wrap(self, tracer) -> None:
        """Span the engine's storage-layer entry points (every workload,
        so a read workload that starts committing shows)."""
        from e_commerce_lakehouse_spark.plans import ivm
        from e_commerce_lakehouse_spark.sources import deletes
        from e_commerce_lakehouse_spark.sources import snapshots as S

        def refresh_counters(args, kwargs, out):
            fr = out.get("files_read") if isinstance(out, dict) else None
            return {"files_read": len(fr) if fr else 0}

        def plan_counters(args, kwargs, out):
            return {"pruned": len(out.get("pruned", [])), "candidates": out.get("candidates", 0)}

        tracer.wrap(ivm, "commit_fact_increment", "plans.ivm.commit_fact_increment")
        tracer.wrap(ivm, "refresh_gold_incremental", "plans.ivm.refresh_gold_incremental",
                    refresh_counters)
        tracer.wrap(S, "write_snapshot", "sources.snapshots.write_snapshot")
        tracer.wrap(S, "read_snapshot", "sources.snapshots.read_snapshot")
        tracer.wrap(S, "plan_scan", "sources.snapshots.plan_scan", plan_counters)
        tracer.wrap(deletes, "merge_upsert_dv", "sources.deletes.merge_upsert_dv")
        tracer.wrap(deletes, "delete_where_dv", "sources.deletes.delete_where_dv")

    def finish(self) -> None:
        """Untimed-pass work after the loop (ingest: maintenance)."""

    def layer_metrics(self, untraced: list[dict]) -> dict[str, list[float]]:
        """Workload-specific per-layer samples from the untraced passes
        (``{"n", "i", "traced", "recs"}`` dicts); the caller takes medians."""
        return {}


class QueryWorkload(Workload):
    """A list of ``queries()`` entries (and optionally the corpus cache
    lines, cold-built at the start of every pass), in a seeded order per
    pass. Every result is collected to the driver inside the timed call;
    its digest is compared, outside the timed region, with the warm-up
    result, which is itself checked against the DuckDB oracle."""

    def __init__(self, work, seed, small, corrupt, queries, with_cache: bool):
        super().__init__(work, seed)
        self.queries = list(queries)
        self.with_cache = with_cache
        self.scale = 0.001 if small else 0.01
        self.corrupt = corrupt
        self.sf = os.path.join(work, "sf")
        self.expected: dict[str, str] = {}
        self.warm: dict = {}

    def make_inputs(self) -> None:
        gen.write_star(self.sf, self.seed, sf=self.scale)

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        import __spark_entry__ as em
        from e_commerce_lakehouse_spark.operators import corpus_cache

        self.cache = corpus_cache
        self.fns = em.queries()
        self.lines = cache_lines(em, spark, self.sf) if self.with_cache else []

    def _release(self) -> None:
        """Drop checkpoint blocks a query left behind (not the cache
        lines), so one call's leftovers never slow the next."""
        from e_commerce_lakehouse_spark.operators.parallelize import (
            _persistent_rdd_ids,
            release_rdds,
        )

        self.spark.catalog.clearCache()
        release_rdds(
            self.spark,
            _persistent_rdd_ids(self.spark) - self.cache.cached_rdd_ids(self.spark),
        )

    def pass_body(self, i: int) -> None:
        if self.with_cache:
            self.cache.clear(self.spark)
            for line, build in self.lines:
                self.call(f"operators.corpus_cache.{line}", build, "cache_line")
        order = list(self.queries)
        random.Random(self.seed * 7919 + i).shuffle(order)
        for q in order:
            fn = self.fns[q]
            pdf = self.call(f"entry.{q}", lambda: fn(self.spark, self.sf).toPandas(), "query")
            self._release()
            if pdf is None:
                continue
            if q == self.corrupt:  # test hook: the checks must catch this
                pdf = pdf.iloc[1:]
            d = frame_digest(pdf)
            if i < 0:
                self.warm[q], self.expected[q] = pdf, d
            elif d != self.expected.get(q):
                self.fail(f"{q}: pass {i} result differs from the warm-up result")

    def check(self) -> int:
        """Warm-up results against DuckDB; returns the number of checks."""
        import __spark_entry__ as em
        from tests.oracle import duckdb_connection

        con = duckdb_connection(self.sf)
        sql = em.oracle_sql()
        try:
            for q in self.queries:
                if q not in self.warm:
                    self.fail(f"{q}: no warm-up result")
                    continue
                why = oracle_mismatch(self.warm[q], con.execute(sql[q]).fetchdf())
                if why:
                    self.fail(f"{q}: differs from the DuckDB oracle: {why}")
        finally:
            con.close()
        return len(self.queries)

    def layer_metrics(self, untraced):
        builds = [
            sum(r["wall_s"] for r in p["recs"] if r["kind"] == "cache_line") for p in untraced
        ]
        return {"index_build_s": builds}


class IngestMerge(Workload):
    """Bronze -> silver -> gold rounds with CDC, DML, gold reads and point
    lookups; maintenance at the end. The round is the pass: round ``i``
    writes the ``i + 2``-th source increment (the warm-up round writes
    the first), and the bronze scan re-reads every increment, so rounds
    grow heavier and a run does a fixed number of them."""

    LOOKUPS = 5
    CDC_ROWS = 250
    DML_KEYS = 25

    def __init__(self, work, seed, small=False, corrupt=None):
        super().__init__(work, seed)
        self.rounds = 1 if small else 3
        self.csv = os.path.join(work, "csv")
        self.wh = os.path.join(work, "wh")
        self.users_root = os.path.join(self.wh, "crm", "users")
        k = 10 if small else 1
        self.src = gen.EcomSource(
            self.csv, seed, n_products=10_000 // k, n_users=5_000 // k,
            orders_per_round=1_000 // k, reviews_per_round=1_500 // k,
        )
        self.cdc_rows = self.CDC_ROWS // k
        self.model: dict[int, str] = {}
        self.round_info: dict[int, dict] = {}

    def make_inputs(self) -> None:
        self.src.write_base()

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        from e_commerce_lakehouse_spark import schemas
        from e_commerce_lakehouse_spark.plans import medallion
        from e_commerce_lakehouse_spark.sources import deletes
        from e_commerce_lakehouse_spark.sources import snapshots as S
        from e_commerce_lakehouse_spark.sources.csv import read_csv
        from e_commerce_lakehouse_spark.streaming import sinks
        from pyspark.sql.types import StructField, StructType

        users = medallion.dim_users(
            read_csv(spark, os.path.join(self.csv, "users.csv"), schemas.USERS)
        )
        S.write_snapshot(users, self.users_root)
        deletes.set_delete_mode(self.users_root, "merge-on-read")
        # all-nullable copy: CDC and key-only rows leave columns NULL
        self.user_schema = StructType(
            [StructField(f.name, f.dataType, True) for f in users.schema.fields]
        )
        for r in users.select("user_id", "email").collect():
            self.model[r.user_id] = r.email
        self.sink = sinks.foreach_batch_merge_snapshot(self.users_root, ["user_id"])

    # -- storage accounting from outside -------------------------------
    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for d, _, fs in os.walk(self.wh):
            for f in fs:
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    @staticmethod
    def _written(before: dict, after: dict, suffix: str | None = None) -> int:
        return sum(
            s for p, (s, m) in after.items()
            if before.get(p) != (s, m) and (suffix is None or p.endswith(suffix))
        )

    def _tables(self) -> list[str]:
        """Snapshot-table roots under the warehouse (a ``_manifests`` dir
        marks one)."""
        roots = []
        for d, dirs, _ in os.walk(self.wh):
            if "_manifests" in dirs:
                roots.append(d)
                dirs[:] = []
        return roots

    def _commits(self) -> int:
        from e_commerce_lakehouse_spark.sources import snapshots as S

        return sum(S.table_stats(d)["snapshot_id"] for d in self._tables())

    def pass_body(self, i: int) -> None:
        from e_commerce_lakehouse_spark.plans import ivm
        from e_commerce_lakehouse_spark.sources import snapshots as S
        from e_commerce_lakehouse_spark.sources import sql_dml

        spark = self.spark
        # inputs for this round (untimed): CSV increment, CDC batch, DML
        counts = self.src.write_round()
        user_bytes = sum(
            os.path.getsize(self.src._path(t, self.src.rounds_written))
            for t in ("orders", "order_items", "reviews")
        )
        cdc = self.src.user_cdc_batch(self.cdc_rows)
        batch = spark.createDataFrame(cdc, self.user_schema)
        live = sorted(self.model)
        lo = live[self.rng.randrange(len(live) - self.DML_KEYS)]
        dml_ids = [u for u in live if lo <= u][: self.DML_KEYS]
        delete_sql = (f"DELETE FROM users WHERE user_id >= {dml_ids[0]} "
                      f"AND user_id <= {dml_ids[-1]}")
        known = list(self.src.items_by_order)
        keys = [known[self.rng.randrange(len(known))] for _ in range(self.LOOKUPS)]
        fact_root = os.path.join(self.wh, "silver", "fact_purchase_event")
        gold_root = os.path.join(self.wh, "gold", "sales_summary")
        before, commits0 = self._files(), self._commits()

        self.call(
            "plans.ivm.run_incremental_pipeline",
            lambda: ivm.run_incremental_pipeline(spark, self.csv, self.wh),
            "pipeline",
        )
        self.call("streaming.sinks.merge_batch", lambda: self.sink(batch, i + 1), "merge")
        self.call(
            "sources.sql_dml.execute_dml",
            lambda: sql_dml.execute_dml(spark, delete_sql, {"users": self.users_root}),
            "dml",
        )
        self.call(
            "plans.ivm.read_sales_summary",
            lambda: ivm.read_sales_summary(
                spark, gold_root,
                S.read_snapshot(spark, os.path.join(self.wh, "silver", "dim_products")),
            ).toPandas(),
            "gold_read",
        )
        for k in keys:
            rows = self.call(
                "sources.snapshots.scan_snapshot",
                lambda k=k: S.scan_snapshot(spark, fact_root, [("order_id", "=", k)]).collect(),
                "lookup",
            )
            if rows is not None and len(rows) != self.src.items_by_order[k]:
                self.fail(f"lookup order_id={k}: {len(rows)} rows, want "
                          f"{self.src.items_by_order[k]}")

        # shadow model of the CRM users table (checked at the end): the
        # CDC upserts land first, then the DELETE removes the whole range
        for row in cdc:
            self.model[row[0]] = row[3]
        for u in [u for u in self.model if dml_ids[0] <= u <= dml_ids[-1]]:
            del self.model[u]
        after = self._files()
        self.round_info[i] = {
            "rows": counts["valid_items"] + counts["valid_reviews"],
            "user_bytes": user_bytes,
            "bytes_written": self._written(before, after),
            "metadata_bytes": self._written(before, after, ".json"),
            "commits": self._commits() - commits0,
        }

    def finish(self) -> None:
        from e_commerce_lakehouse_spark.sources import deletes

        self.sidecars = self.dv_sidecars()
        before = self._files()
        self.recs = []
        # purge every DV stack, compact, then expire what that superseded
        self.call("sources.deletes.maintain",
                  lambda: deletes.maintain(self.spark, self.users_root, max_dvs=0,
                                           older_than_s=0.0),
                  "maintain")
        self.maintain = dict(self.recs[0])
        after = self._files()
        self.maintain["bytes_rewritten"] = self._written(before, after, ".parquet")

    def check(self) -> int:
        """Gold == full rebuild, planted dirty rows gone, CRM table ==
        shadow model (MERGE and DELETE postconditions)."""
        from e_commerce_lakehouse_spark.plans import ivm, medallion
        from e_commerce_lakehouse_spark.sources import snapshots as S

        spark, wh = self.spark, self.wh
        silver = lambda n: S.read_snapshot(spark, os.path.join(wh, "silver", n))  # noqa: E731
        dim_p, dim_u = silver("dim_products"), silver("dim_users")
        fact, rev = silver("fact_purchase_event"), silver("fact_reviews")
        n = 0

        def same(a, b, what):
            nonlocal n
            n += 1
            why = oracle_mismatch(a.toPandas(), b.toPandas())
            if why:
                self.fail(f"{what}: {why}")

        def expect(cond, what):
            nonlocal n
            n += 1
            if not cond:
                self.fail(what)

        same(ivm.read_sales_summary(spark, os.path.join(wh, "gold", "sales_summary"), dim_p),
             medallion.sales_summary(fact, dim_p), "gold sales_summary != rebuild")
        same(ivm.read_review_summary(spark, os.path.join(wh, "gold", "review_summary"), dim_p),
             medallion.review_summary(rev, dim_p), "gold review_summary != rebuild")
        # the silver tables are small: one collect each, checked in pandas
        src = self.src
        items = fact.select("quantity").toPandas()
        expect(len(items) == src.valid_items, "silver fact rows != valid order items")
        expect((items.quantity > 0).all(), "non-positive quantity survived")
        revs = rev.select("rating", "product_id").toPandas()
        expect(len(revs) == src.valid_reviews, "silver reviews != valid reviews")
        expect(revs.rating.between(1, 5).all() and revs.product_id.notna().all(),
               "invalid review survived")
        prods = dim_p.select("product_id", "price").toPandas()
        expect(len(prods) == src.n_products, "duplicate product ids survived")
        expect(dict(zip(prods.product_id, prods.price)) == src.prices,
               "stale product version survived (price != latest)")
        users = dim_u.select("email", "first_name", "full_name").toPandas()
        expect(len(users) == src.n_users, "duplicate user ids survived")
        expect(not (users.email.str.endswith("@old.example") | (users.first_name == "Stale")).any(),
               "stale user version survived")
        expect((users.email == users.email.str.strip().str.lower()).all(),
               "unnormalized email survived")
        expect(users.full_name.fillna("").ne("").all(), "NULL full_name")
        users = S.read_snapshot(spark, self.users_root).select("user_id", "email").collect()
        expect({r.user_id: r.email for r in users} == self.model,
               "CRM users != MERGE/DELETE model")
        return n

    def layer_metrics(self, untraced):
        def walls(kind):
            return [r["wall_s"] for p in untraced for r in p["recs"] if r["kind"] == kind]

        rows = []
        for p in untraced:
            pipe = sum(r["wall_s"] for r in p["recs"] if r["kind"] == "pipeline")
            rows.append(self.round_info[p["i"]]["rows"] / pipe)
        info = [ri for i, ri in sorted(self.round_info.items()) if i >= 0]
        return {
            "ingest_rows_per_s": rows,
            "merge_s": walls("merge"),
            "gold_read_s": walls("gold_read"),
            "point_lookup_s": walls("lookup"),
            "storage.write_amp": [ri["bytes_written"] / ri["user_bytes"] for ri in info],
            "sources.snapshots.metadata_bytes_per_commit": [
                ri["metadata_bytes"] / ri["commits"] for ri in info if ri["commits"]
            ],
            "sources.deletes.maintain_s": [self.maintain["wall_s"]],
            "sources.deletes.maintain_bytes_rewritten": [self.maintain["bytes_rewritten"]],
            "sources.deletes.dv_sidecars": [self.sidecars],
            "space_amp": [self.space_amp()],
        }

    def dv_sidecars(self) -> int:
        return sum(
            1 for d in os.listdir(self.users_root)
            if os.path.isdir(os.path.join(self.users_root, d)) and "dv" in d
        )

    def space_amp(self) -> float:
        """Warehouse bytes on disk / bytes of every live table written
        once, fresh."""
        from e_commerce_lakehouse_spark.sources import snapshots as S

        fresh_dir = os.path.join(self.work, "fresh")
        on_disk = sum(s for s, _ in self._files().values())
        for d in self._tables():
            out = os.path.join(fresh_dir, os.path.relpath(d, self.wh).replace(os.sep, "_"))
            S.read_snapshot(self.spark, d).write.parquet(out)
        fresh = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(fresh_dir) for f in fs if f.endswith(".parquet")
        )
        shutil.rmtree(fresh_dir, ignore_errors=True)
        return on_disk / fresh if fresh else 0.0


WORKLOADS = {
    "sql_dashboard": lambda *a: QueryWorkload(*a, SQL_QUERIES, False),
    "corpus_curation": lambda *a: QueryWorkload(*a, CORPUS_QUERIES, True),
    "ingest_merge": IngestMerge,
}
