"""Seeded input generators for the benchmark.

Two families, both a pure function of ``seed``:

- :func:`write_star` writes the ten parquet tables the ``queries()``
  registry reads (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), with the column types and value ranges of the
  repository's test data (TESTDATA.md, FIXTURES.md).
- :class:`EcomSource` writes the reference's six batch CSVs
  (``schemas.ECOM_TABLES``) as a base plus per-round increments, with
  dirty rows planted at counts known by construction, and hands out the
  per-round user CDC batches.

Only numpy, pyarrow and the standard library are used, so generating
inputs starts no Spark job.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Star schema + corpus tables (the ``queries()`` inputs)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "large", "new", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(days: np.ndarray, start: str) -> pa.Array:
    """Day offsets (float) from ``start`` -> timestamp[us] array."""
    base = np.datetime64(start, "us")
    us = np.round(days * 86_400_000_000).astype("int64")
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float = 0.01, n_docs: int = 500, n_vecs: int = 500) -> dict:
    """The ten ``queries()`` tables as pyarrow Tables. Row counts follow
    the test data's scale factors (lineitem = 6M * sf); the corpus tables
    keep their own sizes."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            # whole days 1995-01-01 .. 2001-08-01
            "o_orderdate": _ts(rng.integers(0, 2404, n_ord).astype(float), "1995-01-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(rng.integers(0, 2499, n_li).astype(float), "1995-01-02"),
        }
    )
    # events: sorted timestamps over January 2024, one user per ten
    # customers
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(np.sort(rng.uniform(0, 30, n_ev)), "2024-01-01"),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: random word sequences; 5% are near-duplicates (a copy of
    # an earlier document with " dup" appended), as in the test data.
    # The near-duplicate count is fixed so the dedup work is the same for
    # every seed.
    dups = set(rng.choice(np.arange(11, n_docs), n_docs // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    # embeddings: unit vectors with a weak per-label centroid
    dim = 64
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(n_vecs, dim)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_star(out_dir: str, seed: int, **kw) -> dict[str, int]:
    """Write the star tables as ``<out_dir>/<name>.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in star_tables(seed, **kw).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# ---------------------------------------------------------------------------
# Reference e-commerce batch source (load_tables.py schema) + rounds
# ---------------------------------------------------------------------------

CATEGORIES = [
    "Electronics", "Fashion", "Home", "Beauty", "Sports", "Books", "Toys",
    "Grocery", "Automotive", "Health", "Garden", "Music", "Office",
]
FIRST = ["Anna", "Binh", "Chen", "Dara", "Emil", "Fatma", "Goro", "Hana", "Ivan", "Jia"]
LAST = ["Nguyen", "Smith", "Garcia", "Kim", "Muller", "Rossi", "Sato", "Tran", "Silva", "Khan"]
CITIES = ["Hanoi", "Lyon", "Osaka", "Porto", "Quito", "Turin", "Leeds", "Busan"]
COUNTRIES = ["VN", "FR", "JP", "PT", "EC", "IT", "UK", "KR"]
WORDS = ["great", "ok", "bad", "fast", "slow", "nice", "cheap", "solid"]

_T0 = dt.datetime(2023, 1, 1)


def _fmt(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _csv_field(v) -> str:
    if v is None:
        return ""
    s = str(v)
    if any(c in s for c in ',"\n') or s != s.strip():
        return '"' + s.replace('"', '""') + '"'
    return s


def _write_csv(path: str, header: list[str], rows: list[tuple]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(",".join(header) + "\n")
        for r in rows:
            fh.write(",".join(_csv_field(v) for v in r) + "\n")


class EcomSource:
    """Base tables plus ``rounds`` increments of the reference's six batch
    tables, written under ``csv_dir/<table>.csv/part-NNN.csv`` (a Spark
    CSV directory: each round adds one file, so the bronze scan sees the
    cumulative source as the reference's watermark loader does).

    Planted dirty rows, all counted in ``self.planted``:

    - products/users: duplicate ids carrying an OLDER ``updated_at`` /
      ``created_at`` and a different value (silver keeps the latest);
    - users: untrimmed mixed-case emails and NULL first/last names;
    - order_items: non-positive quantities (silver drops them);
    - reviews: ratings outside 1-5 and NULL product ids (silver drops).

    ``self.valid_items``/``self.valid_reviews`` count the rows silver
    must keep, ``self.prices`` the latest price of every product, and
    ``self.items_by_order`` the number of valid items per order (the
    point-lookup oracle).
    """

    TABLES = ("categories", "products", "users", "orders", "order_items", "reviews")

    def __init__(
        self,
        csv_dir: str,
        seed: int,
        n_products: int = 20_000,
        n_users: int = 10_000,
        orders_per_round: int = 2_000,
        reviews_per_round: int = 3_000,
    ):
        self.csv_dir = csv_dir
        self.rng = np.random.default_rng(seed)
        self.n_products = n_products
        self.n_users = n_users
        self.orders_per_round = orders_per_round
        self.reviews_per_round = reviews_per_round
        self.rounds_written = 0
        self.next_order = 1
        self.next_item = 1
        self.next_review = 1
        self.planted: dict[str, int] = {}
        self.valid_items = 0
        self.valid_reviews = 0
        self.items_by_order: dict[int, int] = {}
        for t in self.TABLES:
            os.makedirs(os.path.join(csv_dir, f"{t}.csv"), exist_ok=True)

    def _path(self, table: str, part: int) -> str:
        return os.path.join(self.csv_dir, f"{table}.csv", f"part-{part:03d}.csv")

    def _plant(self, kind: str, n: int) -> None:
        self.planted[kind] = self.planted.get(kind, 0) + n

    def write_base(self) -> None:
        """Categories, products and users (with their dirty rows)."""
        rng = self.rng
        _write_csv(
            self._path("categories", 0),
            ["category_id", "category_name", "updated_at"],
            [(i + 1, n, _fmt(_T0)) for i, n in enumerate(CATEGORIES)],
        )
        cats = rng.integers(1, len(CATEGORIES) + 1, self.n_products)
        prices = np.round(rng.uniform(5, 2000, self.n_products), 2)
        upd = _T0 + dt.timedelta(days=30)
        products = [
            (i + 1, f"brand{c} {WORDS[i % len(WORDS)]}", int(c), f"brand{c}", float(p), _fmt(upd))
            for i, (c, p) in enumerate(zip(cats, prices))
        ]
        self.prices = {pid: p for pid, _, _, _, p, _ in products}  # latest versions
        stale = rng.choice(self.n_products, self.n_products // 50, replace=False)
        for i in stale:  # an older version of the row, with another price
            pid, name, c, brand, p, _ = products[i]
            products.append((pid, name, c, brand, round(p + 1.0, 2), _fmt(_T0)))
        self._plant("stale_product_versions", len(stale))
        _write_csv(
            self._path("products", 0),
            ["product_id", "product_name", "category_id", "brand", "price", "updated_at"],
            products,
        )
        users = []
        n_untrimmed = n_null = 0
        for u in range(1, self.n_users + 1):
            first = FIRST[u % len(FIRST)]
            last = LAST[(u // 7) % len(LAST)]
            email = f"user{u}@shop.example"
            if u % 10 == 0:
                email = f"  User{u}@Shop.EXAMPLE "
                n_untrimmed += 1
            if u % 25 == 0:
                first = None
                n_null += 1
            elif u % 25 == 1:
                last = None
                n_null += 1
            users.append(
                (u, first, last, email, f"+84-{u:07d}", f"{u} Main St",
                 CITIES[u % len(CITIES)], COUNTRIES[u % len(COUNTRIES)],
                 _fmt(_T0 + dt.timedelta(minutes=u)))
            )
        stale = rng.choice(self.n_users, self.n_users // 50, replace=False) + 1
        for u in stale:
            users.append(
                (int(u), "Stale", "Row", f"stale{u}@old.example", "", "", "", "",
                 _fmt(_T0 - dt.timedelta(days=1)))
            )
        self._plant("stale_user_versions", len(stale))
        self._plant("untrimmed_emails", n_untrimmed)
        self._plant("null_name_parts", n_null)
        _write_csv(
            self._path("users", 0),
            ["user_id", "first_name", "last_name", "email", "phone_number",
             "address", "city", "country", "created_at"],
            users,
        )
        # empty fact files with headers: round 0 fills them
        for t, hdr in (
            ("orders", ["order_id", "user_id", "total_price", "order_date"]),
            ("order_items", ["order_item_id", "order_id", "product_id", "quantity",
                             "price", "item_total"]),
            ("reviews", ["review_id", "user_id", "product_id", "rating",
                         "review_text", "review_date"]),
        ):
            _write_csv(self._path(t, 0), hdr, [])

    def write_round(self) -> dict:
        """Append one round of orders, order items and reviews, all
        strictly newer than every earlier round (the watermark column
        advances). Returns this round's valid-row counts."""
        rng = self.rng
        r = self.rounds_written
        part = r + 1
        t_start = _T0 + dt.timedelta(days=60 + 30 * r)
        n_o = self.orders_per_round
        secs = np.sort(rng.choice(30 * 86400, n_o, replace=False))
        orders, items = [], []
        valid_items = bad_qty = 0
        for k in range(n_o):
            oid = self.next_order
            self.next_order += 1
            n_items = int(rng.integers(2, 6))
            total = 0.0
            ok = 0
            for _ in range(n_items):
                q = int(rng.integers(1, 4))
                if rng.random() < 0.01:
                    q = int(rng.integers(-2, 1))  # planted: silver drops q <= 0
                    bad_qty += 1
                else:
                    ok += 1
                price = float(np.round(rng.uniform(5, 2000), 2))
                items.append(
                    (self.next_item, oid, int(rng.integers(1, self.n_products + 1)), q,
                     price, round(price * q, 2))
                )
                self.next_item += 1
                total += price * q
            self.items_by_order[oid] = ok
            valid_items += ok
            orders.append(
                (oid, int(rng.integers(1, self.n_users + 1)), round(total, 2),
                 _fmt(t_start + dt.timedelta(seconds=int(secs[k]))))
            )
        n_r = self.reviews_per_round
        rsecs = np.sort(rng.choice(30 * 86400, n_r, replace=False))
        reviews = []
        valid_reviews = bad_rating = null_pid = 0
        for k in range(n_r):
            rating = int(rng.integers(1, 6))
            pid = int(rng.integers(1, self.n_products + 1))
            x = rng.random()
            if x < 0.02:
                rating = int(rng.choice([0, 6, 7, -1]))  # planted out-of-range
                bad_rating += 1
            elif x < 0.03:
                pid = None  # planted NULL key
                null_pid += 1
            else:
                valid_reviews += 1
            reviews.append(
                (self.next_review, int(rng.integers(1, self.n_users + 1)), pid, rating,
                 " ".join(rng.choice(WORDS, 4)),
                 _fmt(t_start + dt.timedelta(seconds=int(rsecs[k]))))
            )
            self.next_review += 1
        _write_csv(self._path("orders", part),
                   ["order_id", "user_id", "total_price", "order_date"], orders)
        _write_csv(self._path("order_items", part),
                   ["order_item_id", "order_id", "product_id", "quantity", "price",
                    "item_total"], items)
        _write_csv(self._path("reviews", part),
                   ["review_id", "user_id", "product_id", "rating", "review_text",
                    "review_date"], reviews)
        self._plant("non_positive_quantity", bad_qty)
        self._plant("rating_out_of_range", bad_rating)
        self._plant("null_review_product", null_pid)
        self.valid_items += valid_items
        self.valid_reviews += valid_reviews
        self.rounds_written += 1
        return {
            "orders": n_o,
            "items": len(items),
            "valid_items": valid_items,
            "reviews": n_r,
            "valid_reviews": valid_reviews,
        }

    def user_cdc_batch(self, n: int = 500) -> list[tuple]:
        """``n`` distinct-key user upserts: ~80% existing ids (new email
        and city), ~20% ids past the base range (inserts). Rows follow
        the silver ``dim_users`` column order."""
        rng = self.rng
        existing = rng.choice(self.n_users, int(n * 0.8), replace=False) + 1
        fresh = self.n_users + 1 + rng.choice(self.n_users, n - len(existing), replace=False)
        ts = _T0 + dt.timedelta(days=400 + self.rounds_written)
        out = []
        for u in np.concatenate([existing, fresh]):
            u = int(u)
            out.append(
                (u, "Cdc", f"User{u}", f"cdc{u}.r{self.rounds_written}@shop.example",
                 f"Cdc User{u}", CITIES[(u + self.rounds_written) % len(CITIES)],
                 COUNTRIES[u % len(COUNTRIES)], ts)
            )
        return out
