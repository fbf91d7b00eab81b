"""Seeded generator for the reference's six batch CSVs (the
``schemas.ECOM_TABLES`` tables: categories, products, users, orders,
order_items, reviews) with the dirty rows the silver layer must clean
planted at known places:

- products: duplicate ``product_id`` rows with an OLDER ``updated_at``
  and a stale price/name (dedup must keep the newest version);
- users: duplicate ``user_id`` rows with an older ``created_at``,
  untrimmed mixed-case emails, NULL first or last name parts;
- order_items: zero and negative quantities, zero prices;
- reviews: ratings outside 1..5, NULL user/product ids.

:func:`write_batch_csvs` returns the row counts per file plus the
numbers each semantic check needs, all known by construction. Orders
and reviews span 2022-2023, so a cut at 2023-01-01 leaves rows on both
sides."""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

N_CATEGORIES = 13
_T0 = dt.datetime(2022, 1, 1)
_SPAN_S = 2 * 365 * 86400


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _write(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


def write_batch_csvs(
    out_dir: str,
    seed: int = 0,
    n_products: int = 400,
    n_users: int = 300,
    n_orders: int = 600,
    n_reviews: int = 900,
) -> dict:
    """Write ``<table>.csv`` for the six reference tables into
    ``out_dir``; return the by-construction facts (see module doc)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    stale_name = "STALE"

    cats = [
        [c, f"category_{c}", _ts(_T0)] for c in range(1, N_CATEGORIES + 1)
    ]
    _write(
        os.path.join(out_dir, "categories.csv"),
        ["category_id", "category_name", "updated_at"],
        cats,
    )

    products, price = [], {}
    for p in range(1, n_products + 1):
        price[p] = round(rng.uniform(1, 500), 2)
        updated = _T0 + dt.timedelta(days=rng.randint(30, 300))
        products.append([
            p, f"product_{p}", rng.randint(1, N_CATEGORIES),
            f"brand_{p % 17}", price[p], _ts(updated),
        ])
    # every 7th product also has an older, stale version
    stale_products = list(range(1, n_products + 1, 7))
    for p in stale_products:
        products.append([
            p, stale_name, 1, "brand_stale", price[p] + 1000,
            _ts(_T0 - dt.timedelta(days=rng.randint(1, 30))),
        ])
    rng.shuffle(products)
    _write(
        os.path.join(out_dir, "products.csv"),
        ["product_id", "product_name", "category_id", "brand", "price",
         "updated_at"],
        products,
    )

    users = []
    dirty_emails = null_first = null_last = 0
    for u in range(1, n_users + 1):
        first, last = f"First{u}", f"Last{u}"
        email = f"user{u}@example.com"
        if u > 1 and u % 5 == 0:
            email = f"  User{u}@Example.COM "
            dirty_emails += 1
        if u > 1 and u % 11 == 0:
            first = None
            null_first += 1
        elif u > 1 and u % 13 == 0:
            last = None
            null_last += 1
        created = _T0 + dt.timedelta(days=rng.randint(10, 300))
        users.append([
            u, first, last, email, f"555-{u:04d}", f"{u} Main St",
            f"city_{u % 23}", "VN", _ts(created),
        ])
    stale_users = list(range(2, n_users + 1, 9))
    for u in stale_users:
        users.append([
            u, stale_name, stale_name, f"stale{u}@example.com", "", "",
            "", "", _ts(_T0 - dt.timedelta(days=1)),
        ])
    rng.shuffle(users)
    _write(
        os.path.join(out_dir, "users.csv"),
        ["user_id", "first_name", "last_name", "email", "phone_number",
         "address", "city", "country", "created_at"],
        users,
    )

    orders, items = [], []
    bad_items = 0
    item_id = 0
    for o in range(1, n_orders + 1):
        when = _T0 + dt.timedelta(seconds=rng.randrange(_SPAN_S))
        total = 0.0
        for _ in range(rng.randint(1, 4)):
            item_id += 1
            p = rng.randint(1, n_products)
            qty = rng.randint(1, 5)
            unit = price[p]
            if item_id % 17 == 0:
                qty = -qty if item_id % 2 else 0
                bad_items += 1
            elif item_id % 29 == 0:
                unit = 0.0
                bad_items += 1
            items.append([item_id, o, p, qty, unit, round(qty * unit, 2)])
            total += qty * unit
        orders.append([o, rng.randint(1, n_users), round(total, 2), _ts(when)])
    _write(
        os.path.join(out_dir, "orders.csv"),
        ["order_id", "user_id", "total_price", "order_date"],
        orders,
    )
    _write(
        os.path.join(out_dir, "order_items.csv"),
        ["order_item_id", "order_id", "product_id", "quantity", "price",
         "item_total"],
        items,
    )

    reviews = []
    bad_reviews = 0
    for r in range(1, n_reviews + 1):
        user, product = rng.randint(1, n_users), rng.randint(1, n_products)
        rating = rng.randint(1, 5)
        if r % 19 == 0:
            rating = rng.choice([0, 6, 7, -1])
            bad_reviews += 1
        elif r % 31 == 0:
            user = None
            bad_reviews += 1
        elif r % 37 == 0:
            product = None
            bad_reviews += 1
        when = _T0 + dt.timedelta(seconds=rng.randrange(_SPAN_S))
        reviews.append([r, user, product, rating, f"review {r}", _ts(when)])
    _write(
        os.path.join(out_dir, "reviews.csv"),
        ["review_id", "user_id", "product_id", "rating", "review_text",
         "review_date"],
        reviews,
    )

    return {
        "rows": {
            "categories": len(cats),
            "products": len(products),
            "users": len(users),
            "orders": len(orders),
            "order_items": len(items),
            "reviews": len(reviews),
        },
        "distinct_products": n_products,
        "distinct_users": n_users,
        "stale_name": stale_name,
        "stale_products": len(stale_products),
        "stale_users": len(stale_users),
        "dirty_emails": dirty_emails,
        "null_name_parts": null_first + null_last,
        "valid_items": len(items) - bad_items,
        "valid_reviews": len(reviews) - bad_reviews,
    }
