"""Seed-pure e-commerce feed for the medallion workload, and the gold
KPIs it must produce, computed in pandas without Spark.

Every landed file is a function of (seed, feed parameters, operation
index) alone: each operation draws from its own ``numpy`` generator
seeded with ``[seed, tag, k]``, so landing operation 7 does not depend on
whether operations 0-6 were generated in this process.

The feed, :class:`Trickle`: a base history of ``base_orders`` orders
spread over ``days`` dates, then per operation 50 new orders on the
latest two dates. Fixed shares of each batch are partial groups
(remaining items arrive next operation, through the pipeline's late
path), orders whose items arrive next operation, and one or two poison
item rows.

``expected(n_ops)`` replays the same generators and returns the three
gold tables (``order_kpis_daily``, ``category_kpis``, ``late_audit``)
after the base cycle plus ``n_ops`` operations, each followed by one
``run_cycle()``. Poison rows and still-pending groups are left out.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

STATUSES = ["pending", "processing", "shipped", "delivered", "cancelled", "returned"]
START = dt.date(2024, 1, 1)
N_PRODUCTS = 400
N_CATEGORIES = 12
N_USERS = 5000
PRODUCT_STRIDE = 37  # items of one order use products b, b+37, ... (distinct)


def _rng(seed: int, tag: int, k: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, tag, k])


def _money(cents: np.ndarray) -> list[str]:
    return [f"{c // 100}.{c % 100:02d}" if c >= 0 else f"-{(-c) // 100}.{(-c) % 100:02d}"
            for c in cents.tolist()]


def _ts(day: np.ndarray, secs: np.ndarray) -> list[str]:
    base = dt.datetime(START.year, START.month, START.day)
    return [(base + dt.timedelta(days=int(d), seconds=int(s))).strftime("%Y-%m-%dT%H:%M:%S")
            for d, s in zip(day.tolist(), secs.tolist())]


def to_csv(df: pd.DataFrame) -> bytes:
    """Header + rows, empty field for null. Byte-stable for equal frames."""
    return df.to_csv(index=False, lineterminator="\n", na_rep="").encode()


def products(seed: int) -> pd.DataFrame:
    r = _rng(seed, 1)
    ids = np.arange(N_PRODUCTS)
    cost = r.integers(100, 20000, N_PRODUCTS)
    return pd.DataFrame({
        "id": [f"p{i:04d}" for i in ids],
        "sku": [f"sku{i:05d}" for i in ids],
        "cost": _money(cost),
        "category": [f"cat{c:02d}" for c in r.integers(0, N_CATEGORIES, N_PRODUCTS)],
        "name": [f"product {i}" for i in ids],
        "brand": [f"brand{b}" for b in r.integers(0, 25, N_PRODUCTS)],
        "retail_price": _money(cost + r.integers(100, 5000, N_PRODUCTS)),
        "department": [f"dept{d}" for d in r.integers(0, 4, N_PRODUCTS)],
    })


def _orders_and_items(r: np.random.Generator, ids: list[str], day: np.ndarray):
    """Orders with 1-4 items each (distinct products per order)."""
    n = len(ids)
    n_items = r.integers(1, 5, n)
    secs = r.integers(0, 86400, n)
    user = r.integers(0, N_USERS, n)
    status = r.integers(0, len(STATUSES), n)
    prod0 = r.integers(0, N_PRODUCTS, n)
    cents = r.integers(100, 50000, int(n_items.sum()))
    ret = r.random(int(n_items.sum())) < 0.1
    users = [f"u{u:05d}" for u in user.tolist()]
    stats = [STATUSES[s] for s in status.tolist()]
    created = _ts(day, secs)
    orders = pd.DataFrame({
        "order_id": ids, "user_id": users, "status": stats, "created_at": created,
        "returned_at": "", "shipped_at": "", "delivered_at": "",
        "num_of_item": n_items,
    })
    rep = np.repeat(np.arange(n), n_items)
    j = np.arange(len(rep)) - np.repeat(np.cumsum(n_items) - n_items, n_items)
    item_created = [created[x] for x in rep.tolist()]
    items = pd.DataFrame({
        "id": [f"{ids[x]}-{jj}" for x, jj in zip(rep.tolist(), j.tolist())],
        "order_id": [ids[x] for x in rep.tolist()],
        "user_id": [users[x] for x in rep.tolist()],
        "product_id": [f"p{p:04d}" for p in
                       ((prod0[rep] + j * PRODUCT_STRIDE) % N_PRODUCTS).tolist()],
        "status": [stats[x] for x in rep.tolist()],
        "created_at": item_created,
        "shipped_at": "", "delivered_at": "",
        "returned_at": [c if f else "" for c, f in zip(item_created, ret.tolist())],
        "sale_price": _money(cents),
    })
    return orders, items


def _released_rows(orders: pd.DataFrame, items: pd.DataFrame,
                   prods: pd.DataFrame) -> pd.DataFrame:
    """Silver-grain rows (the enrichment) for released items."""
    o = orders[["order_id", "user_id", "status", "created_at"]]
    it = items[["order_id", "product_id", "sale_price", "returned_at"]]
    m = it.merge(o, on="order_id").merge(
        prods[["id", "category"]].rename(columns={"id": "product_id"}), on="product_id")
    return pd.DataFrame({
        "order_id": m["order_id"], "product_id": m["product_id"],
        "user_id": m["user_id"], "status": m["status"],
        "order_date": m["created_at"].str.slice(0, 10),
        "cents": [int(round(float(s) * 100)) for s in m["sale_price"]],
        "category": m["category"],
        "returned": (m["returned_at"] != "").astype(np.int64),
    })


def gold_from_silver(silver: pd.DataFrame, late: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The gold KPI tables computed with the same integer-cents
    arithmetic the engine uses, so doubles compare bit for bit."""
    cat = silver.groupby(["category", "order_date"], as_index=False).agg(
        c=("cents", "sum"), n=("cents", "size"), r=("returned", "sum"))
    category_kpis = pd.DataFrame({
        "category": cat["category"], "order_date": cat["order_date"],
        "daily_revenue": [c / 100.0 for c in cat["c"].tolist()],
        "avg_order_value": [(c / 100.0) / n for c, n in zip(cat["c"].tolist(), cat["n"].tolist())],
        "avg_return_rate": [float(r) / n for r, n in zip(cat["r"].tolist(), cat["n"].tolist())],
    })
    day = silver.groupby("order_date", as_index=False).agg(
        orders=("order_id", "nunique"), c=("cents", "sum"), items=("cents", "size"),
        r=("returned", "sum"), users=("user_id", "nunique"))
    order_kpis_daily = pd.DataFrame({
        "order_date": day["order_date"],
        "total_orders": day["orders"].astype(np.int64),
        "total_revenue": [c / 100.0 for c in day["c"].tolist()],
        "total_items_sold": day["items"].astype(np.int64),
        "return_rate": [float(r) / n for r, n in zip(day["r"].tolist(), day["orders"].tolist())],
        "unique_customers": day["users"].astype(np.int64),
    })
    late_audit = (late.groupby("order_date", as_index=False).size()
                  .rename(columns={"size": "late_items_absorbed"}))
    late_audit["late_items_absorbed"] = late_audit["late_items_absorbed"].astype(np.int64)
    return {"order_kpis_daily": order_kpis_daily, "category_kpis": category_kpis,
            "late_audit": late_audit}


class Trickle:
    """Small batches on the latest dates of a long history."""

    TAG = 10
    PER_OP = 50  # orders 0-39 land complete
    PARTIAL = range(40, 45)  # order + first item now, the rest next op (late path)
    DEFERRED = range(45, 50)  # order now, every item next op

    def __init__(self, seed: int, days: int, base_orders: int):
        self.seed, self.days, self.base_orders = seed, days, base_orders

    def base(self) -> dict[str, pd.DataFrame]:
        r = _rng(self.seed, self.TAG)
        day = np.arange(self.base_orders) % self.days
        o, i = _orders_and_items(r, [f"b{n:07d}" for n in range(self.base_orders)], day)
        return {"products": products(self.seed), "orders": o, "order_items": i}

    def _batch(self, k: int):
        """Operation k's new orders and items, before the split."""
        r = _rng(self.seed, self.TAG + 1, k)
        day = self.days - 1 - (np.arange(self.PER_OP) % 2)
        return _orders_and_items(r, [f"t{k:06d}{m:02d}" for m in range(self.PER_OP)], day)

    def _split(self, k: int):
        """(orders, items landing now, items held for op k+1, poison)."""
        o, i = self._batch(k)
        m = i["order_id"].str.slice(-2).astype(int)
        j = i["id"].str.rsplit("-", n=1).str[1].astype(int)
        held = ((m.isin(list(self.PARTIAL))) & (j > 0)) | m.isin(list(self.DEFERRED))
        # poison: negative sale_price on a product the order does not
        # already carry; the pair lands in quarantine, never silver
        poison = i[(m < 1 + k % 2) & (j == 0)].copy()
        poison["id"] = poison["id"].str.replace("-0", "-9", regex=False)
        poison["product_id"] = [f"p{(int(p[1:]) + 5 * PRODUCT_STRIDE) % N_PRODUCTS:04d}"
                                for p in poison["product_id"]]
        poison["sale_price"] = "-1.00"
        return o, i[~held], i[held], poison

    def op(self, k: int) -> dict[str, pd.DataFrame]:
        o, now, _, poison = self._split(k)
        items = [now, poison]
        if k > 0:
            items.append(self._split(k - 1)[2])
        return {"orders": o, "order_items": pd.concat(items, ignore_index=True)}

    def expected(self, n_ops: int) -> dict[str, pd.DataFrame]:
        b = self.base()
        prods = b["products"]
        silver = [_released_rows(b["orders"], b["order_items"], prods)]
        late = []
        for k in range(n_ops):
            o, now, held, _ = self._split(k)
            silver.append(_released_rows(o, now, prods))
            if k + 1 < n_ops:
                rows = _released_rows(o, held, prods)
                silver.append(rows)
                partial = rows["order_id"].str.slice(-2).astype(int).isin(list(self.PARTIAL))
                late.append(rows[partial])
        late_df = pd.concat(late, ignore_index=True) if late else \
            pd.DataFrame({"order_date": pd.Series([], dtype=object)})
        return gold_from_silver(pd.concat(silver, ignore_index=True), late_df)

