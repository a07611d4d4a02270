#!/usr/bin/env python3
"""Seeded candy-store inputs, and the plain sequential replay that the
candy_batch workload checks CandyMain's outputs against.

Built only from the candy schemas and value domains in FIXTURES.md §1:
products.csv (36 products by default) and one multi-line JSON array
per day, transactions_YYYYMMDD.json. The generated data covers:

- null `qty` on about 7.5% of items, and transactions whose items are
  all null;
- product ids that are not in products.csv;
- stock running out mid-day: product popularity is Zipf-skewed, so the
  most popular products sell out before the day ends;
- the same product more than once in one order;
- ISO timestamps with microseconds, in random order within a day, so
  document order is not timestamp order.

Usage: candy.py <out_dir> <seed> [days] [txns_per_day] [products]
"""
import csv
import datetime
import decimal
import glob
import json
import math
import os
import random
import re
import sys

CATEGORIES = ["Gummies & Jellies", "Marshmallow", "Toffee/Caramel"]
SUBCATEGORIES = ["Bears", "Brittle", "Chews", "Classic", "Cubes", "Dipped",
                 "Fruit", "Rings", "Squares"]
SHAPES = ["Cones", "Cubes", "Mini", "Rolls", "Slabs", "Standard"]
FIRST_DAY = datetime.date(2024, 2, 1)
CUSTOMERS = 30
NULL_QTY = 0.075
ALL_NULL_TXN = 0.015
UNKNOWN_PRODUCT = 0.01


def money(x):
    """A 2dp price as the double Spark parses from its CSV text."""
    return float(f"{x:.2f}")


def generate(out_dir, seed, days=10, txns_per_day=4000, n_products=36):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    products = []
    for pid in range(1, n_products + 1):
        sub, shape = rng.choice(SUBCATEGORIES), rng.choice(SHAPES)
        price = money(rng.uniform(0.52, 9.84))
        products.append([pid, f"{sub} {shape} {pid}", rng.choice(CATEGORIES), sub,
                         shape, f"{price:.2f}", f"{money(price * rng.uniform(0.1, 0.6)):.2f}",
                         rng.randint(2021, 4985)])
    with open(os.path.join(out_dir, "products.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["product_id", "product_name", "product_category",
                    "product_subcategory", "product_shape", "sales_price",
                    "cost_to_make", "stock"])
        w.writerows(products)
    names = {p[0]: p[1] for p in products}
    ranked = [p[0] for p in products]
    rng.shuffle(ranked)
    weights = [1.0 / (k + 1) ** 1.5 for k in range(n_products)]
    unknown = list(range(n_products + 1, n_products + 5))
    txn_id = 0
    for d in range(days):
        day = FIRST_DAY + datetime.timedelta(days=d)
        docs = []
        for _ in range(txns_per_day):
            txn_id += 1
            all_null = rng.random() < ALL_NULL_TXN
            items = []
            for pid in rng.choices(ranked, weights, k=rng.randint(1, 5)):
                if rng.random() < UNKNOWN_PRODUCT:
                    pid = rng.choice(unknown)
                qty = None if all_null or rng.random() < NULL_QTY else rng.randint(1, 5)
                items.append({"product_id": pid,
                              "product_name": names.get(pid, "Mystery Chews"),
                              "qty": qty})
            secs = rng.randrange(86400)
            ts = (f"{day.isoformat()}T{secs // 3600:02d}:{secs // 60 % 60:02d}:"
                  f"{secs % 60:02d}.{rng.randrange(1000000):06d}")
            docs.append({"transaction_id": txn_id,
                         "customer_id": rng.randint(1, CUSTOMERS),
                         "timestamp": ts, "items": items})
        with open(os.path.join(out_dir, f"transactions_{day:%Y%m%d}.json"), "w") as f:
            json.dump(docs, f, indent=1)


def cents_half_up(x):
    """Spark's round(x * 100) on a double: HALF_UP on its decimal string."""
    return int(decimal.Decimal(repr(x * 100)).quantize(
        decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP))


def expected(in_dir):
    """The reference driver loop, as the golden outputs define it: stock
    reloads each day, orders that fulfil nothing are skipped, and a day's
    num_orders counts its line items. Returns the expected rows of each
    output plus counts of the edge cases the input exercised."""
    with open(os.path.join(in_dir, "products.csv"), newline="") as f:
        rows = list(csv.DictReader(f))
    products = {int(r["product_id"]): (r["product_name"], float(r["sales_price"]),
                                       float(r["cost_to_make"]), int(r["stock"]))
                for r in rows}
    orders, lines, daily = [], [], []
    seen = {"null_qty": 0, "unknown_product": 0, "cancelled": 0,
            "all_null_txn": 0, "repeated_product": 0}
    stock = {}
    for path in sorted(glob.glob(os.path.join(in_dir, "transactions_*.json"))):
        stock = {pid: p[3] for pid, p in products.items()}
        n_lines, first_ts, sales, profit = 0, None, 0, 0
        with open(path) as f:
            docs = json.load(f)
        for t in docs:
            total, margin, fulfilled = 0.0, 0.0, 0
            pids = [it["product_id"] for it in t["items"]]
            seen["repeated_product"] += len(pids) != len(set(pids))
            seen["all_null_txn"] += all(it["qty"] is None for it in t["items"])
            for it in t["items"]:
                qty, pid = it["qty"], it["product_id"]
                if qty is None:
                    seen["null_qty"] += 1
                    continue
                if pid not in products:
                    seen["unknown_product"] += 1
                    continue
                _, price, cost, _ = products[pid]
                n_lines += 1
                if stock[pid] >= qty:
                    stock[pid] -= qty
                    fulfilled += 1
                    line_total, line_profit = price * qty, (price - cost) * qty
                else:
                    seen["cancelled"] += 1
                    qty, line_total, line_profit = 0, 0.0, 0.0
                total += line_total
                margin += line_profit
                lines.append((t["transaction_id"], pid, qty, price, f"{line_total:,.2f}"))
            if fulfilled == 0:
                continue
            first_ts = first_ts or t["timestamp"]
            orders.append((t["transaction_id"], t["timestamp"], t["customer_id"],
                           f"{total:,.2f}", fulfilled))
            sales += cents_half_up(total)
            profit += cents_half_up(margin)
        daily.append((first_ts[:10], n_lines, sales / 100.0, profit / 100.0))
    updated = [(pid, p[0], stock[pid]) for pid, p in sorted(products.items())]
    missing = [k for k, v in seen.items() if v == 0]
    if missing:
        raise ValueError(f"generated input does not exercise: {missing}")
    return {"orders": orders, "lines": lines, "daily": daily, "updated": updated,
            "seen": seen}


def _read(path):
    with open(path, newline="") as f:
        r = csv.reader(f)
        return next(r), list(r)


def check(out_dir, exp):
    """Compare one CandyMain output directory with `exp`; returns a list
    of mismatches, empty when every output is exactly as expected."""
    bad = []

    def table(name, header, parse, want, key=None):
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            bad.append(f"{name}: missing")
            return
        got_header, raw = _read(path)
        if got_header != header:
            bad.append(f"{name}: header {got_header}")
            return
        try:
            got = [parse(r) for r in raw]
        except (ValueError, IndexError) as e:
            bad.append(f"{name}: unparsable row ({e})")
            return
        if key and [key(r) for r in got] != sorted(key(r) for r in got):
            bad.append(f"{name}: not sorted")
        # rows that tie on the sort key may come in any order
        if sorted(got) != sorted(want):
            diff = sorted(set(got) ^ set(want))[:2]
            bad.append(f"{name}: {len(got)} rows vs {len(want)} expected, e.g. {diff}")

    table("orders.csv", ["order_id", "order_datetime", "customer_id", "total_amount",
                         "num_items"],
          lambda r: (int(r[0]), r[1], int(r[2]), r[3], int(r[4])), exp["orders"],
          key=lambda r: r[0])
    table("order_line_items.csv", ["order_id", "product_id", "quantity", "unit_price",
                                   "line_total"],
          lambda r: (int(r[0]), int(r[1]), int(r[2]), float(r[3]), r[4]), exp["lines"],
          key=lambda r: r[:2])
    table("daily_summary.csv", ["date", "num_orders", "total_sales", "total_profit"],
          lambda r: (r[0], int(r[1]), float(r[2]), float(r[3])), exp["daily"],
          key=lambda r: r[0])
    table("products_updated.csv", ["product_id", "product_name", "current_stock"],
          lambda r: (int(r[0]), r[1], int(r[2])), exp["updated"], key=lambda r: r[0])
    path = os.path.join(out_dir, "sales_profit_forecast.csv")
    if not os.path.exists(path):
        bad.append("sales_profit_forecast.csv: missing")
    else:
        header, raw = _read(path)
        next_day = (datetime.date.fromisoformat(exp["daily"][-1][0])
                    + datetime.timedelta(days=1)).isoformat()
        ok = (header == ["date", "forecasted_sales", "forecasted_profit"] and len(raw) == 1
              and raw[0][0] == next_day
              and all(re.fullmatch(r"-?[0-9.E-]+", v) and math.isfinite(float(v))
                      for v in raw[0][1:]))
        if not ok:
            bad.append(f"sales_profit_forecast.csv: {header} {raw}")
    return bad


if __name__ == "__main__":
    a = sys.argv[1:]
    if len(a) < 2:
        sys.exit(__doc__)
    generate(a[0], int(a[1]), *map(int, a[2:5]))
    print(json.dumps(expected(a[0])["seen"]))
