"""Seeded input generators owned by the benchmark.

Two input sets, both written once per (seed, size) under the benchmark's
work directory and reused by later runs:

- ``warehouse``: the TPC-H-ish parquet tables the registry queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), one file and one row group per table, with the
  column names and types of the engine's query fixtures (``TESTDATA.md``).
  Its seed is fixed, so every run measures the same data.
- ``olist``: the seven raw Olist CSVs the refresh pipeline extracts, with
  the reference filenames. Its values copy the shapes of the engine's
  ``sources/synthetic.py`` (status weights 0.7/0.1/0.1/0.1, one review
  per order, null-heavy comment columns, a 2022 purchase span whose first
  order sits at 2022-01-01 00:00:00) but are drawn from numpy with the
  run's seed. Nothing here calls the engine.

Both generators write to a temporary name and rename, so a run that dies
half-way never leaves a partial input behind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WAREHOUSE_SEED = 20240101
WAREHOUSE_SF = 0.01
OLIST_ITEMS = 2000

OLIST_FILENAMES = {
    "customers": "olist_customers_dataset.csv",
    "orders": "olist_orders_dataset.csv",
    "order_items": "olist_order_items_dataset.csv",
    "products": "olist_products_dataset.csv",
    "sellers": "olist_sellers_dataset.csv",
    "reviews": "olist_order_reviews_dataset.csv",
    "category_translation": "product_category_name_translation.csv",
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "black"]
_THINGS = ["widget", "bolt", "ring", "gear", "panel", "valve", "cable"]
_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE", "MEDIUM"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]

_CUSTOMER_CITIES = ["Sao Paulo", "Rio de Janeiro", "Belo Horizonte", "Porto Alegre", "Brasilia"]
_CUSTOMER_STATES = ["SP", "RJ", "MG", "RS", "DF"]
_SELLER_CITIES = ["Sao Paulo", "Rio de Janeiro", "Belo Horizonte", "Curitiba", "Salvador"]
_SELLER_STATES = ["SP", "RJ", "MG", "PR", "BA"]
_CATEGORIES = ["electronics", "furniture", "toys", "books", "clothing"]
_EPOCH_2022 = 1640995200  # 2022-01-01T00:00:00Z
_YEAR_S = 365 * 86400


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _publish(tmp: str, final: str) -> str:
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)
    return final


def warehouse_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(WAREHOUSE_SEED)
    sf = WAREHOUSE_SF
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{c} {w}"
            for c, w in zip(rng.choice(_COLORS, n_part), rng.choice(_THINGS, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })

    odate_off = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", odate_off),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_off = np.repeat(odate_off, lines) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-01", ship_off),
    })

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, span_us, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts0 + ev_ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # every tenth document repeats an earlier one with its words shuffled:
    # the same word set, so the dedup clusters are non-trivial
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            rng.shuffle(words)
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(25, 80))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_warehouse(root: str) -> str:
    """Parquet tables under ``root/warehouse-sf<sf>``; returns that dir."""
    final = os.path.join(root, f"warehouse-sf{WAREHOUSE_SF}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in warehouse_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    open(os.path.join(tmp, "_DONE"), "w").close()
    return _publish(tmp, final)


def olist_frames(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_items = OLIST_ITEMS
    n_cust = max(100, n_items // 3)
    n_ord = max(200, n_items // 2)
    n_prod = max(150, n_items // 20)
    n_sell = max(50, n_items // 100)

    def ts(secs: np.ndarray) -> np.ndarray:
        return pd.to_datetime(secs, unit="s").strftime("%Y-%m-%d %H:%M:%S").to_numpy()

    def ids(prefix: str, n: int) -> list[str]:
        return [f"{prefix}{i}" for i in range(1, n + 1)]

    f: dict[str, pd.DataFrame] = {}
    f["customers"] = pd.DataFrame({
        "customer_id": ids("cust_", n_cust),
        "customer_unique_id": ids("uniq_", n_cust),
        "customer_zip_code_prefix": rng.integers(10000, 99999, n_cust),
        "customer_city": rng.choice(_CUSTOMER_CITIES, n_cust),
        "customer_state": rng.choice(_CUSTOMER_STATES, n_cust),
    })
    purchase = _EPOCH_2022 + rng.integers(0, _YEAR_S, n_ord)
    purchase[0] = _EPOCH_2022  # dim_date strides from the minimum's clock time

    def after(lo_days: int, hi_days: int) -> np.ndarray:
        return purchase + rng.integers(lo_days * 86400, hi_days * 86400, n_ord)

    f["orders"] = pd.DataFrame({
        "order_id": ids("order_", n_ord),
        "customer_id": [f"cust_{c}" for c in rng.integers(1, n_cust + 1, n_ord)],
        "order_status": rng.choice(
            ["delivered", "shipped", "processing", "canceled"], n_ord, p=[0.7, 0.1, 0.1, 0.1]
        ),
        "order_purchase_timestamp": ts(purchase),
        "order_approved_at": ts(after(0, 2)),
        "order_delivered_carrier_date": ts(after(1, 4)),
        "order_delivered_customer_date": ts(after(4, 15)),
        "order_estimated_delivery_date": ts(after(9, 25)),
    })
    f["order_items"] = pd.DataFrame({
        "order_id": [f"order_{o}" for o in rng.integers(1, n_ord + 1, n_items)],
        "order_item_id": rng.integers(1, 5, n_items),
        "product_id": [f"prod_{p}" for p in rng.integers(1, n_prod + 1, n_items)],
        "seller_id": [f"seller_{s}" for s in rng.integers(1, n_sell + 1, n_items)],
        "shipping_limit_date": ts(_EPOCH_2022 + rng.integers(0, _YEAR_S, n_items)),
        "price": _money(rng, 10, 1000, n_items),
        "freight_value": _money(rng, 5, 100, n_items),
    })
    f["products"] = pd.DataFrame({
        "product_id": ids("prod_", n_prod),
        "product_category_name": rng.choice(_CATEGORIES, n_prod),
        "product_name_length": rng.integers(10, 100, n_prod),
        "product_description_length": rng.integers(100, 1000, n_prod),
        "product_photos_qty": rng.integers(1, 10, n_prod),
        "product_weight_g": rng.integers(100, 10000, n_prod),
        "product_length_cm": rng.integers(10, 100, n_prod),
        "product_height_cm": rng.integers(5, 50, n_prod),
        "product_width_cm": rng.integers(5, 50, n_prod),
    })
    f["sellers"] = pd.DataFrame({
        "seller_id": ids("seller_", n_sell),
        "seller_zip_code_prefix": rng.integers(10000, 99999, n_sell),
        "seller_city": rng.choice(_SELLER_CITIES, n_sell),
        "seller_state": rng.choice(_SELLER_STATES, n_sell),
    })
    i = np.arange(1, n_ord + 1)
    created = _EPOCH_2022 + rng.integers(0, _YEAR_S, n_ord)
    f["reviews"] = pd.DataFrame({
        "review_id": ids("review_", n_ord),
        "order_id": ids("order_", n_ord),
        "review_score": rng.integers(1, 6, n_ord),
        "review_comment_title": np.where(i % 3 == 0, [f"Title {k}" for k in i], None),
        "review_comment_message": np.where(i % 2 == 0, [f"Message {k}" for k in i], None),
        "review_creation_date": ts(created),
        "review_answer_timestamp": ts(created + 86400),
    })
    f["category_translation"] = pd.DataFrame({
        "product_category_name": _CATEGORIES,
        "product_category_name_english": _CATEGORIES,
    })
    return f


def write_olist(root: str, seed: int) -> str:
    """Raw Olist CSVs under ``root/olist-s<seed>-n<items>``; returns that dir."""
    final = os.path.join(root, f"olist-s{seed}-n{OLIST_ITEMS}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in olist_frames(seed).items():
        df.to_csv(os.path.join(tmp, OLIST_FILENAMES[name]), index=False)
    open(os.path.join(tmp, "_DONE"), "w").close()
    return _publish(tmp, final)


def raw_bytes(olist_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(olist_dir, n)) for n in OLIST_FILENAMES.values())
