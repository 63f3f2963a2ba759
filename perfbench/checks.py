"""Correctness references, computed without Spark, and the checks that
compare each op's output with them.

- refresh: DuckDB over the raw CSVs gives fact_sales' row count and money
  totals; DuckDB over the written Parquet gives the refresh's totals and
  an order-insensitive content digest of every exported table.
- dashboard queries: each query's ``oracle`` SQL run by DuckDB over the
  same Parquet tables, compared with the engine's parity canonicalisation
  (``tests/parity.py``).
- iterative queries: d6 against its DuckDB oracle (cached on disk, it is
  the slow one); ml2 and ml1 against numpy re-implementations of the same
  fixed-iteration algorithms, within the tolerances stated below.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

from tests.parity import canonicalize

MONEY_RTOL = 1e-9
PAGERANK_ATOL = 1e-9
RECONCILE_ATOL = 1e-6


class CheckFailed(AssertionError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _close(a: float, b: float, rtol: float) -> bool:
    return abs(a - b) <= rtol * max(abs(a), abs(b), 1.0)


# --- olist refresh ---------------------------------------------------------

def olist_reference(raw_dir: str) -> dict:
    """fact_sales = items ⨝ orders ⟕ reviews, counted and summed by DuckDB."""
    con = duckdb.connect()
    for view, fname in (
        ("items", "olist_order_items_dataset.csv"),
        ("orders", "olist_orders_dataset.csv"),
        ("reviews", "olist_order_reviews_dataset.csv"),
    ):
        con.execute(
            f"CREATE VIEW {view} AS SELECT * FROM read_csv_auto('{os.path.join(raw_dir, fname)}', header=true, all_varchar=true)"
        )
    rows, price, freight = con.execute(
        "SELECT count(*), sum(CAST(i.price AS DECIMAL(18,2))),"
        " sum(CAST(i.freight_value AS DECIMAL(18,2)))"
        " FROM items i JOIN orders o USING (order_id) LEFT JOIN reviews r USING (order_id)"
    ).fetchone()
    con.close()
    return {"rows": int(rows), "price": float(price), "freight": float(freight)}


def refresh_digest(out_dir: str) -> dict:
    """Row count, money totals and a per-table content digest of a refresh's
    Parquet output (part-file names and row order do not enter it)."""
    con = duckdb.connect()
    digest = {}
    for table_dir in sorted(glob.glob(os.path.join(out_dir, "*_parquet"))):
        files = os.path.join(table_dir, "*.parquet")
        n, h = con.execute(
            f"SELECT count(*), sum(hash(t)::HUGEINT)::VARCHAR FROM read_parquet('{files}') t"
        ).fetchone()
        digest[os.path.basename(table_dir)] = f"{n}:{h}"
    fact = os.path.join(out_dir, "fact_sales_parquet", "*.parquet")
    rows, price, freight = con.execute(
        f"SELECT count(*), sum(CAST(price AS DECIMAL(18,2))),"
        f" sum(CAST(freight_value AS DECIMAL(18,2))) FROM read_parquet('{fact}')"
    ).fetchone()
    con.close()
    return {"tables": digest, "rows": int(rows), "price": float(price), "freight": float(freight)}


def check_refresh(result: dict, ref: dict, first_digest: dict | None) -> dict:
    """``result`` holds the op's quality outputs and its output dir."""
    _require(
        all(v == 0 for v in result["fk_violations"].values()) and result["fk_violations"],
        f"fk_violations {result['fk_violations']}",
    )
    _require(
        result["reconcile"] < RECONCILE_ATOL,
        f"reconcile_totals(fact, sales_by_date) = {result['reconcile']}",
    )
    got = refresh_digest(result["out_dir"])
    _require(got["rows"] == ref["rows"], f"fact rows {got['rows']} != {ref['rows']}")
    for k in ("price", "freight"):
        _require(_close(got[k], ref[k], MONEY_RTOL), f"fact {k} {got[k]} != {ref[k]}")
    _require(len(got["tables"]) == 13, f"exported {sorted(got['tables'])}")
    if first_digest is not None:
        _require(got["tables"] == first_digest["tables"], "output digest differs between refreshes")
    return got


# --- dashboard queries -----------------------------------------------------

def duckdb_warehouse(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    pdf = con.execute(sql).fetchdf()
    return sorted(map(str, pdf.columns)), canonicalize(pdf)


def check_collected(name: str, columns: list[str], rows: list, ref: tuple) -> None:
    ref_cols, ref_rows = ref
    _require(sorted(columns) == ref_cols, f"{name}: columns {sorted(columns)} != {ref_cols}")
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    got = canonicalize(pdf)
    _require(len(got) == len(ref_rows), f"{name}: {len(got)} rows != {len(ref_rows)}")
    _require(got == ref_rows, f"{name}: values differ from the DuckDB oracle")


# --- iterative queries -----------------------------------------------------

def d6_reference(con, sql: str, cache_path: str) -> tuple:
    """The d6 oracle is a recursive CTE; run it once and keep the result."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    ref = oracle_rows(con, sql)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, cache_path)
    return ref


def pagerank_reference(con) -> list[tuple[str, float]]:
    """ml2's power iteration in numpy: distinct customer→supplier edges,
    uniform start, dangling mass spread evenly, damping 0.85, 8
    aggregations (``q_ml2_pagerank``'s settings). Returns every
    (node, rank), highest rank first."""
    damping = 0.85
    edges = con.execute(
        "SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).fetchall()
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    deg = np.bincount(src, minlength=n).astype(float)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(8):
        s = np.bincount(dst, weights=rank[src] / deg[src], minlength=n)
        dm = rank[dangling].sum()
        rank = (1 - damping) / n + damping * dm / n + damping * s
    _require(abs(rank.sum() - 1.0) < 1e-9, f"reference ranks sum to {rank.sum()}")
    order = sorted(range(n), key=lambda i: (-rank[i], nodes[i]))
    return [(nodes[i], float(rank[i])) for i in order]


def check_pagerank(rows: list, ref: list[tuple[str, float]]) -> None:
    """Top-20 ranks match the reference within PAGERANK_ATOL at every
    position; a node may only differ from the reference's where ranks tie
    within that tolerance."""
    ref_rank = dict(ref)
    _require(len(rows) == min(20, len(ref)), f"ml2 returned {len(rows)} rows")
    for pos, (node, rank) in enumerate(rows):
        _require(abs(rank - ref[pos][1]) <= PAGERANK_ATOL, f"ml2 rank #{pos} {rank} != {ref[pos][1]}")
        _require(
            node in ref_rank and abs(ref_rank[node] - rank) <= PAGERANK_ATOL,
            f"ml2 node {node} at #{pos} has reference rank {ref_rank.get(node)}",
        )


def kmeans_reference(con) -> dict[int, int]:
    """ml1's Lloyd iterations in numpy (``q_ml1_kmeans``: k=4, 3
    iterations): the k lowest vec_ids seed the centroids, distances are
    summed left to right and rounded to 6 decimals, ties go to the lower
    centroid id. Returns cluster sizes."""
    k = 4
    pdf = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchdf()
    x = np.stack([np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]).astype(np.float64)
    cids = np.arange(k)
    cents = x[:k]
    for _ in range(3):
        d2 = np.round(np.cumsum((x[:, None, :] - cents[None, :, :]) ** 2, axis=2)[:, :, -1], 6)
        assign = cids[np.argmin(d2, axis=1)]
        cids = np.unique(assign)
        cents = np.stack([x[assign == c].mean(axis=0) for c in cids])
    sizes = np.bincount(assign)
    return {int(c): int(sizes[c]) for c in np.unique(assign)}


def check_kmeans(rows: list, ref: dict[int, int], n_points: int) -> None:
    got = {int(r["cluster_id"]): int(r["n_vectors"]) for r in rows}
    _require(sum(got.values()) == n_points, f"ml1 assigned {sum(got.values())} of {n_points} points")
    _require(got == ref, f"ml1 cluster sizes {got} != {ref}")
