"""Data-quality operators (reference notebook cell 21, SURVEY §2.9):
FK containment, null audit, aggregate reconciliation, shape report —
promoted from inline prints to reusable assertions.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FK_COLUMNS = {
    "customer": "customer_id",
    "product": "product_id",
    "seller": "seller_id",
    "date": "date_id",
    "order": "order_id",
}


def fk_violations(fact: DataFrame, dims: dict[str, DataFrame]) -> dict[str, int]:
    """Q1: per-dimension count of distinct fact FKs with no matching dim
    id (zero on a consistent star); a NULL FK counts as an orphan, and a
    dimension absent from ``dims`` or whose FK column is absent from
    ``fact`` is skipped.

    One query for every dimension: the (dimension, key) pairs are
    exploded out of a single fact scan, deduplicated, left-anti joined
    against the tagged union of the dimensions' ids, and counted per
    dimension. Keys are compared as strings so dimensions with different
    key types share one join column."""
    pairs = [
        (dim_name, fk)
        for dim_name, fk in FK_COLUMNS.items()
        if dim_name in dims and fk in fact.columns
    ]
    if not pairs:
        return {}
    fact_keys = fact.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dim_name).alias("dim"),
                        F.col(fk).cast("string").alias("key"),
                    )
                    for dim_name, fk in pairs
                ]
            )
        ).alias("p")
    ).select("p.dim", "p.key")
    dim_keys = functools.reduce(
        DataFrame.unionAll,
        [
            dims[dim_name].select(
                F.lit(dim_name).alias("dim"), F.col("id").cast("string").alias("key")
            )
            for dim_name, _ in pairs
        ],
    )
    orphans = (
        fact_keys.distinct()
        .join(dim_keys, ["dim", "key"], "left_anti")
        .groupBy("dim")
        .count()
        .collect()
    )
    counts = {r["dim"]: r["count"] for r in orphans}
    return {dim_name: counts.get(dim_name, 0) for dim_name, _ in pairs}


def null_audit(df: DataFrame, cols: list[str] | None = None) -> dict[str, int]:
    """Q2: null counts per column in one aggregation pass."""
    cols = cols or df.columns
    row = df.agg(
        *[F.sum(F.col(c).isNull().cast("bigint")).alias(c) for c in cols]
    ).first()
    return {c: int(row[c] or 0) for c in cols}


def reconcile_totals(fact: DataFrame, monthly: DataFrame) -> float:
    """Q3: |Σ fact.price − Σ agg.total_sales| (should be ~0)."""
    t1 = fact.agg(F.sum("price")).first()[0] or 0.0
    t2 = monthly.agg(F.sum("total_sales")).first()[0] or 0.0
    return abs(t1 - t2)


def shape_report(tables: dict[str, DataFrame]) -> dict[str, tuple[int, int]]:
    """Q4: rows × cols per table."""
    return {name: (df.count(), len(df.columns)) for name, df in tables.items()}


def expectation_report(df: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
    """Declarative expectation suite — the Great-Expectations-style
    contract check as ONE aggregation pass: each rule is a row-level SQL
    predicate; the report is (rule, n_rows, n_violations, violation_rate,
    passed) per rule.

    Scale shape: every rule compiles to a conditional SUM inside a
    single agg over one scan — N rules cost one pass, not N (the naive
    loop re-scans per rule, which at 100 TB turns a 20-rule contract
    into 20 table scans). The wide 1-row result unpivots via ``stack``
    into the report rows; the only shuffle is the single-row combine.
    NULL predicate results count as violations (SQL three-valued logic
    would otherwise silently pass NULL rows through ``NOT cond``).

    Empty-input semantics: SUM over zero rows is NULL, so every count
    is wrapped in coalesce(..., 0) — an empty table reports
    n_violations = 0, violation_rate = 0.0, passed = TRUE (a vacuously
    satisfied contract), never NULLs that a dashboard filtering on
    ``passed = false`` would hide or one on ``NOT passed`` would flag.
    Rule names are embedded as SQL string literals with quotes/escapes
    DOUBLED-or-escaped (not stripped), so the report's ``rule`` key
    round-trips the caller's name exactly. An empty RULE LIST (a
    dynamically-assembled contract with zero enabled rules) returns a
    0-row report with the same schema — ``stack(0)`` is not valid SQL,
    so the unpivot path cannot express it."""
    if not rules:
        return df.sparkSession.createDataFrame(
            [],
            "rule string, n_rows bigint, n_violations bigint, "
            "violation_rate double, passed boolean",
        )
    aggs = [
        F.coalesce(
            F.sum(
                F.when(F.expr(cond), F.lit(0)).otherwise(F.lit(1))
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias(f"_v{i}")
        for i, (_, cond) in enumerate(rules)
    ]
    wide = df.agg(F.count("*").alias("_n"), *aggs)

    def _lit(name: str) -> str:
        # Spark's default parser treats backslash as an escape inside
        # string literals; escape it first, then double single quotes.
        return name.replace("\\", "\\\\").replace("'", "''")

    stack_args = ", ".join(
        f"'{_lit(name)}', _v{i}" for i, (name, _) in enumerate(rules)
    )
    return wide.select(
        F.expr(
            f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        F.when(F.col("n_rows") == 0, F.lit(0.0))
        .otherwise(
            F.col("n_violations").cast("double")
            / F.col("n_rows").cast("double")
        )
        .alias("violation_rate"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def sequence_gap_report(
    ids: DataFrame, id_col: str = "id", bucket_width: int = 1024
) -> DataFrame:
    """One-row completeness report over a (unique) integer id sequence:
    min/max id, row count, missing count, gap-run count, and largest
    gap — the "did the CDC feed drop messages" check a replication
    monitor runs on every batch.

    Adjacency without a global sort: ids bucket by ``id DIV width``;
    lead() runs per bucket (keyed window), and the cross-bucket seams
    are closed on the per-bucket min/max summary (#buckets rows, the
    only serial window — the sc5 rewrite applied to gap detection, so
    a 10¹²-row id space never funnels through one task). Empty buckets
    cost nothing: a seam gap spans them by construction. All-BIGINT;
    the law missing == Σ gap lengths is test-pinned.
    """
    from pyspark.sql import Window

    b = ids.select(F.col(id_col).cast("bigint").alias("id")).withColumn(
        "_b", F.expr(f"id DIV {bucket_width}")
    )
    w_in = Window.partitionBy("_b").orderBy("id")
    within = (
        b.withColumn("_nxt", F.lead("id").over(w_in))
        .filter(F.col("_nxt") > F.col("id") + 1)
        .agg(
            F.count("*").cast("bigint").alias("g"),
            F.coalesce(
                F.max(F.col("_nxt") - F.col("id") - 1), F.lit(0)
            )
            .cast("bigint")
            .alias("mx"),
            F.coalesce(
                F.sum(F.col("_nxt") - F.col("id") - 1), F.lit(0)
            )
            .cast("bigint")
            .alias("tot"),
        )
    )
    summary = b.groupBy("_b").agg(
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    w_seam = Window.orderBy("_b")
    seams = (
        summary.withColumn("_prev_hi", F.lag("hi").over(w_seam))
        .filter(F.col("lo") > F.col("_prev_hi") + 1)
        .agg(
            F.count("*").cast("bigint").alias("g"),
            F.coalesce(
                F.max(F.col("lo") - F.col("_prev_hi") - 1), F.lit(0)
            )
            .cast("bigint")
            .alias("mx"),
            F.coalesce(
                F.sum(F.col("lo") - F.col("_prev_hi") - 1), F.lit(0)
            )
            .cast("bigint")
            .alias("tot"),
        )
    )
    # empty input: n_rows/missing coalesce to 0 (the same concrete-empty
    # semantics expectation_report guarantees — a monitor alerting on
    # missing > 0 or reading n_rows must not hit NULLs); min/max stay
    # NULL, honestly — there are no ids to bound
    tot = summary.agg(
        F.min("lo").alias("min_id"),
        F.max("hi").alias("max_id"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_rows"),
    )
    return (
        tot.crossJoin(
            within.select(
                F.col("g").alias("_wg"),
                F.col("mx").alias("_wm"),
                F.col("tot").alias("_wt"),
            )
        )
        .crossJoin(
            seams.select(
                F.col("g").alias("_sg"),
                F.col("mx").alias("_sm"),
                F.col("tot").alias("_st"),
            )
        )
        .select(
            "min_id",
            "max_id",
            "n_rows",
            F.coalesce(
                F.col("max_id") - F.col("min_id") + 1 - F.col("n_rows"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("missing"),
            (F.col("_wg") + F.col("_sg")).cast("bigint").alias("n_gaps"),
            F.greatest("_wm", "_sm").cast("bigint").alias("max_gap"),
            (F.col("_wt") + F.col("_st")).cast("bigint").alias("gap_total"),
        )
    )
