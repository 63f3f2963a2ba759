"""The `python -m etl_power_bi_dashboard_spark` CLI: list/explain/run
must drive the registry end-to-end (the user-facing product surface)."""

from __future__ import annotations

import contextlib
import io
import os
import shutil

from etl_power_bi_dashboard_spark.__main__ import main

from .conftest import SF_DIR


def _run(argv, spark=None) -> tuple[int, str]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv, spark=spark)
    return rc, buf.getvalue()


def test_cli_list_names_every_registry_query():
    from etl_power_bi_dashboard_spark.plans import REGISTRY

    rc, out = _run(["list"])
    assert rc == 0
    for name in REGISTRY:
        assert name in out


def test_cli_list_pattern_filters():
    rc, out = _run(["list", "benford"])
    assert rc == 0
    assert "q11_benford" in out and "a1_sales_by_date" not in out


def test_cli_run_show_and_parquet(spark, tmp_path):
    rc, out = _run(
        ["run", "q11_benford", "--sf-dir", SF_DIR, "--limit", "3"],
        spark=spark,
    )
    assert rc == 0 and "digit" in out

    dest = str(tmp_path / "out.parquet")
    rc, out = _run(
        ["run", "q11_benford", "--sf-dir", SF_DIR, "--out", dest,
         "--format", "parquet"],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(dest).count() > 0


def test_cli_explain_and_unknown(spark):
    rc, out = _run(["explain", "p1_projection", "--sf-dir", SF_DIR],
                   spark=spark)
    assert rc == 0 and "Physical Plan" in out
    rc, _ = _run(["run", "nope_not_a_query"], spark=spark)
    assert rc == 2


def test_run_format_out_contract(spark, tmp_path):
    """--format show + --out is a contradiction (exit 2); a file format
    without --out is too; bare --out still writes parquet."""
    from etl_power_bi_dashboard_spark.__main__ import main

    out = str(tmp_path / "o")
    assert main(
        ["run", "p1_projection", "--sf-dir", SF_DIR, "--out", out,
         "--format", "show"], spark=spark,
    ) == 2
    assert main(
        ["run", "p1_projection", "--sf-dir", SF_DIR, "--format", "csv"],
        spark=spark,
    ) == 2
    assert main(
        ["run", "p1_projection", "--sf-dir", SF_DIR, "--out", out],
        spark=spark,
    ) == 0
    assert spark.read.parquet(out).count() > 0


def test_cli_pipeline_names_missing_input(spark, olist_raw_dir, tmp_path):
    """A raw dir without a required file exits 1 and names the file on
    stderr; extract_data itself still returns None."""
    from etl_power_bi_dashboard_spark.sources.olist import extract_data

    raw = tmp_path / "raw"
    shutil.copytree(olist_raw_dir, raw)
    shutil.rmtree(raw / "olist_order_items_dataset.csv")
    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        rc, out = _run(["pipeline", str(raw)], spark=spark)
    assert rc == 1
    missing = os.path.join(str(raw), "olist_order_items_dataset.csv")
    assert err.getvalue() == f"missing required input: {missing}\n"
    assert extract_data(spark, str(raw)) is None
