"""Command-line surface for the engine: list, explain, and run any
registry query against a testdata scale directory.

    python -m etl_power_bi_dashboard_spark list [pattern]
    python -m etl_power_bi_dashboard_spark explain <query> [--sf-dir D]
    python -m etl_power_bi_dashboard_spark run <query> [--sf-dir D]
        [--out PATH] [--format parquet|csv|show] [--limit N]
    python -m etl_power_bi_dashboard_spark pipeline <raw_dir> [out_dir]

`run` without --out shows the first rows (driver-side, bounded by
--limit); with --out it writes through the engine's sinks — the result
never collects to the driver, so a full-corpus query lands distributed.
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_power_bi_dashboard_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list registry queries")
    lp.add_argument("pattern", nargs="?", default="")

    for name in ("explain", "run"):
        rp = sub.add_parser(name)
        rp.add_argument("query")
        rp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            rp.add_argument("--out", default=None)
            # default None so an explicit "--format show --out X"
            # contradiction is distinguishable from the defaults
            rp.add_argument(
                "--format", default=None, choices=["parquet", "csv", "show"]
            )
            rp.add_argument("--limit", type=int, default=20)

    pp = sub.add_parser("pipeline", help="run the reference ETL end-to-end")
    pp.add_argument("raw_dir")
    pp.add_argument("out_dir", nargs="?", default=None)
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = _build_parser().parse_args(argv)
    from .plans import REGISTRY

    if args.cmd == "list":
        for name in sorted(REGISTRY):
            q = REGISTRY[name]
            if args.pattern and args.pattern not in name:
                continue
            print(f"{name:32s} {q.doc}")
        return 0

    if args.cmd == "pipeline":
        from .sources.olist import missing_inputs

        missing = missing_inputs(args.raw_dir)
        for path in missing:
            print(f"missing required input: {path}", file=sys.stderr)
        if missing:
            return 1

    if spark is None:
        from .session import get_spark

        spark = get_spark()

    if args.cmd == "pipeline":
        from .pipeline import run_pipeline

        dims, fact, aggs = run_pipeline(spark, args.raw_dir, args.out_dir)
        print(f"dims={list(dims)} fact_rows={fact.count()} aggs={list(aggs)}")
        return 0

    if args.query not in REGISTRY:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2
    df = REGISTRY[args.query].spark(spark, args.sf_dir)

    if args.cmd == "explain":
        df.explain("formatted")
        return 0

    # enforce the --out/--format contract instead of silently picking:
    # a file format needs a destination, "show" must not write, and a
    # bare --out defaults to parquet
    if args.format == "show" and args.out:
        print("--format show does not take --out", file=sys.stderr)
        return 2
    if args.format in ("parquet", "csv") and not args.out:
        print(f"--format {args.format} requires --out PATH", file=sys.stderr)
        return 2
    if args.out:
        writer = df.write.mode("overwrite")
        if args.format == "csv":
            writer.option("header", "true").csv(args.out)
        else:
            writer.parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
