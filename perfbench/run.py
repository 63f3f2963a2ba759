"""Benchmark of the engine's refresh pipeline and BI query paths.

Run from the repository root:

    python3 perfbench/run.py --workload olist_refresh --seed 1 --seconds 10 --trace 0

One process, one closed-loop client, Spark on ``local[<nproc>]``. The run
builds its inputs from the seed (cached under ``perfbench/.work``), starts
the session, makes one untimed warm-up pass, then repeats whole passes of
the workload's ops in a seed-shuffled order until ``--seconds`` have
passed. Outputs are checked after the timed window. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics with ``--trace 1``, which turns on Spark's event log through
launcher options and wraps every layer call in its own job group).
See ``perfbench/METHODOLOGY.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")

DASHBOARD = (
    "h1_pricing_summary", "h5_region_volume", "a1_sales_by_date",
    "a2_sales_by_month", "a3_sales_by_category", "a4_sales_by_state",
    "dax_measures", "t1_topk", "w2_running_total", "e1_tumbling_hourly",
    "q9_fk_audit", "a16_gini_concentration",
)
ITERATIVE = ("ml2_pagerank", "d6_dup_clusters", "ml1_kmeans")
WORKLOADS = ("olist_refresh", "dashboard_queries", "iterative_graph")

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "cpu_s_per_op": "s"}

# per-layer counters reported from the traced run, after the layer table
# of METHODOLOGY.md
LAYER_STATS = {
    "sources.olist": ("wall_s", "jobs"),
    "operators.transform": ("wall_s", "jobs", "executor_run_s"),
    "operators.model": ("wall_s", "jobs"),
    "operators.aggregates": ("wall_s", "jobs"),
    "sinks": (
        "wall_s", "driver_only_s", "jobs", "stages", "tasks", "executor_run_s",
        "executor_cpu_s", "shuffle_write_bytes", "output_bytes", "task_skew",
    ),
    "operators.quality": ("wall_s", "jobs", "executor_run_s", "shuffle_write_bytes"),
    "plans.build": (
        "wall_s", "driver_only_s", "jobs", "tasks", "executor_run_s",
        "executor_cpu_s", "shuffle_write_bytes",
    ),
    "plans.exec": (
        "wall_s", "driver_only_s", "jobs", "stages", "skipped_stages", "tasks",
        "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "task_skew", "failed_tasks",
    ),
}
# jobs per op counted by hand at sf0.1 (ROADMAP); the traced run prints
# its own counts next to them
HAND_JOB_COUNTS = {"ml2_pagerank": 58, "ml1_kmeans": 16}


def _unit(stat: str) -> str:
    if stat.endswith("_s"):
        return "s"
    if stat.endswith("_bytes"):
        return "B"
    if stat.endswith("_mb"):
        return "MB"
    if stat in ("task_skew", "write_amp"):
        return "ratio"
    return "count"


def per_layer_names(workload: str) -> list[str]:
    """Every workload reports every layer (0 where the layer does not
    run); iterative_graph adds its per-query job counts."""
    names = ["session.start_s", "session.warmup_s", "session.peak_rss_mb"]
    for layer, stats in LAYER_STATS.items():
        names += [f"{layer}.{s}" for s in stats]
    names += ["sinks.write_amp", "trace.op_p50_s"]
    if workload == "iterative_graph":
        names += [f"plans.build.jobs.{q}" for q in ITERATIVE]
        names += [f"plans.jobs.{q}" for q in ITERATIVE]
    return names


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """One workload: ``prepare`` builds inputs and references, ``ops``
    lists the op labels of one pass, ``run_op`` runs one op and ``check``
    verifies its result."""

    def __init__(self, spark, spans, run_dir: str, seed: int):
        self.spark, self.spans, self.run_dir, self.seed = spark, spans, run_dir, seed


class OlistRefresh(Workload):
    """extract → transform → model → aggregates → export + BI contract,
    then the three quality audits; one op is one refresh into a fresh
    output directory."""

    def prepare(self) -> None:
        import checks
        import inputs

        self.raw_dir = inputs.write_olist(os.path.join(WORK, "inputs"), self.seed)
        self.raw_bytes = inputs.raw_bytes(self.raw_dir)
        self.ref = checks.olist_reference(self.raw_dir)
        # the first refresh of this input in any run fixes the digest
        # every later refresh, in this run or another, must reproduce
        self.digest_path = os.path.join(self.raw_dir, "digest.json")
        self.first_digest = None
        if os.path.exists(self.digest_path):
            with open(self.digest_path) as f:
                self.first_digest = json.load(f)
        self.write_amps: list[float] = []

    def ops(self):
        return ("refresh",)

    def run_op(self, label, op):
        from etl_power_bi_dashboard_spark import sinks
        from etl_power_bi_dashboard_spark.operators import quality
        from etl_power_bi_dashboard_spark.operators.aggregates import create_aggregated_tables
        from etl_power_bi_dashboard_spark.operators.model import create_dimensional_model
        from etl_power_bi_dashboard_spark.operators.transform import transform_data
        from etl_power_bi_dashboard_spark.sources.olist import extract_data

        span = self.spans.span
        out_dir = os.path.join(self.run_dir, f"refresh-{op}")
        with span("sources.olist", op):
            raw = extract_data(self.spark, self.raw_dir)
        if raw is None:
            raise RuntimeError(f"extract_data found no input in {self.raw_dir}")
        with span("operators.transform", op):
            tables = transform_data(raw)
        with span("operators.model", op):
            dims, fact = create_dimensional_model(tables)
        with span("operators.aggregates", op):
            aggs = create_aggregated_tables(fact, dims)
        with span("sinks", op):
            sinks.export_star(dims, fact, aggs, out_dir)
            sinks.write_bi_contract(out_dir)
        with span("operators.quality", op):
            fk = quality.fk_violations(fact, dims)
            quality.null_audit(fact)
            reconcile = quality.reconcile_totals(fact, aggs["sales_by_date"])
        return {"out_dir": out_dir, "fk_violations": fk, "reconcile": reconcile}

    def check(self, label, result):
        import checks

        self.write_amps.append(_dir_bytes(result["out_dir"]) / self.raw_bytes)
        try:
            digest = checks.check_refresh(result, self.ref, self.first_digest)
        finally:
            shutil.rmtree(result["out_dir"], ignore_errors=True)
        if self.first_digest is None:
            self.first_digest = digest
            with open(self.digest_path + ".tmp", "w") as f:
                json.dump(digest, f)
            os.replace(self.digest_path + ".tmp", self.digest_path)


class RegistryQueries(Workload):
    """Build (``REGISTRY[q].spark``) then run one registry query."""

    def prepare(self) -> None:
        import checks
        import inputs

        self.sf_dir = inputs.write_warehouse(os.path.join(WORK, "inputs"))
        self.con = checks.duckdb_warehouse(self.sf_dir)

    def build(self, q: str, op: int):
        from etl_power_bi_dashboard_spark.plans import REGISTRY

        with self.spans.span("plans.build", op, q):
            return REGISTRY[q].spark(self.spark, self.sf_dir)


class DashboardQueries(RegistryQueries):
    def prepare(self):
        import checks
        from etl_power_bi_dashboard_spark.plans import REGISTRY

        super().prepare()
        self.refs = {q: checks.oracle_rows(self.con, REGISTRY[q].oracle) for q in DASHBOARD}

    def ops(self):
        return DASHBOARD

    def run_op(self, q, op):
        df = self.build(q, op)
        with self.spans.span("plans.exec", op, q):
            rows = df.collect()
        return df.columns, rows

    def check(self, q, result):
        import checks

        checks.check_collected(q, result[0], result[1], self.refs[q])


class IterativeGraph(RegistryQueries):
    def prepare(self):
        import checks
        from etl_power_bi_dashboard_spark.plans import REGISTRY

        super().prepare()
        self.refs = {
            "d6_dup_clusters": checks.d6_reference(
                self.con,
                REGISTRY["d6_dup_clusters"].oracle,
                os.path.join(self.sf_dir, "d6_oracle.json"),
            ),
            "ml2_pagerank": checks.pagerank_reference(self.con),
            "ml1_kmeans": checks.kmeans_reference(self.con),
        }
        self.n_points = self.con.execute("SELECT count(*) FROM embeddings").fetchone()[0]

    def ops(self):
        return ITERATIVE

    def run_op(self, q, op):
        df = self.build(q, op)
        with self.spans.span("plans.exec", op, q):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, q, df):
        import checks

        # the op's own action is a no-op sink; its result is collected
        # here, after the timed window
        rows = df.collect()
        if q == "d6_dup_clusters":
            checks.check_collected(q, df.columns, rows, self.refs[q])
        elif q == "ml2_pagerank":
            checks.check_pagerank([(r["node"], r["rank"]) for r in rows], self.refs[q])
        else:
            checks.check_kmeans(rows, self.refs[q], self.n_points)


CLASSES = {
    "olist_refresh": OlistRefresh,
    "dashboard_queries": DashboardQueries,
    "iterative_graph": IterativeGraph,
}


def _configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    switch the event log on from the launcher when tracing."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    args = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        import tracing as tr

        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args.append(tr.eventlog_submit_args(log_dir))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process started under this one (JVM, Python workers) has exited."""
    import tracing as tr
    from pyspark import SparkContext

    started = set(tr.tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while True:
        # workers outlive the JVM briefly and are re-parented when it exits
        alive = [pid for pid in started if (tr.stat_fields(str(pid)) or ["Z"])[0] != "Z"]
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_power_bi_dashboard_spark", "__init__.py")):
        print(f"no engine package under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import tracing as tr

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "inputs"), exist_ok=True)
    try:
        _configure_env(run_dir, bool(args.trace))
        # the RSS sampler only feeds a per-layer metric: keep its thread
        # out of untraced runs
        with tr.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            return _measure(args, run_dir, rss)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, run_dir: str, rss) -> int:
    import tracing as tr

    rng = random.Random(args.seed)
    # inputs and references are built before the session starts: they
    # are the benchmark's work, not the program's, and stay out of setup_s
    workload = CLASSES[args.workload](None, None, run_dir, args.seed)
    tp = time.perf_counter()
    workload.prepare()
    prepare_s = time.perf_counter() - tp

    t0 = time.perf_counter()
    from etl_power_bi_dashboard_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    workload.spark = spark
    workload.spans = tr.Spans(spark.sparkContext, enabled=False)

    warmup_ok = True
    warm = []
    t1 = time.perf_counter()
    for i, label in enumerate(workload.ops()):
        try:
            warm.append((label, workload.run_op(label, -1 - i)))
        except Exception as e:
            warmup_ok = False
            print(f"warm-up {label}: {type(e).__name__}: {e}", file=sys.stderr)
    warmup_s = time.perf_counter() - t1
    for label, result in warm:
        try:
            workload.check(label, result)
        except Exception as e:
            warmup_ok = False
            print(f"warm-up {label}: {type(e).__name__}: {e}", file=sys.stderr)
    del warm

    workload.spans.enabled = bool(args.trace)
    latencies: dict[int, float] = {}
    labels: dict[int, str] = {}
    results: dict[int, object] = {}
    errors: dict[int, str] = {}
    op = 0
    cpu0 = tr.tree_cpu_s()
    w0 = time.perf_counter()
    while True:
        order = list(workload.ops())
        rng.shuffle(order)
        for label in order:
            labels[op] = label
            t = time.perf_counter()
            try:
                results[op] = workload.run_op(label, op)
            except Exception as e:
                errors[op] = f"{type(e).__name__}: {e}"
            latencies[op] = time.perf_counter() - t
            op += 1
        if time.perf_counter() - w0 >= args.seconds:
            break
    window_s = time.perf_counter() - w0
    cpu_s = tr.tree_cpu_s() - cpu0

    for i, result in results.items():
        try:
            workload.check(labels[i], result)
        except Exception as e:
            errors[i] = f"{type(e).__name__}: {e}"
    results.clear()
    check_s = time.perf_counter() - w0 - window_s
    for i, msg in sorted(errors.items()):
        print(f"op {i} {labels[i]} failed: {msg[:500]}", file=sys.stderr)
    print(
        "latencies: " + " ".join(f"{labels[i]}={latencies[i]:.3f}" for i in latencies),
        file=sys.stderr,
    )

    spans = workload.spans.records
    ts = time.perf_counter()
    _stop_spark(spark)
    print(
        f"phases: prepare={prepare_s:.2f} start={start_s:.2f} warmup={warmup_s:.2f} "
        f"window={window_s:.2f} check={check_s:.2f} stop={time.perf_counter() - ts:.2f}",
        file=sys.stderr,
    )

    n = len(latencies)
    p50 = statistics.median(latencies.values())
    if args.trace:
        metrics = _per_layer(args, run_dir, spans, labels, n, p50, start_s, warmup_s, rss, workload)
    else:
        values = {
            "setup_s": start_s + warmup_s,
            "op_p50_s": p50,
            "ops_per_s": n / window_s,
            "cpu_s_per_op": cpu_s / n,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    print(
        f"{args.workload} seed={args.seed}: {n} ops in {window_s:.2f} s, "
        f"failed_frac={len(errors) / n:.4f}, p50={p50:.4f} s, "
        f"max={max(latencies.values()):.4f} s, setup={start_s:.2f}+{warmup_s:.2f} s"
    )
    print(json.dumps({
        "correct": warmup_ok and not errors,
        "attempted": n,
        "failed": len(errors),
        "metrics": metrics,
    }))
    return 0


def _per_layer(args, run_dir, spans, labels, n, p50, start_s, warmup_s, rss, workload) -> dict:
    import tracing as tr

    groups = tr.read_event_log(os.path.join(run_dir, "eventlog"))
    values = dict.fromkeys(per_layer_names(args.workload), 0.0)
    values["session.start_s"] = start_s
    values["session.warmup_s"] = warmup_s
    values["session.peak_rss_mb"] = rss.peak_bytes / 2**20
    values["trace.op_p50_s"] = p50
    per_span = [(s, tr.span_counters(s, groups)) for s in spans]
    for layer, stats in LAYER_STATS.items():
        mine = [c for s, c in per_span if s["layer"] == layer]
        if not mine:
            continue
        for stat in stats:
            if stat == "task_skew":
                values[f"{layer}.{stat}"] = statistics.median(c[stat] for c in mine)
            else:
                values[f"{layer}.{stat}"] = sum(c[stat] for c in mine) / n
    if isinstance(workload, OlistRefresh):
        values["sinks.write_amp"] = statistics.median(workload.write_amps)
    for q in ITERATIVE:
        ops_of_q = [i for i, label in labels.items() if label == q]
        if not ops_of_q:
            continue
        build = [c["jobs"] for s, c in per_span if s["query"] == q and s["layer"] == "plans.build"]
        every = [c["jobs"] for s, c in per_span if s["query"] == q]
        values[f"plans.build.jobs.{q}"] = sum(build) / len(ops_of_q)
        values[f"plans.jobs.{q}"] = sum(every) / len(ops_of_q)
        if q in HAND_JOB_COUNTS:
            print(
                f"self-check {q}: {values[f'plans.jobs.{q}']:g} jobs per op "
                f"(hand count at sf0.1: {HAND_JOB_COUNTS[q]})"
            )
        else:
            print(f"self-check {q}: build jobs per op {sorted(build)}")
    return {k: {"value": v, "unit": _unit(k.split(".")[-1])} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
