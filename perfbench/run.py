"""Benchmark runner.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``perfbench/.cache``; per-run scratch lives in ``perfbench/.work`` and
is removed at exit; a full record of each run (metrics with sample
counts, input sizes, check verdicts, load averages, and with
``--trace 1`` every span and stage) goes to ``perfbench/.out``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones, measured in a separate run with the layer wrappers
installed. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path) -> dict:
    """Keep Spark's and Python's scratch files inside the checkout and let
    Python workers import the program."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(tmp)
    env["SPARK_SUBMIT_OPTS"] = (
        env.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p
    )
    return dict(env)


def start_session():
    """``get_spark`` on every core, then one small warm job.

    Returns ``(spark, start_s, warmup_s)``: seconds from process start to
    a live session, and for the warm job."""
    from dw_etl_spark.session import get_spark
    from perfbench.tracing import process_age_s

    t_proc = time.perf_counter() - process_age_s()
    n = cores()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n
    )
    t_session = time.perf_counter()
    # the first job loads the scheduler and executor classes; anything
    # later is warm-up the first op pays, as a nightly job would
    spark.range(1000).count()
    t_ready = time.perf_counter()
    return spark, t_session - t_proc, t_ready - t_session


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this run started; kill stragglers."""
    from perfbench.tracing import tree_pids

    deadline = time.monotonic() + timeout
    while True:
        rest = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.2)


def install_layer_spans(tracer) -> None:
    """Wrap the public function of each layer the workloads call into."""
    from dw_etl_spark.plans import star_schema
    from dw_etl_spark.sinks import warehouse
    from perfbench.metrics import BUILDERS, OPERATORS

    tracer.patch(star_schema, "build_star_schema", "plans.build_star_schema")
    for b in BUILDERS:
        tracer.patch(star_schema, f"build_{b}", f"plans.build_{b}")
    # the ETL operators, under the names the plans module calls them by
    for group, fns in OPERATORS.items():
        for fn in fns:
            tracer.patch(star_schema, fn, f"operators.{group}")
    tracer.patch(star_schema, "read_table", "sources.read_table")
    tracer.patch(warehouse, "load_star_schema", "sinks.load_star_schema")
    tracer.patch(
        warehouse.ParquetWarehouse, "write_table",
        lambda *a, **k: f"sinks.write_table.{(a[2] if len(a) > 2 else k['spec']).name}",
    )
    tracer.patch(warehouse.ParquetWarehouse, "read_table", "sinks.read_table")


def report(run, ctx, values: dict, trace: bool) -> list[str]:
    """Human-readable lines: each metric with its unit and sample count."""
    from perfbench import metrics
    from perfbench.queries import QUERIES

    n = len(run.ops)
    durs = [o.seconds for o in run.ops]
    lines = [
        f"workload {run.workload} seed {ctx.seed} trace {int(trace)} "
        f"clients {ctx.clients} cores {run.cores} window {run.window_s:.3f}s ops {n}",
    ]
    for t, s in ctx.inputs.items():
        lines.append(f"input {t}: {s['rows']} rows, {s['bytes']} bytes")
    units = {m[0]: m[1] for m in metrics.END_TO_END}
    units.update({m.name: m.unit for m in metrics.per_layer()})
    moves = {m.name: f" -> moves {m.moves}" for m in metrics.per_layer()}
    once = ("setup_s", "session.", "proc.peak_rss_mb")  # measured once per run
    per_query = {f"sql.{q}.p50_ms": sum(o.name == q for o in run.ops) for q in QUERIES}
    for k, v in values.items():
        n_k = 1 if k.startswith(once) else per_query.get(k, n)
        lines.append(f"metric {k} = {v:.6g} {units[k]} (n={n_k}){moves.get(k, '')}")
    if run.workload == "etl_nightly":
        lines.append(f"etl_cold_s = {durs[0]:.3f} s (n=1)")
    else:
        ms = [d * 1000.0 for d in durs]
        lines.append(f"bi_p50_ms = {metrics.percentile(ms, 50):.1f} ms (n={n})")
        p = metrics.tail_percentile(n)
        lines.append(
            f"bi_p{p:g}_ms = {metrics.percentile(ms, p):.1f} ms (n={n})"
            if p and p > 50 else f"bi tail = n/a (n={n} leaves <10 samples beyond p90)"
        )
        lines.append(f"bi_qps = {n / run.window_s:.3f} 1/s (n={n})")
    lines.append(f"peak_rss_mb = {run.peak_rss_mb:.1f} MB (n=1)")
    failed = sum(not o.ok for o in run.ops)
    lines.append(f"error_rate = {metrics.error_rate(run.ops):.4f} ({failed}/{n})")
    lines.append("check: " + ("ok" if not ctx.checks else "; ".join(ctx.checks[:5])))
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_nightly", "bi_dashboard"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("dw_etl_spark", "tools/gen_sf.py", "__spark_entry__.py")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    from perfbench import metrics, workloads
    from perfbench.tracing import EngineCounters, Tracer, tree_peak_rss_mb

    work = BENCH / ".work" / f"{args.workload}-{os.getpid()}"
    cache = BENCH / ".cache"
    out_dir = BENCH / ".out"
    for d in (cache, out_dir):
        d.mkdir(parents=True, exist_ok=True)
    env = configure_env(work)
    load_before = os.getloadavg()

    spark = None
    try:
        spark, start_s, warmup_s = start_session()
        sc = spark.sparkContext
        tracer = Tracer(sc if args.trace else None)
        ctx = workloads.Context(
            spark=spark, tracer=tracer,
            engine=EngineCounters(sc) if args.trace else None,
            seed=args.seed, seconds=args.seconds, cache=cache, work=work, env=env,
            clients=workloads.BI_CLIENTS if args.workload == "bi_dashboard" else 1,
        )
        if args.trace:
            install_layer_spans(tracer)
            ctx.engine.collect()  # set-up's jobs are not an op's
        workloads.WORKLOADS[args.workload](ctx)
        rss_by_process = tree_peak_rss_mb(os.getpid())
        tracer.unpatch()
    finally:
        if spark is not None:
            stop_session(spark)
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)

    run = metrics.Run(
        workload=args.workload, cores=cores(),
        setup_start_s=start_s, setup_warmup_s=warmup_s,
        ops=ctx.ops, window_s=ctx.window_s, peak_rss_mb=sum(rss_by_process.values()),
        proc_cpu_s=ctx.cpu_s,
        input_bytes=ctx.input_bytes, pinned_mb=ctx.pinned,
        spans=tracer.finished(), jobs=ctx.jobs, stages=ctx.stages,
        overhead_s=tracer.overhead_s,
    )
    if args.trace:
        values = metrics.layers(run)
        units = {m.name: m.unit for m in metrics.per_layer()}
    else:
        values = metrics.end_to_end(run)
        units = {m[0]: m[1] for m in metrics.END_TO_END}
    lines = report(run, ctx, values, bool(args.trace))
    load_after = os.getloadavg()
    lines.append(f"loadavg before {load_before} after {load_after}")
    print("\n".join(lines))

    failed = sum(not o.ok for o in run.ops)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": ctx.inputs, "report": lines,
        "metrics": values, "checks": ctx.checks, "peak_rss_mb": rss_by_process,
        "ops": [vars(o) for o in run.ops],
        "loadavg_before": load_before, "loadavg_after": load_after,
    }
    if args.trace:
        record |= {"spans": tracer.dump(), "jobs": ctx.jobs, "stages": ctx.stages}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(record, indent=1, default=str))

    print(json.dumps({
        "correct": failed == 0 and not ctx.checks,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
