"""Repository benchmark: drives the engine through its public entry points
on one workload, in one client process running a closed loop on
``local[$SPARK_GRAFT_CPUS]``.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 18 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run (Spark event log on, spans around each layer) with ``--trace 1``. The
line before it (``# detail``) names every number the workload measured,
and the full per-layer report is written to
``.perfbench_work/reports/``. ``perfbench/layers.json`` records why each
workload exists and which end-to-end metric each layer metric should
move.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

WORKLOADS = ("etl_backfill", "table_sql_mix")
# event-log times have millisecond resolution
ACCOUNTING_TOLERANCE_MS = 2.0


def _load_workload(name: str):
    if name == "etl_backfill":
        import wl_etl as mod
    else:
        import wl_sql as mod
    return mod.Workload


def _start(workload, work: str, trace: bool):
    from data_management_service_run_etl_imputations_spark import catalog
    from data_management_service_run_etl_imputations_spark.session import get_session

    spark = get_session(app_name=f"perfbench-{workload.name}", extra_conf=H.session_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, catalog


def _setup(workload, work: str, trace: bool) -> tuple[object, dict]:
    """Cold set-up, as a user pays it once per process: imports, session
    start (the JVM launch), the catalog load and the workload's first op.
    ``setup_s`` takes the CPU steal out of each phase as ops do; over ten
    runs on a 4-vCPU KVM guest its spread was 26% raw and 5% adjusted."""
    (spark, catalog), start = H.timed(_start, workload, work, trace)
    _, cat = H.timed(catalog.headline_queries)
    _, first = H.timed(workload.first_op, spark)
    phases = [start, cat, first]
    return spark, {
        "setup_s": sum(H.adjusted_s(p) for p in phases),
        "setup_raw_s": sum(p["wall_s"] for p in phases),
        "session.get_session_s": start["wall_s"],
        "catalog.headline_queries_s": cat["wall_s"],
        "setup_phases": [[round(p["wall_s"], 3), round(p["stolen_s"], 2)] for p in phases],
    }


def _end_to_end(tracer: H.Tracer, seconds_measured: float, setup: dict, rss: float) -> dict:
    """The numbers every workload reports. ``op_latency_adj_s`` is the mean
    latency of the loop's ops, each with the CPU steal during it taken out
    (``harness.adjusted_s``); the loop runs the same ops in every run of a
    workload and seed, so the mean covers the same work. The raw mean and
    the CPU seconds per op are detail."""
    ops = tracer.ops()
    wall = [s["wall_s"] for s in ops]
    return {
        "setup_s": setup["setup_s"],
        "op_latency_adj_s": statistics.fmean(H.adjusted_s(s) for s in ops),
        "op_latency_s": statistics.fmean(wall),
        "op_cpu_s": statistics.fmean(s["cpu_s"] for s in ops),
        "stolen_vcpu_s_per_s": sum(s["stolen_s"] for s in ops) / sum(wall),
        "ops_per_s": len(ops) / seconds_measured,
        "peak_rss_mb": rss,
        "op_tail_s": H.tail(wall),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    root = os.getcwd()
    sys.path.insert(0, root)
    load_start = os.getloadavg()[0]

    work = H.prepare_env(root, args.workload)
    spark = None
    try:
        workload = _load_workload(args.workload)(work, args.seed)
        spark, setup = _setup(workload, work, trace)
        result, report = _measure(workload, spark, setup, args, root, work, load_start)
        _write_report(root, args, report)
        print("# detail " + json.dumps(report["detail"], default=str, sort_keys=True))
        print(json.dumps(result))
    finally:
        if spark is not None:
            H.shutdown(spark)
        H.cleanup(work)
    return 0


def _measure(workload, spark, setup: dict, args, root: str, work: str, load_start: float):
    trace = bool(args.trace)
    tracer = H.Tracer(spark, trace)
    workload.install_spans(tracer)
    # a fixed number of loop steps, about --seconds on the reference host,
    # so every run of a seed times the same ops
    steps = max(1, round(args.seconds / workload.STEP_S))
    t0 = time.perf_counter()
    workload.loop(spark, tracer, steps)
    measured = time.perf_counter() - t0
    workload.verify(spark, tracer)
    rss = H.peak_rss_mb(spark)
    stamp = H.stamp(spark, root, load_start)

    ops = tracer.ops()
    metrics = _end_to_end(tracer, measured, setup, rss)
    attempted = len(ops) + 1  # the set-up's first op counts
    failed = min(attempted, sum(1 for s in ops if not s.get("ok", True)) + workload.failed_other)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "steps": steps,
        "measured_s": measured,
        "ops": [
            [s["kind"], round(s["wall_s"], 3), round(s["cpu_s"], 2), round(s["stolen_s"], 2)] for s in ops
        ],
        "failed_frac": failed / attempted,
        "failures": workload.failures[:20],
        "stamp": stamp,
        **setup,
        **metrics,
        **workload.detail(tracer),
    }
    if trace:
        spark.stop()  # flushes the event log
        log = H.read_event_log(work)
        folded = H.fold_ops(tracer, log)
        n = max(1, len(ops))
        layer = {
            "session.get_session_s": setup["session.get_session_s"],
            "catalog.headline_queries_s": setup["catalog.headline_queries_s"],
            **H.spark_means(ops),
            "pyworker.rows": folded["pyworker"]["rows"] / n,
            "pyworker.bytes": folded["pyworker"]["bytes"] / n,
            "trace.accounting_residual_ms": folded["accounting_max_residual_ms"],
            **workload.per_layer(tracer, log),
        }
        detail["per_kind"] = {
            kind: H.spark_means(tracer.ops(kind)) for kind in sorted({s["kind"] for s in ops})
        }
        detail["accounting_ok"] = folded["accounting_max_residual_ms"] <= ACCOUNTING_TOLERANCE_MS
        detail["overhead"] = _overhead(root, args, metrics)
        out = {k: layer.get(k, 0.0) for k in _names("per_layer")}
        report = {"detail": detail, "per_layer": layer, "spans": tracer.spans}
    else:
        out = {k: metrics[k] for k in _names("end_to_end")}
        report = {"detail": detail, "end_to_end": out}
    units = _units()
    result = {
        "correct": failed == 0 and not workload.failures and detail.get("accounting_ok", True),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out.items()},
    }
    return result, report


def _benchmark() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def _names(section: str) -> list[str]:
    return [m["name"] for m in _benchmark()[section]]


def _units() -> dict[str, str]:
    bench = _benchmark()
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def _write_report(root: str, args, report: dict) -> None:
    d = os.path.join(root, H.WORK_ROOT, "reports")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(p, "w") as f:
        json.dump(report, f, default=str, indent=1)


def _overhead(root: str, args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end numbers, against the untraced
    report of the same workload and seed when one exists."""
    p = os.path.join(root, H.WORK_ROOT, "reports", f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(p) as f:
            base = json.load(f)["end_to_end"]
    except (OSError, ValueError, KeyError):
        return None
    return {k: traced[k] - base[k] for k in base if isinstance(base[k], (int, float))}


if __name__ == "__main__":
    sys.exit(main())
