"""One benchmark run inside its own process (started by perfbench/run.py,
which keeps this process's stdout and stderr off the result stream).

    set-up   session start + input generation (x3, must be byte-identical;
             the median counts) + one untimed warm pass
    timed    whole passes, started while less than --seconds has elapsed
             or fewer than three ran
    traced   (--trace 1 only, instead of timed) untraced and traced passes
             alternately; spans are installed around traced passes only
    check    every output of every pass, outside the timed region

Writes one JSON document to --result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, trace, workloads  # noqa: E402

# Modules whose public functions get spans in the traced run, with the
# metric prefix of each.
TRACED_MODULES = {
    "gtec_etl_spark.sources.validated": "sources.validated",
    "gtec_etl_spark.pipelines": "pipelines",
    "gtec_etl_spark.sinks.tabular": "sinks.tabular",
    "gtec_etl_spark.sinks.jsonld": "sinks.jsonld",
    "gtec_etl_spark.sinks.bdbag": "sinks.bdbag",
    "gtec_etl_spark.catalog": "catalog",
    "gtec_etl_spark.operators.scale": "operators.scale",
}


def plans_modules() -> list[str]:
    """Every plans module that appears in some mix; each reports build and
    exec time on every workload (zero where the workload does not use it)."""
    from gtec_etl_spark.plans import registry

    specs = registry.specs()
    mixes = workloads.ANALYTICS_MIX + workloads.CORPUS_MIX
    return sorted({specs[n].fn.__module__.rsplit(".", 1)[-1] for n in mixes})


def run_passes(wl, budget_s: float, min_passes: int = 3):
    """Closed loop: whole passes, starting another while less than
    `budget_s` has elapsed or fewer than `min_passes` ran. The first pass
    after the warm pass is often the slowest; with three or more the median
    does not depend on it, and the pass count no longer depends on speed."""
    done, t0 = [], time.perf_counter()
    while time.perf_counter() - t0 < budget_s or len(done) < min_passes:
        done.append((len(done), wl.run_pass(len(done))))
    return done


def run_traced_passes(wl, budget_s: float, tracer, tree):
    """Pairs of one untraced and one traced pass, started while less than
    `budget_s` has elapsed, so that drift over the run (the JIT settling,
    co-tenant load) falls on both alike. Spans are installed only around
    traced passes. Returns (untraced, traced, CPU seconds per process class
    over the traced passes, their epoch-ms windows)."""
    untraced, traced, windows = [], [], []
    cpu = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < budget_s:
        pid = 2 * len(traced)
        untraced.append((pid, wl.run_pass(pid)))
        for mod, prefix in TRACED_MODULES.items():
            tracer.install(importlib.import_module(mod), prefix)
        c0, w0 = tree.cpu(), time.time() * 1e3
        tracer.pass_id = pid + 1
        try:
            traced.append((pid + 1, wl.run_pass(pid + 1)))
        finally:
            tracer.pass_id = None
            c1, w1 = tree.cpu(), time.time() * 1e3
            tracer.uninstall()
        windows.append((w0, w1))
        for k in cpu:
            cpu[k] += c1[k] - c0[k]
    return untraced, traced, cpu, windows


def pass_times(passes) -> list[float]:
    return [sum(op.latency_s for op in ops) for _, ops in passes]


def layer_metrics(tracer, wl, traced, cpu, events, windows, overhead_s):
    n = len(traced)
    spans = tracer.spans

    def total(name: str, self_time: bool = False) -> float:
        return sum(s.self_s if self_time else s.dur for s in tracer.by_name(name)) / n

    def calls(name: str) -> float:
        return len(tracer.by_name(name)) / n

    m: dict[str, tuple[float, str]] = {}
    v = "sources.validated"
    m[f"{v}.read_tsv_s"] = (total(f"{v}.read_tsv"), "s")
    m[f"{v}.assert_valid_s"] = (total(f"{v}.assert_valid"), "s")
    rows_in = 0
    if isinstance(wl, workloads.Release):
        rows_in = sum(wl.src.rows_in(s.args[1]) for s in tracer.by_name(f"{v}.read_tsv"))
    m[f"{v}.rows_in"] = (rows_in / n, "count")
    m["pipelines.run_gtex_like_etl_s"] = (total("pipelines.run_gtex_like_etl", True), "s")
    m["pipelines.audit_s"] = (total("pipelines.audit"), "s")
    m["pipelines.export_release_s"] = (total("pipelines.export_release"), "s")
    m["sinks.tabular.write_tsv_dump_s"] = (total("sinks.tabular.write_tsv_dump"), "s")
    m["sinks.tabular.finalize_deterministic_dir_s"] = (
        total("sinks.tabular.finalize_deterministic_dir"), "s")
    m["sinks.jsonld.write_documents_s"] = (total("sinks.jsonld.write_documents"), "s")
    make_bag = total("sinks.bdbag.make_bag")
    payload = sum(s.result["payload_bytes"] for s in tracer.by_name("sinks.bdbag.make_bag"))
    payload_mb = payload / 2**20 / n
    m["sinks.bdbag.make_bag_s"] = (make_bag, "s")
    m["sinks.bdbag.verify_bag_s"] = (total("sinks.bdbag.verify_bag"), "s")
    m["sinks.bdbag.payload_mb"] = (payload_mb, "MB")
    m["sinks.bdbag.hash_mb_per_s"] = (payload_mb / make_bag if make_bag else 0.0, "MB/s")
    m["catalog.table_s"] = (total("catalog.table"), "s")
    m["catalog.table_calls"] = (calls("catalog.table"), "count")
    for mod in plans_modules():
        m[f"plans.{mod}.build_s"] = (total(f"plans.{mod}.build"), "s")
        m[f"plans.{mod}.exec_s"] = (total(f"plans.{mod}.exec"), "s")
    fan = tracer.by_name("operators.scale.cpu_fanout_repartition")
    m["operators.scale.fanout_calls"] = (len(fan) / n, "count")
    m["operators.scale.fanout_applied"] = (
        sum(1 for s in fan if s.result is not s.args[0]) / n, "count")
    m["operators.scale.fanout_s"] = (sum(s.dur for s in fan) / n, "s")
    for cls in ("driver_py", "jvm", "pyworker"):
        m[f"proc.{cls}_cpu_s"] = (cpu[cls] / n, "s")
    sc = trace.spark_counts(events, windows)
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "input_records": "count", "task_skew_max": "ratio"}
    for k, val in sc.items():
        unit = units.get(k, "MB" if k.endswith("_mb") else "s")
        m[f"spark.{k}"] = (val if k == "task_skew_max" else val / n, unit)
    top = sum(s.dur for s in spans if s.parent is None)
    m["trace.span_coverage"] = (top / sum(pass_times(traced)), "ratio")
    m["trace.overhead_s"] = (overhead_s, "s")
    m["trace.passes"] = (n, "count")
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    import pyarrow
    import pyspark

    from gtec_etl_spark.session import get_spark

    tree = trace.ProcTree()
    cpus = len(os.sched_getaffinity(0))
    stamp = {
        "nproc": cpus,
        "load_1m_before": os.getloadavg()[0],
        "steal_s_before": trace.steal_s(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }
    tracer = trace.Tracer()
    with trace.RssSampler(tree) as rss:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        stamp["defaultParallelism"] = spark.sparkContext.defaultParallelism
        stamp["driver_memory"] = spark.conf.get("spark.driver.memory")

        wl = workloads.WORKLOADS[args.workload](spark, args.work_dir, args.seed, tracer)
        gen_s, digests = [], []
        for i in range(3):
            d = os.path.join(args.work_dir, "inputs", f"gen{i}")
            t = time.perf_counter()
            wl.generate(d)
            gen_s.append(time.perf_counter() - t)
            digests.append(inputs.dir_digest(d))
        inputs_op = workloads.Op("inputs", sum(gen_s), len(set(digests)) == 1,
                                 "same seed gave different inputs")
        t = time.perf_counter()
        warm = wl.run_pass(-1)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s

        steal0, t0 = trace.steal_s(), time.perf_counter()
        if not args.trace:
            cpu0 = tree.cpu()
            timed = run_passes(wl, args.seconds)
            cpu1 = tree.cpu()
        else:
            untraced, timed, cpu, windows = run_traced_passes(
                wl, args.seconds, tracer, tree)
        stamp["steal_share_timed"] = (trace.steal_s() - steal0) / (
            (time.perf_counter() - t0) * cpus)
        spark.stop()
    stamp["load_1m_after"] = os.getloadavg()[0]
    stamp["steal_s_run"] = trace.steal_s() - stamp.pop("steal_s_before")

    wl.check()
    ops = [op for _, p in timed for op in p]
    checked = [inputs_op] + warm + ops
    if args.trace:
        checked += [op for _, p in untraced for op in p]
    failed = [op for op in checked if not op.ok]
    lat = [op.latency_s for op in ops]
    stamp.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "pass_times_s": pass_times(timed), "operations": len(ops),
        "session_s": session_s, "generate_s": statistics.median(gen_s),
        "warm_s": warm_s, "peak_rss_mb": rss.peak_mb,
        "op_p50_s": statistics.median(lat),
        "op_p90_s": (statistics.quantiles(lat, n=10, method="inclusive")[8]
                     if len(lat) > 1 else lat[0]),
        "op_median_s": {
            name: statistics.median(o.latency_s for o in ops if o.name == name)
            for name in sorted({o.name for o in ops})
        },
    })
    if isinstance(wl, workloads.Release):
        stamp["bag_sha256"] = wl.bag_sha256()

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(pass_times(timed)), "s"),
            "pass_cpu_s": ((sum(cpu1.values()) - sum(cpu0.values())) / len(timed), "s"),
            "output_mb": (wl.output_mb(), "MB"),
        }
    else:
        overhead = (statistics.median(pass_times(timed))
                    - statistics.median(pass_times(untraced)))
        events = trace.read_event_log(os.path.join(args.work_dir, "eventlog"))
        metrics = layer_metrics(tracer, wl, timed, cpu, events, windows, overhead)
    result = {
        "correct": not failed,
        "attempted": len(checked),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    for op in failed:
        print(f"FAILED {op.name}: {op.detail}", file=sys.stderr)
    with open(args.result, "w") as f:
        json.dump({"stamp": stamp, "result": result,
                   "failures": [f"{op.name}: {op.detail}" for op in failed]}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
