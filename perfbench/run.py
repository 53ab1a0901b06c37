"""Catalog benchmark: run one workload with one seed and print its
metrics; the last stdout line is the JSON result.

    python3 perfbench/run.py --workload catalog_meta --seed 1 \\
        --seconds 12 --trace 0

``--trace 0`` reports the end-to-end metrics of an untraced run.
``--trace 1`` runs the first half of the same statements three times,
each on fresh state in one session — untraced (warming the JVM), with
every layer wrapped, untraced again — and reports the per-layer metrics
of the traced pass plus the tracing overhead against the pass after it.
Statement counts are fixed per workload (so tables reach the same commit
count on every run); ``--seconds`` is the time they were sized to.
Statements still pending after 4 x ``--seconds`` (1 x in each pass of a
traced run) are not attempted, so a run ends within three minutes; they
count as failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402  (records the process start time)
from stats import median, percentile, tail_percentile  # noqa: E402

WORKLOADS = {
    "catalog_meta": ("wl_catalog", "CatalogMeta"),
    "federated_rest": ("wl_rest", "FederatedRest"),
}

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "lat_p50_ms": "ms",
             "lat_tail_ms": "ms", "read_p50_ms": "ms", "write_p50_ms": "ms"}


def workload_class(name: str):
    import importlib
    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(module), cls)


def e2e_metrics(results, setup_s: float) -> dict:
    lat = [r.lat_ms for r in results]
    ok = [r for r in results if r.error is None]
    reads = [r.lat_ms for r in results if not r.stmt.write]
    writes = [r.lat_ms for r in results if r.stmt.write]
    busy_s = sum(lat) / 1000.0
    out = {"setup_s": setup_s,
           "ops_per_s": len(ok) / busy_s if busy_s else 0.0,
           "lat_p50_ms": median(lat),
           "lat_tail_ms": percentile(lat, tail_percentile(len(lat))),
           "read_p50_ms": median(reads) if reads else 0.0,
           "write_p50_ms": median(writes) if writes else 0.0}
    return out


def extra_metrics(results) -> dict:
    """Report-only metrics that not every workload has, in ms."""
    ttfb = [r.info["ttfb_ms"] for r in results if "ttfb_ms" in r.info]
    return {"ttfb_p50_ms": median(ttfb)} if ttfb else {}


def tally(passes) -> tuple[int, int]:
    """(attempted, failed) over ``passes``. A statement a time cap left
    unattempted counts as failed, so a truncated run is not correct."""
    attempted = sum(len(p.stmts) for p in passes)
    ok = sum(r.error is None for p in passes for r in p.results)
    return attempted, attempted - ok


def layer_metrics(tracer, groups, results, untraced_ops: float,
                  traced_ops: float, extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced pass as {name: (value, unit)}, in
    report order, and report-only tracer figures."""
    from spans import layer_self_ms

    n = len(results)
    per_stmt, over = layer_self_ms(tracer)
    self_ms = sum(per_stmt.values(), Counter())
    counts = Counter(s.name for s in tracer.spans)
    errs = Counter(s.name for s in tracer.spans if s.err)
    layer_calls = Counter(s.layer for s in tracer.spans)
    ctr = sum(tracer.counters.values(), Counter())
    jobs = tasks = plan_jobs = 0
    for r in results:
        j, t = groups.jobs_and_tasks(groups.name(r.idx))
        pj, pt = groups.jobs_and_tasks(groups.name(r.idx, plan=True))
        jobs, tasks, plan_jobs = jobs + j + pj, tasks + t + pt, plan_jobs + pj
    refs = counts.get("resolver.load_table", 0) - errs.get(
        "resolver.load_table", 0)
    rest = [r for r in results if r.stmt.via != "sql"]

    def per(v, d):
        return v / d if d else 0.0

    def ms(layer):
        return per(self_ms.get(layer, 0.0), n), "ms"

    m = {
        "parser.calls": (per(layer_calls.get("parser", 0), n), "calls/stmt"),
        "parser.self_ms": ms("parser"),
        "commands.self_ms": ms("commands"),
        "model.calls_per_stmt": (per(layer_calls.get("model", 0), n),
                                 "calls/stmt"),
        "model.self_ms": ms("model"),
        "model.fs_ops_per_stmt": (per(ctr.get("fs.ops", 0), n), "ops/stmt"),
        "model.fs_bytes_read_per_stmt": (per(ctr.get("fs.bytes_read", 0), n),
                                         "B/stmt"),
        "model.fs_bytes_written_per_stmt":
            (per(ctr.get("fs.bytes_written", 0), n), "B/stmt"),
        "catalog.resolve_self_ms": ms("catalog.resolve"),
        "catalog.unit_self_ms": ms("catalog.unit"),
        "catalog.unit_loads_per_ref":
            (per(counts.get("unit.load_table", 0), refs), "loads/ref"),
        "catalog.failed_attempts_per_ref":
            (per(errs.get("resolver.load_table", 0), refs), "fails/ref"),
        "spark.exec_ms": ms("spark"),
        "spark.jobs_per_stmt": (per(jobs, n), "jobs/stmt"),
        "spark.tasks_per_stmt": (per(tasks, n), "tasks/stmt"),
        "spark.local_df_ms": ms("spark.local"),
        "sources.self_ms": ms("sources"),
        "sources.log_files_per_read":
            (per(ctr.get("sources.log_files", 0), ctr.get("sources.reads", 0)),
             "files/read"),
        "operators.plan_ms": ms("operators"),
        "operators.jobs_in_plan":
            (per(plan_jobs, ctr.get("operators.calls", 0)), "jobs/op"),
        "functions.plan_ms": ms("functions"),
        "api.encode_ms": (per(ctr.get("api.encode_ms", 0.0), n), "ms"),
        "api.rows_per_stmt": (per(ctr.get("api.rows", 0), n), "rows/stmt"),
        "api.bytes_per_stmt":
            (per(sum(r.info.get("bytes", 0) for r in rest), n), "B/stmt"),
        "api.first_row_ms": (per(ctr.get("api.first_row_ms", 0.0),
                                 ctr.get("api.first_rows", 0)), "ms"),
        "api.wait_ms": (per(sum(r.lat_ms for r in rest)
                            - ctr.get("api.handler_ms", 0.0), len(rest)),
                        "ms"),
        "api.ttfb_p50_ms": (extra.get("ttfb_p50_ms", 0.0), "ms"),
        "trace.overhead_ratio": (per(untraced_ops, traced_ops), "ratio"),
    }
    info = {"self_sum_over_latency": (len(over), "count"),
            "trace_self_ms": ms("trace"),
            "api_self_ms": ms("api"),
            "unattributed_ms": ms("stmt")}
    return m, info


def report(label: str, metrics: dict) -> None:
    """Print ``{name: (value, unit)}``, one metric a line."""
    for k, (v, unit) in metrics.items():
        print(f"{label:8s} {k:36s} {v:14.4f} {unit}")


@contextlib.contextmanager
def _phase(phases: dict, name: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        phases[name] = time.perf_counter() - t0


@dataclass
class Pass:
    stmts: list
    results: list
    t_first: float
    rss_mb: float
    extra: dict
    tracer: object = None
    groups: object = None


def run_pass(cls, env, cap_s, tag, traced=False, half=False) -> Pass:
    """One fresh-state pass: setup, statements, warm-up, timed loop over
    the statements (their first half if ``half``)."""
    wl = cls(env, tag)
    phases = {}
    try:
        with env.excluded(), _phase(phases, "inputs"):
            wl.make_inputs()
        with _phase(phases, "setup"):
            wl.setup()
        with env.excluded(), _phase(phases, "statements"):
            stmts = wl.statements()
            if half:
                stmts = stmts[:len(stmts) // 2]
        with _phase(phases, "warmup"):
            wl.warmup()
        t_first = time.perf_counter()
        tracer = groups = None
        if traced:
            import instrument
            from spans import Tracer
            tracer = Tracer()
            groups = instrument.JobGroups(env.spark.sparkContext)
            instrument.install(tracer, env.spark, groups,
                               getattr(wl, "server", None))
        try:
            with _phase(phases, "loop"):
                results = harness.run_loop(wl, stmts, cap_s, tracer, groups)
        finally:
            if tracer is not None:
                tracer.uninstall()
        print(f"phases[{tag}] " + " ".join(
            f"{k}={v:.2f}s" for k, v in phases.items()))
        return Pass(stmts, results, t_first, harness.peak_rss_mb(),
                    extra_metrics(results), tracer, groups)
    finally:
        wl.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lightning_metastore_spark")):
        print("perfbench: the lightning_metastore_spark package is not in "
              f"{ROOT}; nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench-run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    env = harness.RunEnv(run_dir, args.seed)
    cls = workload_class(args.workload)
    spark = None
    try:
        harness.configure_spark_env(run_dir, bool(args.trace))
        t0 = time.perf_counter()
        spark = env.spark = harness.start_spark()
        print(f"session_s {time.perf_counter() - t0:.2f} (process start to "
              f"session {time.perf_counter() - harness.PROCESS_T0:.2f})")
        trace = bool(args.trace)
        first = run_pass(cls, env, (1 if trace else 4) * args.seconds, "a",
                         half=trace)
        results = first.results
        setup_s = first.t_first - harness.PROCESS_T0 - env.excluded_s
        e2e = e2e_metrics(results, setup_s)
        n = len(results)
        print(f"workload {args.workload} seed {args.seed}: {n} of "
              f"{len(first.stmts)} statements, tail = p{tail_percentile(n)}")
        by_kind = {}
        for r in results:
            by_kind.setdefault(r.stmt.kind, []).append(r.lat_ms)
        for kind, lat in sorted(by_kind.items()):
            print(f"kind     {kind:36s} n={len(lat):3d} "
                  f"p50={median(lat):9.1f} ms")
        for r in results:
            if r.error is not None:
                print(f"FAILED #{r.idx} [{r.stmt.kind}] {r.stmt.text[:160]!r}"
                      f": {r.error}")
        attempted, failed = tally([first])
        if attempted > n:
            print(f"NOT ATTEMPTED {attempted - n} statements (time cap)")
        report("e2e", {k: (v, E2E_UNITS[k]) for k, v in e2e.items()})
        report("e2e", {"fail_ratio": (failed / attempted, "ratio"),
                       "peak_rss_mb": (first.rss_mb, "MB"),
                       **{k: (v, "ms") for k, v in first.extra.items()}})
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
        passes = [first]
        if args.trace:
            # the first pass warmed the JVM; compare the traced pass with
            # an untraced one that runs after it, on fresh state each
            traced = run_pass(cls, env, args.seconds, "b", traced=True,
                              half=True)
            time.sleep(1.0)  # let the listener bus deliver job events
            after = run_pass(cls, env, args.seconds, "c", half=True)
            passes += [traced, after]
            tresults, uresults = traced.results, after.results
            layers, info = layer_metrics(
                traced.tracer, traced.groups, tresults,
                e2e_metrics(uresults, 0.0)["ops_per_s"],
                e2e_metrics(tresults, 0.0)["ops_per_s"], after.extra)
            report("layer", layers)
            report("trace", info)
            traced.tracer.dump(os.path.join(
                ROOT, ".perfbench-out",
                f"trace-{args.workload}-{args.seed}.jsonl.gz"))
            metrics = {k: {"value": v, "unit": unit}
                       for k, (v, unit) in layers.items()}
        attempted, failed = tally(passes)
        print(f"wall_s {time.perf_counter() - harness.PROCESS_T0:.1f}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
