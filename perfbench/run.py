#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a detail record and, as the last
line, one JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything it writes stays under .perfbench_work/ (removed at exit) and
.perfbench_out/ (the detail and trace records).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MAX_ERRORS = 3
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def measure(wl, spark, tr, n_iter: int, start_k: int) -> list:
    """``n_iter`` iterations; one that raises counts as a failed operation."""
    from perfbench.workloads import Result

    out, errors = [], 0
    for k in range(start_k, start_k + n_iter):
        try:
            res = wl.iteration(spark, tr, k)
        except Exception:
            traceback.print_exc()
            res = Result()
            res.check("iteration_raised", False)
            errors += 1
        out.append(res)
        if errors >= MAX_ERRORS:
            break
    return out


def timing(values: list) -> dict:
    """Median plus the highest percentile with >= 10 samples beyond it."""
    v = sorted(values)
    rec = {"n": len(v), "median": statistics.median(v) if v else None}
    if len(v) > 10:
        p = int(100 * (len(v) - 10) / len(v))
        rec[f"p{p}"] = v[min(len(v) - 1, int(len(v) * p / 100))]
    return rec


def end_to_end(results: list, setup_s: float) -> dict:
    """Medians over the run's iterations."""
    ok = [r for r in results if r.wall > 0]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "run_s": {"value": statistics.median(r.wall for r in ok) if ok else 0.0, "unit": "s"},
        "docs_per_s": {
            "value": statistics.median(r.docs / r.wall for r in ok) if ok else 0.0,
            "unit": "docs/s",
        },
    }


def per_layer(wl, spark, tr, work: str, seed: int, guard) -> tuple:
    """The layer probe. Returns ({metric: value}, {check: ok})."""
    from perfbench import harness, inputs, probe
    from perfbench.workloads import run_chain, table_hash

    path = wl.docs_input
    if path is None:
        path = probe.curation_input(spark, wl.corpus.path, work)
    m = probe.extract_layers(spark, tr, path, work)
    log("extract legs done")
    job_out = m.pop("_job_out")
    spans_per_s, ref = probe.local_kernel(path)
    m["extract.local_spans_per_s"] = spans_per_s
    m.update(probe.read_side(spark, tr, job_out))
    stream, ok = probe.stream_leg(spark, tr, path, work, table_hash(ref))
    m.update(stream)
    checks = {"stream_sink_eq_batch": ok}
    log("read/maintenance/stream legs done")
    if wl.name != "curation":
        small = inputs.write_curation_dir(seed, os.path.join(work, "sf_probe"), 600, 300)
        run_chain(spark, tr, small.path)
    m["guards.dropped_keys"] = guard.dropped
    m["host.calib_s"] = harness.calibrate(spark)
    return m, checks


def max_rss_mb() -> dict:
    """Max RSS of this process and of its largest reaped child (the JVM),
    read once, after shutdown."""
    kb = {"driver": resource.RUSAGE_SELF, "largest_child": resource.RUSAGE_CHILDREN}
    return {k: resource.getrusage(who).ru_maxrss / 1024 for k, who in kb.items()}


def per_layer_units() -> dict:
    """name -> unit of every per-layer metric BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def engine_layer(rec: dict, tr, traced: list) -> dict:
    """Per traced iteration engine totals, and per chain operator numbers."""
    from perfbench import harness
    from perfbench.workloads import CHAIN

    n_it = max(1, len(traced))
    out = {}
    tot = harness.engine_totals(rec, lambda d: d.startswith("it|"))
    for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "jobs", "stages"):
        out[f"spark.{k}"] = tot[k] / n_it
    out["spark.task_skew"] = tot["task_skew"]
    for op in CHAIN:
        spans = [s for s in tr.spans if s["name"] == f"op:{op}"]
        n = max(1, len(spans))
        t = harness.engine_totals(rec, lambda d, op=op: d.endswith(f"|op:{op}"))
        out[f"{op}.s"] = sum(s["end"] - s["start"] for s in spans) / n
        out[f"{op}.shuffle_bytes"] = t["shuffle_write_bytes"] / n
        out[f"{op}.exchanges"] = t["exchanges"] / n
        out[f"{op}.jobs"] = t["jobs"] / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    import logging

    from perfbench import harness
    from perfbench.workloads import WORKLOADS, GuardCounter

    work = harness.reset_dir(os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    load_before, steal_before = os.getloadavg(), harness.cpu_steal_s()
    guard = GuardCounter()
    logging.getLogger("pdfplucker_spark.plans.guards").addHandler(guard)
    wl = WORKLOADS[a.workload](a.seed, work)
    wl.guard = guard
    spark = None
    try:
        wl.prepare()
        log("inputs ready")
        # peak RSS is sampled on traced runs only: the sampler walks /proc
        # in the process being timed
        with harness.RssSampler() if a.trace else contextlib.nullcontext() as rss:
            spark, setup_s = harness.setup(work, bool(a.trace), wl.warm_up)
            host = harness.host_record(spark)
            log(f"set-up {setup_s:.2f}s")
            # --seconds fixes the work per run: a whole number of iterations
            # of the workload's nominal length, the same on every run
            n_iter = max(1, round(a.seconds / wl.NOMINAL_S / (2 if a.trace else 1)))
            untraced = measure(wl, spark, harness.Tracer(spark, "it", False), n_iter, 0)
            checks: dict = {}
            results, traced, layers = untraced, [], {}
            log(f"untraced iterations {[round(r.wall, 2) for r in untraced]}")
            if a.trace:
                # traced and untraced iterations alternate, so the overhead
                # compares iterations at the same point of warm-up
                tr = harness.Tracer(spark, "it", True)
                off = harness.Tracer(spark, "it", False)
                traced, paired = [], []
                for _ in range(n_iter):
                    traced += measure(wl, spark, tr, 1, len(untraced) + 2 * len(traced))
                    paired += measure(wl, spark, off, 1, len(untraced) + 2 * len(traced) - 1)
                log(f"traced iterations {[round(r.wall, 2) for r in traced]}")
                tr.run_id = "probe"
                layers, checks = per_layer(wl, spark, tr, work, a.seed, guard)
                results = untraced + traced + paired
            checks.update(wl.final_checks(spark))
            log("final checks done")
        log("measured")
        harness.shutdown(spark)
        spark = None
        log("stopped")
        if a.trace:
            stages = harness.stage_records(harness.read_event_log(work))
            layers.update(engine_layer(stages, tr, traced))
            layers["trace.overhead_s"] = statistics.median(r.wall for r in traced) - statistics.median(
                r.wall for r in paired
            )
            layers["trace.spans"] = len(tr.spans)
            layers["mem.peak_rss_mb"] = rss.peak / 2**20
        outcomes = list(checks.items()) + [kv for r in results for kv in r.checks.items()]
        failed = sorted(name for name, ok in outcomes if not ok)
        detail = {
            "workload": a.workload,
            "seed": a.seed,
            "trace": a.trace,
            "host": {
                **host,
                "loadavg_before": load_before,
                "loadavg_after": os.getloadavg(),
                "cpu_steal_s": harness.cpu_steal_s() - steal_before,
            },
            "max_rss_mb": max_rss_mb(),
            "setup_s": setup_s,
            "run_s": timing([r.wall for r in untraced]),
            "iterations_s": [r.wall for r in untraced],
            "steps": {
                k: timing([r.steps[k] for r in untraced if k in r.steps])
                for k in sorted({k for r in untraced for k in r.steps})
            },
            "failed_checks": failed,
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            trace = {}
            if a.trace:
                trace = {
                    "spans": tr.spans,
                    "self_s": tr.self_times(),
                    "stages": {
                        sid: {k: v for k, v in st.items() if k != "durations"}
                        for sid, st in stages["stages"].items()
                    },
                }
            json.dump({**detail, **trace}, f)
        print(json.dumps(detail))
        if a.trace:
            units = per_layer_units()
            metrics = {k: {"value": layers[k], "unit": u} for k, u in sorted(units.items())}
        else:
            metrics = end_to_end(untraced, setup_s)
        print(
            json.dumps(
                {"correct": not failed, "attempted": len(outcomes), "failed": len(failed), "metrics": metrics}
            )
        )
        return 0
    finally:
        if spark is not None:
            harness.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
