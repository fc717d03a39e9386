"""Benchmark of the engine: three workloads, end-to-end and per-layer.

    python3 edubench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 edubench/run.py --workload all --seed N --seconds S

Workloads: ``edu_full_build`` (DAG runner), ``edu_incremental_ci``
(incremental merge + slim CI), ``query_mix`` (ad-hoc queries). Each run
starts its own SparkSession in a private directory under the checkout,
sets up its inputs from ``--seed``, warms up untimed, repeats its timed
unit for ``--seconds`` seconds and checks the outputs. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics with ``--trace 1``). See README.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, Harness, log, median  # noqa: E402

sys.path.insert(1, ROOT)

WORKLOADS = ["edu_full_build", "edu_incremental_ci", "query_mix"]
MIN_UNITS = 4
MIN_TRACED_UNITS = 6  # traced and untraced alternate
MAX_UNITS = 200


def _workload(name: str, h: Harness, toy: bool):
    if name == "edu_full_build":
        from wl_build import EduFullBuild
        return EduFullBuild(h, toy)
    if name == "edu_incremental_ci":
        from wl_incremental import EduIncrementalCI
        return EduIncrementalCI(h, toy)
    from wl_queries import QueryMix
    return QueryMix(h, toy)


def run(name: str, seed: int, seconds: float, trace: bool, toy: bool) -> dict:
    h = Harness(name, seed, trace)
    tracer = h.tracer
    try:
        session_s = h.start_spark()
        wl = _workload(name, h, toy)
        query_names = getattr(wl, "query_names", [])
        if trace:
            import layers
            layers.install(h, query_names)

        # set-up, repeated; in the traced run later repetitions alternate
        # traced and untraced so the tracing overhead can be read off
        # without the cold first one
        reps: list[tuple[float, bool]] = []
        for i in range(wl.setup_reps):
            tracer.active, tracer.unit = trace and i % 2 == 1, -(i + 1)
            t0 = time.perf_counter()
            with tracer.span("setup"):
                wl.setup_data()
            reps.append((time.perf_counter() - t0, tracer.active))
        tracer.active, tracer.unit = False, None
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        setup_s = session_s + median([r for r, _ in reps]) + prepare_s
        log(f"[{name}] seed {seed}: set-up {setup_s:.2f}s (session {session_s:.2f}s)")

        t0 = time.perf_counter()
        wl.warmup()
        log(f"[{name}] warm-up {time.perf_counter() - t0:.2f}s")
        units: list[tuple[float, bool, object]] = []
        min_units = MIN_TRACED_UNITS if trace else MIN_UNITS
        start = time.perf_counter()
        while len(units) < MAX_UNITS and (
            time.perf_counter() - start < seconds or len(units) < min_units
        ):
            h.collect_garbage()
            tracer.active, tracer.unit = trace and len(units) % 2 == 0, len(units)
            with tracer.span("unit") as span:
                timed = wl.unit()
            units.append((timed, tracer.active, span))
            tracer.active = False
        measured_s = time.perf_counter() - start
        log(f"[{name}] units: {' '.join(f'{u[0]:.3f}' for u in units)}")
        t0 = time.perf_counter()
        wl.check()
        log(f"[{name}] {len(units)} units in {measured_s:.2f}s, check {time.perf_counter() - t0:.2f}s")
        peak_rss_mb = h.peak_rss_mb()
    except BaseException:
        h.stop_spark()
        h.cleanup()
        raise
    h.stop_spark()

    # The JIT keeps speeding the engine up for tens of seconds after the
    # warm-up unit: the first third of the window is further warm-up and
    # the figures come from the rest.
    skip = len(units) // 3
    steady = units[skip:]
    named = (wl.named_metrics(skip) if hasattr(wl, "named_metrics")
             else {wl.unit_metric: (median([u[0] for u in steady]), "s")})
    attempted = h.attempted
    failed = len(h.failures)
    e2e = {
        "unit_s": (median([u[0] for u in steady if not u[1]]), "s"),
        "setup_s": (setup_s, "s"),
    }
    report = {**named, **e2e, "peak_rss_mb": (peak_rss_mb, "MB"),
              "error_rate": (failed / attempted, "ratio"),
              "units": (len(units), "count"), "measured_s": (measured_s, "s")}
    for f in h.failures[:20]:
        log(f"[{name}] FAILED: {f}")

    if trace:
        import layers
        from spans import read_event_log

        path = h.event_log_path()
        if path is None:
            raise RuntimeError("no event log written")
        traced = [(u[2], u[0]) for u in steady if u[1]]
        metrics = layers.layer_metrics(
            h, read_event_log(path), traced, getattr(wl, "edu_source_rows", 0),
        )
        metrics["session.start_s"] = session_s
        metrics["mem.peak_rss_mb"] = peak_rss_mb
        untraced = [u[0] for u in steady if not u[1]]
        metrics["overhead.unit_s"] = median([t for _, t in traced]) - median(untraced)
        metrics["overhead.setup_s"] = (
            median([r for r, on in reps[1:] if on]) - median([r for r, on in reps[1:] if not on])
        )
        contract = _contract("per_layer")
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in contract.items()}
        report.update((k, (v, _unit(k))) for k, v in sorted(metrics.items()))
        trace_dir = os.path.join(ROOT, ".bench_run", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{name}-seed{seed}.json"))
    else:
        out_metrics = {k: {"value": e2e[k][0], "unit": u}
                       for k, u in _contract("end_to_end").items()}
    h.cleanup()

    print(f"{name} seed={seed} trace={int(trace)}")
    for k, (v, u) in report.items():
        print(f"  {k:<40} {v:14.4f} {u}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out_metrics}


def _contract(kind: str) -> dict[str, str]:
    """Metric names and units the result line carries, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_frac", "_ratio", "_amp")):
        return "ratio"
    if metric.endswith(("bytes_written", "copy_bytes")):
        return "bytes"
    return "count"


def run_all(seed: int, seconds: float, toy: bool) -> dict:
    """Every workload, each in its own process."""
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        if toy:
            cmd.append("--toy")
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        lines = out.strip().splitlines()
        print("\n".join(lines[:-1]))
        results[name] = json.loads(lines[-1])
    return {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--toy", action="store_true",
                   help="tiny inputs, for the harness self-test")
    a = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dbt_incremental_ci_spark")):
        log(f"engine package not found under {ROOT}")
        return 2
    if a.workload == "all":
        result = run_all(a.seed, a.seconds, a.toy)
    else:
        result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.toy)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
