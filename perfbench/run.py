"""The repository benchmark: one workload per run, or all of them.

    python3 perfbench/run.py --workload bnpl_oltp --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

A run prints the workload's metrics by name with their units, its
provenance, and as its last line one JSON object::

    {"correct": true, "attempted": 14, "failed": 0,
     "metrics": {"latency_p50_s": {"value": 3.9, "unit": "s"}, ...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
measured in a run that records spans, streaming progress and a Spark
event log, and the trace is written to ``.perfbench_out/``. ``--workload
all`` runs every workload untraced and traced and reports the tracing
overhead (traced minus untraced) of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: units of the workload-specific names a run also prints its metrics under
NAMED_UNITS = {
    "cmd_visible_p50_s": "s", "cmd_visible_p90_s": "s",
    "status_query_p50_s": "s", "status_query_p90_s": "s",
    "commands_per_s": "1/s", "catalog_pass_s": "s",
    "catalog_query_p50_s": "s",
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def workload_module(name: str):
    if name == "bnpl_oltp":
        from perfbench import oltp
        return oltp
    if name == "catalog_mix":
        from perfbench import catalog
        return catalog
    raise SystemExit(f"unknown workload {name!r}")


def per_layer(spec: dict, res: dict, counters: dict, peak_mb: float,
              window_s: float, cores: int) -> dict:
    layers = dict(res["layers"])
    batches = layers.pop("_batches", 0)
    events = layers.pop("_events", 0)
    vals = {m["name"]: 0.0 for m in spec["per_layer"]}
    unknown = set(layers) - set(vals)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    vals.update(layers)
    vals.update({f"spark.{k}": v for k, v in counters.items()})
    vals["spark.jobs_per_batch"] = counters["jobs"] / batches if batches else 0.0
    vals["spark.cpu_util"] = counters["executor_cpu_s"] / (window_s * cores)
    if events:
        vals["sink.bytes_written_per_event"] = counters["output_bytes"] / events
    vals["session.jvm_peak_rss_mb"] = peak_mb
    vals["trace.latency_p50_s"] = res["e2e"]["latency_p50_s"]
    vals["trace.ops_per_s"] = res["e2e"]["ops_per_s"]
    return vals


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import event_streaming_bnpl_demo_spark  # noqa: F401  (fail fast if absent)

    from perfbench import harness, tracing

    spec = load_spec()
    mod = workload_module(workload)
    load_before = os.getloadavg()
    run_dir = harness.RunDir()
    try:
        harness.prepare_environment(run_dir)
        host = harness.SparkHost(run_dir, trace)
        tracer = tracing.Tracer(trace, os.path.basename(run_dir.path))
        try:
            res = mod.run(host, run_dir, seed, seconds, tracer)
            peak_mb = tracing.peak_rss_mb(host.jvm_pid() or -1)
            prov = harness.provenance(host, load_before)
        finally:
            host.close()
        units = {m["name"]: m["unit"]
                 for m in spec["end_to_end"] + spec["per_layer"]}
        if trace:
            t0_ms, t1_ms = res["window_ms"]
            counters = tracing.spark_event_log(run_dir.sub("eventlog"),
                                               t0_ms, t1_ms)
            metrics = per_layer(spec, res, counters, peak_mb,
                                (t1_ms - t0_ms) / 1e3, prov["nproc"])
            tracer.dump(os.path.join(
                harness.OUT_DIR, f"trace-{workload}-seed{seed}.json"),
                {"workload": workload, "seed": seed, "provenance": prov,
                 "end_to_end": res["e2e"], "per_layer": metrics,
                 "samples": res["samples"], "spark": counters})
        else:
            metrics = res["e2e"]
        names = [m["name"] for m in
                 spec["per_layer" if trace else "end_to_end"]]
        if set(metrics) != set(names):
            raise KeyError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(names))}")
        return {"workload": workload, "provenance": prov,
                "samples": res["samples"], "named_metrics": res["named_metrics"],
                "attempted": res["attempted"], "failed": res["failed"],
                "metrics": {n: {"value": metrics[n], "unit": units[n]}
                            for n in names}}
    finally:
        run_dir.remove()


def report(out: dict, trace: bool) -> None:
    """Human-readable lines; the caller prints the JSON line last."""
    w = out["workload"]
    print(f"provenance {json.dumps(out['provenance'], ensure_ascii=False)}")
    print(f"samples {json.dumps(out['samples'])}")
    if not trace:
        for name, value in out["named_metrics"].items():
            print(f"{w} {name} = {value:.6g} {NAMED_UNITS[name]}")
    ratio = out["failed"] / out["attempted"] if out["attempted"] else 1.0
    print(f"{w} failed_ops_ratio = {ratio:.6g} ({out['failed']}"
          f"/{out['attempted']})")
    for name, m in out["metrics"].items():
        print(f"{w} {name} = {m['value']:.6g} {m['unit']}")


def result_line(out: dict) -> str:
    return json.dumps({"correct": out["failed"] == 0,
                       "attempted": out["attempted"],
                       "failed": out["failed"],
                       "metrics": out["metrics"]})


def run_all(seed: int, seconds: float) -> None:
    """Every workload untraced, then traced, each in its own process."""
    spec = load_spec()
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in (x["name"] for x in spec["workloads"]):
        got = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{w} trace={trace} failed")
            print("\n".join(lines[:-1]))
            got[trace] = json.loads(lines[-1])
            total["correct"] &= got[trace]["correct"]
            total["attempted"] += got[trace]["attempted"]
            total["failed"] += got[trace]["failed"]
            total["metrics"].update({f"{w}.{k}": v for k, v in
                                     got[trace]["metrics"].items()})
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for name in ("latency_p50_s", "ops_per_s"):
            traced = got[1]["metrics"][f"trace.{name}"]["value"]
            base = got[0]["metrics"][name]["value"]
            print(f"{w} tracing_overhead.{name} = {traced - base:+.6g} "
                  f"{units[name]} (traced {traced:.6g}, untraced {base:.6g})")
    print(json.dumps(total))


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]] + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        run_all(args.seed, args.seconds)
        return 0
    t0 = time.perf_counter()
    out = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    report(out, bool(args.trace))
    print(f"wall_s {time.perf_counter() - t0:.1f}")
    print(result_line(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
