#!/usr/bin/env python3
"""Run one benchmark workload and report its metrics.

    python3 perfbench/run.py --workload cdc_fanout --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Prints the environment, every metric
by name with its unit, and as the last line one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the run's spans are written to
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def load_spec() -> dict:
    """``BENCHMARK.json``: the workload and metric names and units. The
    runner supplies values; names and units come only from there."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def layers(spec: dict) -> list[str]:
    """The call-boundary layers: those with a ``<layer>.calls`` metric;
    each reports every stat of ``trace.layer_stats``."""
    return [
        m["name"][: -len(".calls")]
        for m in spec["per_layer"]
        if m["name"].endswith(".calls")
    ]


def parse_args(argv, spec: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload", required=True, choices=[w["name"] for w in spec["workloads"]]
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke",
        action="store_true",
        help="minimal sizes and one set-up build (for the smoke tests)",
    )
    return p.parse_args(argv)


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the driver JVM this process launched."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _prune_traces(out_dir: str, keep: int = 20) -> None:
    names = sorted(
        (os.path.join(out_dir, n) for n in os.listdir(out_dir) if n.endswith(".jsonl")),
        key=os.path.getmtime,
    )
    for path in names[:-keep]:
        os.remove(path)


def run(args, spec: dict) -> dict:
    from perfbench import common
    from perfbench.trace import Tracer, coverage, layer_stats

    ws = common.Workspace(ROOT)
    env = common.pin_environment(ws)
    spark = None
    try:
        spark = common.start_spark(ws)
        session_s = time.time() - T_START
        envrec = common.environment_record(spark, env)
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id)
        if args.workload == "cdc_fanout":
            from perfbench.fanout import Fanout as Workload
        else:
            from perfbench.state_sync import StateSync as Workload
        wl = Workload(spark, ws, tracer, args.seed, args.seconds, args.smoke)

        t0 = time.time()
        wl.prepare()
        prepare_s = time.time() - t0
        t0 = time.time()
        builds = wl.setup()
        setup_s = session_s + common.median(builds)
        phases = {"session": session_s, "prepare": prepare_s,
                  "setup": time.time() - t0}

        tracer.enabled = bool(args.trace)
        gc0 = common.jvm_gc_s(spark)
        steal0 = common.cpu_steal_s()
        t0 = time.time()
        wl.run()
        phases["run"] = time.time() - t0
        steal_s = common.cpu_steal_s() - steal0
        gc_s = common.jvm_gc_s(spark) - gc0
        rss = common.peak_rss_mb(spark)

        t0 = time.time()
        attempted, failed = wl.check()
        e2e, extra, info = wl.results()
        phases["check"] = time.time() - t0
        e2e.update(setup_s=setup_s, peak_rss_mb=rss)

        per_layer = {}
        if tracer.enabled:
            spans = tracer.spans
            # a layer or count the workload does not have reports 0
            per_layer = {m["name"]: 0.0 for m in spec["per_layer"]}
            for layer in layers(spec):
                for st, v in layer_stats(spans, layer).items():
                    per_layer[f"{layer}.{st}"] = v
            per_layer.update(extra)
            cov = [
                c for op in wl.OPS for c in coverage(spans, tracer.overhead, op)
            ]
            per_layer.update(
                {
                    "setup.session_s": session_s,
                    "setup.build_s": common.median(builds),
                    "gen.prepare_s": prepare_s,
                    "cdc.capture.busy_s": layer_stats(spans, "cdc.capture")["busy_s"],
                    "spark.gc_s": gc_s,
                    "trace.overhead_s": tracer.overhead_s,
                    "trace.coverage_min": min(cov) if cov else 0.0,
                }
            )
            out_dir = os.path.join(ROOT, common.OUT_DIR)
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"trace-{run_id}.jsonl")
            tracer.write(trace_path)
            _prune_traces(out_dir)
            info["trace_file"] = os.path.relpath(trace_path, ROOT)
        info.update(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            setup_builds_s=builds,
            phases_s={k: round(v, 2) for k, v in phases.items()},
            cpu_steal_s=round(steal_s, 2),
        )
        return {
            "env": envrec,
            "info": info,
            "e2e": e2e,
            "layers": per_layer,
            "attempted": attempted,
            "failed": failed,
        }
    finally:
        if spark is not None:
            _stop_jvm(spark)
        ws.close()


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    if not os.path.isdir(os.path.join(ROOT, "timescale_cdc_spark")):
        print(
            "perfbench: the timescale_cdc_spark package is not in this "
            f"checkout ({ROOT}); run from the repository root",
            file=sys.stderr,
        )
        return 2
    try:
        res = run(args, spec)
    except Exception:
        traceback.print_exc()
        return 1

    print("# env " + json.dumps(res["env"], sort_keys=True))
    print("# info " + json.dumps(res["info"], sort_keys=True))
    if args.trace:
        specs, values = spec["per_layer"], res["layers"]
        for m in spec["end_to_end"]:
            print(f"# traced {m['name']} {res['e2e'][m['name']]} {m['unit']}")
    else:
        specs, values = spec["end_to_end"], res["e2e"]
    unknown = sorted(set(values) - {m["name"] for m in specs})
    if unknown:  # a value the runner computes under a name BENCHMARK.json lacks
        print(f"perfbench: metrics not in BENCHMARK.json: {unknown}", file=sys.stderr)
        return 1
    metrics = {}
    for m in specs:
        v = float(values[m["name"]])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} {v} {m['unit']}")
    missing = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
    if missing:  # an operation kind produced no sample
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        return 1
    correct = res["failed"] == 0
    error_rate = res["failed"] / res["attempted"]
    print(f"# error_rate {error_rate} ratio")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
