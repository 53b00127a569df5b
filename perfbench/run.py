"""Benchmark of the fraud engine: one workload per run.

    python3 perfbench/run.py --workload alerts_paced --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
the engine only ever sees generated data. Every figure is printed by
name with its unit and sample count, and the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run
also prints its own end-to-end figures and, when an untraced run of the
same workload and seed has left its record in ``perfbench/out``, the
tracing overhead (traced minus untraced).

An open-loop run whose generator fell behind, or whose source backlog
grew, is invalid: it prints why and exits with code 3 instead of
reporting figures.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
PKG = "real_time_fraud_detection_system_using_big_data_analytics_spark"
NAMES = ("alerts_paced", "account_state_replay", "batch_queries")
UNITS = (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_share", "ratio"), ("ms_per_key_batch", "ms"))


def unit_of(layer: str) -> str:
    return next((u for suffix, u in UNITS if layer.endswith(suffix)), "count")


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    codes = [
        subprocess.call([sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace)])
        for name in NAMES
    ]
    return max(codes)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    if not (ROOT / PKG / "__init__.py").is_file() or not (ROOT / "tests" / "oracle_harness.py").is_file():
        print(f"perfbench: {PKG} and tests/oracle_harness.py must be in the checkout at {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    from harness import Run, eventlog_digest
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    run = Run(ROOT, args.workload, args.seed, bool(args.trace))
    try:
        try:
            res = WORKLOADS[args.workload](run, args.seconds)
        finally:
            run.close()
        if args.trace:
            res.layers.update(eventlog_digest(run.eventlog))
    finally:
        run.remove_work()
    if res.invalid:
        for reason in res.invalid:
            print(f"perfbench: invalid run: {reason}", file=sys.stderr)
        return 3

    tag = f"{args.workload} seed={args.seed} trace={args.trace}"
    for name, (value, unit, n) in {**res.report, **res.e2e}.items():
        print(f"perfbench: {tag} {name} = {value:.6g} {unit} (n={n})")
    print(f"perfbench: {tag} ops_failed_ratio = {res.failed / res.attempted:.6g} "
          f"(n={res.attempted}) run_s = {time.perf_counter() - t0:.1f}")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "e2e": res.e2e, "report": res.report, "layers": res.layers,
              "attempted": res.attempted, "failed": res.failed, "walls": res.walls}
    if args.trace:
        for name in sorted(res.layers):
            print(f"perfbench: {tag} {name} = {res.layers[name]:.6g} {unit_of(name)}")
        untraced = OUT / f"{args.workload}-seed{args.seed}-trace0.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["e2e"]
            record["overhead"] = {k: v[0] - base[k][0] for k, v in res.e2e.items() if k in base}
            for name, diff in record["overhead"].items():
                print(f"perfbench: {tag} trace overhead {name} = {diff:+.6g} {res.e2e[name][1]}")
        record["spans"] = run.trace.spans
        metrics = {m["name"]: {"value": res.layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res.e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    OUT.mkdir(exist_ok=True)
    (OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
