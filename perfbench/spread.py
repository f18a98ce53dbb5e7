"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload rag_query --seeds 1-10

For every metric of the result line it prints the median over the runs
and the distance between the first and third quartile as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound in ``BENCHMARK.json`` — the steadiness test a benchmark run must
pass. Runs go one after another; nothing else should load the machine.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [
            sys.executable, *spec["command"][1:], "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
        machine = detail["host"]
        print(
            f"seed {seed}: correct={result['correct']} attempted={result['attempted']} {shown} "
            f"| cpu_probe_s={max(machine['cpu_probe_s']):.3f} steal_s={machine['steal_s']:.2f} "
            f"clean_ops={detail['clean_ops']}/{detail['ops']} run_s={detail['phases_s']['total']:.1f}",
            flush=True,
        )
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:32s} median {med:14.4f}  spread {spread:7.4f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
