"""Steadiness check: run each workload repeatedly, one seed per run, and
print each end-to-end metric's median and quartiles beside its bound
from BENCHMARK.json.  A metric is steady when (q3 - q1) / median stays
below its bound (the target is a third of it).  Every run measures
BENCHMARK.json's run_seconds, the run length the bounds were set at.
Exits 1 if a spread exceeds its bound, a run is not correct, or the
share of failed events differs between runs.

    python3 cdcbench/steady.py [--runs 10] [--first-seed 1] [workload ...]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in a.workloads:
        values = {m: [] for m in bounds}
        shares = set()
        for seed in range(a.first_seed, a.first_seed + a.runs):
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds",
                                    str(bench["run_seconds"]),
                                    "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed}: exit {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= res["correct"]
            shares.add(res["failed"] / res["attempted"])
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds),
                flush=True)
        print(f"{w}: failed share {sorted(shares)}")
        ok &= len(shares) == 1
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = ("  ok" if spread < bounds[m] / 3 else
                    "  within bound" if spread <= bounds[m] else "  TOO WIDE")
            ok &= flag != "  TOO WIDE"
            print(f"  {m:16s} median {med:12.4g}  q1 {q1:12.4g}  "
                  f"q3 {q3:12.4g}  spread {spread:6.1%}  "
                  f"bound {bounds[m]:.0%}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
