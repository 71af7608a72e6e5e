"""Recording helper for the benchmark.

Spread over seeds, each end-to-end metric next to its bound:

    python3 dagbench/record.py spread --workload dag_small --seeds 1-10

Layer table of two traced runs of one seed, flagging counts that differ:

    python3 dagbench/record.py traced --workload registry_mix --seed 3

Per-pass times of one long run, the evidence for the pass counts:

    python3 dagbench/record.py ramp --workload dag_small --passes 10

All run ``dagbench/run.py`` from the repository root and keep each run's
full output under ``--out`` (default ``.dagbench_record``). ``spread``
exits 1 if a run is incorrect or a spread is over its bound; ``traced``
exits 1 if a count differs between the two runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_UNITS = ("count", "bytes", "rows")


def _run(workload: str, seed: int, trace: int, out: str, tag: str = "") -> dict:
    path = os.path.join(out, f"{workload}_s{seed}_t{trace}{tag}.log")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    with open(path, "w") as fh:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        raise SystemExit(f"run failed ({proc.returncode}); see {path}")
    with open(path) as fh:
        lines = fh.read().splitlines()
    res = json.loads(lines[-1])
    res["details"] = lines[:-1]
    return res


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    runs = [_run(args.workload, s, 0, args.out) for s in _seeds(args.seeds)]
    bad = [r for r in runs if not r["correct"] or r["failed"]]
    print(f"{args.workload}: {len(runs)} runs, {len(bad)} incorrect")
    print(f"{'metric':22} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
          f"{'bound':>6}  verdict")
    worst = 0
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
        if len(vals) < 4:
            print(f"{name:22} too few values ({len(vals)})")
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        sp = (q3 - q1) / med
        verdict = ("steady" if sp < bound / 3 else
                   "within bound" if sp <= bound else "TOO WIDE")
        if sp > bound:
            worst = 1
        print(f"{name:22} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} {bound:6.2f}  {verdict}")
    return 1 if bad else worst


def traced(args) -> int:
    a = _run(args.workload, args.seed, 1, args.out, "a")
    b = _run(args.workload, args.seed, 1, args.out, "b")
    for line in a["details"] + b["details"]:
        if line.startswith("tracing overhead"):
            print(line)
    print(f"{'metric':34} {'unit':>6} {'run a':>14} {'run b':>14}")
    differ = 0
    for name, m in a["metrics"].items():
        va, vb = m["value"], b["metrics"][name]["value"]
        flag = ""
        if m["unit"] in COUNT_UNITS and va != vb:
            flag, differ = "  COUNT DIFFERS", differ + 1
        print(f"{name:34} {m['unit']:>6} {va:14.4f} {vb:14.4f}{flag}")
    print(f"{differ} counts differ between the two traced runs")
    return 1 if differ else 0


def ramp(args) -> int:
    """One long run: every pass time, cold pass first."""
    path = os.path.join(args.out, f"{args.workload}_ramp{args.passes}.log")
    with open(path, "w") as fh:
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        args.workload, "--seed", str(args.seed), "--trace", "0",
                        "--ramp", str(args.passes)],
                       cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT, check=True)
    with open(path) as fh:
        print("".join(line for line in fh if line.startswith("passes:")), end="")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--seeds", default="1-10")
    t = sub.add_parser("traced")
    t.add_argument("--seed", type=int, default=1)
    r = sub.add_parser("ramp")
    r.add_argument("--seed", type=int, default=1)
    r.add_argument("--passes", type=int, default=10)
    for p in (s, t, r):
        p.add_argument("--workload", required=True)
        p.add_argument("--out", default=os.path.join(ROOT, ".dagbench_record"))
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    return {"spread": spread, "traced": traced, "ramp": ramp}[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
