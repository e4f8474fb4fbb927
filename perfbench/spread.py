#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload W --seeds 1-10 --out runs.jsonl
    python3 perfbench/spread.py --report runs.jsonl [runs2.jsonl]

The first form runs the BENCHMARK.json command once per seed
(untraced) and appends each result line, with the run's wall time, to
``--out``, with the record line before it.  ``--report`` prints (and
with ``--json`` writes) per workload and metric the median, the
quartiles (``statistics.quantiles(values, n=4)``), the quartile
distance as a share of the median next to the metric's bound, and,
given a second file, how far its median moved against the first.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(workload: str, seed_list: list[int], out: str) -> None:
    s = spec()
    for seed in seed_list:
        cmd = [*s["command"], "--workload", workload, "--seed", str(seed),
               "--seconds", str(s["run_seconds"]), "--trace", "0"]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        row = {"workload": workload, "seed": seed, "rc": proc.returncode, "wall_s": wall,
               "result": json.loads(lines[-1]) if proc.returncode == 0 and lines else None,
               "record": json.loads(lines[-2]) if proc.returncode == 0 and len(lines) > 1
               else proc.stderr[-2000:]}
        with open(out, "a") as fh:
            fh.write(json.dumps(row) + "\n")
        print(json.dumps({k: row[k] for k in ("workload", "seed", "rc", "wall_s")}), flush=True)


def load(path: str) -> dict:
    """{workload: {metric: [values]}} plus wall times under ``_wall``."""
    out: dict = collections.defaultdict(lambda: collections.defaultdict(list))
    with open(path) as fh:
        for line in fh:
            row = json.loads(line)
            out[row["workload"]]["_wall"].append(row["wall_s"])
            if row["result"] is None:
                out[row["workload"]]["_failed_runs"].append(1)
                continue
            for k, v in row["result"]["metrics"].items():
                out[row["workload"]][k].append(v["value"])
    return out


def report(first: str, second: str | None) -> dict:
    """Print the spread table; return {workload: {metric: summary}}."""
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    a = load(first)
    b = load(second) if second else {}
    summary: dict = {}
    for wl, metrics in a.items():
        walls = metrics["_wall"]
        print(f"{wl}: {len(walls)} runs, wall mean {statistics.mean(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed runs {len(metrics.get('_failed_runs', []))}")
        for name, bound in bounds.items():
            vals = metrics.get(name)
            if not vals or len(vals) < 2:
                continue
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            summary.setdefault(wl, {})[name] = {
                "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "runs": len(vals)}
            line = (f"  {name:16s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                    f"spread {(q3 - q1) / med:6.3f}  bound {bound}")
            other = b.get(wl, {}).get(name)
            if other:
                line += f"  second median moved {statistics.median(other) / med - 1:+.3f}"
            print(line)
    return summary


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--report", nargs="+")
    ap.add_argument("--json", help="with --report: also write the summary here")
    args = ap.parse_args(argv)
    if args.report:
        summary = report(args.report[0], args.report[1] if len(args.report) > 1 else None)
        if args.json:
            with open(args.json, "w") as fh:
                json.dump(summary, fh, indent=1, sort_keys=True)
        return 0
    if not (args.workload and args.out):
        ap.error("--workload and --out are required to collect runs")
    collect(args.workload, seeds(args.seeds), args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
