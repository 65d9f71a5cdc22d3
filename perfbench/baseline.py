"""Repeat benchmark runs and summarize them: the baseline record.

    python3 perfbench/baseline.py --workloads headline_batch,jx_service \
        --seeds 1-10 [--trace 0|1] [--out perfbench/baseline/untraced.json]

Runs ``run.py`` once per (seed, workload), one run at a time, from the
checkout root, with ``run_seconds`` from BENCHMARK.json. For every metric
it reports the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median, next to the metric's
bound. It also records each run's wall time, which the run budget in
NOTES.md is checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    record: dict = {"trace": args.trace, "workloads": {}}
    workloads = args.workloads.split(",")
    runs: dict[str, list] = {w: [] for w in workloads}
    # seeds outer, workloads inner: a slow spell of the shared host then
    # falls on every workload alike
    for s in seeds(args.seeds):
        for w in workloads:
            t0 = time.monotonic()
            proc = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(s),
                 "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {proc.returncode}",
                      file=sys.stderr)
                runs[w].append({"seed": s, "wall_s": wall, "ok": False})
                continue
            res = json.loads(lines[-1])
            runs[w].append({"seed": s, "wall_s": wall, "ok": True, **res})
            print(f"{w} seed {s}: {wall:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
    for w in workloads:
        good = [r for r in runs[w] if r["ok"]]
        names = list(good[0]["metrics"]) if good else []
        record["workloads"][w] = {
            "runs": runs[w],
            "wall_s": summarize([r["wall_s"] for r in runs[w]]),
            "all_correct": all(r["ok"] and r["correct"] for r in runs[w]),
            "metrics": {n: {**summarize([r["metrics"][n]["value"]
                                         for r in good]),
                            "unit": good[0]["metrics"][n]["unit"],
                            "bound": bounds.get(n)}
                        for n in names},
        }
        for n, m in record["workloads"][w]["metrics"].items():
            flag = ""
            if m["bound"] and m["spread"] is not None and \
                    m["spread"] > m["bound"] / 3:
                flag = "  <-- spread above a third of the bound"
            print(f"  {w} {n}: median {m['median']:.4g} spread "
                  f"{m['spread']} (bound {m['bound']}){flag}",
                  file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
