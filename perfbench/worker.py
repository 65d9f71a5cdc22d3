"""One workload run inside the launcher's private environment.

Generates the seeded inputs, imports the package from the checkout root,
runs the workload and writes its result JSON to ``--result``. Started by
``run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import common  # noqa: E402
import datagen  # noqa: E402

# Input scale per workload (datagen.row_counts): the service's scale keeps
# every corpus result under the service's 10,000-row default cap.
SCALE = {"headline_batch": 0.01, "jx_service": 0.0005}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    import activedata_etl_spark

    pkg = os.path.dirname(os.path.abspath(activedata_etl_spark.__file__))
    if pkg != os.path.join(ROOT, "activedata_etl_spark"):
        raise SystemExit(f"package imported from {pkg}, not the checkout")

    ctx = common.Ctx(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), root=ROOT, run_dir=args.run_dir,
        data_dir=os.path.join(args.run_dir, "data"),
        cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    datagen.write(ctx.data_dir, ctx.seed, SCALE[ctx.workload])
    ctx.log("inputs written")

    if ctx.workload == "headline_batch":
        import headline as workload
    else:
        import service_load as workload
    out = workload.run(ctx)
    # layers this workload never calls read zero, not missing
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        for m in json.load(f)["per_layer"]:
            if m["name"].split(".")[0] not in workload.LAYERS:
                ctx.per_layer.setdefault(m["name"], 0.0)

    ctx.log("done")
    with open(args.result, "w") as f:
        json.dump({"metrics": out.metrics, "per_layer": ctx.per_layer,
                   "attempted": out.attempted,
                   "failed": len(out.problems), "problems": out.problems,
                   "artifact": ctx.artifact if ctx.trace else None}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
