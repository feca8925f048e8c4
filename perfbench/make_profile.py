"""Write the per-layer profile of every workload, PROFILE_c<cpus>.json.

    python3 perfbench/make_profile.py [--seed 1] [--seconds S] [--out FILE]

For each workload it makes one untraced and one traced run on the same
seed, through run.py, and records the per-layer metrics, the traced run's
span tree, the query mix's driver-synchronous jobs per builder, and the
tracing overhead: the traced run's end-to-end figures over the untraced
ones, minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int, spans_out: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans_out:
        cmd += ["--spans-out", spans_out]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    detail, result = (json.loads(line) for line in out.strip().splitlines()[-2:])
    return {"detail": detail, "result": result}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    help="measured seconds per run (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    profile = {"seed": args.seed, "cpus": len(os.sched_getaffinity(0)), "workloads": {}}
    seconds = args.seconds or declared["run_seconds"]
    profile["seconds"] = seconds
    for wl in (w["name"] for w in declared["workloads"]):
        plain = _run(wl, args.seed, seconds, 0, None)
        spans_path = os.path.join(ROOT, f".perfbench_spans_{wl}.json")
        try:
            traced = _run(wl, args.seed, seconds, 1, spans_path)
            with open(spans_path) as fh:
                spans = json.load(fh)
        finally:
            if os.path.exists(spans_path):
                os.remove(spans_path)
        base, tr = plain["detail"], spans["detail"]
        profile["workloads"][wl] = {
            "untraced": base,
            "traced": tr,
            "tracing_overhead": {
                m["name"]: round(tr[m["name"]] / base[m["name"]] - 1.0, 4)
                for m in declared["end_to_end"]
            },
            # the layers of this workload: the other workload's read 0
            "per_layer": {k: round(v, 3) for k, v in spans["layers"].items()
                          if k in traced["result"]["metrics"] and v},
            "correct": plain["result"]["correct"] and traced["result"]["correct"],
            **({"build_jobs_by_query": spans["build_jobs_by_query"]}
               if "build_jobs_by_query" in spans else {}),
            "spans": spans["spans"],
        }
        print(wl, json.dumps(profile["workloads"][wl]["tracing_overhead"]), flush=True)
    out = args.out or os.path.join(HERE, f"PROFILE_c{profile['cpus']}.json")
    with open(out, "w") as fh:
        json.dump(profile, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
