"""Steadiness check: run the benchmark once per seed and report, for every
end-to-end metric, the median and the inter-quartile distance as a share of
the median — the spread BENCHMARK.json's bounds are judged against.

    python3 erbench/spread.py --workloads fold_increment seeded_request --seeds 1-10

Each run's result line is appended to erbench/.out/spread.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, spread  # noqa: E402


def seeds_arg(s: str) -> list:
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = p.parse_args()
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    log = open(os.path.join(HERE, ".out", "spread.jsonl"), "a")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads:
        values: dict = {}
        walls = []
        for seed in args.seeds:
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
            log.write(json.dumps({"workload": w, "seed": seed,
                                  "wall_s": walls[-1], "rc": out.returncode,
                                  "result": res}) + "\n")
            log.flush()
            if res is None or not res["correct"]:
                print(f"{w} seed {seed}: rc={out.returncode} result={res}")
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {len(args.seeds)} runs, wall median "
              f"{median(walls):.1f} s, max {max(walls):.1f} s")
        for k, vs in values.items():
            sp = spread(vs) if len(vs) > 1 else 0.0
            b = bounds.get(k)
            flag = "" if b is None or sp < b / 3 else \
                ("  <- above bound/3" if sp <= b else "  <- ABOVE BOUND")
            print(f"  {k:14s} median {median(vs):12.4f}  spread {sp:.3f}"
                  f"  bound {b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
