"""Pin the output digests of the pipeline workloads for a range of seeds.

    python3 perfbench/pin.py --seeds 0-15

Runs each pipeline workload once per seed and records the per-table
[rows, content hash] of its merged item tables in ``pins.json``. Later
runs with a pinned (workload, seed) fail their check on any difference.
Re-pin only when a change to the program or to a workload's inputs is
meant to change the output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-15")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    path = os.path.join(HERE, "pins.json")
    pins = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            pins = json.load(fh)
    def save() -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)

    for name, wspec in spec["workloads"].items():
        if wspec["kind"] == "queries":
            continue
        for seed in range(lo, hi + 1):
            # drop the old pin first, so the run is not checked against it
            pins.setdefault(name, {}).pop(str(seed), None)
            save()
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", str(seed),
                   "--seconds", "1", "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            result = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.returncode == 0 else None
            if result is None or not result["correct"]:
                raise SystemExit(f"{name} seed {seed}: run failed, nothing pinned\n{proc.stderr[-2000:]}")
            with open(os.path.join(ROOT, ".perfbench", "runs", f"{name}-plain", "digests.json"), encoding="utf-8") as fh:
                pins[name][str(seed)] = json.load(fh)
            save()
            print(f"pinned {name} seed {seed}", flush=True)


if __name__ == "__main__":
    main()
