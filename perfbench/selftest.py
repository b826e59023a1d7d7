"""Self-test of the benchmark at its smallest inputs.

    python3 perfbench/selftest.py

For every workload it checks that an untraced run reports every
end-to-end metric of BENCHMARK.json, that a traced run reports every
per-layer metric (non-zero for the layers the workload reaches), and
that a deliberately corrupted output is counted as a failed operation.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import PIPELINE_LAYERS  # noqa: E402

# layer metrics that are zero on a healthy run
_MAY_BE_ZERO = (".spill_mb", ".gc_s", ".failed_tasks", ".shuffle_mb")


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--small",
    ]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd[1:])} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    for wl in bench["workloads"]:
        name = wl["name"]
        kind = spec["workloads"][name]["kind"]

        plain = run(name, 0)
        expect(plain["correct"] and plain["failed"] == 0, f"{name}: clean run not correct: {plain}")
        for m in bench["end_to_end"]:
            got = plain["metrics"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"], f"{name}: missing {m['name']}")
            expect(got["value"] > 0, f"{name}: {m['name']} is {got['value']}")

        traced = run(name, 1)
        for m in bench["per_layer"]:
            expect(m["name"] in traced["metrics"], f"{name}: missing {m['name']}")
        if kind == "queries":
            reached = [f"q.{leaf}.s" for leaf in spec["workloads"][name]["leaves"]]
        else:
            reached = [f"{layer}.self_s" for layer in PIPELINE_LAYERS]
            reached += [
                m["name"] for m in bench["per_layer"]
                if m["name"].split(".")[0] in {"extract", "link", "cc", "assign", "merge", "write"}
                and not m["name"].endswith(_MAY_BE_ZERO)
            ]
        for metric in reached:
            expect(traced["metrics"][metric]["value"] > 0, f"{name}: {metric} is zero")

        bad = run(name, 0, corrupt=True)
        expect(not bad["correct"] and bad["failed"] >= 1, f"{name}: corrupted output not counted: {bad}")
        expect(bad["metrics"]["ok_share"]["value"] < 1, f"{name}: ok_share ignores the failure")
        print(f"selftest {name}: ok", flush=True)


if __name__ == "__main__":
    main()
