"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Writes the workload's seeded inputs
once (outside all timing) under ``.perfbench/``, then starts a fresh
worker process (``worker.py``) with host-fitted deployment settings,
samples the worker's process tree for peak RSS during the timed part and
prints one JSON result line as the last line of stdout.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the workload with layer spans and the Spark event log
on and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # every run must end within 180 s


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_env(spec: dict) -> tuple[dict, str]:
    """The worker's environment and JVM options: cores, driver memory as
    a share of physical RAM, Spark local dirs on disk inside the
    checkout, UI off. The heap is reserved at that size from the start
    (so peak RSS does not follow the JVM's heap-growth decisions), but
    its pages become resident only when the program touches them."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    driver_mb = int(mem_kb / 1024 * spec["deployment"]["driver_memory_share_of_ram"])
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_UI="0",
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    java = f"-Xms{driver_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env, java


# the code that makes a workload's inputs and its expected results
INPUT_SOURCES = (
    "perfbench/gen.py",
    "perfbench/checks.py",
    "auth2wd_spark/corpus/generate.py",
    "auth2wd_spark/schemas.py",
)


def inputs_digest(spec: dict) -> str:
    """Hash of the workload parameters, the generator sources and, for
    query leaves, the oracle SQL: cached inputs and oracle results are
    reused only while none of them changed."""
    h = hashlib.sha256(json.dumps(spec, sort_keys=True).encode())
    for rel in INPUT_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read())
    if spec["kind"] == "queries":
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        h.update(json.dumps([sql[leaf] for leaf in spec["leaves"]]).encode())
    return h.hexdigest()[:16]


def prepare_inputs(name: str, spec: dict, seed: int) -> str:
    """Write the (workload, seed) inputs unless an earlier run wrote them
    from the same parameters and sources."""
    sys.path[:0] = [ROOT, HERE]
    import checks
    import gen

    digest = inputs_digest(spec)
    out_dir = os.path.join(WORK, "inputs", name, digest, f"seed-{seed}")
    if os.path.exists(os.path.join(out_dir, "inputs.json")):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if spec["kind"] == "queries":
        meta = gen.write_query_inputs(spec, seed, tmp)
        with open(os.path.join(tmp, "oracle.json"), "w", encoding="utf-8") as fh:
            json.dump(checks.oracle_results(tmp, spec["leaves"]), fh)
    else:
        meta = gen.write_pipeline_inputs(spec, seed, tmp)
    with open(os.path.join(tmp, "inputs.json"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


# --------------------------------------------------------------------------
# process-tree RSS


def _members(root: int) -> list[int]:
    """The worker, its JVM and the PySpark daemon with its Python workers.

    Other descendants are left out: a helper process the JVM starts
    briefly (vfork + exec) shows the JVM's whole RSS until it execs."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [root], list(children.get(root, []))
    out += todo
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            try:
                with open(f"/proc/{child}/cmdline", "rb") as fh:
                    python_worker = b"pyspark.daemon" in fh.read()
            except OSError:
                continue
            if python_worker:
                out.append(child)
                todo.append(child)
    return out


def _tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _members(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 2**20


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree while ``active`` is set."""

    def __init__(self, pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak = 0.0

    def run(self) -> None:
        while not self.done.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, _tree_rss_mb(self.pid))
            self.done.wait(self.period)


# --------------------------------------------------------------------------


def run_worker(args, inputs: str, env: dict, java: str, trace: bool, deadline: float, corrupt: bool) -> dict:
    work = os.path.join(WORK, "runs", f"{args.workload}-{'traced' if trace else 'plain'}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    submit = ["--driver-java-options", f"'{java}'"]
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{logdir}",
        ]
    env = dict(env, PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]))
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(int(trace)), "--inputs", inputs, "--work", work, "--corrupt", str(int(corrupt)),
    ]
    with open(os.path.join(work, "worker.log"), "wb") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, text=True, start_new_session=True
        )
        sampler = RssSampler(proc.pid)
        sampler.start()

        def kill() -> None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        watchdog = threading.Timer(max(deadline - time.monotonic(), 1.0), kill)
        watchdog.start()
        result, setup_s = None, None
        try:
            for line in proc.stdout:
                if not line.startswith("{"):
                    continue
                event = json.loads(line)
                if event.get("event") == "setup_done":
                    setup_s = event["t"] - t_spawn
                    sampler.active.set()
                elif event.get("event") == "timed_end":
                    sampler.active.clear()
                elif event.get("event") == "result":
                    result = event
            proc.wait()
        finally:
            watchdog.cancel()
            sampler.done.set()
            sampler.join()
            kill()  # the worker's session: no JVM or Python worker outlives it
    if proc.returncode != 0 or result is None or setup_s is None:
        die(f"worker exited with {proc.returncode}; see {os.path.join(work, 'worker.log')}")
    result["setup_s"] = setup_s
    result["peak_rss_mb"] = sampler.peak
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true", help="corrupt one output before checking (self-test)")
    ap.add_argument("--small", action="store_true", help="smallest inputs (self-test)")
    args = ap.parse_args()
    t_start = time.monotonic()
    # a terminated benchmark still stops its worker tree (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for required in ("auth2wd_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, required)):
            die(f"{required} not found: run from a checkout of the repository")
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    if args.workload not in spec["workloads"]:
        die(f"unknown workload {args.workload!r}")
    wspec = spec["workloads"][args.workload]
    if args.small:
        wspec = dict(wspec, **spec["small"][wspec["kind"]])

    env, java = host_env(spec)
    inputs = prepare_inputs(args.workload + ("-small" if args.small else ""), wspec, args.seed)
    deadline = t_start + DEADLINE_S

    if not args.trace:
        res = run_worker(args, inputs, env, java, False, deadline, args.corrupt)
        m = res["metrics"]
        values = {
            "run_s": m["run_s"],
            "work_per_s": m["work_per_s"],
            "setup_s": res["setup_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "ok_share": 1 - res["failed"] / res["attempted"],
        }
        wanted = bench["end_to_end"]
    else:
        res = run_worker(args, inputs, env, java, True, deadline, args.corrupt)
        values = res["metrics"]
        wanted = bench["per_layer"]
    print(f"timed repetitions (s): {[round(t, 3) for t in res['reps']]}", file=sys.stderr)
    for failure in res["failures"]:
        print(f"check failed: {failure}", file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
