"""One measured process of the benchmark: set up, time, check, report.

Started by ``run.py`` with the deployment settings already in its
environment. Prints JSON event lines on stdout: ``setup_done`` when the
timed part is about to start, ``timed_end`` when it is over, and a final
``result`` line. Everything else the process prints goes to stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import tracing  # noqa: E402

PIPELINE_TABLES = ("pages", "id_to_qid", "viaf_lookup", "valid_gnd_ids")
OUTPUT_TABLES = ("triples", "claims", "labels", "aliases", "descriptions", "prop_text", "members")


def emit(event: str, **fields) -> None:
    print(json.dumps({"event": event, **fields}), flush=True)


def warm_up(spark) -> None:
    """Untimed first jobs of the session: a shuffle, a join, an aggregate
    and an Arrow Python stage on generated rows, so the timed part does not
    pay the engine's one-off start-up (code generation, first Python
    worker). The program's own one-off work stays in the timed part."""
    from pyspark.sql import functions as F

    keyed = spark.range(0, 50_000, numPartitions=8).withColumn("k", F.col("id") % 97)
    joined = keyed.join(keyed.groupBy("k").agg(F.count(F.lit(1)).alias("n")), "k")
    joined.mapInArrow(lambda batches: batches, joined.schema).write.format("noop").mode("overwrite").save()


class Resumable:
    """``plans.manifests.run_resumable`` into a fresh output dir per rep;
    one operation is one run, checked against the generator's invariants
    and the pinned digests."""

    def __init__(self, spark, spec, inputs, work, seed):
        self.spark, self.inputs, self.work, self.seed = spark, inputs, work, seed
        self.tables = {}
        with open(os.path.join(inputs, "inputs.json"), encoding="utf-8") as fh:
            self.expected = json.load(fh)["expected"]
        self.digests = None

    def setup(self) -> None:
        for name in PIPELINE_TABLES:
            df = self.spark.read.parquet(os.path.join(self.inputs, f"{name}.parquet"))
            df.count()
            self.tables[name] = df

    def trace(self, tracer) -> None:
        tracer.install()

    def out_dir(self, rep: int) -> str:
        return os.path.join(self.work, "out", f"rep{rep}")

    def prepare(self, rep: int) -> None:
        shutil.rmtree(self.out_dir(rep), ignore_errors=True)

    def run(self, rep: int, tracer=None) -> dict:
        from auth2wd_spark.plans.manifests import run_resumable

        t = self.tables
        return run_resumable(
            t["pages"], t["id_to_qid"], t["viaf_lookup"], t["valid_gnd_ids"], self.out_dir(rep)
        )

    def check(self, outs: list, corrupt: bool) -> tuple[int, int, list[str]]:
        """(attempted runs, failed runs, failure messages) over all timed runs."""
        # pins are keyed by the input set name, so small self-test inputs never match them
        input_set = os.path.basename(os.path.dirname(os.path.dirname(self.inputs)))
        pins = checks.load_pins(HERE, input_set, self.seed)
        failed, failures = 0, []
        for out in outs:
            if out is None:
                failed += 1
                failures.append("run raised")
                continue
            tables = {name: out[name] for name in OUTPUT_TABLES}
            if corrupt:
                tables["labels"] = checks.corrupt_labels(tables["labels"])
            why, self.digests = checks.pipeline_failures(tables, self.expected, pins)
            if why:
                failed += 1
                failures.extend(why)
        return len(outs), failed, failures

    def end_to_end(self, reps: list[float], outs: list) -> dict[str, float]:
        run_s = statistics.median(reps)
        last = outs[-1]
        return {"run_s": run_s, "work_per_s": last["triples"].count() / run_s if last is not None else 0.0}

    def counts(self, outs: list) -> dict[str, float]:
        """Layer-boundary counts of the last run (traced run only)."""
        if outs[-1] is None:
            return {}
        return checks.pipeline_counts(self.spark, self.tables, self.out_dir(len(outs) - 1), self.inputs)

    def from_trace(self, table: dict, spans: list, log: dict, runs: int) -> dict[str, float]:
        return {"assign.broadcast_joins": tracing.broadcast_joins(spans, log, "assign", runs)}

    def report(self, work: str) -> None:
        with open(os.path.join(work, "digests.json"), "w", encoding="utf-8") as fh:
            json.dump(self.digests, fh, indent=1, sort_keys=True)


class Leaves:
    """The query leaves, in a seed-drawn order, each forced by collecting
    its rows; one operation is one leaf, checked against its oracle."""

    def __init__(self, spark, spec, inputs, work, seed):
        self.spark, self.inputs = spark, inputs
        self.order = list(spec["leaves"])
        random.Random(seed).shuffle(self.order)
        self.times: list[dict[str, float]] = []

    def setup(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        for path in sorted(glob.glob(os.path.join(self.inputs, "*.parquet"))):
            self.spark.read.parquet(path).count()

    def trace(self, tracer) -> None:
        pass  # the leaves are spans of their own (see run)

    def prepare(self, rep: int) -> None:
        pass

    def run(self, rep: int, tracer=None) -> dict:
        out, times = {}, {}
        for leaf in self.order:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    out[leaf] = self._leaf(leaf)
                else:
                    out[leaf] = tracer.layer(f"q.{leaf}", self._leaf, leaf)
            except Exception as exc:  # a failing leaf is counted, the others still run
                out[leaf] = exc
            times[leaf] = time.perf_counter() - t0
        self.times.append(times)
        return out

    def _leaf(self, leaf: str) -> tuple[list[str], list[tuple]]:
        df = self.queries[leaf](self.spark, self.inputs)
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self, outs: list, corrupt: bool) -> tuple[int, int, list[str]]:
        """(attempted leaves, failed leaves, failure messages) over all timed reps."""
        with open(os.path.join(self.inputs, "oracle.json"), encoding="utf-8") as fh:
            oracle = json.load(fh)
        failed, failures = 0, []
        for out in outs:
            for leaf in self.order:
                result = out[leaf]
                if corrupt and leaf == self.order[0] and not isinstance(result, Exception):
                    result = checks.corrupt_rows(result)
                why = checks.leaf_failure(result, oracle.get(leaf))
                if why:
                    failed += 1
                    failures.append(f"{leaf}: {why}")
        return len(outs) * len(self.order), failed, failures

    def end_to_end(self, reps: list[float], outs: list) -> dict[str, float]:
        leaf_s = [statistics.median(t[leaf] for t in self.times) for leaf in self.order]
        run_s = sum(leaf_s)
        return {"run_s": run_s, "work_per_s": len(leaf_s) / run_s}

    def counts(self, outs: list) -> dict[str, float]:
        return {}

    def from_trace(self, table: dict, spans: list, log: dict, runs: int) -> dict[str, float]:
        return {f"q.{leaf}.s": table[f"q.{leaf}.self_s"] for leaf in self.order}

    def report(self, work: str) -> None:
        pass


WORKLOADS = {"resumable": Resumable, "queries": Leaves}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--corrupt", type=int, default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as fh:
        spec = json.load(fh)["workloads"][args.workload]

    from auth2wd_spark.session import build_session

    spark = build_session(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    work = os.path.join(args.work, "proc")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[spec["kind"]](spark, spec, args.inputs, work, args.seed)
    wl.setup()
    warm_up(spark)
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark)
        wl.trace(tracer)
    emit("setup_done", t=time.monotonic())

    reps, outs = [], []
    deadline = time.monotonic() + args.seconds
    rep = 0
    while True:
        wl.prepare(rep)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = wl.run(rep)
            else:
                with tracer.run(rep):
                    out = wl.run(rep, tracer)
        except Exception as exc:  # counted as a failed run, reported below
            print(f"rep {rep} raised: {exc!r}", file=sys.stderr)
            out = None
        reps.append(time.perf_counter() - t0)
        outs.append(out)
        rep += 1
        if time.monotonic() >= deadline:
            break
    emit("timed_end", t=time.monotonic())
    if tracer is not None:
        tracer.uninstall()

    attempted, failed, failures = wl.check(outs, bool(args.corrupt))
    metrics = wl.end_to_end(reps, outs)
    wl.report(args.work)

    if tracer is not None:
        metrics.update(wl.counts(outs))
        spark.stop()
        log = tracing.read_event_log(newest_event_log(args.work))
        table = tracing.layer_table(tracer.spans, log, cores, len(reps))
        metrics.update(table)
        metrics.update(wl.from_trace(table, tracer.spans, log, len(reps)))
        metrics["trace_overhead_s"] = tracer.overhead_s / len(reps)
        tracer.write(os.path.join(args.work, "spans.json"))
    else:
        spark.stop()

    emit(
        "result",
        attempted=attempted,
        failed=failed,
        failures=failures[:20],
        reps=reps,
        metrics=metrics,
    )
    return 0


def newest_event_log(work: str) -> str:
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    return max(logs, key=os.path.getmtime)


if __name__ == "__main__":
    sys.exit(main())
