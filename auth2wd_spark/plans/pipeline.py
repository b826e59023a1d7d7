"""End-to-end batch pipeline orchestration.

pages → route → latest-snapshot → extract → link → CC → merge → sink.

Scale posture (north_rule):
  - routing/filtering is JVM-side regex inside whole-stage codegen;
  - extraction is Arrow-batched mapInPandas, embarrassingly parallel;
  - every linking join broadcasts a single-hit index (or pre-bucketed
    join at index sizes beyond broadcast);
  - CC is iterative label propagation with per-iteration checkpointing;
  - the merge groupBy keys on (component, claim key) — partial
    aggregation absorbs hot components map-side; `salt_partitions`
    optionally pre-repartitions on a salted key to spread a
    pathological hot component across reducers before the final agg;
  - the sinks' ``as_of`` replaces the reference's Utc::now()
    (external_importer.rs:364) for deterministic P813 reference dates.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.cc import assign_components, build_edges, connected_components
from ..operators.extract import extract_pages
from ..operators.linking import link
from ..operators.merge import merge_component


@dataclass
class PipelineConfig:
    salt_partitions: int = 0  # >0: pre-shuffle hot components across N salts
    # >0: bound the per-claim reference/src_url arrays via the two-stage
    # salted slice agg — the single-claim-KEY skew defense a giant
    # component needs (see merge.merge_claims); None keeps full unions
    ref_cap: int | None = None
    # opt-in J2 label+extid retry (reference parity is OFF — see
    # ARCHITECTURE.md §3 deviation 7); plumbed through to link()
    label_retry: bool = False
    # None = auto (byte-gated, see _should_checkpoint_with_comp);
    # True/False forces. run_resumable always checkpoints — its six
    # table writes win at every measured scale.
    checkpoint_with_comp: bool | None = None


def run_pipeline(
    pages: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    config: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    config = config or PipelineConfig()

    from ..session import ship_package

    ship_package(pages.sparkSession)

    import time as _time

    metrics: dict[str, float] = {}
    spark = pages.sparkSession

    def _phase(name: str, fn):
        s0 = _shuffle_totals(spark)
        t0 = _time.perf_counter()
        out = fn()
        metrics[name] = round(_time.perf_counter() - t0, 3)
        s1 = _shuffle_totals(spark)
        # guard against UI-store stage eviction between samples, which
        # would make the cumulative totals non-monotonic (review finding
        # r5) — better no number than a silently wrong one
        if s0 is not None and s1 is not None and all(s1[k] >= s0[k] for k in s1):
            metrics[name.replace("_sec", "_shuffle_mb")] = {
                k: round((s1[k] - s0[k]) / 1e6, 1) for k in s1
            }
        return out

    # extract_pages checkpoints raw, and link()'s single pass over it
    # (a chain of broadcast joins) is checkpointed below: every downstream
    # action would otherwise replan and re-run the whole lineage —
    # localCheckpoint both materializes and TRUNCATES the logical plan,
    # which otherwise grows deep enough that Catalyst planning time
    # dominates small-batch runs
    raw = _phase("extract_sec", lambda: extract_pages(pages))

    # link() construction stays INSIDE the timed phase: the round-5 gate
    # runs dimension count() jobs during construction, and excluding them
    # would hide exactly the cost the gate added (review finding r5)
    linked_holder: dict[str, DataFrame] = {}

    def _link_and_checkpoint():
        linked_holder["df"] = link(
            raw, id_to_qid, viaf_lookup, valid_gnd_ids, label_retry=config.label_retry
        )
        return linked_holder["df"].localCheckpoint()

    triples = _phase("link_sec", _link_and_checkpoint)
    strategies = _join_strategies(linked_holder["df"])
    if strategies:
        # which physical join each link index got (BENCH_r04 post-mortem:
        # an environment-dependent AQE flip to sort-merge was invisible
        # without this — now every bench record proves the strategy)
        metrics["link_join_strategies"] = strategies

    edges = build_edges(triples)
    labels = _phase("cc_sec", lambda: connected_components(edges))

    def _assign_and_checkpoint():
        wc = salt_components(assign_components(triples, labels), config.salt_partitions)
        # materialize ONCE when it fits: merge_component fans with_comp
        # out to six tables and every consumer re-executes the triples ×
        # labels join when wc stays lazy. Measured round 5
        # (BENCH/merge_withcomp_ab_result.txt, alternating reps): at 3.46M
        # triples (~1.3 GB materialized) the checkpoint wins at every
        # core count and consumer count (claims+labels 20.4 s → 13.3 s at
        # 32c, 25.8 → 15.5 at 8c); at 27.7M triples (~10 GB, past the
        # storage budget → spill churn) it LOSES with two consumers
        # (50.3 → 79.8 s) while still winning with six (90.2 → 69.6 s).
        # run_pipeline can't know its consumer count, so auto mode gates
        # on cached-storage bytes instead of hoping.
        ck = config.checkpoint_with_comp
        if ck is None:
            ck = _should_checkpoint_with_comp(spark)
        metrics["with_comp_checkpointed"] = bool(ck)
        return wc.localCheckpoint() if ck else wc

    with_comp = _phase("assign_sec", _assign_and_checkpoint)
    tables = merge_component(with_comp, ref_cap=config.ref_cap)
    tables["triples"] = triples
    tables["components"] = labels
    tables["metrics"] = metrics
    return tables


def salt_components(with_comp: DataFrame, salt_partitions: int) -> DataFrame:
    """Spread giant components over reducers before the merge groupBy
    (no-op unless ``salt_partitions`` > 0). The final agg still combines
    per (component, claim-key) because the groupBy keys are unchanged —
    salting only drives the repartition."""
    if salt_partitions <= 0:
        return with_comp
    salt = F.pmod(F.xxhash64("subj", "ord"), F.lit(salt_partitions))
    return with_comp.repartition(F.col("component"), salt)


def _join_strategies(df: DataFrame) -> dict[str, int] | None:
    """Count physical join nodes in an ALREADY-EXECUTED DataFrame's plan.

    With AQE the final strategies exist only after execution; call this
    after an action on `df` (localCheckpoint counts). Returns None when
    the plan string is unavailable (non-JVM test doubles)."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return None
    import re as _re

    counts = {}
    for label, token in (
        ("broadcast_hash", "BroadcastHashJoin"),
        ("sort_merge", "SortMergeJoin"),
        ("shuffled_hash", "ShuffledHashJoin"),
        ("broadcast_nested_loop", "BroadcastNestedLoopJoin"),
        ("cartesian", "CartesianProduct"),
        ("broadcast_exchange", "BroadcastExchange"),
        ("reused_exchange", "ReusedExchange"),
    ):
        n = plan.count(token)
        if n:
            counts[label] = n
    # SHUFFLE exchanges only — a bare "Exchange" count would also match
    # BroadcastExchange/ReusedExchange and read as phantom shuffles
    n = len(_re.findall(r"(?<!Broadcast)(?<!Reused)Exchange", plan))
    if n:
        counts["shuffle_exchange"] = n
    return counts


def _shuffle_totals(spark: SparkSession) -> dict[str, float] | None:
    """Cumulative shuffle read/write bytes from the live UI REST API.

    Returns None when the UI is disabled (the default session config) —
    bench runs enable it so per-phase shuffle deltas land in
    BENCH/bench_full.json (BENCH_r04 post-mortem instrumentation)."""
    try:
        import json as _json
        from urllib.request import urlopen

        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        app_id = spark.sparkContext.applicationId
        with urlopen(f"{base}/api/v1/applications/{app_id}/stages?status=complete", timeout=5) as r:
            stages = _json.load(r)
        return {
            "read": float(sum(s.get("shuffleReadBytes", 0) for s in stages)),
            "write": float(sum(s.get("shuffleWriteBytes", 0) for s in stages)),
        }
    except Exception:
        return None


def attach_retrieved_date(claims: DataFrame, as_of: str) -> DataFrame:
    """Expand compact references into full Wikibase reference snak groups
    (P248 stated-in, P{src} id, P813 retrieved = as_of) — sink-side only."""
    ref_struct = F.transform(
        "references",
        lambda r: F.struct(
            r["stated_in"].alias("stated_in"),
            r["src_prop"].alias("src_prop"),
            r["src_id"].alias("src_id"),
            F.lit(as_of).alias("retrieved"),
        ),
    )
    return claims.withColumn("references", ref_struct)


def write_outputs(tables: dict[str, DataFrame], out_dir: str, as_of: str = "2026-01-01") -> bool:
    """Partitioned item-table sink.

    When the Iceberg runtime is on the classpath, writes REAL Iceberg
    tables (hadoop catalog at `out_dir`, bucket-partitioned on component —
    see plans/iceberg.py) and returns True; otherwise falls back to the
    plain parquet-directory layout and returns False so callers can surface
    which path ran."""
    from .iceberg import configure_catalog, iceberg_available, write_outputs_iceberg

    spark = tables["claims"].sparkSession
    if iceberg_available(spark):
        catalog = configure_catalog(spark, warehouse=out_dir)
        write_outputs_iceberg(tables, namespace="kg", catalog=catalog, as_of=as_of)
        return True

    claims = attach_retrieved_date(tables["claims"], as_of)
    claims.write.mode("overwrite").parquet(f"{out_dir}/claims")
    for name in ("labels", "aliases", "descriptions", "prop_text", "members", "components"):
        tables[name].write.mode("overwrite").parquet(f"{out_dir}/{name}")
    return False


def _should_checkpoint_with_comp(spark: SparkSession) -> bool:
    """Auto decision for the with_comp materialization: checkpoint only
    while the extra table fits the storage budget.

    with_comp is roughly the size of the already-checkpointed triples
    table, so total currently-cached bytes (raw + triples + dims, from
    the driver's storage registry — no job) is the cheap predictor of
    whether adding one more table of that order spills. Calibration
    (BENCH/merge_withcomp_ab_result.txt): at ~2.7 GB total cached the
    checkpoint wins decisively at 8 and 32 cores; at ~21 GB it loses
    with two consumers (storage churn outweighs the saved join). The
    default 4 GiB cap sits above the measured win point; the crossover
    between the two measured scales is unmeasured — tune with
    AUTH2WD_WITHCOMP_CKPT_MAX_BYTES for a different memory budget.
    """
    import os as _os

    cap = int(
        _os.environ.get("AUTH2WD_WITHCOMP_CKPT_MAX_BYTES", str(4 * 1024**3))
    )
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
    except Exception:
        # registry unavailable (exotic deployment): keep the small-scale
        # default — every test/CI corpus is far under the cap
        return True
    return cached <= cap
