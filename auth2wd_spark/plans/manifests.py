"""Per-stage lineage manifests + resumable pipeline execution.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Every materialized stage writes, next to its parquet files,
a ``_MANIFEST.json`` recording:

  - per-file row counts and content hashes (order-insensitive xxhash64
    aggregate) — the per-partition lineage,
  - stage metrics (row count, wall seconds, rows/sec),
  - the stage's input manifest hashes (upstream lineage).

``materialize_stages`` writes a batch of stages and is the resume point:
a stage whose directory already holds a manifest matching the files on
disk is NOT recomputed — the parquet is read back (kill + rerun ⇒
identical output, verified by tests/test_resume.py). Three facts about a
batch:

  - the stages left to write are written concurrently, one thread per
    stage (the item tables are independent, and each small write alone
    leaves most cores idle);
  - one inventory job computes the per-file rows and content hashes of
    every stage in the batch;
  - manifests are written only after every write and the inventory
    succeeded, so a batch that fails or is killed before then leaves no
    manifest, and a rerun recomputes it from its inputs.

``materialize_stage`` is the one-stage batch.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schemas

MANIFEST = "_MANIFEST.json"
ITEM_TABLES = ("claims", "labels", "aliases", "descriptions", "prop_text", "members")


def _file_inventory(frames: list[DataFrame]) -> list[list[dict]]:
    """(file, rows, content_hash) per parquet file behind each frame, a
    plain parquet read of one stage directory — all frames in one job."""
    per_stage = [
        df.select(
            F.lit(i).alias("_stage"),
            F.input_file_name().alias("_file"),
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).alias("_hash"),
        )
        for i, df in enumerate(frames)
    ]
    per_file = (
        reduce(DataFrame.unionAll, per_stage)
        .groupBy("_stage", "_file")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_hash").cast("decimal(38,0)")).alias("content_hash"),
        )
        .collect()
    )
    inventories: list[list[dict]] = [[] for _ in frames]
    for r in per_file:
        inventories[r["_stage"]].append(
            {
                "file": os.path.basename(r["_file"]),
                "rows": r["rows"],
                "content_hash": str(r["content_hash"]),
            }
        )
    return [sorted(files, key=lambda d: d["file"]) for files in inventories]


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MANIFEST)


def stage_is_complete(spark: SparkSession, stage_dir: str) -> bool:
    """True iff a manifest exists and the parquet files on disk match it.

    An empty stage lists no files (the inventory sees no rows), and its
    manifest's zero row count is what marks it complete."""
    mpath = _manifest_path(stage_dir)
    if not os.path.exists(mpath):
        return False
    try:
        with open(mpath, encoding="utf-8") as fh:
            manifest = json.load(fh)
        on_disk = {
            f for f in os.listdir(stage_dir) if f.endswith(".parquet") or f.startswith("part-")
        }
        expected = {entry["file"] for entry in manifest["files"]}
        return expected <= on_disk and (bool(expected) or manifest["metrics"]["rows"] == 0)
    except (OSError, ValueError, KeyError):
        return False


def _write(df: DataFrame, stage_dir: str) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").parquet(stage_dir)
    return time.perf_counter() - t0


def _materialize(
    stages: list[tuple[DataFrame, str, str]], inputs: list[str] | None
) -> list[DataFrame]:
    """Write-or-resume each (frame, stage_dir, stage_name); returns the
    materialized frames in order. Only the parquet writes run on worker
    threads: everything else stays on the caller's thread."""
    spark = stages[0][0].sparkSession
    # wrapped before the completeness checks: each write's jobs keep the
    # job group the caller had on entry. One wrap per stage, because each
    # wrap clones the local properties and a SQL execution sets its id in
    # them.
    targets = [inheritable_thread_target(spark)(_write) for _ in stages]
    todo = [
        i for i, (_, stage_dir, _) in enumerate(stages) if not stage_is_complete(spark, stage_dir)
    ]
    if todo:
        with ThreadPoolExecutor(max_workers=len(todo)) as pool:
            futures = [pool.submit(targets[i], stages[i][0], stages[i][1]) for i in todo]
        # every write has ended here; result() re-raises the first failure
        elapsed = [f.result() for f in futures]
    # one read-back per stage with the known schema: schema inference
    # would start a footer-reading job per read
    written = [spark.read.schema(df.schema).parquet(stage_dir) for df, stage_dir, _ in stages]
    if not todo:
        return written
    inventories = _file_inventory([written[i] for i in todo])
    for i, seconds, files in zip(todo, elapsed, inventories):
        _, stage_dir, stage_name = stages[i]
        n_rows = sum(f["rows"] for f in files)
        manifest = {
            "stage": stage_name,
            "files": files,
            "metrics": {
                "rows": n_rows,
                "wall_sec": round(seconds, 3),
                "rows_per_sec": round(n_rows / seconds, 1) if seconds > 0 else None,
            },
            "inputs": inputs or [],
        }
        with open(_manifest_path(stage_dir), "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
    return written


def materialize_stages(
    frames: dict[str, DataFrame], out_dir: str, inputs: list[str] | None = None
) -> dict[str, DataFrame]:
    """Write-or-resume one batch of stages, each to ``{out_dir}/{name}``
    (see the module doc); returns the materialized frames by name."""
    stages = [(df, os.path.join(out_dir, name), name) for name, df in frames.items()]
    return dict(zip(frames, _materialize(stages, inputs)))


def materialize_stage(
    df: DataFrame,
    stage_dir: str,
    stage_name: str,
    inputs: list[str] | None = None,
) -> DataFrame:
    """Write-or-resume one pipeline stage; returns the materialized frame."""
    return _materialize([(df, stage_dir, stage_name)], inputs)[0]


def read_manifest(stage_dir: str) -> dict:
    with open(_manifest_path(stage_dir), encoding="utf-8") as fh:
        return json.load(fh)


def run_resumable(
    pages: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    out_dir: str,
    config=None,
) -> dict[str, DataFrame]:
    """Checkpointed variant of plans.pipeline.run_pipeline: each stage
    materializes to ``{out_dir}/{stage}`` with a manifest and resumes from
    the last completed stage on rerun."""
    from ..operators.cc import assign_components, build_edges, connected_components
    from ..operators.extract import extract_pages
    from ..operators.linking import link
    from ..operators.merge import merge_component
    from .pipeline import PipelineConfig, salt_components

    config = config or PipelineConfig()
    spark = pages.sparkSession
    from ..session import ship_package

    ship_package(spark)

    raw_dir = os.path.join(out_dir, "raw")
    if stage_is_complete(spark, raw_dir):
        raw = spark.read.schema(schemas.RAW).parquet(raw_dir)
    else:
        # the parquet stage write is the materialization here
        raw = extract_pages(pages, lambda df: materialize_stage(df, raw_dir, "extract"))

    triples_dir = os.path.join(out_dir, "triples")
    if stage_is_complete(spark, triples_dir):
        # link() keeps raw's columns
        triples = spark.read.schema(schemas.TRIPLES).parquet(triples_dir)
    else:
        triples = materialize_stage(
            link(raw, id_to_qid, viaf_lookup, valid_gnd_ids, label_retry=config.label_retry),
            triples_dir,
            "link",
            inputs=["raw"],
        )

    comp_dir = os.path.join(out_dir, "components")
    if stage_is_complete(spark, comp_dir):
        labels = spark.read.schema(schemas.COMPONENTS).parquet(comp_dir)
    else:
        labels = materialize_stage(
            connected_components(build_edges(triples)),
            comp_dir,
            "connected_components",
            inputs=["triples"],
        )

    if all(stage_is_complete(spark, os.path.join(out_dir, name)) for name in ITEM_TABLES):
        # nothing reads with_comp on a full resume: a lazy frame of its
        # schema gives the item tables' schemas for the read-back, and no
        # assign count or checkpoint runs
        with_comp = triples.withColumn("component", F.col("subj"))
    else:
        # one materialization feeds all six table writes below — lazy
        # with_comp would re-execute the triples × labels join per write
        # (3.1× slower at bench cardinalities, BENCH/merge_withcomp_ab_result.txt)
        with_comp = salt_components(
            assign_components(triples, labels), config.salt_partitions
        ).localCheckpoint()
    tables = merge_component(with_comp, ref_cap=config.ref_cap)
    out = materialize_stages(
        {name: tables[name] for name in ITEM_TABLES}, out_dir, inputs=["triples", "components"]
    )
    out["triples"] = triples
    out["components"] = labels
    return out
