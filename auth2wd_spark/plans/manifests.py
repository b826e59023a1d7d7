"""Per-stage lineage manifests + resumable pipeline execution.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Every materialized stage writes, next to its parquet files,
a ``_MANIFEST.json`` recording:

  - per-file row counts and content hashes (order-insensitive xxhash64
    aggregate) — the per-partition lineage,
  - stage metrics (row count, wall seconds, rows/sec),
  - the stage's input manifest hashes (upstream lineage).

``materialize_stage`` is the resume point: if the stage directory already
holds a manifest whose file inventory matches what's on disk, the stage is
NOT recomputed — the parquet is read back (kill + rerun ⇒ identical
output, verified by tests/test_resume.py). A stage interrupted mid-write
leaves no manifest, so a rerun recomputes it from its inputs.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST = "_MANIFEST.json"


def _file_inventory(df: DataFrame) -> list[dict]:
    """(file, rows, content_hash) per parquet file behind `df`, a plain
    parquet read of one stage directory."""
    cols = df.columns
    per_file = (
        df.withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
            ).alias("content_hash"),
        )
        .collect()
    )
    return sorted(
        (
            {
                "file": os.path.basename(r["_file"]),
                "rows": r["rows"],
                "content_hash": str(r["content_hash"]),
            }
            for r in per_file
        ),
        key=lambda d: d["file"],
    )


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MANIFEST)


def stage_is_complete(spark: SparkSession, stage_dir: str) -> bool:
    """True iff a manifest exists and the parquet files on disk match it."""
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
        return expected <= on_disk and bool(expected)
    except (OSError, ValueError, KeyError):
        return False


def materialize_stage(
    df: DataFrame,
    stage_dir: str,
    stage_name: str,
    inputs: list[str] | None = None,
) -> DataFrame:
    """Write-or-resume one pipeline stage; returns the materialized frame."""
    spark = df.sparkSession
    if stage_is_complete(spark, stage_dir):
        return spark.read.schema(df.schema).parquet(stage_dir)
    t0 = time.perf_counter()
    df.write.mode("overwrite").parquet(stage_dir)
    elapsed = time.perf_counter() - t0
    # one read-back with the known schema: schema inference would start a
    # footer-reading job per read
    written = spark.read.schema(df.schema).parquet(stage_dir)
    files = _file_inventory(written)
    n_rows = sum(f["rows"] for f in files)
    manifest = {
        "stage": stage_name,
        "files": files,
        "metrics": {
            "rows": n_rows,
            "wall_sec": round(elapsed, 3),
            "rows_per_sec": round(n_rows / elapsed, 1) if elapsed > 0 else None,
        },
        "inputs": inputs or [],
    }
    with open(_manifest_path(stage_dir), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return written


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
        raw = spark.read.parquet(raw_dir)
    else:
        # the parquet stage write is the materialization here
        raw = extract_pages(pages, lambda df: materialize_stage(df, raw_dir, "extract"))

    triples_dir = os.path.join(out_dir, "triples")
    if stage_is_complete(spark, triples_dir):
        triples = spark.read.parquet(triples_dir)
    else:
        triples = materialize_stage(
            link(raw, id_to_qid, viaf_lookup, valid_gnd_ids, label_retry=config.label_retry),
            triples_dir,
            "link",
            inputs=["raw"],
        )

    comp_dir = os.path.join(out_dir, "components")
    if stage_is_complete(spark, comp_dir):
        labels = spark.read.parquet(comp_dir)
    else:
        labels = materialize_stage(
            connected_components(build_edges(triples)),
            comp_dir,
            "connected_components",
            inputs=["triples"],
        )

    # one materialization feeds all six table writes below — lazy
    # with_comp would re-execute the triples × labels join per write
    # (3.1× slower at bench cardinalities, BENCH/merge_withcomp_ab_result.txt)
    with_comp = salt_components(
        assign_components(triples, labels), config.salt_partitions
    ).localCheckpoint()
    tables = merge_component(with_comp, ref_cap=config.ref_cap)
    out = {}
    for name in ("claims", "labels", "aliases", "descriptions", "prop_text", "members"):
        out[name] = materialize_stage(
            tables[name], os.path.join(out_dir, name), name, inputs=["triples", "components"]
        )
    out["triples"] = triples
    out["components"] = labels
    return out
