"""Resumability: kill + rerun ⇒ identical output, completed stages reused."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from auth2wd_spark import schemas
from auth2wd_spark.corpus.generate import build_corpus
from auth2wd_spark.plans.manifests import (
    materialize_stage,
    read_manifest,
    run_resumable,
    stage_is_complete,
)


@pytest.fixture(scope="module")
def corpus_frames(spark):
    corpus = build_corpus(n_persons=12, noise_pages=4)
    return (
        spark.createDataFrame(corpus["pages"], schema=schemas.PAGES),
        spark.createDataFrame(corpus["id_to_qid"], schema=schemas.ID_TO_QID),
        spark.createDataFrame(corpus["viaf_lookup"], schema=schemas.VIAF_LOOKUP),
        spark.createDataFrame(corpus["valid_gnd_ids"], schema=schemas.VALID_GND_IDS),
    )


def _claims_fingerprint(tables):
    return sorted(
        (r["component"], r["pred"], r["obj_value"])
        for r in tables["claims"].select("component", "pred", "obj_value").collect()
    )


def test_resume_after_partial_run(spark, corpus_frames, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume"))
    pages, idq, vl, vg = corpus_frames

    t1 = run_resumable(pages, idq, vl, vg, out)
    fp1 = _claims_fingerprint(t1)
    assert stage_is_complete(spark, os.path.join(out, "raw"))
    assert stage_is_complete(spark, os.path.join(out, "triples"))

    # manifest carries per-file lineage + metrics
    m = read_manifest(os.path.join(out, "triples"))
    assert m["metrics"]["rows"] > 0
    assert all("content_hash" in f and f["rows"] >= 0 for f in m["files"])
    assert m["inputs"] == ["raw"]

    # simulate a crash after the link stage: downstream outputs destroyed
    for stage in ("components", "claims", "labels", "aliases", "descriptions", "prop_text", "members"):
        shutil.rmtree(os.path.join(out, stage), ignore_errors=True)
    raw_manifest_before = read_manifest(os.path.join(out, "raw"))

    t2 = run_resumable(pages, idq, vl, vg, out)
    fp2 = _claims_fingerprint(t2)
    assert fp1 == fp2, "rerun must reproduce identical claims"
    # completed upstream stages were NOT recomputed (manifest untouched)
    assert read_manifest(os.path.join(out, "raw")) == raw_manifest_before


def test_incomplete_stage_recomputed(spark, corpus_frames, tmp_path_factory):
    """A stage dir without a manifest (interrupted write) is recomputed."""
    out = str(tmp_path_factory.mktemp("resume2"))
    pages, idq, vl, vg = corpus_frames
    run_resumable(pages, idq, vl, vg, out)
    # corrupt: drop the manifest of `triples`
    os.remove(os.path.join(out, "triples", "_MANIFEST.json"))
    assert not stage_is_complete(spark, os.path.join(out, "triples"))
    t = run_resumable(pages, idq, vl, vg, out)
    assert stage_is_complete(spark, os.path.join(out, "triples"))
    assert t["claims"].count() > 0


def test_materialize_stage_reads_back_with_known_schema(spark, tmp_path):
    """Writing a stage starts the write job and the manifest's inventory
    jobs, but no parquet schema-inference job: the stage is read back
    once, with the schema of the frame that was written."""
    sc = spark.sparkContext
    df = spark.range(0, 1000, numPartitions=2).withColumn("v", F.col("id") % 7)
    group = "materialize-stage-read-back"
    sc.setJobGroup(group, group)
    try:
        out = materialize_stage(df, str(tmp_path / "stage"), "stage")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    parquet_jobs = [
        j
        for j in jobs
        if any(
            (tracker.getStageInfo(s) and tracker.getStageInfo(s).name or "").startswith("parquet at")
            for s in tracker.getJobInfo(j).stageIds
        )
    ]
    assert parquet_jobs == jobs[:1], (jobs, parquet_jobs)  # the write only
    assert read_manifest(str(tmp_path / "stage"))["metrics"]["rows"] == 1000
    assert out.schema == spark.read.parquet(str(tmp_path / "stage")).schema
    assert out.count() == 1000
