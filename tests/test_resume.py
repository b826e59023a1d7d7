"""Resumability: kill + rerun ⇒ identical output, completed stages reused."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from auth2wd_spark import schemas
from auth2wd_spark.corpus.generate import build_corpus
from auth2wd_spark.plans.manifests import (
    _file_inventory,
    materialize_stage,
    materialize_stages,
    read_manifest,
    run_resumable,
    stage_is_complete,
)
from auth2wd_spark.plans.pipeline import PipelineConfig


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


def test_run_resumable_releases_route_cache(spark, corpus_frames, tmp_path):
    """extract_pages persists the routed pages for its consumers; once
    run_resumable returns, no cached Dataset may be left behind."""
    spark.catalog.clearCache()
    run_resumable(*corpus_frames, str(tmp_path / "out"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


ITEM_TABLES = ("claims", "labels", "aliases", "descriptions", "prop_text", "members")


def test_run_resumable_applies_salt_partitions(spark, corpus_frames, tmp_path, monkeypatch):
    """salt_partitions repartitions with_comp on (component, salt) before
    it is checkpointed for the merge, and changes none of the six item
    tables."""
    checkpointed = []
    frame_class = type(corpus_frames[0])  # the concrete (classic) DataFrame
    local_checkpoint = frame_class.localCheckpoint

    def spy(df, *args, **kwargs):
        checkpointed.append(df._jdf.queryExecution().analyzed().toString())
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_class, "localCheckpoint", spy)
    tables, salted_plans = {}, {}
    for salt in (0, 8):
        checkpointed.clear()
        out = run_resumable(
            *corpus_frames, str(tmp_path / f"salt{salt}"), PipelineConfig(salt_partitions=salt)
        )
        tables[salt] = {name: sorted(map(repr, out[name].collect())) for name in ITEM_TABLES}
        salted_plans[salt] = [
            plan
            for plan in checkpointed
            if plan.startswith("RepartitionByExpression [component#")
            and "pmod(xxhash64(subj#" in plan
        ]
    assert salted_plans[0] == []
    assert len(salted_plans[8]) == 1 and "cast(8 as bigint))]" in salted_plans[8][0]
    assert tables[8] == tables[0]
    assert all(tables[0][name] for name in ("claims", "labels", "members"))


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; returns its result and the
    (job id, stage names) of every job it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    def stage_names(job):
        infos = (tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds)
        return [(info and info.name) or "" for info in infos]

    return result, [(j, stage_names(j)) for j in sorted(tracker.getJobIdsForGroup(group))]


def _inventory_jobs(jobs):
    return [
        j
        for j, names in jobs
        if any(n.startswith("collect at") and "manifests.py" in n for n in names)
    ]


def _small_frames(spark):
    return {
        "ints": spark.range(0, 1000, numPartitions=2).withColumn("v", F.col("id") % 7),
        "strs": spark.range(0, 300, numPartitions=3).select(
            F.concat(F.lit("k"), F.col("id")).alias("k")
        ),
        "pairs": spark.range(0, 50, numPartitions=1).select(
            (F.col("id") * 2).alias("a"), F.col("id").cast("double").alias("b")
        ),
    }


def test_materialize_stages_inventories_batch_in_one_job(spark, tmp_path):
    """A batch of three stages starts as many inventory jobs as one stage
    alone does: one inventory covers the batch. Each manifest lists, file
    for file, what the inventory of that stage alone gives."""
    frames = _small_frames(spark)
    _, one = _jobs_in_group(
        spark,
        "materialize-one",
        lambda: materialize_stage(frames["ints"], str(tmp_path / "one"), "one"),
    )
    out, batch = _jobs_in_group(
        spark, "materialize-batch", lambda: materialize_stages(frames, str(tmp_path / "batch"))
    )
    assert len(_inventory_jobs(one)) >= 1
    assert len(_inventory_jobs(batch)) == len(_inventory_jobs(one)), (one, batch)
    for name, df in frames.items():
        stage_dir = str(tmp_path / "batch" / name)
        assert stage_is_complete(spark, stage_dir)
        manifest = read_manifest(stage_dir)
        assert manifest["stage"] == name
        assert manifest["files"] == _file_inventory([spark.read.parquet(stage_dir)])[0]
        assert manifest["metrics"]["rows"] == df.count() == out[name].count()
        assert out[name].schema == spark.read.parquet(stage_dir).schema


def test_materialize_stages_failed_write_leaves_no_manifest(spark, tmp_path):
    """One stage failing at write time fails the batch: the call raises
    and no stage of the batch gets a manifest. A rerun completes it."""
    frames = _small_frames(spark)
    bad = frames["strs"].withColumn(
        "boom", F.when(F.col("k") == "k7", F.raise_error(F.lit("boom"))).otherwise(F.col("k"))
    )
    out_dir = str(tmp_path / "batch")
    with pytest.raises(Exception, match="boom"):
        materialize_stages({**frames, "strs": bad}, out_dir)
    for name in frames:
        assert not os.path.exists(os.path.join(out_dir, name, "_MANIFEST.json")), name
    out = materialize_stages(frames, out_dir)
    assert all(stage_is_complete(spark, os.path.join(out_dir, name)) for name in frames)
    counts = {name: df.count() for name, df in out.items()}
    assert counts == {"ints": 1000, "strs": 300, "pairs": 50}


@pytest.fixture(scope="module")
def finished_run(corpus_frames, tmp_path_factory):
    """An out_dir on which run_resumable has completed every stage, with
    the six item tables of that run."""
    out = str(tmp_path_factory.mktemp("finished"))
    tables = run_resumable(*corpus_frames, out)
    return out, {name: sorted(map(repr, tables[name].collect())) for name in ITEM_TABLES}


def test_full_resume_skips_assign(spark, corpus_frames, finished_run, monkeypatch):
    """A rerun on a finished out_dir recomputes nothing: no assign
    checkpoint runs, and it returns the same six item tables."""
    out, first = finished_run
    checkpointed = []
    frame_class = type(corpus_frames[0])  # the concrete (classic) DataFrame
    local_checkpoint = frame_class.localCheckpoint

    def spy(df, *args, **kwargs):
        checkpointed.append(df)
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_class, "localCheckpoint", spy)
    tables = run_resumable(*corpus_frames, out)
    assert checkpointed == []
    assert {name: sorted(map(repr, tables[name].collect())) for name in ITEM_TABLES} == first


def test_resume_reads_with_known_schemas(spark, corpus_frames, finished_run):
    """Resuming reads every completed stage with its known schema: a full
    resume starts no job, not even a parquet schema-inference one, and
    the schemas equal the inferred ones."""
    out, _ = finished_run
    tables, jobs = _jobs_in_group(
        spark, "resume-read-schemas", lambda: run_resumable(*corpus_frames, out)
    )
    assert jobs == []
    for name in ("triples", "components", *ITEM_TABLES):
        assert tables[name].schema == spark.read.parquet(os.path.join(out, name)).schema, name
    raw_dir = os.path.join(out, "raw")
    raw_schema = spark.read.schema(schemas.RAW).parquet(raw_dir).schema
    assert raw_schema == spark.read.parquet(raw_dir).schema
