"""pages → raw triples: JVM-side routing + vectorized parse UDF.

Routing (url → source, record id) compiles the registry's regex table into
a single JVM-side CASE/regexp_extract expression so noise pages are
filtered inside whole-stage codegen before any Python is involved —
the Catalyst analog of the reference's parser-availability filter
(/root/reference/src/combinator.rs:66-70).

Parsing runs in ``mapInArrow`` (Arrow record batches end to end); one
small in-memory graph per record, never a cluster-wide structure
(SURVEY.md §1.1).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..functions.extid import subj_key
from ..schemas import RAW
from ..sources.registry import PARSERS, ROUTES


def route(pages: DataFrame) -> DataFrame:
    """Tag each page with (source, record_id); unroutable pages drop out.

    Two-step on purpose: the `source` CASE chain is the only expression
    that runs over every (mostly noise) page; id extraction keys off the
    already-computed `source` column and therefore runs one regex on the
    tiny routed fraction instead of re-matching the whole table.
    """
    source_expr = F.lit(None).cast("string")
    # build right-to-left so the FIRST route wins (first-match semantics)
    for source, pattern in reversed(ROUTES):
        cond = F.regexp_like(F.col("url"), F.lit(pattern))
        source_expr = F.when(cond, F.lit(source)).otherwise(source_expr)
    routed = pages.withColumn("source", source_expr).filter(F.col("source").isNotNull())

    id_expr = F.lit(None).cast("string")
    for source, pattern in reversed(ROUTES):
        id_expr = F.when(
            F.col("source") == source, F.regexp_extract(F.col("url"), pattern, 1)
        ).otherwise(id_expr)
    return routed.withColumn("record_id", id_expr)


def latest_snapshot(routed: DataFrame) -> DataFrame:
    """One row per (source, record_id): the latest crawl snapshot wins.

    The fold itself is a max_by hash aggregation (partial map-side
    combine) — but it shuffles full page payloads, which is the single
    most expensive move in the pipeline. So first probe for duplicates on
    the NARROW key columns only (cheap shuffle of ids); when every key is
    already unique — common for curated snapshots — the payload shuffle is
    skipped entirely. Re-crawled corpora pay it once, as they must.
    """
    dup = (
        routed.groupBy("source", "record_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if dup == 0:
        return routed.select("source", "record_id", "url", "text", "lang", "warc_ts")
    return (
        routed.groupBy("source", "record_id")
        .agg(
            F.max_by(F.struct("url", "text", "lang"), "warc_ts").alias("s"),
            F.max("warc_ts").alias("warc_ts"),
        )
        .select("source", "record_id", "s.url", "s.text", "s.lang", "warc_ts")
    )


def attach_secondary_bodies(records: DataFrame) -> DataFrame:
    """Join two-page sources (GBIF species + occurrence images) on record id.

    The images side is a small filtered slice → broadcast-joined; primary
    records pass through untouched (SURVEY §2.1 S16).
    """
    extra = (
        records.filter(F.col("source") == "gbif_images")
        .select(
            F.col("record_id").alias("x_record_id"),
            F.col("text").alias("extra_text"),
        )
    )
    primary = records.filter(F.col("source") != "gbif_images")
    return primary.join(
        F.broadcast(extra),
        (primary["source"] == "gbif") & (primary["record_id"] == extra["x_record_id"]),
        "left",
    ).drop("x_record_id")


from ..functions.extid import do_not_use_external_url

# column order of the output tuples — must match RAW
_RAW_NAMES = [f.name for f in RAW.fields]

_NO_RESCUE_SOURCES = ("worldcat", "inaturalist", "ncbi", "gbif", "pubchem")


def _record_rows(
    source: str, record_id: str, url: str, text: str, extra: str | None
) -> list[tuple]:
    """Parse one record → output tuples in RAW column order.

    Tuple-based (not dict-based) on purpose: the extraction stage emits
    ~10 rows × 21 columns per page, and columnar/tuple assembly is what
    keeps the Arrow batch build from dominating the whole stage.
    """
    parser = PARSERS.get(source)
    if parser is None or text is None:
        return []
    try:
        eff_id, b = parser.parse(record_id, text, extra)
    except Exception:
        return []
    subj = subj_key(parser.property, eff_id)
    rescues = source not in _NO_RESCUE_SOURCES
    prop = parser.property
    out = []
    for r in b.rows:
        kind = r["kind"]
        # defaults (RAW order):
        # subj kind pred obj_type obj_value obj_lang obj_precision rank
        # qualifiers has_ref needs_gnd_check cand_kind cand_property cand_id
        # fallback_property fallback_text rescue src_property src_id src_url ord
        if kind == "claim":
            quals = r["qualifiers"]
            out.append(
                (
                    subj, kind, r["pred"], r["obj_type"], r["obj_value"],
                    r["obj_lang"], r["obj_precision"], r["rank"],
                    json.dumps([list(q) for q in quals]) if quals else "",
                    bool(r["has_ref"]), bool(r.get("needs_gnd_check")),
                    None, None, None, None, None, None,
                    prop, eff_id, url, r["ord"],
                )
            )
        elif kind == "candidate":
            fb = r.get("fallback_text")
            if fb is not None and do_not_use_external_url(fb):
                fb = None  # denylisted fallback never becomes prop_text
            out.append(
                (
                    subj, kind, r["pred"], None, None, None, None, None, "",
                    bool(r["has_ref"]), None,
                    r["cand_kind"], r["cand_property"], r["cand_id"],
                    r.get("fallback_property"), fb, None,
                    prop, eff_id, url, r["ord"],
                )
            )
        elif kind == "prop_text":
            out.append(
                (
                    subj, kind, None, None, None, None, None, None, None,
                    # a later rescue claim inherits the parser's per-property
                    # reference policy (e.g. GND never references P27)
                    parser.ref_for_property(r["fallback_property"]), None,
                    None, None, None,
                    r["fallback_property"], r["fallback_text"], rescues,
                    prop, eff_id, url, r["ord"],
                )
            )
        else:  # label | alias | description
            out.append(
                (
                    subj, kind, None, None, r["obj_value"], r["obj_lang"],
                    None, None, None, None, None,
                    None, None, None, None, None, None,
                    prop, eff_id, url, r["ord"],
                )
            )
    return out


def extract(records: DataFrame) -> DataFrame:
    """records (source, record_id, url, text[, extra_text]) → RAW triples.

    Round 6: ``mapInArrow`` instead of ``mapInPandas`` — the parse emits
    ~10 rows × 21 columns per page, and the pandas path paid a
    ``DataFrame.from_records`` object frame plus Spark's pandas→Arrow
    conversion per batch. Building the Arrow record batch directly from
    per-column lists skips both (measured: parse noop 3.8–5.2 s →
    3.3–3.5 s at the sf0.1 bench corpus; output verified row-identical
    via two-sided exceptAll). The parse kernel (_record_rows) is
    unchanged.
    """
    if "extra_text" not in records.columns:
        records = records.withColumn("extra_text", F.lit(None).cast("string"))
    cols = ["source", "record_id", "url", "text", "extra_text"]

    def parse_batches(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(RAW)
        ncols = len(_RAW_NAMES)
        for batch in batches:
            names = batch.schema.names
            ix = [names.index(c) for c in cols]
            rows: list[tuple] = []
            # .to_pylist() once per column: plain-object iteration, no
            # per-element boxing
            for source, record_id, url, text, extra in zip(
                *[batch.column(i).to_pylist() for i in ix]
            ):
                rows.extend(_record_rows(source, record_id, url, text, extra))
            arrays = [
                pa.array([r[i] for r in rows], type=schema.field(i).type)
                for i in range(ncols)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return records.select(*cols).mapInArrow(parse_batches, schema=RAW)


def extract_pages(
    pages: DataFrame,
    materialize: Callable[[DataFrame], DataFrame] = lambda df: df.localCheckpoint(),
) -> DataFrame:
    """Full pages → RAW chain: route → latest snapshot → pair → parse.

    The routed frame is persisted across its three consumers (duplicate
    probe, secondary-body broadcast build, parse input) — the 19-regex
    route scan is the most expensive JVM expression in the pipeline and
    must run once, not once per consumer.

    `materialize` runs raw once and returns a frame that no longer reads
    the route cache (default: an eager localCheckpoint, which also
    truncates lineage; run_resumable passes its parquet stage write). The
    route cache is released right after it, on every path: repeated
    pipeline runs must not accumulate cached route copies (storage-memory
    leak → GC drag).
    """
    from pyspark import StorageLevel

    routed = route(pages).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return materialize(extract(attach_secondary_bodies(latest_snapshot(routed))))
    finally:
        routed.unpersist()
