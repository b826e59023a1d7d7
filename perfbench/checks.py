"""Output checks and layer-boundary counts.

Pipeline outputs are checked against invariants that follow from the
generator's arithmetic (component count, the hot cluster, no stale
re-crawl text) and, where a digest is pinned for the (workload, seed),
against an order-insensitive per-table row count and content digest.
Query leaves are checked against their DuckDB oracle, canonicalised the
same way as the repository's oracle tests (columns by name, rows
sorted, floats rounded to 9 digits).
"""

from __future__ import annotations

import decimal
import json
import math
import os

from gen import STALE_TOKEN

# the merged item tables; triples is an intermediate whose shape is
# expected to change, so it is checked for presence only
DIGEST_TABLES = ("claims", "labels", "aliases", "descriptions", "prop_text", "members")


def table_digest(df) -> list:
    """[rows, order-insensitive content hash] of a DataFrame."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.to_json(F.struct(*df.columns))).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(row["n"]), str(row["h"] or 0)]


def load_pins(here: str, workload: str, seed: int) -> dict | None:
    path = os.path.join(here, "pins.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def pipeline_failures(tables: dict, expected: dict, pins: dict | None) -> tuple[list[str], dict]:
    from pyspark.sql import functions as F

    failures = []
    digests = {name: table_digest(tables[name]) for name in DIGEST_TABLES}
    n_triples = tables["triples"].count()
    for name, n in (("triples", n_triples), *((k, v[0]) for k, v in digests.items())):
        if name in ("triples", "claims", "labels", "members") and n == 0:
            failures.append(f"{name} is empty")

    members = tables["members"]
    n_comp = members.select("component").distinct().count()
    if n_comp != expected["components"]:
        failures.append(f"components {n_comp} != expected {expected['components']}")

    hot = [f"P227:{g}" for g in expected["hot_gnd"]]
    hot_rows = members.filter(F.col("subj").isin(hot)).select("subj", "component").collect()
    hot_comps = {r["component"] for r in hot_rows}
    if len({r["subj"] for r in hot_rows}) != len(hot) or len(hot_comps) != 1:
        failures.append(f"hot persons span {len(hot_comps)} components ({len(hot_rows)}/{len(hot)} found)")

    stale = tables["labels"].filter(F.col("label").contains(STALE_TOKEN)).count()
    stale += tables["aliases"].filter(F.col("alias").contains(STALE_TOKEN)).count()
    if stale:
        failures.append(f"{stale} stale re-crawl labels or aliases")

    for name, want in (pins or {}).items():
        if digests.get(name) != want:
            failures.append(f"{name} digest {digests.get(name)} != pinned {want}")
    return failures, digests


def corrupt_labels(labels):
    """A stale label appended to the labels table (for the self-test)."""
    first = labels.limit(1)
    return labels.unionByName(first.selectExpr("component", "lang", f"'{STALE_TOKEN} label' AS label"))


def pipeline_counts(spark, tables: dict, out_dir: str, inputs: str) -> dict[str, float]:
    """Ratios and counts at the layer boundaries of one resumable run."""
    from pyspark.sql import functions as F

    from auth2wd_spark.operators.extract import latest_snapshot, route

    pages = tables["pages"].count()
    routed = route(tables["pages"])
    n_routed = routed.count()
    n_records = latest_snapshot(routed).count()

    raw = spark.read.parquet(os.path.join(out_dir, "raw"))
    triples = spark.read.parquet(os.path.join(out_dir, "triples"))
    extid = raw.filter((F.col("kind") == "candidate") & (F.col("cand_kind") == "extid"))
    keys = ["subj", "src_url", "ord", "pred"]
    claims = triples.filter(F.col("kind") == "claim").select(*keys).distinct()
    n_extid = extid.count()
    n_resolved = extid.join(claims, keys, "left_semi").count()

    comps = spark.read.parquet(os.path.join(out_dir, "components"))
    sizes = comps.groupBy("component").count()
    agg = sizes.agg(F.count(F.lit(1)).alias("n"), F.max("count").alias("largest")).first()

    out_bytes = files = 0
    for dirpath, _dirs, names in os.walk(out_dir):
        for name in names:
            out_bytes += os.path.getsize(os.path.join(dirpath, name))
            files += name.startswith("part-")
    in_bytes = sum(
        os.path.getsize(os.path.join(inputs, f"{name}.parquet"))
        for name in ("pages", "id_to_qid", "viaf_lookup", "valid_gnd_ids")
    )
    return {
        "extract.route.kept_ratio": n_routed / pages if pages else 0.0,
        "extract.snapshot.kept_ratio": n_records / n_routed if n_routed else 0.0,
        "link.resolved_ratio": n_resolved / n_extid if n_extid else 0.0,
        "cc.components": float(agg["n"] or 0),
        "cc.largest_component": float(agg["largest"] or 0),
        "write.bytes_per_input_byte": out_bytes / in_bytes if in_bytes else 0.0,
        "write.files": float(files),
    }


# --------------------------------------------------------------------------
# query leaves


def _norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    return str(v)


def canonical(columns: list[str], rows: list[tuple]) -> dict:
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {
        "columns": sorted(cols),
        "rows": sorted([_norm(r[i]) for i in order] for r in rows),
    }


def leaf_failure(result, want: dict | None) -> str | None:
    """Why a leaf result differs from its oracle, or None if it matches."""
    if isinstance(result, Exception):
        return f"raised {type(result).__name__}: {str(result)[:200]}"
    if want is None:
        return "no oracle result"
    got = canonical(*result)
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"rows {len(got['rows'])} != {len(want['rows'])}"
    if got["rows"] != want["rows"]:
        i = next(k for k, (a, b) in enumerate(zip(got["rows"], want["rows"])) if a != b)
        return f"value mismatch at sorted row {i}: {got['rows'][i]} != {want['rows'][i]}"
    return None


def corrupt_rows(result):
    """The leaf result with its first row removed (for the self-test)."""
    columns, rows = result
    return columns, rows[1:] if rows else [tuple(None for _ in columns)]


def oracle_results(inputs: str, names) -> dict:
    """Canonical DuckDB oracle result of each leaf over the input tables."""
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for path in sorted(os.listdir(inputs)):
            if path.endswith(".parquet"):
                table = path[: -len(".parquet")]
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(inputs, path)}')"
                )
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = canonical([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
