"""Seeded input generators for the benchmark workloads.

Every table is written once per (workload, seed) with pyarrow, in one
process and outside all timing, then read by the measured processes.
The program under test only ever sees these parquet files.

Pipeline corpora reuse the package's per-person page functions
(``corpus.generate.person_pages`` / ``person_dims``) so page shapes
follow the parsers' formats; the benchmark adds what those functions do
not vary: seed-drawn person ids, re-crawled (older, textually different)
snapshots and the page order. Noise pages are the package's own
``noise_page`` rows.
Fixture pages are never included, so inputs do not depend on any
mounted reference data.

The query tables mimic the schemas and value domains of the tables
``__spark_entry__.queries()`` reads (TPC-H-ish star schema, an events
stream, documents and embeddings).
"""

from __future__ import annotations

import json
import math
import os
import random
from datetime import datetime, timedelta

STALE_TOKEN = "Stale"


def _write(out_dir: str, name: str, rows: list[dict], schema) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return os.path.getsize(path)


def _stale_copy(page: dict, age_s: int) -> dict:
    """An older crawl of the same url whose text differs: every given
    name is replaced, so a stale snapshot that wins would surface a
    ``Stale`` label or alias."""
    text = page["text"].replace("Given", STALE_TOKEN)
    return {
        "url": page["url"],
        "warc_ts": page["warc_ts"] - timedelta(seconds=age_s),
        "html": text.encode("utf-8"),
        "text": text,
        "lang": page["lang"],
    }


def pipeline_corpus(spec: dict, seed: int) -> tuple[dict[str, list[dict]], dict]:
    """(tables, expected) for one pipeline workload and seed.

    ``expected`` carries the generator's arithmetic that the output
    checks use: person ids, the hot set and the expected component count.
    """
    from auth2wd_spark.corpus.generate import _person, noise_page, person_dims, person_pages, synthetic_corpus

    rng = random.Random(seed)
    n = spec["persons"]
    hot_n = max(1, int(n * spec["hot_share"]))
    # persons 0..hot_n-1 form the hot cluster (person_pages links every
    # 0 < i < hot_n to person 0's VIAF id); the rest come from a
    # seed-drawn id window so every seed parses different records
    base = rng.randrange(hot_n, 900_000 - n)
    persons = list(range(hot_n)) + list(range(base, base + n - hot_n))

    # the person-independent dimension rows (golden, occupations, countries)
    _, id_to_qid, viaf_lookup, valid_gnd = synthetic_corpus(n_persons=0, noise_pages=0)

    pages: list[dict] = []
    recrawls = 0
    for i in persons:
        for page in person_pages(i, hot_n):
            pages.append(page)
            if rng.random() < spec["recrawl_share"]:
                pages.append(_stale_copy(page, rng.randint(3600, 400 * 86400)))
                recrawls += 1
        pid, pvl, pvg = person_dims(i, spec["coverage"])
        id_to_qid.extend(pid)
        viaf_lookup.extend(pvl)
        valid_gnd.extend(pvg)
    authority = len(pages) - recrawls
    n_noise = int(round(n * spec["noise_per_person"]))
    pages.extend(noise_page(k) for k in range(n_noise))
    rng.shuffle(pages)

    expected = {
        "persons": len(persons),
        "hot_persons": hot_n,
        # one component per person, except that the hot persons all
        # join person 0's component
        "components": len(persons) - hot_n + 1,
        "hot_gnd": [_person(i, random.Random(i))["gnd"] for i in range(hot_n)],
        "pages": len(pages),
        "authority_pages": authority,
        "recrawl_pages": recrawls,
        "noise_pages": n_noise,
    }
    tables = {
        "pages": pages,
        "id_to_qid": id_to_qid,
        "viaf_lookup": viaf_lookup,
        "valid_gnd_ids": valid_gnd,
    }
    return tables, expected


def write_pipeline_inputs(spec: dict, seed: int, out_dir: str) -> dict:
    from pyspark.sql.pandas.types import to_arrow_schema

    from auth2wd_spark import schemas

    tables, expected = pipeline_corpus(spec, seed)
    os.makedirs(out_dir, exist_ok=True)
    spark_schemas = {
        "pages": schemas.PAGES,
        "id_to_qid": schemas.ID_TO_QID,
        "viaf_lookup": schemas.VIAF_LOOKUP,
        "valid_gnd_ids": schemas.VALID_GND_IDS,
    }
    nbytes = 0
    for name, rows in tables.items():
        nbytes += _write(out_dir, name, rows, to_arrow_schema(spark_schemas[name]))
    n_pages = expected["pages"]
    props = {
        "pages": n_pages,
        "bytes": nbytes,
        "text_bytes": sum(len(p["text"]) for p in tables["pages"]),
        "noise_share": round(expected["noise_pages"] / n_pages, 4),
        "recrawl_share": round(expected["recrawl_pages"] / n_pages, 4),
        "hot_share": round(expected["hot_persons"] / expected["persons"], 4),
        "coverage": spec["coverage"],
    }
    return {"props": props, "expected": expected}


# --------------------------------------------------------------------------
# query tables

_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_P_ADJ = "blue cold hot large new old red small".split()
_P_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = "click view purchase signup error".split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def query_tables(scale: float, seed: int) -> dict[str, list[dict]]:
    """The query tables at ``scale`` (1.0 = 6000 lineitem rows)."""
    rng = random.Random(seed)
    n_cust = max(20, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(20, int(200 * scale))
    n_orders = max(50, int(1500 * scale))
    n_line = max(200, int(6000 * scale))
    n_events = max(100, int(1000 * scale))
    n_docs = max(50, int(500 * scale))
    n_vecs = max(50, int(500 * scale))
    n_users = max(5, int(15 * scale))
    d0 = datetime(1995, 1, 1)

    region = [{"r_regionkey": k, "r_name": name} for k, name in enumerate(_REGIONS)]
    nation = [{"n_nationkey": k, "n_name": f"NATION_{k}", "n_regionkey": k % 5} for k in range(25)]
    customer = [
        {
            "c_custkey": k,
            "c_name": f"Customer#{k:09d}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
            "c_mktsegment": rng.choice(_SEGMENTS),
        }
        for k in range(n_cust)
    ]
    supplier = [
        {
            "s_suppkey": k,
            "s_name": f"Supplier#{k:09d}",
            "s_nationkey": rng.randrange(25),
            "s_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
        }
        for k in range(n_supp)
    ]
    part = [
        {
            "p_partkey": k,
            "p_name": f"{rng.choice(_P_ADJ)} {rng.choice(_P_NOUN)}",
            "p_brand": f"Brand#{rng.randint(1, 25)}",
            "p_type": rng.choice(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
            "p_size": rng.randint(1, 50),
            "p_retailprice": round(900 + (k % 1000) / 10, 2),
        }
        for k in range(n_part)
    ]
    orders = [
        {
            "o_orderkey": k,
            "o_custkey": rng.randrange(n_cust),
            "o_orderstatus": rng.choice("FOP"),
            "o_totalprice": round(rng.uniform(1000, 500000), 2),
            "o_orderdate": d0 + timedelta(days=rng.randrange(2404)),
            "o_orderpriority": rng.choice(_PRIORITIES),
        }
        for k in range(n_orders)
    ]
    lineitem = []
    line_no: dict[int, int] = {}
    for _ in range(n_line):
        ok = rng.randrange(n_orders)
        while line_no.get(ok, 0) == 7:  # at most 7 lines per order
            ok = rng.randrange(n_orders)
        ln = line_no[ok] = line_no.get(ok, 0) + 1
        qty = float(rng.randint(1, 50))
        lineitem.append(
            {
                "l_orderkey": ok,
                "l_partkey": rng.randrange(n_part),
                "l_suppkey": rng.randrange(n_supp),
                "l_linenumber": ln,
                "l_quantity": qty,
                "l_extendedprice": round(qty * rng.uniform(900, 2100), 2),
                "l_discount": rng.randint(0, 10) / 100,
                "l_tax": rng.randint(0, 8) / 100,
                "l_returnflag": rng.choice("ANR"),
                "l_linestatus": rng.choice("FO"),
                "l_shipdate": d0 + timedelta(days=1 + rng.randrange(2499)),
            }
        )
    t0 = datetime(2024, 1, 1)
    events = []
    for k in range(n_events):
        events.append(
            {
                "event_id": k,
                "ts": t0 + timedelta(microseconds=rng.randrange(30 * 86400 * 10**6)),
                "user_id": rng.randrange(n_users),
                "event_type": rng.choice(_EVENT_TYPES),
                "value": round(rng.uniform(0.01, 500), 2),
                "props": json.dumps({"k": rng.randrange(100)}),
            }
        )
    documents = []
    for k in range(n_docs):
        words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(8, 90))]
        if k % 10 == 0 and documents:
            # near-duplicate: a prefix of an earlier document plus a tail
            src = rng.choice(documents)["text"].split()
            words = src[: max(4, len(src) * 2 // 3)] + words[:6]
        text = " ".join(words) + " "
        documents.append(
            {
                "doc_id": k,
                "text": text,
                "lang": rng.choice(_LANGS),
                "source": f"src{k % 20}",
                "n_chars": len(text),
            }
        )
    centroids = [[rng.gauss(0, 0.02) for _ in range(64)] for _ in range(10)]
    embeddings = []
    for k in range(n_vecs):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.125) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        embeddings.append({"vec_id": k, "embedding": [x / norm for x in v], "label": label})
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def _query_schemas():
    import pyarrow as pa

    ts = pa.timestamp("us")
    return {
        "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
        "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
        "customer": pa.schema(
            [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
             ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]
        ),
        "supplier": pa.schema(
            [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
        ),
        "part": pa.schema(
            [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())]
        ),
        "orders": pa.schema(
            [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
             ("o_totalprice", pa.float64()), ("o_orderdate", ts), ("o_orderpriority", pa.string())]
        ),
        "lineitem": pa.schema(
            [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
             ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
             ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
             ("l_linestatus", pa.string()), ("l_shipdate", ts)]
        ),
        "events": pa.schema(
            [("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()), ("event_type", pa.string()),
             ("value", pa.float64()), ("props", pa.string())]
        ),
        "documents": pa.schema(
            [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string()),
             ("n_chars", pa.int64())]
        ),
        "embeddings": pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
        ),
    }


def write_query_inputs(spec: dict, seed: int, out_dir: str) -> dict:
    tables = query_tables(spec["scale"], seed)
    os.makedirs(out_dir, exist_ok=True)
    schemas = _query_schemas()
    nbytes = sum(_write(out_dir, name, rows, schemas[name]) for name, rows in tables.items())
    props = {"rows": {name: len(rows) for name, rows in tables.items()}, "bytes": nbytes}
    return {"props": props, "expected": {}}
